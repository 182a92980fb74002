package graft.tools

import java.nio.file.{Files, Paths}
import java.time.LocalDate

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Bench, Session, SparkEntry, Tables}
import graft.dedup.DedupOps
import graft.similarity.SimilarityOps

/** Parameter-space differential fuzzer vs the DuckDB oracle.
  *
  * The board (`SparkEntry.queries`/`oracleSql`) pins each operator at ONE
  * parameter point; the r8 adversarial sweep showed latent defects live at
  * parameter boundaries (τ·sz integral, prefix-length ±1, gate seams).
  * This main draws N random configurations across the oracle-twinned
  * operator families, runs the Spark side, and emits the driver-compatible
  * layout (`<out>/<name>` parquet + `<out>/oracle_sql.json`) so
  * `tools/local_check.py` hash-compares every configuration exactly the way
  * the driver's correctness gate does. The paired oracle SQL comes from the
  * SAME parameterized builders the board uses (`SparkEntry.*OracleGen`,
  * `tpch.TpchGen`) — one definition, no drift.
  *
  * r10 growth: the 22 TPC-H board queries ride three families
  * (tpch_a/b/c) drawing the spec's public substitution parameters, five
  * analytic families (scd2 / attribution / funnel / asof / pagerank)
  * ride newly parameterized shared gens, and the orders / customer /
  * supplier corpora joined lineitem / part / documents / events /
  * embeddings in the crafted-row perturbation pool — 39 families total.
  *
  * Usage: runMain graft.tools.Fuzz <sfDir> <outDir> <nConfigs> <seed>
  *        [families]   (comma-separated subset, default all)
  *
  * Determinism: every parameter draw comes from ONE seeded Random, consumed
  * in a fixed order per case, so (seed, n, families) reproduces the sweep
  * exactly; the manifest records each case's parameters for single-case
  * replay.
  */
object Fuzz {

  final case class FuzzCase(name: String, family: String, params: String,
                            run: (SparkSession, String) => DataFrame,
                            sql: String)

  // ---- parameter draws -----------------------------------------------

  private def tauGrid(r: Random, lo: Int = 10, hi: Int = 19): Double =
    (lo + r.nextInt(hi - lo + 1)) / 20.0 // 0.05 grid: exact decimal text

  private def sliceRel(m: Int, rem: Int): String =
    if (m <= 1) "documents"
    else s"(SELECT * FROM documents WHERE doc_id % $m = $rem)"

  // ---- corpus perturbation -------------------------------------------
  // Crafted degenerate docs injected on BOTH sides (drawn per case):
  // null text, empty, whitespace-only, single char, and a multi-byte
  // unicode near-dup pair (é/ö two-byte, CJK three-byte, emoji four-byte
  // — any code-unit-vs-code-point disagreement between the engines'
  // substr/len shows up as a pair/census mismatch). The operators claim
  // totality over these shapes (the r8 hardening sweep); perturbation
  // makes every fuzzed configuration re-prove it against DuckDB.

  private val craftedDocs: Seq[(Long, String, String, String, Long)] = Seq(
    (900001L, null.asInstanceOf[String], "en", "srcX", 0L),
    (900002L, "", "en", "srcX", 0L),
    (900003L, "   ", "zz", "srcX", 3L),
    (900004L, "a", "en", "srcY", 1L),
    (900005L, "héllo wörld 你好 🌍 héllo wörld 你好 🌍 once more", "zh",
     "srcY", 40L),
    (900006L, "héllo wörld 你好 🌍 héllo wörld 你好 🌍 once again", "zh",
     "srcY", 40L))

  private def craftedValuesSql: String =
    craftedDocs.map { case (id, text, lang, src, nc) =>
      val t = Option(text).map(x => "'" + x.replace("'", "''") + "'")
        .getOrElse("CAST(NULL AS VARCHAR)")
      s"($id, $t, '$lang', '$src', $nc)"
    }.mkString(", ")

  /** The documents frame, optionally with the crafted rows unioned in. */
  private def docsOf(s: SparkSession, dir: String,
                     perturb: Boolean): DataFrame = {
    val base = Tables.load(s, dir, "documents")
    if (!perturb) base
    else {
      import s.implicits._
      base.unionByName(
        craftedDocs.toDF("doc_id", "text", "lang", "source", "n_chars"))
    }
  }

  /** Retarget every table REFERENCE of `table` (`FROM table` /
    * `JOIN table`, any case, any whitespace) to `ptable`. Scoped to
    * the FROM/JOIN positions — a whole-token replace once renamed an
    * output ALIAS (n_events -> n_pevents in the events twin) and
    * failed the schema compare — and word-bounded, so a prefixed
    * identifier (`FROM documents_x`, a CTE) is never mangled and a
    * lowercase `from` is never silently skipped (r9 advisor catch:
    * the plain substring replace had both holes).
    */
  private def retarget(sql: String, table: String,
                       ptable: String): String = {
    val out =
      sql.replaceAll(s"(?i)(\\b(?:FROM|JOIN)\\s+)$table\\b", "$1" + ptable)
    // Self-check (r10 advisor catch): a comma FROM-list
    // (`FROM a, b, c`) puts table references where no FROM/JOIN token
    // precedes them, so the anchored rewrite above silently misses
    // them and a "perturbed" config keeps reading the BASE table —
    // the oracle twin then tests nothing. Any surviving whole-word
    // occurrence of the base name is a generator bug; fail loudly
    // rather than record a vacuous pass. (Runs before the CTE is
    // prepended, so the CTE's own legitimate base read is exempt.)
    require(s"(?i)\\b$table\\b".r.findFirstIn(out).isEmpty,
      s"retarget: '$table' still referenced after rewrite " +
        s"(comma FROM-list or alias?) in:\n$out")
    out
  }

  /** Prepend a CTE to a (possibly already-WITH) statement. */
  private def withCte(body: String, cte: String): String =
    if (body.startsWith("WITH RECURSIVE "))
      body.replaceFirst("WITH RECURSIVE ", s"WITH RECURSIVE $cte,\n")
    else if (body.startsWith("WITH "))
      body.replaceFirst("WITH ", s"WITH $cte,\n")
    else s"WITH $cte\n" + body

  /** Rewrite a generated oracle to read the perturbed corpus: every
    * `documents` table reference retargets to a `pdocs` CTE = base
    * UNION ALL crafted VALUES.
    */
  private def wrapSql(sql: String, perturb: Boolean): String =
    if (!perturb) sql
    else {
      val cte = "pdocs AS (SELECT * FROM documents UNION ALL\n" +
        s"  SELECT * FROM (VALUES $craftedValuesSql)\n" +
        "    v(doc_id, text, lang, source, n_chars))"
      withCte(retarget(sql, "documents", "pdocs"), cte)
    }

  // Crafted degenerate EVENTS for the time families: null ts / user /
  // value / type (every oracle guard runs against its engine twin), an
  // equal-microsecond same-user pair (tie-break and RANGE-frame seams),
  // and a negative value. Timestamps sit inside the fixture's Jan-2024
  // span so trailing windows and day censuses include them.
  private val T0 = "2024-01-10 12:00:00.123456"
  private val T1 = "2024-01-15 08:30:00.500000"
  private val T2 = "2024-01-20 22:45:10.000001"
  private val craftedEvents
      : Seq[(Long, String, java.lang.Long, String, java.lang.Double,
             String)] = Seq(
    (9000001L, null.asInstanceOf[String], 7L, "click", 5.0, "{}"),
    (9000002L, T0, null.asInstanceOf[java.lang.Long], "click", 5.0, "{}"),
    (9000003L, T0, 7L, "click", null.asInstanceOf[java.lang.Double], "{}"),
    (9000004L, T1, 8L, "purchase", 10.0, "{}"),
    (9000005L, T1, 8L, "click", 20.0, "{}"),
    (9000006L, T2, 8L, "view", -3.5, "{}"),
    (9000007L, T2, 9L, null.asInstanceOf[String], 2.0, "{}"))

  private def craftedEventsSql: String =
    craftedEvents.map { case (id, ts, uid, typ, v, props) =>
      val tsS = Option(ts).map(t => s"TIMESTAMP '$t'")
        .getOrElse("CAST(NULL AS TIMESTAMP)")
      val uidS = Option(uid).map(_.toString)
        .getOrElse("CAST(NULL AS BIGINT)")
      val typS = Option(typ).map(t => s"'$t'")
        .getOrElse("CAST(NULL AS VARCHAR)")
      val vS = Option(v).map(_.toString)
        .getOrElse("CAST(NULL AS DOUBLE)")
      s"($id, $tsS, $uidS, $typS, $vS, '$props')"
    }.mkString(", ")

  private def eventsOf(s: SparkSession, dir: String,
                       perturb: Boolean): DataFrame = {
    val base = Tables.load(s, dir, "events")
    if (!perturb) base
    else {
      import s.implicits._
      base.unionByName(
        craftedEvents.toDF("event_id", "ts", "user_id", "event_type",
                           "value", "props")
          .withColumn("ts", col("ts").cast("timestamp")))
    }
  }

  /** Retarget an events-reading oracle to the perturbed stream (table
    * references only — see wrapSql).
    */
  private def wrapEventsSql(sql: String, perturb: Boolean): String =
    if (!perturb) sql
    else withCte(retarget(sql, "events", "pevents"),
      "pevents AS (SELECT * FROM events UNION ALL\n" +
        s"  SELECT * FROM (VALUES $craftedEventsSql)\n" +
        "    v(event_id, ts, user_id, event_type, value, props))")

  // Crafted degenerate LINEITEM rows for the top-k / agg families:
  // null quantity, null extendedprice (the top-k ORDER column — Spark
  // desc and DuckDB both rank nulls last; the typed Aggregator path
  // needed the nullable-score form), null returnflag (null group key),
  // negatives, and a near-2^53 magnitude price.
  private val craftedLineitem
      : Seq[(Long, Long, Long, Int, java.lang.Double, java.lang.Double,
             Double, Double, String, String, String)] = Seq(
    (9000001L, 1L, 1L, 1, null.asInstanceOf[java.lang.Double], 50.5,
     0.0, 0.0, "A", "F", "2024-01-15 00:00:00"),
    (9000002L, 2L, 2L, 2, 10.0, null.asInstanceOf[java.lang.Double],
     0.1, 0.1, "R", "O", "2024-01-16 00:00:00"),
    (9000003L, 3L, 3L, 3, -5.0, -100.25, 0.0, 0.0,
     null.asInstanceOf[String], "F", "2024-01-17 00:00:00"),
    (9000004L, 4L, 4L, 4, 10.0, 9.9e13, 0.05, 0.02, "N", "O",
     "2024-01-18 00:00:00"))

  private def craftedLineitemSql: String =
    craftedLineitem.map { case (ok, pk, sk, ln, q, ep, d, t, rf, ls, sd) =>
      def dbl(v: java.lang.Double) =
        Option(v).map(_.toString).getOrElse("CAST(NULL AS DOUBLE)")
      def str(v: String) =
        Option(v).map(x => s"'$x'").getOrElse("CAST(NULL AS VARCHAR)")
      s"($ok, $pk, $sk, $ln, ${dbl(q)}, ${dbl(ep)}, $d, $t, " +
        s"${str(rf)}, ${str(ls)}, TIMESTAMP '$sd')"
    }.mkString(", ")

  private def lineitemOf(s: SparkSession, dir: String,
                         perturb: Boolean): DataFrame = {
    val base = Tables.load(s, dir, "lineitem")
    if (!perturb) base
    else {
      import s.implicits._
      base.unionByName(
        craftedLineitem.toDF("l_orderkey", "l_partkey", "l_suppkey",
                             "l_linenumber", "l_quantity",
                             "l_extendedprice", "l_discount", "l_tax",
                             "l_returnflag", "l_linestatus", "l_shipdate")
          .withColumn("l_shipdate", col("l_shipdate").cast("timestamp")))
    }
  }

  private def wrapLineitemSql(sql: String, perturb: Boolean): String =
    if (!perturb) sql
    else withCte(retarget(sql, "lineitem", "plineitem"),
      "plineitem AS (SELECT * FROM lineitem UNION ALL\n" +
        s"  SELECT * FROM (VALUES $craftedLineitemSql)\n" +
        "    v(l_orderkey, l_partkey, l_suppkey, l_linenumber, " +
        "l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag, " +
        "l_linestatus, l_shipdate))")

  // Crafted degenerate ORDERS for the TPC-H families (r9 verdict gap:
  // lineitem was the only fact corpus with crafted-row perturbation and
  // its rows alone caught the top-k NPE): null custkey (outer joins,
  // EXISTS correlation), null orderdate (date filters, datediff →
  // bucket CASE fall-through), a NONEXISTENT custkey (an orphan order —
  // referential integrity is not assumed), null priority (the IN-list
  // and <>-filter null seams), and a near-2^53-cents totalprice.
  // Interlock: craftedLineitem rides REAL part/supp keys 1..4 but its
  // own l_orderkeys are 9000001..9000004, so crafted order 9000001
  // matches craftedLineitem's l_orderkey 9000001 row (null quantity) —
  // the crafted order has a crafted lineitem shipping far in the
  // future — the Q4/Q21 lateness predicates see it on both engines.
  private val craftedOrders
      : Seq[(Long, java.lang.Long, String, java.lang.Double, String,
             String)] = Seq(
    (9000001L, null.asInstanceOf[java.lang.Long], "F",
     null.asInstanceOf[java.lang.Double], "1997-02-15 00:00:00",
     "1-URGENT"),
    (9000002L, 1L, "P", 0.0, null.asInstanceOf[String], "5-LOW"),
    (9000003L, 888888L, "O", -42.5, "1997-06-30 00:00:00",
     null.asInstanceOf[String]),
    (9000004L, 2L, "F", 99999999999.99, "1995-01-01 00:00:00", "2-HIGH"))

  private def craftedOrdersSql: String =
    craftedOrders.map { case (ok, ck, st, tp, od, pr) =>
      val ckS = Option(ck).map(_.toString)
        .getOrElse("CAST(NULL AS BIGINT)")
      val tpS = Option(tp).map(_.toString)
        .getOrElse("CAST(NULL AS DOUBLE)")
      val odS = Option(od).map(d => s"TIMESTAMP '$d'")
        .getOrElse("CAST(NULL AS TIMESTAMP)")
      val prS = Option(pr).map(p => s"'$p'")
        .getOrElse("CAST(NULL AS VARCHAR)")
      s"($ok, $ckS, '$st', $tpS, $odS, $prS)"
    }.mkString(", ")

  private def ordersOf(s: SparkSession, dir: String,
                       perturb: Boolean): DataFrame = {
    val base = Tables.load(s, dir, "orders")
    if (!perturb) base
    else {
      import s.implicits._
      base.unionByName(
        craftedOrders.toDF("o_orderkey", "o_custkey", "o_orderstatus",
                           "o_totalprice", "o_orderdate",
                           "o_orderpriority")
          .withColumn("o_orderdate", col("o_orderdate").cast("timestamp")))
    }
  }

  private def wrapOrdersSql(sql: String, perturb: Boolean): String =
    if (!perturb) sql
    else withCte(retarget(sql, "orders", "porders"),
      "porders AS (SELECT * FROM orders UNION ALL\n" +
        s"  SELECT * FROM (VALUES $craftedOrdersSql)\n" +
        "    v(o_orderkey, o_custkey, o_orderstatus, o_totalprice, " +
        "o_orderdate, o_orderpriority))")

  // Crafted degenerate CUSTOMER rows: null nationkey (dim-join drop +
  // IN-list null), null segment/name, a negative balance, and a huge
  // balance that joins a real nation — the Q22 average-cut mover. The
  // 9000001 customer has NO orders: Q13's outer-join zero bucket.
  private val craftedCustomer
      : Seq[(Long, String, java.lang.Integer, java.lang.Double,
             String)] = Seq(
    (9000001L, null.asInstanceOf[String],
     null.asInstanceOf[java.lang.Integer],
     null.asInstanceOf[java.lang.Double], "BUILDING"),
    (9000002L, "o'hara", 3, -999.99, null.asInstanceOf[String]),
    (9000003L, "cust z", 7, 9999999.99, "MACHINERY"))

  private def craftedCustomerSql: String =
    craftedCustomer.map { case (ck, nm, nk, ab, seg) =>
      val nmS = Option(nm).map(x => "'" + x.replace("'", "''") + "'")
        .getOrElse("CAST(NULL AS VARCHAR)")
      val nkS = Option(nk).map(_.toString)
        .getOrElse("CAST(NULL AS INTEGER)")
      val abS = Option(ab).map(_.toString)
        .getOrElse("CAST(NULL AS DOUBLE)")
      val segS = Option(seg).map(x => s"'$x'")
        .getOrElse("CAST(NULL AS VARCHAR)")
      s"($ck, $nmS, $nkS, $abS, $segS)"
    }.mkString(", ")

  private def customerOf(s: SparkSession, dir: String,
                         perturb: Boolean): DataFrame = {
    val base = Tables.load(s, dir, "customer")
    if (!perturb) base
    else {
      import s.implicits._
      base.unionByName(
        craftedCustomer.toDF("c_custkey", "c_name", "c_nationkey",
                             "c_acctbal", "c_mktsegment"))
    }
  }

  private def wrapCustomerSql(sql: String, perturb: Boolean): String =
    if (!perturb) sql
    else withCte(retarget(sql, "customer", "pcustomer"),
      "pcustomer AS (SELECT * FROM customer UNION ALL\n" +
        s"  SELECT * FROM (VALUES $craftedCustomerSql)\n" +
        "    v(c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment))")

  // Crafted degenerate SUPPLIER rows: all-null dims, and the Q16
  // balance-cut boundary pair (-0.01 strictly below zero, 0.00 exactly
  // at it — `< 0` must exclude the latter on both engines).
  private val craftedSupplier
      : Seq[(Long, String, java.lang.Integer, java.lang.Double)] = Seq(
    (9000001L, null.asInstanceOf[String],
     null.asInstanceOf[java.lang.Integer],
     null.asInstanceOf[java.lang.Double]),
    (9000002L, "supp neg", 4, -0.01),
    (9000003L, "supp zero", 4, 0.0))

  private def craftedSupplierSql: String =
    craftedSupplier.map { case (sk, nm, nk, ab) =>
      val nmS = Option(nm).map(x => s"'$x'")
        .getOrElse("CAST(NULL AS VARCHAR)")
      val nkS = Option(nk).map(_.toString)
        .getOrElse("CAST(NULL AS INTEGER)")
      val abS = Option(ab).map(_.toString)
        .getOrElse("CAST(NULL AS DOUBLE)")
      s"($sk, $nmS, $nkS, $abS)"
    }.mkString(", ")

  private def supplierOf(s: SparkSession, dir: String,
                         perturb: Boolean): DataFrame = {
    val base = Tables.load(s, dir, "supplier")
    if (!perturb) base
    else {
      import s.implicits._
      base.unionByName(
        craftedSupplier.toDF("s_suppkey", "s_name", "s_nationkey",
                             "s_acctbal"))
    }
  }

  private def wrapSupplierSql(sql: String, perturb: Boolean): String =
    if (!perturb) sql
    else withCte(retarget(sql, "supplier", "psupplier"),
      "psupplier AS (SELECT * FROM supplier UNION ALL\n" +
        s"  SELECT * FROM (VALUES $craftedSupplierSql)\n" +
        "    v(s_suppkey, s_name, s_nationkey, s_acctbal))")

  // Crafted degenerate PART rows for the fuzzy/edit families: null and
  // empty names, an embedded single-quote near-dup pair (SQL escaping
  // through the VALUES twin), a single-char name and its exact
  // duplicate (the DISTINCT-name domain). ASCII ONLY by design:
  // DuckDB's levenshtein/jaro_winkler are BYTE-based on multi-byte
  // text while the engine (and Spark's levenshtein) count code points
  // — the board corpus is ASCII so the oracles are exact there; the
  // divergence is an oracle-portability limit, not an engine seam
  // (documented in PLANS, pinned by the ASCII-only draw here).
  private val craftedParts
      : Seq[(Long, String, String, String, Int, Double)] = Seq(
    (9000001L, null.asInstanceOf[String], "Brand#9", "crafted", 1, 1.0),
    (9000002L, "", "Brand#9", "crafted", 1, 1.0),
    (9000003L, "o'brien valve", "Brand#9", "crafted", 1, 1.0),
    (9000004L, "o'brien valvf", "Brand#9", "crafted", 1, 1.0),
    (9000005L, "x", "Brand#9", "crafted", 1, 1.0),
    (9000006L, "x", "Brand#9", "crafted", 1, 1.0))

  private def craftedPartsSql: String =
    craftedParts.map { case (pk, name, brand, typ, sz, rp) =>
      val n = Option(name).map(x => "'" + x.replace("'", "''") + "'")
        .getOrElse("CAST(NULL AS VARCHAR)")
      s"($pk, $n, '$brand', '$typ', $sz, $rp)"
    }.mkString(", ")

  private def partOf(s: SparkSession, dir: String,
                     perturb: Boolean): DataFrame = {
    val base = Tables.load(s, dir, "part")
    if (!perturb) base
    else {
      import s.implicits._
      base.unionByName(
        craftedParts.toDF("p_partkey", "p_name", "p_brand", "p_type",
                          "p_size", "p_retailprice"))
    }
  }

  private def wrapPartSql(sql: String, perturb: Boolean): String =
    if (!perturb) sql
    else withCte(retarget(sql, "part", "ppart"),
      "ppart AS (SELECT * FROM part UNION ALL\n" +
        s"  SELECT * FROM (VALUES $craftedPartsSql)\n" +
        "    v(p_partkey, p_name, p_brand, p_type, p_size, " +
        "p_retailprice))")

  // Crafted degenerate EMBEDDINGS for the cosine families: null, empty,
  // zero-norm and dim-mismatched vectors (the engine's cosine is NULL
  // for all four — excluded from neighbors/pairs/flags; the SQL twins
  // carry the matching explicit validity conditions, because an
  // index-overlap dot would otherwise score a dim-mismatched pair),
  // plus a PARALLEL same-dim pair (cos exactly 1.0 — the tie seam).
  private def craftedEmbeddings(dim: Int)
      : Seq[(Long, Array[Float], Int)] = Seq(
    (9000001L, null.asInstanceOf[Array[Float]], 5),
    (9000002L, Array.empty[Float], 5),
    (9000003L, Array.fill(dim)(0.0f), 5),
    (9000004L, Array(1.0f, 2.0f, 3.0f), 5),
    (9000005L, Array.tabulate(dim)(j => (j % 7 + 1).toFloat), 5),
    (9000006L, Array.tabulate(dim)(j => 2.0f * (j % 7 + 1)), 6))

  private def craftedEmbSql(dim: Int): String =
    craftedEmbeddings(dim).map { case (id, v, label) =>
      val vs = Option(v).map(a =>
        if (a.isEmpty) "CAST([] AS FLOAT[])"
        else a.map(x => f"$x%.1f").mkString("CAST([", ", ", "] AS FLOAT[])"))
        .getOrElse("CAST(NULL AS FLOAT[])")
      s"($id, $vs, $label)"
    }.mkString(", ")

  private def embOf(s: SparkSession, dir: String,
                    perturb: Boolean): DataFrame = {
    val base = Tables.load(s, dir, "embeddings")
    if (!perturb) base
    else {
      import s.implicits._
      base.unionByName(
        craftedEmbeddings(64).toDF("vec_id", "embedding", "label"))
    }
  }

  private def wrapEmbSql(sql: String, perturb: Boolean): String =
    if (!perturb) sql
    else withCte(retarget(sql, "embeddings", "pembeddings"),
      "pembeddings AS (SELECT * FROM embeddings UNION ALL\n" +
        s"  SELECT * FROM (VALUES ${craftedEmbSql(64)})\n" +
        "    v(vec_id, embedding, label))")

  // ---- families ------------------------------------------------------

  /** n-gram Jaccard self-join: sweeps shingle width, threshold, AND the
    * fixture slice (doc_id mod class) — the prefix/positional/indexing
    * filters' ±1 bounds all move with (n, τ, corpus).
    */
  private def genJaccard(r: Random, i: Int): FuzzCase = {
    val n = 8 + r.nextInt(9)            // 8..16
    val tau = tauGrid(r)                // 0.50..0.95
    val m = 1 + r.nextInt(3)            // slice modulus 1..3
    val rem = r.nextInt(m)
    val pert = r.nextInt(100) < 35
    FuzzCase(f"fz_jaccard_$i%03d", "jaccard",
      s"n=$n tau=$tau m=$m r=$rem pert=$pert",
      (s, dir) => {
        val docs0 = docsOf(s, dir, pert)
        val docs = if (m > 1) docs0.filter(pmod(col("doc_id"), lit(m)) === rem)
                   else docs0
        DedupOps.ngramJaccardPairs(docs, "doc_id", "text", n, tau)
      },
      wrapSql(SparkEntry.jaccardPairsCteGen(n, tau, sliceRel(m, rem)) +
        "\nSELECT id_a, id_b, jaccard FROM pairs", pert))
  }

  /** R-S containment join: snippet geometry (start/len/stride) and τ all
    * randomized; containment denominator is the snippet's gram count.
    */
  private def genContainment(r: Random, i: Int): FuzzCase = {
    val n = 10 + r.nextInt(5)           // 10..14
    val tau = tauGrid(r)                // 0.50..0.95
    val mod = 5 + r.nextInt(5)          // 5..9
    val start = 21 + r.nextInt(60)      // 21..80
    val slen = 80 + r.nextInt(121)      // 80..200
    val minTextLen = start + slen + 49
    val pert = r.nextInt(100) < 35
    FuzzCase(f"fz_contain_$i%03d", "containment",
      s"n=$n tau=$tau mod=$mod start=$start slen=$slen pert=$pert",
      (s, dir) => {
        val docs = docsOf(s, dir, pert)
        val snips = docs
          .filter(pmod(col("doc_id"), lit(mod)) === 0 &&
                  length(col("text")) >= minTextLen)
          .select((col("doc_id") + 100000).as("doc_id"),
                  substring(col("text"), start, slen).as("text"))
        DedupOps.containmentJoin(
          DedupOps.hashedSets(snips, "doc_id", "text", n),
          DedupOps.hashedSets(docs, "doc_id", "text", n), tau)
      },
      wrapSql(SparkEntry.containmentOracleGen(n, tau, mod, start, slen,
                                              minTextLen), pert))
  }

  /** Top-k per group over lineitem: k, group column and order column all
    * drawn; tie-break fixed at (l_orderkey, l_linenumber).
    */
  private def genTopk(r: Random, i: Int): FuzzCase = {
    val k = 1 + r.nextInt(8)
    val grp = Seq("l_returnflag", "l_linestatus")(r.nextInt(2))
    val ord = Seq("l_extendedprice", "l_quantity", "l_discount")(r.nextInt(3))
    val pert = r.nextInt(100) < 35
    FuzzCase(f"fz_topk_$i%03d", "topk", s"k=$k grp=$grp ord=$ord pert=$pert",
      (s, dir) => {
        val w = Window.partitionBy(col(grp))
          .orderBy(col(ord).desc, col("l_orderkey").asc,
                   col("l_linenumber").asc)
        lineitemOf(s, dir, pert)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= k)
          .select(col(grp), col("rn"), col("l_orderkey"),
                  col("l_linenumber"), col(ord))
      },
      wrapLineitemSql(SparkEntry.topkOracleGen(k, grp, ord), pert))
  }

  /** Brute-force cosine top-k: probe id and k drawn. */
  private def genCosTopk(r: Random, i: Int): FuzzCase = {
    val probe = r.nextInt(500).toLong
    val k = 3 + r.nextInt(23)           // 3..25
    val pert = r.nextInt(100) < 35
    FuzzCase(f"fz_costopk_$i%03d", "cos_topk", s"probe=$probe k=$k pert=$pert",
      (s, dir) =>
        SimilarityOps.topKNeighbors(embOf(s, dir, pert),
                                    "vec_id", "embedding", probe, k),
      wrapEmbSql(SparkEntry.cosineTopkOracleGen(probe, k), pert))
  }

  /** All-pairs cosine ≥ τ. */
  private def genCosPairs(r: Random, i: Int): FuzzCase = {
    val tau = tauGrid(r, 6, 16)         // 0.30..0.80
    val pert = r.nextInt(100) < 35
    FuzzCase(f"fz_cospairs_$i%03d", "cos_pairs", s"tau=$tau pert=$pert",
      (s, dir) =>
        SimilarityOps.cosinePairs(embOf(s, dir, pert),
                                  "vec_id", "embedding", tau),
      wrapEmbSql(SparkEntry.cosinePairsOracleGen(tau), pert))
  }

  /** Doc-level decontamination: gram width, benchmark source, and the
    * minShared floor drawn.
    */
  private def genDecon(r: Random, i: Int): FuzzCase = {
    val n = 20 + r.nextInt(21)          // 20..40
    val src = s"src${r.nextInt(20)}"
    val minShared = 1L + r.nextInt(3)   // 1..3
    val pert = r.nextInt(100) < 35
    FuzzCase(f"fz_decon_$i%03d", "decon",
      s"n=$n src=$src min=$minShared pert=$pert",
      (s, dir) => {
        val docs = docsOf(s, dir, pert)
        DedupOps.contamination(docs.filter(col("source") =!= src),
                               docs.filter(col("source") === src),
                               "doc_id", "text", n, minShared)
      },
      wrapSql(SparkEntry.decontaminateOracleGen(n, src, minShared), pert))
  }

  /** Cross-document maximal shared spans: anchor gram width and span
    * floor drawn (the gaps-and-islands diagonal logic must hold for all).
    */
  private def genSpans(r: Random, i: Int): FuzzCase = {
    val n = 15 + r.nextInt(16)          // 15..30
    val minLen = n + 15 + r.nextInt(41) // n+15..n+55
    val pert = r.nextInt(100) < 35
    FuzzCase(f"fz_spans_$i%03d", "spans", s"n=$n minLen=$minLen pert=$pert",
      (s, dir) =>
        DedupOps.sharedSpans(docsOf(s, dir, pert),
                             "doc_id", "text", n, minLen),
      wrapSql(SparkEntry.substringOracleGen(n, minLen), pert))
  }

  /** Benchmark-vs-corpus span decontamination. */
  private def genDeconSpans(r: Random, i: Int): FuzzCase = {
    val n = 20 + r.nextInt(16)          // 20..35
    val minLen = n + 20 + r.nextInt(41) // n+20..n+60
    val src = s"src${r.nextInt(20)}"
    val pert = r.nextInt(100) < 35
    FuzzCase(f"fz_dspans_$i%03d", "decon_spans",
      s"n=$n minLen=$minLen src=$src pert=$pert",
      (s, dir) => {
        val docs = docsOf(s, dir, pert)
        DedupOps.sharedSpansBetween(docs.filter(col("source") =!= src),
                                    docs.filter(col("source") === src),
                                    "doc_id", "text", n, minLen)
      },
      wrapSql(SparkEntry.deconSpansOracleGen(n, minLen, src), pert))
  }

  /** Line-granular cross-doc dedup: duplication floor and blank-exemption
    * width drawn.
    */
  private def genLineDedup(r: Random, i: Int): FuzzCase = {
    val minDocs = 2 + r.nextInt(3)      // 2..4
    val minChars = 1 + r.nextInt(3)     // 1..3
    val pert = r.nextInt(100) < 35
    FuzzCase(f"fz_lined_$i%03d", "line_dedup",
      s"minDocs=$minDocs minChars=$minChars pert=$pert",
      (s, dir) =>
        DedupOps.lineDedup(docsOf(s, dir, pert),
                           "doc_id", "text", minDocs, minChars),
      wrapSql(SparkEntry.lineDedupOracleGen(minDocs, minChars), pert))
  }

  /** Keyed exact dedup over a random key subset. */
  private def genDedupKeyed(r: Random, i: Int): FuzzCase = {
    val all = Seq("lang", "source")
    val keys = r.shuffle(all).take(1 + r.nextInt(all.size))
    val pert = r.nextInt(100) < 35
    FuzzCase(f"fz_keyed_$i%03d", "dedup_keyed",
      s"keys=${keys.mkString("+")} pert=$pert",
      (s, dir) =>
        DedupOps.dedupKeyed(docsOf(s, dir, pert), keys, "doc_id"),
      wrapSql(s"""SELECT ${keys.mkString(", ")}, min(doc_id) AS doc_id
         |FROM documents GROUP BY ${keys.mkString(", ")}""".stripMargin,
        pert))
  }

  /** Hour-range predicate with random (possibly degenerate) bounds —
    * BETWEEN boundary semantics.
    */
  private def genHour(r: Random, i: Int): FuzzCase = {
    val lo = r.nextInt(24)
    val hi = lo + r.nextInt(24 - lo)
    val pert = r.nextInt(100) < 35
    FuzzCase(f"fz_hour_$i%03d", "hour", s"lo=$lo hi=$hi pert=$pert",
      (s, dir) =>
        eventsOf(s, dir, pert)
          .filter(hour(col("ts")).between(lo, hi))
          .agg(count(lit(1)).as("n_rows")),
      wrapEventsSql(s"""SELECT count(*) AS n_rows FROM events
         |WHERE date_part('hour', ts) BETWEEN $lo AND $hi""".stripMargin,
        pert))
  }

  /** k-center greedy coreset: k drawn; the unrolled CTE chain's length
    * follows.
    */
  private def genKcenter(r: Random, i: Int): FuzzCase = {
    val k = 2 + r.nextInt(9)            // 2..10
    FuzzCase(f"fz_kcenter_$i%03d", "kcenter", s"k=$k",
      (s, dir) =>
        SimilarityOps.kCenterSelect(Tables.load(s, dir, "embeddings"),
                                    "vec_id", "embedding", k),
      SparkEntry.kcenterOracleGen(k))
  }

  /** MMR greedy re-rank: (probe, λ, pool, k) all drawn; λ on the 0.05
    * grid so the oracle's `$lam*rel - ${1-lam}*maxs` text parses to the
    * exact doubles the engine computes.
    */
  private def genMmr(r: Random, i: Int): FuzzCase = {
    val probe = r.nextInt(200).toLong
    val lam = tauGrid(r, 6, 16)         // 0.30..0.80
    val k = 4 + r.nextInt(9)            // 4..12
    val n = k + 5 + r.nextInt(16)       // k+5..k+20
    FuzzCase(f"fz_mmr_$i%03d", "mmr", s"probe=$probe lam=$lam n=$n k=$k",
      (s, dir) =>
        SimilarityOps.mmrRerank(Tables.load(s, dir, "embeddings"),
                                "vec_id", "embedding", probe, lam, n, k),
      SparkEntry.mmrOracleGen(probe, lam, n, k))
  }

  /** Top-k per group through the bounded-buffer Aggregator — the SAME
    * contract as the window path (genTopk) via a different physical
    * strategy, so one oracle serves both; k and group drawn.
    */
  private def genTopkAgg(r: Random, i: Int): FuzzCase = {
    val k = 1 + r.nextInt(8)
    val grp = Seq("l_returnflag", "l_linestatus")(r.nextInt(2))
    val pert = r.nextInt(100) < 35
    FuzzCase(f"fz_topkagg_$i%03d", "topk_agg", s"k=$k grp=$grp pert=$pert",
      (s, dir) => {
        import s.implicits._
        val ds = lineitemOf(s, dir, pert)
          .select(col(grp), col("l_extendedprice"),
                  col("l_orderkey"), col("l_linenumber"))
          .as[(String, Option[Double], Long, Int)]
        ds.groupByKey(_._1)
          .mapValues { case (_, price, okey, ln) => (price, okey, ln) }
          .agg(graft.ops.TopK.topKTriplesOpt(k).toColumn.name("top"))
          .flatMap { case (flag, top) =>
            top.zipWithIndex.map { case ((price, okey, ln), j) =>
              (flag, j + 1, okey, ln, price)
            }
          }
          .toDF(grp, "rn", "l_orderkey", "l_linenumber",
                "l_extendedprice")
      },
      wrapLineitemSql(SparkEntry.topkOracleGen(k, grp, "l_extendedprice"),
                      pert))
  }

  /** Blocked Jaro-Winkler entity resolution: τ drawn (the native
    * expression must stay DuckDB-identical at every threshold).
    */
  private def genFuzzy(r: Random, i: Int): FuzzCase = {
    val tau = tauGrid(r, 14, 19)        // 0.70..0.95
    val pert = r.nextInt(100) < 35
    FuzzCase(f"fz_fuzzy_$i%03d", "fuzzy", s"tau=$tau pert=$pert",
      (s, dir) =>
        graft.ops.FuzzyMatch.fuzzyPairs(partOf(s, dir, pert),
                                        "p_name", tau),
      wrapPartSql(SparkEntry.fuzzyOracleGen(tau), pert))
  }

  /** Edit-distance join: d drawn (the 2d+1 length-key generation must
    * stay lossless at every radius).
    */
  private def genEdit(r: Random, i: Int): FuzzCase = {
    val d = 1 + r.nextInt(3)            // 1..3
    val pert = r.nextInt(100) < 35
    FuzzCase(f"fz_edit_$i%03d", "edit", s"d=$d pert=$pert",
      (s, dir) =>
        graft.ops.FuzzyMatch.editPairs(partOf(s, dir, pert),
                                       "p_name", d),
      wrapPartSql(SparkEntry.editOracleGen(d), pert))
  }

  /** Winsorization census: the (lo, hi) quantile pair drawn on the 0.05
    * grid — exact interpolated quantiles must agree at every cut.
    */
  private def genWinsorize(r: Random, i: Int): FuzzCase = {
    val lo = (1 + r.nextInt(5)) / 20.0  // 0.05..0.25
    val hi = (15 + r.nextInt(5)) / 20.0 // 0.75..0.95
    val pert = r.nextInt(100) < 35
    FuzzCase(f"fz_winsor_$i%03d", "winsorize", s"lo=$lo hi=$hi pert=$pert",
      (s, dir) =>
        graft.ops.CoreOps.winsorize(eventsOf(s, dir, pert),
                                    "value", "event_type", lo, hi)
          .groupBy(col("event_type"))
          .agg(count(col("value")).as("n_values"),
               round(min(col("value_lo")), 6).as("lo"),
               round(min(col("value_hi")), 6).as("hi"),
               sum(when(col("value") < col("value_lo"), 1L).otherwise(0L))
                 .as("n_clipped_lo"),
               sum(when(col("value") > col("value_hi"), 1L).otherwise(0L))
                 .as("n_clipped_hi"),
               round(sum(col("value_w")), 4).as("sum_w")),
      wrapEventsSql(SparkEntry.winsorizeOracleGen(lo, hi), pert))
  }

  /** Stratified sample: the per-group budget k drawn. */
  private def genStratified(r: Random, i: Int): FuzzCase = {
    val k = 3 + r.nextInt(28)           // 3..30
    val pert = r.nextInt(100) < 35
    FuzzCase(f"fz_strat_$i%03d", "stratified", s"k=$k pert=$pert",
      (s, dir) =>
        graft.text.TextOps.stratifiedSample(
          docsOf(s, dir, pert), "source", "doc_id", k)
          .select(col("source"), col("doc_id")),
      wrapSql(SparkEntry.stratifiedOracleGen(k), pert))
  }

  /** Heavy-hitter grams: (n, minDf) drawn — the CMS screen must stay
    * lossless (screen + exact verify ≡ plain group-count) at every
    * width/floor combination.
    */
  private def genHeavyGrams(r: Random, i: Int): FuzzCase = {
    val n = 8 + r.nextInt(9)            // 8..16
    val minDf = 3L + r.nextInt(18)      // 3..20
    val pert = r.nextInt(100) < 35
    FuzzCase(f"fz_heavy_$i%03d", "heavy_grams",
      s"n=$n minDf=$minDf pert=$pert",
      (s, dir) =>
        DedupOps.heavyGrams(docsOf(s, dir, pert),
                            "doc_id", "text", n, minDf, width = 1 << 17),
      wrapSql(SparkEntry.heavyGramsOracleGen(n, minDf), pert))
  }

  /** Semantic decontamination: τ drawn. */
  private def genSemDecon(r: Random, i: Int): FuzzCase = {
    val tau = tauGrid(r, 4, 12)         // 0.20..0.60
    val pert = r.nextInt(100) < 35
    FuzzCase(f"fz_semdecon_$i%03d", "sem_decon", s"tau=$tau pert=$pert",
      (s, dir) => {
        val emb = embOf(s, dir, pert)
        SimilarityOps.semanticDecontaminate(
          emb.filter(col("label") =!= 0), emb.filter(col("label") === 0),
          "vec_id", "embedding", tau)
      },
      wrapEmbSql(SparkEntry.semDeconOracleGen(tau), pert))
  }

  /** Gap sessionization: the gap drawn (the lag/cumsum boundary must
    * hold at every width).
    */
  private def genSessionize(r: Random, i: Int): FuzzCase = {
    val gap = 5 + r.nextInt(116)        // 5..120 minutes
    val pert = r.nextInt(100) < 35
    FuzzCase(f"fz_sess_$i%03d", "sessionize", s"gap=${gap}m pert=$pert",
      (s, dir) =>
        graft.streaming.Sessionize.batch(eventsOf(s, dir, pert), gap),
      wrapEventsSql(SparkEntry.sessionizeOracleGen(gap), pert))
  }

  /** Interval self-join: δ drawn — the δ-bin equi-key decomposition
    * must stay lossless (each pair meets in exactly one bin key) at
    * every width.
    */
  private def genIntervalJoin(r: Random, i: Int): FuzzCase = {
    val delta = 200L + r.nextInt(4801)  // 200..5000 ms
    val pert = r.nextInt(100) < 35
    FuzzCase(f"fz_ivj_$i%03d", "interval_join", s"delta=${delta}ms pert=$pert",
      (s, dir) =>
        graft.streaming.StreamingOps.intervalJoin(
          eventsOf(s, dir, pert), "event_id", "ts", delta),
      wrapEventsSql(SparkEntry.intervalJoinOracleGen(delta), pert))
  }

  /** Range-join pair census: δ drawn. */
  private def genRangeJoin(r: Random, i: Int): FuzzCase = {
    val delta = 5000L + 1000L * r.nextInt(116) // 5..120 s
    val pert = r.nextInt(100) < 35
    FuzzCase(f"fz_rgj_$i%03d", "range_join", s"delta=${delta}ms pert=$pert",
      (s, dir) =>
        graft.ops.RangeJoin.pairsWithin(eventsOf(s, dir, pert),
                                        "event_id", "ts", delta)
          .agg(count(lit(1)).as("n_pairs"),
               round(avg(col("gap_ms")), 6).as("avg_gap_ms")),
      wrapEventsSql(SparkEntry.rangeJoinOracleGen(delta), pert))
  }

  /** Context-window chunking: (size, overlap) drawn — the tail-window
    * emit condition (s = 0 OR s < len − overlap) and the final short
    * chunk must agree at every geometry.
    */
  private def genChunk(r: Random, i: Int): FuzzCase = {
    val size = 20 + r.nextInt(61)       // 20..80 tokens
    val overlap = r.nextInt(size / 2 + 1)
    val pert = r.nextInt(100) < 35
    FuzzCase(f"fz_chunk_$i%03d", "chunk",
      s"size=$size overlap=$overlap pert=$pert",
      (s, dir) =>
        graft.text.TextOps.chunkDocs(docsOf(s, dir, pert),
                                     "text", size, overlap),
      wrapSql(SparkEntry.chunkDocsOracleGen(size, overlap), pert))
  }

  /** Token-budget prefix sample: (budget, seed) drawn — the global
    * prefix-sum assembly and the md5 shuffle order must agree at every
    * cut point and seed.
    */
  private def genTokenBudget(r: Random, i: Int): FuzzCase = {
    val budget = 500L * (1 + r.nextInt(60)) // 500..30000 tokens
    val seed = r.nextInt(1000).toString
    val pert = r.nextInt(100) < 35
    FuzzCase(f"fz_tokbud_$i%03d", "token_budget",
      s"budget=$budget seed=$seed pert=$pert",
      (s, dir) =>
        graft.text.TextOps.tokenBudget(docsOf(s, dir, pert), budget, seed),
      wrapSql(SparkEntry.tokenBudgetOracleGen(budget, seed), pert))
  }

  /** Trailing value-range rolling aggregate: the window width drawn. */
  private def genRolling(r: Random, i: Int): FuzzCase = {
    val hours = 1 + r.nextInt(72)
    val pert = r.nextInt(100) < 35
    FuzzCase(f"fz_roll_$i%03d", "rolling", s"hours=$hours pert=$pert",
      (s, dir) =>
        graft.ops.TimeSeries.rollingAgg(eventsOf(s, dir, pert),
                                        "event_id", "user_id", "ts",
                                        "value", hours),
      wrapEventsSql(SparkEntry.rollingAvgOracleGen(hours), pert))
  }

  /** Trailing-distinct active users: the window drawn. */
  private def genActiveUsers(r: Random, i: Int): FuzzCase = {
    val days = 2 + r.nextInt(20) // 2..21
    val pert = r.nextInt(100) < 35
    FuzzCase(f"fz_actusr_$i%03d", "active_users", s"days=$days pert=$pert",
      (s, dir) =>
        graft.ops.TimeSeries.activeUsers(eventsOf(s, dir, pert), days),
      wrapEventsSql(SparkEntry.activeUsersOracleGen(days), pert))
  }

  /** Balanced shard assignment census: (nShards, seed) drawn — the
    * token-mass boundary arithmetic at every shard count.
    */
  private def genShard(r: Random, i: Int): FuzzCase = {
    val n = 2 + r.nextInt(31) // 2..32
    val seed = r.nextInt(1000).toString
    val pert = r.nextInt(100) < 35
    FuzzCase(f"fz_shard_$i%03d", "shard", s"n=$n seed=$seed pert=$pert",
      (s, dir) =>
        graft.text.TextOps.shardAssign(docsOf(s, dir, pert), n, seed)
          .groupBy(col("shard").cast("long").as("shard"))
          .agg(count(lit(1)).as("n_docs"),
               sum(col("n_tokens")).as("n_tokens")),
      wrapSql(SparkEntry.shardCensusOracleGen(n, seed), pert))
  }

  /** Hopping-window rollup: (slide, hop-count) drawn — each row lands
    * in exactly dur/slide windows; the assignment arithmetic must agree
    * at every geometry.
    */
  private def genHopping(r: Random, i: Int): FuzzCase = {
    val slide = Seq(10, 15, 20, 30, 60)(r.nextInt(5))
    val mult = 2 + r.nextInt(3) // dur = 2..4 slides
    val dur = slide * mult
    val pert = r.nextInt(100) < 35
    FuzzCase(f"fz_hop_$i%03d", "hopping",
      s"dur=${dur}m slide=${slide}m pert=$pert",
      (s, dir) =>
        graft.streaming.StreamingOps.hoppingRollup(
          eventsOf(s, dir, pert), s"$dur minutes", s"$slide minutes"),
      wrapEventsSql(SparkEntry.hoppingOracleGen(dur, slide), pert))
  }

  /** Trailing-baseline anomaly flags: (windowDays, z) drawn. */
  private def genAnomaly(r: Random, i: Int): FuzzCase = {
    val days = 2 + r.nextInt(13)        // 2..14
    val z = (4 + r.nextInt(9)) / 2.0    // 2.0..6.0 on the 0.5 grid
    val pert = r.nextInt(100) < 35
    FuzzCase(f"fz_anom_$i%03d", "anomaly", s"days=$days z=$z pert=$pert",
      (s, dir) =>
        graft.ops.TimeSeries.anomalyFlags(eventsOf(s, dir, pert),
                                          days, z),
      wrapEventsSql(SparkEntry.anomalyOracleGen(days, z), pert))
  }

  // ---- generic group-by/agg family -----------------------------------

  private final case class TableSpec(name: String, grpCols: Seq[String],
                                     intCols: Seq[String],
                                     dblCols: Seq[String],
                                     strVals: Map[String, Seq[String]])

  private val aggTables = Seq(
    TableSpec("lineitem", Seq("l_returnflag", "l_linestatus"),
              Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"),
              Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"),
              Map("l_returnflag" -> Seq("A", "N", "R"),
                  "l_linestatus" -> Seq("F", "O"))),
    TableSpec("orders", Seq("o_orderstatus", "o_orderpriority"),
              Seq("o_orderkey", "o_custkey"), Seq("o_totalprice"), Map.empty),
    TableSpec("customer", Seq("c_mktsegment"),
              Seq("c_custkey", "c_nationkey"), Seq("c_acctbal"), Map.empty),
    TableSpec("part", Seq("p_brand", "p_type"),
              Seq("p_partkey", "p_size"), Seq("p_retailprice"), Map.empty))

  /** Random group-by/aggregate/filter over a TPC-H-ish table — a narrow
    * SQLsmith. Aggregates restricted to hash-exact-portable forms: counts,
    * int sums (CAST BIGINT on the DuckDB side — HUGEINT would arrive as
    * Decimal and fail the type-sensitive compare), min/max (exact on any
    * type), and round(avg(int), 6) (integer sums are exact doubles below
    * 2^53, so the division is bit-identical). Double SUMS are excluded:
    * their low bits depend on accumulation order.
    */
  private def genAgg(r: Random, i: Int): FuzzCase = {
    val tb = aggTables(r.nextInt(aggTables.size))
    val pert = tb.name == "lineitem" && r.nextInt(100) < 35
    val nGrp = r.nextInt(math.min(2, tb.grpCols.size) + 1) // 0..2
    val grps = r.shuffle(tb.grpCols).take(nGrp)

    // aggregate draws: (sparkCol, sqlExpr, alias)
    var aggs = Vector.empty[(Column, String)]
    def draw(): Unit = r.nextInt(5) match {
      case 0 =>
        aggs :+= (count(lit(1)).as("a_cnt"), "count(*) AS a_cnt")
      case 1 =>
        val c = tb.intCols(r.nextInt(tb.intCols.size))
        aggs :+= (sum(col(c)).as(s"a_sum_$c"),
                  s"CAST(sum($c) AS BIGINT) AS a_sum_$c")
      case 2 =>
        val c = (tb.intCols ++ tb.dblCols)(
          r.nextInt(tb.intCols.size + tb.dblCols.size))
        if (r.nextBoolean())
          aggs :+= (min(col(c)).as(s"a_min_$c"), s"min($c) AS a_min_$c")
        else
          aggs :+= (max(col(c)).as(s"a_max_$c"), s"max($c) AS a_max_$c")
      case 3 =>
        val c = tb.intCols(r.nextInt(tb.intCols.size))
        aggs :+= (countDistinct(col(c)).as(s"a_cntd_$c"),
                  s"count(DISTINCT $c) AS a_cntd_$c")
      case 4 =>
        val c = tb.intCols(r.nextInt(tb.intCols.size))
        aggs :+= (round(avg(col(c)), 6).as(s"a_avg_$c"),
                  s"round(avg($c), 6) AS a_avg_$c")
    }
    val nAgg = 1 + r.nextInt(3)
    while (aggs.size < nAgg) { draw(); aggs = aggs.distinctBy(_._2) }

    // optional filter: int mod-class or known string equality
    val filt: Option[(Column, String)] = r.nextInt(3) match {
      case 0 => None
      case 1 =>
        val c = tb.intCols(r.nextInt(tb.intCols.size))
        val k = 2 + r.nextInt(6)
        val v = r.nextInt(k)
        Some((pmod(col(c), lit(k)) === v, s"$c % $k = $v"))
      case 2 if tb.strVals.nonEmpty =>
        val (c, vals) = tb.strVals.toSeq(r.nextInt(tb.strVals.size))
        val v = vals(r.nextInt(vals.size))
        Some((col(c) === v, s"$c = '$v'"))
      case _ => None
    }

    val sqlSel =
      (grps ++ aggs.map(_._2)).mkString(", ")
    val sqlWhere = filt.map(f => s"\nWHERE ${f._2}").getOrElse("")
    val sqlGroup =
      if (grps.nonEmpty) s"\nGROUP BY ${grps.mkString(", ")}" else ""
    FuzzCase(f"fz_agg_$i%03d", "agg",
      s"tb=${tb.name} grp=${grps.mkString("+")} aggs=${aggs.size} " +
        s"filt=${filt.map(_._2).getOrElse("none")} pert=$pert",
      (s, dir) => {
        val base0 = if (pert) lineitemOf(s, dir, perturb = true)
                    else Tables.load(s, dir, tb.name)
        val base = filt.map(f => base0.filter(f._1)).getOrElse(base0)
        val cols = aggs.map(_._1)
        if (grps.nonEmpty)
          base.groupBy(grps.map(col): _*).agg(cols.head, cols.tail: _*)
        else base.agg(cols.head, cols.tail: _*)
      },
      wrapLineitemSql(s"SELECT $sqlSel\nFROM ${tb.name}$sqlWhere$sqlGroup",
                      pert))
  }

  // ---- analytic-bank families (r9 verdict gap #3) -----------------------
  // Board analytic queries previously pinned at one parameter point;
  // the oracle gens live in SparkEntry (the board rows now call them at
  // the pinned params — one definition, no drift).

  /** SCD2 history build: the tier divisor moves every change boundary. */
  private def genScd2(r: Random, i: Int): FuzzCase = {
    val d = Seq(10, 20, 25, 40, 50, 80)(r.nextInt(6))
    val pert = r.nextInt(100) < 35
    FuzzCase(f"fz_scd2_$i%03d", "scd2", s"div=$d pert=$pert",
      (s, dir) => {
        val ev = eventsOf(s, dir, pert)
          .withColumn("tier", floor(col("value") / d).cast("int"))
        graft.ops.Scd2
          .scd2(ev, Seq("user_id"), Seq("tier"), "ts", "event_id")
          .select(col("user_id"), col("tier"),
                  unix_millis(col("valid_from")).as("valid_from_ms"),
                  unix_millis(col("valid_to")).as("valid_to_ms"),
                  col("is_current"))
      },
      wrapEventsSql(SparkEntry.scd2OracleGen(d), pert))
  }

  /** Last-touch attribution: the channel modulus redraws the credit
    * partition (and the null-props → null-channel → 'direct' coalesce
    * seam rides every draw).
    */
  private def genAttribution(r: Random, i: Int): FuzzCase = {
    val m = 2 + r.nextInt(5) // 2..6
    val pert = r.nextInt(100) < 35
    FuzzCase(f"fz_attr_$i%03d", "attribution", s"mod=$m pert=$pert",
      (s, dir) => {
        val ev = eventsOf(s, dir, pert)
        val purchases = ev
          .filter(col("event_type") === "purchase" &&
                  col("user_id").isNotNull && col("ts").isNotNull)
          .select(col("event_id"), col("user_id"), col("ts").as("pts"),
                  col("value"))
        val clicks = ev
          .filter(col("event_type") === "click" &&
                  col("user_id").isNotNull && col("ts").isNotNull)
          .select(col("user_id"), col("ts").as("cts"),
                  col("event_id").as("click_id"),
                  concat(lit("ch"),
                    pmod(get_json_object(col("props"), "$.k").cast("long"),
                         lit(m)).cast("string")).as("channel"))
        graft.ops.AsOfJoin
          .asofJoin(purchases, clicks, "user_id", "pts", "cts",
                    "click_id")
          .groupBy(coalesce(col("channel"), lit("direct")).as("channel"))
          .agg(count(lit(1)).as("n_purchases"),
               round(sum(coalesce(col("value"), lit(0.0))), 4)
                 .as("revenue"))
      },
      wrapEventsSql(SparkEntry.attributionOracleGen(m), pert))
  }

  /** Ordered funnel: random step sequence over the five event types and
    * a random conversion window.
    */
  private def genFunnel(r: Random, i: Int): FuzzCase = {
    val types = Seq("view", "click", "purchase", "signup", "error")
    val steps = r.shuffle(types).take(2 + r.nextInt(3))
    val gap = 12 + r.nextInt(85) // 12..96 h
    val pert = r.nextInt(100) < 35
    FuzzCase(f"fz_funnel_$i%03d", "funnel",
      s"steps=${steps.mkString(">")} gap=${gap}h pert=$pert",
      (s, dir) =>
        graft.ops.Funnel.funnel(eventsOf(s, dir, pert), steps,
                                maxGapHours = Some(gap)),
      wrapEventsSql(SparkEntry.funnelOracleGen(steps, gap), pert))
  }

  /** As-of join (latest order at-or-before each event): the user→cust
    * key fold modulus redraws the join fan-in.
    */
  private def genAsof(r: Random, i: Int): FuzzCase = {
    val m = Seq(50, 100, 150, 250)(r.nextInt(4))
    val pertE = r.nextInt(100) < 35
    val pertO = r.nextInt(100) < 35
    FuzzCase(f"fz_asof_$i%03d", "asof", s"mod=$m pertE=$pertE pertO=$pertO",
      (s, dir) => {
        val ev = eventsOf(s, dir, pertE)
          .select(col("event_id"),
                  ((col("user_id") % m) + 1).as("cust"),
                  date_trunc("millisecond", col("ts")).as("ets"))
        val ord = ordersOf(s, dir, pertO)
          .select(col("o_custkey").as("cust"), col("o_orderdate"),
                  col("o_orderkey"))
        graft.ops.AsOfJoin.asofJoin(ev, ord, "cust", "ets",
                                    "o_orderdate", "o_orderkey")
          .select(col("event_id"), col("o_orderkey"))
      },
      wrapOrdersSql(wrapEventsSql(SparkEntry.asofOracleGen(m), pertE),
                    pertO))
  }

  /** PageRank: basket modulus (graph density), iteration count and the
    * damping literal all drawn; both sides round each iteration onto
    * the shared 1e-9 grid.
    */
  private def genPagerank(r: Random, i: Int): FuzzCase = {
    val m = 4 + r.nextInt(5)            // 4..8
    val iters = 2 + r.nextInt(3)        // 2..4
    val damping = Seq(0.8, 0.85, 0.9)(r.nextInt(3))
    val pert = r.nextInt(100) < 35
    FuzzCase(f"fz_pr_$i%03d", "pagerank",
      s"mod=$m iters=$iters d=$damping pert=$pert",
      (s, dir) =>
        graft.graph.GraphOps.pageRank(
            graft.graph.GraphOps.coPurchaseEdges(
              lineitemOf(s, dir, pert), modulus = m),
            iters = iters, damping = damping)
          .orderBy(col("pr").desc, col("node").asc).limit(25)
          .select(col("node").as("part_key"), col("pr")),
      wrapLineitemSql(
        SparkEntry.pagerankOracleGen(m, iters, damping), pert))
  }

  /** Event transition matrix at a drawn journey depth. */
  private def genTransitions(r: Random, i: Int): FuzzCase = {
    val step = 1 + r.nextInt(4)
    val pert = r.nextInt(100) < 35
    FuzzCase(f"fz_trans_$i%03d", "transitions", s"step=$step pert=$pert",
      (s, dir) =>
        graft.ops.TimeSeries.transitions(eventsOf(s, dir, pert),
                                         step = step),
      wrapEventsSql(SparkEntry.transitionsOracleGen(step), pert))
  }

  /** Gap-filled outage flags: baseline window and z cut drawn (the
    * spine form of the anomaly census — a total outage is a zero row,
    * not a missing one).
    */
  private def genOutage(r: Random, i: Int): FuzzCase = {
    val days = 2 + r.nextInt(13)        // 2..14
    val z = (4 + r.nextInt(9)) / 2.0    // 2.0..6.0 on the 0.5 grid
    val pert = r.nextInt(100) < 35
    FuzzCase(f"fz_outage_$i%03d", "outage", s"days=$days z=$z pert=$pert",
      (s, dir) =>
        graft.ops.TimeSeries.anomalyFlags(eventsOf(s, dir, pert),
                                          windowDays = days,
                                          zThreshold = z, gapFill = true),
      wrapEventsSql(SparkEntry.outageOracleGen(days, z), pert))
  }

  /** Cohort retention at drawn granularity (day vs week cohorts). */
  private def genCohort(r: Random, i: Int): FuzzCase = {
    val gran = Seq("day", "week")(r.nextInt(2))
    val pert = r.nextInt(100) < 35
    FuzzCase(f"fz_cohort_$i%03d", "cohort", s"gran=$gran pert=$pert",
      (s, dir) =>
        graft.ops.TimeSeries.cohortRetention(eventsOf(s, dir, pert),
                                             granularity = gran),
      wrapEventsSql(SparkEntry.cohortOracleGen(gran), pert))
  }

  /** Daily churn census at a drawn look-back horizon (1/7/28-day). */
  private def genChurn(r: Random, i: Int): FuzzCase = {
    val h = Seq(1, 2, 3, 7, 14, 28)(r.nextInt(6))
    val pert = r.nextInt(100) < 35
    FuzzCase(f"fz_churn_$i%03d", "churn", s"horizon=$h pert=$pert",
      (s, dir) =>
        graft.ops.TimeSeries.userChurn(eventsOf(s, dir, pert),
                                       horizonDays = h),
      wrapEventsSql(SparkEntry.churnOracleGen(h), pert))
  }

  /** Gopher quality rules: every cut threshold drawn from its coarse
    * decimal grid (the published constants are just the default
    * config); the compared ratios are exact rationals both engines
    * compute identically, so each boundary decision is portable.
    */
  private def genGopher(r: Random, i: Int): FuzzCase = {
    val t = graft.text.TextOps.GopherThresholds(
      minWords = Seq(10, 20, 50, 80)(r.nextInt(4)),
      maxWords = Seq(500, 1000, 100000)(r.nextInt(3)),
      wordLenLo = Seq(2.0, 3.0, 4.0)(r.nextInt(3)),
      wordLenHi = Seq(8.0, 10.0, 12.0)(r.nextInt(3)),
      maxSymbolRatio = Seq(0.02, 0.05, 0.1, 0.2)(r.nextInt(4)),
      maxBulletFrac = Seq(0.3, 0.5, 0.9)(r.nextInt(3)),
      maxEllipsisFrac = Seq(0.05, 0.1, 0.3)(r.nextInt(3)),
      minAlphaFrac = Seq(0.6, 0.8, 0.9)(r.nextInt(3)),
      minStopwords = 1 + r.nextInt(3))
    val pert = r.nextInt(100) < 35
    FuzzCase(f"fz_gopher_$i%03d", "gopher", s"t=$t pert=$pert",
      (s, dir) =>
        graft.text.TextOps.gopherRules(docsOf(s, dir, pert), t = t),
      wrapSql(SparkEntry.gopherOracleGen(t), pert))
  }

  /** Window frames: random ROWS / RANGE bounds (and a lag/lead offset)
    * over the orders table — frame-boundary semantics are classic seam
    * territory and the board pins only ROWS UNBOUNDED PRECEDING. The
    * framed sum rides integer cents so every frame's total is exact on
    * both engines; RANGE offsets apply to the integer orderkey.
    */
  private def genWindowFrames(r: Random, i: Int): FuzzCase = {
    val mode = Seq("rows", "range", "running")(r.nextInt(3))
    val a = r.nextInt(6)                    // preceding
    val b = r.nextInt(6)                    // following
    val off = 1 + r.nextInt(3)              // lag/lead offset
    // RANGE offsets are in orderkey units — scale up so frames span
    // multiple rows at sf0.01's sparse per-customer keys
    val (ra, rb) = (a * 100, b * 100)
    val pert = r.nextInt(100) < 35
    val frameSql = mode match {
      case "rows"    => s"ROWS BETWEEN $a PRECEDING AND $b FOLLOWING"
      case "range"   => s"RANGE BETWEEN $ra PRECEDING AND $rb FOLLOWING"
      case "running" => "ROWS UNBOUNDED PRECEDING"
    }
    FuzzCase(f"fz_wframe_$i%03d", "window_frames",
      s"mode=$mode a=$a b=$b off=$off pert=$pert",
      (s, dir) => {
        val base = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderkey").asc)
        val w = mode match {
          case "rows"    => base.rowsBetween(-a.toLong, b.toLong)
          case "range"   => base.rangeBetween(-ra.toLong, rb.toLong)
          case "running" =>
            base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        }
        ordersOf(s, dir, pert)
          .select(col("o_custkey"), col("o_orderkey"),
                  col("o_totalprice"))
          .withColumn("frame_cents",
            sum(round(col("o_totalprice") * 100, 0).cast("long")).over(w))
          .withColumn("n_frame", count(lit(1)).over(w))
          .withColumn("prev_k", lag(col("o_orderkey"), off).over(base))
          .withColumn("next_k", lead(col("o_orderkey"), off).over(base))
          .drop("o_totalprice")
      },
      wrapOrdersSql(
        s"""SELECT o_custkey, o_orderkey,
           |  CAST(sum(CAST(round((o_totalprice) * 100, 0) AS BIGINT))
           |       OVER w AS BIGINT) AS frame_cents,
           |  CAST(count(*) OVER w AS BIGINT) AS n_frame,
           |  lag(o_orderkey, $off) OVER wp AS prev_k,
           |  lead(o_orderkey, $off) OVER wp AS next_k
           |FROM orders
           |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
           |             $frameSql),
           |       wp AS (PARTITION BY o_custkey ORDER BY o_orderkey)"""
          .stripMargin, pert))
  }

  // ---- TPC-H substitution-parameter families ---------------------------
  // r9 verdict gap #1: the 22 board TPC-H queries were pinned at ONE
  // substitution point each and sat outside the fuzz families. These
  // three families draw the spec's own substitution parameters (dates,
  // discount ±0.01, quantity cuts, brands/types/sizes, segments,
  // nation/region picks — TPC-H v3 §2.4, adapted to the synthetic
  // domain) and run the paired builders in graft.tpch.TpchGen. Each of
  // the four mutable-side tables is independently perturbed with
  // crafted degenerate rows at 30% (orphan orders, null dims, boundary
  // balances — see the crafted blocks above); wraps compose, one CTE
  // per perturbed table.

  private final case class Pert(li: Boolean, ord: Boolean, cust: Boolean,
                                supp: Boolean, part: Boolean) {
    override def toString =
      Seq("li" -> li, "ord" -> ord, "cust" -> cust, "supp" -> supp,
          "part" -> part).collect { case (n, true) => n } match {
        case Nil => "none"
        case ps  => ps.mkString("+")
      }
  }

  private def drawPert(r: Random): Pert =
    Pert(r.nextInt(100) < 30, r.nextInt(100) < 30, r.nextInt(100) < 30,
         r.nextInt(100) < 30, r.nextInt(100) < 30)

  private def tpchLoad(p: Pert): graft.tpch.TpchGen.Loader =
    (s, dir, name) => name match {
      case "lineitem" => lineitemOf(s, dir, p.li)
      case "orders"   => ordersOf(s, dir, p.ord)
      case "customer" => customerOf(s, dir, p.cust)
      case "supplier" => supplierOf(s, dir, p.supp)
      case "part"     => partOf(s, dir, p.part)
      case other      => Tables.load(s, dir, other)
    }

  private def wrapTpchSql(sql: String, p: Pert): String =
    wrapPartSql(wrapSupplierSql(wrapCustomerSql(wrapOrdersSql(
      wrapLineitemSql(sql, p.li), p.ord), p.cust), p.supp), p.part)

  private def drawDate(r: Random, loYear: Int, hiYear: Int): LocalDate =
    LocalDate.of(loYear + r.nextInt(hiYear - loYear + 1),
                 1 + r.nextInt(12), 1 + r.nextInt(28))

  private val partTypes =
    Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val segments =
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val priorities =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val nameWords =
    Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
        "widget", "blue", "cold", "hot", "large", "new", "old", "red",
        "small")
  private def brand(r: Random): String = s"Brand#${1 + r.nextInt(25)}"

  /** Scan/aggregate/EXISTS bank: Q1, Q4, Q6, Q12, Q13, Q14, Q22. */
  private def genTpchA(r: Random, i: Int): FuzzCase = {
    val p = drawPert(r)
    val L = tpchLoad(p)
    import graft.tpch.TpchGen
    val (tag, params, q) = r.nextInt(7) match {
      case 0 =>
        val d = 60 + r.nextInt(61)
        ("q1", s"delta=$d", TpchGen.q1(L, d))
      case 1 =>
        val start = drawDate(r, 1995, 2001)
        val months = Seq(3, 6)(r.nextInt(2))
        val late = 30 + r.nextInt(61)
        ("q4", s"start=$start months=$months late=$late",
         TpchGen.q4(L, start, months, late))
      case 2 =>
        val y = 1995 + r.nextInt(6)
        val c = (2 + r.nextInt(8)) / 100.0
        val qc = 20 + r.nextInt(11)
        ("q6", s"y=$y c=$c q<$qc", TpchGen.q6(L, y, c, qc))
      case 3 =>
        val c1 = 20 + r.nextInt(21)
        val c2 = 60 + r.nextInt(61)
        ("q12", s"cuts=$c1/$c2", TpchGen.q12(L, c1, c2))
      case 4 =>
        val pr = priorities(r.nextInt(5))
        ("q13", s"excl=$pr", TpchGen.q13(L, pr))
      case 5 =>
        val start = drawDate(r, 1995, 2001)
        ("q14", s"start=$start", TpchGen.q14(L, start))
      case 6 =>
        val keys = r.shuffle((0 to 24).toList).take(7).sorted
        val cut = drawDate(r, 1998, 2001)
        ("q22", s"keys=${keys.mkString("/")} cut=$cut",
         TpchGen.q22(L, keys, cut))
    }
    FuzzCase(f"fz_tpcha_$i%03d", "tpch_a", s"$tag $params pert=$p",
             q.run, wrapTpchSql(q.sql, p))
  }

  /** Join-pipeline bank: Q3, Q5, Q7, Q8, Q9, Q10, Q18. */
  private def genTpchB(r: Random, i: Int): FuzzCase = {
    val p = drawPert(r)
    val L = tpchLoad(p)
    import graft.tpch.TpchGen
    val (tag, params, q) = r.nextInt(7) match {
      case 0 =>
        val seg = segments(r.nextInt(5))
        val d = drawDate(r, 1996, 2000)
        ("q3", s"seg=$seg d=$d", TpchGen.q3(L, seg, d))
      case 1 =>
        val reg = r.nextInt(5)
        val y = 1995 + r.nextInt(6)
        ("q5", s"reg=$reg y=$y", TpchGen.q5(L, reg, y))
      case 2 =>
        val a = r.nextInt(5)
        val b = (a + 1 + r.nextInt(4)) % 5
        val y = 1995 + r.nextInt(5)
        ("q7", s"regs=$a/$b y=$y", TpchGen.q7(L, a, b, y))
      case 3 =>
        val t = partTypes(r.nextInt(6))
        val nk = r.nextInt(25)
        val y = 1995 + r.nextInt(5)
        ("q8", s"type=$t nation=$nk y=$y", TpchGen.q8(L, t, nk, y))
      case 4 =>
        val w = nameWords(r.nextInt(nameWords.size))
        ("q9", s"word=$w", TpchGen.q9(L, w))
      case 5 =>
        val start = drawDate(r, 1995, 2001)
        ("q10", s"start=$start", TpchGen.q10(L, start))
      case 6 =>
        val thr = 250 + r.nextInt(151)
        ("q18", s"qty>$thr", TpchGen.q18(L, thr))
    }
    FuzzCase(f"fz_tpchb_$i%03d", "tpch_b", s"$tag $params pert=$p",
             q.run, wrapTpchSql(q.sql, p))
  }

  /** Subquery/threshold bank: Q2, Q11, Q15, Q16, Q17, Q19, Q20, Q21. */
  private def genTpchC(r: Random, i: Int): FuzzCase = {
    val p = drawPert(r)
    val L = tpchLoad(p)
    import graft.tpch.TpchGen
    val (tag, params, q) = r.nextInt(8) match {
      case 0 =>
        val t = partTypes(r.nextInt(6))
        val lo = 1 + r.nextInt(40)
        val hi = lo + 5 + r.nextInt(11)
        val reg = r.nextInt(5)
        ("q2", s"type=$t size=$lo..$hi reg=$reg",
         TpchGen.q2(L, t, lo, hi, reg))
      case 1 =>
        val reg = r.nextInt(5)
        val m = (3 + r.nextInt(4)) / 2.0 // 1.5..3.0
        ("q11", s"reg=$reg mult=$m", TpchGen.q11(L, reg, m))
      case 2 =>
        val start = drawDate(r, 1995, 2001)
        ("q15", s"start=$start", TpchGen.q15(L, start))
      case 3 =>
        val b = brand(r)
        val t = partTypes(r.nextInt(6))
        val sizes = r.shuffle((1 to 50).toList).take(8).sorted
        val cut = Seq(-500.0, -100.0, 0.0, 100.0, 500.0)(r.nextInt(5))
        ("q16", s"excl=$b/$t sizes=${sizes.mkString("/")} cut=$cut",
         TpchGen.q16(L, b, t, sizes, cut))
      case 4 =>
        val b = brand(r)
        val t = partTypes(r.nextInt(6))
        val f = (3 + r.nextInt(4)) / 20.0 // 0.15..0.30
        ("q17", s"b=$b t=$t frac=$f", TpchGen.q17(L, b, t, f))
      case 5 =>
        val bs = r.shuffle((1 to 25).toList).take(3).map(n => s"Brand#$n")
        val qs = Seq(1 + r.nextInt(10), 10 + r.nextInt(11),
                     20 + r.nextInt(11))
        ("q19", s"brands=${bs.mkString("/")} qlo=${qs.mkString("/")}",
         TpchGen.q19(L, bs, qs))
      case 6 =>
        val t = partTypes(r.nextInt(6))
        val m = (2 + r.nextInt(4)).toDouble
        ("q20", s"type=$t mult=$m", TpchGen.q20(L, t, m))
      case 7 =>
        val late = 60 + r.nextInt(61)
        val st = Seq("F", "O", "P")(r.nextInt(3))
        ("q21", s"late=$late status=$st", TpchGen.q21(L, late, st))
    }
    FuzzCase(f"fz_tpchc_$i%03d", "tpch_c", s"$tag $params pert=$p",
             q.run, wrapTpchSql(q.sql, p))
  }

  // ---- driver --------------------------------------------------------

  private val families: Seq[(String, (Random, Int) => FuzzCase)] = Seq(
    "jaccard" -> genJaccard _,
    "containment" -> genContainment _,
    "topk" -> genTopk _,
    "cos_topk" -> genCosTopk _,
    "cos_pairs" -> genCosPairs _,
    "decon" -> genDecon _,
    "spans" -> genSpans _,
    "decon_spans" -> genDeconSpans _,
    "line_dedup" -> genLineDedup _,
    "dedup_keyed" -> genDedupKeyed _,
    "hour" -> genHour _,
    "agg" -> genAgg _,
    "kcenter" -> genKcenter _,
    "mmr" -> genMmr _,
    "topk_agg" -> genTopkAgg _,
    "fuzzy" -> genFuzzy _,
    "edit" -> genEdit _,
    "winsorize" -> genWinsorize _,
    "stratified" -> genStratified _,
    "heavy_grams" -> genHeavyGrams _,
    "sem_decon" -> genSemDecon _,
    "sessionize" -> genSessionize _,
    "interval_join" -> genIntervalJoin _,
    "range_join" -> genRangeJoin _,
    "chunk" -> genChunk _,
    "token_budget" -> genTokenBudget _,
    "rolling" -> genRolling _,
    "active_users" -> genActiveUsers _,
    "shard" -> genShard _,
    "hopping" -> genHopping _,
    "anomaly" -> genAnomaly _,
    "tpch_a" -> genTpchA _,
    "tpch_b" -> genTpchB _,
    "tpch_c" -> genTpchC _,
    "scd2" -> genScd2 _,
    "attribution" -> genAttribution _,
    "funnel" -> genFunnel _,
    "asof" -> genAsof _,
    "pagerank" -> genPagerank _,
    "window_frames" -> genWindowFrames _,
    "gopher" -> genGopher _,
    "cohort" -> genCohort _,
    "churn" -> genChurn _,
    "transitions" -> genTransitions _,
    "outage" -> genOutage _)

  /** Resolve a families CSV (or "all") against the registered list.
    * `firstN:K` selects the first K registration-order families — the
    * replay manifest's notation for historical "all families at the
    * time" sweeps (the list is append-only, so era = prefix).
    */
  private[tools] def resolveFamilies(spec: String)
      : Seq[(String, (Random, Int) => FuzzCase)] = spec match {
    case "all" => families
    case s if s.startsWith("firstN:") => families.take(s.drop(7).toInt)
    case csv =>
      val want = csv.split(",").toSet
      val got = families.filter { case (f, _) => want(f) }
      require(got.size == want.size,
        s"unknown families in '$csv' (matched ${got.map(_._1)})")
      got
  }

  /** One sweep: draw `n` cases round-robin over `fams` from `seed`, run
    * the Spark side into `outDir` (one parquet dir per case +
    * oracle_sql.json + fuzz_manifest.json for tools/local_check.py).
    * Returns (ok, err). Extracted from main so `Replay` can chain many
    * sweeps through one session.
    */
  private[tools] def runSweep(spark: SparkSession, sfDir: String,
                              outDir: String, n: Int, seed: Long,
                              fams: Seq[(String, (Random, Int) => FuzzCase)])
      : (Int, Int) = {
    new java.io.File(outDir).mkdirs()
    val rng = new Random(seed)
    // round-robin over families so every family gets ~n/|fams| draws
    val cases = (0 until n).map(i => fams(i % fams.size)._2(rng, i))

    var oracle = Map.empty[String, String]
    var manifest = Vector.empty[String]
    var nOk = 0
    var nErr = 0
    cases.foreach { c =>
      val t0 = System.nanoTime()
      try {
        c.run(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/${c.name}")
        oracle += (c.name -> c.sql)
        nOk += 1
        val sec = (System.nanoTime() - t0) / 1e9
        manifest :+= s"""{"name":${Bench.jsonQuote(c.name)},"family":${
          Bench.jsonQuote(c.family)},"params":${Bench.jsonQuote(c.params)},"sec":${
          f"$sec%.2f"}}"""
        println(f"[fuzz] ${c.name} ${c.family}%-12s ${c.params}%-40s $sec%6.2fs")
      } catch { case e: Throwable =>
        nErr += 1
        manifest :+= s"""{"name":${Bench.jsonQuote(c.name)},"family":${
          Bench.jsonQuote(c.family)},"params":${Bench.jsonQuote(c.params)},"error":${
          Bench.jsonQuote(String.valueOf(e.getMessage))}}"""
        System.err.println(s"[fuzz] ${c.name} FAILED (${c.params}): " +
          e.toString)
      }
      spark.catalog.clearCache()
    }

    val json = oracle.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Bench.jsonQuote(k)}: ${Bench.jsonQuote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/fuzz_manifest.json"),
      manifest.mkString("[", ",\n", "]"))
    println(s"[fuzz] done: $nOk ok, $nErr spark-side errors, " +
      s"seed=$seed n=$n families=${fams.map(_._1).mkString(",")}")
    (nOk, nErr)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val n = if (args.length > 2) args(2).toInt else 60
    val seed = if (args.length > 3) args(3).toLong else 9L
    val fams = resolveFamilies(args.lift(4).getOrElse("all"))
    require(fams.nonEmpty, s"no matching families in ${args.lift(4)}")
    val spark = Session.local(Session.defaultCpus, timed = false)
    val (_, nErr) = runSweep(spark, sfDir, outDir, n, seed, fams)
    spark.stop()
    if (nErr > 0) sys.exit(2)
  }
}
