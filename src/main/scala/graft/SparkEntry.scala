package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.dedup.{ConnectedComponents, CorpusRefresh, DedupOps, MinhashIndex}
import graft.functions.TextExpressions
import graft.graph.GraphOps
import graft.io.Sinks
import graft.multimodal.MultimodalOps
import graft.ops.{CoreOps, Funnel}
import graft.pipeline.TaxiPipeline
import graft.similarity.SimilarityOps
import graft.streaming.StreamingOps
import graft.text.{Bm25Index, QualityClassifier, TextOps}

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the LLM-pipeline extension ops), each with an ANSI/DuckDB
  * oracle twin in `oracleSql` where SQL-expressible.
  *
  * Conventions keeping the DuckDB hash-compare exact (SURVEY §7.4):
  *  - never output raw `events.ts` (parquet ns vs Spark µs truncation) —
  *    derive month/hour/bucket or format to a string instead;
  *  - aliases identical in Spark and SQL, all lowercase (DuckDB folds
  *    unquoted identifiers);
  *  - integer aggregates exact; floating aggregates wrapped in round(·, k)
  *    in BOTH engines to absorb summation-order ulps;
  *  - every query's output is a deterministic SET (no order-dependent
  *    nondeterminism, ties broken by keys).
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    TaxiPipeline.flagship(spark, "/root/testdata/sf0.001")

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Scratch dir for sink round-trip queries, keyed so concurrent sf runs
    * don't collide.
    */
  private def scratch(dir: String, q: String): String =
    s"${Sinks.scratchRoot}/${dir.replaceAll("[^A-Za-z0-9.]", "_")}/$q"

  /** Stamp the data files a micro-batch write just produced with an
    * explicit, strictly-increasing mtime (fixed base + one minute per
    * epoch). The file source sequences epochs by modification time, so
    * two back-to-back append writes landing inside one mtime
    * granularity tick could otherwise flip epoch order versus the
    * oracle's first-half-first assumption — a nondeterministic verify
    * flake (r9 advisor catch). `seen` accumulates already-stamped file
    * names across calls; call once after EACH epoch's write. Shared by
    * the streaming establish steps and the batch-boundary invariance
    * spec.
    */
  private[graft] def stampEpochOrder(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path, epoch: Int,
      seen: scala.collection.mutable.Set[String]): Unit =
    fs.listStatus(dir).foreach { st =>
      val name = st.getPath.getName
      if (st.isFile && !name.startsWith("_") && !name.startsWith(".") &&
          !seen.contains(name)) {
        fs.setTimes(st.getPath, 1700000000000L + epoch * 60000L, -1L)
        seen += name
      }
    }

  /** Run independent maintenance actions CONCURRENTLY (Spark supports
    * concurrent jobs from one session; local and cluster schedulers
    * interleave their stages). A real warehouse's cascade maintenance
    * parallelizes across independent artifacts — serializing five
    * independent store builds pays five full driver round-trips of
    * latency for no ordering benefit. Any failure propagates.
    */
  private def inParallel(tasks: (() => Unit)*): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    // settle ALL tasks, then rethrow the first failure: a fail-fast
    // Future.sequence returns while sibling Spark actions still run —
    // orphan jobs that keep mutating store directories (and, in a
    // bench, inflate the NEXT query's timed window)
    val results = Await.result(
      Future.sequence(tasks.map(task => Future(scala.util.Try(task())))),
      Duration.Inf)
    results.collectFirst { case scala.util.Failure(e) => throw e }: Unit
  }

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    parityQueries ++ extensionQueries ++ graft.tpch.TpchExt.queries

  private def parityQueries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // §3.1 — the whole reference DAG as one plan (see TaxiPipeline).
    "q_flagship_pipeline" -> ((s, dir) => TaxiPipeline.flagship(s, dir)),

    // P1 dropna (spark-apps/clean_nyc_taxi_pipeline.py:10)
    "q_dropna" -> ((s, dir) =>
      CoreOps.dropNulls(t(s, dir, "events"))
        .select(col("event_id"), col("user_id"), col("event_type"),
                col("value"))),

    // D1 dropDuplicates ≡ DISTINCT (clean_nyc_taxi_pipeline.py:10)
    "q_dedup_distinct" -> ((s, dir) =>
      CoreOps.dedupFullRow(
        t(s, dir, "lineitem").select(col("l_returnflag"),
                                     col("l_linestatus")))),

    // The canonical TPC-H Q1 pricing summary — one partial→final
    // aggregate behind a pushed shipdate filter; the classic
    // "is this an analytics engine" smoke query
    "q_tpch_q1" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <=
                lit(java.sql.Timestamp.valueOf("1998-09-02 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 4).as("sum_qty"),
             round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
             round(sum(col("l_extendedprice") *
                       (lit(1.0) - col("l_discount"))), 2)
               .as("sum_disc_price"),
             round(sum(col("l_extendedprice") *
                       (lit(1.0) - col("l_discount")) *
                       (lit(1.0) + col("l_tax"))), 2).as("sum_charge"),
             round(avg(col("l_quantity")), 6).as("avg_qty"),
             round(avg(col("l_extendedprice")), 6).as("avg_price"),
             round(avg(col("l_discount")), 6).as("avg_disc"),
             count(lit(1)).as("count_order"))),

    // TPC-H Q6 forecasting-revenue-change: the pushed-filter scan-agg
    "q_tpch_q6" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >=
                  lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")) &&
                col("l_shipdate") <
                  lit(java.sql.Timestamp.valueOf("1998-01-01 00:00:00")) &&
                col("l_discount").between(0.05, 0.07) &&
                col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2)
               .as("revenue"))),

    // TPC-H Q3 shipping priority (adapted to the schema — no
    // shippriority column): segment dim broadcast, two hash joins,
    // top-10 by revenue = TakeOrderedAndProject, never a global sort
    "q_tpch_q3" -> ((s, dir) => {
      val d = lit(java.sql.Timestamp.valueOf("1998-03-15 00:00:00"))
      val cust = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") < d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") > d)
        .select(col("l_orderkey"), col("l_extendedprice"),
                col("l_discount"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"),
                 date_format(col("o_orderdate"), "yyyy-MM-dd")
                   .as("o_orderdate"))
        .agg(round(sum(col("l_extendedprice") *
                       (lit(1.0) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    }),

    // TPC-H Q5 local-supplier volume: the deepest join in the suite —
    // six tables; the three dims broadcast (region→nation fold,
    // supplier), fact-fact orders⋈lineitem shuffles on the orderkey,
    // the c↔s same-nation constraint rides the join condition
    "q_tpch_q5" -> ((s, dir) => {
      val nations = t(s, dir, "nation")
        .join(t(s, dir, "region").filter(col("r_name") === "ASIA"),
              col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val cust = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"))
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >=
                  lit(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
                col("o_orderdate") <
                  lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")))
        .select(col("o_orderkey"), col("o_custkey"))
      val sup = t(s, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
                col("l_extendedprice"), col("l_discount"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey") &&
                              col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nations),
              col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("l_extendedprice") *
                       (lit(1.0) - col("l_discount"))), 2).as("revenue"))
    }),

    // TPC-H Q18 large-volume customers: group-by-HAVING semi-join —
    // the heavy-order keys reduce to a small frame that AQE broadcasts
    // into the fact join; top-100 via TakeOrderedAndProject
    "q_tpch_q18" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_quantity"))
      val heavy = li.groupBy(col("l_orderkey"))
        .agg(round(sum(col("l_quantity")), 4).as("total_qty"))
        .filter(col("total_qty") > 300)
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
                col("o_totalprice"),
                date_format(col("o_orderdate"), "yyyy-MM-dd")
                  .as("o_orderdate"))
        .join(heavy, col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "customer")
                .select(col("c_custkey"), col("c_name")),
              col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
                col("o_orderdate"),
                round(col("o_totalprice"), 2).as("o_totalprice"),
                col("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderdate").asc,
                 col("o_orderkey").asc)
        .limit(100)
    }),

    // TPC-H Q10 returned-item reporting: lost revenue per customer for
    // one quarter's 'R' lineitems — two fact joins behind pushed
    // filters, nation broadcast, top-20 = TakeOrderedAndProject
    "q_tpch_q10" -> ((s, dir) => {
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >=
                  lit(java.sql.Timestamp.valueOf("1997-01-01 00:00:00")) &&
                col("o_orderdate") <
                  lit(java.sql.Timestamp.valueOf("1997-04-01 00:00:00")))
        .select(col("o_orderkey"), col("o_custkey"))
      val li = t(s, dir, "lineitem")
        .filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_extendedprice"),
                col("l_discount"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(t(s, dir, "customer")
                .select(col("c_custkey"), col("c_name"),
                        col("c_acctbal"), col("c_nationkey"))),
              col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")
                .select(col("n_nationkey"), col("n_name"))),
              col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("c_custkey"), col("c_name"),
                 round(col("c_acctbal"), 2).as("c_acctbal"),
                 col("n_name"))
        .agg(round(sum(col("l_extendedprice") *
                       (lit(1.0) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20)
    }),

    // Year-over-year growth: yearly order volume/revenue with the
    // growth rate vs the previous year — one partial→final yearly
    // aggregate, then a lag window over the years-sized frame
    "q_yoy_growth" -> ((s, dir) => {
      val yearly = t(s, dir, "orders")
        .filter(col("o_orderdate").isNotNull)
        .groupBy(year(col("o_orderdate")).as("yr"))
        .agg(count(lit(1)).as("n_orders"),
             round(sum(col("o_totalprice")), 2).as("revenue"))
      val w = Window.orderBy(col("yr"))
      yearly
        .withColumn("growth",
          round((col("revenue") - lag(col("revenue"), 1).over(w)) /
                nullif(lag(col("revenue"), 1).over(w), lit(0.0)), 6))
        .select(col("yr"), col("n_orders"), col("revenue"), col("growth"))
    }),

    // P2 month() derive (clean_nyc_taxi_pipeline.py:13)
    "q_derive_month" -> ((s, dir) =>
      CoreOps.deriveMonth(t(s, dir, "events"), "ts")
        .groupBy(col("pickup_month"))
        .agg(count(lit(1)).as("n"))),

    // C1 CASE WHEN time-bucket enrichment (nyc_taxi_pipeline_dag.py:253-261)
    "q_time_bucket" -> ((s, dir) =>
      CoreOps.timeBucket(t(s, dir, "events"), "ts")
        .groupBy(col("time_bucket"))
        .agg(count(lit(1)).as("n"),
             round(avg(col("value")), 6).as("avg_fare"))),

    // P9 rush-hour range predicate on derived hour (…dag.py:257-258)
    "q_hour_filter" -> ((s, dir) =>
      t(s, dir, "events")
        .filter(hour(col("ts")).between(7, 9))
        .agg(count(lit(1)).as("morning_rows"))),

    // §3.3 legacy pandas ETL chain: rename (P5) → filter (P3) → const col (P4)
    "q_legacy_etl" -> ((s, dir) => {
      val docs = CoreOps.trimHeaders(t(s, dir, "documents"))
      val renamed = CoreOps.renameColumn(docs, "source",
                                         "sponsoring_organization")
      val filtered = CoreOps.filterEq(renamed, "lang", "en")
      CoreOps.constantColumn(filtered, "date_added", "2025-08-29")
        .select(col("doc_id"), col("sponsoring_organization"), col("lang"),
                col("date_added"))
    }),

    // P6 column drop (…dag.py:87-88)
    "q_drop_col" -> ((s, dir) =>
      CoreOps.dropColumns(t(s, dir, "documents"), "text", "n_chars")),

    // P8/A2 null-quality violation count (…dag.py:195-201)
    "q_quality_nulls" -> ((s, dir) =>
      CoreOps.nullViolationCount(t(s, dir, "events"), Seq("ts", "value"))),

    // A1 COUNT(*) gate (…dag.py:188-192)
    "q_row_count" -> ((s, dir) => CoreOps.rowCount(t(s, dir, "lineitem"))),

    // A3 null census (…dag.py:95-96)
    "q_null_matrix" -> ((s, dir) =>
      CoreOps.nullMatrix(
        t(s, dir, "events").select(col("ts"), col("user_id"), col("value"),
                                   col("props")))),

    // §2.6 broadcast dim join, 2-hop star (zone-lookup pattern)
    "q_zone_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("customers"),
             round(avg(col("c_acctbal")), 6).as("avg_bal"))
    }),

    // P3/P10 equality filter on a string column
    "q_filter_eq" -> ((s, dir) =>
      CoreOps.filterEq(t(s, dir, "part"), "p_brand", "Brand#1")
        .select(col("p_partkey"), col("p_name"), col("p_brand"),
                col("p_size"))),

    // S5+S3 — single-file CSV sink then schema'd re-read (engine-boundary
    // round trip); aggregate must equal the parquet-direct oracle.
    "q_csv_roundtrip" -> ((s, dir) => {
      val path = scratch(dir, "csv_roundtrip")
      val src = t(s, dir, "events")
        .select(col("event_id"), col("event_type"), col("user_id"))
      Sinks.writeSingleCsv(src, path)
      val schema = StructType(Seq(
        StructField("event_id", LongType),
        StructField("event_type", StringType),
        StructField("user_id", LongType)))
      Sinks.readCsv(s, path, schema)
        .agg(count(lit(1)).as("n"),
             sum(col("event_id")).as("id_sum"),
             countDistinct(col("event_type")).as("n_types"))
    }),

    // S6 — partitioned parquet sink + partition-pruned re-read (the
    // at-scale replacement for the reference's B-tree indexes, S9).
    // repartition on the partition column first: every writer task owns
    // whole partition values, so the sink emits one file per month instead
    // of numShufflePartitions × 12 small files.
    "q_partitioned_write" -> ((s, dir) => {
      val path = scratch(dir, "part_parquet")
      val li = t(s, dir, "lineitem")
        .withColumn("ship_month", month(col("l_shipdate")))
        .repartition(col("ship_month"))
      Sinks.writePartitioned(li, "ship_month", path)
      s.read.parquet(path)
        .filter(col("ship_month") === 3) // prunes to 1/12 of files
        .agg(count(lit(1)).as("n"),
             round(sum(col("l_extendedprice")), 2).as("revenue"))
    }),

    // S9 — the B-tree-index analog round trip: day-partitioned parquet
    // with sortWithinPartitions(ts), so a day predicate prunes partitions
    // and a time predicate skips row groups via min/max stats (the
    // skipping itself is asserted in BucketingSpec; this query
    // oracle-checks the round-trip result).
    "q_sorted_scan" -> ((s, dir) => {
      val path = scratch(dir, "sorted_scan")
      val ev = t(s, dir, "events").withColumn("day", dayofmonth(col("ts")))
      Sinks.writeSortedPartitioned(ev, "day", "ts", path)
      s.read.parquet(path)
        .filter(col("day").between(5, 10))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("v"))
    }),

    // S7/S8 — append vs overwrite write dispositions (incremental loading)
    "q_append_load" -> ((s, dir) => {
      val path = scratch(dir, "append_load")
      val src = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"))
      Sinks.replaceLoad(src, path)  // full refresh…
      Sinks.appendLoad(src, path)   // …then one incremental append
      s.read.parquet(path)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"))
    }),

    // S10 autodetect — inferred-schema CSV round trip: single-file CSV
    // sink, then a header+inferSchema re-read (no declared StructType),
    // aggregated against the parquet-direct oracle. Closes the
    // `autodetect=True` fidelity gap left by the declared-schema S3 read.
    "q_csv_infer" -> ((s, dir) => {
      val path = scratch(dir, "csv_infer")
      val src = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      Sinks.writeSingleCsv(src, path)
      Sinks.readCsvInferred(s, path)
        .agg(count(lit(1)).as("n"),
             sum(col("o_orderkey")).cast("long").as("key_sum"),
             round(sum(col("o_totalprice")), 2).as("price_sum"),
             countDistinct(col("o_orderstatus")).as("n_status"))
    }),

    // Window function with deterministic total order (extension beyond
    // reference parity, oracle-checked as SURVEY §2.7 requires).
    "q_topk_per_group" -> ((s, dir) => {
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc,
                 col("l_linenumber").asc)
      t(s, dir, "lineitem")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("l_returnflag"), col("rn"), col("l_orderkey"),
                col("l_linenumber"), col("l_extendedprice"))
    }),

    // The SAME top-k contract through the bounded-buffer Aggregator (the
    // scale path: ≤k rows per partial buffer, shuffle carries k rows per
    // (map task, group) instead of whole groups). Shares the window
    // query's oracle — two physical strategies, one result.
    "q_topk_agg" -> ((s, dir) => {
      import s.implicits._
      // nullable-score form (topKTriplesOpt): on a column that can hold
      // nulls the primitive-Double triple NPEs at encode time while the
      // window strategy serves null rows at the bottom — the nullable
      // Aggregator keeps the two strategies result-identical on ANY
      // input (r9); on this null-free fixture the output is unchanged
      val ds = t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_extendedprice"),
                col("l_orderkey"), col("l_linenumber"))
        .as[(String, Option[Double], Long, Int)]
      ds.groupByKey(_._1)
        .mapValues { case (_, price, okey, ln) => (price, okey, ln) }
        .agg(graft.ops.TopK.topKTriplesOpt(3).toColumn.name("top"))
        .flatMap { case (flag, top) =>
          top.zipWithIndex.map { case ((price, okey, ln), i) =>
            (flag, i + 1, okey, ln, price)
          }
        }
        .toDF("l_returnflag", "rn", "l_orderkey", "l_linenumber",
              "l_extendedprice")
    }),

    // Analytic window functions: per-customer running total + lag/lead
    // neighbours over a deterministic order (§2.7 breadth beyond
    // row_number)
    "q_window_funcs" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderkey").asc)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
        .withColumn("run_total",
          round(sum(col("o_totalprice")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2))
        .withColumn("prev_key", lag(col("o_orderkey"), 1).over(w))
        .withColumn("next_key", lead(col("o_orderkey"), 1).over(w))
        .drop("o_totalprice")
    }),

    // Tumbling-window hourly rollup over the events table (batch form of
    // the streaming demo, SURVEY §2.9).
    "q_hourly_rollup" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("v"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
                  .as("hour_start"),
                col("n"), col("v")))
  )

  // ------------------------------------------- extension (north-star) ops

  private def extensionQueries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Text analysis: char/token/punct/stopword census + md5 fingerprint,
    // one codegen'd projection pass.
    "q_text_stats" -> ((s, dir) =>
      TextOps.withTextStats(t(s, dir, "documents"))
        .select(col("doc_id"), col("n_chars_calc"), col("n_tokens"),
                col("n_subwords"), col("n_punct"), col("n_stopwords"),
                col("fingerprint"))),

    // Language-ID heuristic (stopword-hit argmax, deterministic ties)
    "q_lang_id" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"),
                TextOps.langId(col("text")).as("lang_guess"))),

    // Per-source corpus DATACARD (Gebru et al. 2021): volume, duplicate
    // mass, language mix, token-length median — one datasheet row per
    // source, all from one narrow scan + per-source aggregates.
    "q_datacard" -> ((s, dir) =>
      TextOps.dataCard(t(s, dir, "documents"))),

    // Corpus snapshot diff (day-2): v1 = ids not ≡0 mod 5, v2 = ids not
    // ≡0 mod 7 with every ≡0-mod-3 doc's text amended — per-(source,
    // status) census of added/removed/changed/unchanged + char deltas
    "q_corpus_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val v1 = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      val v2 = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(3)) === 0,
               concat(col("text"), lit(" v2"))).otherwise(col("text")))
      TextOps.corpusDiff(v1, v2)
    }),

    // Cross-source duplication matrix (mirror detection): a planted
    // 'mirror' source re-hosting every 10th doc must pair with exactly
    // the sources those ids live in, 25 shared fingerprints each
    "q_cross_source_dup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), col("source"))
      val mirror = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
        .select((col("doc_id") + 10000).as("doc_id"), col("text"),
                lit("mirror").as("source"))
      TextOps.crossSourceDup(docs.unionByName(mirror))
    }),

    // Composite quality score
    "q_quality_score" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
                TextOps.qualityScore(col("text")).as("quality_score"))),

    // k-anonymity census release: (source, lang) cells under 10 docs
    // suppress into an '__other__' rollup — total preserved exactly
    "q_kanon_census" -> ((s, dir) => {
      val census = t(s, dir, "documents")
        .groupBy(col("source"), col("lang"))
        .agg(count(lit(1)).as("n"))
      TextOps.suppressSmallGroups(census, k = 10,
                                  groupCols = Seq("source", "lang"))
    }),

    // PMI collocations: top-20 token pairs by doc-level pointwise
    // mutual information (min pair df 5) — phrase/template discovery
    "q_pmi_pairs" -> ((s, dir) =>
      TextOps.pmiCollocations(t(s, dir, "documents"),
                              minPairCount = 5, k = 20)),

    // Per-source score calibration: every doc's quality score mapped
    // to its percentile WITHIN its source (percent_rank on the rounded
    // score grid), so one global threshold means the same thing for
    // every source — the FineWeb-style per-dump calibration
    "q_score_calibration" -> ((s, dir) =>
      TextOps.calibrateScores(t(s, dir, "documents"),
                              TextOps.qualityScore(col("text")))),

    // Adaptive per-source quality gate: keep docs strictly above their
    // source's exact median score (relative gating for mixed corpora);
    // census per source with the threshold
    "q_quality_gate" -> ((s, dir) =>
      TextOps.adaptiveQualityGate(t(s, dir, "documents"), "source")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
             round(max(col("med")), 6).as("med_score"))),

    // Embedding-space data-quality gate: the k vectors FARTHEST from
    // their own label's centroid (lowest cosine) — mislabeled/noise
    // candidates for review. Centroids via the native vector_sum
    // aggregate; tiny centroid table broadcast; top-k never sorts
    // globally
    "q_embed_outliers" -> ((s, dir) =>
      SimilarityOps.centroidOutliers(t(s, dir, "embeddings"),
                                     "vec_id", "embedding", "label",
                                     k = 10)),

    // Exact dedup, keyed (deterministic min-id survivor)
    "q_dedup_keyed" -> ((s, dir) =>
      DedupOps.dedupKeyed(t(s, dir, "documents"),
                          Seq("lang", "source"), "doc_id")),

    // Exact-content dedup census via md5 fingerprint
    "q_exact_dedup" -> ((s, dir) =>
      DedupOps.exactStats(t(s, dir, "documents"), "text")),

    // Per-source duplication report: the dedup-rate dashboard a crawl
    // pipeline watches (a source whose dup_rate jumps is re-crawling
    // itself). One aggregate pass; rate from exact fingerprint counts
    "q_dedup_rate" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
             countDistinct(TextOps.fingerprint(col("text")))
               .as("n_unique"))
        .withColumn("dup_rate",
          round(lit(1.0) - col("n_unique").cast("double") /
            col("n_docs").cast("double"), 6))),

    // Corpus bigram counts (top-20): the n-gram LM statistic behind
    // vocabulary/fertility analysis. Bigrams form INSIDE the token array
    // (one transform, no positional self-join), then one explode +
    // aggregate with map-side combine
    "q_bigrams" -> ((s, dir) => {
      val toks = TextOps.tokens(col("text"))
      // zip the token array against itself shifted by one — a single
      // lockstep walk. (The sequence+element_at formulation cost 4× here:
      // higher-order lambdas are interpreted, so per-element index
      // lookups dominate at corpus scale.)
      val n1 = greatest(size(toks) - 1, lit(0))
      val bigrams = zip_with(slice(toks, lit(1), n1), slice(toks, lit(2), n1),
                             (a, b) => concat_ws(" ", a, b))
      t(s, dir, "documents")
        .select(explode(bigrams).as("bigram"))
        .groupBy(col("bigram"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram").asc)
        .limit(20)
    }),

    // Exact n-gram Jaccard near-dup join (prefix-filtered). n=12: char
    // 5-grams over a small vocabulary are near-universal (df≈docs/20 →
    // candidates≈all pairs); 12-grams span ~2 words and stay selective —
    // the same reason production text-dedup shingles at ~10-13 chars.
    "q_ngram_jaccard" -> ((s, dir) =>
      DedupOps.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
                                 n = 12, tau = 0.7)),

    // R-S containment join: 150-char snippets (cut from every 7th doc,
    // re-keyed +100000) screened for gram-level inclusion inside corpus
    // documents — the quote-detection shape. Each snippet is found in
    // its source doc at containment exactly 1.0 AND in the source's
    // near-dup partners; a Jaccard threshold would pair NONE of these
    // (J ≈ |snippet|/|doc| ≈ 0.05).
    "q_containment_join" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val snips = docs
        .filter(pmod(col("doc_id"), lit(7)) === 0 &&
                length(col("text")) >= 250)
        .select((col("doc_id") + 100000).as("doc_id"),
                substring(col("text"), 51, 150).as("text"))
      DedupOps.containmentJoin(
        DedupOps.hashedSets(snips, "doc_id", "text", n = 12),
        DedupOps.hashedSets(docs, "doc_id", "text", n = 12), tau = 0.9)
    }),

    // The containment ACTION: host-corpus + planted snippets; every
    // snippet (contained in its source at C=1.0) and the smaller member
    // of each symmetric near-dup pair is dropped, hosts survive. The
    // fixture is the mod-4 quarter: the machinery's full-corpus cost is
    // already on the board (q_containment_join R-S over the whole
    // corpus, plus its brute-force self-join equivalence specs) — the
    // ACTION demo proves drop-set semantics, not posting volume
    "q_remove_contained" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .filter(col("doc_id") % 4 === 0)
        .select(col("doc_id"), col("text"))
      val snips = docs
        .filter(pmod(col("doc_id"), lit(7)) === 0 &&
                length(col("text")) >= 250)
        .select((col("doc_id") + 100000).as("doc_id"),
                substring(col("text"), 51, 150).as("text"))
      DedupOps.removeContained(docs.unionByName(snips), "doc_id", "text",
                               n = 12, tau = 0.9)
    }),

    // MinHash+LSH near-dup join, exact-verified — must equal the Jaccard
    // oracle wherever LSH recall holds (k=64,b=16,r=4: P(miss)@s=0.75 ≈
    // 2e-3, and the planted pairs sit at ≥0.75 with a gap below)
    "q_minhash_lsh" -> ((s, dir) =>
      DedupOps.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text",
                               n = 12, k = 64, bands = 16, tau = 0.7)),

    // Incremental near-dup screening: the two-sided (R-S) prefix join —
    // new batch (odd ids) vs existing corpus (even ids) without the
    // old-vs-old pairs a self-join recomputes; one shared hashedSets
    // cache feeds both sides
    // reuseFreq = the standing corpus's shingle df (the stored-df
    // deployment shape): the union-wide posting aggregation is skipped —
    // lossless under any total shingle order, spec'd pair-identical
    "q_incremental_dedup" -> ((s, dir) => {
      val sets = DedupOps.hashedSets(t(s, dir, "documents"),
                                     "doc_id", "text", n = 12)
      val corpus = sets.filter(pmod(col("id"), lit(2)) === 0)
      DedupOps.ngramJaccardPairsBetween(
        corpus,
        sets.filter(pmod(col("id"), lit(2)) === 1), tau = 0.7,
        reuseFreq = Some(DedupOps.shingleFreq(corpus)))
    }),

    // LSH geometry sweep (the lexical annEval): candidate volume /
    // recall / precision per banding config at τ=0.7 over the mod-4
    // quarter — the "which geometry do I ship" table. Rows-only by
    // design (MinHash isn't oracle-expressible); the spec pins
    // monotonicity and exact toy-corpus values. The grid is the two
    // geometries a deployment actually weighs (b=8 precision-lean vs
    // b=16, q_minhash_lsh's shipped config); every extra grid point
    // re-pays the exact-truth join, so the demo stays at 2
    // Emitted on the SHARED eval contract (family, config,
    // n_candidates, n_verified, recall, precision) — q_ann_eval and
    // q_pq_eval use the same schema, so the three tuning tables UNION
    // into one cross-index-family dashboard.
    "q_lsh_eval" -> ((s, dir) =>
      DedupOps.lshEval(
        DedupOps.hashedSets(
          t(s, dir, "documents")
            .filter(pmod(col("doc_id"), lit(4)) === 0),
          "doc_id", "text", n = 12),
        k = 64, bandsGrid = Seq(8, 16), tau = 0.7)
        .select(lit("lsh-jaccard").as("family"),
                concat(lit("k="), col("k"), lit(",bands="), col("bands"))
                  .as("config"),
                col("n_candidates"), col("n_verified"),
                col("recall"), col("precision"))),

    // Persisted signature index (the lexical IVF-append twin): build
    // band postings + shingle sets on disk from the even-id corpus,
    // then INGEST the odd-id batch — probe (batch shingled once, bucket
    // join against stored postings, exact verify against stored sets —
    // corpus text never re-read) then append. Same LSH geometry as
    // q_minhash_lsh, so the exact-Jaccard oracle holds wherever recall
    // does; id_a = index member, id_b = probe member
    // Fixture: the mod-4 quarter as the standing index, the adjacent
    // quarter as the ingest batch — build+probe+append semantics are
    // corpus-size-free (MinhashIndexSpec pins them), and the LSH
    // machinery's full-corpus cost already rides q_minhash_lsh
    "q_minhash_index" -> ((s, dir) => {
      val root = scratch(dir, "mhindex")
      Sinks.dropTable(s, root)
      val docs = t(s, dir, "documents")
      MinhashIndex.build(docs.filter(pmod(col("doc_id"), lit(4)) === 0),
                         "doc_id", "text", root,
                         n = 12, k = 64, bands = 16)
      MinhashIndex.ingest(docs.filter(pmod(col("doc_id"), lit(4)) === 2),
                          "doc_id", "text", root, tau = 0.7)
    }),

    // CASCADE FORGET flagship: the right-to-be-forgotten must reach
    // every DERIVED artifact, not just the source table. Stand up the
    // warehouse (docs + embeddings tables, persisted IVF index,
    // persisted MinHash index), forget ids ≡ 0 mod 97 everywhere —
    // staged-swap table rewrites, partition-targeted IVF list rewrites,
    // tombstone-then-compact on the signature index — then census every
    // artifact: n_forgotten must be 0 across the board and the
    // survivors' id checksums must equal the recomputed truth
    // Fixture: the even halves of both base tables — the cascade's
    // semantics (forget reaches all five artifacts, censuses prove it)
    // are corpus-size-free, and each artifact build re-pays scan/
    // shingle/assign cost per bench run
    "q_forget_cascade" -> ((s, dir) => {
      val root = scratch(dir, "forget")
      Sinks.dropTable(s, root)
      val docs = t(s, dir, "documents")
        .filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("text"), col("source"))
      val emb = t(s, dir, "embeddings")
        .filter(col("vec_id") % 2 === 0)
      val docsT = s"$root/docs"; val embT = s"$root/emb"
      val mhRoot = s"$root/mh"; val bmRoot = s"$root/bm25"
      // BUILD the five artifacts concurrently (inParallel scaladoc):
      // each lands in its own directory off the SOURCE frames, so
      // ordering between them is pure serialization waste.
      // bm25: one artifact among five — the mod-4 sub-half exercises
      // the cascade without double-tokenizing the fixture. Its census
      // below reads the LIVE logical view (postings minus the
      // dl-carrying tombstones — what probes serve from the instant
      // forget returns); the physical-erasure path (compactIndex) is
      // spec-certified in Bm25IndexSpec and costs a full store rewrite
      // the flagship doesn't need to pay per bench run
      inParallel(
        () => docs.write.parquet(docsT),
        () => emb.write.parquet(embT),
        () => MinhashIndex.build(docs, "doc_id", "text", mhRoot,
                                 n = 12, k = 16, bands = 4),
        () => {
          val cents = SimilarityOps.seedCentroids(emb, "vec_id",
                                                  "embedding", nlist = 8)
          SimilarityOps.saveIndex(
            SimilarityOps.ivfAssignTo(emb, "vec_id", "embedding", cents),
            cents, s"$root/ivf")
        },
        () => Bm25Index.build(docs.filter(col("doc_id") % 4 === 0),
                              bmRoot, buckets = 4))
      // FORGET everywhere the ids live — five independent stores,
      // concurrently; the signature-index compaction stays ordered
      // after its own forget inside its task
      inParallel(
        () => Sinks.deleteWhere(s, docsT,
                                pmod(col("doc_id"), lit(97)) === 0),
        () => Sinks.deleteWhere(s, embT,
                                pmod(col("vec_id"), lit(97)) === 0),
        () => SimilarityOps.forgetFromIndex(
          emb.filter(pmod(col("vec_id"), lit(97)) === 0)
            .select(col("vec_id")),
          "vec_id", s"$root/ivf"),
        () => {
          MinhashIndex.forget(
            docs.filter(pmod(col("doc_id"), lit(97)) === 0)
              .select(col("doc_id")),
            "doc_id", mhRoot)
          MinhashIndex.compactIndex(s, mhRoot)
        },
        () => Bm25Index.forget(
          docs.filter(pmod(col("doc_id"), lit(97)) === 0)
            .select(col("doc_id")),
          bmRoot))
      def census(name: String, df: DataFrame, idc: String) =
        df.agg(count(lit(1)).as("n_rows"),
               coalesce(sum(col(idc)), lit(0L)).as("id_sum"),
               coalesce(sum(when(pmod(col(idc), lit(97)) === 0, 1L)
                 .otherwise(0L)), lit(0L)).as("n_forgotten"))
          .withColumn("artifact", lit(name))
      census("docs", s.read.parquet(docsT), "doc_id")
        .unionByName(census("emb", s.read.parquet(embT), "vec_id"))
        .unionByName(census("ivf_lists",
          s.read.parquet(s"$root/ivf/lists"), "vec_id"))
        .unionByName(census("mh_sets",
          s.read.parquet(s"$mhRoot/sets"), "id"))
        .unionByName(census("mh_buckets",
          s.read.parquet(s"$mhRoot/buckets"), "id"))
        .unionByName(census("bm25_postings",
          s.read.parquet(s"$bmRoot/postings")
            .join(s.read.parquet(s"$bmRoot/tombstones")
                    .select(col("doc_id")), Seq("doc_id"), "left_anti"),
          "doc_id"))
        .select(col("artifact"), col("n_rows"), col("id_sum"),
                col("n_forgotten"))
    }),

    // Day-2 flagship: INCREMENTAL CORPUS REFRESH riding PERSISTED
    // screening state (CorpusRefresh). establish = warehouse table +
    // one-time MinHash signature index + fingerprint store; refresh =
    // token floor → exact-content novelty (anti-join vs the PERSISTED
    // fingerprints) → WITHIN-batch near-dup election (pairs + CC +
    // canonical-min — a batch can duplicate itself) → cross-corpus
    // screen by PROBING the persisted band postings (exact-verified
    // against stored candidate sets; warehouse text is never re-read —
    // the one-shot r6 form re-shingled the whole warehouse per batch,
    // a full-corpus scan per ingest at 100 TB) → crash-safe mergeByKey
    // insert → per-source census. Every stage's logic already has an
    // oracle; the composition chains them, and the banding geometry's
    // recall is itself oracle-proven by q_minhash_lsh/q_minhash_index.
    "q_incremental_refresh" -> ((s, dir) => {
      val path = scratch(dir, "refresh")
      // Fixture: the even half (warehouse = 2/3 of it, batch = 1/3 via
      // the mod-3 split within) — every stage's semantics are
      // corpus-size-free and each is oracle-checked on exactly this
      // slice; the near-dup machinery's full-corpus cost already rides
      // q_ngram_jaccard/q_incremental_dedup
      val docs = t(s, dir, "documents")
        .filter(col("doc_id") % 2 === 0)
      // establish ONCE per scratch lifetime (day-0 amortizes across
      // batches — the architecture's point); re-running the refresh
      // against an already-refreshed store is the REPLAY case, which
      // CorpusRefreshSpec pins as a bit-identical no-op, so every run
      // of this query returns the same census
      if (!CorpusRefresh.established(s, s"$path/mh"))
        CorpusRefresh.establish(
          docs.filter(pmod(col("doc_id"), lit(3)) =!= 0),
          "doc_id", "text", s"$path/table", s"$path/mh")
      CorpusRefresh.refresh(
        docs.filter(pmod(col("doc_id"), lit(3)) === 0),
        "doc_id", "text", s"$path/table", s"$path/mh",
        tau = 0.7, minTokens = 20)
      s.read.parquet(s"$path/table")
        .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    }),

    // The day-2 flagship AT INGEST TIME: CorpusRefresh.refreshStream
    // over the SAME store as q_incremental_refresh — a file source
    // delivers the first half of the flagship's batch as 2 ascending-id
    // micro-batch files (maxFilesPerTrigger=1), each foreachBatch runs
    // the persisted-state refresh, and the final census must hash-match
    // the one-shot refresh's oracle. Every streamed micro-batch is an
    // at-least-once REPLAY of already-refreshed data (foreachBatch's
    // delivery window, deliberately): exactly-once end to end means a
    // replay appends NOTHING and the census stays bit-identical, and
    // that is precisely what the shared twin checks — any leaked
    // append shifts a count. In the sorted Verify/Bench order the
    // flagship has already paid establish+refresh, so this row costs
    // only the two micro-batch probes (O(micro-batch) each, the
    // at-scale per-epoch price); standalone on a fresh scratch the
    // bootstrap below reproduces the flagship's state first (the
    // establish-once contract), keeping the row order-independent.
    "q_refresh_stream" -> ((s, dir) => {
      val path = scratch(dir, "refresh")
      val docs = t(s, dir, "documents").filter(col("doc_id") % 2 === 0)
      val batch = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      if (!CorpusRefresh.established(s, s"$path/mh")) {
        CorpusRefresh.establish(
          docs.filter(pmod(col("doc_id"), lit(3)) =!= 0),
          "doc_id", "text", s"$path/table", s"$path/mh")
        CorpusRefresh.refresh(batch, "doc_id", "text", s"$path/table",
                              s"$path/mh", tau = 0.7, minTokens = 20)
          .unpersist(false)
      }
      val inDir = s"$path/in"
      val inPath = new org.apache.hadoop.fs.Path(inDir)
      val fs = inPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(inPath)) {
        // 2 single-file micro-batches, ascending id quartiles of the
        // batch's first half, written oldest-first (the file source's
        // processing order)
        val tiled = batch
          .withColumn("__t", ntile(4).over(Window.orderBy(col("doc_id"))))
        val seen = scala.collection.mutable.Set.empty[String]
        (1 to 2).foreach { i =>
          tiled.filter(col("__t") === i).drop("__t")
            .coalesce(1).write.mode("append").parquet(inDir)
          stampEpochOrder(fs, inPath, i, seen)
        }
      }
      val q = CorpusRefresh.refreshStream(
        s.readStream.schema(t(s, dir, "documents").schema)
          .option("maxFilesPerTrigger", 1).parquet(inDir),
        "doc_id", "text", s"$path/table", s"$path/mh",
        tau = 0.7, minTokens = 20, checkpoint = s"$path/ckpt")
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(s"$path/table")
        .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    }),

    // MinhashIndex.ingestStream board row (r8 verdict task): streaming
    // probe+append against the persisted signature index — the ingest
    // quarter (mod-4 ≡ 2) arrives as 2 ascending-id-half micro-batch
    // files against the standing mod-4 ≡ 0 index. Epoch 1 probes the
    // original index; epoch 2 probes index ∪ epoch 1 (its append is
    // live), so the streamed union = cross-quarter pairs PLUS the
    // within-quarter pairs that straddle the half boundary — the oracle
    // models the boundary with the same ntile(2) split. Establish-once
    // (q_refresh_stream recipe): later runs replay processAllAvailable
    // as a checkpointed no-op and the pairs census must stay
    // bit-identical — the exactly-once-under-replay contract,
    // driver-checked. id_a = index member at probe time, id_b = probe
    // member (so within-quarter pairs carry id_a from the FIRST half).
    "q_ingest_stream" -> ((s, dir) => {
      val root = scratch(dir, "mhingest")
      val docs = t(s, dir, "documents")
      val mhRoot = s"$root/mh"
      val inDir = s"$root/in"
      val pairsOut = s"$root/pairs"
      val marker = new org.apache.hadoop.fs.Path(s"$mhRoot/params")
      val fs = marker.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(marker)) {
        Sinks.dropTable(s, root)
        MinhashIndex.build(docs.filter(pmod(col("doc_id"), lit(4)) === 0),
                           "doc_id", "text", mhRoot,
                           n = 12, k = 64, bands = 16)
        // 2 single-file micro-batches: ascending-id halves of the
        // ingest quarter, written oldest-first (file-source order)
        val tiled = docs.filter(pmod(col("doc_id"), lit(4)) === 2)
          .withColumn("__h", ntile(2).over(Window.orderBy(col("doc_id"))))
        val inP = new org.apache.hadoop.fs.Path(inDir)
        val seen = scala.collection.mutable.Set.empty[String]
        (1 to 2).foreach { i =>
          tiled.filter(col("__h") === i).drop("__h")
            .coalesce(1).write.mode("append").parquet(inDir)
          stampEpochOrder(fs, inP, i, seen)
        }
      }
      val q = MinhashIndex.ingestStream(
        s.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", 1).parquet(inDir),
        "doc_id", "text", mhRoot, tau = 0.7, pairsOut,
        checkpoint = s"$root/ckpt")
      try q.processAllAvailable() finally q.stop()
      s.read.parquet(pairsOut)
        .select(col("id_a"), col("id_b"), col("jaccard"))
    }),

    // Semantic-ONLY near-dups: embedding-cosine pairs the lexical
    // (n-gram Jaccard) join cannot see — the paraphrase/translation gap
    // lexical dedup leaves open. Composes two oracle-verified pair sets
    // with an anti-join on the canonical (id_a < id_b) pair key; the
    // lexical side rides the LSH sketch path (same exact-verified truth)
    "q_semantic_dups" -> ((s, dir) => {
      val cos = SimilarityOps.cosinePairs(t(s, dir, "embeddings"),
                                          "vec_id", "embedding", tau = 0.45)
      val lex = DedupOps.minhashLshPairs(t(s, dir, "documents"),
                                         "doc_id", "text",
                                         n = 12, k = 64, bands = 16,
                                         tau = 0.7)
        .select(col("id_a"), col("id_b"))
      cos.join(lex, Seq("id_a", "id_b"), "left_anti")
    }),

    // Batched exact k-NN join: every query vector (ids < 5) → top-3
    // corpus neighbors; the serving/eval retrieval shape
    "q_knn_join" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      SimilarityOps.knnJoin(e.filter(col("vec_id") < 5),
                            e.filter(col("vec_id") >= 5),
                            "vec_id", "embedding", k = 3)
    }),

    // Margin-based pair mining (CCMatrix/LASER ratio margin): pairs
    // (even-id x, odd-id y) where cos(x,y) beats the MEAN of both
    // endpoints' top-4 cross-side neighborhoods by ≥ 1.1× — the
    // density-normalized selection an absolute τ can't express
    "q_margin_mine" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      SimilarityOps.marginMine(
        e.filter(pmod(col("vec_id"), lit(2)) === 0),
        e.filter(pmod(col("vec_id"), lit(2)) === 1),
        "vec_id", "embedding", k = 4, tau = 1.1)
    }),

    // Int8 embedding quantization (4× ANN memory cut); explicit
    // round-half-up keeps the codes engine-portable. The code vector is
    // ','-joined for the compare (q_collect_arrays precedent: a raw
    // array column is unhashable in the driver's pandas sort).
    "q_quantize" -> ((s, dir) =>
      Verify.stringifyArrays(
        SimilarityOps.quantizeInt8(t(s, dir, "embeddings"),
                                   "vec_id", "embedding"),
        "qvec")),

    // Quantized SERVING: top-10 cosine over the int8 codes (4×-compressed
    // corpus). Exactly oracle-checkable — cosine over codes is
    // scale-free and integer dots are order-independent-exact in double
    "q_int8_topk" -> ((s, dir) =>
      SimilarityOps.int8TopK(t(s, dir, "embeddings"),
                             "vec_id", "embedding", probeId = 0L, k = 10)),

    // Parquet schema evolution: a second batch adds a column; the
    // mergeSchema read unions the schemas and back-fills null — the lake
    // ingest reality the warehouse boundary (S10) must survive
    "q_schema_evolution" -> ((s, dir) => {
      val path = scratch(dir, "schema_evo")
      val o = t(s, dir, "orders")
      o.select(col("o_orderkey"), col("o_totalprice"))
        .write.mode("overwrite").parquet(s"$path/b=1")
      o.select(col("o_orderkey"), col("o_totalprice"),
               col("o_orderstatus"))
        .write.mode("overwrite").parquet(s"$path/b=2")
      s.read.option("mergeSchema", "true")
        .parquet(s"$path/b=1", s"$path/b=2")
        .agg(count(lit(1)).as("n"),
             round(sum(col("o_totalprice")), 2).as("price_sum"),
             count(col("o_orderstatus")).as("status_rows"))
    }),

    // Deterministic corpus mixing: cap src0 at 25%, src1 at 50%, drop
    // src2, keep the rest — RNG-free (md5 coin), so the mix is
    // re-derivable and engine-checkable
    "q_corpus_mix" -> ((s, dir) =>
      TextOps.mixSample(t(s, dir, "documents"), "source",
                        Map("src0" -> 0.25, "src1" -> 0.5, "src2" -> 0.0))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("kept"))),

    // Stratified sample: EXACTLY 20 docs per source by md5-coin order —
    // the hard-budget mix spec (mixSample's rate cousin); rank <= k on
    // the raw row_number keeps the WindowGroupLimit partial below the
    // exchange (spec-asserted)
    "q_stratified_sample" -> ((s, dir) =>
      TextOps.stratifiedSample(t(s, dir, "documents"), "source", "doc_id",
                               k = 20)
        .select(col("source"), col("doc_id"))),

    // Weighted sample WITHOUT replacement (Efraimidis–Spirakis A-ES):
    // 100 docs ∝ n_chars via the u^(1/w) key race — one scan + a
    // TakeOrderedAndProject, re-derivable on any retry
    "q_weighted_sample" -> ((s, dir) =>
      TextOps.weightedSample(t(s, dir, "documents"), k = 100,
                             idCol = "doc_id", weightCol = "n_chars",
                             seed = "11")),

    // Bigram-LM corpus scoring (the CCNet perplexity-filter shape,
    // Wenzek et al. LREC'20): train add-α bigram counts (minCount=2
    // prunes the tail and bounds the model), score every document's
    // TOTAL negative log-likelihood (+ n_bigrams, so the mean is
    // derivable). Per-bigram log-probs round to the shared 1e-6 grid
    // BEFORE the sum (the bm25 grid-collapse trick); the sum — never
    // the mean — is what stays off round-half points in both engines
    "q_lm_score" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextOps.lmScore(docs, TextOps.lmTrain(docs, minCount = 2L))
    }),

    // Temperature-flattened language mix (α=0.5 — the mBERT/XLM-R
    // exponential-smoothing rebalance): census of kept docs per lang
    // with the group's deterministic md5-coin acceptance rate
    "q_temperature_mix" -> ((s, dir) =>
      TextOps.temperatureMix(t(s, dir, "documents"), "lang", alpha = 0.5)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("kept"), max(col("rate")).as("rate"))),

    // Distilled quality classifier (the fastText / FineWeb-Edu filter
    // shape): weak labels from the heuristic score, hashed-BoW logistic
    // regression trained by deterministic full-batch GD (weights fold
    // into each pass as ONE array literal — no weight-table join), the
    // whole corpus scored by the trained model. Rows-only (iterative-GD
    // internals, the k-means precedent), but the output carries the
    // trained model's CHECKSUM as a constant column: the GD is RNG-free,
    // and QualityClassifierSpec pins this exact query path's checksum
    // against an independent scalar reimplementation of the loop — the
    // board row is verified, not just counted.
    // Distilled quality classifier: heuristic labels → 8 rounds of
    // full-batch GD (portable md5-bucket features, per-iteration
    // 1e-9-grid weights) → corpus scores. HASH-EXACT against an
    // unrolled-CTE oracle that re-trains the model in DuckDB — every
    // coefficient is verified end-to-end through the served scores
    // (strictly stronger than r7's driver-side model fingerprint).
    "q_quality_classifier" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val labels = docs.select(col("doc_id"),
        (TextOps.qualityScore(col("text")) >= 0.5).cast("double").as("y"))
      val w = QualityClassifier.train(docs, labels, dim = 64, iters = 8)
      QualityClassifier.score(docs, w)
    }),

    // DSIR data selection (Xie et al. NeurIPS'23): src0 is the trusted
    // reference slice, everything else is the raw crawl; keep the 200
    // raw docs whose hashed-n-gram profile most resembles the target.
    // Both corpus models are ≤ dim-row broadcasts; only (id, bucket, c)
    // triples ever shuffle
    "q_dsir_select" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextOps.dsirSelect(docs.filter(col("source") =!= "src0"),
                         docs.filter(col("source") === "src0"), k = 200)
    }),

    // Deterministic epoch shuffle: every doc's position under the
    // seed-42 permutation. The rank is assembled from range partitions +
    // broadcast offsets — the oracle's naive global window is exactly
    // what the operator exists to avoid
    "q_shuffle_order" -> ((s, dir) =>
      TextOps.shuffleOrder(t(s, dir, "documents"), seed = "42")),

    // Explicit GROUPING SETS ((source), (lang), ()) with grouping
    // flags — the custom-lattice cousin of rollup/cube; one aggregate
    // pass expands the sets, partial aggregation still applies
    "q_grouping_sets" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupingSets(Seq(Seq(col("source")), Seq(col("lang")), Seq()),
                      col("source"), col("lang"))
        .agg(grouping(col("source")).cast("int").as("g_src"),
             grouping(col("lang")).cast("int").as("g_lang"),
             count(lit(1)).as("n"))),

    // Curriculum order (easy→hard by n_chars, 4 tiers, seeded shuffle
    // WITHIN tiers): two rangeRank passes, never a global sort
    "q_curriculum" -> ((s, dir) =>
      TextOps.curriculumOrder(t(s, dir, "documents"), "doc_id",
                              "n_chars", nTiers = 4, seed = "7")),

    // Gopher rule report (Rae et al. 2021 A1.1.2): per-doc booleans for
    // the seven format/repetition rules + the conjunction, one narrow
    // scan-speed projection
    "q_gopher_rules" -> ((s, dir) =>
      TextOps.gopherRules(t(s, dir, "documents"))),

    // Content-safety blocklist gate (C4 §2.2 bad-words filter /
    // RefinedWeb §3.1 blocklists): distinct blocklisted-term census per
    // doc + gate boolean; the list folds to ONE broadcast row, zero
    // corpus shuffle, exact string matching. Mixed-case/padded terms
    // exercise the normalization contract.
    "q_blocklist_gate" -> ((s, dir) => {
      import s.implicits._
      TextOps.blocklistGate(t(s, dir, "documents"),
                            Seq("dup", "vector", " Leak ").toDF("term"))
    }),

    // Per-doc curation REASON report (the "why was my doc dropped"
    // audit): C4-style gates — lang allowlist, blocklist, token floor,
    // exact-dup canonical, null text — with a sorted reason list
    "q_curation_report" -> ((s, dir) => {
      import s.implicits._
      graft.pipeline.CorpusPipeline.curationReport(
        t(s, dir, "documents"), Seq("dup").toDF("term"),
        langs = Seq("en", "es"), minTokens = 40)
    }),

    // CCNet head/middle/tail: bigram-LM mean-nll terciles per language
    // (exact percentiles, n_langs-row broadcast back)
    "q_perplexity_buckets" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextOps.perplexityBuckets(docs, TextOps.lmTrain(docs, minCount = 2L))
    }),

    // Token-budget sample: first ~10k tokens of the seed-42 shuffle
    // order, global prefix sum assembled from range partitions +
    // broadcast per-partition totals (integer-exact)
    "q_token_budget" -> ((s, dir) =>
      TextOps.tokenBudget(t(s, dir, "documents"), budget = 10000L,
                          seed = "42")),

    // Data-recipe mix: 50/30/20 of a 1500-token budget across three
    // sources, each spent along that source's own seed-42 shuffle order
    // (grouped prefix sums; budgets 750/450/300 land as literals in the
    // oracle)
    "q_recipe_mix" -> ((s, dir) =>
      TextOps.recipeMix(t(s, dir, "documents"),
        Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2),
        budget = 1500L, seed = "42")),

    // Balanced shard export: 8 equal-token shards along the seed-42
    // shuffle order, written as partition dirs, census read back from
    // disk (token-mass boundaries — doc-count striping would let long
    // docs unbalance shards)
    "q_shard_export" -> ((s, dir) => {
      val path = scratch(dir, "shard_export")
      val docs = t(s, dir, "documents")
      val assigned = TextOps.shardAssign(docs, nShards = 8, seed = "42")
      Sinks.writePartitioned(
        assigned.join(docs.select(col("doc_id"), col("text")), Seq("doc_id")),
        "shard", path)
      s.read.parquet(path)
        // the partition dir reads back as int; the oracle census is long
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
    }),

    // Sequence packing: chunk stream → 512-token bins, sequential within
    // each language (per-key window, never a global sort)
    "q_pack_chunks" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val chunks = TextOps.chunkDocs(docs, "text", chunkTokens = 50,
                                     overlap = 10)
      val keyed = chunks.join(docs.select(col("doc_id"), col("lang")),
                              "doc_id")
      TextOps.packChunks(keyed, "lang", Seq("doc_id", "chunk_idx"),
                         "chunk_tokens", budget = 512)
        .groupBy(col("lang"), col("bin"))
        .agg(count(lit(1)).as("n_chunks"),
             sum(col("chunk_tokens")).as("bin_tokens"))
    }),

    // Top-3 TF-IDF terms per document (keyword extraction for domain
    // tagging / corpus mixing); ranked by rounded score then term for a
    // deterministic engine-portable selection
    "q_tfidf" -> ((s, dir) =>
      TextOps.tfidfTopTerms(t(s, dir, "documents"), "doc_id", "text",
                            k = 3)),

    // ORC round-trip: the third columnar format a warehouse boundary
    // speaks (parquet and CSV are covered elsewhere) — write, re-read,
    // aggregate; the oracle computes the same aggregate from the source
    // parquet, so the round-trip must be lossless
    "q_orc_roundtrip" -> ((s, dir) => {
      val path = scratch(dir, "orc_roundtrip")
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
                col("o_totalprice"))
        .write.mode("overwrite").orc(path)
      s.read.orc(path)
        .agg(count(lit(1)).as("n"),
             sum(col("o_orderkey")).as("key_sum"),
             round(sum(col("o_totalprice")), 2).as("price_sum"),
             countDistinct(col("o_orderstatus")).as("n_status"))
    }),

    // JSON-lines round-trip: the interchange format crawl/annotation
    // pipelines actually exchange — write, re-read with a DECLARED schema
    // (no inference job over 100 TB), aggregate; oracle computes the same
    // aggregate from the source parquet, so the trip must be lossless
    "q_jsonl_roundtrip" -> ((s, dir) => {
      val path = scratch(dir, "jsonl_roundtrip")
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
                col("o_totalprice"))
        .write.mode("overwrite").json(path)
      s.read.schema("o_orderkey long, o_orderstatus string, o_totalprice double")
        .json(path)
        .agg(count(lit(1)).as("n"),
             sum(col("o_orderkey")).as("key_sum"),
             round(sum(col("o_totalprice")), 2).as("price_sum"),
             countDistinct(col("o_orderstatus")).as("n_status"))
    }),

    // Benchmark decontamination: docs outside src0 sharing ≥1 long
    // (30-char) n-gram with the src0 "benchmark" slice — the pre-training
    // leak check. At n=30 only true cross-source near-dup plants flag
    // (n=12 would flag ~the whole templated corpus).
    "q_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      DedupOps.contamination(docs.filter(col("source") =!= "src0"),
                             docs.filter(col("source") === "src0"),
                             "doc_id", "text", n = 30)
    }),

    // Bloom-screened decontamination: same contract as q_decontaminate
    // (bit-identical result — the screen has no false negatives and the
    // exact verify removes its false positives), but the reference gram
    // set folds to Bloom BITS (~10/gram) instead of precise 64-bit
    // hashes — the corpus-vs-corpus / blocklist scale path. Shares
    // q_decontaminate's oracle SQL verbatim.
    "q_decontaminate_bloom" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      DedupOps.contaminationScreened(docs.filter(col("source") =!= "src0"),
                                     docs.filter(col("source") === "src0"),
                                     "doc_id", "text", n = 30)
    }),

    // Span-granular decontamination: the exact verbatim spans corpus
    // docs share with the src0 "benchmark" slice — the surgical cut
    // list (removeSharedSpans shape) where q_decontaminate only flags
    // whole docs. Benchmark gram stream broadcast; corpus never shuffled
    "q_decontaminate_spans" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      DedupOps.sharedSpansBetween(docs.filter(col("source") =!= "src0"),
                                  docs.filter(col("source") === "src0"),
                                  "doc_id", "text", n = 30, minLen = 60)
    }),

    // Cross-document exact-substring dedup (Lee et al. 2022 ExactSubstr):
    // maximal verbatim spans ≥ 50 chars shared between distinct docs —
    // the contamination shape document-level dedup can't see. Anchors on
    // positional 25-char gram hashes, diagonal gaps-and-islands, exact
    // (maxDf=0) so the DuckDB string-gram oracle matches hash-exact.
    "q_substring_dedup" -> ((s, dir) =>
      DedupOps.sharedSpans(t(s, dir, "documents"), "doc_id", "text",
                           n = 25, minLen = 50)),

    // The removal ACTION for shared spans: cut each span from its
    // pair's higher-id doc (lowest-id occurrence survives — the
    // canonical-min convention); overlapping cuts interval-merge before
    // splicing. Output = affected docs with their cleaned text —
    // oracle-exact including the spliced string itself.
    "q_span_removal" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      DedupOps.removeSharedSpans(
        docs,
        DedupOps.sharedSpans(docs, "doc_id", "text", n = 25, minLen = 50),
        "doc_id", "text")
    }),

    // Heavy-hitter 12-char grams by document frequency (boilerplate
    // DISCOVERY): CMS screen + exact verify — result EXACT, the sketch
    // only prunes, so the plain group-count oracle matches hash-exact.
    "q_heavy_grams" -> ((s, dir) =>
      DedupOps.heavyGrams(t(s, dir, "documents"), "doc_id", "text",
                          n = 12, minDf = 10L, width = 1 << 17)),

    // Line-granular cross-document dedup (the CCNet/RefinedWeb
    // boilerplate pass): a whole line occurring in ≥ 2 distinct docs
    // keeps only its global first occurrence (min doc, min pos); docs
    // reassemble in line order. Blank/whitespace-only lines (paragraph
    // separators) are exempt from the cut — CCNet/RefinedWeb practice.
    // Oracle-exact including the reassembled text (the q_span_removal
    // precedent).
    "q_line_dedup" -> ((s, dir) =>
      DedupOps.lineDedup(t(s, dir, "documents"), "doc_id", "text",
                         minDocs = 2)),

    // WITHIN-doc duplicate-line removal (the dupLineFraction gate's
    // ACTION): first occurrence kept, order preserved — a zero-shuffle
    // narrow projection.
    "q_dedup_lines_within" -> ((s, dir) =>
      DedupOps.dedupLinesWithin(t(s, dir, "documents"), "doc_id", "text")),

    // Length-bucketed batching (dynamic-batching layout): global
    // (length, id) rank without a global sort → 32-seq batches →
    // per-batch padding report.
    "q_length_batches" -> ((s, dir) =>
      TextOps.lengthBatches(t(s, dir, "documents"), batchSize = 32)),

    // Duplicate CLUSTERS: near-dup pairs (LSH sketch path) → alternating
    // large-star/small-star connected components → per-cluster canonical
    // member + sorted member list. Closes the dedup loop: pairs alone
    // can't collapse transitive chains (A~B~C with no direct A~C pair —
    // sf0.01 has one such 3-cluster). Oracle: recursive min-label
    // transitive closure over the exact-Jaccard pair truth in DuckDB.
    // Member list ','-joined for the compare (q_collect_arrays
    // precedent: raw arrays are unhashable in the driver's pandas sort).
    "q_dup_clusters" -> ((s, dir) =>
      Verify.stringifyArrays(
        ConnectedComponents.duplicateClusters(
          DedupOps.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text",
                                   n = 12, k = 64, bands = 16, tau = 0.7),
          assumeDistinct = true),
        "members")),

    // ——— Graph analytics (GraphOps scaladoc for the scale contracts:
    // basket-bounded edge generation, no node-sized broadcasts, degree
    // orientation) — the link-graph quality signals of web-corpus
    // curation, demoed on the co-purchase graph. ———

    // PageRank as a document-quality prior: 3 fixed power iterations
    // (d = 0.85) over the sixth-basket co-purchase subgraph (modulus 6 —
    // the fixture dial; the full sf0.1 graph is 1.2M edges × avg degree
    // 120, a dense demo that priced at ~5.4 s warm), each iteration's
    // ranks rounded onto a shared 1e-9 grid in BOTH engines so
    // summation-order ulps never compound (the AnnOracles determinism
    // recipe, applied to an iterative graph dataflow). Oracle: the same
    // dataflow as an unrolled 3-step CTE chain. Top 25 parts.
    "q_pagerank" -> ((s, dir) =>
      GraphOps.pageRank(
          GraphOps.coPurchaseEdges(t(s, dir, "lineitem"), modulus = 6),
          iters = 3)
        .orderBy(col("pr").desc, col("node").asc).limit(25)
        .select(col("node").as("part_key"), col("pr"))),

    // Personalized PageRank (Haveliwala WWW'02): teleport over a seed
    // set — "more parts like these" relevance through co-purchase
    // structure, the graph-walk counterpart of the ANN/kNN expansion
    // queries. Seeds = part keys ≡ 0 (mod 100) (deterministic,
    // SQL-expressible); fifth-basket subgraph; zero-mass rows dropped
    // before each in-neighbor sum in BOTH engines, so early iterations
    // cost |frontier|, not |V|. TWO iterations — seeds + the 2-hop
    // frontier, the short-walk regime PPR is used in (and the iterative
    // DAG's fixed AQE cost is the whole price at demo scale; q_pagerank
    // keeps the canonical 3). Oracle: the seeded unrolled CTE chain.
    "q_ppr" -> ((s, dir) =>
      GraphOps.personalizedPageRank(
          GraphOps.coPurchaseEdges(t(s, dir, "lineitem"), modulus = 5),
          t(s, dir, "part").select(col("p_partkey").as("node"))
            .filter(col("node") % 100 === 0),
          iters = 2)
        .orderBy(col("ppr").desc, col("node").asc).limit(25)
        .select(col("node").as("part_key"), col("ppr"))),

    // Triangle + local-clustering-coefficient census (community /
    // spam-structure signal) on the twentieth-basket subgraph (orderkey %
    // 20 — wedge volume is Σ out-deg², quadratic in density, so the
    // census fixture right-sizes harder than PageRank's; the operator
    // is unchanged at any modulus). Counts are exact integers; lcc is
    // one rounded exact division — hash-exact arithmetic throughout.
    "q_triangles" -> ((s, dir) =>
      GraphOps.triangleStats(
          GraphOps.coPurchaseEdges(t(s, dir, "lineitem"), modulus = 20))
        .orderBy(col("tri").desc, col("node").asc).limit(25)
        .select(col("node").as("part_key"), col("deg"), col("tri"),
                col("lcc"))),

    // SimHash near-dup pairs: 16-bit band candidates, hamming ≤ 3 verify.
    // 4 bands × 16 bits guarantee a band collision for hamming ≤ 3
    // (pigeonhole), so the ≤3 output is COMPLETE; a larger hamming bound
    // would need more/narrower bands. (native simhash64 expression; no
    // SQL oracle — hash internals)
    "q_simhash_pairs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"),
                TextExpressions.simhash64(TextOps.tokens(col("text")))
                  .as("sh"))
      val bands = array((0 until 4).map(b =>
        struct(lit(b).as("band"),
               shiftrightunsigned(col("sh"), b * 16)
                 .bitwiseAND(lit(0xffffL)).as("key"))): _*)
      val bucketed = docs.select(col("doc_id"), col("sh"),
                                 explode(bands).as("bb"))
        .select(col("doc_id"), col("sh"), col("bb.band").as("band"),
                col("bb.key").as("key"))
      bucketed.as("a")
        .join(bucketed.as("b"),
              col("a.band") === col("b.band") &&
                col("a.key") === col("b.key") &&
                col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
                bit_count(col("a.sh").bitwiseXOR(col("b.sh")))
                  .as("hamming"))
        .distinct()
        .filter(col("hamming") <= 3)
    }),

    // Document fingerprints: simhash + rolling hash (native expressions,
    // deterministic; no SQL oracle)
    "q_fingerprints" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
                TextExpressions.simhash64(TextOps.tokens(col("text")))
                  .as("simhash"),
                TextExpressions.rollingHash(col("text")).as("rhash"))),

    // Brute-force cosine top-k (exact ANN baseline)
    "q_cosine_topk" -> ((s, dir) =>
      SimilarityOps.topKNeighbors(t(s, dir, "embeddings"),
                                  "vec_id", "embedding",
                                  probeId = 0L, k = 10)),

    // All-pairs cosine ≥ τ (embedding near-dup contract)
    "q_cosine_pairs" -> ((s, dir) =>
      SimilarityOps.cosinePairs(t(s, dir, "embeddings"),
                                "vec_id", "embedding", tau = 0.45)),

    // k-center greedy coreset (diversity-first selection): 8 spread
    // representatives of the embedding corpus with their coverage
    // radii. Iterative farthest-point, yet oracle-EXACT: the greedy
    // loop unrolls to a generated k-step CTE chain (kcenterOracle) that
    // reproduces the argmax sequence pick for pick
    "q_kcenter_select" -> ((s, dir) =>
      SimilarityOps.kCenterSelect(t(s, dir, "embeddings"),
                                  "vec_id", "embedding", k = 8)),

    // Semantic decontamination: label-0 vectors play the benchmark/test
    // set, the rest the corpus; the benchmark folds to one broadcast row
    // (zero corpus shuffle — see SimilarityOps.semanticDecontaminate)
    "q_semantic_decon" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilarityOps.semanticDecontaminate(
        emb.filter(col("label") =!= 0), emb.filter(col("label") === 0),
        "vec_id", "embedding", tau = 0.4)
    }),

    // Hard-negative mining (DPR/SimCSE): per anchor, top-3 most-similar
    // corpus vectors with a DIFFERENT label — label filter BEFORE the
    // ranking. Anchors = the 5 lowest vec_ids (batch ≪ corpus contract).
    "q_hard_negatives" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      SimilarityOps.hardNegatives(emb.filter(col("vec_id") < 5), emb,
                                  "vec_id", "embedding", "label", k = 3)
    }),

    // SemDeDup (Abbas et al. 2023): seed-codebook clusters bound the
    // pairwise cosine search; within each duplicate component the member
    // with the LOWEST centroid cosine survives (the paper's keep rule).
    // Oracle recomputes assignment + within-list pairs + recursive
    // closure + keep rule in DuckDB.
    "q_semdedup" -> ((s, dir) =>
      SimilarityOps.semDeDup(t(s, dir, "embeddings"), "vec_id", "embedding",
                             tau = 0.45, nlist = 4)),

    // LSH-bucketed ANN (scale path; recall measured in spec, no oracle)
    "q_ann_topk" -> ((s, dir) =>
      SimilarityOps.annTopK(t(s, dir, "embeddings"), "vec_id", "embedding",
                            probeId = 0L, k = 10, bits = 4)),

    // IVF assign + probe against the seed codebook (scale path, no oracle)
    "q_ivf_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = SimilarityOps.seedCentroids(emb, "vec_id", "embedding", 8)
      val assigned = SimilarityOps.ivfAssignTo(emb, "vec_id", "embedding",
                                               cents)
      SimilarityOps.ivfTopK(assigned, cents, "vec_id", "embedding",
                            probeId = 0L, k = 10, nprobe = 3)
    }),

    // ANN quality dial: recall@10 vs the exact twin across the nprobe
    // grid, one candidate pass for the whole grid. Rows-only (IVF
    // internals); the nprobe=nlist ⇒ recall=1.0 endpoint and
    // monotonicity are spec-pinned (AnnOpsSpec).
    "q_ann_eval" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = SimilarityOps.seedCentroids(emb, "vec_id", "embedding", 8)
      val assigned = SimilarityOps.ivfAssignTo(emb, "vec_id", "embedding",
                                               cents)
      SimilarityOps.annEval(assigned, cents, "vec_id", "embedding",
                            probeIds = Seq(0L, 7L, 23L, 54L, 91L), k = 10,
                            nprobes = Seq(1, 2, 4, 8))
        // the shared eval contract — UNIONs with q_lsh_eval/q_pq_eval
        .select(lit("ivf-cosine").as("family"),
                concat(lit("nprobe="), col("nprobe")).as("config"),
                col("n_candidates"), col("n_verified"),
                col("recall"), col("precision"))
    }),

    // The bits half of the ANN quality grid (annEval sweeps nprobe):
    // recall@10 per PQ codebook config vs the exact L2 twin. Rows-only
    // (k-means internals); saturation ⇒ 1.0 and the hand-built-sweep
    // equality are spec-pinned (AnnOpsSpec).
    "q_pq_eval" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      // grid-train in ONE bookkeeping pass (r12 task 5): the dims probe
      // and the gated driver collect are config-independent, so the
      // two-config grid schedules 2 train jobs instead of 4 — codebooks
      // byte-identical to per-config pqTrain (PqSpec pins it)
      val Seq(fine, coarse) = SimilarityOps.pqTrainGrid(
        emb, "vec_id", "embedding", nsub = 8, codesGrid = Seq(16, 2),
        iters = 1)
      SimilarityOps.pqEval(emb, "vec_id", "embedding",
                           Seq("8x16" -> fine, "8x2" -> coarse),
                           probeIds = Seq(0L, 23L, 91L), k = 10)
        // the shared eval contract — UNIONs with q_lsh_eval/q_ann_eval
        .select(lit("pq-l2").as("family"),
                concat(lit("codebook="), col("config")).as("config"),
                col("n_candidates"), col("n_verified"),
                col("recall"), col("precision"))
    }),

    // Day-2 index ops: per-list drift report of an incoming batch vs
    // the frozen saved codebook — the appendIndex "retrain now" signal.
    // Rows-only (persisted-index internals); planted-drift behavior is
    // spec-pinned (AnnOpsSpec).
    "q_index_drift" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val old = emb.filter(pmod(col("vec_id"), lit(4)) =!= 0)
      val batch = emb.filter(pmod(col("vec_id"), lit(4)) === 0)
      val path = scratch(dir, "drift_index")
      val cents = SimilarityOps.ivfTrain(old, "vec_id", "embedding",
                                         nlist = 8, iters = 1)
      SimilarityOps.saveIndex(
        SimilarityOps.ivfAssignTo(old, "vec_id", "embedding", cents),
        cents, path)
      SimilarityOps.indexDrift(batch, "vec_id", "embedding", path)
        .orderBy(col("list_id"))
    }),

    // The drift signal's ACTION: seed-codebook index on the even half,
    // appendIndex the odd half against the frozen codebook, then
    // reindex (retrain on the index's own contents + atomic root swap)
    // and serve with nprobe = nlist. ORACLE-EXACT against the
    // brute-force cosine top-k over the whole table: exactness proves
    // the append inserted each id exactly once, the rebuild preserved
    // the corpus bit-for-bit through the swap, and nprobe=all ≡ exact —
    // the k-means internals never touch the served VALUES, only the
    // pruning layout.
    "q_reindex" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val base = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
      val batch = emb.filter(pmod(col("vec_id"), lit(2)) === 1)
      val path = scratch(dir, "reindex")
      val cents = SimilarityOps.seedCentroids(base, "vec_id", "embedding",
                                              nlist = 8)
      SimilarityOps.saveIndex(
        SimilarityOps.ivfAssignTo(base, "vec_id", "embedding", cents),
        cents, path)
      SimilarityOps.appendIndex(batch, "vec_id", "embedding", path)
      SimilarityOps.reindex(s, path, "vec_id", "embedding",
                            nlist = 8, iters = 2)
      val (lists, cb) = SimilarityOps.loadIndex(s, path)
      SimilarityOps.ivfTopK(lists, cb, "vec_id", "embedding",
                            probeId = 0L, k = 10, nprobe = 8)
    }),

    // PCA projection, HASH-EXACT via sign-invariant outputs on the
    // planted-spectrum fixture (the q_pca_scree recipe, r9 promotion):
    // single-nonzero-coordinate vectors make the covariance EXACTLY
    // diagonal (off-diagonal sums are sums of 0.0; coordinate means
    // cancel to exactly 0.0 — integer ± pairs are exact in FP at any
    // summation order, so the usual "covariance moves by ulps across
    // partitionings" hazard is structurally absent), the eigenvalues
    // are the per-coordinate variances, and the top-6 eigenBASIS is the
    // 6 largest-variance coordinate axes. The emitted quantities never
    // see LAPACK's basis-sign: per-component SQUARED projections p0..p5
    // and the reconstruction error ‖x−μ‖² − ‖proj‖² (orthonormal-basis
    // identity — nonzero exactly for docs whose planted coordinate
    // ranks below the kept 6). The operator still runs its full
    // covariance-aggregate + driver-eigen + broadcast-projection path;
    // the real-corpus demo rides PcaSpec (orthonormality, planted-axis
    // recovery, whitening) where basis signs are free to be LAPACK's.
    "q_pca_embed" -> ((s, dir) => {
      val d = 8
      val k = 6
      val coord = pmod(shiftright(col("doc_id"), 1), lit(d))
      val sign = when(pmod(col("doc_id"), lit(2)) === 0, lit(1.0))
        .otherwise(lit(-1.0))
      val planted = t(s, dir, "documents").select(
        col("doc_id"),
        transform(sequence(lit(0), lit(d - 1)), j =>
          when(j.cast("long") === coord,
               sign * (coord + 1).cast("double"))
            .otherwise(lit(0.0))).as("embedding"))
      val model = graft.similarity.EmbeddingPca.fit(planted, "embedding", k)
      val proj = graft.similarity.EmbeddingPca.project(
        planted, "doc_id", "embedding", model)
      val mu = typedLit(model.mean.toSeq)
      val xNorm2 = aggregate(
        zip_with(col("embedding"), mu, (x, m) => (x - m) * (x - m)),
        lit(0.0), (acc, v) => acc + v)
      val pNorm2 = aggregate(
        transform(col("proj"), p => p * p), lit(0.0), (acc, v) => acc + v)
      val pCols = (0 until k).map { i =>
        val p = element_at(col("proj"), i + 1)
        round(p * p, 6).as(s"p$i")
      }
      planted.join(proj, "doc_id")
        .select(Seq(col("doc_id")) ++ pCols :+
          round(xNorm2 - pNorm2, 6).as("rec_err2"): _*)
    }),

    // The scree report off the same single-pass covariance: per-
    // component eigenvalue + cumulative fraction of total variance —
    // the "how many dims does MY corpus need" dial that prices the
    // PCA/IVF/PQ dimension choices. HASH-EXACT via a PLANTED SPECTRUM:
    // each doc becomes a single-nonzero-coordinate vector (coordinate
    // = ⌊doc_id/2⌋ mod 8, magnitude = coordinate+1, sign alternating
    // within each consecutive id pair), so coordinate means cancel to
    // EXACTLY 0.0 (pairwise ±integer sums stay integral in FP) and the
    // empirical covariance is exactly diagonal with distinct entries —
    // the eigenvalues ARE the per-coordinate variances, computable in
    // SQL without touching LAPACK's basis-sign hazard, while the
    // operator still runs its full covariance-aggregate + driver-eigen
    // path. The real-corpus demo stays on q_pca_embed (rows-only,
    // spec-pinned).
    "q_pca_scree" -> ((s, dir) => {
      val d = 8
      val coord = pmod(shiftright(col("doc_id"), 1), lit(d))
      val sign = when(pmod(col("doc_id"), lit(2)) === 0, lit(1.0))
        .otherwise(lit(-1.0))
      val planted = t(s, dir, "documents").select(
        transform(sequence(lit(0), lit(d - 1)), j =>
          when(j.cast("long") === coord,
               sign * (coord + 1).cast("double"))
            .otherwise(lit(0.0))).as("embedding"))
      graft.similarity.EmbeddingPca.varianceExplained(
        planted, "embedding", k = 16)
    }),

    // IVF with a TRAINED codebook: two spherical k-means iterations
    // (assign → per-dimension mean → repeat, all distributed), then the
    // per-list census. Rows-only (k-means isn't reasonably
    // SQL-expressible); the monotone-objective property is spec-asserted.
    "q_ivf_trained" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = SimilarityOps.ivfTrain(emb, "vec_id", "embedding",
                                         nlist = 8, iters = 2)
      SimilarityOps.ivfAssignTo(emb, "vec_id", "embedding", cents)
        .groupBy(col("list_id"))
        .agg(count(lit(1)).as("n_vectors"))
    }),

    // Product quantization end-to-end: per-subspace k-means codebook
    // (8 subs × 16 codes over 64-dim = 32× compression) → per-row encode
    // → asymmetric-distance top-10 for a raw probe. Rows-only (k-means
    // internals); exactness-on-saturated-vocab, monotone distortion, and
    // planted-cluster retrieval are spec-asserted (PqSpec)
    "q_pq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      // codebooks train on a corpus SAMPLE (the standard PQ practice —
      // k·nsub centroids need thousands of examples, not billions);
      // encode + ADC serve then run over the full corpus
      val cb = SimilarityOps.pqTrain(emb.filter(col("vec_id") < 1024),
                                     "vec_id", "embedding",
                                     nsub = 8, codes = 16, iters = 1)
      SimilarityOps.pqTopK(emb, "vec_id", "embedding", cb,
                           probeId = 0L, k = 10)
    }),

    // COMPOSED IVF×PQ in RESIDUAL mode (textbook IVFADC): coarse lists
    // prune the scan, product codes over x − c_list rank within — the
    // production ANN serving shape (lists ∧ 32× smaller payloads ∧ the
    // code budget spent on within-list variance). One build pass
    // computes list + codes against two folded broadcast codebooks;
    // zero corpus shuffles; PQ trains on the sample's residuals.
    // Rows-only (k-means internals); exact-on-saturated-vocab (raw AND
    // residual), recall floors, and index round-trip + partition
    // pruning are spec-asserted (IvfPqSpec)
    "q_ivfpq_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = SimilarityOps.seedCentroids(emb, "vec_id", "embedding", 8)
      val res = SimilarityOps.ivfResiduals(
        emb.filter(col("vec_id") < 1024), "vec_id", "embedding", cents)
      val pqCb = SimilarityOps.pqTrain(res, "vec_id", "rvec",
                                       nsub = 8, codes = 16, iters = 1)
      val index = SimilarityOps.ivfPqBuild(emb, "vec_id", "embedding",
                                           cents, pqCb, residual = true)
      SimilarityOps.ivfPqTopK(index, cents, pqCb, emb,
                              "vec_id", "embedding",
                              probeId = 0L, k = 10, nprobe = 3,
                              residual = true)
    }),

    // HLL++ sketch distinct, VERIFIED form (the verifiedTimeline
    // pattern): the estimate has no SQL identity, so the row carries
    // the exact distinct (oracle-checked) plus a within-3·rsd flag
    // computed against it — a hash match certifies the estimator's
    // error bound cross-engine, not just a row count
    "q_approx_users" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id")).as("__est"),
             countDistinct(col("user_id")).as("exact_users"))
        .select(col("event_type"), col("exact_users"),
                (abs(col("__est") - col("exact_users")) <=
                  col("exact_users") * 0.15).as("est_ok"))),

    // Multimodal: binary media column → per-partition batched decode
    // (imageio for real image bytes, byte-bucket stub otherwise; the fake
    // text payloads take the stub path, whose bucket-0 mean is an exact
    // integer-sum/count/255 — SQL-derivable, so f0 is oracle-checked
    // straight through the mapPartitions plumbing)
    "q_multimodal_features" -> ((s, dir) =>
      MultimodalOps.extractFeatures(
          s, MultimodalOps.toMediaTable(t(s, dir, "documents")))
        .toDF()
        .select(col("doc_id"), col("format"), col("n_bytes"),
                round(element_at(col("features"), 1), 6).as("f0"))),

    // Multimodal metadata slice — the SQL-expressible part of the media
    // table (id-derived format tag, payload byte length) through the same
    // mapPartitions decode plumbing.
    "q_multimodal_meta" -> ((s, dir) =>
      MultimodalOps.extractFeatures(
          s, MultimodalOps.toMediaTable(t(s, dir, "documents")))
        .toDF()
        .select(col("doc_id"), col("format"), col("n_bytes"))),

    // Multimodal resize through the typed mapPartitions path: the stub
    // truncates payload proportionally to the pixel-count ratio, so the
    // byte accounting (min(len, max(1, trunc(len·scale)))) is exact and
    // oracle-checked even though the pixel math is stubbed.
    "q_media_resize" -> ((s, dir) =>
      MultimodalOps.resize(
          s, MultimodalOps.toMediaTable(t(s, dir, "documents")), 64, 64)
        .toDF()
        .select(col("doc_id"),
                length(col("media")).cast("long").as("n_bytes_resized"))),

    // Multimodal frame sampling (the one-to-many media transform): every
    // 4th 1 KiB block of the payload; block indices and byte counts are
    // exact, so the whole explode shape is oracle-checked.
    "q_frame_sample" -> ((s, dir) =>
      MultimodalOps.sampleFrames(
          s, MultimodalOps.toMediaTable(t(s, dir, "documents")), stride = 4)
        .toDF()
        .select(col("doc_id"), col("frame_idx"), col("frame_bytes"))),

    // Streaming-shaped windowed rollup applied to the batch frame
    "q_stream_rollup" -> ((s, dir) =>
      StreamingOps.windowedRollup(t(s, dir, "events"))),

    // The corpus-curation flagship: exact dedup → near-dup removal →
    // lang filter → quality gate, one dataflow (CorpusPipeline).
    "q_corpus_pipeline" -> ((s, dir) =>
      graft.pipeline.CorpusPipeline.flagship(s, dir)),

    // The EXPORT flagship — the actual end product: curate →
    // leakage-proof cluster split → chunk → pack → JSONL partitioned by
    // split → declared-schema re-read → per-split census. Full-chain
    // oracle (CTE composition of the curate/split/chunk/pack truths);
    // the md5(doc_id) oracle coin cross-checks the survivor-is-canonical
    // theorem against the Spark side's full pair-graph closure.
    "q_export_pipeline" -> ((s, dir) =>
      graft.pipeline.CorpusPipeline.exportCorpus(
        t(s, dir, "documents"), scratch(dir, "export_pipeline"))),

    // The Production hash mode (xxhash64 coins/fingerprints instead of
    // md5 — Hashing scaladoc) is NOT a standing bench query: running
    // the whole export flagship twice per bench pass bought one number.
    // The md5-tax is recorded as a timing data point instead (README
    // status: 6.63 s md5 vs 6.27 s xxhash64 warm at sf0.1, ~6% — the
    // fixture is machinery-dominated) and HashingSpec pins the two
    // modes' contracts.

    // Embedding near-dup pairs via LSH buckets (scale path for
    // q_cosine_pairs; recall vs brute force measured in spec — no oracle)
    "q_lsh_cosine_pairs" -> ((s, dir) =>
      SimilarityOps.lshCosinePairs(t(s, dir, "embeddings"),
                                   "vec_id", "embedding",
                                   tau = 0.45, bits = 4)),

    // Salted skew join: fact side gets a deterministic salt, dim side is
    // replicated per salt, join key becomes (key, salt). Row-identical to
    // the plain join by construction — which is exactly what the oracle
    // (the UNsalted SQL join) verifies; the salt must be invisible.
    "q_salted_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("n_nationkey", pmod(col("user_id"), lit(25)).cast("int"))
      graft.ops.SkewOps.saltedJoin(ev, t(s, dir, "nation"),
                                   "n_nationkey", n = 8,
                                   rowIdCol = Some("event_id"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("v"))
    }),

    // Fact-to-fact shuffle join (the biggest-table join in the schema;
    // Catalyst/AQE pick SMJ with both sides exchanged on the key)
    "q_fact_join" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"),
              col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
             round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))),
                   2).as("revenue"))),

    // §2.6 bucketed co-located join: both fact tables written bucketed by
    // the join key (write-time physical design, external tables under the
    // scratch dir), so the join plans with no shuffle exchange on either
    // side (BucketingSpec asserts the plan shape; this query oracle-checks
    // the result). At 100 TB this is the difference between re-shuffling
    // two fact tables on every join and reading co-located buckets.
    "q_bucketed_join" -> ((s, dir) => {
      // fresh catalog state even if a previous overwrite died partway
      s.sql("DROP TABLE IF EXISTS g_bucketed_lineitem")
      s.sql("DROP TABLE IF EXISTS g_bucketed_orders")
      // pre-partition on the bucket key with the bucket count: Spark's
      // bucket id and repartition both use Murmur3 pmod, so each task
      // holds exactly one bucket and the write emits 8 files instead of
      // (tasks × buckets) small files — the same layout discipline that
      // keeps a 100 TB bucketed table from fragmenting
      t(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity"))
        .repartition(8, col("l_orderkey"))
        .write.mode("overwrite").option("path", scratch(dir, "bucket_li"))
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("g_bucketed_lineitem")
      t(s, dir, "orders").select(col("o_orderkey"), col("o_orderpriority"))
        .repartition(8, col("o_orderkey"))
        .write.mode("overwrite").option("path", scratch(dir, "bucket_ord"))
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("g_bucketed_orders")
      val agg = s.table("g_bucketed_lineitem")
        .join(s.table("g_bucketed_orders"),
              col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
             round(sum(col("l_quantity")), 2).as("qty"))
      // analysis above already resolved and pinned the bucketed file
      // relations, so the catalog entries can go NOW: nothing leaks into
      // the shared session, and the EXTERNAL drop leaves the data files
      // for the (still-lazy) bucketed-join plan to execute against.
      s.sql("DROP TABLE IF EXISTS g_bucketed_lineitem")
      s.sql("DROP TABLE IF EXISTS g_bucketed_orders")
      agg
    }),

    // Exact distinct (the precise twin of q_approx_users' HLL sketch)
    "q_distinct_users" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"))),

    // Gap-based sessionization (batch form; streaming twin in
    // graft.streaming.Sessionize, spec-verified)
    "q_sessionize" -> ((s, dir) =>
      graft.streaming.Sessionize.batch(t(s, dir, "events"), 30)),

    // Batch face of the stream-stream interval join (StreamingOps
    // .intervalJoin): all event pairs within 2 s — the burst/correlation
    // primitive. The binned self-join is linear in n·density (each pair
    // meets in exactly one of two bin keys, never a time-cross product);
    // the SAME definition runs watermarked stream-stream with bounded
    // state (IntervalJoinStreamSpec certifies the streaming twin and the
    // conjunct-level bounds state eviction needs). Oracle: the raw
    // bounded self-join — proving the binning lossless and exactly-once.
    "q_interval_join" -> ((s, dir) =>
      StreamingOps.intervalJoin(t(s, dir, "events"), "event_id", "ts",
                                2000L)),

    // Spark's NATIVE session_window aggregate (engine-managed gap
    // sessions; one definition serves batch and readStream — the
    // watermark bounds stream state). Batch plan: two-phase session
    // merge, one shuffle on the user key, NO per-user sort window.
    // Session boundaries agree with q_sessionize (closed-interval merge:
    // split strictly after the gap — SessionWindowSpec pins the
    // exactly-gap case); the window's end = last event + gap, which the
    // oracle encodes.
    "q_session_window" -> ((s, dir) =>
      StreamingOps.sessionWindowRollup(t(s, dir, "events"), 30)),

    // Session-level engagement summary over the sessionize output:
    // volume, mean depth/duration, bounce share — one tiny aggregate
    // over the (already session-granular) frame
    "q_session_stats" -> ((s, dir) => {
      val sess = graft.streaming.Sessionize.batch(t(s, dir, "events"), 30)
      sess.agg(
        count(lit(1)).as("n_sessions"),
        countDistinct(col("user_id")).as("n_users"),
        round(avg(col("n_events")), 6).as("avg_events"),
        round(avg((col("session_end_ms") - col("session_start_ms")) /
                  lit(1000.0)), 6).as("avg_duration_s"),
        round(avg(when(col("n_events") === 1, 1.0).otherwise(0.0)), 6)
          .as("bounce_share"))
    }),

    // Ordered conversion funnel view → click → purchase, 72 h gaps:
    // first-touch semantics, k narrow per-user min-aggregates — never
    // an event-list collect or a whole-history window
    "q_funnel" -> ((s, dir) =>
      Funnel.funnel(t(s, dir, "events"),
                    Seq("view", "click", "purchase"),
                    maxGapHours = Some(72))),

    // Hopping (sliding) 1 h windows every 30 min — the overlap a
    // tumbling rollup can't express; one definition serves readStream
    "q_hopping_rollup" -> ((s, dir) =>
      graft.streaming.StreamingOps.hoppingRollup(
        t(s, dir, "events"), "1 hour", "30 minutes")),

    // Per-user trailing-24 h rolling count/mean as a VALUE-RANGE frame
    // over epoch micros — no self-join, no row-frame density artifacts
    "q_rolling_avg" -> ((s, dir) =>
      graft.ops.TimeSeries.rollingAgg(
        t(s, dir, "events"), "event_id", "user_id", "ts", "value",
        hours = 24)),

    // Per-type hourly-volume trend lines: closed-form OLS via the
    // regr_* aggregate family — no gradient loop, no driver math
    "q_trend_lines" -> ((s, dir) =>
      graft.ops.TimeSeries.trendLines(t(s, dir, "events"))),

    // Join-key skew diagnostic: top-10 heaviest keys with share and
    // skew factor over an exponentially-skewed derived key — the
    // measurement that decides plain join vs AQE split vs saltedJoin
    "q_skew_report" -> ((s, dir) =>
      graft.ops.SkewOps.skewReport(
        t(s, dir, "events").withColumn("kbucket",
          floor(log2(col("event_id") + 1)).cast("int")),
        "kbucket", topK = 10)),

    // Exact cohort retention matrix (first-activity-week cohorts ×
    // weeks-since) — the truth the KMV retention sketch approximates
    "q_cohort_retention" -> ((s, dir) =>
      graft.ops.TimeSeries.cohortRetention(t(s, dir, "events"))),

    // Event transition matrix: P(next type | current) per user journey
    // from one lag window per user — path analysis, no self-join
    "q_transitions" -> ((s, dir) =>
      graft.ops.TimeSeries.transitions(t(s, dir, "events"))),

    // Gap-filled anomaly flags: the hourly series completed with n=0
    // rows over the global span, so a total OUTAGE (zero events) gets
    // a z-score too — the unfilled series can't see the worst anomaly
    "q_outage_flags" -> ((s, dir) =>
      graft.ops.TimeSeries.anomalyFlags(t(s, dir, "events"),
                                        windowDays = 7, zThreshold = 3.0,
                                        gapFill = true)),

    // Hourly-volume anomaly flags: per-type z-score vs the trailing
    // 7-day hourly baseline (current hour excluded from its own base)
    "q_anomaly_flags" -> ((s, dir) =>
      graft.ops.TimeSeries.anomalyFlags(t(s, dir, "events"),
                                        windowDays = 7, zThreshold = 3.0)),

    // DAU / trailing-7-day WAU / stickiness per observed day — sliding
    // distinct count via contribution explosion over the DEDUPLICATED
    // (user, day) pairs, never a per-day re-scan of raw events
    "q_active_users" -> ((s, dir) =>
      graft.ops.TimeSeries.activeUsers(t(s, dir, "events"), days = 7)),

    // Daily user churn: new / retained / churned per observed day via
    // the same collapse-to-pairs contribution machinery
    "q_user_churn" -> ((s, dir) =>
      graft.ops.TimeSeries.userChurn(t(s, dir, "events"))),

    // LINEAR multi-touch attribution (the last-touch complement):
    // purchase value split equally over ALL clicks in the trailing
    // 72 h — the window match is a BINNED interval join (two equi-bin
    // joins), never a theta nested-loop
    "q_linear_attribution" -> ((s, dir) =>
      Funnel.linearAttribution(
        t(s, dir, "events"), windowHours = 72,
        channelCol = concat(lit("ch"),
          pmod(get_json_object(col("props"), "$.k").cast("long"),
               lit(4)).cast("string")))),

    // SCD Type-2 history: collapse each user's value-tier change stream
    // into validity intervals — per-key windows only, no global sort
    "q_scd2" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("tier", floor(col("value") / 40).cast("int"))
      graft.ops.Scd2
        .scd2(ev, Seq("user_id"), Seq("tier"), "ts", "event_id")
        .select(col("user_id"), col("tier"),
                unix_millis(col("valid_from")).as("valid_from_ms"),
                unix_millis(col("valid_to")).as("valid_to_ms"),
                col("is_current"))
    }),

    // Last-touch attribution: every purchase credits the latest click
    // at-or-before it (per user) — the as-of join composition; channel
    // derived from the click's props, no prior click → 'direct'
    "q_attribution" -> ((s, dir) => {
      val ev = t(s, dir, "events")
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
                       lit(4)).cast("string")).as("channel"))
      graft.ops.AsOfJoin
        .asofJoin(purchases, clicks, "user_id", "pts", "cts", "click_id")
        .groupBy(coalesce(col("channel"), lit("direct")).as("channel"))
        .agg(count(lit(1)).as("n_purchases"),
             round(sum(coalesce(col("value"), lit(0.0))), 4).as("revenue"))
    }),

    // ROLLUP subtotal lattice (grouping-set aggregates come free from
    // Catalyst once exposed; partial aggregation still applies)
    "q_rollup" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
             round(sum(col("l_quantity")), 2).as("qty"))),

    // Exact interpolated median per group (ordered-set aggregate)
    "q_median" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(round(median(col("l_quantity")), 6).as("med_qty"),
             round(median(col("l_extendedprice")), 6).as("med_price"))),

    // CUBE subtotal lattice (every grouping set; q_rollup's hierarchy-only
    // twin). Catalyst expands grouping sets before aggregation, so partial
    // aggregation still applies per set.
    "q_cube" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
             round(avg(col("l_discount")), 6).as("avg_disc"))),

    // Exact interpolated quantiles per group (beyond the median; the exact
    // twin of approx_percentile sketches a 100 TB pipeline would swap in)
    "q_quantiles" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_linestatus"))
        .agg(round(expr("percentile(l_quantity, 0.25)"), 6).as("p25"),
             round(expr("percentile(l_quantity, 0.75)"), 6).as("p75"),
             round(expr("percentile(l_extendedprice, 0.9)"), 6)
               .as("p90_price"))),

    // Statistical aggregates: correlation / covariance / stddev in one
    // partial+final co-moment pass (no per-group sort, unlike quantiles)
    "q_stats_agg" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(round(corr(col("l_quantity"), col("l_extendedprice")), 6)
               .as("qp_corr"),
             round(covar_samp(col("l_quantity"), col("l_extendedprice")), 6)
               .as("qp_covar"),
             round(stddev_samp(col("l_discount")), 6).as("disc_sd"))),

    // Pivot: event-type counts as columns per user bucket (explicit value
    // list keeps the output schema deterministic; fill 0 to match the
    // oracle's FILTER-count semantics for absent combos)
    "q_pivot" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("bucket", (col("user_id") % 10).cast("int"))
        .groupBy(col("bucket"))
        .pivot("event_type",
               Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        // scoped fill: an unscoped fill would also rewrite a NULL group
        // key to 0, silently diverging from the oracle's GROUP BY
        .na.fill(0L, Seq("click", "view", "purchase", "signup", "error"))),

    // Set operations: INTERSECT / EXCEPT over customer segments
    "q_set_ops" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      def custs(prio: String) =
        o.filter(col("o_orderpriority") === prio)
          .select(col("o_custkey")).distinct()
      val both = custs("1-URGENT").intersect(custs("2-HIGH"))
        .withColumn("seg", lit("urgent_and_high"))
      val onlyUrgent = custs("1-URGENT").except(custs("2-HIGH"))
        .withColumn("seg", lit("urgent_only"))
      both.unionByName(onlyUrgent)
    }),

    // Bag-semantics set ops — the multiset corner q_set_ops' DISTINCT
    // forms can't express: EXCEPT ALL keeps max(nA-nB, 0) copies per
    // key, INTERSECT ALL min(nA, nB). Spark plans both as an aggregated
    // count-diff + generate (one shuffle each), not a row-wise anti join
    "q_set_ops_all" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      def custs(prio: String) =
        o.filter(col("o_orderpriority") === prio)
          .select(col("o_custkey"))
      val minus = custs("1-URGENT").exceptAll(custs("2-HIGH"))
        .withColumn("seg", lit("urgent_minus_high_all"))
      val common = custs("1-URGENT").intersectAll(custs("2-HIGH"))
        .withColumn("seg", lit("urgent_and_high_all"))
      minus.unionByName(common)
    }),

    // Deterministic hash-based train/val/test split (content-derived,
    // RNG-free, reproducible across engines — the split assignment plus
    // the per-split census)
    "q_train_split" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextOps.trainSplit(col("text")).as("split"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"))),

    // trainSplit's generalization: caller-chosen fractions at 1/65536
    // coin granularity (thresholds computed once driver-side, embedded
    // as the same literals in the oracle — engine float arithmetic
    // never decides a document)
    "q_split_fractions" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy(TextOps.splitByFractions(col("text"),
            Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)).as("split"))
        .agg(count(lit(1)).as("n_docs"))),

    // Leakage-proof split: near-dup clusters (LSH sketch path, the same
    // exact-verified pair truth as q_dup_clusters) assign as ONE unit —
    // no near-duplicate pair can straddle train/test. Census by split:
    // doc and cluster counts (clusters = split units)
    "q_cluster_split" -> ((s, dir) =>
      graft.pipeline.CorpusPipeline.clusterSplit(
        t(s, dir, "documents"),
        DedupOps.minhashLshPairs(t(s, dir, "documents"), "doc_id", "text",
                                 n = 12, k = 64, bands = 16, tau = 0.7))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
             countDistinct(col("cluster_key")).as("n_clusters"))),

    // Eval-contamination AUDIT (clusterSplit's measurement twin): the
    // near-dup pair truth joined with the per-document hash split —
    // every pair straddling two splits is an eval document the per-doc
    // split leaks into train. Pairs come from the LSH scale path
    // (exact-verified candidates) but the ORACLE is the exact-Jaccard
    // pair CTE + split CASE — the q_minhash_lsh precedent: the audit is
    // only as good as its pair truth, and the driver compare proves the
    // LSH truth equals the exact one here. Auditing clusterSplit's own
    // assignment returns zero rows by construction, spec-pinned.
    "q_leakage_audit" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.pipeline.CorpusPipeline.leakageAudit(
        docs.select(col("doc_id"),
                    TextOps.trainSplit(col("text")).as("split")),
        DedupOps.minhashLshPairs(docs, "doc_id", "text",
                                 n = 12, k = 64, bands = 16, tau = 0.7))
    }),

    // Okapi BM25 top-10 for a fixed query-term set — retrieval-scored
    // corpus mining (per-term weights rounded to 1e-6 pre-sum; ranking by
    // rounded score then id is a deterministic total order)
    "q_bm25" -> ((s, dir) =>
      TextOps.bm25TopK(t(s, dir, "documents"),
                       Seq("spark", "vector", "stream"), k = 10)),

    // The same ranking SERVED off the persisted inverted index: build
    // on the even half, append the odd half (two epochs), probe — must
    // equal the from-scratch q_bm25 chain bit-for-bit (exact additive
    // stats + the shared 1e-6 grid), certifying build+append+probe
    "q_bm25_index" -> ((s, dir) => {
      val root = scratch(dir, "bm25index")
      Sinks.dropTable(s, root)
      val docs = t(s, dir, "documents")
      Bm25Index.build(docs.filter(col("doc_id") % 2 === 0), root,
                      buckets = 4)
      Bm25Index.append(docs.filter(col("doc_id") % 2 =!= 0), root)
      Bm25Index.probe(s, root, Seq("spark", "vector", "stream"), k = 10)
    }),

    // Batched serving: a query TABLE against the same index in one
    // pass — per-query top-5 with ranks, df/idf shared across queries
    "q_bm25_batch" -> ((s, dir) => {
      import s.implicits._
      val root = scratch(dir, "bm25batch")
      Sinks.dropTable(s, root)
      // the operator under test is the batched SERVE — index the mod-4
      // quarter (the oracle recomputes over the same slice; the BUILD
      // machinery's full-corpus cost rides q_bm25_index, whose
      // append-equals-from-scratch certification needs the whole
      // corpus — this demo only needs a store to probe)
      Bm25Index.build(t(s, dir, "documents")
                        .filter(col("doc_id") % 4 === 0), root,
                      buckets = 4)
      val q = Seq(1 -> "spark", 1 -> "stream", 2 -> "vector",
                  3 -> "spark", 3 -> "vector", 3 -> "stream")
        .toDF("query_id", "term")
      Bm25Index.batchProbe(q, root, k = 5)
    }),

    // Hybrid retrieval: Reciprocal Rank Fusion (Cormack et al. SIGIR'09,
    // c=60) of the BM25 lexical leg and the cosine semantic leg over the
    // aligned doc/vec id space — rank-only fusion, no score calibration;
    // both legs top-20-bounded at the source, fusion joins two tiny frames
    "q_rrf_fusion" -> ((s, dir) =>
      SimilarityOps.hybridTopK(t(s, dir, "documents"),
                               t(s, dir, "embeddings"),
                               Seq("spark", "vector", "stream"),
                               probeId = 0L, n = 20, k = 10)),

    // Vocabulary: corpus token frequencies + deterministic id assignment
    "q_vocab" -> ((s, dir) =>
      TextOps.buildVocab(t(s, dir, "documents"), minCount = 5L)),

    // BPE merge training (Sennrich ACL'16): 16 highest-frequency-pair
    // merges over the word-frequency frame — the corpus collapses into
    // the distinct vocabulary in ONE pass, rounds run on that tiny
    // frame only. Oracle-EXACT (r7): the fixed merge count unrolls to
    // 16 generated MATERIALIZED-CTE rounds (bpeOracle) — recursive CTEs
    // forbid aggregation in the recursive term, but an UNROLLED chain
    // doesn't need one. Determinism, the hand-computed classic example,
    // encode∘decode=id, and monotone compression stay spec-asserted
    // (BpeSpec)
    "q_bpe_vocab" -> ((s, dir) =>
      graft.text.Bpe.bpeTrain(t(s, dir, "documents"), "text",
                              numMerges = 16)),

    // BPE ENCODE — apply the trained merge table to every document
    // (the subword-tokenize step a training pipeline runs over the
    // whole corpus for budget accounting and packing). The merge table
    // folds into the projection as literals (broadcast-codebook
    // discipline — no join, no corpus shuffle, one narrow pass).
    // Oracle-EXACT (r8): training's per-round vocab evolution IS the
    // greedy encode of every distinct word (same mergePair fold), so
    // the bpeOracle chain's final wf16, with word identity threaded
    // through, maps word → final symbols; the twin flattens them back
    // in token order per doc. Encode∘decode=id stays spec-pinned
    // (BpeSpec).
    "q_bpe_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = graft.text.Bpe.bpeTrain(docs, "text", numMerges = 16)
      graft.text.Bpe.bpeEncode(
          docs.filter(TextOps.tokenCount(col("text")) > 0),
          "doc_id", "text", merges)
        .select(col("doc_id"), size(col("bpe")).cast("long").as("n_bpe"),
                concat_ws(" ", col("bpe")).as("bpe_text"))
    }),

    // Vocabulary APPLICATION — encode every document against the built
    // vocab (the corpus → token-id step before training). The vocab side
    // broadcasts (distinct tokens ≪ corpus); OOV tokens count but don't
    // sum. Output is per-doc token accounting + an id checksum so the
    // whole encoding is hash-verifiable without array-output compare.
    "q_encode_docs" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val vocab = TextOps.buildVocab(docs, minCount = 5L)
      docs.select(col("doc_id"),
                  explode(TextOps.tokens(col("text"))).as("token"))
        .filter(col("token") =!= "")
        .join(broadcast(vocab.select(col("token"), col("token_id"))),
              Seq("token"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
             count(col("token_id")).as("n_in_vocab"),
             sum(col("token_id")).as("id_checksum"))
    }),

    // Context-window chunking: overlapping 50-token windows, 10 overlap
    "q_chunk_docs" -> ((s, dir) =>
      TextOps.chunkDocs(t(s, dir, "documents"), "text",
                        chunkTokens = 50, overlap = 10)),

    // Anti + semi joins: customers with no orders vs with urgent orders
    // (the existence-predicate family — planned as Broadcast/SMJ
    // LeftAnti/LeftSemi, never a correlated subquery per row)
    "q_anti_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      val noOrders = c.join(o, col("c_custkey") === col("o_custkey"),
                            "left_anti")
        .select(col("c_custkey")).withColumn("kind", lit("no_orders"))
      val urgent = c.join(
          o.filter(col("o_orderpriority") === "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey")).withColumn("kind", lit("has_urgent"))
      noOrders.unionByName(urgent)
    }),

    // Text normalization: lowercase, strip punctuation, collapse
    // whitespace — the canonical pre-tokenization cleanup pass, one
    // codegen'd projection
    "q_normalize_text" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
                regexp_replace(
                  regexp_replace(lower(col("text")), "[.,!?;:]", ""),
                  "\\s+", " ").as("norm_text"))),

    // WET-style markup strip: tags → space, the 5 standard entities
    // (&amp; decoded LAST — no double-decode), whitespace-run collapse;
    // the pre-gate extraction step, one narrow codegen'd projection
    "q_strip_markup" -> ((s, dir) =>
      TextOps.stripMarkup(t(s, dir, "documents"))),

    // Encoding-sanity census + gate: U+FFFD / C0-control / mojibake-
    // digraph counts as length-difference arithmetic over literal
    // replaces (engine-portable exactly); ok = all three zero
    "q_encoding_gate" -> ((s, dir) =>
      TextOps.encodingGate(t(s, dir, "documents"))),

    // Unicode script census: per-doc Latin/Cyrillic/CJK/digit/space
    // counts + dominant script — the per-script routing gate ahead of
    // language-specific stages; explicit code-point ranges (portable)
    "q_script_census" -> ((s, dir) =>
      TextOps.scriptCensus(t(s, dir, "documents"))),

    // MMR diversity re-rank (Carbonell & Goldstein SIGIR'98) over the
    // cosine top-20 pool, λ=0.5 — the near-dup-aware serving of the
    // retrieval stack. Iterative greedy, yet oracle-EXACT via the
    // unrolled CTE chain (mmrOracle): every argmax input is on the
    // round-6 grid in both engines, so the pick sequence reproduces
    "q_mmr_rerank" -> ((s, dir) =>
      SimilarityOps.mmrRerank(t(s, dir, "embeddings"), "vec_id",
                              "embedding", probeId = 0L, lambda = 0.5,
                              n = 20, k = 10)),

    // Entity resolution: blocked fuzzy match over the distinct part
    // names — block on the head noun, verify with the native
    // Jaro-Winkler (DuckDB-identical semantics, so the whole operator
    // is hash-exact against the oracle)
    "q_fuzzy_pairs" -> ((s, dir) =>
      graft.ops.FuzzyMatch.fuzzyPairs(t(s, dir, "part"), "p_name",
                                      tau = 0.8)),

    // Extraction-front flagship: stripMarkup → encodingGate →
    // scriptCensus(latin) → min-token floor on the CLEANED text, the
    // raw-crawl prefix of every corpus recipe — one zero-shuffle
    // codegen'd pass per document, stream-composable (gates stateless)
    "q_extract_pipeline" -> ((s, dir) =>
      TextOps.extractionPipeline(t(s, dir, "documents"),
                                 minTokens = 50L)),

    // Edit-distance join (the typo-class fuzzy verifier): length-bound
    // candidate keys (probe explodes its 2d+1 admissible lengths),
    // bounded levenshtein(a,b,d) as the codegen'd join residual
    "q_edit_pairs" -> ((s, dir) =>
      graft.ops.FuzzyMatch.editPairs(t(s, dir, "part"), "p_name",
                                     maxDist = 2)),

    // Multi-probe ANN: own bucket + Hamming-1 ring (the recall dial
    // that needs no index rebuild); candidates exact-scored, rows-only
    // (MinHash/LSH internals), recall-dominance spec'd
    "q_ann_multiprobe" -> ((s, dir) =>
      SimilarityOps.annTopKMulti(t(s, dir, "embeddings"), "vec_id",
                                 "embedding", probeId = 0L, k = 10,
                                 bits = 6, probes = 6)),

    // PSI drift between the month's two halves of the event value
    // distribution — the per-feature distribution-shift monitor;
    // fixed-width clamped bins + Laplace smoothing (engine-portable,
    // total even when a bin dies between snapshots)
    "q_psi_drift" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      graft.quality.Quality.psiDrift(
        ev.filter(dayofmonth(col("ts")) <= 15),
        ev.filter(dayofmonth(col("ts")) > 15), "value")
    }),

    // Gopher-style repetition gates: most-repeated-token share +
    // duplicate-line fraction, both narrow array projections (no explode)
    "q_repetition" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
                round(TextOps.topTokenRatio(col("text")), 6)
                  .as("rep_ratio"),
                round(TextOps.dupLineFraction(col("text")), 6)
                  .as("dup_line_frac"))),

    // Compression-ratio quality census (deflate_len native expression —
    // the machine-generated/boilerplate filter of the web-corpus
    // recipes, catching long-period and structural repeats the n-gram
    // censuses above miss; CompressExpressions scaladoc for the
    // thread-local zlib amortization). Rows-only: the JDK zlib byte
    // count has no DuckDB identity — CompressSpec pins planted
    // repetitive/high-entropy fixtures, null handling, and the
    // codegen ≡ interpreted contract instead.
    "q_compress_ratio" -> ((s, dir) => {
      import graft.functions.CompressExpressions
      val ratio =
        (CompressExpressions.deflateLen(col("text")).cast("double") /
          octet_length(col("text"))).as("ratio")
      t(s, dir, "documents")
        .filter(col("text").isNotNull && octet_length(col("text")) > 0)
        .select(col("doc_id"), ratio)
        .withColumn("band",
          when(col("ratio") < 0.35, "repetitive")
            .when(col("ratio") < 0.8, "normal")
            .otherwise("high_entropy"))
        .groupBy("band")
        .agg(count(lit(1)).as("docs"),
             round(avg("ratio"), 6).as("avg_ratio"),
             round(min("ratio"), 6).as("min_ratio"),
             round(max("ratio"), 6).as("max_ratio"))
    }),

    // PII scrub (the pre-training redaction pass): match counts + the
    // redacted text itself, engine-portable regexes
    "q_pii_redact" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
                TextOps.piiCount(col("text")).as("n_pii"),
                TextOps.redactPii(col("text")).as("redacted"))),

    // Grouped embedding mean through the native vector_sum aggregate
    // (single double[d] buffer per group, map-side combined — the
    // centroid / mean-pooling primitive; oracle checks first+last dims)
    "q_vector_mean" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .withColumn("g", (col("vec_id") % 3).cast("int"))
        .groupBy(col("g"))
        // count(embedding), not count(*): vector_sum null-skips, and the
        // DuckDB avg() oracle null-skips too — the denominators must agree
        .agg(graft.functions.VectorAggregates.vectorSum(col("embedding"))
               .as("vsum"),
             count(col("embedding")).as("n_vecs"))
        .select(col("g"), col("n_vecs"),
                round(element_at(col("vsum"), 1) / col("n_vecs"), 6)
                  .as("m0"),
                round(element_at(col("vsum"), -1) / col("n_vecs"), 6)
                  .as("mlast"))),

    // UNION-distinct (the set-operator dedup q_set_ops' UNION ALL skips)
    "q_union_distinct" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      def custs(prio: String) =
        o.filter(col("o_orderpriority") === prio).select(col("o_custkey"))
      custs("1-URGENT").union(custs("2-HIGH")).distinct()
    }),

    // Array aggregation: per-group sorted distinct value lists. The
    // compare column is the ','-joined sorted set — a plain string the
    // driver's pandas hash can sort (a raw array column is unhashable
    // there), with identical semantics on both sides.
    "q_collect_arrays" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(array_join(array_sort(collect_set(col("l_linestatus"))), ",")
               .as("statuses"),
             count(lit(1)).as("n"))),

    // Semi-structured column: JSON path extraction from events.props
    "q_json_extract" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"),
                get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("n"))),

    // The flagship expressed through the pure-SQL surface (temp views +
    // spark.sql) — same oracle as q_time_bucket-style enrichment + join
    "q_sql_surface" -> ((s, dir) => {
      t(s, dir, "events").createOrReplaceTempView("g_events")
      t(s, dir, "nation").createOrReplaceTempView("g_nation")
      s.sql("""
        SELECT CASE WHEN hour(ts) BETWEEN 7 AND 9 THEN 'Morning Rush'
                    WHEN hour(ts) BETWEEN 17 AND 19 THEN 'Evening Rush'
                    ELSE 'Other' END AS time_bucket,
               n_name AS zone, count(*) AS trips
        FROM g_events LEFT JOIN g_nation
          ON CAST(((user_id % 25) + 25) % 25 AS INT) = n_nationkey
        GROUP BY 1, 2""")
    }),

    // As-of join: latest order at-or-before each event's timestamp for
    // the event's customer (union-sort-carry composition, linear in
    // |L|+|R|; see graft.ops.AsOfJoin)
    "q_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"),
                ((col("user_id") % 150) + 1).as("cust"),
                date_trunc("millisecond", col("ts")).as("ets"))
      val ord = t(s, dir, "orders")
        .select(col("o_custkey").as("cust"), col("o_orderdate"),
                col("o_orderkey"))
      graft.ops.AsOfJoin.asofJoin(ev, ord, "cust", "ets", "o_orderdate",
                                  "o_orderkey")
        .select(col("event_id"), col("o_orderkey"))
    }),

    // Range join: event pairs within 60s (binned interval join, linear
    // in n·density vs the naive quadratic theta-join)
    "q_range_join" -> ((s, dir) =>
      graft.ops.RangeJoin.pairsWithin(t(s, dir, "events"), "event_id",
                                      "ts", deltaMs = 60000L)
        .agg(count(lit(1)).as("n_pairs"),
             round(avg(col("gap_ms")), 6).as("avg_gap_ms"))),

    // Row-level MERGE (CDC upsert): seed the customer table, merge a
    // doubled-balance update batch for every 10th key TWICE (latest
    // wins, idempotent), census the merged state. Complements
    // q_partition_upsert's partition-granular idempotence.
    "q_merge_upsert" -> ((s, dir) => {
      val path = scratch(dir, "merge")
      val cust = t(s, dir, "customer")
      Sinks.replaceLoad(cust, path)
      val updates = cust.filter(col("c_custkey") % 10 === 0)
        .withColumn("c_acctbal", col("c_acctbal") * 2)
      Sinks.mergeByKey(updates, Seq("c_custkey"), path)
      Sinks.mergeByKey(updates, Seq("c_custkey"), path) // idempotent
      s.read.parquet(path).agg(
        count(lit(1)).as("n"),
        sum(when(col("c_custkey") % 10 === 0, 1L).otherwise(0L))
          .as("n_updated"),
        round(sum(col("c_acctbal")), 4).as("balance"))
    }),

    // Versioned table + time travel + retention (the Delta/Iceberg
    // snapshot idea on its marker-atomic core): three committed
    // snapshots (full load → source delete → targeted update), vacuum
    // to the last two, then aggregate BOTH survivors — reading v2
    // after v3 committed IS time travel, and v1 must be reclaimed
    "q_time_travel" -> ((s, dir) => {
      val root = scratch(dir, "timetravel")
      Sinks.dropTable(s, root)
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      Sinks.versionedWrite(docs, root) // v1
      Sinks.versionedWrite(
        Sinks.versionedRead(s, root).filter(col("source") =!= "src7"),
        root) // v2: GDPR-style source removal
      Sinks.versionedWrite(
        Sinks.versionedRead(s, root).withColumn("n_chars",
          when(col("source") === "src1", col("n_chars") * 2)
            .otherwise(col("n_chars"))),
        root) // v3: targeted correction
      Sinks.vacuum(s, root, keep = 2) // v1 reclaimed
      Sinks.listVersions(s, root).map { v =>
        Sinks.versionedRead(s, root, Some(v))
          .agg(count(lit(1)).as("n_rows"),
               countDistinct(col("source")).as("n_sources"),
               sum(col("n_chars")).as("sum_chars"))
          .withColumn("version", lit(v))
      }.reduce(_ unionByName _)
        .select(col("version"), col("n_rows"), col("n_sources"),
                col("sum_chars"))
    }),

    // Keyed snapshot diff (the refresh regression check): old = the
    // documents table, new = the same table with planted removals
    // (doc_id % 17), edits (src3 docs grow 5 chars), and additions
    // (re-keyed copies of the % 23 docs) — one row per differing key
    "q_table_diff" -> ((s, dir) => {
      val old = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      val nw = old.filter(col("doc_id") % 17 =!= 0)
        .withColumn("n_chars",
          when(col("source") === "src3", col("n_chars") + 5)
            .otherwise(col("n_chars")))
        .unionByName(old.filter(col("doc_id") % 23 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
                  lit("xx").as("lang"), col("source"), col("n_chars")))
      graft.ops.CoreOps.snapshotDiff(old, nw, Seq("doc_id"))
    }),

    // Targeted delete (GDPR/TTL rewrite): forget every 7th user, census
    // the survivors against the source-side NOT-filter oracle.
    "q_delete_where" -> ((s, dir) => {
      val path = scratch(dir, "delete")
      Sinks.replaceLoad(
        t(s, dir, "events").select(col("user_id"), col("event_type"),
                                   col("value")), path)
      Sinks.deleteWhere(s, path, col("user_id") % 7 === 0)
      s.read.parquet(path).agg(
        count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        round(sum(col("value")), 4).as("total_value"))
    }),

    // Small-file compaction: 64-file scatter -> 4 files, data-identical
    // (census vs the source table; the file-count assert lives in the
    // spec).
    "q_compact" -> ((s, dir) => {
      val path = scratch(dir, "compact")
      t(s, dir, "documents").repartition(64)
        .write.mode("overwrite").parquet(path)
      Sinks.compact(s, path, 4)
      s.read.parquet(path).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"))
    }),

    // Idempotent month-partition upsert: load month 3 twice via dynamic
    // partition overwrite — the count must equal ONE load (the at-scale
    // fix for the reference's duplicate-on-retry mode("append"))
    "q_partition_upsert" -> ((s, dir) => {
      val path = scratch(dir, "upsert")
      val li = t(s, dir, "lineitem")
        .withColumn("ship_month", month(col("l_shipdate")))
        .repartition(col("ship_month"))
      Sinks.writePartitioned(li.filter(col("ship_month") =!= 3),
                             "ship_month", path)
      // load month 3 twice — idempotent
      val m3 = li.filter(col("ship_month") === 3)
      Sinks.upsertPartition(m3, "ship_month", path)
      Sinks.upsertPartition(m3, "ship_month", path)
      s.read.parquet(path)
        .agg(count(lit(1)).as("n"),
             countDistinct(col("ship_month")).as("n_months"))
    }),

    // Per-source frequency cap (C4/FineWeb domain capping): survivors
    // elected by seeded deterministic coin, WindowGroupLimit keeps the
    // shuffle at <= cap rows per (map task, source)
    "q_source_cap" -> ((s, dir) =>
      TextOps.sourceCap(t(s, dir, "documents"), cap = 20)),

    // Referential-integrity audit over the star schema: one row per FK
    // constraint, orphans counted by anti-join against broadcast
    // distinct parent keysets
    "q_fk_orphans" -> ((s, dir) => {
      import graft.quality.Quality
      import graft.quality.Quality.FkConstraint
      val li = t(s, dir, "lineitem"); val o = t(s, dir, "orders")
      val c = t(s, dir, "customer"); val su = t(s, dir, "supplier")
      val pt = t(s, dir, "part"); val n = t(s, dir, "nation")
      val r = t(s, dir, "region")
      Quality.referentialOrphans(Seq(
        FkConstraint("lineitem_orders", li, "l_orderkey", o, "o_orderkey"),
        FkConstraint("lineitem_part", li, "l_partkey", pt, "p_partkey"),
        FkConstraint("lineitem_supplier", li, "l_suppkey", su, "s_suppkey"),
        FkConstraint("orders_customer", o, "o_custkey", c, "c_custkey"),
        FkConstraint("customer_nation", c, "c_nationkey", n, "n_nationkey"),
        FkConstraint("supplier_nation", su, "s_nationkey", n, "n_nationkey"),
        FkConstraint("nation_region", n, "n_regionkey", r, "r_regionkey")))
    }),

    // Layout health report: scatter events 16-ways into month
    // partitions, report the per-partition file census (metadata-only
    // driver listing, the OPTIMIZE planning cost), compact, report
    // again — the before/after proves the signal drives the action.
    // n_files/n_small are deterministic; byte columns are
    // encoding-dependent so the driver check is rows-only, with the
    // census pinned by spec
    // Fixture: the mod-4 quarter of events — the demo's subject is FILE
    // COUNTS (16 scattered files per day partition -> 1 compacted), and
    // the file census is row-volume-free; only the write payload
    // shrinks. Rows-only by design (file-census bytes are
    // encoding-dependent), so the fixture is bench-local.
    "q_layout_stats" -> ((s, dir) => {
      val path = scratch(dir, "layout")
      val ev = t(s, dir, "events")
        .filter(col("event_id") % 4 === 0)
        .withColumn("day", dayofmonth(col("ts")))
        .select(col("event_id"), col("user_id"), col("value"),
                col("day"))
      ev.repartition(8)
        .write.mode("overwrite").partitionBy("day").parquet(path)
      val before = Sinks.layoutStats(s, path)
        .select(col("partition"), col("n_files"),
                col("n_small_files"), lit("scattered").as("phase"))
      Sinks.compactPartitions(s, path, "day")
      val after = Sinks.layoutStats(s, path)
        .select(col("partition"), col("n_files"),
                col("n_small_files"), lit("compacted").as("phase"))
      before.unionByName(after)
    }),

    // Winsorized per-type value stats: exact p05/p95 clipping bounds
    // from ONE aggregate broadcast back, clip in a projection — the
    // per-type census proves which rows moved and where the mass went
    "q_winsorize" -> ((s, dir) =>
      CoreOps.winsorize(t(s, dir, "events"), "value", "event_type",
                        0.05, 0.95)
        .groupBy(col("event_type"))
        .agg(count(col("value")).as("n_values"),
             round(min(col("value_lo")), 6).as("lo"),
             round(min(col("value_hi")), 6).as("hi"),
             sum(when(col("value") < col("value_lo"), 1L).otherwise(0L))
               .as("n_clipped_lo"),
             sum(when(col("value") > col("value_hi"), 1L).otherwise(0L))
               .as("n_clipped_hi"),
             round(sum(col("value_w")), 4).as("sum_w"))),

    // Declarative data-contract suite (the Deequ staple): five checks
    // — not-null, key uniqueness, range, regex shape, value domain —
    // ONE aggregate pass + unpivot, one report row per check
    "q_expectations" -> ((s, dir) => {
      import graft.quality.Quality
      import graft.quality.Quality.Expectation._
      Quality.expectations(t(s, dir, "events"), Seq(
        NotNull("user_id"),
        Unique(Seq("event_id")),
        InRange("value", 0.0, 400.0),
        Matches("event_type", "^[a-z]+$"),
        InSet("event_type", Seq("click", "view"))))
    }),

    // Distribution-shift report (day-2 drift monitor): event-type mix,
    // first half of the month vs second — per-value JSD contributions
    // in bits, full-outer so novel categories stay finite
    "q_dist_shift" -> ((s, dir) => {
      import graft.quality.Quality
      val ev = t(s, dir, "events")
      Quality.distributionShift(
        ev.filter(dayofmonth(col("ts")) <= 15),
        ev.filter(dayofmonth(col("ts")) > 15),
        "event_type", count(lit(1)))
    }),

    // Persistable-HLL distinct timeline, VERIFIED form: the sketch
    // estimates can't hash-match a SQL twin (xxhash64 registers), so
    // the query emits the exact daily/running distincts (oracle-exact)
    // plus within-5% flags computed against them — a hash match proves
    // the exact timeline AND that every estimate honored the error
    // bound (SketchOps.verifiedTimeline). HllSpec still pins the
    // incremental == one-shot register identity.
    "q_user_sketch" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      graft.ops.SketchOps.verifiedTimeline(
        ev, graft.ops.SketchOps.dailySketches(ev), p = 12)
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
                col("exact_daily"), col("exact_to_date"),
                col("daily_est_ok"), col("cum_est_ok"))
    }),

    // Per-type value quantiles OFF THE SKETCH TABLE (DDSketch, the
    // quantile member of the persistable family): daily sketches merge
    // by exact count addition, so the merged-quantile path is
    // plain-SQL-certifiable — the oracle recomputes the log buckets
    // (same 1e-9 grid-round) and walks the same ranks
    "q_value_sketch" -> ((s, dir) =>
      graft.ops.SketchOps.quantileReport(
        graft.ops.SketchOps.dailyValueSketches(t(s, dir, "events")))),

    // Rolling-quantile timeline off the sketch table: today's p50/p95
    // plus the trailing-7-day p95 per type — the sketch rows merge in a
    // value-range window (complete histograms, no day×bucket spine;
    // the SQL twin needs an interval join to see absent-today buckets)
    "q_quantile_timeline" -> ((s, dir) =>
      graft.ops.SketchOps.quantileTimeline(
        graft.ops.SketchOps.dailyValueSketches(t(s, dir, "events")))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
                col("event_type"), col("p50_1d"), col("p95_1d"),
                col("p95_7d"))),

    // Day-2 twin: bootstrap the persisted quantile-sketch table, fold
    // in the late batch, RE-DELIVER it (the applied-batch ledger makes
    // the additive merge an exact no-op — unlike HLL's free register-max
    // idempotence, exactly-once here is EARNED via the atomic
    // data+ledger swap), then report. Same oracle as q_value_sketch:
    // a double-count would break the hash
    "q_value_sketch_append" -> ((s, dir) => {
      import graft.ops.SketchOps
      val path = scratch(dir, "value_sketches")
      val p0 = new org.apache.hadoop.fs.Path(path)
      p0.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(p0, true)
      val ev = t(s, dir, "events")
      SketchOps.appendDailyValueSketches(
        s, path, ev.filter(dayofmonth(col("ts")) <= 20), "batch-1")
      val late = ev.filter(dayofmonth(col("ts")) > 20)
      SketchOps.appendDailyValueSketches(s, path, late, "batch-2")
      SketchOps.appendDailyValueSketches(s, path, late, "batch-2")
      SketchOps.quantileReport(s.read.parquet(s"$path/data"))
    }),

    // Day-over-day retention from KMV cohort sketches (set-algebra
    // sketch: intersections, not just unions): at sf0.01 every day has
    // ~134 < k=512 distinct users, so the sketch IS the distinct-hash
    // set and dau/returned/retention are EXACT — oracle-checked; the
    // identical code path degrades to the (k-1)/U(k) estimator above
    // saturation (KmvSpec pins both regimes)
    "q_retention" -> ((s, dir) =>
      graft.ops.SketchOps.retentionReport(
        graft.ops.SketchOps.dailyKmvSketches(t(s, dir, "events")), k = 512)
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
                col("dau"), col("next_dau"), col("returned"),
                col("retention_rate"))),

    // Day-2 sketch-table maintenance flagship: bootstrap the daily HLL
    // table from the first 20 days, fold in the remainder as an
    // incremental batch — re-delivered VERBATIM a second time, which
    // must be an exact no-op (register max absorbs at-least-once
    // delivery) — then serve the timeline from the merged kilobyte
    // table. Served in the VERIFIED form (q_user_sketch's contract):
    // the oracle proves the exact timeline and the estimates' error
    // bound — so a re-delivery double-count would break BOTH the flag
    // columns and HllSpec's incremental == one-shot register pin.
    "q_sketch_append" -> ((s, dir) => {
      import graft.ops.SketchOps
      val path = scratch(dir, "sketches")
      val p0 = new org.apache.hadoop.fs.Path(path)
      p0.getFileSystem(s.sparkContext.hadoopConfiguration)
        .delete(p0, true)
      val ev = t(s, dir, "events")
      SketchOps.appendDailySketches(s, path,
        ev.filter(dayofmonth(col("ts")) <= 20))
      val late = ev.filter(dayofmonth(col("ts")) > 20)
      SketchOps.appendDailySketches(s, path, late)
      SketchOps.appendDailySketches(s, path, late) // at-least-once
      SketchOps.verifiedTimeline(ev, s.read.parquet(path), p = 12)
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
                col("exact_daily"), col("exact_to_date"),
                col("daily_est_ok"), col("cum_est_ok"))
    }),

    // Z-order clustered layout (Delta OPTIMIZE ZORDER analog): write
    // events range-partitioned+sorted on the (user_id, value) Morton
    // key, read back the census — the layout must be data-invariant
    // (the q_compact contract); per-dimension file-pruning quality is
    // spec-pinned in ZOrderSpec
    "q_zorder_layout" -> ((s, dir) => {
      val path = scratch(dir, "zorder")
      Sinks.zorderWrite(
        t(s, dir, "events").select(col("event_id"), col("user_id"),
                                   col("value")),
        Seq("user_id", "value"), path, 16)
      s.read.parquet(path).agg(
        count(lit(1)).as("n"),
        sum(col("user_id")).as("uid_sum"),
        round(sum(col("value")), 4).as("v"))
    }),

    // Parquet-native bloom filters on the point-lookup columns (row-
    // group pruning for `id = x` probes — the layout lever Z-order's
    // min/max can't give a uniformly-spread id column); the layout is
    // physical, so the readable contract is the exact census plus a
    // needle probe that must come back identical through the filter
    // Per-column data profile (rows/nulls/exact-distinct/min/max as
    // one expand-aggregate pass + stack unpivot — no per-column rescans)
    "q_profile" -> ((s, dir) =>
      CoreOps.profile(t(s, dir, "events"),
                      Seq("event_id", "user_id", "event_type", "value",
                          "props"))),

    "q_bloom_layout" -> ((s, dir) => {
      val path = scratch(dir, "bloomlayout")
      Sinks.bloomFilterWrite(
        t(s, dir, "events").select(col("event_id"), col("user_id"),
                                   col("value")),
        Seq("event_id", "user_id"), path, ndv = 100000L)
      val back = s.read.parquet(path)
      back.agg(count(lit(1)).as("n"),
               sum(col("user_id")).as("uid_sum"),
               round(sum(col("value")), 4).as("v"))
        .crossJoin(back.filter(col("event_id") === 42L)
          .agg(count(lit(1)).as("n_probe")))
    })
  )

  // -------------------------------------------------------------- oracles

  /** DuckDB twins over the same parquet tables (driver resolves bare table
    * names). Aliases/casts mirror the Spark outputs exactly.
    */
  /** Literal chars for the encoding-gate oracle, kept as escapes in
    * ordinary strings (triple-quoted Scala strings don't process \u
    * escapes) and interpolated into the SQL so both engines test the
    * byte-identical markers.
    */
  private val Fffd = "\uFFFD"
  private val MojiMarkers = Seq("\u00C3\u00A9", "\u00C3\u00A8",
                                "\u00C3\u00BC", "\u00C3\u00A4",
                                "\u00E2\u20AC")
  private def mojiSqlSum: String = MojiMarkers
    .map(m => s"(len(text) - len(replace(text, '$m', ''))) // ${m.length}")
    .mkString(" + ")

  def oracleSql: Map[String, String] = Map(

    "q_flagship_pipeline" ->
      """SELECT time_bucket, n_name AS zone, count(*) AS trips,
        |       round(avg(value), 6) AS avg_fare,
        |       round(sum(value), 4) AS total_fare
        |FROM (
        |  SELECT CASE WHEN date_part('hour', ts) BETWEEN 7 AND 9
        |                THEN 'Morning Rush'
        |              WHEN date_part('hour', ts) BETWEEN 17 AND 19
        |                THEN 'Evening Rush'
        |              ELSE 'Other' END AS time_bucket,
        |         value, ((user_id % 25) + 25) % 25 AS zone_key
        |  FROM (SELECT DISTINCT * FROM events
        |        WHERE event_id IS NOT NULL AND ts IS NOT NULL
        |          AND user_id IS NOT NULL AND event_type IS NOT NULL
        |          AND value IS NOT NULL AND props IS NOT NULL)
        |) e LEFT JOIN nation ON e.zone_key = nation.n_nationkey
        |GROUP BY time_bucket, n_name""".stripMargin,

    "q_dropna" ->
      """SELECT event_id, user_id, event_type, value FROM events
        |WHERE event_id IS NOT NULL AND ts IS NOT NULL
        |  AND user_id IS NOT NULL AND event_type IS NOT NULL
        |  AND value IS NOT NULL AND props IS NOT NULL""".stripMargin,

    "q_dedup_distinct" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",

    "q_tpch_q1" ->
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 4) AS sum_qty,
        |       round(sum(l_extendedprice), 2) AS sum_base_price,
        |       round(sum(l_extendedprice * (1.0 - l_discount)), 2)
        |         AS sum_disc_price,
        |       round(sum(l_extendedprice * (1.0 - l_discount)
        |                 * (1.0 + l_tax)), 2) AS sum_charge,
        |       round(avg(l_quantity), 6) AS avg_qty,
        |       round(avg(l_extendedprice), 6) AS avg_price,
        |       round(avg(l_discount), 6) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY 1, 2""".stripMargin,

    "q_yoy_growth" ->
      """WITH yearly AS (
        |  SELECT CAST(date_part('year', o_orderdate) AS INTEGER) AS yr,
        |         count(*) AS n_orders,
        |         round(sum(o_totalprice), 2) AS revenue
        |  FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1)
        |SELECT yr, n_orders, revenue,
        |       round((revenue - lag(revenue) OVER (ORDER BY yr)) /
        |             nullif(lag(revenue) OVER (ORDER BY yr), 0), 6)
        |         AS growth
        |FROM yearly""".stripMargin,

    "q_tpch_q10" ->
      """SELECT c_custkey, c_name, round(c_acctbal, 2) AS c_acctbal,
        |       n_name,
        |       round(sum(l_extendedprice * (1.0 - l_discount)), 2)
        |         AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
        |GROUP BY 1, 2, 3, 4
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    "q_tpch_q18" ->
      """WITH heavy AS (SELECT l_orderkey,
        |                      round(sum(l_quantity), 4) AS total_qty
        |               FROM lineitem GROUP BY 1
        |               HAVING round(sum(l_quantity), 4) > 300)
        |SELECT c_name, c_custkey, o_orderkey,
        |       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |       round(o_totalprice, 2) AS o_totalprice, total_qty
        |FROM heavy JOIN orders ON o_orderkey = l_orderkey
        |           JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
        |LIMIT 100""".stripMargin,

    "q_tpch_q5" ->
      """SELECT n_name,
        |       round(sum(l_extendedprice * (1.0 - l_discount)), 2)
        |         AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY 1""".stripMargin,

    "q_tpch_q6" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,

    "q_tpch_q3" ->
      """SELECT l_orderkey,
        |       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |       round(sum(l_extendedprice * (1.0 - l_discount)), 2)
        |         AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
        |GROUP BY 1, 2
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,

    "q_derive_month" ->
      """SELECT CAST(date_part('month', ts) AS INTEGER) AS pickup_month,
        |       count(*) AS n
        |FROM events GROUP BY 1""".stripMargin,

    "q_time_bucket" ->
      """SELECT CASE WHEN date_part('hour', ts) BETWEEN 7 AND 9
        |              THEN 'Morning Rush'
        |            WHEN date_part('hour', ts) BETWEEN 17 AND 19
        |              THEN 'Evening Rush'
        |            ELSE 'Other' END AS time_bucket,
        |       count(*) AS n, round(avg(value), 6) AS avg_fare
        |FROM events GROUP BY 1""".stripMargin,

    "q_hour_filter" ->
      """SELECT count(*) AS morning_rows FROM events
        |WHERE date_part('hour', ts) BETWEEN 7 AND 9""".stripMargin,

    "q_legacy_etl" ->
      """SELECT doc_id, source AS sponsoring_organization, lang,
        |       '2025-08-29' AS date_added
        |FROM documents WHERE lang = 'en'""".stripMargin,

    "q_drop_col" ->
      "SELECT doc_id, lang, source FROM documents",

    "q_quality_nulls" ->
      """SELECT count(*) AS null_violations FROM events
        |WHERE ts IS NULL OR value IS NULL""".stripMargin,

    "q_row_count" ->
      "SELECT count(*) AS n FROM lineitem",

    "q_null_matrix" ->
      """SELECT CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |         AS nulls_ts,
        |       CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |         AS nulls_user_id,
        |       CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |         AS nulls_value,
        |       CAST(sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |         AS nulls_props
        |FROM events""".stripMargin,

    "q_zone_join" ->
      """SELECT r_name, count(*) AS customers,
        |       round(avg(c_acctbal), 6) AS avg_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,

    "q_filter_eq" ->
      """SELECT p_partkey, p_name, p_brand, p_size FROM part
        |WHERE p_brand = 'Brand#1'""".stripMargin,

    "q_csv_roundtrip" ->
      """SELECT count(*) AS n, CAST(sum(event_id) AS BIGINT) AS id_sum,
        |       count(DISTINCT event_type) AS n_types
        |FROM events""".stripMargin,

    "q_csv_infer" ->
      """SELECT count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        |       round(sum(o_totalprice), 2) AS price_sum,
        |       count(DISTINCT o_orderstatus) AS n_status
        |FROM orders""".stripMargin,

    // byte-level twin of the stub decode: bucket 0 = bytes at positions
    // ≡ 0 (mod 8) of the UTF-8 payload, mean as integer-sum/count/255 —
    // the identical division chain the stub evaluates, so the doubles
    // (and their round-6) agree bit-for-bit. Byte extraction goes through
    // hex() so multi-byte UTF-8 text stays position-exact.
    "q_multimodal_features" ->
      """WITH h AS (SELECT doc_id,
        |                  lower(hex(encode(text))) AS hx,
        |                  octet_length(encode(text)) AS len
        |           FROM documents),
        |pos AS (SELECT unnest(range(0,
        |          (SELECT CAST(max(len) AS BIGINT) FROM h), 8)) AS i),
        |b0 AS (SELECT doc_id,
        |              CAST(sum(
        |                (strpos('0123456789abcdef',
        |                        substr(hx, CAST(2*i+1 AS INTEGER), 1))-1)*16 +
        |                (strpos('0123456789abcdef',
        |                        substr(hx, CAST(2*i+2 AS INTEGER), 1))-1))
        |                AS BIGINT) AS s,
        |              count(*) AS c
        |       FROM h JOIN pos ON i < len
        |       GROUP BY doc_id)
        |SELECT h.doc_id,
        |       'fake/' || ['png','jpeg','wav','mp4'][CAST(h.doc_id % 4
        |                                                  AS INTEGER) + 1]
        |         AS format,
        |       CAST(h.len AS BIGINT) AS n_bytes,
        |       round(coalesce(CAST(b0.s AS DOUBLE) / b0.c / 255.0, 0.0), 6)
        |         AS f0
        |FROM h LEFT JOIN b0 USING (doc_id)""".stripMargin,

    "q_multimodal_meta" ->
      """SELECT doc_id,
        |       'fake/' || ['png','jpeg','wav','mp4'][CAST(doc_id % 4
        |                                                  AS INTEGER) + 1]
        |         AS format,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |FROM documents""".stripMargin,

    "q_media_resize" ->
      """WITH m AS (SELECT doc_id,
        |                  CAST(octet_length(encode(text)) AS BIGINT) AS len,
        |                  (doc_id % 64) * 16 + 64 AS w,
        |                  (doc_id % 32) * 16 + 64 AS h
        |           FROM documents)
        |SELECT doc_id,
        |       LEAST(len, GREATEST(1, CAST(trunc(len * LEAST(1.0,
        |         4096.0 / GREATEST(1.0, CAST(w * h AS DOUBLE))))
        |         AS BIGINT))) AS n_bytes_resized
        |FROM m""".stripMargin,

    "q_frame_sample" ->
      """WITH m AS (SELECT doc_id,
        |                  CAST(octet_length(encode(text)) AS BIGINT) AS len
        |           FROM documents),
        |idx AS (SELECT unnest(range(0,
        |          (SELECT CAST(max(len) AS BIGINT) FROM m) // 1024 + 1)) AS i)
        |SELECT doc_id, CAST(i AS INTEGER) AS frame_idx,
        |       LEAST(1024, len - i * 1024) AS frame_bytes
        |FROM m JOIN idx ON i * 1024 < len AND i % 4 = 0""".stripMargin,

    "q_partitioned_write" ->
      """SELECT count(*) AS n, round(sum(l_extendedprice), 2) AS revenue
        |FROM lineitem WHERE date_part('month', l_shipdate) = 3""".stripMargin,

    "q_append_load" ->
      """SELECT o_orderstatus, CAST(count(*) * 2 AS BIGINT) AS n
        |FROM orders GROUP BY o_orderstatus""".stripMargin,

    "q_sorted_scan" ->
      """SELECT count(*) AS n, round(sum(value), 4) AS v
        |FROM events
        |WHERE date_part('day', ts) BETWEEN 5 AND 10""".stripMargin,

    "q_topk_per_group" -> topkOracle,
    // the bounded-buffer Aggregator must land on the identical rows
    "q_topk_agg" -> topkOracle,

    "q_window_funcs" ->
      """SELECT o_custkey, o_orderkey,
        |       round(sum(o_totalprice) OVER (
        |         PARTITION BY o_custkey ORDER BY o_orderkey
        |         ROWS UNBOUNDED PRECEDING), 2) AS run_total,
        |       lag(o_orderkey) OVER (
        |         PARTITION BY o_custkey ORDER BY o_orderkey) AS prev_key,
        |       lead(o_orderkey) OVER (
        |         PARTITION BY o_custkey ORDER BY o_orderkey) AS next_key
        |FROM orders""".stripMargin,

    // ts IS NOT NULL: Spark's window() analyzer inserts an implicit
    // IsNotNull(ts), so a null-ts row silently drops from the Spark
    // side while a bare GROUP BY would keep a NULL hour group (the
    // q_hopping_rollup twin carries the same guard)
    "q_hourly_rollup" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
        |         AS hour_start,
        |       count(*) AS n, round(sum(value), 4) AS v
        |FROM events WHERE ts IS NOT NULL GROUP BY 1""".stripMargin,

    "q_text_stats" ->
      """SELECT doc_id,
        |  CAST(len(text) AS BIGINT) AS n_chars_calc,
        |  CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS BIGINT)
        |    AS n_tokens,
        |  CAST(len(regexp_extract_all(text,
        |       '[A-Za-z]+|[0-9]+|[!-/:-@\[-`{-~]')) AS BIGINT)
        |    AS n_subwords,
        |  CAST(len(regexp_extract_all(text, '[.,!?;:]')) AS BIGINT)
        |    AS n_punct,
        |  CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |       x -> x IN ('the','a','of','and','to','in','is'))) AS BIGINT)
        |    AS n_stopwords,
        |  md5(text) AS fingerprint
        |FROM documents""".stripMargin,

    "q_lang_id" ->
      """WITH sc AS (
        |  SELECT doc_id, lang,
        |    len(list_filter(string_split_regex(trim(text),'\s+'),
        |        x -> x IN ('the','a','of','and','to','in','is'))) AS s_en,
        |    len(list_filter(string_split_regex(trim(text),'\s+'),
        |        x -> x IN ('el','la','de','los','y','que','un'))) AS s_es,
        |    len(list_filter(string_split_regex(trim(text),'\s+'),
        |        x -> x IN ('der','die','das','und','ist','von','mit'))) AS s_de,
        |    len(list_filter(string_split_regex(trim(text),'\s+'),
        |        x -> x IN ('le','les','et','des','une','dans','pour'))) AS s_fr,
        |    len(list_filter(string_split_regex(trim(text),'\s+'),
        |        x -> x IN ('的','是','了','在','我','有'))) AS s_zh
        |  FROM documents)
        |SELECT doc_id, lang,
        |  CASE
        |    WHEN s_en > 0 AND s_en >= s_es AND s_en >= s_de AND s_en >= s_fr
        |         AND s_en >= s_zh THEN 'en'
        |    WHEN s_es > 0 AND s_es >= s_en AND s_es >= s_de AND s_es >= s_fr
        |         AND s_es >= s_zh THEN 'es'
        |    WHEN s_de > 0 AND s_de >= s_en AND s_de >= s_es AND s_de >= s_fr
        |         AND s_de >= s_zh THEN 'de'
        |    WHEN s_fr > 0 AND s_fr >= s_en AND s_fr >= s_es AND s_fr >= s_de
        |         AND s_fr >= s_zh THEN 'fr'
        |    WHEN s_zh > 0 AND s_zh >= s_en AND s_zh >= s_es AND s_zh >= s_de
        |         AND s_zh >= s_fr THEN 'zh'
        |    ELSE 'und' END AS lang_guess
        |FROM sc""".stripMargin,

    "q_quality_score" ->
      """SELECT doc_id, round(
        |  least(CAST(len(list_filter(string_split_regex(trim(text),'\s+'), x -> x <> '')) AS DOUBLE)
        |        / 100.0, 1.0) * 0.5
        |  + (CAST(len(list_filter(string_split_regex(trim(text),'\s+'),
        |          x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
        |     / CAST(greatest(len(list_filter(string_split_regex(trim(text),'\s+'), x -> x <> '')), 1)
        |            AS DOUBLE)) * 0.3
        |  + (1.0 - least(CAST(len(regexp_extract_all(text,'[.,!?;:]'))
        |                      AS DOUBLE)
        |                 / CAST(greatest(len(text),1) AS DOUBLE) * 10.0,
        |                 1.0)) * 0.2, 6) AS quality_score
        |FROM documents""".stripMargin,

    "q_kanon_census" ->
      """WITH census AS (SELECT source, lang, count(*) AS n
        |                FROM documents GROUP BY 1, 2),
        |masked AS (SELECT CASE WHEN n < 10 THEN '__other__'
        |                       ELSE source END AS source,
        |                  CASE WHEN n < 10 THEN '__other__'
        |                       ELSE lang END AS lang,
        |                  n
        |           FROM census)
        |SELECT source, lang, CAST(sum(n) AS BIGINT) AS n
        |FROM masked GROUP BY 1, 2""".stripMargin,

    "q_pmi_pairs" ->
      """WITH toks AS (SELECT doc_id, unnest(list_distinct(list_filter(
        |          string_split_regex(trim(text), '\s+'), t -> t <> '')))
        |          AS tok
        |        FROM documents),
        |df AS (SELECT tok, count(*) AS d FROM toks GROUP BY 1),
        |nn AS (SELECT count(DISTINCT doc_id) AS n FROM toks),
        |pairs AS (SELECT a.tok AS x, b.tok AS y, count(*) AS n_pair
        |          FROM toks a JOIN toks b
        |            ON a.doc_id = b.doc_id AND a.tok < b.tok
        |          GROUP BY 1, 2 HAVING count(*) >= 5)
        |SELECT x, y, CAST(n_pair AS BIGINT) AS n_pair,
        |       round(ln(CAST(n_pair AS DOUBLE) * n / (dx.d * dy.d)), 6)
        |         AS pmi
        |FROM pairs JOIN df dx ON dx.tok = x JOIN df dy ON dy.tok = y, nn
        |ORDER BY pmi DESC, x, y LIMIT 20""".stripMargin,

    "q_score_calibration" ->
      """WITH s AS (SELECT doc_id, source, round(
        |  least(CAST(len(list_filter(string_split_regex(trim(text),'\s+'), x -> x <> '')) AS DOUBLE)
        |        / 100.0, 1.0) * 0.5
        |  + (CAST(len(list_filter(string_split_regex(trim(text),'\s+'),
        |          x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
        |     / CAST(greatest(len(list_filter(string_split_regex(trim(text),'\s+'), x -> x <> '')), 1)
        |            AS DOUBLE)) * 0.3
        |  + (1.0 - least(CAST(len(regexp_extract_all(text,'[.,!?;:]'))
        |                      AS DOUBLE)
        |                 / CAST(greatest(len(text),1) AS DOUBLE) * 10.0,
        |                 1.0)) * 0.2, 6) AS score
        |FROM documents)
        |SELECT doc_id, source, score,
        |       round(percent_rank() OVER (PARTITION BY source
        |                                  ORDER BY score), 6) AS pct
        |FROM s WHERE score IS NOT NULL""".stripMargin,

    "q_dedup_keyed" ->
      """SELECT lang, source, min(doc_id) AS doc_id
        |FROM documents GROUP BY lang, source""".stripMargin,

    "q_dedup_rate" ->
      """SELECT source, count(*) AS n_docs,
        |       count(DISTINCT md5(text)) AS n_unique,
        |       round(1.0 - CAST(count(DISTINCT md5(text)) AS DOUBLE)
        |                   / CAST(count(*) AS DOUBLE), 6) AS dup_rate
        |FROM documents GROUP BY 1""".stripMargin,

    "q_bigrams" ->
      """WITH tk AS (SELECT list_filter(string_split_regex(trim(text),
        |                                                  '\s+'),
        |                               x -> x <> '') AS toks
        |            FROM documents WHERE text IS NOT NULL),
        |bg AS (SELECT unnest(list_transform(range(1, len(toks)),
        |                                    i -> toks[i] || ' ' ||
        |                                         toks[i + 1])) AS bigram
        |       FROM tk WHERE len(toks) >= 2)
        |SELECT bigram, count(*) AS n FROM bg
        |GROUP BY 1 ORDER BY n DESC, bigram LIMIT 20""".stripMargin,

    "q_quality_gate" ->
      """WITH q AS (SELECT source, round(
        |  least(CAST(len(list_filter(string_split_regex(trim(text),'\s+'), x -> x <> '')) AS DOUBLE)
        |        / 100.0, 1.0) * 0.5
        |  + (CAST(len(list_filter(string_split_regex(trim(text),'\s+'),
        |          x -> x IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
        |     / CAST(greatest(len(list_filter(string_split_regex(trim(text),'\s+'), x -> x <> '')), 1)
        |            AS DOUBLE)) * 0.3
        |  + (1.0 - least(CAST(len(regexp_extract_all(text,'[.,!?;:]'))
        |                      AS DOUBLE)
        |                 / CAST(greatest(len(text),1) AS DOUBLE) * 10.0,
        |                 1.0)) * 0.2, 6) AS qs
        |FROM documents),
        |m AS (SELECT source, median(qs) AS med FROM q GROUP BY 1)
        |SELECT q.source AS source, count(*) AS n_kept,
        |       round(max(m.med), 6) AS med_score
        |FROM q JOIN m ON m.source = q.source
        |WHERE q.qs > m.med GROUP BY 1""".stripMargin,

    "q_embed_outliers" ->
      """WITH flat AS (SELECT vec_id, label,
        |                     CAST(unnest(embedding) AS DOUBLE) AS v,
        |                     generate_subscripts(embedding, 1) AS i
        |              FROM embeddings),
        |cent AS (SELECT label, i, avg(v) AS c FROM flat GROUP BY 1, 2),
        |sims AS (SELECT f.vec_id, f.label,
        |                round(sum(f.v * c.c) /
        |                      (sqrt(sum(f.v * f.v)) * sqrt(sum(c.c * c.c))),
        |                      6) AS sim
        |         FROM flat f JOIN cent c ON c.label = f.label AND c.i = f.i
        |         GROUP BY 1, 2)
        |SELECT vec_id, label, sim FROM sims
        |ORDER BY sim ASC, vec_id LIMIT 10""".stripMargin,

    "q_exact_dedup" ->
      """SELECT count(*) AS total_docs,
        |       count(DISTINCT md5(text)) AS distinct_docs
        |FROM documents""".stripMargin,

    "q_ngram_jaccard" -> jaccardOracle,

    "q_containment_join" -> containmentOracleGen(12, 0.9, 7, 51, 150, 250),
    "q_leakage_audit" -> leakageAuditOracle,
    "q_minhash_lsh" -> jaccardOracle,
    "q_dup_clusters" -> dupClustersOracle,
    "q_quality_classifier" -> qualityClassifierOracle,

    // planted spectrum: exactly-diagonal covariance (means cancel to
    // an exact 0.0), so eigenvalues = per-coordinate variances and the
    // whole scree is plain SQL — mirrors the query's construction
    // same planted-diagonal construction as q_pca_scree; the basis of
    // the top-6 components is the 6 largest-variance coordinate axes,
    // so squared projections and the reconstruction error are plain
    // CASE expressions on the doc's own planted coordinate — no LAPACK
    "q_pca_embed" ->
      """WITH v AS (SELECT doc_id,
        |    CAST((doc_id // 2) % 8 AS INTEGER) AS coord,
        |    (CASE WHEN doc_id % 2 = 0 THEN 1.0 ELSE -1.0 END)
        |      * CAST((doc_id // 2) % 8 + 1 AS DOUBLE) AS x
        |  FROM documents),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM v),
        |pc AS (SELECT coord, sum(x*x) AS sq, sum(x) AS sm
        |       FROM v GROUP BY 1),
        |ev AS (SELECT coord, sq/nn.n - (sm/nn.n)*(sm/nn.n) AS ev
        |       FROM pc, nn),
        |rk AS (SELECT coord, row_number() OVER (ORDER BY ev DESC, coord)
        |         - 1 AS comp FROM ev)
        |SELECT v.doc_id,
        |       round(CASE WHEN r.comp = 0 THEN v.x*v.x ELSE 0.0 END, 6) AS p0,
        |       round(CASE WHEN r.comp = 1 THEN v.x*v.x ELSE 0.0 END, 6) AS p1,
        |       round(CASE WHEN r.comp = 2 THEN v.x*v.x ELSE 0.0 END, 6) AS p2,
        |       round(CASE WHEN r.comp = 3 THEN v.x*v.x ELSE 0.0 END, 6) AS p3,
        |       round(CASE WHEN r.comp = 4 THEN v.x*v.x ELSE 0.0 END, 6) AS p4,
        |       round(CASE WHEN r.comp = 5 THEN v.x*v.x ELSE 0.0 END, 6) AS p5,
        |       round(CASE WHEN r.comp >= 6 THEN v.x*v.x ELSE 0.0 END, 6)
        |         AS rec_err2
        |FROM v JOIN rk r ON r.coord = v.coord""".stripMargin,

    "q_pca_scree" ->
      """WITH v AS (SELECT CAST((doc_id // 2) % 8 AS INTEGER) AS coord,
        |    (CASE WHEN doc_id % 2 = 0 THEN 1.0 ELSE -1.0 END)
        |      * CAST((doc_id // 2) % 8 + 1 AS DOUBLE) AS x
        |  FROM documents),
        |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM v),
        |pc AS (SELECT coord, sum(x*x) AS sq, sum(x) AS sm
        |       FROM v GROUP BY 1),
        |ev AS (SELECT coord, sq/nn.n - (sm/nn.n)*(sm/nn.n) AS ev
        |       FROM pc, nn),
        |ord AS (SELECT row_number() OVER (ORDER BY ev DESC, coord) - 1
        |          AS component, ev FROM ev),
        |tot AS (SELECT sum(ev) AS t FROM ev)
        |SELECT CAST(component AS INTEGER) AS component,
        |       round(ev, 6) AS eigenvalue,
        |       round(sum(ev) OVER (ORDER BY component) / tot.t, 6)
        |         AS cum_var_frac
        |FROM ord, tot""".stripMargin,

    "q_pagerank" -> pagerankOracle,
    "q_ppr" -> pprOracle,
    "q_triangles" -> trianglesOracle,

    "q_incremental_dedup" ->
      (jaccardPairsCte + "\n" +
        """SELECT CASE WHEN id_a % 2 = 0 THEN id_a ELSE id_b END AS id_a,
          |       CASE WHEN id_a % 2 = 0 THEN id_b ELSE id_a END AS id_b,
          |       jaccard
          |FROM pairs WHERE id_a % 2 <> id_b % 2""".stripMargin),

    // same truth as q_incremental_dedup (cross-parity exact-Jaccard
    // pairs, id_a = the even/index side) — the index path must find
    // exactly what the R-S join finds
    "q_minhash_index" ->
      (jaccardPairsCte + "\n" +
        """SELECT CASE WHEN id_a % 4 = 0 THEN id_a ELSE id_b END AS id_a,
          |       CASE WHEN id_a % 4 = 0 THEN id_b ELSE id_a END AS id_b,
          |       jaccard
          |FROM pairs
          |WHERE (id_a % 4 = 0 AND id_b % 4 = 2)
          |   OR (id_a % 4 = 2 AND id_b % 4 = 0)""".stripMargin),

    // every artifact recomputed from base-minus-forgotten; buckets =
    // bands(4) postings per bandable doc (len ≥ n — empty shingle sets
    // never band)
    "q_forget_cascade" ->
      """WITH d AS (SELECT doc_id FROM documents
        |          WHERE doc_id % 2 = 0 AND doc_id % 97 <> 0),
        |     e AS (SELECT vec_id FROM embeddings
        |          WHERE vec_id % 2 = 0 AND vec_id % 97 <> 0),
        |     db AS (SELECT doc_id FROM documents
        |            WHERE doc_id % 2 = 0 AND doc_id % 97 <> 0
        |              AND len(text) >= 12)
        |SELECT 'docs' AS artifact, count(*) AS n_rows,
        |       CAST(sum(doc_id) AS BIGINT) AS id_sum,
        |       CAST(0 AS BIGINT) AS n_forgotten FROM d
        |UNION ALL
        |SELECT 'emb', count(*), CAST(sum(vec_id) AS BIGINT),
        |       CAST(0 AS BIGINT) FROM e
        |UNION ALL
        |SELECT 'ivf_lists', count(*), CAST(sum(vec_id) AS BIGINT),
        |       CAST(0 AS BIGINT) FROM e
        |UNION ALL
        |SELECT 'mh_sets', count(*), CAST(sum(doc_id) AS BIGINT),
        |       CAST(0 AS BIGINT) FROM d
        |UNION ALL
        |SELECT 'mh_buckets', 4 * count(*), CAST(4 * sum(doc_id) AS BIGINT),
        |       CAST(0 AS BIGINT) FROM db
        |UNION ALL
        |SELECT 'bm25_postings', count(*), CAST(sum(doc_id) AS BIGINT),
        |       CAST(0 AS BIGINT)
        |FROM (SELECT DISTINCT doc_id, term FROM
        |       (SELECT doc_id,
        |          unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |                             x -> x <> '')) AS term
        |        FROM documents
        |        WHERE doc_id % 97 <> 0 AND doc_id % 4 = 0))""".stripMargin,

    // the exact-Jaccard pair truth restricted to what the two-epoch
    // stream observes: cross-quarter pairs (canonicalized index-side
    // first) plus within-quarter pairs straddling the ntile(2) half
    // boundary (epoch 2 probing epoch 1's freshly-appended half)
    "q_ingest_stream" ->
      (jaccardPairsCte + ",\n" +
        """q2 AS (SELECT doc_id, ntile(2) OVER (ORDER BY doc_id) AS half
          |       FROM documents WHERE doc_id % 4 = 2)
          |SELECT CASE WHEN p.id_a % 4 = 2 AND p.id_b % 4 = 0
          |            THEN p.id_b ELSE p.id_a END AS id_a,
          |       CASE WHEN p.id_a % 4 = 2 AND p.id_b % 4 = 0
          |            THEN p.id_a ELSE p.id_b END AS id_b,
          |       p.jaccard
          |FROM pairs p
          |LEFT JOIN q2 ha ON ha.doc_id = p.id_a
          |LEFT JOIN q2 hb ON hb.doc_id = p.id_b
          |WHERE (p.id_a % 4 = 0 AND p.id_b % 4 = 2)
          |   OR (p.id_a % 4 = 2 AND p.id_b % 4 = 0)
          |   OR (p.id_a % 4 = 2 AND p.id_b % 4 = 2
          |       AND ha.half = 1 AND hb.half = 2)""".stripMargin),

    "q_incremental_refresh" -> refreshOracle(0),

    // the stream query shares the one-shot flagship's fixture and
    // store — same generated twin (the replay/fresh interleaving
    // argument lives on the query)
    "q_refresh_stream" -> refreshOracle(0),

    "q_semantic_dups" ->
      (jaccardPairsCte + ",\n" +
        """flat AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
          |                generate_subscripts(embedding,1) AS i
          |         FROM embeddings),
          |norms AS (SELECT vec_id, sqrt(sum(v*v)) AS nrm
          |          FROM flat GROUP BY 1),
          |dots AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          |                sum(a.v*b.v) AS dot
          |         FROM flat a JOIN flat b
          |           ON a.i = b.i AND a.vec_id < b.vec_id
          |         GROUP BY 1,2),
          |cpairs AS (SELECT id_a, id_b,
          |                  round(dot/(na.nrm*nb.nrm), 6) AS sim
          |           FROM dots JOIN norms na ON na.vec_id = id_a
          |                     JOIN norms nb ON nb.vec_id = id_b
          |           WHERE dot/(na.nrm*nb.nrm) >= 0.45)
          |SELECT c.id_a, c.id_b, c.sim FROM cpairs c
          |WHERE NOT EXISTS (SELECT 1 FROM pairs p
          |                  WHERE p.id_a = c.id_a AND p.id_b = c.id_b)""".stripMargin),

    "q_knn_join" ->
      """WITH flat AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
        |                     generate_subscripts(embedding,1) AS i
        |              FROM embeddings),
        |norms AS (SELECT vec_id, sqrt(sum(v*v)) AS nrm FROM flat GROUP BY 1),
        |dots AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |                sum(q.v*c.v) AS dot
        |         FROM flat q JOIN flat c ON q.i = c.i
        |         WHERE q.vec_id < 5 AND c.vec_id >= 5
        |         GROUP BY 1,2),
        |scored AS (SELECT query_id, neighbor_id,
        |                  round(dot/(nq.nrm*nc.nrm), 6) AS sim
        |           FROM dots JOIN norms nq ON nq.vec_id = query_id
        |                     JOIN norms nc ON nc.vec_id = neighbor_id),
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
        |             ORDER BY sim DESC, neighbor_id) AS rn FROM scored)
        |SELECT query_id, neighbor_id, sim FROM ranked WHERE rn <= 3""".stripMargin,

    "q_remove_contained" ->
      """WITH un AS (SELECT doc_id, text FROM documents
        |            WHERE doc_id % 4 = 0
        |            UNION ALL
        |            SELECT doc_id + 100000, substr(text, 51, 150)
        |            FROM documents
        |            WHERE doc_id % 4 = 0 AND doc_id % 7 = 0
        |              AND len(text) >= 250),
        |idx AS (SELECT unnest(range(1,
        |    (SELECT CAST(max(len(text)) AS BIGINT) FROM un))) AS i),
        |sh AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INTEGER), 12) AS s
        |       FROM un JOIN idx ON i <= len(text)-11),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
        |           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
        |           GROUP BY 1,2),
        |removed AS (SELECT DISTINCT c.id_a FROM common c
        |            JOIN sizes sa ON sa.doc_id = c.id_a
        |            JOIN sizes sb ON sb.doc_id = c.id_b
        |            WHERE CAST(c.c AS DOUBLE)/sa.n >= 0.9
        |              AND (sb.n > sa.n OR (sb.n = sa.n AND c.id_b < c.id_a)))
        |SELECT doc_id, text FROM un
        |WHERE doc_id NOT IN (SELECT id_a FROM removed)""".stripMargin,

    "q_margin_mine" ->
      """WITH flat AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
        |                     generate_subscripts(embedding,1) AS i
        |              FROM embeddings),
        |norms AS (SELECT vec_id, sqrt(sum(v*v)) AS nrm FROM flat GROUP BY 1),
        |sims AS (SELECT fa.vec_id AS id_a, fb.vec_id AS id_b,
        |                round(sum(fa.v*fb.v) /
        |                      (any_value(na.nrm)*any_value(nb.nrm)), 6) AS sim
        |         FROM flat fa JOIN flat fb ON fa.i = fb.i
        |              AND fa.vec_id % 2 = 0 AND fb.vec_id % 2 = 1
        |         JOIN norms na ON na.vec_id = fa.vec_id
        |         JOIN norms nb ON nb.vec_id = fb.vec_id
        |         GROUP BY 1, 2),
        |fwd AS (SELECT *, row_number() OVER (PARTITION BY id_a
        |                    ORDER BY sim DESC, id_b ASC) AS rn FROM sims),
        |bwd AS (SELECT *, row_number() OVER (PARTITION BY id_b
        |                    ORDER BY sim DESC, id_a ASC) AS rn FROM sims),
        |den_a AS (SELECT id_a, avg(sim) AS da FROM fwd WHERE rn <= 4
        |          GROUP BY 1),
        |den_b AS (SELECT id_b, avg(sim) AS db FROM bwd WHERE rn <= 4
        |          GROUP BY 1)
        |SELECT id_a, id_b, sim, margin FROM (
        |  SELECT f.id_a, f.id_b, f.sim,
        |         round(f.sim/((da+db)/2), 6) AS margin
        |  FROM fwd f JOIN den_a USING (id_a) JOIN den_b USING (id_b)
        |  WHERE f.rn <= 4)
        |WHERE margin >= 1.1""".stripMargin,

    "q_quantize" ->
      """SELECT vec_id,
        |  round(127.0 / list_max(list_transform(embedding,
        |          x -> abs(CAST(x AS DOUBLE)))), 6) AS scale,
        |  array_to_string(
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) *
        |      (127.0 / list_max(list_transform(embedding,
        |         y -> abs(CAST(y AS DOUBLE))))) + 0.5) AS INTEGER)),
        |    ',') AS qvec
        |FROM embeddings""".stripMargin,

    "q_int8_topk" ->
      """WITH q AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) *
        |      (127.0 / list_max(list_transform(embedding,
        |         y -> abs(CAST(y AS DOUBLE))))) + 0.5) AS BIGINT)) AS qv
        |  FROM embeddings
        |  WHERE list_max(list_transform(embedding,
        |          x -> abs(CAST(x AS DOUBLE)))) > 0),
        |flat AS (SELECT vec_id, unnest(qv) AS v,
        |                generate_subscripts(qv, 1) AS i
        |         FROM q),
        |probe AS (SELECT i, v FROM flat WHERE vec_id = 0),
        |pn AS (SELECT sum(v * v) AS pn2 FROM probe),
        |dots AS (SELECT f.vec_id, sum(f.v * p.v) AS dot,
        |                sum(f.v * f.v) AS nrm2
        |         FROM flat f JOIN probe p ON p.i = f.i
        |         WHERE f.vec_id <> 0 GROUP BY 1)
        |SELECT d.vec_id,
        |       round(CAST(dot AS DOUBLE) /
        |             (sqrt(CAST(nrm2 AS DOUBLE)) * sqrt(CAST(pn2 AS DOUBLE))),
        |             6) AS sim
        |FROM dots d, pn
        |WHERE nrm2 > 0
        |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,

    "q_schema_evolution" ->
      """WITH merged AS (
        |  SELECT o_orderkey, o_totalprice, NULL AS o_orderstatus
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders)
        |SELECT count(*) AS n, round(sum(o_totalprice), 2) AS price_sum,
        |       count(o_orderstatus) AS status_rows
        |FROM merged""".stripMargin,

    "q_corpus_mix" ->
      """SELECT source, count(*) AS kept FROM documents
        |WHERE (strpos('0123456789abcdef', substr(md5(text),1,1))-1)*16
        |      + (strpos('0123456789abcdef', substr(md5(text),2,1))-1)
        |  < (CASE source WHEN 'src0' THEN 0.25 WHEN 'src1' THEN 0.5
        |                 WHEN 'src2' THEN 0.0 ELSE 1.0 END) * 256.0
        |GROUP BY source""".stripMargin,

    "q_stratified_sample" -> stratifiedOracleGen(20),

    "q_weighted_sample" ->
      """SELECT doc_id, weight, skey FROM (
        |  SELECT doc_id, CAST(n_chars AS DOUBLE) AS weight,
        |         round(pow(
        |           (CAST('0x' || substr(md5('11|' ||
        |              CAST(doc_id AS VARCHAR)), 1, 13) AS BIGINT) + 0.5)
        |             / 4503599627370496.0,
        |           1.0 / CAST(n_chars AS DOUBLE)), 9) AS skey
        |  FROM documents WHERE n_chars > 0)
        |ORDER BY skey DESC, doc_id LIMIT 100""".stripMargin,

    "q_lm_score" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |                     x -> x <> '') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |bg AS (
        |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
        |  FROM tk, unnest(range(1, len(toks))) AS u(i)),
        |model AS (
        |  SELECT w1, w2, count(*) AS c12 FROM bg
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |ctx AS (SELECT w1, sum(c12) AS c1 FROM model GROUP BY 1),
        |v AS (SELECT CAST(count(DISTINCT w2) AS DOUBLE) AS v FROM model)
        |SELECT b.doc_id,
        |       count(*) AS n_bigrams,
        |       round(-sum(round(ln((coalesce(m.c12, 0) + 0.5) /
        |                           (coalesce(c.c1, 0) + 0.5 * v.v)), 6)),
        |             6) AS nll
        |FROM bg b
        |LEFT JOIN model m USING (w1, w2)
        |LEFT JOIN ctx c USING (w1)
        |CROSS JOIN v
        |GROUP BY 1""".stripMargin,

    "q_temperature_mix" ->
      """WITH c AS (SELECT lang, CAST(count(*) AS DOUBLE) AS n_g
        |           FROM documents
        |           WHERE lang IS NOT NULL AND text IS NOT NULL
        |           GROUP BY 1),
        |t AS (SELECT sum(n_g) AS n_tot, sum(pow(n_g, 0.5)) AS z FROM c),
        |r AS (SELECT lang,
        |             round(least(1.0, pow(n_g, 0.5) / z * n_tot / n_g),
        |                   6) AS rate
        |      FROM c CROSS JOIN t)
        |SELECT d.lang, count(*) AS kept, max(r.rate) AS rate
        |FROM documents d JOIN r ON d.lang = r.lang
        |WHERE (strpos('0123456789abcdef', substr(md5(d.text),1,1))-1)*16
        |      + (strpos('0123456789abcdef', substr(md5(d.text),2,1))-1)
        |  < r.rate * 256.0
        |GROUP BY 1""".stripMargin,

    "q_dsir_select" ->
      """WITH tk AS (
        |  SELECT doc_id, source,
        |         list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |                     x -> x <> '') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |g AS (
        |  SELECT doc_id, source, toks[i] AS gram
        |  FROM tk, unnest(range(1, len(toks) + 1)) AS u(i)
        |  UNION ALL
        |  SELECT doc_id, source, toks[i] || ' ' || toks[i + 1] AS gram
        |  FROM tk, unnest(range(1, len(toks))) AS u(i)),
        |b AS (
        |  SELECT doc_id, source,
        |         CAST('0x' || substr(md5(gram), 1, 4) AS BIGINT) % 1024
        |           AS bucket,
        |         CAST(count(*) AS DOUBLE) AS c
        |  FROM g GROUP BY 1, 2, 3),
        |cpt AS (SELECT bucket, sum(c) AS cp FROM b
        |        WHERE source = 'src0' GROUP BY 1),
        |cqt AS (SELECT bucket, sum(c) AS cq FROM b
        |        WHERE source <> 'src0' GROUP BY 1),
        |tot AS (SELECT (SELECT sum(cp) FROM cpt) AS tp,
        |               (SELECT sum(cq) FROM cqt) AS tq),
        |lr AS (
        |  SELECT coalesce(cpt.bucket, cqt.bucket) AS bucket,
        |         round(ln((coalesce(cp, 0) + 1) / (tp + 1024.0)) -
        |               ln((coalesce(cq, 0) + 1) / (tq + 1024.0)), 6) AS lr
        |  FROM cpt FULL JOIN cqt ON cpt.bucket = cqt.bucket
        |  CROSS JOIN tot)
        |SELECT b.doc_id, CAST(sum(b.c) AS BIGINT) AS n_grams,
        |       round(sum(b.c * lr.lr), 6) AS logw
        |FROM b JOIN lr ON b.bucket = lr.bucket
        |WHERE b.source <> 'src0'
        |GROUP BY 1
        |ORDER BY logw DESC, doc_id
        |LIMIT 200""".stripMargin,

    "q_shuffle_order" ->
      """SELECT doc_id,
        |       row_number() OVER (
        |         ORDER BY md5('42|' || CAST(doc_id AS VARCHAR)), doc_id)
        |         - 1 AS pos
        |FROM documents""".stripMargin,

    "q_grouping_sets" ->
      """SELECT source, lang,
        |       CAST(grouping(source) AS INTEGER) AS g_src,
        |       CAST(grouping(lang) AS INTEGER) AS g_lang,
        |       count(*) AS n
        |FROM documents
        |GROUP BY GROUPING SETS ((source), (lang), ())""".stripMargin,

    "q_curriculum" ->
      """WITH r AS (SELECT doc_id,
        |             row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS rk,
        |             count(*) OVER () AS n
        |           FROM documents),
        |t AS (SELECT doc_id, CAST((rk * 4) // n AS INTEGER) AS tier FROM r)
        |SELECT doc_id, tier,
        |       row_number() OVER (ORDER BY tier,
        |         md5('7|' || CAST(doc_id AS VARCHAR)), doc_id) - 1 AS pos
        |FROM t""".stripMargin,

    "q_blocklist_gate" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_distinct(list_filter(
        |           string_split_regex(lower(trim(text)), '\s+'),
        |           x -> x <> ''))) AS tok
        |  FROM documents),
        |hits AS (
        |  SELECT doc_id, count(*) AS n,
        |         string_agg(tok, ',' ORDER BY tok) AS ht
        |  FROM toks WHERE tok IN ('dup', 'vector', 'leak')
        |  GROUP BY 1)
        |SELECT d.doc_id,
        |       CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
        |       coalesce(h.ht, '') AS hit_terms,
        |       h.doc_id IS NOT NULL AS blocked
        |FROM documents d LEFT JOIN hits h USING (doc_id)""".stripMargin,

    "q_gopher_rules" ->
      gopherOracleGen(graft.text.TextOps.GopherThresholds()),

    "q_curation_report" ->
      """WITH blt AS (SELECT doc_id, unnest(list_distinct(list_filter(
        |          string_split_regex(lower(trim(text)), '\s+'),
        |          x -> x <> ''))) AS tok
        |        FROM documents),
        |bl AS (SELECT DISTINCT doc_id FROM blt WHERE tok IN ('dup')),
        |base AS (SELECT doc_id, text IS NOT NULL AS text_ok,
        |                coalesce(lang IN ('en', 'es'), false) AS lang_ok,
        |                coalesce(len(list_filter(
        |                  string_split_regex(trim(text), '\s+'),
        |                  x -> x <> '')) >= 40, false) AS token_floor,
        |                md5(text) AS fp
        |         FROM documents),
        |canon AS (SELECT fp, min(doc_id) AS cid FROM base
        |          WHERE fp IS NOT NULL GROUP BY 1),
        |r AS (SELECT b.doc_id, b.text_ok, b.lang_ok,
        |             bl.doc_id IS NOT NULL AS blocked, b.token_floor,
        |             b.fp IS NULL OR b.doc_id = c.cid AS canonical
        |      FROM base b LEFT JOIN bl ON bl.doc_id = b.doc_id
        |      LEFT JOIN canon c ON c.fp = b.fp)
        |SELECT doc_id, text_ok, lang_ok, blocked, token_floor, canonical,
        |       text_ok AND lang_ok AND NOT blocked AND token_floor
        |         AND canonical AS keep,
        |       coalesce(array_to_string(list_sort(list_filter(
        |         [CASE WHEN NOT text_ok THEN 'null_text' END,
        |          CASE WHEN NOT lang_ok THEN 'lang' END,
        |          CASE WHEN blocked THEN 'blocklist' END,
        |          CASE WHEN NOT token_floor THEN 'short' END,
        |          CASE WHEN NOT canonical THEN 'duplicate' END],
        |         x -> x IS NOT NULL)), ','), '') AS reasons
        |FROM r""".stripMargin,

    "q_perplexity_buckets" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |         list_filter(string_split_regex(trim(lower(text)), '\s+'),
        |                     x -> x <> '') AS toks
        |  FROM documents WHERE text IS NOT NULL),
        |bg AS (
        |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
        |  FROM tk, unnest(range(1, len(toks))) AS u(i)),
        |model AS (
        |  SELECT w1, w2, count(*) AS c12 FROM bg
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |ctx AS (SELECT w1, sum(c12) AS c1 FROM model GROUP BY 1),
        |v AS (SELECT CAST(count(DISTINCT w2) AS DOUBLE) AS v FROM model),
        |sc AS (
        |  SELECT b.doc_id,
        |         count(*) AS n_bigrams,
        |         round(-sum(round(ln((coalesce(m.c12, 0) + 0.5) /
        |                             (coalesce(c.c1, 0) + 0.5 * v.v)), 6)),
        |               6) AS nll
        |  FROM bg b
        |  LEFT JOIN model m USING (w1, w2)
        |  LEFT JOIN ctx c USING (w1)
        |  CROSS JOIN v
        |  GROUP BY 1),
        |pp AS (
        |  SELECT s.doc_id, d.lang, s.nll / s.n_bigrams AS ppl
        |  FROM sc s JOIN documents d USING (doc_id)
        |  WHERE d.lang IS NOT NULL),
        |cuts AS (
        |  SELECT lang, quantile_cont(ppl, 1.0/3) AS t1,
        |         quantile_cont(ppl, 2.0/3) AS t2
        |  FROM pp GROUP BY 1)
        |SELECT pp.doc_id, pp.lang, pp.ppl,
        |       CASE WHEN ppl <= t1 THEN 'head'
        |            WHEN ppl <= t2 THEN 'middle'
        |            ELSE 'tail' END AS bucket
        |FROM pp JOIN cuts USING (lang)""".stripMargin,

    "q_token_budget" -> tokenBudgetOracleGen(10000L, "42"),

    "q_recipe_mix" ->
      """WITH r(source, budget_g) AS (
        |  VALUES ('src0', 750), ('src1', 450), ('src2', 300)),
        |tk AS (
        |  SELECT doc_id, source,
        |         coalesce(len(list_filter(
        |           string_split_regex(trim(text), '\s+'),
        |           x -> x <> '')), 0) AS n_tokens
        |  FROM documents WHERE source IN ('src0', 'src1', 'src2')),
        |o AS (
        |  SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
        |         row_number() OVER (PARTITION BY source
        |           ORDER BY md5('42|' || CAST(doc_id AS VARCHAR)), doc_id)
        |           - 1 AS pos_g,
        |         CAST(sum(n_tokens) OVER (PARTITION BY source
        |           ORDER BY md5('42|' || CAST(doc_id AS VARCHAR)), doc_id
        |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
        |  FROM tk)
        |SELECT o.doc_id, o.source, o.pos_g, o.n_tokens, o.cum_tokens
        |FROM o JOIN r ON o.source = r.source
        |WHERE o.cum_tokens <= r.budget_g""".stripMargin,

    "q_shard_export" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |         coalesce(len(list_filter(
        |           string_split_regex(trim(text), '\s+'),
        |           x -> x <> '')), 0) AS n_tokens
        |  FROM documents),
        |o AS (
        |  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        |         CAST(coalesce(sum(n_tokens) OVER (
        |           ORDER BY md5('42|' || CAST(doc_id AS VARCHAR)), doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS cum_before,
        |         CAST((SELECT sum(n_tokens) FROM tk) AS BIGINT) AS total
        |  FROM tk)
        |SELECT least(cum_before * 8 // total, 7) AS shard,
        |       count(*) AS n_docs,
        |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        |FROM o
        |GROUP BY 1""".stripMargin,

    "q_pack_chunks" ->
      """WITH tk AS (SELECT doc_id, lang,
        |              list_filter(string_split_regex(trim(text), '\s+'),
        |                          x -> x <> '') AS toks
        |            FROM documents WHERE text IS NOT NULL),
        |idx AS (SELECT unnest(range(0,
        |    (SELECT CAST(max(len(toks)) AS BIGINT) FROM tk), 40)) AS s),
        |chunks AS (SELECT doc_id, lang, CAST(s // 40 AS BIGINT) AS chunk_idx,
        |             CAST(least(len(toks) - s, 50) AS BIGINT) AS chunk_tokens
        |           FROM tk JOIN idx ON (s = 0 OR s < len(toks) - 10)),
        |packed AS (SELECT lang, chunk_tokens,
        |             sum(chunk_tokens) OVER (
        |               PARTITION BY lang ORDER BY doc_id, chunk_idx
        |               ROWS UNBOUNDED PRECEDING) AS cum
        |           FROM chunks),
        |binned AS (SELECT lang, chunk_tokens,
        |             CAST((cum - chunk_tokens) // 512 AS BIGINT) AS bin
        |           FROM packed)
        |SELECT lang, bin, count(*) AS n_chunks,
        |       CAST(sum(chunk_tokens) AS BIGINT) AS bin_tokens
        |FROM binned GROUP BY 1, 2""".stripMargin,

    "q_tfidf" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |                       x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1,2),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents),
        |scored AS (SELECT tf.doc_id, tf.term,
        |                  round(tf * ln(CAST(n AS DOUBLE)/df), 6) AS tfidf
        |           FROM tf JOIN dfreq USING (term), n),
        |ranked AS (SELECT *, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rn
        |  FROM scored)
        |SELECT doc_id, term, tfidf FROM ranked WHERE rn <= 3""".stripMargin,

    "q_orc_roundtrip" ->
      """SELECT count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        |       round(sum(o_totalprice), 2) AS price_sum,
        |       count(DISTINCT o_orderstatus) AS n_status
        |FROM orders""".stripMargin,

    "q_decontaminate" -> decontaminateOracle,

    // the HLL timeline in its VERIFIED form: the oracle recomputes the
    // exact daily distincts and the running distinct (cumulative sum of
    // first-appearance counts — COUNT(DISTINCT) OVER has no SQL form),
    // and asserts the tolerance flags literally TRUE: Spark computed
    // them against its own exact counts, which this oracle just proved
    // correct, so the match certifies the estimates' 5% bound too
    "q_user_sketch" -> userSketchOracle,

    // identical report served from the PERSISTED, incrementally
    // appended (and re-delivered) sketch table — a double-counted
    // re-delivery breaks the flag columns and the hash
    "q_sketch_append" -> userSketchOracle,

    // gamma is spelled (1.0+0.01)/(1.0-0.01) — the SAME IEEE ops the
    // engine's Dd.gamma performs, so the two can never differ in the
    // last ulp the way a decimal literal 1.0202... could. events.value
    // is strictly positive in this data; the engine's zero bucket has
    // no SQL twin here by documented contract.
    "q_value_sketch" -> valueSketchOracle,

    // the day-2 append flagship must reproduce the SAME report — a
    // ledger failure (double-counted re-delivery) breaks this hash
    "q_value_sketch_append" -> valueSketchOracle,

    // the rolling twin: the trailing window needs an interval join in
    // SQL (a bucket absent today but present 3 days back must still
    // count); the Spark side merges whole per-day histograms instead
    "q_quantile_timeline" ->
      """WITH gb AS (SELECT CAST(ts AS DATE) AS day, event_type,
        |                   CAST(ceil(round(ln(value) /
        |                                     ln((1.0+0.01)/(1.0-0.01))
        |                                   * 1e9) / 1e9) AS BIGINT) AS b,
        |                   count(*) AS c
        |            FROM events WHERE value > 0
        |            GROUP BY 1, 2, 3),
        |tot1 AS (SELECT day, event_type, CAST(sum(c) AS BIGINT) AS n
        |         FROM gb GROUP BY 1, 2),
        |cum1 AS (SELECT day, event_type, b,
        |                sum(c) OVER (PARTITION BY day, event_type
        |                             ORDER BY b) AS cc
        |         FROM gb),
        |pick1 AS (SELECT cum1.day, cum1.event_type,
        |                 min(CASE WHEN cc >= greatest(1, ceil(0.5 * n))
        |                          THEN b END) AS b50,
        |                 min(CASE WHEN cc >= greatest(1, ceil(0.95 * n))
        |                          THEN b END) AS b95
        |          FROM cum1 JOIN tot1 USING (day, event_type)
        |          GROUP BY 1, 2),
        |spine AS (SELECT DISTINCT day, event_type FROM gb),
        |w AS (SELECT d.day, d.event_type, g.b, sum(g.c) AS c7
        |      FROM spine d JOIN gb g
        |        ON g.event_type = d.event_type
        |       AND g.day BETWEEN d.day - 6 AND d.day
        |      GROUP BY 1, 2, 3),
        |tot7 AS (SELECT day, event_type, CAST(sum(c7) AS BIGINT) AS n7
        |         FROM w GROUP BY 1, 2),
        |cum7 AS (SELECT day, event_type, b,
        |                sum(c7) OVER (PARTITION BY day, event_type
        |                              ORDER BY b) AS cc7
        |         FROM w),
        |pick7 AS (SELECT cum7.day, cum7.event_type,
        |                 min(CASE WHEN cc7 >= greatest(1, ceil(0.95 * n7))
        |                          THEN b END) AS b957
        |          FROM cum7 JOIN tot7 USING (day, event_type)
        |          GROUP BY 1, 2)
        |SELECT strftime(p1.day, '%Y-%m-%d') AS day, p1.event_type,
        |       round(2 * power((1.0+0.01)/(1.0-0.01), b50) /
        |             ((1.0+0.01)/(1.0-0.01) + 1.0), 6) AS p50_1d,
        |       round(2 * power((1.0+0.01)/(1.0-0.01), b95) /
        |             ((1.0+0.01)/(1.0-0.01) + 1.0), 6) AS p95_1d,
        |       round(2 * power((1.0+0.01)/(1.0-0.01), b957) /
        |             ((1.0+0.01)/(1.0-0.01) + 1.0), 6) AS p95_7d
        |FROM pick1 p1 JOIN pick7 p7
        |  ON p1.day = p7.day AND p1.event_type = p7.event_type"""
        .stripMargin,

    "q_semantic_decon" -> semDeconOracleGen(0.4),
    // bit-identical contract: screen + exact verify ≡ the exact join
    "q_decontaminate_bloom" -> decontaminateOracle,

    "q_substring_dedup" -> substringOracleGen(25, 50),

    "q_decontaminate_spans" -> deconSpansOracleGen(30, 60, "src0"),

    "q_span_removal" ->
      ("WITH " + spanCtes(25, "documents", "documents",
                          "a.doc_id < b.doc_id") + """,
        |iv AS (SELECT id_b AS doc_id, pa0 - diag AS s,
        |              pa0 - diag + span_len AS e
        |       FROM sp WHERE span_len >= 50),
        |mk AS (SELECT doc_id, s, e,
        |         CASE WHEN s > coalesce(max(e) OVER (
        |                PARTITION BY doc_id ORDER BY s, e
        |                ROWS BETWEEN UNBOUNDED PRECEDING
        |                  AND 1 PRECEDING), 0)
        |              THEN 1 ELSE 0 END AS ni
        |       FROM iv),
        |mi AS (SELECT doc_id, s, e,
        |         sum(ni) OVER (PARTITION BY doc_id ORDER BY s, e
        |                       ROWS UNBOUNDED PRECEDING) AS grp
        |       FROM mk),
        |merged AS (SELECT doc_id, grp, min(s) AS ms, max(e) AS me
        |           FROM mi GROUP BY 1, 2),
        |segs AS (SELECT doc_id,
        |           coalesce(lag(me) OVER (
        |             PARTITION BY doc_id ORDER BY ms), 1) AS f,
        |           ms AS t
        |         FROM merged
        |         UNION ALL
        |         SELECT doc_id, max(me), NULL FROM merged GROUP BY doc_id),
        |clean AS (SELECT s.doc_id,
        |            string_agg(substr(d.text, CAST(s.f AS INTEGER),
        |              CAST(coalesce(s.t, len(d.text) + 1) - s.f
        |                AS INTEGER)), '' ORDER BY s.f) AS clean_text,
        |            max(len(d.text)) AS orig_len
        |          FROM segs s JOIN documents d ON d.doc_id = s.doc_id
        |          GROUP BY s.doc_id)
        |SELECT doc_id,
        |       CAST(orig_len - len(clean_text) AS BIGINT) AS removed_chars,
        |       clean_text
        |FROM clean""".stripMargin),

    "q_corpus_diff" ->
      """WITH o AS (SELECT doc_id, source, md5(text) AS fp,
        |                  coalesce(len(text), 0) AS chars
        |           FROM documents WHERE doc_id % 5 <> 0),
        |n AS (SELECT doc_id, source,
        |             md5(CASE WHEN doc_id % 3 = 0 THEN text || ' v2'
        |                      ELSE text END) AS fp,
        |             coalesce(len(CASE WHEN doc_id % 3 = 0
        |                      THEN text || ' v2' ELSE text END), 0) AS chars
        |      FROM documents WHERE doc_id % 7 <> 0),
        |j AS (SELECT o.doc_id AS o_id, n.doc_id AS n_id,
        |             o.source AS o_src, n.source AS n_src,
        |             o.fp AS o_fp, n.fp AS n_fp,
        |             o.chars AS o_chars, n.chars AS n_chars
        |      FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
        |SELECT coalesce(n_src, o_src) AS source,
        |       CASE WHEN o_id IS NULL THEN 'added'
        |            WHEN n_id IS NULL THEN 'removed'
        |            WHEN o_fp IS DISTINCT FROM n_fp THEN 'changed'
        |            ELSE 'unchanged' END AS status,
        |       count(*) AS n_docs,
        |       CAST(sum(coalesce(n_chars, 0) - coalesce(o_chars, 0))
        |            AS BIGINT) AS char_delta
        |FROM j GROUP BY 1, 2""".stripMargin,

    "q_cross_source_dup" ->
      """WITH un AS (SELECT doc_id, text, source FROM documents
        |            UNION ALL
        |            SELECT doc_id + 10000, text, 'mirror'
        |            FROM documents WHERE doc_id % 10 = 0),
        |fps AS (SELECT md5(text) AS fp, source, count(*) AS n
        |        FROM un WHERE md5(text) IS NOT NULL GROUP BY 1, 2)
        |SELECT a.source AS src_a, b.source AS src_b,
        |       count(*) AS shared_fps,
        |       CAST(sum(a.n) AS BIGINT) AS docs_a,
        |       CAST(sum(b.n) AS BIGINT) AS docs_b
        |FROM fps a JOIN fps b ON a.fp = b.fp AND a.source < b.source
        |GROUP BY 1, 2""".stripMargin,

    "q_datacard" ->
      """WITH base AS (
        |  SELECT source, lang,
        |    CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
        |             x -> x <> '')) AS BIGINT) AS tok,
        |    CAST(len(text) AS BIGINT) AS chars,
        |    md5(text) AS fp
        |  FROM documents),
        |agg AS (
        |  SELECT source, count(*) AS n_docs,
        |         CAST(sum(tok) AS BIGINT) AS n_tokens,
        |         count(*) - count(DISTINCT fp) AS dup_docs,
        |         count(DISTINCT lang) AS n_langs,
        |         round(avg(chars), 6) AS avg_chars,
        |         round(median(tok), 6) AS med_tokens
        |  FROM base GROUP BY 1),
        |lc AS (SELECT source, lang, count(*) AS n
        |       FROM documents GROUP BY 1, 2),
        |top AS (SELECT source, lang AS top_lang FROM (
        |          SELECT source, lang, row_number() OVER (
        |            PARTITION BY source
        |            ORDER BY n DESC, lang ASC NULLS LAST) AS rn
        |          FROM lc)
        |        WHERE rn = 1)
        |SELECT a.source, a.n_docs, a.n_tokens, a.dup_docs, a.n_langs,
        |       a.avg_chars, a.med_tokens, t.top_lang
        |FROM agg a JOIN top t USING (source)""".stripMargin,

    "q_heavy_grams" -> heavyGramsOracleGen(12, 10),

    "q_length_batches" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |         CAST(coalesce(len(list_filter(
        |           string_split_regex(trim(text), '\s+'),
        |           x -> x <> '')), 0) AS BIGINT) AS n_tokens
        |  FROM documents),
        |r AS (SELECT doc_id, n_tokens,
        |        row_number() OVER (ORDER BY n_tokens, doc_id) - 1 AS pos
        |      FROM tk)
        |SELECT pos // 32 AS batch_id,
        |       count(*) AS n_seqs,
        |       min(n_tokens) AS min_tokens,
        |       max(n_tokens) AS max_tokens,
        |       CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
        |       CASE WHEN max(n_tokens) = 0 THEN 0.0
        |            ELSE round(1.0 - CAST(sum(n_tokens) AS DOUBLE)
        |                   / (max(n_tokens) * count(*)), 6) END
        |         AS padding_frac
        |FROM r GROUP BY 1""".stripMargin,

    "q_dedup_lines_within" ->
      """SELECT doc_id,
        |  CAST(len(ls) AS BIGINT) AS n_lines,
        |  CAST(len(ls) - len(kept) AS BIGINT) AS n_removed,
        |  array_to_string(kept, chr(10)) AS clean_text
        |FROM (SELECT doc_id, ls,
        |        list_filter(ls, (l, i) -> list_position(ls, l) = i) AS kept
        |      FROM (SELECT doc_id, string_split(text, chr(10)) AS ls
        |            FROM documents))""".stripMargin,

    "q_line_dedup" -> lineDedupOracleGen(2),

    "q_cosine_topk" -> cosineTopkOracle,

    // the iterative greedy selections, unrolled (generated CTE chains —
    // see kcenterOracle/mmrOracle scaladoc): two former rows-only
    // queries now hash-exact, argmax sequence and all
    "q_kcenter_select" -> kcenterOracle,
    "q_mmr_rerank" -> mmrOracle,

    // the ANN index family, same recipe at full depth (AnnOracles):
    // seed→assign→Lloyd→encode→serve unrolled as generated CTE chains —
    // five former "k-means internals aren't SQL-expressible" rows now
    // hash-exact, Lloyd means, residual ADC tables and all
    "q_ivf_topk" -> AnnOracles.ivfTopk,
    "q_ivf_trained" -> AnnOracles.ivfTrained,
    "q_pq_topk" -> AnnOracles.pqTopk,
    "q_ivfpq_topk" -> AnnOracles.ivfPqTopk,
    "q_index_drift" -> AnnOracles.indexDrift,
    "q_ann_eval" -> AnnOracles.annEval,
    "q_pq_eval" -> AnnOracles.pqEval,

    // 16 unrolled BPE merge rounds (bpeOracle) — the greedy merge fold's
    // exact positional twin; formerly "iterative argmax isn't
    // SQL-expressible", which was true only of RECURSIVE CTEs
    "q_bpe_vocab" -> bpeOracle,

    "q_bpe_encode" -> bpeEncodeOracle,

    // q_reindex serves nprobe = nlist off the appended-then-rebuilt
    // index, so its contract IS the brute-force top-10 over the whole
    // table — the same oracle, checking the whole append/retrain/swap
    // chain preserved the corpus exactly
    "q_reindex" -> cosineTopkOracle,

    "q_cosine_pairs" -> cosinePairsOracleGen(0.45),

    "q_hard_negatives" ->
      """WITH flat AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
        |                     generate_subscripts(embedding,1) AS i
        |              FROM embeddings),
        |norms AS (SELECT vec_id, sqrt(sum(v*v)) AS nrm FROM flat GROUP BY 1),
        |anch AS (SELECT vec_id AS aid, label AS al FROM embeddings
        |         WHERE vec_id < 5),
        |aflat AS (SELECT a.aid, f.i, f.v
        |          FROM anch a JOIN flat f ON f.vec_id = a.aid),
        |dots AS (SELECT af.aid, f.vec_id AS nid, sum(af.v*f.v) AS dot
        |         FROM aflat af JOIN flat f ON f.i = af.i
        |         GROUP BY 1, 2),
        |sims AS (SELECT d.aid, d.nid,
        |                round(d.dot/(na.nrm*nb.nrm), 6) AS sim
        |         FROM dots d
        |         JOIN norms na ON na.vec_id = d.aid
        |         JOIN norms nb ON nb.vec_id = d.nid
        |         JOIN anch a ON a.aid = d.aid
        |         JOIN embeddings e ON e.vec_id = d.nid
        |         WHERE e.label <> a.al)
        |SELECT aid AS anchor_id, nid AS neg_id, sim FROM (
        |  SELECT aid, nid, sim, row_number() OVER (
        |    PARTITION BY aid ORDER BY sim DESC, nid ASC) AS rn
        |  FROM sims) WHERE rn <= 3""".stripMargin,

    "q_semdedup" ->
      ("""WITH RECURSIVE flat AS (
        |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
        |         generate_subscripts(embedding,1) AS i
        |  FROM embeddings),
        |norms AS (SELECT vec_id, sqrt(sum(v*v)) AS nrm FROM flat GROUP BY 1),
        |seeds AS (SELECT vec_id AS cid,
        |            CAST(row_number() OVER (ORDER BY vec_id) - 1
        |              AS INTEGER) AS list_id
        |          FROM (SELECT vec_id FROM embeddings
        |                ORDER BY vec_id LIMIT 4)),
        |cflat AS (SELECT s.list_id, f.i, f.v
        |          FROM seeds s JOIN flat f ON f.vec_id = s.cid),
        |cnorm AS (SELECT s.list_id, n.nrm
        |          FROM seeds s JOIN norms n ON n.vec_id = s.cid),
        |csim AS (SELECT f.vec_id, c.list_id,
        |           round(sum(f.v*c.v) / (max(n.nrm) * max(cn.nrm)), 6) AS s
        |         FROM flat f JOIN cflat c ON c.i = f.i
        |              JOIN norms n ON n.vec_id = f.vec_id
        |              JOIN cnorm cn ON cn.list_id = c.list_id
        |         GROUP BY 1,2),
        |assign AS (SELECT vec_id, list_id, s FROM (
        |             SELECT vec_id, list_id, s,
        |                    row_number() OVER (PARTITION BY vec_id
        |                      ORDER BY s DESC, list_id ASC) AS rn
        |             FROM csim) WHERE rn = 1),
        |dots AS (SELECT fa.vec_id AS id_a, fb.vec_id AS id_b,
        |                sum(fa.v*fb.v) AS dot
        |         FROM flat fa JOIN flat fb
        |           ON fa.i = fb.i AND fa.vec_id < fb.vec_id
        |         GROUP BY 1,2),
        |pairs AS (SELECT d.id_a, d.id_b
        |          FROM dots d
        |          JOIN norms na ON na.vec_id = d.id_a
        |          JOIN norms nb ON nb.vec_id = d.id_b
        |          JOIN assign aa ON aa.vec_id = d.id_a
        |          JOIN assign ab ON ab.vec_id = d.id_b
        |          WHERE aa.list_id = ab.list_id
        |            AND d.dot/(na.nrm*nb.nrm) >= 0.45),
        |""".stripMargin +
        closureCtes("pairs") + """,
        |comp AS (SELECT id, min(lbl) AS comp FROM reach GROUP BY id),
        |mem AS (SELECT c.id, c.comp, a.list_id, a.s
        |        FROM comp c JOIN assign a ON a.vec_id = c.id)
        |SELECT id AS vec_id, list_id, comp, s AS cent_sim,
        |       row_number() OVER (PARTITION BY comp
        |                          ORDER BY s ASC, id ASC) = 1 AS kept
        |FROM mem""".stripMargin),

    // ts IS NOT NULL — the q_hourly_rollup guard (window() drops nulls)
    "q_stream_rollup" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S')
        |         AS hour_start,
        |       event_type, count(*) AS n, round(sum(value), 4) AS v
        |FROM events WHERE ts IS NOT NULL GROUP BY 1, 2""".stripMargin,

    "q_pivot" ->
      """SELECT CAST(user_id % 10 AS INTEGER) AS bucket,
        |  count(*) FILTER (event_type = 'click') AS click,
        |  count(*) FILTER (event_type = 'view') AS view,
        |  count(*) FILTER (event_type = 'purchase') AS purchase,
        |  count(*) FILTER (event_type = 'signup') AS signup,
        |  count(*) FILTER (event_type = 'error') AS error
        |FROM events GROUP BY 1""".stripMargin,

    "q_set_ops" ->
      """SELECT o_custkey, 'urgent_and_high' AS seg FROM (
        |  SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderpriority = '1-URGENT'
        |  INTERSECT
        |  SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderpriority = '2-HIGH')
        |UNION ALL
        |SELECT o_custkey, 'urgent_only' AS seg FROM (
        |  SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderpriority = '1-URGENT'
        |  EXCEPT
        |  SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderpriority = '2-HIGH')""".stripMargin,

    "q_set_ops_all" ->
      """SELECT o_custkey, 'urgent_minus_high_all' AS seg FROM (
        |  SELECT o_custkey FROM orders
        |  WHERE o_orderpriority = '1-URGENT'
        |  EXCEPT ALL
        |  SELECT o_custkey FROM orders
        |  WHERE o_orderpriority = '2-HIGH')
        |UNION ALL
        |SELECT o_custkey, 'urgent_and_high_all' AS seg FROM (
        |  SELECT o_custkey FROM orders
        |  WHERE o_orderpriority = '1-URGENT'
        |  INTERSECT ALL
        |  SELECT o_custkey FROM orders
        |  WHERE o_orderpriority = '2-HIGH')""".stripMargin,

    "q_train_split" ->
      """SELECT CASE WHEN substr(md5(text), 1, 1) < 'e' THEN 'train'
        |            WHEN substr(md5(text), 1, 1) = 'e' THEN 'val'
        |            ELSE 'test' END AS split,
        |       count(*) AS n_docs
        |FROM documents GROUP BY 1""".stripMargin,

    // thresholds 58982/62259 = floor(cum * 65536) for 0.9/0.05/0.05,
    // the exact doubles splitByFractions computes driver-side
    "q_split_fractions" ->
      """SELECT CASE WHEN c < 58982 THEN 'train'
        |            WHEN c < 62259 THEN 'val'
        |            ELSE 'test' END AS split,
        |       count(*) AS n_docs
        |FROM (SELECT CAST('0x' || substr(md5(text), 1, 4) AS INTEGER) AS c
        |      FROM documents) GROUP BY 1""".stripMargin,

    "q_cluster_split" -> clusterSplitOracle,
    "q_export_pipeline" -> exportPipelineOracle,

    "q_bm25" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |                       x -> x <> '')) AS term
        |  FROM documents),
        |dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl
        |       FROM tok GROUP BY 1),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl
        |          FROM dl),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
        |       FROM tok WHERE term IN ('spark', 'vector', 'stream')
        |       GROUP BY 1, 2),
        |dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df
        |          FROM tf GROUP BY 1),
        |w AS (SELECT tf.doc_id,
        |        round(ln(1 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2
        |              / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6) AS w
        |      FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id), stats)
        |SELECT doc_id, round(sum(w), 6) AS bm25
        |FROM w GROUP BY 1 ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin,

    // the index serves the same math over the same corpus, so the
    // oracle is the q_bm25 recompute verbatim — certifying that two
    // epochs of build+append serve exactly one from-scratch pass
    "q_bm25_index" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |                       x -> x <> '')) AS term
        |  FROM documents),
        |dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl
        |       FROM tok GROUP BY 1),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl
        |          FROM dl),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
        |       FROM tok WHERE term IN ('spark', 'vector', 'stream')
        |       GROUP BY 1, 2),
        |dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df
        |          FROM tf GROUP BY 1),
        |w AS (SELECT tf.doc_id,
        |        round(ln(1 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2
        |              / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6) AS w
        |      FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id), stats)
        |SELECT doc_id, round(sum(w), 6) AS bm25
        |FROM w GROUP BY 1 ORDER BY bm25 DESC, doc_id LIMIT 10""".stripMargin,

    // per-query recompute of the same math; df/idf are per-term
    // globals shared across queries, rank = row_number per query
    "q_bm25_batch" ->
      """WITH q(query_id, term) AS (VALUES
        |    (1, 'spark'), (1, 'stream'), (2, 'vector'),
        |    (3, 'spark'), (3, 'vector'), (3, 'stream')),
        |tok AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |                       x -> x <> '')) AS term
        |  FROM documents WHERE doc_id % 4 = 0),
        |dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl
        |       FROM tok GROUP BY 1),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl
        |          FROM dl),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
        |       FROM tok WHERE term IN (SELECT DISTINCT term FROM q)
        |       GROUP BY 1, 2),
        |dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df
        |          FROM tf GROUP BY 1),
        |w AS (SELECT q.query_id, tf.doc_id,
        |        round(ln(1 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2
        |              / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6) AS w
        |      FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id)
        |        JOIN q USING (term), stats),
        |s AS (SELECT query_id, doc_id, round(sum(w), 6) AS bm25
        |      FROM w GROUP BY 1, 2)
        |SELECT query_id, doc_id, bm25, rank FROM
        |  (SELECT query_id, doc_id, bm25,
        |     CAST(row_number() OVER (PARTITION BY query_id
        |            ORDER BY bm25 DESC, doc_id) AS INTEGER) AS rank
        |   FROM s)
        |WHERE rank <= 5""".stripMargin,

    // RRF: the q_bm25 chain (top-20) + the q_cosine_topk chain (top-20),
    // each ranked on its rounded score with id tie-breaks, fused by
    // 1/(60+rank) over a full outer join on the shared id space.
    "q_rrf_fusion" ->
      """WITH tok AS (SELECT doc_id,
        |    unnest(list_filter(string_split_regex(trim(text), '\s+'),
        |                       x -> x <> '')) AS term
        |  FROM documents),
        |dl AS (SELECT doc_id, CAST(count(*) AS DOUBLE) AS dl
        |       FROM tok GROUP BY 1),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl
        |          FROM dl),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf
        |       FROM tok WHERE term IN ('spark', 'vector', 'stream')
        |       GROUP BY 1, 2),
        |dfreq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df
        |          FROM tf GROUP BY 1),
        |w AS (SELECT tf.doc_id,
        |        round(ln(1 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2
        |              / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6) AS w
        |      FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id), stats),
        |bm AS (SELECT doc_id, round(sum(w), 6) AS bm25 FROM w GROUP BY 1
        |       ORDER BY bm25 DESC, doc_id LIMIT 20),
        |lex AS (SELECT doc_id AS id, CAST(row_number() OVER
        |          (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS lex_rank
        |        FROM bm),
        |flat AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
        |                generate_subscripts(embedding, 1) AS i
        |         FROM embeddings),
        |norms AS (SELECT vec_id, sqrt(sum(v*v)) AS nrm FROM flat GROUP BY 1),
        |probe AS (SELECT i, v FROM flat WHERE vec_id = 0),
        |pnorm AS (SELECT nrm FROM norms WHERE vec_id = 0),
        |dots AS (SELECT f.vec_id, sum(f.v*p.v) AS dot
        |         FROM flat f JOIN probe p ON f.i = p.i
        |         WHERE f.vec_id <> 0 GROUP BY 1),
        |top AS (SELECT d.vec_id,
        |          round(d.dot/(n.nrm*(SELECT nrm FROM pnorm)), 6) AS sim
        |        FROM dots d JOIN norms n ON n.vec_id = d.vec_id
        |        ORDER BY sim DESC, d.vec_id ASC LIMIT 20),
        |sem AS (SELECT vec_id AS id, CAST(row_number() OVER
        |          (ORDER BY sim DESC, vec_id) AS BIGINT) AS sem_rank
        |        FROM top)
        |SELECT coalesce(l.id, s.id) AS doc_id, l.lex_rank, s.sem_rank,
        |       round(coalesce(1.0/(60+l.lex_rank), 0) +
        |             coalesce(1.0/(60+s.sem_rank), 0), 6) AS rrf
        |FROM lex l FULL OUTER JOIN sem s ON l.id = s.id
        |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin,

    "q_jsonl_roundtrip" ->
      """SELECT count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS key_sum,
        |       round(sum(o_totalprice), 2) AS price_sum,
        |       count(DISTINCT o_orderstatus) AS n_status
        |FROM orders""".stripMargin,

    "q_vocab" ->
      """WITH t AS (SELECT unnest(string_split_regex(trim(text), '\s+'))
        |             AS token
        |           FROM documents),
        |f AS (SELECT token, count(*) AS freq FROM t
        |      WHERE token <> '' GROUP BY token HAVING count(*) >= 5)
        |SELECT token, freq,
        |       CAST(row_number() OVER (ORDER BY freq DESC, token ASC)
        |            AS BIGINT) AS token_id
        |FROM f""".stripMargin,

    "q_encode_docs" ->
      """WITH toks AS (SELECT doc_id,
        |                     unnest(string_split_regex(trim(text), '\s+'))
        |                       AS token
        |              FROM documents),
        |f AS (SELECT token, count(*) AS freq FROM toks
        |      WHERE token <> '' GROUP BY token HAVING count(*) >= 5),
        |v AS (SELECT token,
        |             CAST(row_number() OVER (ORDER BY freq DESC, token ASC)
        |                  AS BIGINT) AS token_id
        |      FROM f)
        |SELECT t.doc_id,
        |       count(*) AS n_tokens,
        |       count(v.token_id) AS n_in_vocab,
        |       CAST(sum(v.token_id) AS BIGINT) AS id_checksum
        |FROM toks t LEFT JOIN v ON t.token = v.token
        |WHERE t.token <> ''
        |GROUP BY t.doc_id""".stripMargin,

    "q_chunk_docs" -> chunkDocsOracleGen(50, 10),

    "q_union_distinct" ->
      """SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |UNION
        |SELECT o_custkey FROM orders WHERE o_orderpriority = '2-HIGH'
        |""".stripMargin,

    "q_anti_join" ->
      """SELECT c_custkey, 'no_orders' AS kind FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT c_custkey, 'has_urgent' AS kind FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey
        |                AND o_orderpriority = '1-URGENT')""".stripMargin,

    "q_normalize_text" ->
      """SELECT doc_id,
        |       regexp_replace(regexp_replace(lower(text), '[.,!?;:]', '',
        |                                     'g'),
        |                      '\s+', ' ', 'g') AS norm_text
        |FROM documents""".stripMargin,

    // same lexical rule chain as TextOps.stripMarkup: tags → space,
    // entities with &amp; last, explicit ws class (Java/RE2-portable)
    "q_strip_markup" ->
      """WITH c AS (SELECT doc_id, text,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(
        |      regexp_replace(text, '<[^>]*>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |      '&amp;', '&'),
        |    '[ \t\n\x0B\f\r]+', ' ', 'g')) AS clean_text
        |  FROM documents)
        |SELECT doc_id, clean_text,
        |       CAST(len(text) - len(clean_text) AS BIGINT) AS chars_removed
        |FROM c""".stripMargin,

    // length-difference counting over the SAME literal markers the
    // engine uses (interpolated from one definition, so they cannot
    // drift); // is DuckDB integer division
    "q_encoding_gate" ->
      s"""WITH c AS (SELECT doc_id,
         |  CAST(len(text) - len(replace(text, '$Fffd', ''))
         |    AS BIGINT) AS n_fffd,
         |  CAST(len(text) - len(regexp_replace(text,
         |    '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'))
         |    AS BIGINT) AS n_ctrl,
         |  CAST($mojiSqlSum AS BIGINT) AS n_moji
         |  FROM documents)
         |SELECT doc_id, n_fffd, n_ctrl, n_moji,
         |       (n_fffd = 0 AND n_ctrl = 0 AND n_moji = 0) AS encoding_ok
         |FROM c""".stripMargin,

    // same explicit code-point ranges as TextOps.scriptCensus (RE2's
    // \x{...} spelling of the identical classes); ties latin>cyrl>cjk
    "q_script_census" ->
      """WITH c AS (SELECT doc_id, text,
        |  CAST(len(text) - len(regexp_replace(text,
        |    '[A-Za-z\x{00C0}-\x{024F}]', '', 'g')) AS BIGINT) AS n_latin,
        |  CAST(len(text) - len(regexp_replace(text,
        |    '[\x{0400}-\x{04FF}]', '', 'g')) AS BIGINT) AS n_cyrl,
        |  CAST(len(text) - len(regexp_replace(text,
        |    '[\x{3040}-\x{30FF}\x{4E00}-\x{9FFF}]', '', 'g'))
        |    AS BIGINT) AS n_cjk,
        |  CAST(len(text) - len(regexp_replace(text,
        |    '[0-9]', '', 'g')) AS BIGINT) AS n_digit,
        |  CAST(len(text) - len(regexp_replace(text,
        |    '[ \t\n\x0B\f\r]', '', 'g')) AS BIGINT) AS n_space
        |  FROM documents)
        |SELECT doc_id, n_latin, n_cyrl, n_cjk, n_digit, n_space,
        |  CAST(len(text) AS BIGINT) - n_latin - n_cyrl - n_cjk
        |    - n_digit - n_space AS n_other,
        |  CASE WHEN text IS NULL THEN NULL
        |       WHEN n_latin = 0 AND n_cyrl = 0 AND n_cjk = 0 THEN 'none'
        |       WHEN n_latin >= n_cyrl AND n_latin >= n_cjk THEN 'latin'
        |       WHEN n_cyrl >= n_cjk THEN 'cyrl'
        |       ELSE 'cjk' END AS main_script
        |FROM c""".stripMargin,

    // the full gate chain over the STRIPPED text — each stage the same
    // rule its standalone oracle uses (strip / encoding / script /
    // whitespace tokens), composed the way the engine composes them
    "q_extract_pipeline" ->
      s"""WITH stripped AS (SELECT doc_id,
         |  trim(regexp_replace(
         |    replace(replace(replace(replace(replace(
         |      regexp_replace(text, '<[^>]*>', ' ', 'g'),
         |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
         |      '&amp;', '&'),
         |    '[ \\t\\n\\x0B\\f\\r]+', ' ', 'g')) AS text
         |  FROM documents),
         |enc AS (SELECT doc_id FROM stripped
         |  WHERE len(text) - len(replace(text, '$Fffd', '')) = 0
         |    AND len(text) - len(regexp_replace(text,
         |      '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g')) = 0
         |    AND $mojiSqlSum = 0),
         |scr AS (SELECT doc_id FROM (
         |    SELECT doc_id,
         |      len(text) - len(regexp_replace(text,
         |        '[A-Za-z\\x{00C0}-\\x{024F}]', '', 'g')) AS n_latin,
         |      len(text) - len(regexp_replace(text,
         |        '[\\x{0400}-\\x{04FF}]', '', 'g')) AS n_cyrl,
         |      len(text) - len(regexp_replace(text,
         |        '[\\x{3040}-\\x{30FF}\\x{4E00}-\\x{9FFF}]', '', 'g'))
         |        AS n_cjk
         |    FROM stripped)
         |  WHERE NOT (n_latin = 0 AND n_cyrl = 0 AND n_cjk = 0)
         |    AND n_latin >= n_cyrl AND n_latin >= n_cjk),
         |tok AS (SELECT doc_id,
         |    CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
         |             x -> x <> '')) AS BIGINT) AS n_tokens
         |  FROM stripped)
         |SELECT s.doc_id, t.n_tokens
         |FROM stripped s JOIN enc USING (doc_id) JOIN scr USING (doc_id)
         |  JOIN tok t USING (doc_id)
         |WHERE t.n_tokens >= 50""".stripMargin,

    // DuckDB's jaro_winkler_similarity IS the engine's native
    // expression's contract (threshold 0.7, p=0.1, prefix<=4) — same
    // blocking key, same rounded-threshold filter
    "q_fuzzy_pairs" -> fuzzyOracleGen(0.8),

    // same clamped fixed-width bins, add-one smoothing, and psi formula
    // over the month's two halves; spine = range(0, 11)
    "q_psi_drift" ->
      """WITH base AS (SELECT LEAST(GREATEST(CAST(floor(value/10) AS INT),
        |                            0), 10) AS bin
        |              FROM events
        |              WHERE date_part('day', ts) <= 15
        |                AND value IS NOT NULL),
        |cur AS (SELECT LEAST(GREATEST(CAST(floor(value/10) AS INT),
        |                     0), 10) AS bin
        |        FROM events
        |        WHERE date_part('day', ts) > 15 AND value IS NOT NULL),
        |nb AS (SELECT bin, count(*) AS n FROM base GROUP BY 1),
        |nc AS (SELECT bin, count(*) AS n FROM cur GROUP BY 1),
        |spine AS (SELECT CAST(unnest(range(0, 11)) AS INT) AS bin),
        |j AS (SELECT s.bin,
        |        coalesce(nb.n, 0) AS n_base, coalesce(nc.n, 0) AS n_cur
        |      FROM spine s LEFT JOIN nb USING (bin)
        |        LEFT JOIN nc USING (bin)),
        |t AS (SELECT sum(n_base) AS tb, sum(n_cur) AS tc FROM j)
        |SELECT bin, CAST(n_base AS BIGINT) AS n_base,
        |  CAST(n_cur AS BIGINT) AS n_cur,
        |  round((n_base + 1.0)/(tb + 11.0), 6) AS p_base,
        |  round((n_cur + 1.0)/(tc + 11.0), 6) AS p_cur,
        |  round(((n_cur + 1.0)/(tc + 11.0) - (n_base + 1.0)/(tb + 11.0))
        |        * ln(((n_cur + 1.0)/(tc + 11.0))
        |             / ((n_base + 1.0)/(tb + 11.0))), 6) AS psi_contrib
        |FROM j, t""".stripMargin,

    // the plain quadratic formulation — the engine's length-key
    // candidate generation is lossless (|len diff| > d ⇒ dist > d),
    // so the sets must be identical
    "q_edit_pairs" -> editOracleGen(2),

    // list-level twin of the narrow array expressions (same int/int
    // division chain, so the doubles agree bit-for-bit before round)
    "q_repetition" ->
      """WITH t AS (SELECT doc_id, text,
        |                  list_filter(string_split_regex(trim(text), '\s+'),
        |                              x -> x <> '') AS toks,
        |                  list_filter(string_split(text, chr(10)),
        |                              l -> l <> '') AS lines
        |           FROM documents)
        |SELECT doc_id,
        |       round(CASE WHEN len(toks) > 0
        |               THEN CAST(list_max(list_transform(list_distinct(toks),
        |                      t -> len(list_filter(toks, x -> x = t))))
        |                    AS DOUBLE) / CAST(len(toks) AS DOUBLE)
        |               ELSE NULL END, 6) AS rep_ratio,
        |       round(CASE WHEN len(lines) > 0
        |               THEN 1.0 - CAST(len(list_distinct(lines)) AS DOUBLE)
        |                          / CAST(len(lines) AS DOUBLE)
        |               WHEN text IS NOT NULL THEN 0.0
        |               ELSE NULL END, 6) AS dup_line_frac
        |FROM t""".stripMargin,

    "q_pii_redact" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text,
        |         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) +
        |       len(regexp_extract_all(text,
        |         '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS BIGINT) AS n_pii,
        |  regexp_replace(regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<email>',
        |      'g'),
        |    '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<phone>', 'g') AS redacted
        |FROM documents""".stripMargin,

    "q_vector_mean" ->
      """SELECT CAST(vec_id % 3 AS INT) AS g,
        |       count(embedding) AS n_vecs,
        |       round(avg(CAST(embedding[1] AS DOUBLE)), 6) AS m0,
        |       round(avg(CAST(embedding[-1] AS DOUBLE)), 6) AS mlast
        |FROM embeddings GROUP BY 1""".stripMargin,

    "q_collect_arrays" ->
      """SELECT l_returnflag,
        |       array_to_string(list_sort(list(DISTINCT l_linestatus)), ',')
        |         AS statuses,
        |       count(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q_json_extract" ->
      """SELECT TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |       count(*) AS n
        |FROM events GROUP BY 1""".stripMargin,

    "q_sql_surface" ->
      """SELECT CASE WHEN date_part('hour', ts) BETWEEN 7 AND 9
        |              THEN 'Morning Rush'
        |            WHEN date_part('hour', ts) BETWEEN 17 AND 19
        |              THEN 'Evening Rush'
        |            ELSE 'Other' END AS time_bucket,
        |       n_name AS zone, count(*) AS trips
        |FROM events LEFT JOIN nation
        |  ON CAST(((user_id % 25) + 25) % 25 AS INTEGER) = n_nationkey
        |GROUP BY 1, 2""".stripMargin,

    "q_asof_join" -> asofOracleGen(150),

    "q_range_join" -> rangeJoinOracleGen(60000L),

    // the two surviving snapshots recomputed from the base table; the
    // version numbers are deterministic (fresh root every run)
    "q_time_travel" ->
      """WITH v2 AS (SELECT doc_id, source, n_chars FROM documents
        |            WHERE source <> 'src7'),
        |     v3 AS (SELECT doc_id, source,
        |              CASE WHEN source = 'src1' THEN n_chars * 2
        |                   ELSE n_chars END AS n_chars
        |            FROM v2)
        |SELECT CAST(2 AS INTEGER) AS version, count(*) AS n_rows,
        |       count(DISTINCT source) AS n_sources,
        |       CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM v2
        |UNION ALL
        |SELECT CAST(3 AS INTEGER), count(*), count(DISTINCT source),
        |       CAST(sum(n_chars) AS BIGINT)
        |FROM v3""".stripMargin,

    // same planted removals/edits/additions; IS DISTINCT FROM is the
    // null-safe payload compare, concat_ws skips the null (unchanged)
    // column labels in both engines
    "q_table_diff" ->
      """WITH o AS (SELECT doc_id, lang, source, n_chars FROM documents),
        |n AS (SELECT doc_id, lang, source,
        |        CASE WHEN source = 'src3' THEN n_chars + 5
        |             ELSE n_chars END AS n_chars
        |      FROM documents WHERE doc_id % 17 <> 0
        |      UNION ALL
        |      SELECT doc_id + 1000000, 'xx', source, n_chars
        |      FROM documents WHERE doc_id % 23 = 0),
        |j AS (SELECT o.doc_id AS ok, n.doc_id AS nk,
        |        o.lang AS ol, n.lang AS nl,
        |        o.source AS os, n.source AS ns,
        |        o.n_chars AS oc, n.n_chars AS nc
        |      FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
        |SELECT coalesce(ok, nk) AS doc_id,
        |  CASE WHEN ok IS NULL THEN 'added'
        |       WHEN nk IS NULL THEN 'removed'
        |       ELSE 'changed' END AS change,
        |  CASE WHEN ok IS NULL OR nk IS NULL THEN NULL
        |       ELSE concat_ws(',',
        |         CASE WHEN ol IS DISTINCT FROM nl THEN 'lang' END,
        |         CASE WHEN os IS DISTINCT FROM ns THEN 'source' END,
        |         CASE WHEN oc IS DISTINCT FROM nc THEN 'n_chars' END)
        |  END AS changed_cols
        |FROM j
        |WHERE ok IS NULL OR nk IS NULL
        |   OR ol IS DISTINCT FROM nl
        |   OR os IS DISTINCT FROM ns
        |   OR oc IS DISTINCT FROM nc""".stripMargin,

    "q_merge_upsert" ->
      """SELECT count(*) AS n,
        |       CAST(sum(CASE WHEN c_custkey % 10 = 0 THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_updated,
        |       round(sum(CASE WHEN c_custkey % 10 = 0
        |                      THEN c_acctbal * 2
        |                      ELSE c_acctbal END), 4) AS balance
        |FROM customer""".stripMargin,

    "q_compact" ->
      """SELECT count(*) AS n_docs,
        |       CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents""".stripMargin,

    "q_delete_where" ->
      // the OR IS NULL arm mirrors deleteWhere's null-retention
      // contract (delete only what PROVABLY matches) — NOT(NULL) would
      // silently drop null-key rows from the oracle side
      """SELECT count(*) AS n,
        |       count(DISTINCT user_id) AS n_users,
        |       round(sum(value), 4) AS total_value
        |FROM events
        |WHERE user_id % 7 <> 0 OR user_id IS NULL""".stripMargin,

    "q_partition_upsert" ->
      """SELECT count(*) AS n,
        |       count(DISTINCT CAST(date_part('month', l_shipdate)
        |                           AS INTEGER)) AS n_months
        |FROM lineitem""".stripMargin,

    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |       round(sum(l_quantity), 2) AS qty
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

    "q_median" ->
      """SELECT l_returnflag,
        |       round(median(l_quantity), 6) AS med_qty,
        |       round(median(l_extendedprice), 6) AS med_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |       round(avg(l_discount), 6) AS avg_disc
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,

    "q_quantiles" ->
      """SELECT l_linestatus,
        |       round(quantile_cont(l_quantity, 0.25), 6) AS p25,
        |       round(quantile_cont(l_quantity, 0.75), 6) AS p75,
        |       round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price
        |FROM lineitem GROUP BY l_linestatus""".stripMargin,

    "q_stats_agg" ->
      """SELECT l_returnflag,
        |       round(corr(l_quantity, l_extendedprice), 6) AS qp_corr,
        |       round(covar_samp(l_quantity, l_extendedprice), 6) AS qp_covar,
        |       round(stddev_samp(l_discount), 6) AS disc_sd
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q_salted_join" ->
      """SELECT n_name, count(*) AS n, round(sum(value), 4) AS v
        |FROM events JOIN nation
        |  ON CAST(((user_id % 25) + 25) % 25 AS INTEGER) = n_nationkey
        |GROUP BY n_name""".stripMargin,

    "q_fact_join" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |       round(sum(l_extendedprice * (1.0 - l_discount)), 2)
        |         AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,

    "q_bucketed_join" ->
      """SELECT o_orderpriority, count(*) AS n,
        |       round(sum(l_quantity), 2) AS qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,

    "q_distinct_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type""".stripMargin,

    // verified-form HLL++: exact distincts recomputed, the tolerance
    // flag asserted TRUE (Spark computed it against its own exact
    // counts, which this oracle proves — the verifiedTimeline argument)
    "q_approx_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
        |       TRUE AS est_ok
        |FROM events GROUP BY event_type""".stripMargin,

    "q_hopping_rollup" -> hoppingOracleGen(60, 30),

    "q_rolling_avg" -> rollingAvgOracleGen(24),

    "q_trend_lines" ->
      """WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
        |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
        |  GROUP BY 1, 2),
        |o AS (SELECT min(CAST(epoch(h) AS BIGINT)) AS m FROM hourly)
        |SELECT event_type, count(*) AS n_hours,
        |       round(regr_slope(CAST(n AS DOUBLE),
        |         CAST((CAST(epoch(h) AS BIGINT) - m) / 3600 AS DOUBLE)), 6)
        |         AS slope_per_hour,
        |       round(regr_intercept(CAST(n AS DOUBLE),
        |         CAST((CAST(epoch(h) AS BIGINT) - m) / 3600 AS DOUBLE)), 6)
        |         AS intercept,
        |       round(regr_r2(CAST(n AS DOUBLE),
        |         CAST((CAST(epoch(h) AS BIGINT) - m) / 3600 AS DOUBLE)), 6)
        |         AS r2
        |FROM hourly, o GROUP BY 1""".stripMargin,

    "q_skew_report" ->
      """WITH c AS (SELECT CAST(floor(log2(event_id + 1)) AS INTEGER)
        |                    AS kbucket,
        |                  count(*) AS n
        |           FROM events GROUP BY 1),
        |t AS (SELECT sum(n) AS total, count(*) AS keys FROM c)
        |SELECT kbucket, CAST(n AS BIGINT) AS n,
        |       round(CAST(n AS DOUBLE) / total, 6) AS share,
        |       round(CAST(n AS DOUBLE) * keys / total, 6) AS skew
        |FROM c, t ORDER BY n DESC, kbucket LIMIT 10""".stripMargin,

    "q_cohort_retention" -> cohortOracleGen("week"),

    "q_transitions" -> transitionsOracleGen(1),

    "q_outage_flags" -> outageOracleGen(7, 3.0),

    "q_anomaly_flags" -> anomalyOracleGen(7, 3.0),

    "q_user_churn" -> churnOracleGen(1),

    "q_active_users" -> activeUsersOracleGen(7),

    "q_linear_attribution" ->
      """WITH p AS (SELECT event_id AS pid, user_id,
        |                  CAST(epoch_ms(ts) AS BIGINT) AS pms,
        |                  coalesce(value, 0) AS val
        |           FROM events WHERE event_type = 'purchase'
        |             AND user_id IS NOT NULL AND ts IS NOT NULL),
        |c AS (SELECT user_id, CAST(epoch_ms(ts) AS BIGINT) AS cms,
        |             'ch' || CAST(TRY_CAST(json_extract_string(props, '$.k')
        |                     AS BIGINT) % 4 AS VARCHAR) AS channel
        |      FROM events WHERE event_type = 'click'
        |        AND user_id IS NOT NULL AND ts IS NOT NULL),
        |m AS (SELECT p.pid, p.val, c.channel FROM p JOIN c
        |      ON c.user_id = p.user_id AND c.cms <= p.pms
        |         AND c.cms > p.pms - 259200000),
        |pn AS (SELECT pid, count(*) AS n FROM m GROUP BY 1),
        |ch AS (SELECT channel, count(*) AS touches,
        |              round(sum(val / n), 4) AS credit
        |       FROM m JOIN pn USING (pid) GROUP BY 1),
        |d AS (SELECT 'direct' AS channel, count(*) AS touches,
        |             round(sum(val), 4) AS credit
        |      FROM p WHERE pid NOT IN (SELECT pid FROM m))
        |SELECT channel, CAST(touches AS BIGINT) AS touches, credit FROM ch
        |UNION ALL
        |SELECT channel, CAST(touches AS BIGINT), credit FROM d""".stripMargin,

    "q_scd2" -> scd2OracleGen(40),

    "q_attribution" -> attributionOracleGen(4),

    "q_funnel" -> funnelOracleGen(Seq("view", "click", "purchase"), 72),

    "q_sessionize" -> sessionizeOracleGen(30),

    // the raw bounded self-join: same bound conjuncts as the engine's
    // binned form (ties broken by id so each unordered pair emits once)
    "q_interval_join" -> intervalJoinOracleGen(2000L),

    // session_window semantics: closed-interval merge (split strictly
    // after the gap, same boundary as q_sessionize), end = last + gap
    // null user/ts rows excluded — the Sessionize.batch contract (r9)
    "q_session_window" ->
      """WITH e AS (SELECT user_id, date_trunc('milliseconds', ts) AS tsm
        |           FROM events
        |           WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |l AS (SELECT user_id, tsm,
        |        lag(tsm) OVER (PARTITION BY user_id ORDER BY tsm) AS prev
        |      FROM e),
        |m AS (SELECT user_id, tsm,
        |        CASE WHEN prev IS NULL
        |               OR epoch_ms(tsm) - epoch_ms(prev) > 1800000
        |             THEN 1 ELSE 0 END AS new_session
        |      FROM l),
        |s AS (SELECT user_id, tsm,
        |        CAST(sum(new_session) OVER (PARTITION BY user_id
        |          ORDER BY tsm ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |          AS session_seq
        |      FROM m)
        |SELECT user_id,
        |       epoch_ms(min(tsm)) AS session_start_ms,
        |       epoch_ms(max(tsm)) + 1800000 AS session_end_ms,
        |       count(*) AS n_events
        |FROM s GROUP BY user_id, session_seq""".stripMargin,

    // null user/ts rows excluded — the Sessionize.batch contract (r9)
    "q_session_stats" ->
      """WITH e AS (SELECT user_id, date_trunc('milliseconds', ts) AS tsm
        |           FROM events
        |           WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |l AS (SELECT user_id, tsm,
        |        lag(tsm) OVER (PARTITION BY user_id ORDER BY tsm) AS prev
        |      FROM e),
        |m AS (SELECT user_id, tsm,
        |        CASE WHEN prev IS NULL
        |               OR epoch_ms(tsm) - epoch_ms(prev) > 1800000
        |             THEN 1 ELSE 0 END AS new_session
        |      FROM l),
        |s AS (SELECT user_id, tsm,
        |        CAST(sum(new_session) OVER (PARTITION BY user_id
        |          ORDER BY tsm ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |          AS session_seq
        |      FROM m),
        |sess AS (SELECT user_id, session_seq,
        |                epoch_ms(min(tsm)) AS st, epoch_ms(max(tsm)) AS en,
        |                count(*) AS n_events
        |         FROM s GROUP BY 1, 2)
        |SELECT count(*) AS n_sessions,
        |       count(DISTINCT user_id) AS n_users,
        |       round(avg(n_events), 6) AS avg_events,
        |       round(avg((en - st) / 1000.0), 6) AS avg_duration_s,
        |       round(avg(CASE WHEN n_events = 1 THEN 1.0 ELSE 0.0 END), 6)
        |         AS bounce_share
        |FROM sess""".stripMargin,

    "q_corpus_pipeline" ->
      (curateKeptCtes + """
        |SELECT doc_id, lang,
        |  CAST(len(list_filter(string_split_regex(trim(text),'\s+'), x -> x <> '')) AS BIGINT)
        |    AS n_tokens,
        |  round(
        |    least(CAST(len(list_filter(string_split_regex(trim(text),'\s+'), x -> x <> '')) AS DOUBLE)
        |          / 100.0, 1.0) * 0.5
        |    + (CAST(len(list_filter(string_split_regex(trim(text),'\s+'),
        |            x -> x IN ('the','a','of','and','to','in','is')))
        |            AS DOUBLE)
        |       / CAST(greatest(len(list_filter(string_split_regex(trim(text),'\s+'), x -> x <> '')), 1)
        |              AS DOUBLE)) * 0.3
        |    + (1.0 - least(CAST(len(regexp_extract_all(text,'[.,!?;:]'))
        |                        AS DOUBLE)
        |                   / CAST(greatest(len(text),1) AS DOUBLE) * 10.0,
        |                   1.0)) * 0.2, 6) AS quality_score,
        |  md5(text) AS fingerprint
        |FROM kept
        |WHERE lang = 'en'
        |  AND len(list_filter(string_split_regex(trim(text),'\s+'), x -> x <> '')) >= 20""".stripMargin),

    // survivors of the per-source cap: same md5 coin, same tie-break
    "q_source_cap" ->
      """SELECT doc_id, source, CAST(rn AS BIGINT) AS cap_rank
        |FROM (SELECT doc_id, source,
        |        row_number() OVER (PARTITION BY source
        |          ORDER BY md5('cap|' || CAST(doc_id AS VARCHAR)), doc_id)
        |          AS rn
        |      FROM documents) t
        |WHERE rn <= 20""".stripMargin,

    "q_winsorize" -> winsorizeOracleGen(0.05, 0.95),

    // prove-it violation semantics: NULL can only violate not_null;
    // unique = surplus among non-null keys (SQL UNIQUE)
    "q_expectations" ->
      """WITH n AS (SELECT count(*) AS n_rows FROM events)
        |SELECT 'not_null' AS check_name, 'user_id' AS target, n_rows,
        |       CAST((SELECT count(*) - count(user_id) FROM events)
        |            AS BIGINT) AS n_violations,
        |       (SELECT count(*) - count(user_id) FROM events) = 0
        |         AS passed FROM n
        |UNION ALL
        |SELECT 'unique', 'event_id', n_rows,
        |       CAST((SELECT count(event_id) - count(DISTINCT event_id)
        |             FROM events) AS BIGINT),
        |       (SELECT count(event_id) - count(DISTINCT event_id)
        |        FROM events) = 0 FROM n
        |UNION ALL
        |SELECT 'in_range', 'value', n_rows,
        |       CAST((SELECT count(*) FROM events
        |             WHERE value IS NOT NULL
        |               AND (value < 0 OR value > 400)) AS BIGINT),
        |       (SELECT count(*) FROM events
        |        WHERE value IS NOT NULL
        |          AND (value < 0 OR value > 400)) = 0 FROM n
        |UNION ALL
        |SELECT 'matches', 'event_type', n_rows,
        |       CAST((SELECT count(*) FROM events
        |             WHERE event_type IS NOT NULL
        |               AND NOT regexp_matches(event_type, '^[a-z]+$'))
        |            AS BIGINT),
        |       (SELECT count(*) FROM events
        |        WHERE event_type IS NOT NULL
        |          AND NOT regexp_matches(event_type, '^[a-z]+$')) = 0
        |       FROM n
        |UNION ALL
        |SELECT 'in_set', 'event_type', n_rows,
        |       CAST((SELECT count(*) FROM events
        |             WHERE event_type IS NOT NULL
        |               AND event_type NOT IN ('click', 'view'))
        |            AS BIGINT),
        |       (SELECT count(*) FROM events
        |        WHERE event_type IS NOT NULL
        |          AND event_type NOT IN ('click', 'view')) = 0
        |       FROM n""".stripMargin,

    "q_fk_orphans" ->
      """SELECT fk, child_rows, null_keys, orphan_rows,
        |       orphan_rows = 0 AS ok
        |FROM (
        |  SELECT 'lineitem_orders' AS fk,
        |    (SELECT count(*) FROM lineitem) AS child_rows,
        |    (SELECT count(*) FROM lineitem WHERE l_orderkey IS NULL)
        |      AS null_keys,
        |    (SELECT count(*) FROM lineitem l
        |     WHERE l.l_orderkey IS NOT NULL AND NOT EXISTS
        |       (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        |      AS orphan_rows
        |  UNION ALL SELECT 'lineitem_part',
        |    (SELECT count(*) FROM lineitem),
        |    (SELECT count(*) FROM lineitem WHERE l_partkey IS NULL),
        |    (SELECT count(*) FROM lineitem l
        |     WHERE l.l_partkey IS NOT NULL AND NOT EXISTS
        |       (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
        |  UNION ALL SELECT 'lineitem_supplier',
        |    (SELECT count(*) FROM lineitem),
        |    (SELECT count(*) FROM lineitem WHERE l_suppkey IS NULL),
        |    (SELECT count(*) FROM lineitem l
        |     WHERE l.l_suppkey IS NOT NULL AND NOT EXISTS
        |       (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
        |  UNION ALL SELECT 'orders_customer',
        |    (SELECT count(*) FROM orders),
        |    (SELECT count(*) FROM orders WHERE o_custkey IS NULL),
        |    (SELECT count(*) FROM orders o
        |     WHERE o.o_custkey IS NOT NULL AND NOT EXISTS
        |       (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        |  UNION ALL SELECT 'customer_nation',
        |    (SELECT count(*) FROM customer),
        |    (SELECT count(*) FROM customer WHERE c_nationkey IS NULL),
        |    (SELECT count(*) FROM customer c
        |     WHERE c.c_nationkey IS NOT NULL AND NOT EXISTS
        |       (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
        |  UNION ALL SELECT 'supplier_nation',
        |    (SELECT count(*) FROM supplier),
        |    (SELECT count(*) FROM supplier WHERE s_nationkey IS NULL),
        |    (SELECT count(*) FROM supplier s
        |     WHERE s.s_nationkey IS NOT NULL AND NOT EXISTS
        |       (SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey))
        |  UNION ALL SELECT 'nation_region',
        |    (SELECT count(*) FROM nation),
        |    (SELECT count(*) FROM nation WHERE n_regionkey IS NULL),
        |    (SELECT count(*) FROM nation n
        |     WHERE n.n_regionkey IS NOT NULL AND NOT EXISTS
        |       (SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey))
        |) audits""".stripMargin,

    "q_dist_shift" ->
      """WITH a AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS w
        |           FROM events WHERE date_part('day', ts) <= 15
        |           GROUP BY 1),
        |     b AS (SELECT event_type, CAST(count(*) AS DOUBLE) AS w
        |           FROM events WHERE date_part('day', ts) > 15
        |           GROUP BY 1),
        |     pa AS (SELECT event_type, w / (SELECT sum(w) FROM a)
        |              AS share_a FROM a),
        |     pb AS (SELECT event_type, w / (SELECT sum(w) FROM b)
        |              AS share_b FROM b),
        |     j AS (SELECT coalesce(pa.event_type, pb.event_type)
        |             AS event_type,
        |             coalesce(share_a, 0) AS share_a,
        |             coalesce(share_b, 0) AS share_b
        |           FROM pa FULL OUTER JOIN pb
        |             ON pa.event_type IS NOT DISTINCT FROM pb.event_type)
        |SELECT event_type,
        |       round(share_a, 6) AS share_a,
        |       round(share_b, 6) AS share_b,
        |       round((CASE WHEN share_a > 0 THEN
        |                share_a * log2(share_a / ((share_a + share_b)/2))
        |                  * 0.5 ELSE 0 END)
        |           + (CASE WHEN share_b > 0 THEN
        |                share_b * log2(share_b / ((share_a + share_b)/2))
        |                  * 0.5 ELSE 0 END), 6) AS js_bits
        |FROM j""".stripMargin,

    // the exact-below-saturation regime: KMV sketches at k=512 hold
    // every day's full distinct-hash set at sf0.01, so the sketch
    // arithmetic must reproduce exact SQL set algebra
    "q_retention" ->
      """WITH d AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
        |           FROM events WHERE user_id IS NOT NULL),
        |c AS (SELECT day, count(*) AS dau FROM d GROUP BY 1),
        |r AS (SELECT a.day AS day, count(*) AS returned
        |      FROM d a JOIN d b ON b.day = a.day + INTERVAL 1 DAY
        |                       AND b.user_id = a.user_id
        |      GROUP BY 1)
        |SELECT strftime(c1.day, '%Y-%m-%d') AS day,
        |       c1.dau AS dau, c2.dau AS next_dau,
        |       CAST(coalesce(r.returned, 0) AS BIGINT) AS returned,
        |       round(CAST(coalesce(r.returned, 0) AS DOUBLE) / c1.dau, 6)
        |         AS retention_rate
        |FROM c c1 JOIN c c2 ON c2.day = c1.day + INTERVAL 1 DAY
        |LEFT JOIN r ON r.day = c1.day""".stripMargin,

    // layout is physical — the readable contract is an exact census
    "q_zorder_layout" ->
      """SELECT count(*) AS n,
        |       CAST(sum(user_id) AS BIGINT) AS uid_sum,
        |       round(sum(value), 4) AS v
        |FROM events""".stripMargin,

    // stats computed NATIVELY then cast — min over the varchar cast
    // would be lexicographic ('100.5' < '99') and wrong for numerics
    "q_profile" ->
      """SELECT 'event_id' AS col_name, count(*) AS n_rows,
        |       CAST(count(*) - count(event_id) AS BIGINT) AS n_nulls,
        |       count(DISTINCT event_id) AS n_distinct,
        |       CAST(min(event_id) AS VARCHAR) AS min_value,
        |       CAST(max(event_id) AS VARCHAR) AS max_value
        |FROM events
        |UNION ALL
        |SELECT 'user_id', count(*),
        |       CAST(count(*) - count(user_id) AS BIGINT),
        |       count(DISTINCT user_id),
        |       CAST(min(user_id) AS VARCHAR),
        |       CAST(max(user_id) AS VARCHAR)
        |FROM events
        |UNION ALL
        |SELECT 'event_type', count(*),
        |       CAST(count(*) - count(event_type) AS BIGINT),
        |       count(DISTINCT event_type),
        |       min(event_type), max(event_type)
        |FROM events
        |UNION ALL
        |SELECT 'value', count(*),
        |       CAST(count(*) - count(value) AS BIGINT),
        |       count(DISTINCT value),
        |       CAST(min(value) AS VARCHAR), CAST(max(value) AS VARCHAR)
        |FROM events
        |UNION ALL
        |SELECT 'props', count(*),
        |       CAST(count(*) - count(props) AS BIGINT),
        |       count(DISTINCT props),
        |       min(props), max(props)
        |FROM events""".stripMargin,

    "q_bloom_layout" ->
      """SELECT count(*) AS n,
        |       CAST(sum(user_id) AS BIGINT) AS uid_sum,
        |       round(sum(value), 4) AS v,
        |       (SELECT count(*) FROM events WHERE event_id = 42)
        |         AS n_probe
        |FROM events""".stripMargin
  ) ++ graft.tpch.TpchExt.oracles

  /** Shared truth for both top-k strategies (window row_number and the
    * bounded-buffer Aggregator): identical rows, identical tie-breaks.
    */
  /** Shared truth for the direct build AND the day-2 append flagship
    * (q_value_sketch / q_value_sketch_append): gamma is spelled
    * (1.0+0.01)/(1.0-0.01) — the SAME IEEE ops Dd.gamma performs; the
    * 1e-9 grid-round absorbs cross-libm ln ulps. events.value is
    * strictly positive in this data, so the zero bucket has no twin.
    */
  /** DuckDB cosine over double lists — `list_dot_product` accumulates
    * sequentially over the list, the same order as the engine's
    * CosineSimilarity loop, so the two agree to the ulp and the
    * round(·,6) grid both sides share can never disagree.
    */
  private def duckCos(a: String, b: String): String =
    s"(list_dot_product($a, $b) / " +
      s"(sqrt(list_dot_product($a,$a)) * sqrt(list_dot_product($b,$b))))"

  /** round(x, 6) with SPARK's rounding rule: Spark (and the engine's r6
    * grid) round the double's SHORTEST DECIMAL representation HALF_UP
    * (BigDecimal.valueOf semantics), while DuckDB's round(DOUBLE) rounds
    * the true binary value — the two disagree exactly when the shortest
    * repr lands on a .xxxxxx5 midpoint whose binary value sits below it.
    * VARCHAR cast IS DuckDB's shortest-repr printer, so
    * round(CAST(CAST(x AS VARCHAR) AS DECIMAL), 6) reproduces Spark
    * bit-for-bit; the cast back to DOUBLE keeps downstream arithmetic
    * and the compare's types unchanged. Used where grid-affine
    * arithmetic (λ·grid − (1−λ)·grid) concentrates values near
    * midpoints — the r9 fuzz caught MMR there (λ=0.3, x=−0.0638835:
    * Spark −0.063884, plain DuckDB round −0.063883). Full-entropy
    * doubles elsewhere hit a midpoint with negligible probability and
    * keep the plain round.
    */
  private def duckR6(e: String): String =
    s"CAST(round(CAST(CAST(($e) AS VARCHAR) AS DECIMAL(38,19)), 6) " +
      "AS DOUBLE)"

  /** q_kcenter_select twin: the greedy farthest-point loop UNROLLED to
    * k−1 chained CTE steps — k is the query's own constant, and SQL has
    * no bounded loop, so the oracle is GENERATED (the first generated
    * oracle; the map value is still one plain SQL string). Each step
    * keeps the running min-distance frame (the engine's persisted
    * `mind` column) and picks argmax(mind) with the id tie-break; radii
    * round to 6 on both sides. The engine's early-stop branch
    * (max mind ≤ 1e-12, i.e. fewer than k distinct directions) never
    * fires on this fixture and is deliberately not modeled.
    */
  /** q_pagerank twin: the power iteration UNROLLED to 3 steps (the
    * kcenterOracle pattern for fixed-step iterative dataflows).
    * Determinism: both engines round every iteration's ranks to 1e-9, so
    * each step's inputs sit on identical grid points and the only
    * cross-engine noise — the ulp from in-neighbor summation order — is
    * absorbed before it can compound. Teleport/damping arithmetic is
    * emitted as the SAME double expression tree the engine evaluates
    * ((1.0 − 0.85)/n, 0.85·s, both sides IEEE doubles).
    */
  /** q_incremental_refresh / q_refresh_stream twin, parameterized by
    * the doc_id parity selecting the fixture half (both board rows use
    * 0 — the streaming query deliberately shares the one-shot
    * flagship's fixture AND persisted store, so the driver's oracle
    * check covers the replay interleaving). The streaming form must
    * land the SAME census as the one-shot refresh of its whole batch:
    * micro-batches arrive in ascending id order, so each near-dup
    * cluster's canonical-min doc is inserted no later than its other
    * members are screened — the CorpusRefresh replay/idempotence
    * contract then makes the composition order-insensitive (verified
    * by this shared twin, not assumed).
    */
  private def refreshOracle(parity: Int): String =
    s"""WITH RECURSIVE wh AS (SELECT * FROM documents
      |      WHERE doc_id % 2 = $parity AND doc_id % 3 <> 0),
      |nb AS (SELECT * FROM documents
      |      WHERE doc_id % 2 = $parity AND doc_id % 3 = 0),
      |g1 AS (SELECT * FROM nb
      |       WHERE len(list_filter(string_split_regex(trim(text), '\\s+'),
      |                             x -> x <> '')) >= 20
      |         AND md5(text) NOT IN (SELECT md5(text) FROM wh
      |                               WHERE text IS NOT NULL)),
      |idx AS (SELECT unnest(range(1,
      |    (SELECT CAST(max(len(text)) AS BIGINT) FROM documents))) AS i),
      |shn AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INTEGER), 12)
      |          AS s
      |        FROM g1 JOIN idx ON i <= len(text)-11),
      |szn AS (SELECT doc_id, count(*) AS n FROM shn GROUP BY 1),
      |commonb AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |                   count(*) AS c
      |            FROM shn a JOIN shn b
      |              ON a.s = b.s AND a.doc_id < b.doc_id
      |            GROUP BY 1, 2),
      |bprs AS (SELECT id_a, id_b FROM commonb
      |         JOIN szn sa ON sa.doc_id = id_a
      |         JOIN szn sb ON sb.doc_id = id_b
      |         WHERE CAST(c AS DOUBLE)/(sa.n + sb.n - c) >= 0.7),
      |""".stripMargin +
      closureCtes("bprs") + """,
      |drops AS (SELECT id FROM reach
      |          GROUP BY id HAVING id <> min(lbl)),
      |canon AS (SELECT * FROM g1
      |          WHERE doc_id NOT IN (SELECT id FROM drops)),
      |shw AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INTEGER), 12)
      |          AS s
      |        FROM wh JOIN idx ON i <= len(text)-11),
      |szw AS (SELECT doc_id, count(*) AS n FROM shw GROUP BY 1),
      |common AS (SELECT w.doc_id AS id_a, b.doc_id AS id_b,
      |                  count(*) AS c
      |           FROM shw w JOIN shn b ON w.s = b.s
      |           WHERE b.doc_id IN (SELECT doc_id FROM canon)
      |           GROUP BY 1, 2),
      |flagged AS (SELECT DISTINCT id_b FROM common
      |            JOIN szw sa ON sa.doc_id = id_a
      |            JOIN szn sb ON sb.doc_id = id_b
      |            WHERE CAST(c AS DOUBLE)/(sa.n + sb.n - c) >= 0.7),
      |keep AS (SELECT * FROM canon
      |         WHERE doc_id NOT IN (SELECT id_b FROM flagged))
      |SELECT source, count(*) AS n_docs
      |FROM (SELECT source FROM wh UNION ALL SELECT source FROM keep)
      |GROUP BY 1""".stripMargin

  /** q_quality_classifier twin: the ENTIRE distilled-classifier
    * pipeline re-trained inside DuckDB — portable md5-prefix feature
    * buckets (Hashing.bucket's OraclePortable form), heuristic
    * quality-score labels, 8 unrolled full-batch GD rounds with
    * per-iteration weights rounded onto the engine's shared 1e-9 grid
    * (the pagerankOracle recipe: same double expression tree for the
    * sigmoid/lr arithmetic, grid rounding absorbs exp()/sum-order
    * ulps), then the scoring pass over every tokenized document.
    * Every trained coefficient is verified end-to-end through the
    * served scores. w0 is the empty (all-zero) model, so round 1 falls
    * out of the same step template (margin 0 → residual 0.5 − y).
    */
  private val qualityClassifierOracle: String = {
    val (dim, iters, lr) = (64, 8, "2.0")
    def step(i: Int): String =
      s"""m$i AS MATERIALIZED (SELECT f.doc_id, min(f.y) AS y,
         |    sum(f.x * coalesce(w.w, CAST(0.0 AS DOUBLE))) AS m
         |  FROM f LEFT JOIN w${i - 1} w USING (bucket) GROUP BY 1),
         |g$i AS MATERIALIZED (SELECT f.bucket,
         |    sum(f.x * (1.0 / (1.0 + exp(-m.m)) - m.y)) AS g
         |  FROM f JOIN m$i m USING (doc_id) GROUP BY 1),
         |w$i AS MATERIALIZED (SELECT g.bucket,
         |    round(coalesce(w.w, CAST(0.0 AS DOUBLE))
         |          - $lr * g.g / nn.n, 9) AS w
         |  FROM g$i g LEFT JOIN w${i - 1} w USING (bucket)
         |  CROSS JOIN nn)""".stripMargin
    val tokExpr =
      "list_filter(string_split_regex(trim(text),'\\s+'), x -> x <> '')"
    val head =
      s"""WITH tk AS (SELECT doc_id,
         |    list_filter(string_split_regex(trim(lower(text)), '\\s+'),
         |                x -> x <> '') AS toks
         |  FROM documents WHERE text IS NOT NULL),
         |cnts AS (SELECT doc_id,
         |    CAST('0x' || substr(md5(term), 1, 4) AS BIGINT) % $dim
         |      AS bucket,
         |    CAST(count(*) AS DOUBLE) AS cnt
         |  FROM (SELECT doc_id, unnest(toks) AS term FROM tk)
         |  GROUP BY 1, 2),
         |xs AS MATERIALIZED (SELECT doc_id, bucket,
         |    cnt / sum(cnt) OVER (PARTITION BY doc_id) AS x FROM cnts),
         |qs AS (SELECT doc_id, round(
         |    least(CAST(len($tokExpr) AS DOUBLE) / 100.0, 1.0) * 0.5
         |    + (CAST(len(list_filter(string_split_regex(trim(text),'\\s+'),
         |             x -> x IN ('the','a','of','and','to','in','is')))
         |         AS DOUBLE)
         |       / CAST(greatest(len($tokExpr), 1) AS DOUBLE)) * 0.3
         |    + (1.0 - least(CAST(len(regexp_extract_all(text,'[.,!?;:]'))
         |                        AS DOUBLE)
         |                   / CAST(greatest(len(text), 1) AS DOUBLE)
         |                   * 10.0, 1.0)) * 0.2, 6) AS q
         |  FROM documents),
         |lab AS (SELECT doc_id,
         |    CASE WHEN q >= 0.5 THEN CAST(1.0 AS DOUBLE)
         |         ELSE CAST(0.0 AS DOUBLE) END AS y
         |  FROM qs WHERE q IS NOT NULL),
         |f AS MATERIALIZED (SELECT xs.doc_id, xs.bucket, xs.x, lab.y
         |      FROM xs JOIN lab USING (doc_id)
         |      UNION ALL
         |      SELECT d.doc_id, CAST($dim AS BIGINT) AS bucket,
         |             CAST(1.0 AS DOUBLE) AS x, lab.y
         |      FROM (SELECT DISTINCT doc_id FROM xs) d
         |      JOIN lab USING (doc_id)),
         |nn AS MATERIALIZED (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE)
         |         AS n
         |       FROM f),
         |w0 AS MATERIALIZED (SELECT CAST(NULL AS BIGINT) AS bucket,
         |              CAST(NULL AS DOUBLE) AS w WHERE false)""".stripMargin
    (Seq(head) ++ (1 to iters).map(step)).mkString(",\n") + "\n" +
      s"""SELECT xs.doc_id,
         |       round(1.0 / (1.0 + exp(-(
         |         sum(xs.x * coalesce(w.w, CAST(0.0 AS DOUBLE)))
         |         + bias.w))), 6) AS p_good
         |FROM xs LEFT JOIN w$iters w USING (bucket)
         |CROSS JOIN (SELECT w FROM w$iters WHERE bucket = $dim) bias
         |GROUP BY xs.doc_id, bias.w""".stripMargin
  }

  private val pagerankOracle: String = pagerankOracleGen(6, 3)

  /** q_ppr twin: the seeded power iteration unrolled (pagerankOracle
    * scaffold + seed spine). The zero-mass WHERE matches the engine's
    * frontier filter — same contributing term set, order ulps absorbed
    * by the shared grid; teleport arithmetic emitted as the engine's
    * double expression tree.
    */
  private val pprOracle: String = {
    val iters = 2
    def step(i: Int): String =
      s"""s$i AS (SELECT e.dst AS node, sum(r.pr / d.deg) AS s
         |  FROM e JOIN r${i - 1} r ON r.node = e.src
         |         JOIN deg d ON d.src = e.src
         |  WHERE r.pr <> 0
         |  GROUP BY 1),
         |r$i AS (SELECT sp.node,
         |    round(CASE WHEN sp.is_seed = 1
         |            THEN (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / cnt.c
         |            ELSE CAST(0.0 AS DOUBLE) END
         |          + CAST(0.85 AS DOUBLE) * coalesce(s.s, CAST(0.0 AS DOUBLE)),
         |          9) AS pr
         |  FROM sp CROSS JOIN cnt LEFT JOIN s$i s ON s.node = sp.node)""".stripMargin
    val head =
      """WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk
        |            FROM lineitem WHERE l_orderkey % 5 = 0),
        |e0 AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
        |       FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        |e AS (SELECT src, dst FROM e0
        |      UNION ALL SELECT dst AS src, src AS dst FROM e0),
        |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
        |sd AS (SELECT src AS node FROM deg WHERE src % 100 = 0),
        |cnt AS (SELECT CAST(count(*) AS DOUBLE) AS c FROM sd),
        |sp AS (SELECT d.src AS node, d.deg,
        |         CASE WHEN s.node IS NOT NULL THEN 1 ELSE 0 END AS is_seed
        |       FROM deg d LEFT JOIN sd s ON s.node = d.src),
        |r0 AS (SELECT sp.node,
        |         CASE WHEN sp.is_seed = 1
        |           THEN round(CAST(1.0 AS DOUBLE) / cnt.c, 9)
        |           ELSE CAST(0.0 AS DOUBLE) END AS pr
        |       FROM sp CROSS JOIN cnt)""".stripMargin
    (Seq(head) ++ (1 to iters).map(step)).mkString(",\n") + "\n" +
      s"SELECT node AS part_key, pr AS ppr FROM r$iters" +
      " ORDER BY ppr DESC, node ASC LIMIT 25"
  }

  /** q_triangles twin: the same degree-oriented wedge-close dataflow in
    * SQL — exact integers throughout, one rounded exact division (lcc),
    * so the compare is arithmetic-exact with no grid subtleties.
    */
  private val trianglesOracle: String =
    """WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk
      |            FROM lineitem WHERE l_orderkey % 20 = 0),
      |e0 AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
      |       FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
      |deg AS (SELECT node, count(*) AS deg FROM
      |         (SELECT src AS node FROM e0
      |          UNION ALL SELECT dst AS node FROM e0) u GROUP BY 1),
      |o AS (SELECT CASE WHEN ds.deg < dd.deg
      |                    OR (ds.deg = dd.deg AND e0.src < e0.dst)
      |                  THEN e0.src ELSE e0.dst END AS a,
      |             CASE WHEN ds.deg < dd.deg
      |                    OR (ds.deg = dd.deg AND e0.src < e0.dst)
      |                  THEN e0.dst ELSE e0.src END AS b,
      |             CASE WHEN ds.deg < dd.deg
      |                    OR (ds.deg = dd.deg AND e0.src < e0.dst)
      |                  THEN dd.deg ELSE ds.deg END AS db
      |      FROM e0 JOIN deg ds ON ds.node = e0.src
      |              JOIN deg dd ON dd.node = e0.dst),
      |w AS (SELECT o1.a, o1.b, o2.b AS c
      |      FROM o o1 JOIN o o2 ON o1.a = o2.a
      |      WHERE o1.db < o2.db OR (o1.db = o2.db AND o1.b < o2.b)),
      |tr AS (SELECT w.a, w.b, w.c FROM w JOIN o ON o.a = w.b AND o.b = w.c),
      |pn AS (SELECT node, count(*) AS tri FROM
      |        (SELECT a AS node FROM tr UNION ALL SELECT b AS node FROM tr
      |         UNION ALL SELECT c AS node FROM tr) u GROUP BY 1)
      |SELECT d.node AS part_key, d.deg,
      |       coalesce(pn.tri, 0) AS tri,
      |       CASE WHEN d.deg >= 2
      |            THEN round(CAST(coalesce(pn.tri, 0) AS DOUBLE)
      |                       / (d.deg * (d.deg - 1) / 2), 6) END AS lcc
      |FROM deg d LEFT JOIN pn ON pn.node = d.node
      |ORDER BY tri DESC, part_key ASC LIMIT 25""".stripMargin

  private[graft] def kcenterOracleGen(k: Int): String = {
    val head =
      s"""WITH base AS MATERIALIZED (
         |  SELECT vec_id AS id,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings
         |  WHERE list_dot_product(
         |          list_transform(embedding, x -> CAST(x AS DOUBLE)),
         |          list_transform(embedding, x -> CAST(x AS DOUBLE))) > 0
         |),
         |c0 AS (SELECT id, v FROM base ORDER BY id LIMIT 1),
         |d1 AS (SELECT b.id, b.v, 1 - ${duckCos("b.v", "c0.v")} AS mind
         |       FROM base b, c0)""".stripMargin
    val steps = (1 until k).flatMap { i =>
      val pick = s"p$i AS MATERIALIZED (SELECT id, v, mind FROM d$i " +
        "ORDER BY mind DESC, id ASC LIMIT 1)"
      if (i < k - 1)
        Seq(pick,
            s"d${i + 1} AS (SELECT d.id, d.v, least(d.mind, 1 - " +
              duckCos("d.v", s"p$i.v") + s") AS mind FROM d$i d, p$i)")
      else Seq(pick)
    }
    val out = Seq(
      "SELECT 0 AS rank, id, CAST(NULL AS DOUBLE) AS radius FROM c0") ++
      (1 until k).map(i => s"SELECT $i, id, round(mind, 6) FROM p$i")
    (Seq(head) ++ steps).mkString(",\n") + "\n" +
      out.mkString("\nUNION ALL ")
  }

  private val kcenterOracle: String = kcenterOracleGen(8)

  /** q_mmr_rerank twin: the MMR greedy UNROLLED to k picks over the
    * top-n pool (the kcenterOracle pattern). Every quantity the argmax
    * and the running max-sim state see is rounded to 6 IN THE ENGINE
    * (mmrRerank reproduces the distributed round), so the SQL twin
    * lands on identical grid points and the pick sequence is exact.
    */
  private[graft] def mmrOracleGen(probe: Long, lam: Double,
                                  n: Int, k: Int): String = {
    val head =
      s"""WITH dv AS MATERIALIZED (
         |  SELECT vec_id AS id,
         |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings
         |),
         |probe AS (SELECT v FROM dv WHERE id = $probe),
         |pool1 AS MATERIALIZED (
         |  SELECT d.id, ${duckR6(duckCos("d.v", "p.v"))} AS rel, d.v,
         |         0.0 AS maxs
         |  FROM dv d, probe p WHERE d.id <> $probe
         |  ORDER BY rel DESC, id ASC LIMIT $n
         |)""".stripMargin
    val steps = (1 to k).flatMap { i =>
      // s_i and pool_i are each referenced twice (the output UNION /
      // the next pool) — un-materialized, DuckDB re-evaluates the whole
      // upstream chain per reference and the k=10 board query cost 31 s;
      // MATERIALIZED everywhere makes it 0.05 s, rows identical
      val pick = s"s$i AS MATERIALIZED (SELECT id, rel, v, " +
        duckR6(s"$lam*rel - ${1.0 - lam}*maxs") + " AS mmr " +
        s"FROM pool$i ORDER BY mmr DESC, id ASC LIMIT 1)"
      if (i < k)
        Seq(pick,
            s"pool${i + 1} AS (SELECT p.id, p.rel, p.v, " +
              s"greatest(p.maxs, ${duckR6(duckCos("p.v", "s.v"))}) " +
              s"AS maxs FROM pool$i p, s$i s WHERE p.id <> s.id)")
      else Seq(pick)
    }
    val out = (1 to k).map(i =>
      s"SELECT ${i - 1} AS rank, id AS vec_id, rel, mmr FROM s$i")
    (Seq(head) ++ steps).mkString(",\n") + "\n" +
      out.mkString("\nUNION ALL ")
  }

  private val mmrOracle: String = mmrOracleGen(0L, 0.5, 20, 10)

  /** q_bpe_vocab twin: 16 unrolled BPE merge rounds. The engine's
    * left-to-right greedy merge fold ("a symbol just produced does not
    * re-merge", Bpe.mergePair) has an exact positional equivalent: a
    * match position is TAKEN iff its offset within its maximal run of
    * consecutive match positions is even — so each round is pair-count
    * → argmax (freq desc, left, right — the engine's tie order) →
    * gaps-and-islands over match positions → rebuild. Round CTEs are
    * MATERIALIZED: wf{i} is referenced three times per round, and
    * inlined expansion grows 3^16 (measured: DuckDB exhausts file
    * handles); materialization is also the semantic twin of the
    * engine's per-round localCheckpoint. Early-stop (fully fused
    * corpus) never fires at 16 merges on this fixture.
    */
  private val (bpeOracle, bpeEncodeOracle): (String, String) = {
    val k = 16
    def rnd(i: Int): String =
      s"""p$i AS MATERIALIZED (
         |  SELECT s.sym[j] AS l, s.sym[j+1] AS r, sum(s.cnt) AS freq
         |  FROM wf$i s, LATERAL (SELECT unnest(range(1, len(s.sym))) AS j)
         |  GROUP BY 1, 2),
         |b$i AS MATERIALIZED (SELECT l, r FROM p$i
         |  ORDER BY freq DESC, l ASC, r ASC LIMIT 1),
         |e$i AS (SELECT s.rn AS wid, s.word, s.cnt, j.j AS pos,
         |    s.sym[j.j] AS sym,
         |    CASE WHEN j.j < len(s.sym) AND s.sym[j.j] = b.l
         |          AND s.sym[j.j+1] = b.r THEN 1 ELSE 0 END AS m
         |  FROM wf$i s, b$i b,
         |       LATERAL (SELECT unnest(range(1, len(s.sym)+1)) AS j) j),
         |g$i AS (SELECT *, pos - row_number()
         |    OVER (PARTITION BY wid, m ORDER BY pos) AS grp FROM e$i),
         |v$i AS (SELECT *, CASE WHEN m = 1 AND
         |      (pos - min(pos) OVER (PARTITION BY wid, grp, m)) % 2 = 0
         |    THEN 1 ELSE 0 END AS valid FROM g$i),
         |x$i AS (SELECT wid, word, cnt, pos,
         |    CASE WHEN valid = 1 THEN sym ||
         |      lead(sym) OVER (PARTITION BY wid ORDER BY pos)
         |    ELSE sym END AS osym,
         |    CASE WHEN lag(valid) OVER (PARTITION BY wid ORDER BY pos) = 1
         |    THEN 1 ELSE 0 END AS consumed
         |  FROM v$i),
         |wf${i + 1} AS MATERIALIZED (SELECT row_number() OVER () AS rn,
         |    any_value(word) AS word, list(osym ORDER BY pos) AS sym,
         |    any_value(cnt) AS cnt
         |  FROM x$i WHERE consumed = 0 GROUP BY wid)""".stripMargin
    val head =
      """WITH wrds AS (
        |  SELECT word, count(*) AS cnt FROM (
        |    SELECT unnest(list_filter(string_split_regex(trim(text),
        |                                                 '\s+'),
        |                              x -> x <> '')) AS word
        |    FROM documents) GROUP BY 1),
        |wf0 AS MATERIALIZED (SELECT row_number() OVER () AS rn, word,
        |    list_transform(range(1, len(word)+1),
        |                   i -> substr(word, CAST(i AS INT), 1)) AS sym,
        |    cnt
        |  FROM wrds)""".stripMargin
    val out = (0 until k).map { i =>
      s"""SELECT $i AS rank, b.l AS "left", b.r AS "right",
         |CAST(p.freq AS BIGINT) AS freq
         |FROM b$i b JOIN p$i p ON p.l = b.l AND p.r = b.r""".stripMargin
    }.mkString("\nUNION ALL ")
    val chain = (Seq(head) ++ (0 until k).map(rnd)).mkString(",\n")
    (chain + "\n" + out,
     chain + ",\n" +
       s"""tk2 AS (SELECT doc_id,
          |    list_filter(string_split_regex(trim(text), '\\s+'),
          |                x -> x <> '') AS toks
          |  FROM documents WHERE text IS NOT NULL),
          |tok AS (SELECT doc_id, i, toks[i] AS word
          |        FROM tk2, unnest(range(1, len(toks)+1)) AS u(i)
          |        WHERE len(toks) > 0),
          |enc AS (SELECT word, sym FROM wf$k),
          |fl AS (SELECT t.doc_id, t.i, j.j, e.sym[j.j] AS s
          |       FROM tok t JOIN enc e USING (word),
          |            LATERAL (SELECT unnest(range(1, len(e.sym)+1))
          |                     AS j) j)
          |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bpe,
          |       array_to_string(list(s ORDER BY i, j), ' ') AS bpe_text
          |FROM fl GROUP BY 1""".stripMargin)
  }

  /** Shared by the HLL timeline pair (q_user_sketch / q_sketch_append):
    * exact daily distincts + running distinct (cumulative sum of
    * first-appearance counts), and the tolerance flags asserted TRUE —
    * see the oracleSql comment for why that certifies the estimates.
    */
  private val userSketchOracle: String =
    """WITH byday AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
      |               FROM events WHERE user_id IS NOT NULL),
      |daily AS (SELECT day, count(*) AS exact_daily
      |          FROM byday GROUP BY 1),
      |firsts AS (SELECT user_id, min(day) AS day FROM byday GROUP BY 1),
      |nnew AS (SELECT day, count(*) AS n FROM firsts GROUP BY 1)
      |SELECT strftime(d.day, '%Y-%m-%d') AS day,
      |       d.exact_daily,
      |       CAST(sum(coalesce(nn.n, 0)) OVER (ORDER BY d.day)
      |            AS BIGINT) AS exact_to_date,
      |       TRUE AS daily_est_ok, TRUE AS cum_est_ok
      |FROM daily d LEFT JOIN nnew nn ON nn.day = d.day""".stripMargin

  private val valueSketchOracle: String =
    """WITH gb AS (SELECT event_type,
        |                   CAST(ceil(round(ln(value) /
        |                                     ln((1.0+0.01)/(1.0-0.01))
        |                                   * 1e9) / 1e9) AS BIGINT) AS b,
        |                   count(*) AS c
        |            FROM events WHERE value > 0
        |            GROUP BY 1, 2),
        |tot AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS n
        |        FROM gb GROUP BY 1),
        |cum AS (SELECT event_type, b,
        |               sum(c) OVER (PARTITION BY event_type
        |                            ORDER BY b) AS cc
        |        FROM gb),
        |pick AS (SELECT cum.event_type,
        |                min(CASE WHEN cc >= greatest(1, ceil(0.5 * n))
        |                         THEN b END) AS b50,
        |                min(CASE WHEN cc >= greatest(1, ceil(0.95 * n))
        |                         THEN b END) AS b95,
        |                min(CASE WHEN cc >= greatest(1, ceil(0.99 * n))
        |                         THEN b END) AS b99
        |         FROM cum JOIN tot USING (event_type)
        |         GROUP BY 1)
        |SELECT event_type,
        |       round(2 * power((1.0+0.01)/(1.0-0.01), b50) /
        |             ((1.0+0.01)/(1.0-0.01) + 1.0), 6) AS p50,
        |       round(2 * power((1.0+0.01)/(1.0-0.01), b95) /
        |             ((1.0+0.01)/(1.0-0.01) + 1.0), 6) AS p95,
        |       round(2 * power((1.0+0.01)/(1.0-0.01), b99) /
        |             ((1.0+0.01)/(1.0-0.01) + 1.0), 6) AS p99
        |FROM pick""".stripMargin

  /** Parameterized top-k-per-group twin (board: k=3 by l_returnflag on
    * l_extendedprice; the fuzzer sweeps k/group/order). Tie-break is
    * always (l_orderkey, l_linenumber) — the deterministic total order
    * both physical strategies (window and bounded-buffer Aggregator)
    * promise.
    */
  private[graft] def topkOracleGen(k: Int, grp: String, ord: String): String =
    s"""SELECT $grp, rn, l_orderkey, l_linenumber, $ord
       |FROM (
       |  SELECT $grp, l_orderkey, l_linenumber, $ord,
       |         CAST(row_number() OVER (
       |           PARTITION BY $grp
       |           ORDER BY $ord DESC, l_orderkey ASC,
       |                    l_linenumber ASC) AS INTEGER) AS rn
       |  FROM lineitem)
       |WHERE rn <= $k""".stripMargin

  private val topkOracle: String =
    topkOracleGen(3, "l_returnflag", "l_extendedprice")

  /** Shared truth for both near-dup joins: exact 12-gram Jaccard ≥ 0.7.
    * q_ngram_jaccard reaches it by prefix filtering, q_minhash_lsh by
    * LSH banding + exact verification — different physical strategies,
    * identical result contract.
    */
  /** Shared CTE prefix: exact 12-gram Jaccard pair truth (J ≥ 0.7) as a
    * `pairs` relation — the ground truth for q_ngram_jaccard,
    * q_minhash_lsh, and the cluster oracle built on top of it.
    */
  /** Parameterized form of the pair-truth CTE — ONE definition serves
    * the board (n=12, τ=0.7 over `documents`) and the differential
    * fuzzer (`tools.Fuzz`), which sweeps (n, τ, fixture slice); a
    * second hand-written copy could drift from the board contract.
    * `rel` may be a bare table or an unaliased subquery slice.
    */
  private[graft] def jaccardPairsCteGen(n: Int, tau: Double,
                                        rel: String): String = {
    val n1 = n - 1
    s"""WITH idx AS (SELECT unnest(range(1,
       |    (SELECT CAST(max(len(text)) AS BIGINT) FROM $rel))) AS i),
       |sh AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INTEGER), $n) AS s
       |       FROM $rel JOIN idx ON i <= len(text)-$n1),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
       |           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
       |           GROUP BY 1,2),
       |pairs AS (SELECT id_a, id_b,
       |                 round(CAST(c AS DOUBLE)/(sa.n + sb.n - c), 6)
       |                   AS jaccard
       |          FROM common JOIN sizes sa ON sa.doc_id = id_a
       |                      JOIN sizes sb ON sb.doc_id = id_b
       |          WHERE CAST(c AS DOUBLE)/(sa.n + sb.n - c) >= $tau)""".stripMargin
  }

  private val jaccardPairsCte: String = jaccardPairsCteGen(12, 0.7, "documents")

  private val jaccardOracle: String =
    jaccardPairsCte + "\nSELECT id_a, id_b, jaccard FROM pairs"

  /** The q_leakage_audit truth: the shared jaccard pair CTE joined with
    * the q_train_split CASE — pairs whose members hash to different
    * splits.
    */
  private val leakageAuditOracle: String =
    jaccardPairsCte +
      """,
        |sp AS (SELECT doc_id,
        |              CASE WHEN substr(md5(text), 1, 1) < 'e' THEN 'train'
        |                   WHEN substr(md5(text), 1, 1) = 'e' THEN 'val'
        |                   ELSE 'test' END AS split
        |       FROM documents)
        |SELECT p.id_a, p.id_b, p.jaccard,
        |       coalesce(sa.split, 'unsplit') AS split_a,
        |       coalesce(sb.split, 'unsplit') AS split_b
        |FROM pairs p LEFT JOIN sp sa ON sa.doc_id = p.id_a
        |             LEFT JOIN sp sb ON sb.doc_id = p.id_b
        |WHERE coalesce(sa.split, 'unsplit')
        |      <> coalesce(sb.split, 'unsplit')""".stripMargin

  /** Brute-force cosine top-10 for probe 0 — the contract of BOTH
    * q_cosine_topk (the direct exact twin) and q_reindex (served at
    * nprobe = nlist off the rebuilt index, which must equal it).
    */
  /** Parameterized brute-force cosine top-k twin (board: probe 0,
    * k=10 — shared by q_cosine_topk and q_reindex; the fuzzer sweeps
    * probe id and k).
    */
  private[graft] def cosineTopkOracleGen(probe: Long, k: Int): String =
    s"""WITH flat AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
       |                     generate_subscripts(embedding,1) AS i
       |              FROM embeddings),
       |lens AS (SELECT vec_id, coalesce(len(embedding), 0) AS l
       |         FROM embeddings),
       |norms AS (SELECT vec_id, sqrt(sum(v*v)) AS nrm FROM flat GROUP BY 1),
       |probe AS (SELECT i, v FROM flat WHERE vec_id = $probe),
       |plen AS (SELECT l FROM lens WHERE vec_id = $probe),
       |pnorm AS (SELECT nrm FROM norms WHERE vec_id = $probe),
       |dots AS (SELECT f.vec_id, sum(f.v*p.v) AS dot
       |         FROM flat f JOIN probe p ON f.i = p.i
       |         WHERE f.vec_id <> $probe GROUP BY 1)
       |SELECT d.vec_id,
       |       round(d.dot/(n.nrm*(SELECT nrm FROM pnorm)), 6) AS sim
       |FROM dots d JOIN norms n ON n.vec_id = d.vec_id
       |JOIN lens dl ON dl.vec_id = d.vec_id
       |WHERE dl.l = (SELECT l FROM plen) AND n.nrm > 0
       |ORDER BY round(d.dot/(n.nrm*(SELECT nrm FROM pnorm)), 6) DESC,
       |         d.vec_id ASC
       |LIMIT $k""".stripMargin

  private val cosineTopkOracle: String = cosineTopkOracleGen(0L, 10)

  /** Recursive min-label transitive closure over a pair relation
    * (id_a, id_b) — the `reach` fixpoint terminates because the
    * distinct-UNION is over finite reachability. ONE definition shared
    * by the cluster oracle and the corpus-flagship oracle so the two
    * can never drift on the clustering contract; callers must open
    * their WITH as `WITH RECURSIVE`.
    */
  private def closureCtes(pairsRel: String): String =
    s"""edges AS (SELECT id_a AS u, id_b AS v FROM $pairsRel
       |          UNION SELECT id_b, id_a FROM $pairsRel),
       |verts AS (SELECT DISTINCT u AS id FROM edges),
       |reach AS (SELECT id, id AS lbl FROM verts
       |          UNION
       |          SELECT r.id, e.v AS lbl
       |          FROM reach r JOIN edges e ON e.u = r.lbl)""".stripMargin

  /** Shared span CTE chain: positional n-char grams over two relations
    * → anchor join on gram equality (+ `pairCond`) → diagonal
    * gaps-and-islands → maximal spans as `sp (id_a, id_b, diag, pa0,
    * span_len)`. ONE definition behind all three span oracles
    * (q_substring_dedup, q_span_removal, q_decontaminate_spans) so the
    * island logic can never drift between them — the curateKeptCtes
    * discipline. Callers open with `WITH ` (plus any prefix CTEs) and
    * filter `span_len` themselves.
    */
  private[graft] def spanCtes(n: Int, docsA: String, docsB: String,
                              pairCond: String): String = {
    val n1 = n - 1
    s"""ga AS (SELECT doc_id,
       |         unnest(generate_series(1,
       |           greatest(len(text) - $n1, 0))) AS pos, text
       |       FROM $docsA),
       |ga2 AS (SELECT doc_id, CAST(pos AS INTEGER) AS pos,
       |               substr(text, CAST(pos AS INTEGER), $n) AS s
       |        FROM ga),
       |gb AS (SELECT doc_id,
       |         unnest(generate_series(1,
       |           greatest(len(text) - $n1, 0))) AS pos, text
       |       FROM $docsB),
       |gb2 AS (SELECT doc_id, CAST(pos AS INTEGER) AS pos,
       |               substr(text, CAST(pos AS INTEGER), $n) AS s
       |        FROM gb),
       |anch AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |                a.pos AS pa, a.pos - b.pos AS diag
       |         FROM ga2 a JOIN gb2 b
       |           ON a.s = b.s AND $pairCond),
       |isl AS (SELECT id_a, id_b, diag, pa,
       |               pa - row_number() OVER (
       |                 PARTITION BY id_a, id_b, diag ORDER BY pa)
       |                 AS island
       |        FROM anch),
       |sp AS (SELECT id_a, id_b, diag, min(pa) AS pa0,
       |              count(*) + $n1 AS span_len
       |       FROM isl GROUP BY id_a, id_b, diag, island)""".stripMargin
  }

  /** Shared CTE chain: exact dedup (min-id survivor per md5 fingerprint)
    * → exact 12-gram Jaccard ≥ 0.7 pairs → transitive closure → near-dup
    * drops → `kept` — the relational truth of CorpusPipeline.curate
    * BEFORE the language/token-floor gates. q_corpus_pipeline selects
    * its enrichment columns from `kept`; q_export_pipeline chains the
    * split/chunk/pack census on top.
    */
  private val curateKeptCtes: String =
    """WITH RECURSIVE dedup1 AS (
      |  SELECT * FROM (SELECT d.*, row_number() OVER (
      |      PARTITION BY md5(text) ORDER BY doc_id) AS rn
      |    FROM documents d) WHERE rn = 1),
      |idx AS (SELECT unnest(range(1,
      |    (SELECT CAST(max(len(text)) AS BIGINT) FROM dedup1))) AS i),
      |sh AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INTEGER), 12)
      |         AS s
      |       FROM dedup1 JOIN idx ON i <= len(text)-11),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
      |           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      |           GROUP BY 1,2),
      |prs AS (SELECT id_a, id_b
      |        FROM common JOIN sizes sa ON sa.doc_id = id_a
      |                    JOIN sizes sb ON sb.doc_id = id_b
      |        WHERE CAST(c AS DOUBLE)/(sa.n + sb.n - c) >= 0.7),
      |""".stripMargin + closureCtes("prs") + """,
      |drops AS (SELECT id AS id_b FROM reach
      |          GROUP BY id HAVING id <> min(lbl)),
      |kept AS (SELECT * FROM dedup1
      |         WHERE doc_id NOT IN (SELECT id_b FROM drops))""".stripMargin

  /** The export-pipeline census: survivors (the curate truth) → the
    * md5(doc_id) split coin (valid BECAUSE every survivor is its
    * component's canonical minimum — the Spark side computes the split
    * through the full pair-graph closure, so the compare cross-checks
    * that theorem) → 50/10 token chunking → per-(split, lang) 512-token
    * packing → per-split census.
    */
  private val exportPipelineOracle: String =
    curateKeptCtes + """,
      |surv AS (SELECT doc_id, lang, text FROM kept
      |         WHERE lang = 'en'
      |           AND len(list_filter(string_split_regex(trim(text),'\s+'),
      |                               x -> x <> '')) >= 20),
      |spl AS (SELECT doc_id, lang, text,
      |          CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) < 'e'
      |                 THEN 'train'
      |               WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = 'e'
      |                 THEN 'val'
      |               ELSE 'test' END AS split
      |        FROM surv),
      |tk AS (SELECT doc_id, lang, split,
      |         list_filter(string_split_regex(trim(text), '\s+'),
      |                     x -> x <> '') AS toks
      |       FROM spl WHERE text IS NOT NULL),
      |cidx AS (SELECT unnest(range(0,
      |    (SELECT CAST(max(len(toks)) AS BIGINT) FROM tk), 40)) AS s),
      |chk AS (SELECT doc_id, lang, split, CAST(s // 40 AS BIGINT)
      |            AS chunk_idx,
      |          CAST(least(len(toks) - s, 50) AS BIGINT) AS chunk_tokens
      |        FROM tk JOIN cidx ON (s = 0 OR s < len(toks) - 10)),
      |packed AS (SELECT split, lang, doc_id, chunk_tokens,
      |             sum(chunk_tokens) OVER (
      |               PARTITION BY split, lang ORDER BY doc_id, chunk_idx
      |               ROWS UNBOUNDED PRECEDING) AS cum
      |           FROM chk),
      |binned AS (SELECT split, lang, doc_id, chunk_tokens,
      |             CAST((cum - chunk_tokens) // 512 AS BIGINT) AS bin
      |           FROM packed)
      |SELECT split, count(*) AS n_chunks, count(DISTINCT doc_id) AS n_docs,
      |       count(DISTINCT bin) AS n_bins,
      |       CAST(sum(chunk_tokens) AS BIGINT) AS n_tokens
      |FROM binned GROUP BY 1""".stripMargin

  /** Connected components of the pair graph → per-cluster summary. */
  private val dupClustersOracle: String =
    jaccardPairsCte.replaceFirst("WITH ", "WITH RECURSIVE ") + ",\n" +
      closureCtes("pairs") +
      """,
        |comp AS (SELECT id, min(lbl) AS comp FROM reach GROUP BY id)
        |SELECT comp AS cluster_id, count(*) AS cluster_size,
        |       array_to_string(list(id ORDER BY id), ',') AS members
        |FROM comp GROUP BY comp""".stripMargin

  /** Cluster-coherent split census: every near-dup component (min-id
    * key, singletons keyed by their own id) draws ONE md5 coin over the
    * key's decimal string — the same closure truth as the cluster
    * oracle, then the trainSplit hex-digit partition on the cluster key.
    */
  /** Shared by q_decontaminate and q_decontaminate_bloom — the Bloom
    * screen is contract-identical to the exact join, so one oracle
    * definition serves both (the spanCtes/curateKeptCtes no-drift
    * discipline).
    */
  /** Parameterized q_cosine_pairs twin (board: τ=0.45). A pair is only
    * DEFINED between same-dimension positive-norm vectors — the
    * engine's cosine is null otherwise (degenerates can never pair);
    * without the explicit conditions a dim-mismatched pair would score
    * its index-overlap in SQL and spuriously pass τ.
    */
  private[graft] def cosinePairsOracleGen(tau: Double): String =
    s"""WITH flat AS (SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS v,
       |                     generate_subscripts(embedding,1) AS i
       |              FROM embeddings),
       |lens AS (SELECT vec_id, coalesce(len(embedding), 0) AS l
       |         FROM embeddings),
       |norms AS (SELECT vec_id, sqrt(sum(v*v)) AS nrm FROM flat GROUP BY 1),
       |dots AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.v*b.v) AS dot
       |         FROM flat a JOIN flat b ON a.i = b.i AND a.vec_id < b.vec_id
       |         GROUP BY 1,2)
       |SELECT id_a, id_b, round(dot/(na.nrm*nb.nrm), 6) AS sim
       |FROM dots JOIN norms na ON na.vec_id = id_a
       |          JOIN norms nb ON nb.vec_id = id_b
       |          JOIN lens la ON la.vec_id = id_a
       |          JOIN lens lb ON lb.vec_id = id_b
       |WHERE la.l = lb.l AND na.nrm > 0 AND nb.nrm > 0
       |  AND dot/(na.nrm*nb.nrm) >= $tau""".stripMargin

  /** Parameterized q_line_dedup twin (board: minDocs=2, minChars=1). */
  private[graft] def lineDedupOracleGen(minDocs: Int,
                                        minChars: Int = 1): String =
    s"""WITH lines AS (
       |  SELECT doc_id,
       |    CAST(generate_subscripts(string_split(text, chr(10)), 1) - 1
       |      AS BIGINT) AS pos,
       |    unnest(string_split(text, chr(10))) AS line
       |  FROM documents),
       |stats AS (SELECT line, min(doc_id) AS fd
       |          FROM lines WHERE len(trim(line)) >= $minChars
       |          GROUP BY 1
       |          HAVING count(DISTINCT doc_id) >= $minDocs),
       |fp AS (SELECT s.line, s.fd, min(l.pos) AS fpos
       |       FROM stats s JOIN lines l
       |         ON l.line = s.line AND l.doc_id = s.fd
       |       GROUP BY 1, 2),
       |kept AS (SELECT l.doc_id, l.pos, l.line
       |         FROM lines l LEFT JOIN fp f ON l.line = f.line
       |         WHERE f.line IS NULL
       |            OR (l.doc_id = f.fd AND l.pos = f.fpos)),
       |ka AS (SELECT doc_id, count(*) AS n_kept,
       |              string_agg(line, chr(10) ORDER BY pos) AS clean
       |       FROM kept GROUP BY 1)
       |SELECT d.doc_id,
       |       CAST(len(string_split(d.text, chr(10))) AS BIGINT)
       |         AS n_lines,
       |       CAST(len(string_split(d.text, chr(10)))
       |            - coalesce(k.n_kept, 0) AS BIGINT) AS n_removed,
       |       CASE WHEN d.text IS NULL THEN NULL
       |            ELSE coalesce(k.clean, '') END AS clean_text
       |FROM documents d LEFT JOIN ka k ON k.doc_id = d.doc_id""".stripMargin

  /** Parameterized q_semantic_decon twin (board: τ=0.4). */
  private[graft] def semDeconOracleGen(tau: Double): String =
    s"""WITH flat AS (SELECT vec_id, label,
        |                     CAST(unnest(embedding) AS DOUBLE) AS v,
        |                     generate_subscripts(embedding, 1) AS i
        |              FROM embeddings),
        |norms AS (SELECT vec_id, sqrt(sum(v*v)) AS nrm
        |          FROM flat GROUP BY 1),
        |dots AS (SELECT cf.vec_id AS cid, bf.vec_id AS bid,
        |                sum(cf.v * bf.v) AS dot
        |         FROM flat cf JOIN flat bf ON cf.i = bf.i
        |         WHERE cf.label <> 0 AND bf.label = 0
        |         GROUP BY 1, 2),
        |lens AS (SELECT vec_id, coalesce(len(embedding), 0) AS l
        |         FROM embeddings),
        |sims AS (SELECT cid, bid, dot / (cn.nrm * bn.nrm) AS sim
        |         FROM dots
        |         JOIN norms cn ON cn.vec_id = cid
        |         JOIN norms bn ON bn.vec_id = bid
        |         JOIN lens cl ON cl.vec_id = cid
        |         JOIN lens bl ON bl.vec_id = bid
        |         WHERE cl.l = bl.l AND cn.nrm > 0 AND bn.nrm > 0),
        |ranked AS (SELECT cid, bid, sim,
        |                  row_number() OVER (PARTITION BY cid
        |                                     ORDER BY sim DESC, bid ASC)
        |                    AS rn
        |           FROM sims)
        |SELECT cid AS vec_id, bid AS bench_id, round(sim, 6) AS max_sim
        |FROM ranked WHERE rn = 1 AND sim >= $tau""".stripMargin

  /** Parameterized q_fuzzy_pairs twin (board: τ=0.8). */
  private[graft] def fuzzyOracleGen(tau: Double): String =
    s"""WITH names AS (SELECT DISTINCT p_name AS name FROM part
       |               WHERE p_name IS NOT NULL),
       |b AS (SELECT name, lower(string_split(name, ' ')[-1]) AS blk
       |      FROM names)
       |SELECT a.name AS name_a, c.name AS name_b,
       |       round(jaro_winkler_similarity(a.name, c.name), 6) AS jw
       |FROM b a JOIN b c ON a.blk = c.blk AND a.name < c.name
       |WHERE round(jaro_winkler_similarity(a.name, c.name), 6)
       |      >= $tau""".stripMargin

  /** Parameterized q_edit_pairs twin (board: d=2). */
  private[graft] def editOracleGen(d: Int): String =
    s"""WITH names AS (SELECT DISTINCT p_name AS name FROM part
       |               WHERE p_name IS NOT NULL)
       |SELECT a.name AS name_a, b.name AS name_b,
       |       CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
       |FROM names a JOIN names b ON a.name < b.name
       |WHERE levenshtein(a.name, b.name) <= $d""".stripMargin

  /** Parameterized q_winsorize twin (board: 0.05/0.95). */
  private[graft] def winsorizeOracleGen(lo: Double, hi: Double): String =
    s"""WITH cuts AS (SELECT event_type,
       |         quantile_cont(value, $lo) AS lo,
       |         quantile_cont(value, $hi) AS hi
       |       FROM events WHERE value IS NOT NULL GROUP BY 1)
       |SELECT e.event_type, count(e.value) AS n_values,
       |       round(min(c.lo), 6) AS lo, round(min(c.hi), 6) AS hi,
       |       CAST(coalesce(sum(CASE WHEN e.value < c.lo
       |                               THEN 1 ELSE 0 END), 0) AS BIGINT)
       |         AS n_clipped_lo,
       |       CAST(coalesce(sum(CASE WHEN e.value > c.hi
       |                               THEN 1 ELSE 0 END), 0) AS BIGINT)
       |         AS n_clipped_hi,
       |       round(sum(CASE WHEN e.value < c.lo THEN c.lo
       |                      WHEN e.value > c.hi THEN c.hi
       |                      ELSE e.value END), 4) AS sum_w
       |FROM events e LEFT JOIN cuts c
       |  ON e.event_type IS NOT DISTINCT FROM c.event_type
       |GROUP BY 1""".stripMargin

  /** Parameterized q_stratified_sample twin (board: k=20). */
  private[graft] def stratifiedOracleGen(k: Int): String =
    s"""SELECT source, doc_id FROM (
       |  SELECT source, doc_id, row_number() OVER (
       |    PARTITION BY source
       |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
       |  FROM documents)
       |WHERE rn <= $k""".stripMargin

  /** Parameterized q_heavy_grams twin (board: n=12, minDf=10). */
  private[graft] def heavyGramsOracleGen(n: Int, minDf: Long): String = {
    val n1 = n - 1
    s"""WITH idx AS (SELECT unnest(range(1,
       |    (SELECT CAST(max(len(text)) AS BIGINT) FROM documents))) AS i),
       |sh AS (SELECT DISTINCT doc_id,
       |              substr(text, CAST(i AS INTEGER), $n) AS gram
       |       FROM documents JOIN idx ON i <= len(text)-$n1)
       |SELECT gram, count(*) AS df
       |FROM sh GROUP BY 1 HAVING count(*) >= $minDf""".stripMargin
  }

  /** Parameterized q_token_budget twin (board: 10000 tokens, seed 42). */
  private[graft] def tokenBudgetOracleGen(budget: Long,
                                          seed: String): String =
    s"""WITH tk AS (
       |  SELECT doc_id,
       |         coalesce(len(list_filter(
       |           string_split_regex(trim(text), '\\s+'),
       |           x -> x <> '')), 0) AS n_tokens
       |  FROM documents),
       |o AS (
       |  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |         row_number() OVER (
       |           ORDER BY md5('$seed|' || CAST(doc_id AS VARCHAR)), doc_id)
       |           - 1 AS pos,
       |         CAST(sum(n_tokens) OVER (
       |           ORDER BY md5('$seed|' || CAST(doc_id AS VARCHAR)), doc_id
       |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
       |  FROM tk)
       |SELECT doc_id, pos, n_tokens, cum_tokens
       |FROM o WHERE cum_tokens <= $budget""".stripMargin

  /** Parameterized q_rolling_avg twin (board: 24 h). */
  private[graft] def rollingAvgOracleGen(hours: Int): String = {
    val micros = hours * 3600000000L
    s"""SELECT event_id, user_id, CAST(epoch_ms(ts) AS BIGINT) AS ts_ms,
       |       CAST(count(value) OVER w AS BIGINT) AS trail_n,
       |       round(avg(value) OVER w, 6) AS trail_avg
       |FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
       |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
       |             RANGE BETWEEN $micros PRECEDING
       |             AND CURRENT ROW)""".stripMargin
  }

  /** Parameterized q_active_users twin (board: trailing 7 days). */
  private[graft] def activeUsersOracleGen(days: Int): String =
    s"""WITH pairs AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d
       |               FROM events
       |               WHERE user_id IS NOT NULL AND ts IS NOT NULL),
       |obs AS (SELECT DISTINCT d FROM pairs),
       |contrib AS (SELECT u, d + CAST(k AS INTEGER) AS d
       |            FROM pairs, (SELECT unnest(range(0, $days)) AS k)),
       |wau AS (SELECT c.d, count(DISTINCT u) AS wau
       |        FROM contrib c JOIN obs ON obs.d = c.d GROUP BY 1),
       |dau AS (SELECT d, count(*) AS dau FROM pairs GROUP BY 1)
       |SELECT strftime(d, '%Y-%m-%d') AS day,
       |       CAST(dau AS BIGINT) AS dau, CAST(wau AS BIGINT) AS wau,
       |       round(CAST(dau AS DOUBLE) / wau, 6) AS stickiness
       |FROM dau JOIN wau USING (d)""".stripMargin

  /** Parameterized shard-census twin (board q_shard_export: 8 shards,
    * seed 42 — the fuzz family censuses shardAssign directly, no sink).
    */
  private[graft] def shardCensusOracleGen(nShards: Int,
                                          seed: String): String =
    s"""WITH tk AS (
       |  SELECT doc_id,
       |         coalesce(len(list_filter(
       |           string_split_regex(trim(text), '\\s+'),
       |           x -> x <> '')), 0) AS n_tokens
       |  FROM documents),
       |o AS (
       |  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
       |         CAST(coalesce(sum(n_tokens) OVER (
       |           ORDER BY md5('$seed|' || CAST(doc_id AS VARCHAR)), doc_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |           AS BIGINT) AS cum_before,
       |         CAST((SELECT sum(n_tokens) FROM tk) AS BIGINT) AS total
       |  FROM tk)
       |SELECT least(cum_before * $nShards // total, ${nShards - 1})
       |         AS shard,
       |       count(*) AS n_docs,
       |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens
       |FROM o
       |GROUP BY 1""".stripMargin

  /** Parameterized q_hopping_rollup twin (board: 60-min windows sliding
    * 30 — 2 hops per row; dur must be a multiple of slide).
    */
  private[graft] def hoppingOracleGen(durMin: Int, slideMin: Int): String = {
    require(durMin % slideMin == 0, s"dur $durMin % slide $slideMin != 0")
    val nHops = durMin / slideMin
    val slideMs = slideMin * 60000L
    s"""WITH hops AS (SELECT unnest(range(0, $nHops)) AS k),
       |e AS (SELECT ts, event_type, value FROM events
       |      WHERE ts IS NOT NULL),
       |asg AS (SELECT make_timestamp(
       |                 (epoch_ms(ts) // $slideMs - k) * ${slideMs}000)
       |               AS ws, event_type, value
       |        FROM e, hops)
       |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS win_start, event_type,
       |       count(*) AS n, round(sum(value), 4) AS v
       |FROM asg GROUP BY 1, 2""".stripMargin
  }

  /** Parameterized q_anomaly_flags twin (board: 7-day trailing base,
    * |z| >= 3).
    */
  private[graft] def anomalyOracleGen(windowDays: Int,
                                      zThreshold: Double): String = {
    val baseSec = windowDays * 86400L
    s"""WITH hourly AS (
       |  SELECT event_type, date_trunc('hour', ts) AS h, count(*) AS n
       |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
       |  GROUP BY 1, 2),
       |z AS (
       |  SELECT event_type, CAST(epoch(h) AS BIGINT) * 1000 AS hour_ms,
       |         n,
       |         CAST(count(n) OVER w AS BIGINT) AS base_n,
       |         round((n - avg(n) OVER w) /
       |               nullif(stddev_samp(n) OVER w, 0), 6) AS zscore
       |  FROM hourly
       |  WINDOW w AS (PARTITION BY event_type
       |               ORDER BY CAST(epoch(h) AS BIGINT)
       |               RANGE BETWEEN $baseSec PRECEDING
       |               AND 3600 PRECEDING))
       |SELECT event_type, hour_ms, n, base_n, zscore,
       |       abs(zscore) >= $zThreshold AS is_anomaly
       |FROM z""".stripMargin
  }

  /** Parameterized q_sessionize twin (board: gap = 30 min). Null
    * user/ts rows excluded — the engine's contract (see
    * Sessionize.batch: a null ts has no defined gap-order position and
    * the engines disagree on null placement).
    */
  private[graft] def sessionizeOracleGen(gapMinutes: Int): String = {
    val gapMs = gapMinutes * 60000L
    s"""WITH e AS (SELECT user_id, date_trunc('milliseconds', ts) AS tsm
       |           FROM events
       |           WHERE user_id IS NOT NULL AND ts IS NOT NULL),
       |l AS (SELECT user_id, tsm,
       |        lag(tsm) OVER (PARTITION BY user_id ORDER BY tsm) AS prev
       |      FROM e),
       |m AS (SELECT user_id, tsm,
       |        CASE WHEN prev IS NULL
       |               OR epoch_ms(tsm) - epoch_ms(prev) > $gapMs
       |             THEN 1 ELSE 0 END AS new_session
       |      FROM l),
       |s AS (SELECT user_id, tsm,
       |        CAST(sum(new_session) OVER (PARTITION BY user_id
       |          ORDER BY tsm ROWS UNBOUNDED PRECEDING) AS BIGINT)
       |          AS session_seq
       |      FROM m)
       |SELECT user_id, session_seq,
       |       epoch_ms(min(tsm)) AS session_start_ms,
       |       epoch_ms(max(tsm)) AS session_end_ms,
       |       count(*) AS n_events
       |FROM s GROUP BY 1, 2""".stripMargin
  }

  /** Parameterized q_interval_join twin (board: δ = 2000 ms). */
  private[graft] def intervalJoinOracleGen(deltaMs: Long): String =
    s"""WITH e AS (SELECT event_id,
       |                  date_trunc('milliseconds', ts) AS ets
       |           FROM events)
       |SELECT a.event_id AS id_a, b.event_id AS id_b,
       |       epoch_ms(b.ets) - epoch_ms(a.ets) AS gap_ms
       |FROM e a JOIN e b
       |  ON b.ets >= a.ets
       | AND (a.ets < b.ets OR (a.ets = b.ets AND a.event_id < b.event_id))
       | AND b.ets <= a.ets + INTERVAL $deltaMs MILLISECOND""".stripMargin

  /** Parameterized q_range_join twin (board: δ = 60 s). */
  private[graft] def rangeJoinOracleGen(deltaMs: Long): String =
    s"""WITH e AS (SELECT event_id,
       |             epoch_ms(date_trunc('milliseconds', ts)) AS ms
       |           FROM events)
       |SELECT count(*) AS n_pairs, round(avg(b.ms - a.ms), 6) AS avg_gap_ms
       |FROM e a JOIN e b
       |  ON (a.ms < b.ms OR (a.ms = b.ms AND a.event_id < b.event_id))
       | AND b.ms - a.ms <= $deltaMs""".stripMargin

  /** Parameterized q_chunk_docs twin (board: 50-token windows, overlap
    * 10 — stride 40). The chunk string is coalesced to '': a ZERO-token
    * document's single chunk is the join of zero tokens — '' in the
    * engine (concat_ws) — but DuckDB's array_to_string returns NULL for
    * an empty slice (r9 perturbation-fuzz finding; the board corpus has
    * no tokenless docs, so the fixture never reached the seam).
    */
  private[graft] def chunkDocsOracleGen(size: Int, overlap: Int): String = {
    val stride = size - overlap
    s"""WITH tk AS (SELECT doc_id,
       |              list_filter(string_split_regex(trim(text), '\\s+'),
       |                          x -> x <> '') AS toks
       |            FROM documents WHERE text IS NOT NULL),
       |idx AS (SELECT unnest(range(0,
       |    (SELECT CAST(max(len(toks)) AS BIGINT) FROM tk), $stride)) AS s)
       |SELECT doc_id, CAST(s // $stride AS BIGINT) AS chunk_idx,
       |       coalesce(array_to_string(toks[CAST(s+1 AS INTEGER):
       |                            CAST(s+$size AS INTEGER)], ' '), '')
       |         AS chunk,
       |       CAST(least(len(toks) - s, $size) AS BIGINT) AS chunk_tokens
       |FROM tk JOIN idx ON (s = 0 OR s < len(toks) - $overlap)""".stripMargin
  }

  /** Parameterized q_substring_dedup twin (board: n=25, minLen=50). */
  private[graft] def substringOracleGen(n: Int, minLen: Int): String =
    "WITH " + spanCtes(n, "documents", "documents",
                       "a.doc_id < b.doc_id") + s"""
      |SELECT id_a, id_b, CAST(pa0 AS INTEGER) AS start_a,
      |       CAST(pa0 - diag AS INTEGER) AS start_b, span_len
      |FROM sp WHERE span_len >= $minLen""".stripMargin

  /** Parameterized q_decontaminate_spans twin (board: n=30, minLen=60,
    * benchmark = src0).
    */
  private[graft] def deconSpansOracleGen(n: Int, minLen: Int,
                                         benchSrc: String): String =
    s"""WITH ben AS (SELECT doc_id, text FROM documents
       |            WHERE source = '$benchSrc'),
       |cor AS (SELECT doc_id, text FROM documents
       |        WHERE source <> '$benchSrc'),
       |""".stripMargin +
      spanCtes(n, "ben", "cor", "a.doc_id <> b.doc_id") + s"""
      |SELECT id_a, id_b, CAST(pa0 AS INTEGER) AS start_a,
      |       CAST(pa0 - diag AS INTEGER) AS start_b, span_len
      |FROM sp WHERE span_len >= $minLen""".stripMargin

  /** Parameterized R-S containment twin (board: 12-grams, τ=0.9,
    * snippets = chars [start, start+len) of every `mod`-th doc with
    * len(text) ≥ minTextLen, re-keyed +100000). Containment denominator
    * is the SNIPPET's gram count (asymmetric, quote-detection shape).
    */
  private[graft] def containmentOracleGen(n: Int, tau: Double, mod: Int,
                                          snipStart: Int, snipLen: Int,
                                          minTextLen: Int): String = {
    val n1 = n - 1
    s"""WITH snip AS (SELECT doc_id + 100000 AS doc_id,
       |                     substr(text, $snipStart, $snipLen) AS text
       |              FROM documents
       |              WHERE doc_id % $mod = 0 AND len(text) >= $minTextLen),
       |idx AS (SELECT unnest(range(1,
       |    (SELECT CAST(max(len(text)) AS BIGINT) FROM documents))) AS i),
       |sha AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INTEGER), $n) AS s
       |        FROM snip JOIN idx ON i <= len(text)-$n1),
       |shb AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INTEGER), $n) AS s
       |        FROM documents JOIN idx ON i <= len(text)-$n1),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sha GROUP BY 1),
       |common AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
       |           FROM sha a JOIN shb b ON a.s = b.s GROUP BY 1,2)
       |SELECT id_a, id_b, round(CAST(c AS DOUBLE)/sa.n, 6) AS containment
       |FROM common JOIN sizes sa ON sa.doc_id = id_a
       |WHERE CAST(c AS DOUBLE)/sa.n >= $tau""".stripMargin
  }

  private[graft] def decontaminateOracleGen(n: Int, benchSrc: String,
                                            minShared: Long = 1L): String = {
    val n1 = n - 1
    val having =
      if (minShared > 1L) s"\nHAVING count(*) >= $minShared" else ""
    s"""WITH idx AS (SELECT unnest(range(1,
       |    (SELECT CAST(max(len(text)) AS BIGINT) FROM documents))) AS i),
       |sh AS (SELECT DISTINCT doc_id, source,
       |              substr(text, CAST(i AS INTEGER), $n) AS s
       |       FROM documents JOIN idx ON i <= len(text)-$n1),
       |bench AS (SELECT DISTINCT s FROM sh WHERE source = '$benchSrc')
       |SELECT c.doc_id, count(*) AS shared
       |FROM sh c JOIN bench b ON c.s = b.s
       |WHERE c.source <> '$benchSrc'
       |GROUP BY 1""".stripMargin + having
  }

  private val decontaminateOracle: String = decontaminateOracleGen(30, "src0")

  private val clusterSplitOracle: String =
    jaccardPairsCte.replaceFirst("WITH ", "WITH RECURSIVE ") + ",\n" +
      closureCtes("pairs") +
      """,
        |comp AS (SELECT id, min(lbl) AS comp FROM reach GROUP BY id),
        |assigned AS (SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS ck
        |             FROM documents d LEFT JOIN comp c ON c.id = d.doc_id),
        |sp AS (SELECT ck,
        |         CASE WHEN substr(md5(CAST(ck AS VARCHAR)), 1, 1) < 'e'
        |                THEN 'train'
        |              WHEN substr(md5(CAST(ck AS VARCHAR)), 1, 1) = 'e'
        |                THEN 'val'
        |              ELSE 'test' END AS split
        |       FROM assigned)
        |SELECT split, count(*) AS n_docs, count(DISTINCT ck) AS n_clusters
        |FROM sp GROUP BY 1""".stripMargin

  // ---- r10 parameterized analytic twins (fuzz families share these
  // with the board rows — one definition, no drift) ---------------------

  /** Parameterized q_gopher_rules twin (board: the published Rae et al.
    * constants, `GopherThresholds()`'s defaults). The rule expressions
    * are fixed; only the cut literals move with the config.
    */
  private[graft] def gopherOracleGen(
      t: graft.text.TextOps.GopherThresholds): String = {
    val rules = Seq(
      s"coalesce(nw0 BETWEEN ${t.minWords} AND ${t.maxWords}, false)" ->
        "r_word_count",
      s"coalesce(sumlen / nw BETWEEN ${t.wordLenLo} AND ${t.wordLenHi}," +
        " false)" -> "r_mean_word_len",
      s"coalesce(symbols / nw <= ${t.maxSymbolRatio}, false)" ->
        "r_symbol_ratio",
      s"coalesce(bullets / nl < ${t.maxBulletFrac}, false)" ->
        "r_bullet_lines",
      s"coalesce(ellips / nl < ${t.maxEllipsisFrac}, false)" ->
        "r_ellipsis_lines",
      s"coalesce(alphas / nw >= ${t.minAlphaFrac}, false)" ->
        "r_alpha_words",
      s"coalesce(stops >= ${t.minStopwords}, false)" -> "r_stopwords")
    """WITH f AS (
      |  SELECT doc_id,
      |         list_filter(string_split_regex(trim(text), '\s+'),
      |                     x -> x <> '') AS toks,
      |         list_filter(string_split(text, chr(10)),
      |                     l -> trim(l) <> '') AS lines,
      |         text
      |  FROM documents),
      |m AS (
      |  SELECT doc_id,
      |         len(toks) AS nw0,
      |         nullif(CAST(len(toks) AS DOUBLE), 0) AS nw,
      |         nullif(CAST(len(lines) AS DOUBLE), 0) AS nl,
      |         CAST(list_sum(list_transform(toks, t -> length(t)))
      |              AS DOUBLE) AS sumlen,
      |         len(regexp_extract_all(text, '#|\.\.\.')) AS symbols,
      |         len(list_filter(lines,
      |             l -> regexp_matches(ltrim(l), '^[-*•]'))) AS bullets,
      |         len(list_filter(lines, l -> l LIKE '%...')) AS ellips,
      |         len(list_filter(toks,
      |             t -> regexp_matches(t, '[A-Za-z]'))) AS alphas,
      |         len(list_intersect(
      |             list_distinct(list_transform(toks, t -> lower(t))),
      |             ['the','be','to','of','and','that','have','with']))
      |           AS stops
      |  FROM f)
      |SELECT doc_id,
      |""".stripMargin +
      rules.map { case (e, n) => s"  $e AS $n," }.mkString("\n") + "\n" +
      rules.map(_._1).mkString("  ", "\n    AND ", " AS pass") +
      "\nFROM m"
  }

  /** Parameterized q_transitions twin (board: step 1). */
  private[graft] def transitionsOracleGen(step: Int): String =
    s"""WITH seq AS (
       |  SELECT event_type AS from_type,
       |         lead(event_type, $step) OVER (PARTITION BY user_id
       |           ORDER BY ts, event_id) AS to_type
       |  FROM events
       |  WHERE user_id IS NOT NULL AND ts IS NOT NULL
       |    AND event_type IS NOT NULL),
       |pairs AS (SELECT from_type, to_type, count(*) AS n
       |          FROM seq WHERE to_type IS NOT NULL GROUP BY 1, 2),
       |tot AS (SELECT from_type, sum(n) AS t FROM pairs GROUP BY 1)
       |SELECT p.from_type, p.to_type, CAST(p.n AS BIGINT) AS n,
       |       round(CAST(p.n AS DOUBLE) / t, 6) AS p
       |FROM pairs p JOIN tot USING (from_type)""".stripMargin

  /** Parameterized q_outage_flags twin (board: 7-day baseline, z 3.0) —
    * the gap-filled spine form of the anomaly census.
    */
  private[graft] def outageOracleGen(windowDays: Int, z: Double): String =
    s"""WITH counted AS (
       |  SELECT event_type,
       |         CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hs,
       |         count(*) AS n
       |  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL
       |  GROUP BY 1, 2),
       |span AS (SELECT min(hs) AS lo, max(hs) AS hi FROM counted),
       |spine AS (SELECT t.event_type, g.hs
       |          FROM (SELECT DISTINCT event_type FROM counted) t,
       |               span, unnest(generate_series(lo, hi, 3600))
       |                 AS g(hs)),
       |hourly AS (SELECT s.event_type, s.hs, coalesce(c.n, 0) AS n
       |           FROM spine s LEFT JOIN counted c
       |             ON c.event_type = s.event_type AND c.hs = s.hs),
       |z AS (SELECT event_type, hs * 1000 AS hour_ms, n,
       |             CAST(count(n) OVER w AS BIGINT) AS base_n,
       |             round((n - avg(n) OVER w) /
       |                   nullif(stddev_samp(n) OVER w, 0), 6) AS zscore
       |      FROM hourly
       |      WINDOW w AS (PARTITION BY event_type ORDER BY hs
       |                   RANGE BETWEEN ${windowDays * 86400} PRECEDING
       |                   AND 3600 PRECEDING))
       |SELECT event_type, CAST(hour_ms AS BIGINT) AS hour_ms,
       |       CAST(n AS BIGINT) AS n, base_n, zscore,
       |       abs(zscore) >= $z AS is_anomaly
       |FROM z""".stripMargin

  /** Parameterized q_cohort_retention twin (board: week cohorts). */
  private[graft] def cohortOracleGen(granularity: String): String = {
    val span = if (granularity == "week") 7 else 1
    s"""WITH weeks AS (SELECT DISTINCT user_id AS u,
       |                      CAST(date_trunc('$granularity', ts) AS DATE)
       |                        AS w
       |               FROM events
       |               WHERE user_id IS NOT NULL AND ts IS NOT NULL),
       |cohort AS (SELECT u, min(w) AS cw FROM weeks GROUP BY 1),
       |sizes AS (SELECT cw, count(*) AS sz FROM cohort GROUP BY 1),
       |cells AS (SELECT c.cw, CAST((w.w - c.cw) // $span AS INTEGER)
       |                   AS week_offset,
       |                 count(DISTINCT w.u) AS n_active
       |          FROM weeks w JOIN cohort c ON c.u = w.u
       |          GROUP BY 1, 2)
       |SELECT strftime(cells.cw, '%Y-%m-%d') AS cohort_week,
       |       week_offset, CAST(n_active AS BIGINT) AS n_active,
       |       CAST(sz AS BIGINT) AS cohort_size,
       |       round(CAST(n_active AS DOUBLE) / sz, 6) AS retention
       |FROM cells JOIN sizes ON sizes.cw = cells.cw""".stripMargin
  }

  /** Parameterized q_user_churn twin (board: 1-day horizon). */
  private[graft] def churnOracleGen(horizonDays: Int): String =
    s"""WITH pairs AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d
       |               FROM events
       |               WHERE user_id IS NOT NULL AND ts IS NOT NULL),
       |votes AS (SELECT u, d, 1 AS t, 0 AS y FROM pairs
       |          UNION ALL
       |          SELECT u, d + $horizonDays, 0, 1 FROM pairs),
       |per AS (SELECT d, u, max(t) AS t, max(y) AS y FROM votes
       |        GROUP BY 1, 2),
       |obs AS (SELECT DISTINCT d FROM pairs)
       |SELECT strftime(per.d, '%Y-%m-%d') AS day,
       |       CAST(sum(CASE WHEN t = 1 AND y = 0 THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_new,
       |       CAST(sum(CASE WHEN t = 1 AND y = 1 THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_retained,
       |       CAST(sum(CASE WHEN t = 0 AND y = 1 THEN 1 ELSE 0 END)
       |            AS BIGINT) AS n_churned
       |FROM per JOIN obs ON obs.d = per.d
       |GROUP BY 1""".stripMargin

  /** Parameterized q_funnel twin (board: view→click→purchase, 72 h).
    * One CTE per step: first qualifying event strictly after the
    * previous step's time, within the gap.
    */
  private[graft] def funnelOracleGen(steps: Seq[String],
                                     gapHours: Int): String = {
    val head =
      s"""WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
         |            WHERE event_type = '${steps.head}'
         |              AND user_id IS NOT NULL AND ts IS NOT NULL
         |            GROUP BY 1)""".stripMargin
    val rest = steps.zipWithIndex.drop(1).map { case (st, i) =>
      val k = i + 1
      s"""s$k AS (SELECT e.user_id, min(e.ts) AS t FROM events e
         |       JOIN s$i ON e.user_id = s$i.user_id
         |       WHERE e.event_type = '$st' AND e.ts > s$i.t
         |         AND e.ts <= s$i.t + INTERVAL $gapHours HOURS
         |       GROUP BY 1)""".stripMargin
    }
    val census = steps.zipWithIndex.map { case (st, i) =>
      if (i == 0) s"SELECT 1 AS step, '$st' AS event_type, count(*) AS n FROM s1"
      else s"SELECT ${i + 1}, '$st', count(*) FROM s${i + 1}"
    }.mkString("census AS (", "\n           UNION ALL ", ")")
    (Seq(head) ++ rest ++ Seq(census)).mkString(",\n") + """
      |SELECT c.step, c.event_type, CAST(c.n AS BIGINT) AS n_users,
      |       round(CAST(c.n AS DOUBLE) /
      |             nullif(CAST(coalesce(p.n, c.n) AS DOUBLE), 0), 6)
      |         AS conversion
      |FROM census c LEFT JOIN census p ON p.step = c.step - 1""".stripMargin
  }

  /** Parameterized q_scd2 twin (board: tier = floor(value / 40)). */
  private[graft] def scd2OracleGen(divisor: Int): String =
    s"""WITH base AS (SELECT user_id,
       |                     CAST(floor(value / $divisor) AS INTEGER)
       |                       AS tier,
       |                     ts, event_id
       |              FROM events WHERE ts IS NOT NULL),
       |marked AS (SELECT *, CASE WHEN row_number() OVER w = 1
       |                            OR tier IS DISTINCT FROM lag(tier) OVER w
       |                          THEN 1 ELSE 0 END AS opens
       |           FROM base
       |           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |v AS (SELECT user_id, tier, ts, event_id FROM marked WHERE opens = 1)
       |SELECT user_id, tier,
       |       CAST(epoch_ms(ts) AS BIGINT) AS valid_from_ms,
       |       CAST(epoch_ms(lead(ts) OVER w2) AS BIGINT) AS valid_to_ms,
       |       (lead(ts) OVER w2) IS NULL AS is_current
       |FROM v
       |WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)"""
      .stripMargin

  /** Parameterized q_attribution twin (board: channel = props.k mod 4). */
  private[graft] def attributionOracleGen(channelMod: Int): String =
    s"""WITH p AS (SELECT event_id, user_id, ts AS pts, value FROM events
       |           WHERE event_type = 'purchase'
       |             AND user_id IS NOT NULL AND ts IS NOT NULL),
       |c AS (SELECT user_id, ts AS cts, event_id AS click_id,
       |             'ch' || CAST(TRY_CAST(json_extract_string(props, '$$.k')
       |                     AS BIGINT) % $channelMod AS VARCHAR) AS channel
       |      FROM events WHERE event_type = 'click'
       |        AND user_id IS NOT NULL AND ts IS NOT NULL),
       |last_click AS (
       |  SELECT p.event_id, p.value, c.channel,
       |         row_number() OVER (PARTITION BY p.event_id
       |           ORDER BY c.cts DESC, c.click_id DESC) AS rn
       |  FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.cts <= p.pts)
       |SELECT coalesce(channel, 'direct') AS channel,
       |       count(*) AS n_purchases,
       |       round(sum(coalesce(value, 0)), 4) AS revenue
       |FROM last_click WHERE rn = 1 GROUP BY 1""".stripMargin

  /** Parameterized q_asof_join twin (board: custkey = user mod 150 + 1). */
  private[graft] def asofOracleGen(userMod: Int): String =
    s"""WITH ranked AS (
       |  SELECT e.event_id, o.o_orderkey,
       |         row_number() OVER (PARTITION BY e.event_id
       |           ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) AS rn
       |  FROM events e LEFT JOIN orders o
       |    ON o.o_custkey = (e.user_id % $userMod) + 1
       |   AND o.o_orderdate <= date_trunc('milliseconds', e.ts))
       |SELECT event_id, o_orderkey FROM ranked WHERE rn = 1""".stripMargin

  /** Parameterized q_pagerank twin (board: modulus 6, 3 iterations,
    * damping 0.85, top-25): the unrolled power iteration with both
    * sides rounding every iteration's ranks onto the shared 1e-9 grid;
    * the damping literal is emitted as text so both engines parse the
    * identical double.
    */
  private[graft] def pagerankOracleGen(modulus: Int, iters: Int,
                                       damping: Double = 0.85,
                                       limit: Int = 25): String = {
    def step(i: Int): String =
      s"""s$i AS (SELECT e.dst AS node, sum(r.pr / d.deg) AS s
         |  FROM e JOIN r${i - 1} r ON r.node = e.src
         |         JOIN deg d ON d.src = e.src
         |  GROUP BY 1),
         |r$i AS (SELECT d.src AS node,
         |    round((CAST(1.0 AS DOUBLE) - CAST($damping AS DOUBLE)) / nn.n
         |          + CAST($damping AS DOUBLE) * coalesce(s.s, CAST(0.0 AS DOUBLE)),
         |          9) AS pr
         |  FROM deg d CROSS JOIN nn LEFT JOIN s$i s ON s.node = d.src)""".stripMargin
    val head =
      s"""WITH li AS (SELECT l_orderkey AS ok, l_partkey AS pk
         |            FROM lineitem WHERE l_orderkey % $modulus = 0),
         |e0 AS (SELECT DISTINCT a.pk AS src, b.pk AS dst
         |       FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
         |e AS (SELECT src, dst FROM e0
         |      UNION ALL SELECT dst AS src, src AS dst FROM e0),
         |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM deg),
         |r0 AS (SELECT src AS node, round(CAST(1.0 AS DOUBLE) / nn.n, 9) AS pr
         |       FROM deg CROSS JOIN nn)""".stripMargin
    (Seq(head) ++ (1 to iters).map(step)).mkString(",\n") + "\n" +
      s"SELECT node AS part_key, pr FROM r$iters" +
      s" ORDER BY pr DESC, node ASC LIMIT $limit"
  }
}
