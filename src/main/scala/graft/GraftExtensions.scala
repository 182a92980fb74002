package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions._

/** SparkSessionExtensions entry point: registers graft's native
  * expressions in the SQL function registry, so SQL-surface users get the
  * same codegen'd fast path as the Column API. A session gets them from
  * its builder's `.withExtensions(new GraftExtensions)` or
  * `.config("spark.sql.extensions", "graft.GraftExtensions")`, or on a
  * live session from `registerAll` (what `Session.local` calls):
  *
  *   spark.sql("SELECT simhash64(split(text,' ')), rolling_hash(text),
  *              cosine_sim(a, b), dot_product(a, b),
  *              shingle_hashes(text, 12) ... ")
  *
  * No custom optimizer rules or strategies are injected — SURVEY §4.1:
  * every rewrite the reference relies on (pushdown, pruning, partition
  * pruning, constant folding) is already Catalyst's, and hand-rolling a
  * planner path we don't need would only hide those.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "built-in")

  private def register(
      e: SparkSessionExtensions, name: String, usage: String, arity: Int)(
      build: Seq[Expression] => Expression): Unit =
    e.injectFunction((FunctionIdentifier(name), info(name, usage),
      (exprs: Seq[Expression]) => {
        require(exprs.length == arity,
          s"$name expects $arity arguments, got ${exprs.length}")
        build(exprs)
      }))

  override def apply(e: SparkSessionExtensions): Unit = {
    register(e, "simhash64",
      "simhash64(tokens) - 64-bit SimHash of a string array", 1) {
      exprs => SimHash64(exprs.head, TextExpressions.Seed)
    }
    register(e, "rolling_hash",
      "rolling_hash(str) - base-31 polynomial hash of UTF-8 bytes", 1) {
      exprs => RollingHash(exprs.head)
    }
    register(e, "deflate_len",
      "deflate_len(str) - deflate byte count of UTF-8 bytes " +
        "(compression-ratio quality signal)", 1) {
      exprs => DeflateLen(exprs.head)
    }
    register(e, "cosine_sim",
      "cosine_sim(a, b) - cosine similarity of two float/double arrays", 2) {
      exprs => CosineSimilarity(exprs(0), exprs(1))
    }
    register(e, "jaro_winkler",
      "jaro_winkler(a, b) - Jaro-Winkler similarity (DuckDB-identical)",
      2) {
      exprs => JaroWinkler(exprs(0), exprs(1))
    }
    register(e, "dot_product",
      "dot_product(a, b) - dot product of two float/double arrays", 2) {
      exprs => DotProduct(exprs(0), exprs(1))
    }
    register(e, "sorted_intersect_count",
      "sorted_intersect_count(a, b) - |a ∩ b| for sorted string arrays", 2) {
      exprs => SortedIntersectCount(exprs(0), exprs(1))
    }
    register(e, "shingle_hashes",
      "shingle_hashes(text, n) - sorted distinct xxhash64 of n-char windows",
      2) { exprs =>
        ShingleHashes(exprs(0), GraftExtensions.intLiteral(exprs(1),
          "shingle_hashes n"))
    }
    register(e, "minhash_sig",
      "minhash_sig(hashes, k) - k-slot MinHash signature of a long array",
      2) { exprs =>
        MinHashSigFromHashes(exprs(0), GraftExtensions.intLiteral(exprs(1),
          "minhash_sig k"))
    }
    register(e, "lsh_bucket",
      "lsh_bucket(vec, bits) - random-hyperplane LSH bucket id in [0,2^bits)",
      2) { exprs =>
        LshBucket(exprs(0), GraftExtensions.intLiteral(exprs(1),
          "lsh_bucket bits"))
    }
    // aggregate: the registry wraps a bare AggregateFunction in an
    // AggregateExpression during resolution, same as the built-ins
    register(e, "vector_sum",
      "vector_sum(vec) - elementwise sum of float/double arrays per group",
      1) { exprs => VectorSum(exprs.head) }
    register(e, "bloom_agg",
      "bloom_agg(hash, numBits, k) - OR-fold bigint hashes into a Bloom bitset",
      3) { exprs =>
        BloomFilterAgg(exprs.head,
          GraftExtensions.longLiteral(exprs(1), "bloom_agg numBits"),
          GraftExtensions.intLiteral(exprs(2), "bloom_agg k"))
    }
    register(e, "bloom_hit_count",
      "bloom_hit_count(hashes, words, k) - #hashes whose k probe bits are all set",
      3) { exprs =>
        BloomHitCount(exprs(0), exprs(1),
          GraftExtensions.intLiteral(exprs(2), "bloom_hit_count k"))
    }
    register(e, "bloom_hit_count_sharded",
      "bloom_hit_count_sharded(hashes, shards, k) - sharded-bitset Bloom membership count",
      3) { exprs =>
        BloomHitCountSharded(exprs(0), exprs(1),
          GraftExtensions.intLiteral(exprs(2), "bloom_hit_count_sharded k"))
    }
    register(e, "cms_agg",
      "cms_agg(hash, depth, width) - count-min sketch of bigint hashes",
      3) { exprs =>
        CmsAgg(exprs.head,
          GraftExtensions.intLiteral(exprs(1), "cms_agg depth"),
          GraftExtensions.intLiteral(exprs(2), "cms_agg width"))
    }
    register(e, "cms_estimate",
      "cms_estimate(sketch, hash, depth, width) - min-over-rows count estimate",
      4) { exprs =>
        CmsEstimate(exprs(0), exprs(1),
          GraftExtensions.intLiteral(exprs(2), "cms_estimate depth"),
          GraftExtensions.intLiteral(exprs(3), "cms_estimate width"))
    }
    register(e, "hll_agg",
      "hll_agg(hash, p) - HyperLogLog sketch (2^p byte registers) of bigint hashes",
      2) { exprs =>
        HllAgg(exprs.head, GraftExtensions.intLiteral(exprs(1), "hll_agg p"))
    }
    register(e, "hll_merge",
      "hll_merge(sketch, p) - union previously-built HLL sketches (register max)",
      2) { exprs =>
        HllMergeAgg(exprs.head,
          GraftExtensions.intLiteral(exprs(1), "hll_merge p"))
    }
    register(e, "hll_count",
      "hll_count(sketch, p) - cardinality estimate of an HLL sketch",
      2) { exprs =>
        HllCount(exprs.head,
          GraftExtensions.intLiteral(exprs(1), "hll_count p"))
    }
    register(e, "dd_agg",
      "dd_agg(value, alpha) - DDSketch (log-bucket quantile sketch) of doubles",
      2) { exprs =>
        DdAgg(exprs.head,
          GraftExtensions.doubleLiteral(exprs(1), "dd_agg alpha"))
    }
    register(e, "dd_merge",
      "dd_merge(sketch) - union previously-built DDSketches (count addition)",
      1) { exprs => DdMergeAgg(exprs.head) }
    register(e, "dd_quantile",
      "dd_quantile(sketch, q, alpha) - quantile estimate from a DDSketch",
      3) { exprs =>
        DdQuantile(exprs.head,
          GraftExtensions.doubleLiteral(exprs(1), "dd_quantile q"),
          GraftExtensions.doubleLiteral(exprs(2), "dd_quantile alpha"))
    }
    register(e, "kmv_agg",
      "kmv_agg(hash, k) - k-minimum-values sketch of bigint hashes",
      2) { exprs =>
        KmvAgg(exprs.head, GraftExtensions.intLiteral(exprs(1), "kmv_agg k"))
    }
    register(e, "kmv_merge",
      "kmv_merge(sketch, k) - union KMV sketches (k smallest of the set union)",
      2) { exprs =>
        KmvMergeAgg(exprs.head,
          GraftExtensions.intLiteral(exprs(1), "kmv_merge k"))
    }
    register(e, "kmv_count",
      "kmv_count(sketch, k) - distinct estimate (exact below saturation)",
      2) { exprs =>
        KmvCount(exprs.head,
          GraftExtensions.intLiteral(exprs(1), "kmv_count k"))
    }
    register(e, "kmv_intersect",
      "kmv_intersect(a, b, k) - intersection-size estimate of two KMV sketches",
      3) { exprs =>
        KmvIntersect(exprs(0), exprs(1),
          GraftExtensions.intLiteral(exprs(2), "kmv_intersect k"))
    }
    register(e, "kmv_jaccard",
      "kmv_jaccard(a, b, k) - Jaccard estimate of two KMV sketches",
      3) { exprs =>
        KmvJaccard(exprs(0), exprs(1),
          GraftExtensions.intLiteral(exprs(2), "kmv_jaccard k"))
    }
    // variadic: 1..MaxDims int bucket columns
    e.injectFunction((FunctionIdentifier("interleave_bits"),
      info("interleave_bits",
        "interleave_bits(b0, b1, ...) - Morton z-value of int bucket indexes"),
      (exprs: Seq[Expression]) => InterleaveBits(exprs)))
  }
}

object GraftExtensions {
  private def intLiteral(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def doubleLiteral(e: Expression, what: String): Double = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Double, _) => v
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) =>
      v.toDouble
    case org.apache.spark.sql.catalyst.expressions.Literal(
           v: org.apache.spark.sql.types.Decimal, _) => v.toDouble
    case other => throw new IllegalArgumentException(
      s"$what must be a numeric literal, got $other")
  }

  private def longLiteral(e: Expression, what: String): Long = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) => v
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v.toLong
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  /** Register the same functions on an already-built session (useful when
    * the session comes from a harness that doesn't pass extensions —
    * e.g. the driver-owned sessions running SparkEntry.queries).
    */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    val ext = new SparkSessionExtensions
    new GraftExtensions()(ext)
    org.apache.spark.sql.graftbridge.Bridge.registerInjectedFunctions(ext, spark)
  }
}
