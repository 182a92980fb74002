package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession builder. Bench, Verify, the fuzzer and its
  * replay, the dev tools and the test suites all build through `local`,
  * so a conf fix lands on every entry point at once — hand-copied
  * builders drifted (a profiler kept a 100-entry codegen cache after the
  * bench had moved to 8192, and so measured a compile thrash the bench
  * no longer had). `perfbench/session.json` is the one copy outside this
  * file; SessionSpec pins it to `conf(_, timed = true)`.
  */
object Session {

  /** local[N] width: env override, else the machine's core count — a
    * hardcoded 32 oversubscribes smaller hosts and skews timings
    * (shuffle.partitions tracks it too).
    */
  def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Codegen-cache capacity (spark.sql.codegen.cache.maxEntries, a
    * STATIC conf — session-builder only). Spark's default is 100
    * compiled-class entries, sized for a handful of concurrent queries;
    * this suite's heavy lifecycle queries alone generate >200 codegen
    * units per run (r12 driver profile: q_incremental_refresh recompiled
    * 204 units EVERY timed run — the warm-up pass's compiles were all
    * evicted, defeating the bench's own "warm-JIT + codegen cache"
    * contract), and janino recompiles are pure driver fixed cost
    * (~10-30 ms each). 8192 entries hold the whole 224-query suite's
    * units; NOT scale- or core-count-dependent — any production driver
    * running a many-query workload sizes this cache to the workload
    * (measured r12: q_incremental_refresh 9.52→7.88 s,
    * q_forget_cascade 4.96→3.79 s min-of-5, recompiles 204→4).
    * Env-overridable for A/B (SPARK_GRAFT_CODEGEN_CACHE).
    */
  def codegenCacheEntries: String =
    sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "8192")

  val CommitterConf =
    "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version"

  /** Every conf `local` sets besides the master. `timed` adds
    * commit-algorithm v2: task output lands in place at task commit
    * instead of v1's job-commit-time serial driver-side rename pass. At
    * this fixture's file counts the measured full-suite effect is
    * noise-level (177.3 vs 179.6 s A/B) — kept because it is the
    * deployment-correct choice for a rename-cost store (the cloud
    * committers exist for exactly this) and the bench and the profilers
    * should measure operators, not commit renames. Correctness artifacts
    * (Verify, the fuzzer, the specs) keep Hadoop's default committer.
    */
  def conf(cpus: Int, timed: Boolean): Map[String, String] = {
    val base = Map(
      "spark.sql.shuffle.partitions" -> cpus.toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> "true",
      Tables.NanosConf -> "true",
      "spark.ui.enabled" -> "false",
      "spark.sql.codegen.cache.maxEntries" -> codegenCacheEntries)
    if (timed) base + (CommitterConf -> "2") else base
  }

  /** A `local[cpus]` session with `conf(cpus, timed)` (then `extra`, for
    * ad-hoc profiling overrides), WARN logging and graft's SQL functions
    * registered. `getOrCreate`: a JVM holds one session, so a second call
    * returns the first session unchanged.
    */
  def local(cpus: Int, timed: Boolean,
            extra: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config(conf(cpus, timed) ++ extra)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.registerAll(spark)
    spark
  }

  /** Drop every cached Dataset AND every persisted RDD. clearCache only
    * covers Dataset persist entries; localCheckpoint blocks (BPE merge
    * rounds, store-maintenance barriers) live as persisted RDDs until
    * the ContextCleaner's GC-driven sweep — unpersist them directly so no
    * run measures against the prior run's leftover blocks (the
    * cold-cache contract). The old RDD handles are dead between runs;
    * dropping their blocks is safe.
    */
  def dropCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }
}
