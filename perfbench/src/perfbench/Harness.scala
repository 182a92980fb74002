package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import graft.{GraftExtensions, SparkEntry}

/** One benchmark run of one workload in one JVM, driven by `run.py`.
  *
  * Closed loop: a single driver thread submits the workload's
  * `SparkEntry.queries` one after another into one `local[cores]`
  * session; the next query is built only after the previous action
  * returned. The run is
  *
  *  1. one session build (builder + `registerAll`) in this fresh JVM:
  *     the cold start a `spark-submit` pays. Its wall time is one
  *     `setup_s` sample; with `--setup-only` that is all the run does.
  *  2. one cold pass: the first pass in the fresh session;
  *  3. `warmup_passes` untimed passes (a traced run has one);
  *  4. warm passes until `seconds` have elapsed (at least `min_warm`).
  *
  * Listeners are attached only in the passes `traced_passes` names, so a
  * traced run also times untraced passes and measures its own overhead.
  *
  * A query's final action writes its result as parquet under
  * `results_dir/<pass>/<query>`, where `run.py` checks it against the
  * oracle. After each query, outside every timed window, a full GC runs
  * and the live old-generation bytes are read while the query's caches
  * are still held; then the caches are dropped (the `graft.Bench`
  * hygiene), and the next query's GC collects them. Every job a query
  * runs carries the local property `perfbench.query` = `<pass>/<query>`,
  * so the trace attributes jobs to queries by tag, not by time.
  * Everything is written as raw JSON; `run.py` computes metrics.
  *
  * Usage: Harness [--setup-only] <spec.json> <out.json>
  */
object Harness {
  private val om = new ObjectMapper()

  /** nanoTime on the epoch-millisecond axis of Spark's listener events. */
  private val nano0 = System.nanoTime()
  private val wall0 = System.currentTimeMillis().toDouble
  private def nowMs(): Double = wall0 + (System.nanoTime() - nano0) / 1e6

  private def buildSession(conf: JsonNode, cores: Int): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
    conf.fields().asScala.foreach(e => b.config(e.getKey, e.getValue.asText))
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftExtensions.registerAll(spark)
    spark
  }

  private def dropCaches(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
  }

  private lazy val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))

  /** Live old-generation MB: occupancy after a full GC. */
  private def liveOldGenMb(): Double = {
    System.gc()
    oldGen.map(_.getUsage.getUsed / 1048576.0).getOrElse(0.0)
  }

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  def main(argv: Array[String]): Unit = {
    val setupOnly = argv.headOption.contains("--setup-only")
    val args = argv.filterNot(_ == "--setup-only")
    val spec = om.readTree(new File(args(0)))
    val out = args(1)
    val cores = spec.get("cores").asInt

    val setup0 = System.nanoTime()
    val spark = buildSession(spec.get("conf"), cores)
    val setupS = (System.nanoTime() - setup0) / 1e9
    if (setupOnly) {
      spark.stop()
      Files.writeString(Paths.get(out),
        om.writeValueAsString(J.obj("setup_s" -> setupS)))
      return
    }
    val sc = spark.sparkContext

    val dataDir = new File(spec.get("data_dir").asText).getCanonicalPath
    val scratch = new File(spec.get("scratch_dir").asText)
    val resultsDir = new File(spec.get("results_dir").asText).getCanonicalPath
    val seconds = spec.get("seconds").asDouble
    val warmups = spec.get("warmup_passes").asInt
    val minWarm = spec.get("min_warm").asInt
    val tracedPasses = spec.get("traced_passes").elements().asScala
      .map(_.asInt).toSet
    val names = spec.get("queries").elements().asScala.map(_.asText).toSeq
    val fns = names.map(n => n -> SparkEntry.queries.getOrElse(n,
      sys.error(s"unknown query $n")))

    val sched = new SchedulerRecorder
    val plans = new PlanRecorder(resultsDir)
    def tracing(on: Boolean): Unit =
      if (on) {
        sc.addSparkListener(sched); spark.listenerManager.register(plans)
      } else {
        ListenerBusDrain(sc)
        sc.removeSparkListener(sched); spark.listenerManager.unregister(plans)
      }

    // sink queries leave files in scratch; every run starts from none
    deleteTree(scratch)
    scratch.mkdirs()

    val queryRecs = new java.util.ArrayList[Any]()
    val passRecs = new java.util.ArrayList[Any]()
    var attempted = 0
    var failed = 0
    val errors = new java.util.ArrayList[Any]()

    def runPass(idx: Int, kind: String, trace: Boolean): Unit = {
      if (trace) tracing(on = true)
      val pStart = nowMs()
      var passWall = 0.0
      fns.foreach { case (name, fn) =>
        val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val cgNs0 = CodeGenerator.compileTime
        sc.setLocalProperty(SchedulerRecorder.QueryTag, s"$idx/$name")
        val t0 = nowMs()
        var tb = t0
        attempted += 1
        val ok = try {
          val df = fn(spark, dataDir)
          tb = nowMs()
          df.write.parquet(s"$resultsDir/$idx/$name")
          true
        } catch {
          case e: Throwable =>
            failed += 1
            errors.add(s"$kind pass $idx $name: ${e.getClass.getName}: " +
              String.valueOf(e.getMessage).take(300))
            false
        }
        val ta = nowMs()
        sc.setLocalProperty(SchedulerRecorder.QueryTag, null)
        if (!ok && tb == t0) tb = ta
        passWall += (ta - t0) / 1e3
        val cg1 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val cgNs1 = CodeGenerator.compileTime
        // untimed: drain the trace, then the cache/GC hygiene
        if (trace) ListenerBusDrain(sc)
        val cachedPeak = if (trace) sched.takeCachedPeak() else 0L
        val liveMb = liveOldGenMb()
        dropCaches(spark)
        queryRecs.add(J.obj("pass" -> idx, "kind" -> kind, "traced" -> trace,
          "query" -> name, "ok" -> ok,
          "start_ms" -> t0, "build_end_ms" -> tb, "end_ms" -> ta,
          "codegen_compiles" -> (cg1 - cg0),
          "codegen_ns" -> (cgNs1 - cgNs0),
          "cached_peak_bytes" -> cachedPeak, "live_old_mb" -> liveMb))
      }
      if (trace) tracing(on = false)
      passRecs.add(J.obj("pass" -> idx, "kind" -> kind, "traced" -> trace,
        "start_ms" -> pStart, "end_ms" -> nowMs(), "wall_s" -> passWall))
    }

    runPass(0, "cold", tracedPasses(0))
    (1 to warmups).foreach(i => runPass(i, "warmup", tracedPasses(i)))
    val warm0 = System.nanoTime()
    var idx = warmups + 1
    while (idx <= warmups + minWarm ||
           (System.nanoTime() - warm0) / 1e9 < seconds) {
      runPass(idx, "warm", tracedPasses(idx))
      idx += 1
    }

    val result = J.obj(
      "cores" -> cores,
      "setup_s" -> setupS,
      "passes" -> passRecs, "queries" -> queryRecs,
      "attempted" -> attempted, "failed" -> failed, "errors" -> errors,
      "jobs" -> sched.jobsJson, "stages" -> sched.stagesJson,
      "plans" -> plans.json)
    spark.stop()
    Files.writeString(Paths.get(out), om.writeValueAsString(result))
  }
}
