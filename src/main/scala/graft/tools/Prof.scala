package graft.tools

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Session, SparkEntry}

/** Dev profiler for driver-contract queries, on the bench's own session
  * (`Session.local(timed = true)`). Two modes:
  *
  *  - `time`: repeated cold-cache runs of each query, with per-query min
  *    and median. With `--ab <conf> <valA> <valB> [pairs]` it instead
  *    interleaves the two values of one RUNTIME SQL conf in ABBA order
  *    (arm order alternates per pair, so a position effect — GC debt
  *    from the previous run, page-cache state — hits both arms equally),
  *    after one warm run per arm. Interleaving in one JVM makes the
  *    comparison immune to this box's multi-minute contention windows,
  *    which defeat cross-JVM A/Bs.
  *  - `profile`: one warm run, then one instrumented run that prints
  *    per-job wall and per-stage task time, shuffle records and spill;
  *    the union of job intervals against the wall (time inside jobs vs
  *    pure driver time between them); catalyst phase times summed over
  *    the query's tracked executions; the janino compile count (a
  *    codegen-cache thrash detector); and a ~2 ms stack sampler over the
  *    driver threads, bucketed into cost categories.
  *
  * Usage:
  *   runMain graft.tools.Prof time <query>... [--ab <conf> <valA> <valB> [pairs]]
  *   runMain graft.tools.Prof profile <query>...
  * env: SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as in Bench;
  * SPARK_GRAFT_RUNS (time mode runs, default 3); SPARK_GRAFT_EXPLAIN
  * (time mode: print the final adaptive plan after the last run);
  * SPARK_GRAFT_EXTRA_CONF="k=v;k=v" (session conf overrides, e.g.
  * spark.eventLog.enabled=true;spark.eventLog.dir=/tmp/spark-events).
  */
object Prof {

  private val usage = "usage: Prof time <query>... " +
    "[--ab <conf> <valA> <valB> [pairs]] | Prof profile <query>..."

  /** The true median: the middle value, or the mean of the two middle
    * values for an even count.
    */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** Total length of the union of [start, end] intervals. */
  def unionLength(ivs: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curS = 0L; var curE = Long.MinValue
    ivs.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE != Long.MinValue) covered += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE != Long.MinValue) covered += curE - curS
    covered
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, usage)
    val (names, ab) = args.drop(1).span(_ != "--ab")
    require(names.nonEmpty, usage)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // resolve every name before the session spins up
    val queries = names.toSeq.map(n => n -> SparkEntry.queries.getOrElse(n,
      sys.error(s"unknown query $n")))
    val spark = Session.local(Session.defaultCpus, timed = true, extraConf)
    val run = new Runner(spark, sfDir)
    (args(0), ab.drop(1).toSeq) match {
      case ("time", Seq()) =>
        queries.foreach { case (n, fn) => run.time(n, fn) }
      case ("time", Seq(key, a, b, rest @ _*)) if rest.size <= 1 =>
        val pairs = rest.headOption.map(_.toInt).getOrElse(5)
        queries.foreach { case (n, fn) => run.ab(n, fn, key, a, b, pairs) }
      case ("profile", Seq()) if ab.isEmpty =>
        queries.foreach { case (n, fn) => run.profile(n, fn) }
      case _ => sys.error(usage)
    }
    spark.stop()
  }

  /** SPARK_GRAFT_EXTRA_CONF, parsed: ';'-separated key=value entries. */
  private def extraConf: Map[String, String] =
    sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";")).filter(_.nonEmpty).map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => k -> v
          case _ => sys.error(
            s"SPARK_GRAFT_EXTRA_CONF entry needs key=value, got: '$kv'")
        }
      }.toMap

  private type Query = (SparkSession, String) => DataFrame

  private class Runner(spark: SparkSession, sfDir: String) {
    // listener state, all guarded by `lock`: job intervals (ns), the
    // job/stage lines in event order, and the catalyst phase totals
    private val lock = new Object
    private val jobs = mutable.Map[Int, (Long, Long)]()
    private val lines = mutable.ArrayBuffer[String]()
    private var taskTimeMs = 0L
    private var nStages = 0
    private val phaseNs = mutable.Map[String, Long]().withDefaultValue(0L)
    private var nExecs = 0

    // registered on the first profile() only, so timed runs carry no
    // listener of this tool
    private lazy val instrumented: Unit = {
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          lock.synchronized { jobs(e.jobId) = (System.nanoTime(), 0L) }
        override def onJobEnd(e: SparkListenerJobEnd): Unit =
          lock.synchronized {
            jobs.get(e.jobId).foreach { case (s, _) =>
              val now = System.nanoTime()
              jobs(e.jobId) = (s, now)
              lines += f"job ${e.jobId}%3d ${(now - s) / 1e9}%7.3f s"
            }
          }
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
          lock.synchronized {
            val m = e.stageInfo.taskMetrics
            taskTimeMs += m.executorRunTime
            nStages += 1
            // stage wall (submission→completion, ms clock): with uniform
            // N-way tasks, wall ≈ taskTime/N; a stage whose wall is far
            // above that is serialized or skewed
            val sWall = (for {
              s <- e.stageInfo.submissionTime; c <- e.stageInfo.completionTime
            } yield (c - s) / 1000.0).getOrElse(-1.0)
            lines += f"  stage ${e.stageInfo.stageId}%3d " +
              f"tasks=${e.stageInfo.numTasks}%3d wall=$sWall%7.2f s " +
              f"taskTime=${m.executorRunTime / 1000.0}%8.2f s " +
              f"sRead=${m.shuffleReadMetrics.recordsRead}%10d " +
              f"sWrite=${m.shuffleWriteMetrics.recordsWritten}%10d " +
              f"spill=${(m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6}%8.1f MB"
          }
      })
      // exact per-phase planning time (QueryPlanningTracker) summed over
      // every action the query fires; execution time is the jobs'
      spark.listenerManager.register(new QueryExecutionListener {
        override def onSuccess(funcName: String, qe: QueryExecution,
                               durationNs: Long): Unit = lock.synchronized {
          nExecs += 1
          qe.tracker.phases.foreach { case (p, s) =>
            phaseNs(p) += (s.endTimeMs - s.startTimeMs) * 1000000L }
          phaseNs("TOTAL_ACTION") += durationNs
        }
        override def onFailure(funcName: String, qe: QueryExecution,
                               error: Exception): Unit = ()
      })
    }

    /** One cold-cache run: (seconds, rows, the executed frame). */
    private def coldRun(fn: Query): (Double, Long, DataFrame) = {
      Session.dropCaches(spark)
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val n = df.count()
      ((System.nanoTime() - t0) / 1e9, n, df)
    }

    private def warm(fn: Query): Unit = {
      Session.dropCaches(spark)
      fn(spark, sfDir).count()
    }

    def time(name: String, fn: Query): Unit = {
      val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "3").toInt
      val secs = (1 to runs).map { i =>
        val (sec, n, df) = coldRun(fn)
        println(f"[prof] $name run$i $sec%.2fs rows=$n")
        // final ADAPTIVE plan (post-execution), not the static estimate
        if (i == runs && sys.env.contains("SPARK_GRAFT_EXPLAIN"))
          println(df.queryExecution.executedPlan.toString)
        sec
      }
      println(f"[prof] $name min=${secs.min}%.2fs med=${median(secs)}%.2fs")
    }

    def ab(name: String, fn: Query, key: String, valA: String,
           valB: String, pairs: Int): Unit = {
      Seq(valA, valB).foreach { v => spark.conf.set(key, v); warm(fn) }
      val as = mutable.ArrayBuffer[Double]()
      val bs = mutable.ArrayBuffer[Double]()
      for (i <- 1 to pairs;
           (v, buf) <- if (i % 2 == 1) Seq((valA, as), (valB, bs))
                       else Seq((valB, bs), (valA, as))) {
        spark.conf.set(key, v)
        val sec = coldRun(fn)._1
        buf += sec
        println(f"[ab] $name pair$i $key=$v $sec%.3f s")
      }
      val (minA, medA) = (as.min, median(as.toSeq))
      val (minB, medB) = (bs.min, median(bs.toSeq))
      println(f"[ab] RESULT $name $key: A=$valA min=$minA%.3f med=$medA%.3f | " +
        f"B=$valB min=$minB%.3f med=$medB%.3f | minB/minA=${minB / minA}%.3f " +
        f"medB/medA=${medB / medA}%.3f")
    }

    def profile(name: String, fn: Query): Unit = {
      instrumented
      warm(fn) // JIT + codegen cache
      Session.dropCaches(spark)
      Bridge.drainListenerBus(spark.sparkContext)
      lock.synchronized {
        jobs.clear(); lines.clear(); taskTimeMs = 0L; nStages = 0
        phaseNs.clear(); nExecs = 0
      }
      val sampler = new DriverSampler
      val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      sampler.start()
      val n = fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      sampler.stop()
      Bridge.drainListenerBus(spark.sparkContext)
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0
      lock.synchronized {
        val ivs = jobs.values.filter(_._2 > 0).toSeq
        val inJobs = unionLength(ivs) / 1e9
        println(f"=== $name rows=$n wall=$wall%.2f s jobs=${ivs.size} " +
          f"stages=$nStages taskTime=${taskTimeMs / 1000.0}%.2f s " +
          f"inJobs=$inJobs%.2f s betweenJobs=${wall - inJobs}%.2f s " +
          f"perJobOverheadIfUniform=" +
          f"${(wall - inJobs) / math.max(1, ivs.size) * 1000}%.1f ms " +
          f"codegenCompiles=$compiles")
        lines.foreach(l => println("  " + l))
        println(s"  catalyst phases over $nExecs tracked executions:")
        phaseNs.toSeq.sortBy(-_._2).foreach { case (p, ns) =>
          println(f"    $p%-16s ${ns / 1e9}%7.3f s") }
      }
      sampler.report()
    }
  }

  /** Samples every RUNNABLE driver thread's stack every ~2 ms (executor
    * task threads excluded) and buckets each sample into a cost category
    * plus a representative graft/Spark/Hadoop frame.
    */
  private class DriverSampler {
    private val threadName = "prof-driver-sampler"
    // one lock for both maps; report() reads them only after the
    // sampler thread has died
    private val lock = new Object
    private val catCounts = mutable.Map[String, Long]().withDefaultValue(0L)
    private val frameCounts = mutable.Map[String, Long]().withDefaultValue(0L)
    @volatile private var sampling = true
    private val thread = new Thread(() => {
      while (sampling) {
        val it = Thread.getAllStackTraces.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          val t = e.getKey
          val st = e.getValue
          if (!t.getName.startsWith("Executor task launch worker") &&
              t.getName != threadName &&
              t.getState == Thread.State.RUNNABLE &&
              st.nonEmpty && !idleTop(st.head)) {
            val cat = classify(st)
            // attribute a representative frame: first graft/spark one
            val rep = st.find { f =>
              val c = f.getClassName
              c.startsWith("org.apache.spark") || c.startsWith("graft") ||
                c.startsWith("org.apache.hadoop") ||
                c.startsWith("org.apache.parquet")
            }.getOrElse(st.head)
            lock.synchronized {
              catCounts(cat) += 1
              frameCounts(s"[$cat] ${rep.getClassName}.${rep.getMethodName}") += 1
            }
          }
        }
        Thread.sleep(2)
      }
    }, threadName)
    thread.setDaemon(true)

    def start(): Unit = thread.start()

    def stop(): Unit = {
      sampling = false
      thread.join()
    }

    def report(): Unit = lock.synchronized {
      val cats = catCounts.toSeq.sortBy(-_._2)
      val tot = math.max(1L, cats.map(_._2).sum)
      println(s"  driver-thread RUNNABLE samples: $tot")
      cats.foreach { case (c, k) =>
        println(f"    $c%-18s $k%6d (${k * 100.0 / tot}%5.1f%%)")
      }
      println("  top frames:")
      frameCounts.toSeq.sortBy(-_._2).take(24)
        .foreach { case (f, k) => println(f"    $k%6d  $f") }
    }

    // idle-but-RUNNABLE tops (netty epoll waits, the Reference handler,
    // parked pool threads) are not doing driver work
    private def idleTop(h: StackTraceElement): Boolean = {
      val c = h.getClassName
      c.startsWith("java.net") || c.startsWith("sun.nio") ||
        c.contains("EPoll") || c.contains("epoll") ||
        c == "java.lang.ref.Reference" ||
        (c == "jdk.internal.misc.Unsafe" && h.getMethodName == "park") ||
        (c == "java.lang.Object" && h.getMethodName == "wait")
    }

    private val categories: Seq[(String, String => Boolean)] = Seq(
      "file-listing" -> (f => f.contains("InMemoryFileIndex") ||
        f.contains("listLeafFiles") || f.contains("HadoopFSUtils") ||
        f.contains("PartitioningAwareFileIndex") || f.contains("FileStatusCache")),
      "commit-protocol" -> (f => f.contains("FileOutputCommitter") ||
        f.contains("HadoopMapReduceCommitProtocol") ||
        f.contains("commitJob") || f.contains("SQLHadoopMapReduceCommitProtocol")),
      "parquet-meta" -> (f => f.contains("ParquetFileFormat") ||
        f.contains("ParquetFooterReader") || f.contains("ParquetMetadata") ||
        f.contains("ParquetUtils") || f.contains("readFooter")),
      "analysis-optimize" -> (f => f.contains("RuleExecutor") ||
        f.contains("catalyst.optimizer") || f.contains("catalyst.analysis") ||
        f.contains("QueryPlanningTracker")),
      "codegen" -> (f => f.contains("CodeGenerator") || f.contains("janino") ||
        f.contains("CodegenContext") || f.contains("compileToClass")),
      "plan-serde" -> (f => f.contains("closureSerializer") ||
        f.contains("JavaSerial") || f.contains("broadcastInternal") ||
        f.contains("TorrentBroadcast")),
      "dag-scheduler" -> (f => f.contains("DAGScheduler") ||
        f.contains("TaskSchedulerImpl") || f.contains("TaskSetManager") ||
        f.contains("LocalEndpoint") || f.contains("resourceOffers")),
      "listener-bus" -> (f => f.contains("ListenerBus") ||
        f.contains("AsyncEventQueue") || f.contains("ExecutionListener")),
      "aqe-driver" -> (f => f.contains("AdaptiveSparkPlanExec") ||
        f.contains("QueryStageExec") || f.contains("ShufflePartitionsUtil")),
      "hadoop-fs" -> (f => f.contains("RawLocalFileSystem") ||
        f.contains("ChecksumFileSystem") || f.contains("FileUtil") ||
        f.contains("getFileStatus") || f.contains("globStatus"))
    )

    private def classify(stack: Array[StackTraceElement]): String = {
      val frames = stack.map(e => e.getClassName + "." + e.getMethodName)
      categories.collectFirst {
        case (name, pred) if frames.exists(pred) => name
      }.getOrElse("other")
    }
  }
}
