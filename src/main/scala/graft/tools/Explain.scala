package graft.tools

import graft.{Session, SparkEntry}

/** Dump formatted physical plans for the named queries (dev tool for the
  * plan audit: pushdown, pruning, broadcast, codegen spans).
  * Usage: runMain graft.tools.Explain <sfDir> [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    // a fixed 4 cores, not the host's, so plan dumps compare across machines
    val spark = Session.local(4, timed = false)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      println(s"\n================ $name ================")
      try println(SparkEntry.queries(name)(spark, dir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"FAILED: ${e.getMessage}") }
    }
    spark.stop()
  }
}
