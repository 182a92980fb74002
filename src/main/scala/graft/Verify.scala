package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{array_join, col}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** ','-join array columns into their engine-portable string form — a
    * raw array column is unhashable in the driver's pandas sort, so
    * EVERY query that outputs an array must pass through this (oracle
    * twin: `array_to_string(x, ',')` / `string_agg(...)`). Load-bearing
    * in q_quantize, q_dup_clusters, q_collect_arrays; extracted so the
    * next array-output query can't forget the discipline.
    */
  def stringifyArrays(df: DataFrame, cols: String*): DataFrame =
    cols.foldLeft(df) { (d, c) =>
      d.withColumn(c, array_join(col(c).cast("array<string>"), ","))
    }

  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names (fast local
    // single-query iteration); the driver always passes exactly two
    val Array(sfDir, outDir) = args.take(2)
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").toSet else Set.empty
    // Session.local also exercises the SQL-function registration path
    val spark = Session.local(Session.defaultCpus, timed = false)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // queries persist intermediates; don't let 50 queries' caches pile up
      spark.catalog.clearCache()
    }
    // shared JSON escape (Bench.jsonQuote): a tab or CR in
    // builder-authored SQL would otherwise make the driver's json.load
    // fail and silently zero the round's correctness
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Bench.jsonQuote(k)}: ${Bench.jsonQuote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
