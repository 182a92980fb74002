package perfbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper

import graft.SparkEntry

/** Writes `SparkEntry.oracleSql` (the DuckDB twin of every query) as one
  * JSON object. Usage: OracleSql <out.json>
  */
object OracleSql {
  def main(args: Array[String]): Unit =
    Files.writeString(Paths.get(args(0)), new ObjectMapper()
      .writeValueAsString(J.obj(SparkEntry.oracleSql.toSeq.sortBy(_._1): _*)))
}
