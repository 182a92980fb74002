package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** Drift guard for the one session builder: what `Session.local` sets,
  * that no other builder exists, and that the benchmark harness's copy of
  * the conf (perfbench/session.json, which cannot build through
  * `Session`) still matches the timed session.
  */
class SessionSpec extends SparkSpec {

  private val untimed = Map(
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "8192")

  test("conf: untimed sets the shared keys; timed adds commit algorithm v2") {
    assert(Session.conf(4, timed = false) === untimed)
    assert(Session.conf(4, timed = true) === untimed +
      ("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version" -> "2"))
  }

  test("local applies its conf and registers graft's SQL functions") {
    val sc = spark.sparkContext
    assert(sc.master === "local[4]")
    Session.conf(4, timed = false).foreach { case (k, v) =>
      assert(sc.getConf.get(k) === v, k)
    }
    assert(!sc.getConf.contains(Session.CommitterConf))
    assert(spark.catalog.functionExists("simhash64"))
  }

  test("no session builder outside Session.scala") {
    val needle = "SparkSession" + ".builder"
    val offenders = Seq("src/main", "src/test").flatMap { root =>
      val walk = Files.walk(Paths.get(root))
      try walk.iterator().asScala.toList finally walk.close()
    }.filter(p => p.toString.endsWith(".scala") &&
      p.getFileName.toString != "Session.scala" &&
      Files.readString(p).contains(needle))
    assert(offenders.isEmpty, s"hand-built sessions: ${offenders.mkString(", ")}")
  }

  test("perfbench/session.json conf equals the timed session's") {
    val json = new ObjectMapper().readTree(
      Files.readString(Paths.get("perfbench/session.json")))
    val bench = json.get("conf").properties().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap
    val cores = json.get("cores").asInt()
    // the harness sets shuffle partitions = cores itself
    assert(bench === Session.conf(cores, timed = true) -
      "spark.sql.shuffle.partitions")
  }
}
