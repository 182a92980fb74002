package graft.tools

import java.nio.file.{Files, Paths}

import graft.Session

/** Replay the banked differential-fuzz certificate (r10 verdict task 5:
  * the config totals lived only as PLANS.md prose; this makes them
  * re-provable in one command without archaeology).
  *
  * Reads `tools/certificate_manifest.json` — a list of recorded
  * (sf, seed, n, families) sweep tuples — and runs every sweep's Spark
  * side through one shared session into `<outBase>/<id>/`. The DuckDB
  * compare half runs per sweep via `tools/local_check.py`; the wrapper
  * `tools/replay_certificate.sh` chains both and fails on any mismatch.
  *
  * Honesty note on what a replay PROVES: the family generators evolve
  * (new parameters, perturbation surfaces), so a historical seed drawn
  * today yields different concrete cases than it did in the round that
  * recorded it. The manifest is therefore the canonical certificate of
  * equal strength — the recorded (seed, n, families, sf) tuples pass
  * against TODAY's tree — not a bit-replay of historical outputs.
  * `firstN:K` entries pin historical "all families at the time" sweeps
  * to the registration-order prefix (the family list is append-only).
  *
  * Usage: runMain graft.tools.Replay [manifest] [outBase] [idFilter]
  */
object Replay {
  def main(args: Array[String]): Unit = {
    val manifestPath = args.lift(0).getOrElse("tools/certificate_manifest.json")
    val outBase = args.lift(1).getOrElse("target/replay")
    val idFilter = args.lift(2)

    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.readTree(Files.readString(Paths.get(manifestPath)))
    require(root.isArray, s"$manifestPath: expected a JSON array")
    val entries = (0 until root.size()).map(root.get).filter { e =>
      idFilter.forall(f => e.get("id").asText().contains(f))
    }
    require(entries.nonEmpty, s"no manifest entries match $idFilter")

    val spark = Session.local(Session.defaultCpus, timed = false)
    var totOk, totErr = 0
    val t0 = System.nanoTime()
    entries.foreach { e =>
      val id = e.get("id").asText()
      val fams = Fuzz.resolveFamilies(e.get("families").asText())
      println(s"[replay] $id: n=${e.get("n").asInt()} " +
        s"seed=${e.get("seed").asLong()} families=${fams.size} " +
        s"sf=${e.get("sf").asText()}")
      val (ok, err) = Fuzz.runSweep(spark, e.get("sf").asText(),
        s"$outBase/$id", e.get("n").asInt(), e.get("seed").asLong(), fams)
      totOk += ok; totErr += err
    }
    println(f"[replay] TOTAL: $totOk ok, $totErr spark-side errors over " +
      f"${entries.size} sweeps in ${(System.nanoTime() - t0) / 1e9}%.0fs")
    spark.stop()
    if (totErr > 0) sys.exit(2)
  }
}
