package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins `Bench.parseBaseline`, which `baseline_ratio` reads, to the
  * COMMITTED baseline file. Round 10 shipped it dead: the parse regex
  * required compact JSON while tools/make_baseline.py writes indent=1,
  * the `catch Throwable => Map.empty` swallowed the mismatch, and no
  * spec loaded the real file — so baseline_ratio was null for all 260
  * queries. This spec parses the file the repo actually commits.
  * No SparkSession — pure functions only. */
class BaselineSpec extends AnyFunSuite {

  private def committed: String = {
    val p = BaselineSpec.repoRoot.resolve("BENCH_BASELINE.json")
    assert(java.nio.file.Files.exists(p), s"missing committed baseline at $p")
    java.nio.file.Files.readString(p)
  }

  test("committed BENCH_BASELINE.json parses to >= 260 (cold, warm) entries") {
    val base = Bench.parseBaseline(committed)
    assert(base.size >= 260, s"parsed only ${base.size} baseline entries - " +
      "baseline_ratio would silently read null (the r10 defect)")
    // every entry is a plausible timing, not a mis-grouped fragment
    base.foreach { case (name, (c, w)) =>
      assert(name.matches("[a-z]\\d+[a-z]?_.*"), s"non-query key parsed: $name")
      assert(c > 0 && c < 3600, s"$name cold=$c out of range")
      assert(w > 0 && w < 3600, s"$name warm=$w out of range")
    }
  }

  test("parse tolerates both indent=1 (the committed format) and compact JSON") {
    val indented =
      """{
        | "note": "x",
        | "queries": {
        |  "q1_agg": {
        |   "cold": 1.25,
        |   "warm": 0.5
        |  },
        |  "q2_join": {
        |   "cold": 2e-1,
        |   "warm": 0.1
        |  }
        | }
        |}""".stripMargin
    assert(Bench.parseBaseline(indented) ===
      Map("q1_agg" -> (1.25, 0.5), "q2_join" -> (0.2, 0.1)))
    val compact = """{"queries":{"q1_agg":{"cold":1.25,"warm":0.5}}}"""
    assert(Bench.parseBaseline(compact) === Map("q1_agg" -> (1.25, 0.5)))
  }
}

object BaselineSpec {
  /** Repo root located by walking up from the test JVM's working dir
    * until the committed baseline (or .git) appears — sbt forks from
    * the repo root, but IDE runners and nested modules don't, and a
    * bare relative path then fails with a confusing "missing committed
    * baseline" assert. */
  private[graft] def repoRoot: java.nio.file.Path = {
    val start = java.nio.file.Paths.get(sys.props("user.dir")).toAbsolutePath
    Iterator.iterate(start)(_.getParent).takeWhile(_ != null)
      .find(p => java.nio.file.Files.exists(p.resolve("BENCH_BASELINE.json")) ||
        java.nio.file.Files.exists(p.resolve(".git")))
      .getOrElse(throw new AssertionError(
        s"could not locate repo root (BENCH_BASELINE.json/.git) above $start"))
  }
}
