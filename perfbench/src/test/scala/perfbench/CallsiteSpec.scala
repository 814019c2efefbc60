package perfbench

import org.scalatest.funsuite.AnyFunSuite

class CallsiteSpec extends AnyFunSuite {

  private def site(frames: String*) = frames.mkString("\n")

  test("the innermost graft frame names the module") {
    val details = site(
      "org.apache.spark.sql.Dataset.localCheckpoint(Dataset.scala:812)",
      "graft.operators.Lineage$.truncate(Lineage.scala:42)",
      "graft.graph.PageRank$.run(PageRank.scala:77)",
      "graft.GraphQueries$.$anonfun$queries$3(GraphQueries.scala:120)",
      "perfbench.Run.call(Main.scala:160)")
    assert(Callsite.firstGraftFrame(details).contains("graft.operators.Lineage$.truncate"))
    assert(Callsite.module(details).contains("operators"))
  }

  test("top-level classes map by role") {
    assert(Callsite.moduleOf("graft.Tables$.table") == "tables")
    assert(Callsite.moduleOf("graft.StreamDrive$.pinBuckets") == "streaming")
    assert(Callsite.moduleOf("graft.KpiQueries2$.$anonfun$queries$1") == "registry")
    assert(Callsite.moduleOf("graft.SparkEntry$.entry") == "registry")
    assert(Callsite.moduleOf("graft.Bench$.main") == "other")
  }

  test("stack-trace style frames and packages are recognised") {
    assert(Callsite.module("\tat graft.dedup.MinHash$.signatures(MinHash.scala:10)").contains("dedup"))
    assert(Callsite.moduleOf("graft.sources.Tmp$.dir") == "sources")
  }

  test("a call site without a graft frame is unattributed") {
    val pool = site(
      "java.util.concurrent.CompletableFuture$AsyncSupply.run(CompletableFuture.java:1768)",
      "java.lang.Thread.run(Thread.java:840)")
    assert(Callsite.module(pool).isEmpty)
    assert(Callsite.module("").isEmpty)
    assert(Callsite.module(null).isEmpty)
    // a package that merely starts with "graft" is not graft
    assert(Callsite.module("graftx.Foo$.bar(Foo.scala:1)").isEmpty)
  }
}
