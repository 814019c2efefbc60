package graft.dedup

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ParagraphDedupSpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long, String)] =
    df.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap

  // every corpus the paragraphDedup tests below run, in order
  private val corpora = Seq(
    Seq(1L -> "shared boilerplate para\n\nunique to one",
      2L -> "unique to two\n\nshared boilerplate para"),
    Seq(1L -> "same para\n\nmiddle\n\nsame para"),
    Seq(1L -> "Hello   World", 2L -> "hello world\n\nother content"),
    Seq(1L -> "only para", 2L -> "only para"),
    Seq(1L -> "the middle one", 2L -> "first block\n\nthe middle one\n\nlast block"),
    Seq(1L -> "\n\n \n\n", 2L -> "a\n\n \n\nb"))

  private def run(docs: Seq[(Long, String)]): Map[Long, (Long, Long, String)] =
    rows(Dedup.paragraphDedup(docs.toDF("doc_id", "text"), col("doc_id"), col("text")))

  test("cross-document duplicate: first document keeps, later copy drops") {
    val out = run(corpora(0))
    assert(out(1L) == ((2L, 2L, "shared boilerplate para\n\nunique to one")))
    assert(out(2L) == ((2L, 1L, "unique to two")))
  }

  test("within-document duplicate keeps the first position") {
    val out = run(corpora(1))
    assert(out(1L) == ((3L, 2L, "same para\n\nmiddle")))
  }

  test("normalization dedups case/whitespace variants but keeps the original text") {
    val out = run(corpora(2))
    assert(out(1L) == ((1L, 1L, "Hello   World")))
    assert(out(2L) == ((2L, 1L, "other content")))
  }

  test("fully-deduplicated document keeps its row with empty clean_text") {
    val out = run(corpora(3))
    assert(out(2L) == ((1L, 0L, "")))
  }

  test("reassembly preserves order around a dropped middle paragraph") {
    val out = run(corpora(4))
    assert(out(2L) == ((3L, 2L, "first block\n\nlast block")))
  }

  test("blank-only documents produce no row; blank segments are not paragraphs") {
    val out = run(corpora(5))
    assert(!out.contains(1L))
    assert(out(2L) == ((2L, 2L, "a\n\nb")))
  }

  test("incremental: index suppression, in-batch dedup, novel survival") {
    val corpus = Seq((1L, "seen before\n\nalso seen")).toDF("doc_id", "text")
    val index = Dedup.paragraphIndex(corpus, col("text"))
    val batch = Seq(
      (10L, "seen before\n\nbrand new para"),
      (11L, "brand new para\n\nanother novel one"))
      .toDF("doc_id", "text")
    val out = rows(Dedup.paragraphDedupAgainst(batch, col("doc_id"), col("text"), index))
    // doc 10: "seen before" is in the index; "brand new para" is novel
    assert(out(10L) == ((2L, 1L, "brand new para")))
    // doc 11: "brand new para" lost the in-batch election to doc 10
    assert(out(11L) == ((2L, 1L, "another novel one")))
  }

  test("incremental: advancing the index suppresses a replayed batch") {
    val corpus = Seq((1L, "old stuff")).toDF("doc_id", "text")
    val batch = Seq((10L, "old stuff\n\nfresh content")).toDF("doc_id", "text")
    val index0 = Dedup.paragraphIndex(corpus, col("text"))
    val kept = Dedup.paragraphDedupAgainst(batch, col("doc_id"), col("text"), index0)
      .select(col("doc_id"), col("clean_text").as("text"))
    val index1 = index0.union(Dedup.paragraphIndex(kept, col("text"))).distinct()
    val replay = Dedup.paragraphDedupAgainst(batch, col("doc_id"), col("text"), index1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(replay(10L) == 0L, "replayed batch must admit nothing")
  }

  test("incremental against an empty index equals the batch paragraphDedup") {
    val empty = Dedup.paragraphIndex(Seq.empty[String].toDF("text"), col("text"))
    for (docs <- corpora) {
      val df = docs.toDF("doc_id", "text")
      assert(rows(Dedup.paragraphDedupAgainst(df, col("doc_id"), col("text"), empty)) == run(docs),
        s"corpus $docs")
    }
  }
}
