package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.ops.TextAnalysis

class IncrementalTextIndexSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val b1 = Seq(
    (1L, "hash join scan hash"),
    (2L, "filter row column hash"))
  private val b2 = Seq(
    (3L, "join join scan filter pad pad pad"),
    (4L, "completely unrelated words only"))

  test("two-batch index search equals corpus-scan BM25 exactly") {
    val dir = tempDir("graft_ix_").toString
    val ix = new IncrementalTextIndex(spark, dir)
    ix.indexBatch(b1.toDF("doc_id", "text"), "text", "doc_id")
    ix.indexBatch(b2.toDF("doc_id", "text"), "text", "doc_id")
    val got = ix.search(Seq("hash", "join"), k = 10)
      .as[(Long, Double, Long)].collect().toSet
    val want = TextAnalysis.bm25TopK((b1 ++ b2).toDF("doc_id", "text"),
        "text", "doc_id", Seq("hash", "join"), k = 10)
      .as[(Long, Double, Long)].collect().toSet
    assert(got == want, s"index search must replay the scan ranking:\n$got\n$want")
    assert(got.nonEmpty && !got.exists(_._1 == 4L))
  }

  test("crash replay cannot drift results; compaction is storage-only") {
    val dir = tempDir("graft_ix_rp_").toString
    val ix = new IncrementalTextIndex(spark, dir)
    ix.indexBatch(b1.toDF("doc_id", "text"), "text", "doc_id")
    val before = ix.search(Seq("hash"), 10).as[(Long, Double, Long)].collect().toSet
    // replayed batch: identical rows append, reads deduplicate
    ix.indexBatch(b1.toDF("doc_id", "text"), "text", "doc_id")
    val after = ix.search(Seq("hash"), 10).as[(Long, Double, Long)].collect().toSet
    assert(after == before, "replay must not change any score or rank")
    val (rows, distinct) = ix.storeStats()
    assert(rows == 2 * distinct, s"replay bloat expected: $rows vs $distinct")
    ix.compactStore()
    val (rows2, distinct2) = ix.storeStats()
    assert(rows2 == distinct && distinct2 == distinct)
    val compacted = ix.search(Seq("hash"), 10).as[(Long, Double, Long)].collect().toSet
    assert(compacted == before)
  }

  test("format marker guards against tokenization drift") {
    val dir = tempDir("graft_ix_fmt_").toString
    val ix = new IncrementalTextIndex(spark, dir)
    ix.indexBatch(b1.toDF("doc_id", "text"), "text", "doc_id")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/_FORMAT"), "0:other")
    val e = intercept[IllegalArgumentException] {
      new IncrementalTextIndex(spark, dir)
    }
    assert(e.getMessage.contains("rebuild the index"))
  }
}
