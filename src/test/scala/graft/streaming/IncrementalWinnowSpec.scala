package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class IncrementalWinnowSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  // 20 distinct tokens: enough windows (k=3, w=3) for stable fractions
  private val base = (1 to 20).map(i => s"b$i").mkString(" ")
  private val other = (1 to 20).map(i => s"o$i").mkString(" ")
  // 15 of 20 tokens verbatim from base -> well above the 0.4 threshold
  private val halfCopy =
    ((1 to 15).map(i => s"b$i") ++ (1 to 5).map(i => s"h$i")).mkString(" ")
  // a small graze: 4 shared tokens out of 20 -> overlap well under 0.4
  private val graze =
    ((1 to 4).map(i => s"b$i") ++ (1 to 16).map(i => s"g$i")).mkString(" ")

  test("partial verbatim overlap is caught across batches; grazes survive") {
    val dir = tempDir("graft_incwin_").toString
    val win = new IncrementalWinnow(spark, dir, k = 3, w = 3, threshold = 0.4)

    val b1 = Seq((1L, base), (2L, other)).toDF("doc_id", "text")
    val kept1 = win.processBatch(b1, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(kept1.toSeq == Seq(1L, 2L))

    // expected decisions derived from the BATCH operator itself, so
    // the case is robust to which windows the md5 minima select
    def fpsOf(text: String): Set[String] =
      graft.ops.Dedup.winnowFingerprints(
        Seq((0L, text)).toDF("doc_id", "text"), "text", "doc_id", 3, 3)
        .select("__fp").as[String].collect().toSet
    val baseFps = fpsOf(base) ++ fpsOf(other)
    def frac(text: String): Double = {
      val f = fpsOf(text)
      f.count(baseFps).toDouble / f.size
    }
    assert(frac(halfCopy) >= 0.4,
      s"fixture must overlap above threshold: ${frac(halfCopy)}")
    assert(frac(graze) < 0.4,
      s"fixture must graze below threshold: ${frac(graze)}")

    val b2 = Seq((10L, halfCopy), (11L, graze)).toDF("doc_id", "text")
    val kept2 = win.processBatch(b2, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(kept2.toSeq == Seq(11L),
      s"half-verbatim doc must drop, graze must survive: ${kept2.toSeq}")
  }

  test("intra-batch wholesale copy drops; first occurrence wins") {
    val dir = tempDir("graft_incwin_ib_").toString
    val win = new IncrementalWinnow(spark, dir, k = 3, w = 3, threshold = 0.4)
    val b = Seq((1L, base), (2L, base), (3L, other)).toDF("doc_id", "text")
    val kept = win.processBatch(b, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(1L, 3L), s"got ${kept.toSeq}")
  }

  test("replaying a crashed batch keeps its survivors (self-exclusion)") {
    val dir = tempDir("graft_incwin_rp_").toString
    val win = new IncrementalWinnow(spark, dir, k = 3, w = 3, threshold = 0.4)
    val b = Seq((1L, base), (2L, other)).toDF("doc_id", "text")
    assert(win.processBatch(b, "text", "doc_id").count() == 2)
    // crash replay: identical batch re-presented — output must repeat
    val replay = win.processBatch(b, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(replay.toSeq == Seq(1L, 2L),
      s"replay must not self-match persisted fingerprints: ${replay.toSeq}")
    // compaction collapses the replay's duplicate (id, fp) rows and a
    // third replay still behaves identically
    win.compactStore()
    val again = win.processBatch(b, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(again.toSeq == Seq(1L, 2L))
  }

  test("short docs carry no overlap evidence and always survive") {
    val dir = tempDir("graft_incwin_sd_").toString
    val win = new IncrementalWinnow(spark, dir, k = 3, w = 3, threshold = 0.4)
    val b = Seq((1L, base)).toDF("doc_id", "text")
    win.processBatch(b, "text", "doc_id").count()
    // 4 tokens < k + w - 1 = 5: no complete window, kept even though
    // every token is verbatim from an accepted doc
    val short = Seq((2L, "b1 b2 b3 b4")).toDF("doc_id", "text")
    val kept = win.processBatch(short, "text", "doc_id")
      .select("doc_id").as[Long].collect()
    assert(kept.toSeq == Seq(2L))
  }

  test("reopening with different selection parameters fails fast") {
    val dir = tempDir("graft_incwin_fm_").toString
    val win = new IncrementalWinnow(spark, dir, k = 3, w = 3)
    win.processBatch(Seq((1L, base)).toDF("doc_id", "text"), "text", "doc_id").count()
    val e = intercept[IllegalArgumentException] {
      new IncrementalWinnow(spark, dir, k = 4, w = 3)
    }
    assert(e.getMessage.contains("format"))
  }
}
