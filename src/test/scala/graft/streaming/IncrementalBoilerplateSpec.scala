package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class IncrementalBoilerplateSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def mkDocs(ids: Range, footer: String): Seq[(Long, String)] =
    ids.map(i => (i.toLong, s"unique line $i\n$footer"))

  test("boilerplate crossing minDocs is dropped in-batch and in later batches") {
    val dir = tempDir("graft_incboiler_").toString
    val inc = new IncrementalBoilerplate(spark, dir, minDocs = 5)

    // batch 1: 6 docs share the footer (>= 5 distinct) -> dropped from
    // THIS batch already; unique lines survive
    val b1 = mkDocs(0 until 6, "subscribe now").toDF("doc_id", "text")
    val out1 = inc.processBatch(b1, "text", "doc_id")
      .orderBy("doc_id").select("doc_id", "clean_text", "n_kept")
      .as[(Long, String, Long)].collect()
    assert(out1.forall(r => r._2 == s"unique line ${r._1}" && r._3 == 1L),
      out1.toSeq.toString)

    // batch 2: a SINGLE new doc with the known footer -> store evidence
    // alone drops it; a fresh footer seen only twice total survives
    val b2 = Seq(
      (10L, "fresh content\nsubscribe now"),
      (11L, "other content\nrare footer"),
      (12L, "more content\nrare footer")).toDF("doc_id", "text")
    val out2 = inc.processBatch(b2, "text", "doc_id")
      .orderBy("doc_id").select("doc_id", "clean_text")
      .as[(Long, String)].collect()
    assert(out2(0) == ((10L, "fresh content")), out2(0).toString)
    assert(out2(1) == ((11L, "other content\nrare footer")), out2(1).toString)
    assert(out2(2) == ((12L, "more content\nrare footer")), out2(2).toString)
  }

  test("crash replay never inflates frequencies; compaction is storage-only") {
    val dir = tempDir("graft_incboiler_").toString
    val inc = new IncrementalBoilerplate(spark, dir, minDocs = 5)

    // 3 docs with a shared footer: below the bar, nothing dropped
    val b1 = mkDocs(0 until 3, "shared footer").toDF("doc_id", "text")
    assert(inc.processBatch(b1, "text", "doc_id")
      .filter($"n_kept" < $"n_lines").count() == 0)

    // replay the SAME batch twice more (crashed foreachBatch retries):
    // a running counter would now see df=9 >= 5 and wrongly drop; the
    // distinct-sighting store still counts 3 docs
    inc.processBatch(b1, "text", "doc_id").count()
    val out = inc.processBatch(b1, "text", "doc_id")
      .filter($"n_kept" < $"n_lines").count()
    assert(out == 0, "replays must not inflate doc frequency")

    val (rows, distinct) = inc.storeStats()
    assert(rows == 3 * distinct, s"3 appends -> 3x bloat, got $rows vs $distinct")
    inc.compactStore()
    val (rows2, distinct2) = inc.storeStats()
    assert(rows2 == distinct && distinct2 == distinct, "compaction dedups only")

    // two genuinely NEW docs with the footer push df to 5: dropped now
    val b2 = mkDocs(10 until 12, "shared footer").toDF("doc_id", "text")
    val cleaned = inc.processBatch(b2, "text", "doc_id")
      .orderBy("doc_id").select("clean_text").as[String].collect()
    assert(cleaned.toSeq == Seq("unique line 10", "unique line 11"))
  }

  test("reopening with a different format marker fails fast") {
    val dir = tempDir("graft_incboiler_").toString
    new IncrementalBoilerplate(spark, dir, minDocs = 5)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/_FORMAT"), "0:xxh-lines")
    val e = intercept[IllegalArgumentException] {
      new IncrementalBoilerplate(spark, dir, minDocs = 5)
    }
    assert(e.getMessage.contains("line-hash format"))
  }
}
