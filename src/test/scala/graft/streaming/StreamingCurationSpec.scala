package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.ops.Curation

/** Composition e2e: a streaming corpus-curation pipeline — per batch,
  * the declarative quality/dedup gate (ops.Curation) feeds the
  * cross-batch incremental near-dup store (IncrementalDedup) inside
  * foreachBatch, exactly the shape a 100-TB continuous-ingest pipeline
  * runs: batch-local work is declarative, only the signature store
  * carries state forward.
  */
class StreamingCurationSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val good1 =
    "the quick brown fox jumps over the lazy dog with energy and the speed of light"
  private val good2 =
    "a completely different article about the economy of scale in modern data systems"
  // near-dup of good1: only the FINAL token differs, which perturbs a
  // single 3-shingle -> J = 13/15 = 0.87 (a mid-sentence edit touches
  // 3 shingles and would dilute J below the 0.7 store threshold)
  private val nearDup1 =
    "the quick brown fox jumps over the lazy dog with energy and the speed of sound"
  private val fresh =
    "the third subject is about the migration of birds across the southern hemisphere"

  test("streaming curation gates quality per batch and dedups across batches") {
    val root = tempDir("graft_stream_cur_").toString
    val in = s"$root/in"
    val store = s"$root/store"
    val outDir = s"$root/out"

    // batch 1 lands before the stream starts; batch 2 arrives "later"
    Seq((1L, good1), (2L, good2), (3L, good2))                 // 3 = exact dup of 2
      .toDF("doc_id", "text").write.parquet(s"$in/b1")

    val dedup = new IncrementalDedup(spark, store, threshold = 0.7)
    val schema = Seq((0L, "")).toDF("doc_id", "text").schema
    val src = spark.readStream.schema(schema).parquet(s"$in/*")
    def run(): Unit = {
      val q = src.writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          val curated = Curation.curate(batch, "text", "doc_id",
            minQuality = 0.6)
          val kept = dedup.processBatch(curated, "text", "doc_id")
          kept.select(col("doc_id"))
            .write.mode("append").parquet(outDir)
          ()
        }
        .option("checkpointLocation", s"$root/ckpt")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    assert(spark.read.parquet(outDir).select("doc_id").as[Long].collect()
      .sorted.toSeq == Seq(1L, 2L), "batch 1: exact dup dropped, both texts kept")

    Seq((4L, nearDup1), (5L, "x"), (6L, fresh))
      .toDF("doc_id", "text").write.parquet(s"$in/b2")
    run()
    val finalIds = spark.read.parquet(outDir).select("doc_id").as[Long]
      .collect().sorted.toSeq
    assert(finalIds == Seq(1L, 2L, 6L),
      s"near-dup of batch-1 doc and low-quality doc must be gone: $finalIds")
  }

  test("e2e: quality + decontamination + incremental dedup + metrics replays " +
    "idempotently across a forced mid-batch crash") {
    val root = tempDir("graft_stream_e2e_").toString
    val in = s"$root/in"
    val store = s"$root/store"
    val outDir = s"$root/out"
    val ckpt = s"$root/ckpt"
    val leaked = "the held out benchmark question that must never reach training"

    val metrics = new StreamMetrics().attach(spark)
    try {
      val evalSet = Seq(leaked).toDF("text")
      Seq((1L, good1), (2L, good2), (3L, good2), (4L, leaked))
        .toDF("doc_id", "text").write.parquet(s"$in/b1")

      val dedup = new IncrementalDedup(spark, store, threshold = 0.7)
      val schema = Seq((0L, "")).toDF("doc_id", "text").schema
      val src = spark.readStream.schema(schema).parquet(s"$in/*")
      def run(): Unit = {
        val q = src.writeStream
          .queryName("curation-e2e")
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
            val curated = graft.ops.Curation.curate(batch, "text", "doc_id",
              minQuality = 0.6)
            val clean = graft.ops.Corpus.decontaminateBloom(
              curated, evalSet, "text", "text")
            val kept = dedup.processBatch(clean, "text", "doc_id")
            // idempotent sink: one overwritten dir PER BATCH — a replayed
            // batch rewrites its own path instead of double-appending,
            // which is what makes crash-replay output-exact end to end
            kept.select(col("doc_id"))
              .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
            ()
          }
          .option("checkpointLocation", ckpt)
          .start()
        // stop() can return before the manager releases the checkpoint
        // lease; a back-to-back restart then dies with "multiple
        // streaming queries are concurrently using <ckpt>/commits" —
        // wait until the query has fully deregistered
        try q.processAllAvailable() finally {
          q.stop()
          q.awaitTermination()
          val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
          while (spark.streams.active.exists(_.id == q.id) &&
            System.nanoTime() < deadline) Thread.sleep(50)
        }
      }
      def outIds(): Seq[Long] =
        spark.read.parquet(outDir).select("doc_id").as[Long].collect().sorted.toSeq

      run() // batch 0: exact dup 3 and contaminated 4 dropped
      assert(outIds() == Seq(1L, 2L), s"batch 0 curation: ${outIds()}")

      Seq((5L, nearDup1), (6L, "x"), (7L, fresh))
        .toDF("doc_id", "text").write.parquet(s"$in/b2")
      run() // batch 1: near-dup 5 and low-quality 6 dropped
      val clean = outIds()
      assert(clean == Seq(1L, 2L, 7L), s"batch 1 curation: $clean")

      // forced crash: kill batch 1's commit marker — the restart sees
      // offsets without a commit, i.e. a job that died AFTER its
      // foreachBatch side effects ran, and must replay the batch
      val commit = java.nio.file.Paths.get(s"$ckpt/commits/1")
      assert(java.nio.file.Files.deleteIfExists(commit), "commit marker must exist")
      // the local ChecksumFs keeps a hidden .crc sibling; leaving it
      // behind would fail the replayed commit's rename, which is a
      // DIFFERENT failure than the crash being simulated
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(s"$ckpt/commits/.1.crc"))
      run()
      assert(outIds() == clean,
        s"replay must be output-idempotent: ${outIds()} vs $clean")

      // the signature store absorbed the replayed append without
      // unbounded growth: a clean store is bands(=8) rows per surviving
      // id, auto-compaction caps it at slack(=1.5) x that
      val sigRows = spark.read.parquet(s"$store/signatures").count()
      assert(sigRows <= (1.5 * 3 * 8).toLong,
        s"store must stay within the auto-compaction bound: $sigRows rows")

      // the listener observed the whole run, including the replay, and
      // the pipeline is stateless on the engine side (state lives in the
      // signature store, not in streaming state rows)
      val h = metrics.health(spark)
        .filter(col("queryName") === "curation-e2e")
        .agg(sum(col("n_batches")), sum(col("total_rows")), max(col("state_rows")))
        .collect()(0)
      assert(h.getLong(0) >= 3, s"expected >=3 observed batches: $h")
      assert(h.getLong(1) >= 7, s"expected >=7 input rows observed: $h")
      assert(h.getLong(2) == 0L, s"no streaming state expected: $h")
    } finally metrics.detach(spark)
  }
}
