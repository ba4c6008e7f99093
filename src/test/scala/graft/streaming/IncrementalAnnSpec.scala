package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class IncrementalAnnSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  // near-identical vectors (cosine ~0.999) vs an orthogonal-ish one
  private val base = Array(1.0, 0.0, 0.2, 0.5)
  private val nearDup = Array(0.99, 0.01, 0.21, 0.5)
  private val other = Array(-0.5, 1.0, -0.3, 0.1)

  test("embedding near-dups are dropped across batches and within a batch") {
    val dir = tempDir("graft_incann_").toString
    val ann = new IncrementalAnn(spark, dir, nBits = 4, nTables = 16, threshold = 0.98)

    // batch 1: base accepted; in-batch near-dup (id 2) dropped
    val b1 = Seq((1L, base.toSeq), (2L, nearDup.toSeq), (3L, other.toSeq))
      .toDF("vec_id", "embedding")
    val kept1 = ann.processBatch(b1, "embedding", "vec_id")
      .select("vec_id").as[Long].collect().sorted
    assert(kept1.toSeq == Seq(1L, 3L), s"in-batch near-dup must drop: ${kept1.toSeq}")

    // batch 2: exact dup of the accepted vector dropped, fresh one kept
    val fresh = Array(0.1, 0.1, 1.0, -0.8)
    val b2 = Seq((10L, base.toSeq), (11L, fresh.toSeq)).toDF("vec_id", "embedding")
    val kept2 = ann.processBatch(b2, "embedding", "vec_id")
      .select("vec_id").as[Long].collect().sorted
    assert(kept2.toSeq == Seq(11L), s"cross-batch dup must drop: ${kept2.toSeq}")

    // batch 3: near-dup of the batch-2 survivor also dropped
    val b3 = Seq((20L, Array(0.11, 0.1, 0.99, -0.8).toSeq)).toDF("vec_id", "embedding")
    val kept3 = ann.processBatch(b3, "embedding", "vec_id")
      .select("vec_id").as[Long].collect()
    assert(kept3.isEmpty, s"near-dup of accepted vector must drop: ${kept3.toSeq}")
  }

  test("replaying a crashed batch keeps its survivors (no self-match drop)") {
    val dir = tempDir("graft_incann_rp_").toString
    val ann = new IncrementalAnn(spark, dir, nBits = 4, nTables = 16, threshold = 0.98)
    val b = Seq((1L, base.toSeq), (2L, other.toSeq)).toDF("vec_id", "embedding")
    val first = ann.processBatch(b, "embedding", "vec_id")
      .select("vec_id").as[Long].collect().sorted
    assert(first.toSeq == Seq(1L, 2L))
    val replay = ann.processBatch(b, "embedding", "vec_id")
      .select("vec_id").as[Long].collect().sorted
    assert(replay.toSeq == Seq(1L, 2L),
      s"replayed survivors must survive again: ${replay.toSeq}")
  }

  test("compactStore removes replay duplicates and preserves matching") {
    val dir = tempDir("graft_incann_cp_").toString
    // autoCompactSlack = 0: this test exercises the MANUAL compaction
    // path, so the automatic trigger must not fire mid-assert
    val ann = new IncrementalAnn(spark, dir, nBits = 4, nTables = 16,
      threshold = 0.98, autoCompactSlack = 0)
    val b = Seq((1L, base.toSeq), (2L, other.toSeq)).toDF("vec_id", "embedding")
    ann.processBatch(b, "embedding", "vec_id")
    val clean = spark.read.parquet(s"$dir/srp_signatures").count()
    ann.processBatch(b, "embedding", "vec_id") // crash replay re-appends
    assert(spark.read.parquet(s"$dir/srp_signatures").count() == 2 * clean)
    ann.compactStore()
    assert(spark.read.parquet(s"$dir/srp_signatures").count() == clean,
      "replayed batch must leave the compacted store row count unchanged")
    // the compacted store still matches: a near-dup of an accepted vector drops
    val kept = ann.processBatch(
        Seq((10L, nearDup.toSeq)).toDF("vec_id", "embedding"), "embedding", "vec_id")
      .select("vec_id").as[Long].collect()
    assert(kept.isEmpty, s"compacted store must still catch near-dups: ${kept.toSeq}")
  }

  test("auto-compaction keeps a long replay run bounded with no explicit compact") {
    val dir = tempDir("graft_incann_ac_").toString
    val ann = new IncrementalAnn(spark, dir, nBits = 4, nTables = 16,
      threshold = 0.98) // default slack
    val b = Seq((1L, base.toSeq), (2L, other.toSeq)).toDF("vec_id", "embedding")
    val bound = (1.5 * 2 * 16).toLong // slack x ids x nTables
    (1 to 6).foreach { i =>
      val kept = ann.processBatch(b, "embedding", "vec_id")
        .select("vec_id").as[Long].collect().sorted
      assert(kept.toSeq == Seq(1L, 2L), s"replay $i survivors: ${kept.toSeq}")
      val rows = spark.read.parquet(s"$dir/srp_signatures").count()
      assert(rows <= bound, s"store must stay bounded after replay $i: $rows > $bound")
    }
    val kept2 = ann.processBatch(
        Seq((10L, nearDup.toSeq)).toDF("vec_id", "embedding"), "embedding", "vec_id")
      .select("vec_id").as[Long].collect()
    assert(kept2.isEmpty, s"auto-compacted store must still catch near-dups: ${kept2.toSeq}")
  }

  test("adversarial: zero-norm vectors neither drop others nor get dropped as dups") {
    // the streaming face of Similarity.safeCosine: an all-zeros
    // embedding has no direction — it must pass through (cosine 0 to
    // everything) and must never make OTHER rows look like its dups,
    // across batches included
    val dir = tempDir("graft_incann_z_").toString
    val ann = new IncrementalAnn(spark, dir, nBits = 4, nTables = 16, threshold = 0.9)
    val zero = Array(0.0, 0.0, 0.0, 0.0)
    val b1 = Seq((1L, zero.toSeq), (2L, base.toSeq)).toDF("vec_id", "embedding")
    val kept1 = ann.processBatch(b1, "embedding", "vec_id")
      .select("vec_id").as[Long].collect().sorted
    assert(kept1.toSeq == Seq(1L, 2L), s"zero vector and real vector both kept: ${kept1.toSeq}")
    // a second zero vector: cosine(0,0) is defined as 0, NOT a dup
    val b2 = Seq((10L, zero.toSeq), (11L, other.toSeq)).toDF("vec_id", "embedding")
    val kept2 = ann.processBatch(b2, "embedding", "vec_id")
      .select("vec_id").as[Long].collect().sorted
    assert(kept2.toSeq == Seq(10L, 11L),
      s"zero vectors must not near-dup-match each other: ${kept2.toSeq}")
  }

  test("reopening a store with different hyperparameters fails fast") {
    val dir = tempDir("graft_incann_hp_").toString
    val ann = new IncrementalAnn(spark, dir, nBits = 4, nTables = 16)
    ann.processBatch(Seq((1L, base.toSeq)).toDF("vec_id", "embedding"),
      "embedding", "vec_id")
    new IncrementalAnn(spark, dir, nBits = 4, nTables = 16) // same params: fine
    val e = intercept[IllegalArgumentException] {
      new IncrementalAnn(spark, dir, nBits = 8, nTables = 8)
    }
    assert(e.getMessage.contains("bucket format"))
  }
}
