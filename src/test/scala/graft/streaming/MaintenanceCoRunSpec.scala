package graft.streaming

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Composition e2e for the co-run maintenance job: drift monitor +
  * text near-dup store + embedding near-dup store over ONE stream of
  * batches — gates compose (each store sees what the previous gate
  * passed), replays stay idempotent end-to-end, auto-compaction keeps
  * BOTH stores bounded, and the monitor reports feed drift per batch.
  */
class MaintenanceCoRunSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  // text corpus: the IncrementalDedupSpec strings (recall at
  // threshold 0.5 is deterministic for these exact strings — xxhash64
  // banding is seedless)
  private val base = "the quick brown fox jumps over the lazy dog and runs far away into the green hills tonight again"
  private val nearDup = base.replace("green", "blue")
  private val other = "a completely different corpus row about distributed query engines and shuffle partitioning strategies"
  private val fresh = "entirely new content discussing watermark semantics in stateful stream processing pipelines"
  private val third = "the third subject is about the migration of birds across the southern hemisphere every year"

  // vectors: exact dup = cosine 1.0 = identical SRP signs in every
  // table, so the ANN drop below is deterministic
  private val vBase = Seq(1.0, 0.0, 0.2, 0.5)
  private val vOther = Seq(-0.5, 1.0, -0.3, 0.1)
  private val vFresh = Seq(0.1, 0.1, 1.0, -0.8)

  private val t0 = Timestamp.valueOf("2026-01-01 00:10:00")

  private def batchDf(rows: Seq[(Long, String, Option[Seq[Double]], Double)]) =
    rows.map { case (id, tx, v, value) => (id, tx, v, t0, value) }
      .toDF("doc_id", "text", "embedding", "ts", "value")

  test("gates compose, replays stay idempotent, stores stay bounded, monitor fires") {
    val root = tempDir("graft_corun_").toString
    // frozen reference: uniform 0..99 quality values, 5 bins
    val (cuts, refShares) = DriftMonitor.freezeReference(
      (0 until 100).map(i => i.toDouble).toDF("value"), "value", k = 5)
    assert(cuts.size == 4 && refShares.size == 5 &&
      math.abs(refShares.sum - 1.0) < 1e-9, s"$cuts / $refShares")

    val co = new MaintenanceCoRun(spark, root, cuts, refShares,
      textThreshold = 0.5, vecThreshold = 0.98)

    // batch 1: in-batch text near-dup (2) drops at the text gate
    // (its vector never reaches the ANN store); 1 and 3 accepted
    val k1 = co.processBatch(batchDf(Seq(
        (1L, base, Some(vBase), 10.0),
        (2L, nearDup, Some(vOther), 50.0),
        (3L, other, Some(vOther), 90.0))), batchId = 1L)
      .select("doc_id").as[Long].collect().sorted
    assert(k1.toSeq == Seq(1L, 3L), k1.toSeq.toString)

    // batch 2: 10 = exact text dup of accepted 1 (text gate drop);
    // 11 = fresh text but exact vector dup of accepted 1 (ANN drop);
    // 12 = fresh text, NO vector (passes the ANN gate vacuously)
    val k2 = co.processBatch(batchDf(Seq(
        (10L, base, Some(vFresh), 20.0),
        (11L, fresh, Some(vBase), 40.0),
        (12L, third, None, 60.0))), batchId = 2L)
      .select("doc_id").as[Long].collect().sorted
    assert(k2.toSeq == Seq(12L), k2.toSeq.toString)
    val r2 = co.ledgerRows.last
    assert(r2.n_in == 3 && r2.n_after_text_dedup == 2 &&
      r2.n_vec_checked == 1 && r2.n_kept == 1, r2.toString)

    // batch 3: REPLAY of batch 2 (crash between persist and commit) —
    // survivors must survive again through BOTH stores
    val k3 = co.processBatch(batchDf(Seq(
        (10L, base, Some(vFresh), 20.0),
        (11L, fresh, Some(vBase), 40.0),
        (12L, third, None, 60.0))), batchId = 3L)
      .select("doc_id").as[Long].collect().sorted
    assert(k3.toSeq == Seq(12L), s"replay must keep survivors: ${k3.toSeq}")

    // bounded state across the replay: the slack bound holds on every
    // ledger row (auto-compaction is allowed to have fired or not)
    co.ledgerRows.foreach { r =>
      assert(r.dedup_store_rows <= (1.5 * r.dedup_store_ids * 8).toLong,
        s"dedup store bloat past slack: $r")
      assert(r.ann_store_rows <= (1.5 * r.ann_store_ids * 8).toLong,
        s"ann store bloat past slack: $r")
    }
    // and after explicit compaction both stores are exactly clean:
    // bands (8) rows per id, nTables (8) rows per id
    co.dedup.compactStore()
    co.ann.compactStore()
    val (dr, di) = co.dedup.storeStats()
    val (ar, ai) = co.ann.storeStats()
    // TEXT-gate survivors: 1, 3, 11, 12 — 11 was later dropped by the
    // ANN gate but its text stays recorded: content-level dedup is
    // monotone (text seen once never re-admits), the curation policy
    // a sequential-gate pipeline implies
    assert(di == 4 && dr == di * 8, s"dedup store: $dr rows / $di ids")
    // ANN-gate survivors: 1, 3 (11's vector was a dup; 12 had none)
    assert(ai == 2 && ar == ai * 8, s"ann store: $ar rows / $ai ids")

    // batch 4: values far outside the reference — the monitor must
    // report materially larger drift than the in-range batches
    // (texts are fully distinct from everything stored)
    co.processBatch(batchDf(Seq(
      (20L, "completely fresh topic one discussing alpine glacier formation and seasonal snowpack dynamics", None, 1000.0),
      (21L, "another unrelated topic covering harbor logistics and container crane scheduling optimization", None, 1000.0))),
      batchId = 4L)
    val psis = co.ledgerRows.map(_.psi)
    assert(psis.forall(_ >= 0.0), psis.toString)
    assert(psis.last > psis.head + 0.5,
      s"shifted batch must alarm: $psis")

    // ledger surface: one row per processBatch call, in order
    val rep = co.report().select("batch_id").as[Long].collect().toSeq
    assert(rep == Seq(1L, 2L, 3L, 4L), rep.toString)
  }
}
