package graft.streaming

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Kill-and-resume durability for the composed maintenance co-run:
  * the process dies after batch 2, a NEW MaintenanceCoRun instance is
  * built over the SAME store root (rebuilding both cross-batch stores
  * from their parquet state alone — no driver memory survives),
  * batch 2 is replayed (the at-least-once restart contract), and the
  * stream continues. The resumed run must accept exactly what an
  * uninterrupted single-process run accepts, with identical per-batch
  * gate counts.
  */
class MaintenanceCoRunRestartSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and runs far away into the green hills tonight again"
  private val nearDup = base.replace("green", "blue")
  private val other = "a completely different corpus row about distributed query engines and shuffle partitioning strategies"
  private val fresh = "entirely new content discussing watermark semantics in stateful stream processing pipelines"
  private val third = "the third subject is about the migration of birds across the southern hemisphere every year"
  private val fourth = "a fourth topic covering parquet footer statistics and partition pruning behaviour at scale"

  private val vBase = Seq(1.0, 0.0, 0.2, 0.5)
  private val vOther = Seq(-0.5, 1.0, -0.3, 0.1)
  private val vFresh = Seq(0.1, 0.1, 1.0, -0.8)

  private val t0 = Timestamp.valueOf("2026-01-01 00:10:00")

  private def batchDf(rows: Seq[(Long, String, Option[Seq[Double]], Double)]) =
    rows.map { case (id, tx, v, value) => (id, tx, v, t0, value) }
      .toDF("doc_id", "text", "embedding", "ts", "value")

  private val batch1 = Seq(
    (1L, base, Some(vBase), 10.0),
    (2L, nearDup, Some(vOther), 50.0), // text near-dup of 1 → text gate
    (3L, other, Some(vOther), 90.0))
  private val batch2 = Seq(
    (10L, base, Some(vFresh), 20.0), // exact text dup of accepted 1
    (11L, fresh, Some(vBase), 40.0), // vector dup of accepted 1 → ANN gate
    (12L, third, None, 60.0)) // no vector: passes ANN vacuously
  private val batch3 = Seq(
    (20L, fourth, Some(vFresh), 30.0), // fresh text+vector: accepted
    (21L, third, Some(vOther), 70.0)) // text dup of accepted 12

  private def runBatches(co: MaintenanceCoRun,
                         batches: Seq[(Long, Seq[(Long, String, Option[Seq[Double]], Double)])]): Seq[Seq[Long]] =
    batches.map { case (id, rows) =>
      co.processBatch(batchDf(rows), id)
        .select("doc_id").as[Long].collect().sorted.toSeq
    }

  test("restart from parquet state + batch replay = uninterrupted run") {
    val (cuts, refShares) = DriftMonitor.freezeReference(
      (0 until 100).map(i => i.toDouble).toDF("value"), "value", k = 5)

    // --- control: one uninterrupted process over its own root ---
    val rootA = tempDir("graft_corun_ctl_").toString
    val control = new MaintenanceCoRun(spark, rootA, cuts, refShares,
      textThreshold = 0.5, vecThreshold = 0.98)
    val ctl = runBatches(control,
      Seq(1L -> batch1, 2L -> batch2, 3L -> batch3))

    // --- resumed: process 1 dies after batch 2 ---
    val rootB = tempDir("graft_corun_res_").toString
    val proc1 = new MaintenanceCoRun(spark, rootB, cuts, refShares,
      textThreshold = 0.5, vecThreshold = 0.98)
    val p1 = runBatches(proc1, Seq(1L -> batch1, 2L -> batch2))
    assert(p1 == ctl.take(2), s"pre-crash divergence: $p1 vs ${ctl.take(2)}")
    // process 2: NEW instance, same root — only parquet state survives.
    // The restart contract is at-least-once: batch 2 replays first.
    val proc2 = new MaintenanceCoRun(spark, rootB, cuts, refShares,
      textThreshold = 0.5, vecThreshold = 0.98)
    val replayed = runBatches(proc2, Seq(2L -> batch2)).head
    assert(replayed == ctl(1),
      s"replay after restart must keep exactly the original survivors: $replayed vs ${ctl(1)}")
    val resumed = runBatches(proc2, Seq(3L -> batch3)).head
    assert(resumed == ctl(2),
      s"post-restart batch diverged from uninterrupted run: $resumed vs ${ctl(2)}")

    // per-batch gate counts of the post-restart batch match the control
    val ctlRow = control.ledgerRows.last
    val resRow = proc2.ledgerRows.last
    assert((resRow.n_in, resRow.n_after_text_dedup, resRow.n_vec_checked,
        resRow.n_kept) ==
      ((ctlRow.n_in, ctlRow.n_after_text_dedup, ctlRow.n_vec_checked,
        ctlRow.n_kept)), s"$resRow vs $ctlRow")

    // rebuilt stores carry the same accepted-id state as the control's
    val (_, ctlDedupIds) = control.dedup.storeStats()
    val (_, resDedupIds) = proc2.dedup.storeStats()
    val (_, ctlAnnIds) = control.ann.storeStats()
    val (_, resAnnIds) = proc2.ann.storeStats()
    assert(ctlDedupIds == resDedupIds && ctlAnnIds == resAnnIds,
      s"store id sets diverged: dedup $resDedupIds vs $ctlDedupIds, " +
        s"ann $resAnnIds vs $ctlAnnIds")
  }
}
