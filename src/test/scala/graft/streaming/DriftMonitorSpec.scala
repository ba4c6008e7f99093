package graft.streaming

import java.sql.Timestamp

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class DriftMonitorSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def tsOf(s: String) = Timestamp.valueOf(s)

  // two reference bins: <= 10 and > 10, each holding half the baseline
  private val cuts = Seq(10.0)
  private val refShares = Seq(0.5, 0.5)

  private val balanced = (1 to 4).map(i =>
    (tsOf("2024-01-01 10:05:00"), i * 2.0)) ++        // 2,4,6,8 <= 10
    (1 to 4).map(i => (tsOf("2024-01-01 10:35:00"), 10.0 + i)) // > 10
  private val shifted = (1 to 8).map(i =>
    (tsOf("2024-01-01 12:05:00"), 50.0 + i))          // all > 10

  test("batch parity: matching window PSI 0, shifted window hand value") {
    val df = (balanced ++ shifted).toDF("ts", "value")
    val counts = DriftMonitor.binCounts(df, "ts", "value", cuts, "1 hour")
    val got = DriftMonitor.psiOf(counts, refShares)
      .as[(Timestamp, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    val eps = 1e-6
    def term(p: Double, q: Double) = (p - q) * math.log(p / q)
    val handShift = math.floor(
      (term(eps, 0.5) + term(1.0, 0.5)) * 1e6 + 0.5) / 1e6
    assert(got(tsOf("2024-01-01 10:00:00")) == ((8L, 0.0)), got.toString)
    val (nShift, psiShift) = got(tsOf("2024-01-01 12:00:00"))
    assert(nShift == 8L && math.abs(psiShift - handShift) < 1e-6,
      got.toString)
    assert(psiShift > 0.25, "a wholesale shift must clear the alert bar")
  }

  test("psiOf fails loudly when a bin exceeds the refShares range") {
    // k-vs-cutoffs off-by-one: bins go to 3 but only 2 shares passed —
    // the eps floor would otherwise fake a massive drift silently
    val counts = Seq((tsOf("2024-01-01 10:00:00"), 3L, 5L))
      .toDF("window_start", "bin", "n")
    val e = intercept[Exception] {
      DriftMonitor.psiOf(counts, refShares).collect()
    }
    assert(e.getMessage.contains("refShares range") ||
      Option(e.getCause).exists(_.getMessage.contains("refShares range")),
      e.toString)
  }

  test("streaming: watermark finalizes a window's counts exactly once") {
    val dir = tempDir("graft_drift_ev_").toString
    val cp = tempDir("graft_drift_cp_").toString
    balanced.toDF("ts", "value").write.parquet(dir + "/b1")
    val src = spark.readStream
      .schema(balanced.toDF("ts", "value").schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir + "/*")
    val q = DriftMonitor.binCounts(src, "ts", "value", cuts,
        "1 hour", watermark = "1 minute")
      .writeStream.outputMode("append").format("memory")
      .option("checkpointLocation", cp)
      .queryName("drift_out").start()
    try {
      q.processAllAvailable()
      // watermark hasn't passed the 10:00 window yet: nothing emitted
      assert(spark.table("drift_out").isEmpty)
      shifted.toDF("ts", "value").write.mode("append").parquet(dir + "/b2")
      q.processAllAvailable()
      // the 12:05 data pushed the watermark past 11:00 -> the 10:00
      // window surfaces, finalized; the 12:00 window stays open
      val counts = spark.table("drift_out")
      val psi = DriftMonitor.psiOf(counts, refShares)
        .as[(Timestamp, Long, Double)].collect().toSeq
      assert(psi == Seq((tsOf("2024-01-01 10:00:00"), 8L, 0.0)),
        psi.toString)
    } finally q.stop()
  }
}
