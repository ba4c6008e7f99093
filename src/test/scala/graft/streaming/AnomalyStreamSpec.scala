package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.streaming.EventStreams._

class AnomalyStreamSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def tsOf(s: String): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(s)

  /** Offline reference: the same strictly-earlier Welford fold in
    * (ts, id) order.
    */
  private def offline(evs: Seq[Event], z: Double,
                      minN: Long): Set[(Long, Double)] = {
    val out = scala.collection.mutable.Set.empty[(Long, Double)]
    evs.groupBy(_.event_type).foreach { case (_, g) =>
      var (count, mean, m2) = (0L, 0.0, 0.0)
      g.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
        if (count >= minN) {
          val sigma = math.sqrt(m2 / count)
          if (sigma > 0 && math.abs(e.value - mean) > z * sigma)
            out += ((e.event_id,
              math.floor((e.value - mean) / sigma * 10000 + 0.5) / 10000))
        }
        count += 1
        val d = e.value - mean
        mean += d / count
        m2 += d * (e.value - mean)
      }
    }
    out.toSet
  }

  /** Drive the stream from parquet batches written as separate files. */
  private def run(batches: Seq[Seq[Event]], z: Double,
                  minN: Long, name: String): Set[(Long, Double)] = {
    val dir = tempDir("graft_anom_").toString
    val cp = tempDir("graft_anom_cp_").toString
    batches.head.toDS().coalesce(1).write.parquet(dir + "/b0")
    val src = spark.readStream.schema(batches.head.toDS().schema)
      .option("maxFilesPerTrigger", "1").parquet(dir + "/*")
      // wide enough that every shuffled arrival stays ABOVE the
      // watermark — the exactness contract's domain; sub-watermark
      // late data is best-effort like any watermarked operator
      .withWatermark("ts", "2 hours")
    val q = anomalyStream(src.as[Event], z, minN)
      .writeStream.outputMode("append").format("memory")
      .option("checkpointLocation", cp).queryName(name).start()
    try {
      q.processAllAvailable()
      batches.tail.zipWithIndex.foreach { case (b, i) =>
        b.toDS().coalesce(1).write.mode("append").parquet(s"$dir/b${i + 1}")
        q.processAllAvailable()
      }
      // advance the watermark far past every event so buffers finalize
      Seq(Event(999999L, tsOf("2024-02-01 00:00:00"), 0, "__flush", 0.0))
        .toDS().coalesce(1).write.mode("append").parquet(dir + "/zz1")
      q.processAllAvailable()
      Seq(Event(999998L, tsOf("2024-02-01 01:00:00"), 0, "__flush", 0.0))
        .toDS().coalesce(1).write.mode("append").parquet(dir + "/zz2")
      q.processAllAvailable()
      spark.table(name).select("event_id", "z")
        .as[(Long, Double)].collect().toSet
    } finally q.stop()
  }

  private def ev(id: Long, t: String, tpe: String, v: Double) =
    Event(id, tsOf(t), 1L, tpe, v)

  test("spike after minN steady events flags with the exact z") {
    // 5 steady values then a spike; minN=3 so the spike has stats
    val evs = (1 to 5).map(i =>
      ev(i, f"2024-01-01 10:0$i:00", "a", 10.0 + (i % 2))) :+
      ev(6, "2024-01-01 10:08:00", "a", 100.0)
    val got = run(Seq(evs), z = 3.0, minN = 3, "anom1")
    assert(got == offline(evs, 3.0, 3), got.toString)
    assert(got.map(_._1) == Set(6L), got.toString)
  }

  test("no flags before minN prior events; zero-variance prefix never divides") {
    val evs = (1 to 4).map(i =>
      ev(i, f"2024-01-01 10:0$i:00", "b", 5.0)) :+ // constant: sigma 0
      ev(5, "2024-01-01 10:07:00", "b", 50.0)     // huge but sigma=0 -> skip
    val got = run(Seq(evs), z = 2.0, minN = 3, "anom2")
    assert(got.isEmpty, got.toString)
  }

  test("property: hits are independent of batch slicing and arrival order") {
    val rnd = new scala.util.Random(17)
    val evs = (1 to 60).map { i =>
      val tpe = if (i % 2 == 0) "x" else "y"
      ev(i.toLong, f"2024-01-01 ${10 + i / 60}%02d:${i % 60}%02d:00", tpe,
        if (i % 17 == 0) 80.0 + rnd.nextInt(20) else 10.0 + rnd.nextDouble())
    }
    val want = offline(evs, 2.5, 5)
    assert(want.nonEmpty, "fixture must produce at least one anomaly")
    // slicing A: one batch; slicing B: shuffled thirds (out-of-order
    // arrival WITHIN the watermark window)
    val a = run(Seq(evs), 2.5, 5, "anom3a")
    val shuffled = rnd.shuffle(evs.toList)
    val b = run(shuffled.grouped(20).toSeq, 2.5, 5, "anom3b")
    assert(a == want, s"single batch diverged:\n$a\n$want")
    assert(b == want, s"sliced/shuffled diverged:\n$b\n$want")
  }
}
