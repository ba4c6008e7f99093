package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

class StreamMetricsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  test("listener records batch progress and health rolls it up") {
    val dir = tempDir("graft_metrics_").toString
    (1 to 50).map(i => (i.toLong, s"row $i")).toDF("id", "payload")
      .write.parquet(s"$dir/in/b1")

    val sm = new StreamMetrics(keep = 8).attach(spark)
    try {
      val src = spark.readStream
        .schema(Seq((0L, "")).toDF("id", "payload").schema)
        .parquet(s"$dir/in/*")
      val q = src.writeStream.outputMode("append").format("noop")
        .queryName("metrics_probe")
        .option("checkpointLocation", s"$dir/ckpt").start()
      try q.processAllAvailable() finally q.stop()
      // progress events are posted asynchronously on the listener bus —
      // a stopped query may not have flushed yet
      var tries = 0
      while (sm.metrics(spark).isEmpty && tries < 50) { Thread.sleep(100); tries += 1 }

      val m = sm.metrics(spark)
      assert(m.count() >= 1, "at least one batch recorded")
      val row = sm.health(spark)
        .filter($"queryName" === "metrics_probe")
        .select("n_batches", "total_rows").as[(Long, Long)].collect()
      assert(row.nonEmpty && row.head._1 >= 1 && row.head._2 == 50L,
        s"health rollup: ${row.toSeq}")
    } finally sm.detach(spark)
  }

  test("ring is bounded per query") {
    // three restarts of the same checkpointed query = three batches
    // through one queryId; keep=1 must retain only the newest
    val dir = tempDir("graft_metrics2_").toString
    val one = new StreamMetrics(keep = 1).attach(spark)
    try {
      (1 to 3).foreach { i =>
        (1 to 5).map(j => (j.toLong, s"r$j")).toDF("id", "payload")
          .write.parquet(s"$dir/in/b$i")
        val src = spark.readStream
          .schema(Seq((0L, "")).toDF("id", "payload").schema)
          .parquet(s"$dir/in/*")
        val q = src.writeStream.outputMode("append").format("noop")
          .option("checkpointLocation", s"$dir/ckpt").start()
        try q.processAllAvailable() finally q.stop()
      }
      var tries = 0
      while (one.metrics(spark).isEmpty && tries < 50) { Thread.sleep(100); tries += 1 }
      assert(one.metrics(spark).count() <= 1, "keep=1 must retain one batch")
    } finally one.detach(spark)
  }
}
