package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import EventStreams._

class EventStreamsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def tsOf(s: String) = java.sql.Timestamp.valueOf(s)

  private lazy val batch = Seq(
    Event(1, tsOf("2024-01-01 10:00:00"), 1, "click", 1.0),
    Event(2, tsOf("2024-01-01 10:10:00"), 1, "click", 2.0),
    Event(3, tsOf("2024-01-01 11:30:00"), 1, "view", 3.0),  // gap > 30min -> new session
    Event(4, tsOf("2024-01-01 10:05:00"), 2, "view", 4.0)).toDS()

  test("tumblingCounts groups into hour windows (batch execution)") {
    val out = tumblingCounts(batch.toDF()).orderBy("window_start", "event_type")
      .select(date_format(col("window_start"), "HH:mm").as("w"), col("event_type"), col("n"))
      .as[(String, String, Long)].collect()
    assert(out.toSeq == Seq(
      ("10:00", "click", 2L), ("10:00", "view", 1L), ("11:00", "view", 1L)))
  }

  test("slidingCounts assigns each event to window/slide windows") {
    val out = slidingCounts(batch.toDF(), "1 hour", "30 minutes")
    // each event lands in exactly 2 sliding windows
    assert(out.agg(sum("n")).as[Long].collect()(0) == batch.count() * 2)
  }

  test("sessionWindowCounts merges events within the gap") {
    val out = sessionWindowCounts(batch.toDF(), "30 minutes")
      .orderBy("user_id", "session_start")
      .select(col("user_id"), col("n_events")).as[(Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 2L), (1L, 1L), (2L, 1L)))
  }

  test("sessionizeBatch emits all sessions incl. the open tail") {
    val out = sessionizeBatch(batch).orderBy("user_id", "session_id")
      .select(col("user_id"), col("session_id"), col("n_events"))
      .as[(Long, Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 0L, 2L), (1L, 1L, 1L), (2L, 0L, 1L)))
  }

  test("streaming end-to-end: watermarked tumbling counts over the events fixture") {
    // file streaming sources need a directory: stage the fixture file
    val dir = tempDir("graft_ev_fixture_")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"))
    val src = readEventStream(spark, dir.toString)
    val q = tumblingCounts(src)
      .writeStream.outputMode("append").format("memory")
      .queryName("tumbling_out").start()
    try q.processAllAvailable() finally q.stop()
    // append mode only emits windows closed by the watermark; a single
    // micro-batch closes all but the trailing 2h of the fixture
    assert(q.exception.isEmpty)
    assert(spark.table("tumbling_out").count() > 0)
  }

  test("streamingDedup drops duplicate keys (batch fallback + stream)") {
    val rows = Seq(
      Event(1, tsOf("2024-01-01 10:00:00"), 1, "click", 1.0),
      Event(1, tsOf("2024-01-01 10:00:30"), 1, "click", 1.0), // dup event_id
      Event(2, tsOf("2024-01-01 10:01:00"), 1, "view", 2.0))
    // batch fallback
    val out = streamingDedup(rows.toDS().toDF(), Seq("event_id"))
      .select("event_id").as[Long].collect().sorted
    assert(out.toSeq == Seq(1L, 2L))
    // real stream: duplicates within the watermark horizon dropped
    val dir = tempDir("graft_dedup_ev_").toString
    rows.toDS().write.parquet(dir + "/b1")
    val src = spark.readStream.schema(rows.toDS().schema).parquet(dir + "/*")
    val q = streamingDedup(src, Seq("event_id"))
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_out").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("dedup_out")
      .select("event_id").as[Long].collect().sorted
    assert(streamed.toSeq == Seq(1L, 2L))
  }

  test("purchaseAttribution joins views to in-horizon purchases (batch + stream)") {
    val rows = Seq(
      Event(1, tsOf("2024-01-01 10:00:00"), 1, "view", 0.0),
      Event(2, tsOf("2024-01-01 10:20:00"), 1, "purchase", 9.99), // in horizon
      Event(3, tsOf("2024-01-01 12:00:00"), 1, "purchase", 5.0),  // out of horizon
      Event(4, tsOf("2024-01-01 10:10:00"), 2, "view", 0.0))      // no purchase
    // batch semantics
    val out = purchaseAttribution(rows.toDS().toDF())
      .select("view_id", "purchase_id").as[(Long, Long)].collect()
    assert(out.toSeq == Seq((1L, 2L)))
    // streaming: same result through a real stream-stream join
    val dir = tempDir("graft_attr_ev_").toString
    rows.toDS().write.parquet(dir + "/b1")
    val src = spark.readStream.schema(rows.toDS().schema).parquet(dir + "/*")
    val q = purchaseAttribution(src)
      .writeStream.outputMode("append").format("memory")
      .queryName("attr_out").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("attr_out")
      .select("view_id", "purchase_id").as[(Long, Long)].collect()
    assert(streamed.toSeq == Seq((1L, 2L)))
  }

  test("stateful sessionize on a real stream emits closed sessions") {
    val dir = tempDir("graft_stream_ev_").toString
    val cp = tempDir("graft_stream_cp_").toString
    // two files -> two micro-batches (maxFilesPerTrigger=1)
    Seq(Event(1, tsOf("2024-01-01 10:00:00"), 1, "click", 1.0),
        Event(2, tsOf("2024-01-01 10:10:00"), 1, "click", 2.0))
      .toDS().write.parquet(dir + "/b1")
    val schema = batch.schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir + "/*")
    val q = sessionize(src.as[Event])
      .writeStream.outputMode("append").format("memory")
      .option("checkpointLocation", cp)
      .queryName("sessions_out").start()
    try {
      q.processAllAvailable()
      // second batch: an event past the gap closes session 0
      Seq(Event(3, tsOf("2024-01-01 11:30:00"), 1, "view", 3.0))
        .toDS().write.mode("append").parquet(dir + "/b2")
      q.processAllAvailable()
      val sessions = spark.table("sessions_out")
        .select("user_id", "session_id", "n_events").as[(Long, Long, Long)].collect()
      assert(sessions.toSeq == Seq((1L, 0L, 2L)),
        s"first session must close when the gap elapses: ${sessions.toSeq}")
    } finally q.stop()
  }

  test("sessionizeWithTimeout closes idle sessions via event-time timeout") {
    val dir = tempDir("graft_stream_to_").toString
    val cp = tempDir("graft_stream_tocp_").toString
    // user 1's session goes idle; only OTHER users' events arrive later,
    // so the session can only close through the event-time timeout
    Seq(Event(1, tsOf("2024-01-01 10:00:00"), 1, "click", 1.0),
        Event(2, tsOf("2024-01-01 10:10:00"), 1, "click", 2.0))
      .toDS().write.parquet(dir + "/b1")
    val schema = batch.schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir + "/*")
      .withWatermark("ts", "10 minutes")
    val q = sessionizeWithTimeout(src.as[Event])
      .writeStream.outputMode("append").format("memory")
      .option("checkpointLocation", cp)
      .queryName("sessions_to_out").start()
    try {
      q.processAllAvailable()
      // watermark advances well past user 1's lastSeen + gap on user 2's
      // events; a further batch lets the timeout fire (watermark updates
      // are applied at the next trigger)
      Seq(Event(3, tsOf("2024-01-01 13:00:00"), 2, "view", 3.0))
        .toDS().write.mode("append").parquet(dir + "/b2")
      q.processAllAvailable()
      Seq(Event(4, tsOf("2024-01-01 13:05:00"), 2, "view", 4.0))
        .toDS().write.mode("append").parquet(dir + "/b3")
      q.processAllAvailable()
      // session_id is the session's start epoch millis (eviction-safe id)
      val sessions = spark.table("sessions_to_out")
        .select("user_id", "session_id", "n_events").as[(Long, Long, Long)].collect()
      val expectedId = tsOf("2024-01-01 10:00:00").getTime
      assert(sessions.contains((1L, expectedId, 2L)),
        s"user 1's idle session must be flushed by the timeout: ${sessions.toSeq}")
    } finally q.stop()
  }

  test("sessionizeWithTimeout never shrinks a session on cross-batch late events") {
    val dir = tempDir("graft_stream_late_").toString
    val cp = tempDir("graft_stream_latecp_").toString
    // batch 1 establishes lastSeen = 10:20 for user 1
    Seq(Event(1, tsOf("2024-01-01 10:00:00"), 1, "click", 1.0),
        Event(2, tsOf("2024-01-01 10:20:00"), 1, "click", 2.0))
      .toDS().write.parquet(dir + "/b1")
    val schema = batch.schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir + "/*")
      .withWatermark("ts", "2 hours") // generous: the late event stays above it
    val q = sessionizeWithTimeout(src.as[Event])
      .writeStream.outputMode("append").format("memory")
      .option("checkpointLocation", cp)
      .queryName("sessions_late_out").start()
    try {
      q.processAllAvailable()
      // batch 2: a LATE event (10:05, older than state's lastSeen but
      // above the watermark) — merging it must not move lastSeen
      // backwards, or session_end shrinks below already-counted events
      // and the timeout horizon regresses
      Seq(Event(3, tsOf("2024-01-01 10:05:00"), 1, "view", 3.0))
        .toDS().write.mode("append").parquet(dir + "/b2")
      q.processAllAvailable()
      // close the session via the gap on a fresh in-order event
      Seq(Event(4, tsOf("2024-01-01 12:00:00"), 1, "click", 4.0))
        .toDS().write.mode("append").parquet(dir + "/b3")
      q.processAllAvailable()
      val sessions = spark.table("sessions_late_out")
        .select("user_id", "session_id", "n_events", "session_end")
        .as[(Long, Long, Long, java.sql.Timestamp)].collect()
      val expectedId = tsOf("2024-01-01 10:00:00").getTime
      val closed = sessions.find(s => s._1 == 1L && s._2 == expectedId)
      assert(closed.exists(s => s._3 == 3L &&
          s._4.getTime == tsOf("2024-01-01 10:20:00").getTime),
        s"late in-gap event must merge without shrinking the session: ${sessions.toSeq}")
    } finally q.stop()
  }

  test("funnelStream emits exact per-user reach after the horizon closes") {
    val dir = tempDir("graft_funnel_ev_").toString
    val cp = tempDir("graft_funnel_cp_").toString
    // user 1 completes the funnel OUT OF ORDER across batches (purchase
    // arrives before the click); user 2 clicks and purchases but never
    // views; user 3 only views
    Seq(Event(1, tsOf("2024-01-01 10:00:00"), 1, "view", 1.0),
        Event(2, tsOf("2024-01-01 10:10:00"), 1, "purchase", 2.0),
        Event(3, tsOf("2024-01-01 10:01:00"), 2, "click", 3.0))
      .toDS().coalesce(1).write.parquet(dir + "/b1")
    val schema = batch.schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir + "/*")
      .withWatermark("ts", "5 minutes")
    val q = funnelStream(src.as[Event],
        Seq("view", "click", "purchase"), horizonSeconds = 3600L)
      .writeStream.outputMode("append").format("memory")
      .option("checkpointLocation", cp)
      .queryName("funnel_out").start()
    try {
      q.processAllAvailable()
      // the CLICK lands late but ABOVE the watermark (b1 advanced it to
      // 10:10 - 5min = 10:05) — between the already-seen view and
      // purchase in event time
      Seq(Event(4, tsOf("2024-01-01 10:06:00"), 1, "click", 4.0),
          Event(5, tsOf("2024-01-01 10:06:00"), 2, "purchase", 5.0),
          Event(6, tsOf("2024-01-01 10:07:00"), 3, "view", 6.0))
        .toDS().coalesce(1).write.mode("append").parquet(dir + "/b2")
      q.processAllAvailable()
      // push the watermark past every horizon (t1 + 1h) so the buffered
      // chains evaluate; one more batch lets the timeouts fire
      Seq(Event(7, tsOf("2024-01-01 12:30:00"), 9, "view", 7.0))
        .toDS().coalesce(1).write.mode("append").parquet(dir + "/b3")
      q.processAllAvailable()
      Seq(Event(8, tsOf("2024-01-01 12:40:00"), 9, "click", 8.0))
        .toDS().coalesce(1).write.mode("append").parquet(dir + "/b4")
      q.processAllAvailable()
      val hits = spark.table("funnel_out")
        .select("user_id", "steps_reached").as[(Long, Int)].collect().toMap
      assert(hits.get(1L).contains(3),
        s"out-of-order click must still complete the chain: $hits")
      assert(!hits.contains(2L), s"no view -> no funnel entry: $hits")
      assert(hits.get(3L).contains(1), s"view-only user reaches step 1: $hits")
    } finally q.stop()
  }

  test("property: funnelStream first-chain reach equals batch funnelReach (random events)") {
    // deterministic pseudo-random event log: 30 users x up to 14 events
    // in a 3h span, arriving in SHUFFLED order across 4 micro-batches
    val rnd = new scala.util.Random(4242)
    val types = Array("view", "click", "purchase", "error")
    val events = (1 to 30).flatMap { u =>
      (0 until rnd.nextInt(15)).map { i =>
        val t = tsOf("2024-01-01 10:00:00").getTime + rnd.nextInt(10800) * 1000L
        Event(u * 100L + i, new java.sql.Timestamp(t), u.toLong,
          types(rnd.nextInt(types.length)), 1.0)
      }
    }
    val shuffled = rnd.shuffle(events)
    val dir = tempDir("graft_funnel_pp_").toString
    val cp = tempDir("graft_funnel_ppcp_").toString
    val chunks = shuffled.grouped(math.max(1, shuffled.size / 4 + 1)).toSeq
    chunks.zipWithIndex.foreach { case (c, i) =>
      c.toDS().coalesce(1).write.parquet(s"$dir/b$i")
    }
    val src = spark.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir + "/*")
      // zero lateness: every batch's rows are at or above the watermark
      // only if they keep arriving in ts order — they don't, so use a
      // lag covering the full span to make NOTHING late
      .withWatermark("ts", "4 hours")
    val q = funnelStream(src.as[Event], Seq("view", "click", "purchase"),
        horizonSeconds = 1800L)
      .writeStream.outputMode("append").format("memory")
      .option("checkpointLocation", cp).queryName("funnel_pp").start()
    try {
      q.processAllAvailable()
      // advance the watermark decisively past every horizon
      Seq(Event(99999L, tsOf("2024-01-02 12:00:00"), 999L, "view", 0.0))
        .toDS().coalesce(1).write.mode("append").parquet(dir + "/zz1")
      q.processAllAvailable()
      Seq(Event(99998L, tsOf("2024-01-02 13:00:00"), 999L, "error", 0.0))
        .toDS().coalesce(1).write.mode("append").parquet(dir + "/zz2")
      q.processAllAvailable()
      // first chain per user = the row with that user's MIN t1
      val firstChain = spark.table("funnel_pp")
        .filter(col("user_id") < 900)
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
            .orderBy(col("t1"))))
        .filter(col("rn") === 1)
        .select("user_id", "steps_reached")
        .as[(Long, Int)].collect().toMap
      val reach = graft.ops.Funnel.funnelReach(events.toDF(), "user_id", "ts",
          "event_type", Seq("view", "click", "purchase"),
          horizonSeconds = Some(1800L))
        .as[(Long, String, Long)].collect().map(r => r._1 -> r._3).toMap
      // batch reach at step i = users whose first-chain depth >= i
      val streamed = (1 to 3).map(i =>
        i.toLong -> firstChain.count(_._2 >= i).toLong).toMap
      assert(streamed == reach,
        s"stream first-chain reach must equal batch reach: $streamed vs $reach")
    } finally q.stop()
  }

  test("funnelStream re-enters deterministically after the horizon closes") {
    val dir = tempDir("graft_funnel2_ev_").toString
    val cp = tempDir("graft_funnel2_cp_").toString
    // user 1: chain 1 = view@10:00 + click@10:20 (reaches 2); a second
    // view@11:30 is AFTER the 1h horizon close and must open chain 2,
    // completed by click@11:40 — two emissions for one user, decided
    // by event time, not batch boundaries (all in ONE batch here)
    Seq(Event(1, tsOf("2024-01-01 10:00:00"), 1, "view", 1.0),
        Event(2, tsOf("2024-01-01 10:20:00"), 1, "click", 2.0),
        Event(3, tsOf("2024-01-01 11:30:00"), 1, "view", 3.0),
        Event(4, tsOf("2024-01-01 11:40:00"), 1, "click", 4.0))
      .toDS().coalesce(1).write.parquet(dir + "/b1")
    val schema = batch.schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir + "/*")
      .withWatermark("ts", "5 minutes")
    val q = funnelStream(src.as[Event], Seq("view", "click"),
        horizonSeconds = 3600L)
      .writeStream.outputMode("append").format("memory")
      .option("checkpointLocation", cp)
      .queryName("funnel2_out").start()
    try {
      q.processAllAvailable()
      // advance the watermark past chain 2's close (12:30) in two
      // batches so both timeouts fire
      Seq(Event(5, tsOf("2024-01-01 14:00:00"), 9, "view", 5.0))
        .toDS().coalesce(1).write.mode("append").parquet(dir + "/b2")
      q.processAllAvailable()
      Seq(Event(6, tsOf("2024-01-01 14:10:00"), 9, "click", 6.0))
        .toDS().coalesce(1).write.mode("append").parquet(dir + "/b3")
      q.processAllAvailable()
      val hits = spark.table("funnel2_out")
        .filter(col("user_id") === 1L)
        .select("steps_reached", "t1")
        .as[(Int, java.sql.Timestamp)].collect().toSeq.sortBy(_._2.getTime)
      assert(hits.map(_._1) == Seq(2, 2), s"two complete chains expected: $hits")
      assert(hits.map(_._2.getTime) == Seq(
          tsOf("2024-01-01 10:00:00").getTime, tsOf("2024-01-01 11:30:00").getTime),
        s"chains must open at the greedy event-time entries: $hits")
    } finally q.stop()
  }
}
