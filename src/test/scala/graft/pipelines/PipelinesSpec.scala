package graft.pipelines

import java.nio.charset.StandardCharsets
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.engine.Catalog

/** End-to-end pipeline tests (SURVEY §5 item 4): run the three modes on
  * a temp warehouse with planted documents, assert the five tables and
  * the History read path.
  */
class PipelinesSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val docA = "Invoice INV-7 from Acme. The total is $250. Due on 2024-03-01."
  private val docB = "Contract between Foo and Bar. Effective date 2023-12-31. Term two years."

  private def stagedCat(): Catalog = {
    val root = tempDir("graft_pipe_test_").toString
    val cat = new Catalog(spark, root)
    cat.ensureTables()
    cat.putFile("docs", "a.txt", docA.getBytes(StandardCharsets.UTF_8))
    cat.putFile("docs", "b.txt", docB.getBytes(StandardCharsets.UTF_8))
    cat
  }

  /** Prompts for every class the local backend assigns: no request
    * generates any.
    */
  private def seedPrompts(cat: Catalog): Unit = {
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    cat.appendRows("CLASS_PROMPTS", Seq("invoice", "contract", "report", "letter", "form")
      .map(c => org.apache.spark.sql.Row(c, """{"title": "What is the title?"}""", now, now)))
  }

  test("interactive pipeline persists to all four tables and History reads back") {
    val cat = stagedCat()
    val out = Pipelines.interactive(cat, "docs", "a.txt")
    assert(out.count() == 1)

    assert(cat.table("DOCUMENTS_PROCESSED").count() == 1)
    val dp = cat.table("DOCUMENTS_PROCESSED").collect()(0)
    assert(dp.getAs[String]("file_url") == "@docs/a.txt")
    assert(dp.getAs[String]("extraction_result").startsWith("""{"response": {"""))

    assert(cat.table("DOCUMENTS_EXTRACTED_FIELDS").count() >= 1)
    assert(cat.table("DOCUMENT_OCR").count() == 1)
    val ocr = cat.table("DOCUMENT_OCR").collect()(0)
    assert(ocr.getAs[String]("summary").startsWith("Summary: "))
    assert(get_json_object(lit(ocr.getAs[String]("ocr")), "$.content") != null)

    val uploads = cat.table("NEW_UPLOADS").collect()
    assert(uploads.length == 1 && uploads(0).getAs[Boolean]("processed"))

    // prompts were generated for the doc's class
    assert(cat.table("CLASS_PROMPTS").count() >= 1)

    // History read path
    val hist = HistoryQueries.documents(cat).collect()
    assert(hist.length == 1)
    assert(hist(0).getAs[String]("file_ref") == "a.txt")
    assert(hist(0).getAs[Boolean]("has_ocr"))
    assert(hist(0).getAs[String]("stage") == "docs")
    assert(HistoryQueries.classSummary(cat).collect()(0).getAs[Long]("docs") == 1L)
  }

  test("interactive persists run under the caller's Spark local properties") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val cat = stagedCat()
    seedPrompts(cat)
    val key = "graft.test.caller"
    // write executions of this warehouse, and every job's (execution, caller)
    val writes = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties.getProperty("spark.sql.execution.id")).foreach(id =>
          jobs.add(id.toLong -> e.properties.getProperty(key)))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart
            if s.physicalPlanDescription.contains("InsertIntoHadoopFsRelationCommand") &&
              s.physicalPlanDescription.contains(cat.root) => writes.add(s.executionId)
        case _ =>
      }
    }
    val sc = spark.sparkContext
    def call(value: String, file: String): Seq[String] = {
      org.apache.spark.sql.graft.ListenerBridge.drain(sc)
      jobs.clear(); writes.clear()
      sc.setLocalProperty(key, value)
      try Pipelines.interactive(cat, "docs", file)
      finally sc.setLocalProperty(key, null)
      org.apache.spark.sql.graft.ListenerBridge.drain(sc)
      jobs.asScala.toSeq.collect { case (id, v) if writes.contains(id) => v }
    }
    sc.addSparkListener(listener)
    try {
      assert(call("first", "a.txt").toSet == Set("first"))
      val second = call("second", "b.txt")
      // the NEW_UPLOADS rewrite; the driver writes the three appends
      assert(second.size == 1 && second.forall(_ == "second"), second)
    } finally sc.removeSparkListener(listener)
  }

  test("an interactive request runs two Spark jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.graft.ListenerBridge
    val cat = stagedCat()
    Pipelines.interactive(cat, "docs", "a.txt") // generates the class's prompts
    val key = "graft.test.request"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties.getProperty(key) == "warm") jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, "warm")
      try Pipelines.interactive(cat, "docs", "a.txt")
      finally sc.setLocalProperty(key, null)
      ListenerBridge.drain(sc)
    } finally sc.removeSparkListener(listener)
    // the scan and the NEW_UPLOADS upsert
    assert(jobs.get() == 2)
    assert(cat.table("DOCUMENTS_PROCESSED").count() == 2)
    assert(cat.table("NEW_UPLOADS").count() == 1)
  }

  test("concurrent interactive requests on one catalog all persist") {
    import java.util.concurrent.{Executors, TimeUnit}
    val cat = stagedCat()
    seedPrompts(cat)
    val files = (0 until 16).map(i => f"c$i%02d.txt")
    files.foreach(f => cat.putFile("docs", f,
      s"Memo $f from Acme. The total is $$$f.".getBytes(StandardCharsets.UTF_8)))
    Pipelines.interactive(cat, "docs", "a.txt")
    val pool = Executors.newFixedThreadPool(2)
    try {
      val requests = files.grouped(8).toSeq.map(group => pool.submit(new Runnable {
        def run(): Unit = group.foreach(f => Pipelines.interactive(cat, "docs", f))
      }))
      requests.foreach(_.get(5, TimeUnit.MINUTES))
    } finally pool.shutdown()
    val expected = (files :+ "a.txt").sorted
    def keys(table: String, key: String) =
      cat.table(table).select(key).as[String].collect().toSeq.sorted
    assert(keys("DOCUMENTS_PROCESSED", "file_ref") == expected)
    assert(keys("DOCUMENT_OCR", "file_ref") == expected)
    assert(keys("NEW_UPLOADS", "file_name") == expected)
  }

  test("interactive's driver-built rows are the set-based persists' rows") {
    import org.apache.spark.sql.Row
    val cat = stagedCat()
    val frame = Pipelines.streamColumns(
      spark.read.format("binaryFile").load(cat.stageDir("docs") + "/a.txt"),
      "docs", Map("total" -> "What is the total?", "due" -> "When is it due?"))
    val rows = frame.collect()
    val doc = spark.createDataFrame(java.util.Arrays.asList(rows: _*), frame.schema)
    val at = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    def driverBuilt(table: String, built: Seq[Row], stamped: String*) =
      spark.createDataFrame(java.util.Arrays.asList(built: _*), Catalog.schemas(table))
        .drop(stamped: _*)
    val processed = driverBuilt("DOCUMENTS_PROCESSED",
      Seq(Pipelines.processedRow(rows(0), at)), "processed_at")
    val fields = driverBuilt("DOCUMENTS_EXTRACTED_FIELDS",
      Pipelines.fieldRows(rows(0), at), "confidence", "extracted_at")
    for ((driver, job) <- Seq(processed -> Pipelines.processedRows(doc),
                              fields -> Pipelines.fieldRows(doc))) {
      assert(driver.columns.toSeq == job.columns.toSeq)
      assert(driver.collect().toSet == job.collect().toSet)
    }
    assert(fields.count() == 2)
  }

  test("batchSql pipeline produces one wide row per staged file") {
    val cat = stagedCat()
    val wide = Pipelines.batchSql(cat, "docs",
      Map("title" -> "What is the title?", "date" -> "What is the date?"))
    val rows = wide.orderBy("relative_path").collect()
    assert(rows.length == 2)
    assert(wide.columns.toSeq == Seq("relative_path", "file_url", "date", "title"))
    assert(rows.map(_.getAs[String]("relative_path")).toSeq == Seq("a.txt", "b.txt"))
  }

  test("streaming pipeline persists per micro-batch and is restart-safe") {
    val cat = stagedCat()
    val checkpoint = cat.root + "/cp"
    val q1 = Pipelines.stream(cat, "docs", Map("t" -> "What is the title?"), checkpoint)
    try q1.processAllAvailable() finally q1.stop()
    assert(cat.table("DOCUMENTS_PROCESSED").count() == 2)
    assert(cat.table("DOCUMENTS_EXTRACTED_FIELDS").count() == 2)

    // new file arrives; restart from the same checkpoint processes ONLY it
    cat.putFile("docs", "c.txt", "New doc. About nothing.".getBytes(StandardCharsets.UTF_8))
    val q2 = Pipelines.stream(cat, "docs", Map("t" -> "What is the title?"), checkpoint)
    try q2.processAllAvailable() finally q2.stop()
    assert(cat.table("DOCUMENTS_PROCESSED").count() == 3,
      "checkpoint must prevent reprocessing of a.txt/b.txt")
  }

  test("a stream trigger of more files than the listing threshold lists them on the driver") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.graft.ListenerBridge
    import org.apache.spark.sql.internal.SQLConf
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val cat = new Catalog(spark, tempDir("graft_pipe_list_").toString)
    cat.ensureTables()
    // 40 files, past the default threshold (32), in one trigger (64)
    val n = 40
    (0 until n).foreach(i =>
      cat.putFile("docs", f"d$i%02d.txt", s"Memo $i. Short.".getBytes(StandardCharsets.UTF_8)))
    val thresholdKey = SQLConf.PARALLEL_PARTITION_DISCOVERY_THRESHOLD.key
    val threshold = spark.conf.getOption(thresholdKey)
    val descriptions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val jobs = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties.getProperty("spark.job.description")).foreach(descriptions.add)
    }
    val inputRows = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, java.lang.Long]()
    val progress = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        inputRows.merge(e.progress.id, e.progress.numInputRows, (a, b) => a + b)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(jobs)
    cat.spark.streams.addListener(progress)
    val q = try {
      val q = Pipelines.stream(cat, "docs", Map("t" -> "What is the title?"), cat.root + "/cp")
      try q.processAllAvailable() finally q.stop()
      ListenerBridge.drain(sc)
      q
    } finally {
      cat.spark.streams.removeListener(progress)
      sc.removeSparkListener(jobs)
    }
    assert(!descriptions.asScala.exists(_.startsWith("Listing leaf files")),
      descriptions.asScala.filter(_.startsWith("Listing")).toSeq)
    val processed = cat.table("DOCUMENTS_PROCESSED")
    assert(processed.count() == n)
    assert(processed.select("file_url").distinct().count() == n)
    assert(inputRows.get(q.id) == n.toLong,
      "the query reports its progress to the catalog session's listeners")
    assert(spark.conf.getOption(thresholdKey) == threshold)
  }

  test("a stream restarted with a FRESH checkpoint never clobbers prior data") {
    val cat = stagedCat()
    val q1 = Pipelines.stream(cat, "docs", Map("t" -> "What is the title?"),
      cat.root + "/cp1")
    try q1.processAllAvailable() finally q1.stop()
    val n1 = cat.table("DOCUMENTS_PROCESSED").count()
    assert(n1 == 2)
    // operator error / checkpoint loss: the stream comes back with a NEW
    // checkpoint against the SAME warehouse. batchIds restart at 0 and
    // every file is rediscovered — the batch-0 append must land under a
    // new run token and APPEND, not replay-delete the first run's
    // batch-0 files (which held ALL of its data)
    val q2 = Pipelines.stream(cat, "docs", Map("t" -> "What is the title?"),
      cat.root + "/cp2")
    try q2.processAllAvailable() finally q2.stop()
    assert(cat.table("DOCUMENTS_PROCESSED").count() == 2 * n1,
      "fresh-checkpoint restart must append, never destroy committed rows")
  }

  test("streaming persists are exactly-once under foreachBatch replay") {
    val cat = stagedCat()
    // the stream's own columns, over a batch read of the same stage
    val batch = Pipelines.streamColumns(
      spark.read.format("binaryFile").option("recursiveFileLookup", "true")
        .load(cat.stageDir("docs")),
      "docs", Map("t" -> "What is the title?"))
    // a crash between the append and the checkpoint commit replays the
    // SAME (run, batchId): row counts must not change on the second run
    Pipelines.persistBatch(cat, batch, run = "runA", batchId = 0L)
    val n1 = cat.table("DOCUMENTS_PROCESSED").count()
    val f1 = cat.table("DOCUMENTS_EXTRACTED_FIELDS").count()
    Pipelines.persistBatch(cat, batch, run = "runA", batchId = 0L)
    assert(cat.table("DOCUMENTS_PROCESSED").count() == n1,
      "batchId replay must not double-append DOCUMENTS_PROCESSED")
    assert(cat.table("DOCUMENTS_EXTRACTED_FIELDS").count() == f1,
      "batchId replay must not double-append DOCUMENTS_EXTRACTED_FIELDS")
    // a genuinely new batch still appends
    Pipelines.persistBatch(cat, batch, run = "runA", batchId = 1L)
    assert(cat.table("DOCUMENTS_PROCESSED").count() == 2 * n1)
    // a RESTARTED stream with a fresh checkpoint restarts batchIds at 0
    // under a NEW run token: it must append, never delete the previous
    // run's batch-0 data (the bare-batchId hazard)
    Pipelines.persistBatch(cat, batch, run = "runB", batchId = 0L)
    assert(cat.table("DOCUMENTS_PROCESSED").count() == 3 * n1,
      "fresh-checkpoint batch 0 must not clobber the previous run's batch 0")
    // run tokens are write-once per checkpoint dir: stable across
    // restarts from the same checkpoint, fresh for a new checkpoint
    val ck1 = cat.root + "/checkpoints/t1"
    val ck2 = cat.root + "/checkpoints/t2"
    val t1 = Pipelines.runToken(ck1)
    assert(Pipelines.runToken(ck1) == t1, "same checkpoint must reuse its token")
    assert(Pipelines.runToken(ck2) != t1, "new checkpoint must mint a new token")
  }

  test("concurrent persists do not wait for one another's pool threads") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    // one task more than the global pool has threads: all must run at
    // once even though each blocks without telling the pool, as
    // Spark's job wait does
    val n = Runtime.getRuntime.availableProcessors + 1
    val met = new CountDownLatch(n)
    Pipelines.runConcurrently(spark, Seq.fill(n)(() => {
      met.countDown()
      assert(met.await(10, TimeUnit.SECONDS), s"$n tasks did not all run at once")
    }))
  }

  test("interactive pipeline canonicalizes non-flat prompt schemas on read") {
    val cat = stagedCat()
    // pre-seed prompts for every class in the backend's class set using
    // the ['q', text] list shape (app:161-183); ensurePrompts will not
    // overwrite them (presence guard), so extraction must canonicalize
    import org.apache.spark.sql.functions.current_timestamp
    val seeded = Seq("invoice", "contract", "report", "letter", "form")
      .map(c => (c, """["q", "What is this about?"]"""))
      .toDF("class_name", "prompts")
      .withColumn("created_at", current_timestamp())
      .withColumn("updated_at", current_timestamp())
    cat.merge("CLASS_PROMPTS", seeded, Seq("class_name"))
    Pipelines.interactive(cat, "docs", "a.txt")
    val fields = cat.table("DOCUMENTS_EXTRACTED_FIELDS")
      .select("field_name").as[String].collect().toSeq
    assert(fields == Seq("q"), s"list-shaped schema must canonicalize to {'q': ...}: $fields")
  }

  test("HistoryQueries.fields flattens with derived stage and filters compose") {
    val cat = stagedCat()
    Pipelines.interactive(cat, "docs", "a.txt")
    Pipelines.interactive(cat, "docs", "b.txt")
    val all = HistoryQueries.fields(cat)
    assert(all.count() >= 2)
    assert(all.select("stage").distinct().as[String].collect().toSeq == Seq("docs"))
    // filename filter narrows to one document's fields
    val filtered = HistoryQueries.fields(cat,
      HistoryQueries.docFilters(Nil, None, Some("a.txt")))
    assert(filtered.select("file_ref").distinct().as[String].collect().toSeq == Seq("a.txt"))
    // class filter with a non-existent class yields nothing
    assert(HistoryQueries.fields(cat,
      HistoryQueries.docFilters(Seq("no_such_class"), None, None)).count() == 0)
  }

  test("documentsFrom probes schema and falls back to stable ordering (app:696-741)") {
    // timestamp-less shapes (the app's reduced runtime DDL)
    val fields = Seq(("@docs/a.txt", "a.txt", "invoice", "total", "\"1\""))
      .toDF("file_url", "file_ref", "class_name", "field_name", "field_value")
    val processed = Seq(("@docs/a.txt", "a.txt", "invoice", "{}"))
      .toDF("file_url", "file_ref", "class_name", "extraction_result")
    val ocr = Seq(("a.txt", "a.txt")).toDF("file_name", "file_ref")
    val out = HistoryQueries.documentsFrom(fields, processed, ocr).collect()
    assert(out.length == 1)
    assert(out(0).getAs[java.sql.Timestamp]("processed_at") == null)
    assert(out(0).getAs[Long]("fields_extracted") == 1L)
    assert(out(0).getAs[Boolean]("has_ocr"))
  }

  test("ensurePrompts is idempotent (presence guard)") {
    val cat = stagedCat()
    Pipelines.ensurePrompts(cat, "invoice")
    val first = cat.table("CLASS_PROMPTS").select("prompts").as[String].collect()(0)
    Pipelines.ensurePrompts(cat, "invoice")
    assert(cat.table("CLASS_PROMPTS").count() == 1)
    assert(cat.table("CLASS_PROMPTS").select("prompts").as[String].collect()(0) == first)
  }
}
