package graft.pipelines

import java.sql.Timestamp
import java.time.Instant

import scala.concurrent.{Await, Future, blocking}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.{Duration, DurationInt}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{LocalPropertiesBridge, SessionBridge}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

import graft.ai.AiFunctions._
import graft.engine.Catalog
import graft.ops.Relational

/** The reference's three processing modes (SURVEY §3), Spark-first.
  *
  * Interactive (app:356-604): one document through classify -> ensure
  * prompts -> extract -> OCR -> summarize -> persist x4, in two Spark
  * jobs: one scan of the one staged file and the NEW_UPLOADS upsert;
  * the three appends are written by the driver. The reference runs OCR
  * and the summary on a side thread (app:450-452); here the summary is
  * called beside classify, in the scan job.
  *
  * Model calls in flight: across documents, Spark's tasks and, within a
  * task, `AiEvalExec` (planned by `GraftExtensions`), which keeps up to
  * eight documents' calls in flight per task, the reference's batch
  * fan-out width (app:881), and starts a row's independent calls
  * together. Its inputs are computed on the task thread, so no
  * expression evaluator is shared between threads. A request's extract
  * needs the class, so it runs after the scan job, over the request's
  * one-row local relation, while the optimizer folds that relation.
  * Concurrent requests on one catalog are safe: every publish and
  * rewrite of a table holds the table's lock (`Catalog`).
  *
  * Batch-SQL (app:944-966): the purest "query" — one set-based plan:
  * directory scan -> ai_extract column -> explode -> pivot. At 100 TB
  * this is the canonical shape: no driver loops, no collect, AI calls
  * distribute across executors, pivot only at the presentation edge.
  *
  * Streaming (app:838-906): per-file fan-out with incremental results
  * — Structured Streaming file source + foreachBatch persists.
  *
  * Every mode calls each AI function once per document: the
  * {"response": ...} envelope is derived from the one `ai_extract` map,
  * and `Relational.unpivotMap` keeps the optimizer from copying it.
  */
object Pipelines {

  /** Build a sorted map literal Column from a prompts map — shared by
    * every pipeline mode that ships prompts into the plan.
    */
  private def promptsLiteral(prompts: Map[String, String]) =
    if (prompts.isEmpty) map().cast("map<string,string>")
    else map(prompts.toSeq.sortBy(_._1)
      .flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)

  /** Run independent persist jobs concurrently and settle ALL of them
    * before propagating the first failure — callers unpersist shared
    * cached frames right after, which must not happen under in-flight
    * sibling jobs (and partial writes stay deterministic per job).
    */
  private[pipelines] def runConcurrently(spark: SparkSession, tasks: Seq[() => Unit]): Unit =
    settle(fork(spark, tasks))

  /** `tasks` started on the global pool, each under the caller's Spark
    * local properties (job group, description, pool, tags), so
    * cancelling the caller's group reaches its writes; a pooled
    * thread's own would belong to whichever caller first started it.
    * Each task waits in `blocking`: Spark's job wait does not, so on
    * the global pool (one thread per core) at most that many persists
    * in the whole JVM would run at once, and concurrent callers'
    * persists would run in waves.
    */
  private def fork(spark: SparkSession, tasks: Seq[() => Unit]): Future[Seq[Option[Throwable]]] = {
    val sc = spark.sparkContext
    val props = LocalPropertiesBridge.capture(sc)
    Future.sequence(tasks.map(t =>
      Future(blocking(LocalPropertiesBridge.withProperties(sc, props)(t())))
        .map(_ => None: Option[Throwable]).recover { case e => Some(e) }))
  }

  /** Wait for every forked task (the reference's 120 s join, app:515),
    * then throw the first failure.
    */
  private def settle(all: Future[Seq[Option[Throwable]]]): Unit = {
    val errs =
      try Await.result(all, 120.seconds)
      catch { case e: java.util.concurrent.TimeoutException =>
        // even past the deadline, SETTLE before propagating: throwing
        // with jobs in flight would let the caller unpersist/retry
        // under live writers (the exact hazard this helper prevents)
        Await.result(all, Duration.Inf)
        throw e
      }
    errs.flatten.headOption.foreach(e => throw e)
  }

  /** `body`, with `task` forked beside it and settled before this
    * returns or propagates `body`'s failure (which wins; the task's is
    * suppressed into it).
    */
  private def alongside[A](spark: SparkSession, task: () => Unit)(body: => A): A = {
    val side = fork(spark, Seq(task))
    val out =
      try body
      catch { case e: Throwable =>
        try settle(side) catch { case t: Throwable => e.addSuppressed(t) }
        throw e
      }
    settle(side)
    out
  }

  /** Interactive single-document pipeline (§3.1). `stage`/`fileName`
    * identify an already-PUT file. Returns the extraction row.
    *
    * Two Spark jobs. The scan job reads the one file, parses it and
    * calls classify and the summary together. As soon as it returns,
    * the NEW_UPLOADS upsert, the one persist that reads its table,
    * starts as a job beside the prompt lookup and the extract. The
    * extract runs on the driver as the optimizer folds the request's
    * one-row relation, and the three append tables' rows are built
    * from that one collected row and written by the driver
    * (`Catalog.appendRows`, no job). The upsert settles before the
    * request returns or fails (the 120 s join, app:515), so a request
    * returns only once all four writes are durable.
    *
    * So `processed = TRUE` is recorded once the scan has read, parsed
    * and classified the file: the file was seen by the pipeline
    * (SURVEY X4), even if the extract then fails. The upsert is keyed
    * by file name, so a retried request rewrites the same row.
    *
    * Measured (docbench `doc_interactive`, 4 vCPU, 10 alternating
    * pairs): p50 0.637 -> 0.422 s against four persist jobs run
    * together after the extract. The early upsert with the appends
    * still Spark jobs gave no gain (0.54–0.60 s, seeds 201–203): the
    * three append jobs took ~200 ms after the extract on their own.
    */
  def interactive(cat: Catalog, stage: String, fileName: String): DataFrame = {
    val spark = cat.spark
    // single-document flow: materialize the ONE row driver-side in a
    // single job (read of the one file + parse, then classify and the
    // summary, both over the text, called together), then work from a
    // local relation — an interactive request is latency-bound by
    // Spark job count, and a distributed 1-row frame pays a job per touch
    val docRow = cat.stagedFile(stage, fileName)
      .withColumn("text", parse_document(col("content")))
      .select(col("file_url"), col("relative_path"), col("text"),
        ai_classify(col("text")).as("class_name"),
        ai_complete(lit("mistral-7b"), substring(col("text"), 1, 6000)).as("summary"))
      .collect().headOption.getOrElse(
        throw new NoSuchElementException(s"no file '$fileName' in stage @$stage"))
    val path = docRow.getString(1)
    // its own local relation, built from values: no expression instance
    // is shared with the extract plan folding on this thread
    val upload = spark.createDataFrame(java.util.Arrays.asList(Row(path, s"$stage/$path", stage,
      true, Timestamp.from(Instant.now()))), Catalog.schemas("NEW_UPLOADS"))
    alongside(spark, () => cat.merge("NEW_UPLOADS", upload, Seq("file_name"))) {
      val className = docRow.getString(3)
      ensurePrompts(cat, className)
      // canonicalized prompt map via the invalidation-based PromptStore
      // cache (app:490, app:162-183) — the warm path costs zero jobs
      val promptMap = PromptStore.get(cat, className)
      val prompts = promptsLiteral(promptMap)
      val doc = spark.createDataFrame(java.util.Arrays.asList(docRow), docRow.schema)
        .select(col("*"), ai_extract(col("text"), prompts).as("result_map"))
        .select(col("*"), extract_envelope(col("result_map"), prompts).as("extraction_result"),
          to_json(struct(col("text").as("content"))).as("ocr"))
        .collect()(0)
      // persist x3 (app:523-546) on the driver, one file per table
      val now = Timestamp.from(Instant.now())
      cat.appendRows("DOCUMENTS_PROCESSED", Seq(processedRow(doc, now)))
      cat.appendRows("DOCUMENTS_EXTRACTED_FIELDS", fieldRows(doc, now))
      cat.appendRows("DOCUMENT_OCR", Seq(Row(path, path, doc.getAs[String]("ocr"),
        doc.getAs[String]("summary"), now)))
      val out = Seq("file_url", "class_name", "result_map", "summary")
      spark.createDataFrame(java.util.Arrays.asList(Row.fromSeq(out.map(doc.getAs[Any]))),
        StructType(out.map(doc.schema(_))))
    }
  }

  /** Ensure a prompt schema exists for `className` (app:481-489),
    * insert-if-absent (NOT EXISTS, J4). The warm path (class known,
    * prompts cached in PromptStore) costs zero Spark jobs. Otherwise
    * one presence probe decides: an empty cached map means EITHER
    * absent or stored-but-empty, and only absence generates. The schema
    * comes from one `ai_complete` over a one-row relation, which the
    * optimizer folds on the driver, and is written by the driver
    * (`Catalog.appendRows`).
    */
  def ensurePrompts(cat: Catalog, className: String): Unit =
    if (PromptStore.get(cat, className).isEmpty &&
        cat.table("CLASS_PROMPTS").filter(col("class_name") === className).isEmpty) {
      val spark = cat.spark
      import spark.implicits._
      val prompts = Seq(className).toDF("class_name")
        .select(ai_complete(lit("mistral-7b"),
          concat(lit("Generate a JSON object of field: question pairs for class '"),
            col("class_name"), lit("'"))))
        .collect()(0).getString(0)
      val now = Timestamp.from(Instant.now())
      cat.appendRows("CLASS_PROMPTS", Seq(Row(className, prompts, now, now)))
      PromptStore.invalidateAll(cat) // negative results may be cached
    }

  /** Batch single-SQL mode (§3.3) — the flagship one-plan query:
    * stage scan -> extract -> explode -> pivot to wide.
    */
  def batchSql(cat: Catalog, stage: String, prompts: Map[String, String]): DataFrame = {
    val promptsCol = promptsLiteral(prompts)
    val scanned = cat.directory(stage)
      .withColumn("text", parse_document(col("content")))
      .withColumn("result_map", ai_extract(col("text"), promptsCol))
      .select(col("relative_path"), col("file_url"), col("result_map"))
    val long = Relational.unpivotMap(scanned, "result_map", "field_name", "field_value")
    Relational.widen(long, Seq("relative_path", "file_url"), "field_name", "field_value",
      knownKeys = prompts.keys.toSeq.sorted)
  }

  /** Same flagship plan phrased directly over the `documents` fixture
    * table (no staging round-trip) — used by SparkEntry.entry and bench.
    */
  def batchSqlOverDocuments(spark: SparkSession, sfDir: String,
                            prompts: Map[String, String]): DataFrame = {
    val promptsCol = promptsLiteral(prompts)
    // spread-before-extract was MEASURED a 0.75-0.82x regression here
    // (same-JVM A/B, round 17 second pass): the ai_extract scan stage is
    // read-dominated, not extract-dominated, so the text exchange
    // costs more than the parallelism returns — kept serial
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .withColumn("result_map", ai_extract(col("text"), promptsCol))
      .select(col("doc_id"), col("result_map"))
    val long = Relational.unpivotMap(docs, "result_map", "field_name", "field_value")
    Relational.widen(long, Seq("doc_id"), "field_name", "field_value",
      knownKeys = prompts.keys.toSeq.sorted)
  }

  /** Files per stream trigger (X2's pacing). Also the stream reader's
    * listing threshold: see [[stream]].
    */
  private val FilesPerTrigger = 64

  /** Batch stream mode (§3.2/X2): Structured Streaming over the stage
    * dir; per-batch persists into DOCUMENTS_PROCESSED + exploded
    * DOCUMENTS_EXTRACTED_FIELDS. A model failure in `ai_extract`
    * becomes an `{"error": ...}` row (X9); a failure in parse or
    * classify fails the batch, and the query stops with it.
    * Returns the started query; caller stops it.
    *
    * Each trigger's files are listed on the driver. The file source
    * resolves a trigger's files as that many root paths, and lists them
    * in a Spark job of one task per file when they outnumber
    * `spark.sql.sources.parallelPartitionDiscovery.threshold` (32 by
    * default), read from the READER session's conf at every trigger.
    * That job made no model call; with it, getting a batch took 0.61 s
    * of a 2.50 s micro-batch, without it 0.05 s (traced docbench
    * `doc_bulk`, 4 vCPU). So the source is read through a clone of the
    * catalog's session whose threshold is [[FilesPerTrigger]], and the
    * frame is rebuilt in the catalog's session: the query runs on the
    * caller's `StreamingQueryManager` (its listeners see it) and the
    * caller's conf is never written.
    * Measured and rejected (traced `doc_bulk`):
    *  - `maxFilesPerTrigger` 32 avoids the listing job but is slower,
    *    26.8 -> 23.5 docs/s: the per-batch costs repeat over 4 batches;
    *  - setting the threshold on the caller's session around `start()`
    *    changes nothing (`spark.tasks` still 163): the source reads
    *    the conf at each trigger, after the reset;
    *  - a plain cloned-session reader moves the query to the clone's
    *    `StreamingQueryManager`, so a listener on the caller's sees no
    *    batch (docbench's `pipelines.stream.batches` read 0).
    */
  def stream(cat: Catalog, stage: String, prompts: Map[String, String],
             checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val reader = SessionBridge.cloneSession(cat.spark)
    reader.conf.set(SQLConf.PARALLEL_PARTITION_DISCOVERY_THRESHOLD.key, FilesPerTrigger.toLong)
    val files = reader.readStream.format("binaryFile")
      .schema(Catalog.binaryFileSchema)
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", FilesPerTrigger)
      .load(cat.stageDir(stage))
    val src = SessionBridge.ofRows(cat.spark, files)
    val run = runToken(checkpoint)
    streamColumns(src, stage, prompts).writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        persistBatch(cat, batch, run, batchId)
      }
      .start()
  }

  /** The stream's per-document columns over binaryFile rows of `stage`. */
  private[pipelines] def streamColumns(files: DataFrame, stage: String,
                                       prompts: Map[String, String]): DataFrame = {
    val promptsCol = promptsLiteral(prompts)
    files
      .withColumn("relative_path",
        regexp_replace(col("path"), Catalog.stagePathPrefix(stage), ""))
      .withColumn("file_url", concat(lit(s"@$stage/"), col("relative_path")))
      .withColumn("text", parse_document(col("content")))
      .withColumn("class_name", ai_classify(col("text")))
      .withColumn("result_map", ai_extract(col("text"), promptsCol))
      .withColumn("extraction_result", extract_envelope(col("result_map"), promptsCol))
  }

  /** Stable run identity for idempotent-append tokens, tied to the
    * CHECKPOINT's lifetime: batchIds are only unique within one
    * checkpoint, so a stream restarted with a fresh/deleted checkpoint
    * restarts at batch 0 — a bare-batchId token would then make replay
    * cleanup delete the PREVIOUS run's batch-0 files from a live table.
    * A write-once token file inside the checkpoint dir gives the
    * standard (runId, batchId) idempotent-write identity: same
    * checkpoint -> same namespace (crash replay still cleans its own
    * files), new checkpoint -> new namespace (old data untouched).
    */
  private[pipelines] def runToken(checkpoint: String): String = {
    val dir = java.nio.file.Paths.get(checkpoint)
    java.nio.file.Files.createDirectories(dir)
    val f = dir.resolve("graft_run_token")
    if (java.nio.file.Files.exists(f))
      java.nio.file.Files.readString(f).trim
    else {
      val tok = "r" + java.util.UUID.randomUUID().toString.replace("-", "")
      java.nio.file.Files.writeString(f, tok)
      tok
    }
  }

  /** The stream's per-batch persist, exactly-once under foreachBatch
    * replay: writes are token-stamped with (run, batchId) (appendBatch),
    * so a crash between the append and the checkpoint commit re-runs
    * the batch onto its own files instead of double-appending.
    */
  private[pipelines] def persistBatch(cat: Catalog, batch: DataFrame,
                                      run: String, batchId: Long): Unit = {
    val token = s"${run}_$batchId"
    val b = batch.cache()
    try {
      // independent tables -> concurrent jobs (as in interactive)
      runConcurrently(cat.spark, Seq(
        () => cat.appendBatch("DOCUMENTS_PROCESSED", processedRows(b), token),
        () => cat.appendBatch("DOCUMENTS_EXTRACTED_FIELDS", fieldRows(b), token)))
    } finally b.unpersist()
    ()
  }

  /** DOCUMENTS_PROCESSED rows of extracted documents. */
  private[pipelines] def processedRows(docs: DataFrame): DataFrame =
    docs.select(col("file_url"), col("relative_path").as("file_ref"),
      col("class_name"), col("extraction_result"))

  /** [[processedRows]] of one collected document, stamped `at`. */
  private[pipelines] def processedRow(doc: Row, at: Timestamp): Row =
    Row(doc.getAs[String]("file_url"), doc.getAs[String]("relative_path"),
      doc.getAs[String]("class_name"), doc.getAs[String]("extraction_result"), at)

  /** DOCUMENTS_EXTRACTED_FIELDS rows (app:531-538): one per extracted
    * field; the catalog fills `confidence` with NULL (app:537).
    */
  private[pipelines] def fieldRows(docs: DataFrame): DataFrame =
    Relational.unpivotMap(
      docs.select(col("file_url"), col("relative_path").as("file_ref"),
        col("class_name"), col("result_map")),
      "result_map", "field_name", "field_value")

  /** [[fieldRows]] of one collected document, stamped `at`, with the
    * NULL `confidence` in place.
    */
  private[pipelines] def fieldRows(doc: Row, at: Timestamp): Seq[Row] =
    Option(doc.getAs[scala.collection.Map[String, String]]("result_map")).toSeq.flatten
      .map { case (field, value) =>
        Row(doc.getAs[String]("file_url"), doc.getAs[String]("relative_path"),
          doc.getAs[String]("class_name"), field, value, null, at)
      }
}
