package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ai.AiFunctions._
import graft.engine.Catalog
import graft.ops.Relational

/** The reference's three processing modes (SURVEY §3), Spark-first.
  *
  * Interactive (app:356-604): one document through classify -> ensure
  * prompts -> extract -> OCR -> summarize -> persist x4. The reference
  * runs OCR on a side thread (app:450-452); here classify/extract/ocr/
  * summary are sibling columns of one Dataset — Spark's task parallelism
  * replaces the thread pool.
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
  private def runConcurrently(tasks: Seq[() => Unit]): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.{Duration, DurationInt}
    val settled = tasks.map(t =>
      Future(t()).map(_ => None: Option[Throwable]).recover { case e => Some(e) })
    val all = Future.sequence(settled)
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

  /** Ensure a prompt schema exists for each class present in `classes`
    * (app:481-489): generate via ai_complete + PARSE_JSON, guarded by
    * NOT EXISTS (insert-if-absent), persisted through the catalog merge.
    */
  def ensurePrompts(cat: Catalog, classes: DataFrame): Unit = {
    val existing = cat.table("CLASS_PROMPTS")
    // NOT EXISTS guard first (J4): only absent classes generate prompts
    // and only then does the table rewrite happen — the common warm
    // path (class already known) costs one anti-join probe, no write
    // class sets are metadata-bounded (a handful of labels), so one
    // driver round-trip decides absent-vs-present AND materializes the
    // generated prompts — the old isEmpty-then-append shape ran the
    // classify/anti-join subtree twice
    val fresh = classes.select(col("class_name")).distinct()
      .join(existing.select(col("class_name")), Seq("class_name"), "left_anti")
      .withColumn("prompts",
        ai_complete(lit("mistral-7b"),
          concat(lit("Generate a JSON object of field: question pairs for class '"),
            col("class_name"), lit("'"))))
      .withColumn("created_at", current_timestamp())
      .withColumn("updated_at", current_timestamp())
    val freshRows = fresh.collect()
    if (freshRows.nonEmpty) {
      cat.append("CLASS_PROMPTS", cat.spark.createDataFrame(
        java.util.Arrays.asList(freshRows: _*), fresh.schema))
      PromptStore.invalidateAll(cat) // negative results may be cached
    }
  }

  /** Interactive single-document pipeline (§3.1). `stage`/`fileName`
    * identify an already-PUT file. Returns the extraction row.
    */
  def interactive(cat: Catalog, stage: String, fileName: String): DataFrame = {
    val spark = cat.spark
    import spark.implicits._
    // single-document flow: materialize the ONE row driver-side in a
    // single job (scan + parse + classify), then work from a local
    // relation — an interactive request is latency-bound by Spark job
    // count, and a distributed 1-row frame pays a job per touch
    val docRows = cat.directory(stage)
      .filter(col("relative_path") === fileName)
      .withColumn("text", parse_document(col("content")))
      .withColumn("class_name", ai_classify(col("text")))
      .select("file_url", "relative_path", "text", "class_name")
      .collect()
    // relative_path is the stage's primary key (one directory row per
    // PUT path — re-PUT overwrites); >1 match means a corrupted
    // directory table, and silently processing only the first row
    // would hide it
    require(docRows.length <= 1,
      s"stage @$stage has ${docRows.length} directory rows for " +
        s"'$fileName' — relative_path must be unique per stage")
    val docRow = docRows.headOption.getOrElse(
      throw new NoSuchElementException(s"no file '$fileName' in stage @$stage"))
    val className = docRow.getString(3)
    ensurePrompts(cat, className)
    // canonicalized prompt map via the invalidation-based PromptStore
    // cache (app:490, app:162-183) — the warm path costs zero jobs
    val promptMap = PromptStore.get(cat, className)
    val derived = Seq((docRow.getString(0), docRow.getString(1),
        docRow.getString(2), className))
      .toDF("file_url", "relative_path", "text", "class_name")
      .withColumn("prompt_map", promptsLiteral(promptMap))
      .withColumn("result_map", ai_extract(col("text"), col("prompt_map")))
      .withColumn("extraction_result",
        extract_envelope(col("result_map"), col("prompt_map")))
      .withColumn("ocr", to_json(struct(col("text").as("content"))))
      .withColumn("summary", ai_complete(lit("mistral-7b"),
        substring(col("text"), 1, 6000)))
    // materialize the derived columns ONCE, single-threaded, before the
    // concurrent fan-out: four jobs sharing one lazy local-relation plan
    // would let ConvertToLocalRelation constant-fold the same to_json /
    // UDF expression INSTANCES from four optimizer threads at once, and
    // StructsToJsonEvaluator's JacksonGenerator is not thread-safe
    val extracted = spark.createDataFrame(
      java.util.Arrays.asList(derived.collect(): _*), derived.schema)
    // persist x4 (app:523-554), ALL concurrent — the three appends and
    // the NEW_UPLOADS read-modify-swap touch four different tables —
    // the engine's form of the reference's side-thread OCR/summary pool
    // (app:450-452), including its 120 s join timeout (app:515). The
    // writes project already-materialized values; no shared evaluators.
    runConcurrently(Seq(
      () => cat.append("DOCUMENTS_PROCESSED", extracted.select(
        col("file_url"), col("relative_path").as("file_ref"),
        col("class_name"), col("extraction_result"))),
      () => cat.append("DOCUMENTS_EXTRACTED_FIELDS",
        Relational.unpivotMap(
          extracted.select(col("file_url"), col("relative_path").as("file_ref"),
            col("class_name"), col("result_map")),
          "result_map", "field_name", "field_value")
          .withColumn("confidence", lit(null).cast("double"))),
      () => cat.append("DOCUMENT_OCR", extracted.select(
        col("relative_path").as("file_name"), col("relative_path").as("file_ref"),
        col("ocr"), col("summary"))),
      () => cat.merge("NEW_UPLOADS",
        extracted.select(
          col("relative_path").as("file_name"),
          concat(lit(stage), lit("/"), col("relative_path")).as("file_ref"),
          lit(stage).as("stage_name"),
          lit(true).as("processed"),
          current_timestamp().as("uploaded_at")),
        Seq("file_name"))))
    extracted.select("file_url", "class_name", "result_map", "summary")
  }

  /** [[ensurePrompts]] for ONE class, served from the PromptStore cache:
    * the warm path (class known, prompts cached) costs zero Spark jobs —
    * the shape an interactive request needs. Falls back to a presence
    * probe + generate only when the cache has nothing for the class.
    */
  def ensurePrompts(cat: Catalog, className: String): Unit = {
    if (PromptStore.get(cat, className).nonEmpty) return
    // empty canonical map can mean EITHER absent or stored-but-empty —
    // only absence may generate (insert-if-absent, like the frame form)
    val spark = cat.spark
    import spark.implicits._
    val present = !cat.table("CLASS_PROMPTS")
      .filter(col("class_name") === className).isEmpty
    if (!present) ensurePrompts(cat, Seq(className).toDF("class_name"))
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

  /** Batch stream mode (§3.2/X2): Structured Streaming over the stage
    * dir; per-batch persists into DOCUMENTS_PROCESSED + exploded
    * DOCUMENTS_EXTRACTED_FIELDS (best-effort per batch, X8: failures
    * surface as an error row, not a silent drop — X9).
    * Returns the started query; caller stops it.
    */
  def stream(cat: Catalog, stage: String, prompts: Map[String, String],
             checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery = {
    val src = cat.spark.readStream.format("binaryFile")
      .schema(Catalog.binaryFileSchema)
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", 64) // pacing knob (X2)
      .load(cat.stageDir(stage))
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
      runConcurrently(Seq(
        () => cat.appendBatch("DOCUMENTS_PROCESSED", b.select(
          col("file_url"), col("relative_path").as("file_ref"),
          col("class_name"), col("extraction_result")), token),
        () => cat.appendBatch("DOCUMENTS_EXTRACTED_FIELDS",
          Relational.unpivotMap(
            b.select(col("file_url"), col("relative_path").as("file_ref"),
              col("class_name"), col("result_map")),
            "result_map", "field_name", "field_value")
            .withColumn("confidence", lit(null).cast("double")), token)))
    } finally b.unpersist()
    ()
  }
}
