package docbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Per-layer metrics of a traced run, computed from the spans and
  * counters in [[Trace]] and the stand-in's own records. Every workload
  * reports every metric; a layer a workload does not exercise reads 0.
  */
object Layers {
  type Metric = (String, Double, String)

  /** Client-side wait between attempts, `HttpDocAiBackend`'s default. */
  val RetryDelayMs = 500.0

  private def iv(spans: Seq[Trace.Span]) = spans.map(s => (s.start, s.end))

  private def within(spans: Seq[Trace.Span], ops: Seq[Op]) =
    spans.filter(s => ops.exists(o => s.start >= o.start && s.start < o.end))

  /** Operations the end-to-end rate counts: requests, documents or queries. */
  def units(ops: Seq[Op]): Double =
    if (ops.exists(_.kind == "interactive")) ops.count(_.kind == "interactive").toDouble
    else if (ops.exists(o => o.kind == "batch" || o.kind == "stream")) ops.map(_.docs).sum.toDouble
    else ops.size.toDouble

  /** Op latencies the end-to-end `op_p50_s` takes the median of. */
  def latencies(ops: Seq[Op]): Seq[Double] =
    if (ops.exists(_.kind == "interactive")) ops.filter(_.kind == "interactive").map(_.secs)
    else if (ops.exists(_.docLatencies.nonEmpty)) ops.flatMap(_.docLatencies)
    else ops.map(_.secs)

  private def docsPerS(ops: Seq[Op]): Double =
    if (ops.isEmpty) 0.0 else ops.map(_.docs).sum / ops.map(_.secs).sum

  /** The pipeline-mode figures each workload yields (0 where a mode did not run). */
  def modeMetrics(ops: Seq[Op]): Seq[Metric] = {
    val inter = ops.filter(_.kind == "interactive").map(_.secs)
    // a view is three consecutive History queries
    val views = ops.filter(_.kind == "history").grouped(3).map(_.map(_.secs).sum).toSeq
    val batch = ops.filter(_.kind == "batch")
    val stream = ops.filter(_.kind == "stream")
    val firstBatch = stream.filter(_.docs > 0).map(_.docLatencies.min)
    val queries = ops.filter(_.kind == "query")
    val passes = if (queries.isEmpty) 0 else queries.count(_.name == queries.head.name)
    Seq(
      ("pipelines.interactive.p50_s", Stats.median(inter), "s"),
      ("pipelines.interactive.p90_s", Stats.pct(inter, 0.9), "s"),
      ("pipelines.history.view_p50_s", Stats.median(views), "s"),
      ("pipelines.batch.docs_per_s", docsPerS(batch), "docs/s"),
      ("pipelines.stream.docs_per_s", docsPerS(stream), "docs/s"),
      ("pipelines.stream.first_batch_s", Stats.median(firstBatch), "s"),
      ("suite.total_s", if (passes == 0) 0.0 else queries.map(_.secs).sum / passes, "s"))
  }

  def perLayer(w: Workload, untraced: Seq[Op], ops: Seq[Op], model: Option[ModelStandIn],
               streamTrace: StreamTrace): Seq[Metric] = {
    val ai = Trace.of("ai")
    val aiErrors = Trace.of("ai_error")
    val jobs = Trace.of("spark")
    val tasks = Trace.of("task")
    val writes = Trace.of("engine")
    val handled = model.toSeq.flatMap(_.served.asScala)
      .filter(s => ops.exists(o => s.start >= o.start && s.start < o.end))
    val served = handled.filterNot(_.refused)
    val opIv = ops.map(o => (o.start, o.end))
    // per-op ratios count the ops the end-to-end rate counts (History
    // views are timed apart)
    val counted = ops.filterNot(_.kind == "history")
    val n = units(counted)
    val docs = w.aiDocs(ops)
    def per(x: Double, d: Double) = if (d > 0) x / d else 0.0

    // --- ai
    val aiDur = ai.map(_.dur.toDouble)
    val aiUnion = Stats.union(iv(ai)).toDouble
    val requests = handled.size.toDouble
    val retries = if (model.isEmpty) 0.0 else math.max(0.0, requests - ai.size)
    val transport =
      if (model.isEmpty || ai.isEmpty) 0.0
      else (aiDur.sum - handled.map(s => (s.end - s.start).toDouble).sum -
        retries * RetryDelayMs * 1e6) / ai.size / 1e6
    def calls(op: String, k: Option[String] = None) = {
      val scope = k.map(kind => ops.filter(_.kind == kind)).getOrElse(ops)
      val spans = if (k.isEmpty) ai else within(ai, scope)
      per(spans.count(_.name == op).toDouble,
        if (k.isEmpty) docs else scope.map(_.docs).sum.toDouble)
    }
    val aiM = Seq(
      ("ai.parse.calls_per_doc", calls("parse"), "calls/doc"),
      ("ai.classify.calls_per_doc", calls("classify"), "calls/doc"),
      ("ai.extract.calls_per_doc", calls("extract"), "calls/doc"),
      ("ai.complete.calls_per_doc", calls("complete"), "calls/doc"),
      ("ai.extract.calls_per_doc.interactive", calls("extract", Some("interactive")), "calls/doc"),
      ("ai.extract.calls_per_doc.batch", calls("extract", Some("batch")), "calls/doc"),
      ("ai.extract.calls_per_doc.stream", calls("extract", Some("stream")), "calls/doc"),
      ("ai.busy_s", aiUnion / 1e9, "s"),
      ("ai.call_p50_ms", Stats.median(aiDur) / 1e6, "ms"),
      ("ai.call_p99_ms", Stats.pct(aiDur, 0.99) / 1e6, "ms"),
      ("ai.inflight_max", Stats.maxOverlap(iv(ai)).toDouble, "calls"),
      ("ai.inflight_mean", per(aiDur.sum, aiUnion), "calls"),
      ("ai.transport_overhead_ms", transport, "ms"),
      ("ai.retries", retries, "count"),
      ("ai.error_rows", aiErrors.size.toDouble, "count"))

    // --- model
    val modelM = Seq(
      ("model.requests", requests, "count"),
      ("model.service_p50_ms", Stats.median(served.map(_.serviceNs.toDouble)) / 1e6, "ms"),
      ("model.handler_p50_ms", Stats.median(served.map(_.handlerNs.toDouble)) / 1e6, "ms"),
      ("model.queue_wait_s", served.map(_.queueNs.toDouble).sum / 1e9, "s"),
      ("model.503s", handled.count(_.refused).toDouble, "count"))

    // --- spark
    val taskInOps = Stats.union(opIv.flatMap { case (lo, hi) => Stats.clip(iv(tasks), lo, hi) })
    val sparkM = Seq(
      ("spark.jobs", jobs.size.toDouble, "count"),
      ("spark.jobs_per_op", per(within(jobs, counted).size, n), "jobs/op"),
      ("spark.stages", Trace.stages.sum.toDouble, "count"),
      ("spark.tasks", tasks.size.toDouble, "count"),
      ("spark.task_busy_s", Trace.taskBusyNs.sum / 1e9, "s"),
      ("spark.max_task_s", Trace.maxTaskNs.get / 1e9, "s"),
      ("spark.idle_s", (Stats.union(opIv) - taskInOps) / 1e9, "s"),
      ("spark.input_mb_per_op", per(Trace.inputBytes.sum / 1048576.0, n), "MB/op"),
      ("spark.shuffle_write_mb", Trace.shuffleWriteBytes.sum / 1048576.0, "MB"),
      ("spark.spill_mb", Trace.spillBytes.sum / 1048576.0, "MB"),
      ("spark.gc_s", Trace.gcMs.sum / 1e3, "s"))

    // --- engine
    val files = w.tableFiles
    val engineM = Seq(("engine.put_s", w.putSeconds, "s")) ++
      Workload.Tables.map(t => (s"engine.files.$t", files.getOrElse(t, 0).toDouble, "files")) ++
      Seq(("engine.write_jobs_per_op", per(within(writes, counted).size, n), "writes/op"),
        ("engine.write_s", writes.map(_.dur).sum / 1e9, "s"))

    // --- pipelines
    val inter = ops.filter(_.kind == "interactive")
    val nonAi = inter.map(o => o.secs - Stats.union(Stats.clip(iv(ai), o.start, o.end)) / 1e9)
    val lat = inter.map(_.secs)
    def historyP50(q: String) = Stats.median(ops.filter(o => o.kind == "history" && o.name == q).map(_.secs))
    val decile = math.max(1, lat.size / 10)
    val progress: Seq[StreamingQueryProgress] =
      streamTrace.progress.asScala.toSeq.filter(_.numInputRows > 0)
    def dur(k: String) = progress.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0) / 1e3)
    val pipeM = Seq(
      ("pipelines.interactive.non_ai_p50_s", Stats.median(nonAi), "s"),
      ("pipelines.interactive.first_decile_s", Stats.mean(lat.take(decile)), "s"),
      ("pipelines.interactive.last_decile_s", Stats.mean(lat.takeRight(decile)), "s"),
      ("pipelines.history.class_summary_p50_s", historyP50("class_summary"), "s"),
      ("pipelines.history.documents_p50_s", historyP50("documents"), "s"),
      ("pipelines.history.fields_p50_s", historyP50("fields"), "s"),
      ("pipelines.stream.batches", progress.size.toDouble, "count"),
      ("pipelines.stream.batch_p50_s", Stats.median(dur("triggerExecution")), "s"),
      ("pipelines.stream.add_batch_p50_s", Stats.median(dur("addBatch")), "s"),
      ("pipelines.stream.get_batch_p50_s", Stats.median(dur("getBatch")), "s")) ++
      modeMetrics(ops).filterNot(_._1 == "suite.total_s")

    // --- self time along the blocking path, innermost layer first
    val self = Stats.selfTimes(Seq(
      "model" -> served.map(s => (s.start, s.end)), "ai" -> iv(ai), "task" -> iv(tasks),
      "engine" -> iv(writes), "spark" -> iv(jobs), "pipelines" -> opIv))
    val selfM = Seq("pipelines", "spark", "engine", "task", "ai", "model").map(l =>
      (s"self.${l}_s", self.getOrElse(l, 0L) / 1e9, "s"))

    // --- operator suite
    val queries = ops.filter(_.kind == "query")
    val suiteM = modeMetrics(ops).filter(_._1 == "suite.total_s") ++
      OperatorSuite.Queries.flatMap { q =>
        val runs = queries.filter(_.name == q)
        Seq((s"suite.${q}_s", Stats.median(runs.map(_.secs)), "s"),
          (s"suite.$q.jobs", per(within(jobs, runs).size, runs.size), "jobs"))
      }

    val overhead = Stats.median(latencies(ops)) / Stats.median(latencies(untraced)) - 1

    aiM ++ modelM ++ sparkM ++ engineM ++ pipeM ++ selfM ++ suiteM ++
      Seq(("trace.overhead_share", overhead, "share"))
  }
}
