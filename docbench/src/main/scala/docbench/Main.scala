package docbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import graft.{Graft, GraftExtensions}
import graft.ai.{AiFunctions, DeterministicLocalBackend}

/** Runs one benchmark workload and prints its metrics as one JSON line.
  *
  *   docbench.Main --workload doc_interactive|doc_bulk|operator_suite
  *                 --seed N --seconds S --trace 0|1 --work DIR --out DIR
  *                 [--fixture DIR --expected FILE] [--tiny] [--record FILE]
  *
  * `--trace 0` prints the end-to-end metrics. `--trace 1` alternates
  * untraced and traced rounds, prints the per-layer metrics of the traced
  * rounds, and reports their slowdown as `trace.overhead_share`. Exits 1
  * when any output check fails.
  */
object Main {
  private val mapper = new ObjectMapper()

  def main(argv: Array[String]): Unit = {
    val a = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val work = Paths.get(a("work"))
    val out = Paths.get(a("out"))
    val tiny = argv.contains("--tiny")
    // the stand-in's server sockets must not delay small responses
    // (Nagle) — it stands in for a model, not for a slow network
    System.setProperty("sun.net.httpserver.nodelay", "true")

    val spark = session(work)
    Trace.sc = spark.sparkContext
    val checks = new Checks
    val ctx = new Ctx(spark, work, seed, tiny, checks)
    val priced = workload != "operator_suite"
    val model = if (priced) Some(new ModelStandIn(seed)) else None
    // reset the JVM-global backend, then install this workload's
    AiFunctions.setBackend(DeterministicLocalBackend)
    model.foreach { m =>
      spark.conf.set("spark.graft.ai.backend", m.url)
      AiFunctions.configureFrom(spark)
    }
    val w: Workload = workload match {
      case "doc_interactive" => new DocInteractive(ctx)
      case "doc_bulk" => new DocBulk(ctx)
      case "operator_suite" =>
        new OperatorSuite(ctx, a("fixture"), expectedHashes(a("expected")), a.get("record"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    var exit = 0
    val t0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def phase(p: String): Unit =
      System.err.println(f"[docbench] ${(System.currentTimeMillis() - t0) / 1e3}%.1f s: $p")
    try {
      phase("set-up")
      val setups = (0 until 3).map(w.setup)
      phase("warm-up")
      w.warm()
      phase("measure")
      val metrics: Seq[(String, Double, String)] =
        if (!traced) {
          val ops = rounds(seconds, w.minRounds)(_ => w.round()).flatten
          w.finish()
          endToEnd(workload, ops, setups)
        } else {
          // rounds alternate untraced / traced, so both halves see the
          // same mix of early and late rounds
          val bus = spark.sparkContext
          val streamTrace = new StreamTrace
          bus.addSparkListener(new TraceListener)
          spark.streams.addListener(streamTrace)
          val plain = AiFunctions.backend
          val wrapped = new TracingBackend(plain)
          val all = rounds(seconds, 2 * w.minRounds) { i =>
            val on = i % 2 == 1
            org.apache.spark.docbench.Bus.drain(bus)
            AiFunctions.setBackend(if (on) wrapped else plain)
            Trace.on = on
            try w.round()
            finally {
              org.apache.spark.docbench.Bus.drain(bus)
              Trace.on = false
            }
          }
          w.finish()
          writeSpans(out.resolve(s"spans-$workload-seed$seed.jsonl"), model)
          val (untracedOps, tracedOps) = all.zipWithIndex.partition(_._2 % 2 == 0)
          Layers.perLayer(w, untracedOps.flatMap(_._1), tracedOps.flatMap(_._1), model, streamTrace) :+
            (("jvm.peak_rss_mb", peakRssMb(), "MB"))
        }
      phase("done")
      val result = mapper.createObjectNode()
      result.put("correct", checks.failed == 0)
      result.put("attempted", math.max(1L, checks.attempted))
      result.put("failed", checks.failed)
      val m = result.putObject("metrics")
      metrics.foreach { case (k, v, unit) =>
        m.putObject(k).put("value", if (v.isNaN || v.isInfinite) 0.0 else v).put("unit", unit)
      }
      checks.notes.foreach(n => System.err.println(s"[docbench] check failed: $n"))
      if (checks.failed > 0) exit = 1
      println(mapper.writeValueAsString(result))
    } finally {
      model.foreach(_.stop())
      spark.stop()
      phase("stopped")
    }
    sys.exit(exit)
  }

  /** Runs rounds while the next one, estimated from the last, still ends
    * within `seconds` of the first; always at least `min` rounds.
    */
  private def rounds[A](seconds: Double, min: Int)(round: Int => A): Seq[A] = {
    val out = mutable.ArrayBuffer[A]()
    val t0 = System.nanoTime()
    var last = 0.0
    while (out.size < min || (System.nanoTime() - t0) / 1e9 + last <= seconds) {
      val r0 = System.nanoTime()
      out += round(out.size)
      last = (System.nanoTime() - r0) / 1e9
    }
    out.toSeq
  }

  private def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("docbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.sql.ui.retainedExecutions", "5")
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "500")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    Graft.init(s)
    s
  }

  private def expectedHashes(path: String): Map[String, (Long, String)] = {
    val root = mapper.readTree(Files.readString(Paths.get(path)))
    root.properties().asScala.map { e =>
      e.getKey -> (e.getValue.path("rows").asLong(), e.getValue.path("hash").asText())
    }.toMap
  }

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** The end-to-end metrics, one definition for every workload: an op is
    * an interactive request, a document through a set-based mode, or a
    * suite query (see docbench/NOTES.md).
    */
  private def endToEnd(workload: String, ops: Seq[Op],
                       setups: Seq[Double]): Seq[(String, Double, String)] = {
    // History views are timed on their own, not as interactive wall time
    val counted = ops.filterNot(_.kind == "history")
    System.err.println("[docbench] ops: " + ops.map(o => f"${o.name}=${o.secs}%.2f").mkString(" "))
    System.err.println(s"[docbench] $workload " +
      Layers.modeMetrics(ops).map { case (k, v, _) => f"$k=$v%.4f" }.mkString(" "))
    Seq(
      ("setup_s", Stats.median(setups), "s"),
      ("op_p50_s", Stats.median(Layers.latencies(ops)), "s"),
      ("ops_per_s", Layers.units(counted) / counted.map(_.secs).sum, "1/s"))
  }

  private def writeSpans(path: Path, model: Option[ModelStandIn]): Unit = {
    Files.createDirectories(path.getParent)
    val served = model.toSeq.flatMap(_.served.asScala).map(s =>
      Trace.Span("model", s.op, "", s.start, s.end))
    val lines = (Trace.spans.asScala.toSeq ++ served).sortBy(_.start).map { s =>
      val n = mapper.createObjectNode()
      n.put("layer", s.layer).put("name", s.name).put("req", s.req)
        .put("start_ns", s.start).put("end_ns", s.end)
      mapper.writeValueAsString(n)
    }
    Files.write(path, lines.asJava)
  }
}
