package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.ListenerBridge

/** Per-query Spark counters for the bench mirror's `"layers"` map:
  * jobs, completed stages, tasks, summed and longest task time, shuffle
  * bytes and spill. Call [[reset]] before an action and [[snapshot]]
  * after it; both first drain the listener bus, so the counts are
  * complete without waiting on a timer.
  */
private[graft] final class QueryCounters(sc: SparkContext) extends SparkListener {
  private val jobs, stages, tasks, taskMs, maxTaskMs, readB, writeB, spillB = new AtomicLong
  private val all = Seq(jobs, stages, tasks, taskMs, maxTaskMs, readB, writeB, spillB)
  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val ms = if (e.taskInfo != null) e.taskInfo.duration else 0L
    tasks.incrementAndGet()
    taskMs.addAndGet(ms)
    maxTaskMs.accumulateAndGet(ms, math.max(_, _))
    val m = e.taskMetrics
    if (m != null) {
      readB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      writeB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillB.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def reset(): Unit = { ListenerBridge.drain(sc); all.foreach(_.set(0)) }

  /** The counters since [[reset]], in mirror order (seconds, MB). */
  def snapshot(): Seq[(String, Double)] = {
    ListenerBridge.drain(sc)
    Seq("jobs" -> jobs.get.toDouble, "stages" -> stages.get.toDouble,
      "tasks" -> tasks.get.toDouble, "task_s" -> taskMs.get / 1e3,
      "max_task_s" -> maxTaskMs.get / 1e3, "shuffle_read_mb" -> readB.get / 1e6,
      "shuffle_write_mb" -> writeB.get / 1e6, "spill_mb" -> spillB.get / 1e6)
  }
}

object Bench {
  /** Mirror file for a [[graft.tools.ProbeNorms.normKey]]: only the
    * full sf0.1 suite writes `BENCH_LOCAL.json`, so runs on other
    * fixtures or query subsets never overwrite that baseline.
    */
  private[graft] def mirrorName(normKey: String): String =
    if (normKey == "sf0.1") "BENCH_LOCAL.json"
    else s"BENCH_LOCAL.${normKey.replace('|', '.')}.json"

  private def newSession(cpus: String): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // one JVM runs 193 queries x reps: the AppStatus/SQL status
    // stores run even with the UI off and their DEFAULT retention
    // (1000 executions, 100k tasks) holds per-stage metric maps for
    // the whole suite — part of the accumulated heap pressure that
    // made the sf10 run need a 16 GB driver (SCALE.md). The bench
    // needs none of that history.
    .config("spark.sql.ui.retainedExecutions", "5")
    .config("spark.ui.retainedJobs", "50")
    .config("spark.ui.retainedStages", "50")
    .config("spark.ui.retainedTasks", "500")
    .config("spark.worker.ui.retainedExecutors", "5")
    .config("spark.worker.ui.retainedDrivers", "5")
    // engine extensions at builder time: all timed entries see ONE
    // uniform optimizer — plans can't depend on run order (the
    // q_ai_filter_pushdown attach becomes a no-op here)
    .withExtensions(new GraftExtensions)
    .getOrCreate()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = newSession(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val counters = new QueryCounters(spark.sparkContext)
    val only = args.toSet // optional query-name filter for local runs
    val picked = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .toSeq.sortBy(_._1) // deterministic run order round over round
    // Warm-up: run every picked query once at the SMALLEST sf so each
    // timed query's exact machinery (codegen, JIT, UDF paths, parquet
    // footer cache, streaming/foreachBatch setup) is hot before its
    // timed run — r3 showed untouched trivial queries drifting 2x+
    // between rounds purely from first-JIT charges landing on whichever
    // query ran a family first. Warm-up time is NOT part of the metric.
    val warmDir = {
      val d = new java.io.File(sfDir).getParentFile
      val tiny = new java.io.File(d, "sf0.001")
      // scaled fixtures (.data/sf1, .data/sf3) have no tiny sibling —
      // warm on the driver's sf0.001 testdata instead of paying a
      // full-scale untimed pass per query
      val fallback = new java.io.File("/root/testdata/sf0.001")
      if (tiny.isDirectory) tiny.getPath
      else if (fallback.isDirectory) fallback.getPath else sfDir
    }
    // warm-up failures are EXPECTED to re-surface in the timed pass
    // (same query, same data path), but count them so a warm-up-only
    // anomaly is visible in the JSON instead of silently swallowed
    var warmFailed = 0
    picked.foreach { case (_, fn) =>
      try fn(spark, warmDir).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => warmFailed += 1 }
      releaseState(spark)
    }
    // Host-drift probe: ONE fixed trivial scan-agg, timed at suite
    // start / middle / end. Cross-round totals on this host drift
    // ±20-40% on byte-identical code (the r12→r13 133→162 s scare was
    // adjudicated as pure environment); the probe gives any reader a
    // code-independent yardstick — divide two rounds' totals by the
    // ratio of their probe medians before calling a delta a
    // regression. Probe cost is NOT part of the metric.
    def driftProbe(s: SparkSession): Double = {
      import org.apache.spark.sql.functions.{count, lit, sum, col}
      val t0 = System.nanoTime()
      // a bench dataset without the probe table degrades the probe to
      // -1 markers (and probe_status "unknown") instead of aborting a
      // suite whose every timed query is individually guarded
      try {
        s.read.parquet(s"$sfDir/lineitem.parquet")
          .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("q"))
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] drift probe FAILED: ${e.getMessage}")
        -1.0
      }
    }
    driftProbe(spark) // untimed: absorb the probe's own first-JIT charge
    val probeStart = driftProbe(spark)
    // steady-state latency = min over `reps` timed runs: sub-second
    // queries are GC/scheduling-noise-bound in a single shot, and the
    // min is the standard microbenchmark estimator of the code's actual
    // cost (the max measures the JVM's mood, not the plan)
    val reps = 2
    type Layers = Seq[(String, Double)]
    // (seconds, counters) of one rep, None when it failed; the counter
    // reset and snapshot sit outside the timed region
    def timedRun(s: SparkSession, c: QueryCounters, name: String,
                 fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[(Double, Layers)] = {
      c.reset()
      val t0 = System.nanoTime()
      // noop sink forces FULL evaluation of every output column —
      // count() would let Spark prune the expensive projections and
      // under-report compute-heavy queries
      val ok =
        try { fn(s, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          // keep timing the rest, but a failed query must be VISIBLE —
          // a swallowed error would read as a suspiciously fast pass
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      val layers = c.snapshot()
      // untimed gap: drop cache/checkpoint blocks the query left
      // behind so 77 queries don't accumulate memory pressure (GC
      // pauses were billed to whoever ran late in the r3 run)
      releaseState(s)
      if (ok) Some((dt, layers)) else None
    }
    // a rep that FAILED cannot contribute a timing: an exception after
    // 10 ms would otherwise masquerade as a 100x speedup (this exact
    // shape confused the round-10 snapshot). A query with zero
    // successful reps is None: -1 plus a "failed" list entry.
    def minOk(s: SparkSession, c: QueryCounters, name: String,
              fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
              n: Int): Option[(Double, Layers)] =
      (0 until n).flatMap(_ => timedRun(s, c, name, fn)).minByOption(_._1)
    val mid = picked.size / 2
    var probeMid = -1.0
    val firstPass = picked.zipWithIndex.map { case ((name, fn), i) =>
      if (i == mid) probeMid = driftProbe(spark)
      (name, fn, minOk(spark, counters, name, fn, reps))
    }
    if (probeMid < 0) probeMid = driftProbe(spark) // tiny filtered runs
    // headline stability: the slowest queries carry the round-over-round
    // signal, and a single extra shot on just those is cheap relative to
    // their own runtime — min-of-(reps+1) there keeps the ~±10% per-run
    // harness noise (r4->r5 drifted 55->60 s on byte-identical source)
    // from masquerading as a code regression
    val headline = firstPass.sortBy(-_._3.fold(-1.0)(_._1)).take(10).map(_._1).toSet
    val best = firstPass.map { case (name, fn, r) =>
      if (headline(name) && r.nonEmpty)
        name -> (r ++ timedRun(spark, counters, name, fn)).minByOption(_._1)
      else name -> r
    }
    val results = best.map { case (name, r) => name -> r.fold(-1.0)(_._1) }
    val probeEnd = driftProbe(spark)
    // Machine-readable window adjudication (the round-14 R14B lesson,
    // promoted from SCALE.md prose to protocol): compare this run's
    // MEDIAN probe reading against the best median ever recorded for
    // this fixture AND RUN SHAPE on this host (PROBE_NORMS.json beside
    // the build — the probe code never changes, so the watermark is
    // the host's demonstrated speed on this data size under this
    // suite shape). "degraded" = median > 1.3× the norm: cross-window
    // TOTAL comparisons against this run are unsound (same-window
    // per-query deltas remain valid). The median, not the min, carries
    // the signal — R14B's min probe matched the healthy window's while
    // its mid/end readings ran 1.4× hot, exactly the mid-suite
    // co-tenancy a degraded host shows. A healthy run lowers its own
    // shape's watermark monotonically; full and filtered runs keep
    // SEPARATE watermarks (graft.tools.ProbeNorms — a filtered run
    // carries less mid-suite pressure and must not poison the
    // full-suite norm, the round-15 hand-restore lesson).
    val probes = Seq(probeStart, probeMid, probeEnd)
    val probeMedian = probes.sorted.apply(1)
    val normsPath = graft.tools.ProbeNorms
      .anchorDir(java.nio.file.Paths.get("")).resolve("PROBE_NORMS.json")
    val sfKey = sfDir.split('/').last
    val normKey = graft.tools.ProbeNorms.normKey(sfKey, filtered = only.nonEmpty)
    def normsTxt(): Option[String] =
      try Some(new String(java.nio.file.Files.readAllBytes(normsPath), "UTF-8"))
      catch { case _: Throwable => None }
    val norm = normsTxt().flatMap(graft.tools.ProbeNorms.read(_, normKey))
    val probeStatus =
      if (probes.exists(_ < 0)) "unknown"
      else if (norm.exists(n => probeMedian > 1.3 * n)) "degraded"
      else "ok" // no recorded norm yet = this run seeds the watermark
    // persist min(norm, median) under THIS RUN SHAPE's key — only from
    // runs whose probes all succeeded (a broken probe can't poison the
    // watermark). Filtered runs maintain their own advisory key.
    if (probes.forall(_ >= 0)) {
      val body = graft.tools.ProbeNorms.merged(normsTxt(), normKey, probeMedian)
      try java.nio.file.Files.write(normsPath, body.getBytes("UTF-8"))
      catch { case e: Throwable =>
        System.err.println(s"[bench] PROBE_NORMS.json write failed: ${e.getMessage}")
      }
    }
    // In-suite vs isolated (round-15 verdict nit 2, promoted to
    // protocol): the gap between a query timed after ~150 suite
    // predecessors (accumulated JVM state: GC/heap history, codegen
    // caches, fs cache) and the same query in a fresh session was
    // narrated in OPPOSITE directions in consecutive rounds. Measure
    // it instead: after the timed suite, re-run the top-5 absolute
    // queries each in a FRESH SparkSession (same JVM config, same
    // window) — warm-up pass, then the same min-of-reps estimator —
    // and emit the pairs. probe_isolated (one probe reading in the
    // last isolated session) documents host health during this phase
    // without touching the 3-reading median protocol above. Full
    // suites only; its counters are not mirrored.
    val isoOn = only.isEmpty
    var probeIso = -1.0
    val isolated: Seq[(String, Double)] =
      if (!isoOn) Seq.empty
      else {
        val top5 = results.filter(_._2 >= 0).sortBy(-_._2).take(5).map(_._1)
        spark.stop()
        val out = top5.map { name =>
          val s2 = newSession(cpus)
          s2.sparkContext.setLogLevel("WARN")
          try {
            val fn = SparkEntry.queries(name)
            try fn(s2, warmDir).write.format("noop").mode("overwrite").save()
            catch { case _: Throwable => () }
            releaseState(s2)
            val t = minOk(s2, new QueryCounters(s2.sparkContext), name, fn, reps)
              .fold(-1.0)(_._1)
            if (name == top5.last) probeIso = driftProbe(s2)
            name -> t
          } finally s2.stop()
        }
        out
      }
    val failed = results.collect { case (n, t) if t < 0 => n }
    // totals must stay comparable round-over-round: a failed query
    // contributes 0 to the sum (its -1 marker stays in the map)
    def cleanTotal = results.collect { case (_, t) if t >= 0 => t }.sum
    // keep the JSON line SHORT (trimmed decimals, basename sf) so the
    // driver's 2000-char output-tail capture holds the whole line —
    // r3's 3dp line was 1998 chars and still got truncated by the sbt
    // prefix. Full precision is mirrored to the file named by
    // mirrorName, with the per-query counters of the reported rep.
    // Locale.ROOT: a comma-decimal default locale would emit 0,787 and
    // break every JSON consumer of this line
    def fmt(v: Double, dp: Int): String = {
      val s = String.format(java.util.Locale.ROOT, s"%.${dp}f",
        java.lang.Double.valueOf(v))
      if (s.contains('.')) s.reverse.dropWhile(_ == '0').stripPrefix(".").reverse else s
    }
    def failedJson: String =
      if (failed.isEmpty) ""
      else failed.map("\"" + _ + "\"").mkString(""","failed":[""", ",", "]")
    // start/middle/end readings of the fixed probe — the host-speed
    // yardstick cross-round comparisons normalize by (see README)
    def probeJson: String =
      s""","drift_probe":[${fmt(probeStart, 3)},${fmt(probeMid, 3)},${fmt(probeEnd, 3)}]""" +
        s""","probe_status":"$probeStatus"""" +
        norm.map(n => s""","probe_norm":${fmt(n, 3)}""").getOrElse("") +
        (if (warmFailed > 0) s""","warm_failed":$warmFailed""" else "")
    def isoJson: String =
      if (isolated.isEmpty) ""
      else isolated.map { case (k, v) => "\"" + k + "\":" + fmt(v, 2) }
        .mkString(""","isolated":{""", ",", "}") +
        (if (probeIso >= 0) s""","probe_isolated":${fmt(probeIso, 3)}""" else "")
    def line(dp: Int, layers: String = ""): String = {
      val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v, dp) }
        .mkString("{", ",", "}")
      val sfName = sfDir.split('/').last
      s"""{"metric":"total","value":${fmt(cleanTotal, 3)},"unit":"sec","queries":$qs,"sf":"$sfName"$probeJson$isoJson$failedJson$layers}"""
    }
    def layersJson: String = best.collect { case (q, Some((_, ls))) =>
      ls.map { case (k, v) => "\"" + k + "\":" + fmt(v, 3) }.mkString("\"" + q + "\":{", ",", "}")
    }.mkString(""","layers":{""", ",", "}")
    // mirror full precision beside the build (cwd), not a hardcoded
    // absolute path; a failed write must be visible, not silently absent
    val mirror = mirrorName(normKey)
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(mirror).toAbsolutePath, line(3, layersJson) + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] $mirror write failed: ${e.getMessage}")
    }
    // last-resort compaction: collapse entries under a threshold into
    // "_rest" (their sum) so the line keeps fitting as the query count
    // grows — the slow queries are the ones the per-query signal is
    // for, and the full map is always mirrored to the mirror file.
    // The threshold adapts: smallest cut that fits the budget.
    def lineCompact(thresh: Double): String = {
      val (kept, rest) = results.partition(_._2 >= thresh)
      val qs = (kept.map { case (k, v) => "\"" + k + "\":" + fmt(v, 1) } :+
        ("\"_rest\":" + fmt(rest.collect { case (_, t) if t >= 0 => t }.sum, 1)))
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(cleanTotal, 3)},"unit":"sec","queries":$qs,"sf":"${sfDir.split('/').last}"$probeJson$isoJson$failedJson}"""
    }
    println(
      if (line(2).length <= 1900) line(2)
      else if (line(1).length <= 1960) line(1)
      else Seq(0.15, 0.25, 0.5, 1.0).view.map(lineCompact)
        .find(_.length <= 1960).getOrElse(lineCompact(10.0)))
    if (!isoOn) spark.stop() // isolated path already stopped it
  }

  /** Unpersist every cached/localCheckpoint'd block and nudge the
    * ContextCleaner so per-query leftovers don't compound across the run.
    */
  private[graft] def releaseState(spark: SparkSession): Unit = {
    try {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      System.gc()
    } catch { case _: Throwable => () }
  }
}
