package docbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, TaskContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.ai.DocAiBackend

/** In-memory tracing, recorded from outside the library.
  *
  * Everything here is JVM-global on purpose: `AiFunctions` serializes the
  * installed backend into every task closure, so counters held by a
  * backend instance would count on deserialized copies. Spans are kept in
  * memory and written out when the run ends.
  *
  * Times are epoch nanoseconds, calibrated once from the wall clock and
  * advanced with `System.nanoTime`, so they line up with Spark's
  * millisecond event times.
  */
object Trace {
  /** Spark local property carrying the benchmark's request id into task threads. */
  val ReqKey = "docbench.req"

  final case class Span(layer: String, name: String, req: String,
                        start: Long, end: Long) {
    def dur: Long = end - start
  }

  private val epochBase = System.currentTimeMillis() * 1000000L
  private val nanoBase = System.nanoTime()
  def now(): Long = epochBase + (System.nanoTime() - nanoBase)
  def ms(epochMs: Long): Long = epochMs * 1000000L

  @volatile var on = false
  @volatile var sc: SparkContext = _

  val spans = new ConcurrentLinkedQueue[Span]()
  val stages = new LongAdder
  val taskBusyNs = new LongAdder
  val maxTaskNs = new AtomicLong
  val inputBytes = new LongAdder
  val shuffleWriteBytes = new LongAdder
  val spillBytes = new LongAdder
  val gcMs = new LongAdder

  def reset(): Unit = {
    spans.clear()
    Seq(stages, taskBusyNs, inputBytes, shuffleWriteBytes, spillBytes, gcMs).foreach(_.reset())
    maxTaskNs.set(0)
  }

  def record(layer: String, name: String, req: String, start: Long, end: Long): Unit =
    if (on) spans.add(Span(layer, name, req, start, end))

  /** Request id of the calling thread: a task's local property, or the
    * driver thread's when a UDF is evaluated on the driver.
    */
  def currentReq(): String = {
    val tc = TaskContext.get()
    val p = if (tc != null) tc.getLocalProperty(ReqKey)
            else if (sc != null) sc.getLocalProperty(ReqKey) else null
    if (p == null) "" else p
  }

  /** Runs `f` with `id` as the request id of every job it starts. */
  def withReq[A](id: String)(f: => A): A = {
    sc.setLocalProperty(ReqKey, id)
    try f finally sc.setLocalProperty(ReqKey, null)
  }

  def of(layer: String): Seq[Span] = spans.asScala.filter(_.layer == layer).toSeq
}

/** Counting and timing wrapper around the installed Doc-AI backend. */
final class TracingBackend(inner: DocAiBackend) extends DocAiBackend {
  private def timed[A](op: String)(f: => A): A = {
    val req = Trace.currentReq()
    val t0 = Trace.now()
    try f
    catch { // the extract UDF turns this into an error row
      case e: Exception => Trace.record("ai_error", op, req, t0, Trace.now()); throw e
    } finally Trace.record("ai", op, req, t0, Trace.now())
  }
  override def answer(text: String, question: String): String =
    timed("extract")(inner.answer(text, question))
  override def answerAll(text: String, prompts: Map[String, String]): Map[String, String] =
    timed("extract")(inner.answerAll(text, prompts))
  override def classify(text: String): String = timed("classify")(inner.classify(text))
  override def parse(content: Array[Byte]): String = timed("parse")(inner.parse(content))
  override def complete(model: String, prompt: String): String =
    timed("complete")(inner.complete(model, prompt))
}

/** Jobs, stages, tasks and write executions, as spans and counters. */
final class TraceListener extends SparkListener {
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
  private val writeStarts = new java.util.concurrent.ConcurrentHashMap[Long, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val req = Option(e.properties).map(_.getProperty(Trace.ReqKey)).orNull
    jobStarts.put(e.jobId, (Trace.ms(e.time), if (req == null) "" else req))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { case (t0, req) =>
      Trace.record("spark", "job", req, t0, Trace.ms(e.time))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (Trace.on) Trace.stages.increment()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (Trace.on) {
    val info = e.taskInfo
    val t0 = Trace.ms(info.launchTime)
    val t1 = Trace.ms(info.finishTime)
    Trace.record("task", "task", "", t0, t1)
    Trace.taskBusyNs.add(t1 - t0)
    Trace.maxTaskNs.accumulateAndGet(t1 - t0, math.max)
    val m = e.taskMetrics
    if (m != null) {
      Trace.inputBytes.add(m.inputMetrics.bytesRead)
      Trace.shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
      Trace.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      Trace.gcMs.add(m.jvmGCTime)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart
        if s.sparkPlanInfo != null && s.sparkPlanInfo.nodeName.contains("InsertInto") =>
      writeStarts.put(s.executionId, Trace.ms(s.time))
    case x: SparkListenerSQLExecutionEnd =>
      Option(writeStarts.remove(x.executionId)).foreach(t0 =>
        Trace.record("engine", "write", "", t0, Trace.ms(x.time)))
    case _ =>
  }
}

/** Micro-batch progress of the streaming mode. */
final class StreamTrace extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (Trace.on) progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
