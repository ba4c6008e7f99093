package graft.ai

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Deterministic answers after a short sleep, with the calls in flight,
  * the calls started and what each call saw of its task counted. The
  * state is JVM-global: AiFunctions serializes the backend into each
  * UDF closure.
  */
object SleepyBackend extends DocAiBackend {
  val inFlight = new AtomicInteger()
  val peak = new AtomicInteger()
  val started = new AtomicInteger()
  /** (thread name, partition id, the `graft.test.req` local property) */
  val seen = new ConcurrentLinkedQueue[(String, Int, String)]()
  @volatile var failOn: String = null
  /** Inputs whose call sleeps 5 s unless interrupted. */
  @volatile var hang: Set[String] = Set.empty

  def reset(): Unit = {
    Seq(inFlight, peak, started).foreach(_.set(0))
    seen.clear()
    failOn = null
    hang = Set.empty
  }

  private def call[A](key: String)(f: => A): A = {
    started.incrementAndGet()
    val tc = TaskContext.get()
    seen.add((Thread.currentThread.getName, if (tc == null) -1 else tc.partitionId(),
      if (tc == null) null else tc.getLocalProperty("graft.test.req")))
    peak.accumulateAndGet(inFlight.incrementAndGet(), math.max)
    try {
      // a per-input sleep, so calls finish out of input order
      Thread.sleep(if (hang(key)) 5000 else 5 + (key.hashCode & 15))
      if (key == failOn) throw new IllegalStateException(s"model refused '$key'")
      f
    } finally inFlight.decrementAndGet()
  }

  override def answer(text: String, question: String): String =
    DeterministicLocalBackend.answer(text, question)
  override def answerAll(text: String, prompts: Map[String, String]): Map[String, String] =
    call(text)(DeterministicLocalBackend.answerAll(text, prompts))
  override def classify(text: String): String =
    call(text)(DeterministicLocalBackend.classify(text))
  override def parse(content: Array[Byte]): String =
    call(new String(content, "UTF-8"))(DeterministicLocalBackend.parse(content))
  override def complete(model: String, prompt: String): String =
    call(prompt)(DeterministicLocalBackend.complete(model, prompt))
}

class AiEvalSpec extends AnyFunSuite with SparkTestBase with AdaptiveSparkPlanHelper {
  import AiFunctions._

  private def text(i: Long): String = s"Document $i. The title is Report $i."

  private def docs(n: Int, partitions: Int): DataFrame =
    spark.range(0, n, 1, partitions).select(concat(lit("Document "), col("id"),
      lit(". The title is Report "), col("id"), lit(".")).as("text"))

  private def withSleepy[A](body: => A): A = {
    val prev = AiFunctions.backend
    AiFunctions.setBackend(SleepyBackend)
    SleepyBackend.reset()
    try body finally AiFunctions.setBackend(prev)
  }

  private def aiEvals(df: DataFrame): Seq[AiEvalExec] =
    collect(df.queryExecution.executedPlan) { case e: AiEvalExec => e }

  test("rows and their order equal plain-UDF evaluation on a multi-partition frame") {
    withSleepy {
      val prompts = typedLit(Map("title" -> "What is the title?"))
      val in = docs(64, 4)
      val ai = in.select(col("text"), ai_classify(col("text")).as("c"),
        ai_extract(parse_document(col("text").cast("binary")), prompts).as("m"))
      val plainClassify = udf((t: String) => DeterministicLocalBackend.classify(t))
      val plainExtract = udf((t: String, p: Map[String, String]) =>
        DeterministicLocalBackend.answerAll(t, p))
      val plain = in.select(col("text"), plainClassify(col("text")).as("c"),
        plainExtract(col("text"), prompts).as("m"))
      // parse and classify, then extract over the parsed text
      assert(aiEvals(ai).map(_.calls.size) == Seq(1, 2), ai.queryExecution.executedPlan)
      assert(aiEvals(plain).isEmpty)
      val got = ai.collect().toSeq
      assert(got.size == 64)
      assert(got == plain.collect().toSeq)
    }
  }

  test("one partition keeps more than one and at most MaxInFlight calls in flight") {
    withSleepy {
      assert(docs(48, 1).select(ai_classify(col("text"))).collect().length == 48)
      val peak = SleepyBackend.peak.get
      assert(peak > 1 && peak <= AiEvalExec.MaxInFlight, s"peak in flight $peak")
    }
  }

  test("a failing call fails the action with its exception; no call starts after") {
    withSleepy {
      val k = 20
      SleepyBackend.failOn = text(k)
      // the calls in flight behind the failing one would run 5 s
      SleepyBackend.hang = (k + 1 until 60).map(text(_)).toSet
      val t0 = System.nanoTime()
      val e = intercept[Exception](docs(60, 1).select(ai_classify(col("text"))).collect())
      assert(System.nanoTime() - t0 < 4e9, "the action waited for the calls in flight")
      val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(causes.exists(c => c.isInstanceOf[IllegalStateException] &&
        c.getMessage.contains(s"Report $k")), e)
      val started = SleepyBackend.started.get
      assert(started <= k + AiEvalExec.MaxInFlight, s"$started calls started")
      Thread.sleep(300)
      assert(SleepyBackend.started.get == started, "a call started after the action failed")
      assert(SleepyBackend.inFlight.get == 0, "calls still in flight after the action failed")
    }
  }

  test("the backend sees the task's TaskContext and local properties") {
    withSleepy {
      val sc = spark.sparkContext
      sc.setLocalProperty("graft.test.req", "req-7")
      try assert(docs(16, 2).select(ai_classify(col("text"))).collect().length == 16)
      finally sc.setLocalProperty("graft.test.req", null)
      val seen = SleepyBackend.seen.asScala.toSeq
      assert(seen.size == 16)
      assert(seen.forall(_._1.startsWith("graft-ai-eval-")), seen)
      assert(seen.map(_._2).toSet == Set(0, 1), seen)
      assert(seen.forall(_._3 == "req-7"), seen)
    }
  }

  test("limit(1) on one partition makes at most 2 calls") {
    withSleepy {
      val df = docs(100, 1).select(ai_classify(col("text")).as("c")).limit(1)
      assert(df.collect().length == 1)
      assert(SleepyBackend.started.get <= 2, s"${SleepyBackend.started.get} calls")
    }
  }
}
