package graft.pipelines

import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase
import graft.ai.{AiFunctions, DeterministicLocalBackend, DocAiBackend}
import graft.engine.Catalog

/** Deterministic answers, with every call counted per (function, input).
  * The counters are JVM-global: AiFunctions serializes the backend into
  * each UDF closure, so state held by an instance would count on the
  * deserialized copies instead.
  */
object CountingBackend extends DocAiBackend {
  private val calls = new ConcurrentHashMap[(String, String), AtomicInteger]()

  def reset(): Unit = calls.clear()
  def count(fn: String, input: String): Int =
    Option(calls.get((fn, input))).fold(0)(_.get)

  private def hit[A](fn: String, input: String)(f: => A): A = {
    calls.computeIfAbsent((fn, input), _ => new AtomicInteger()).incrementAndGet()
    f
  }

  override def answer(text: String, question: String): String =
    DeterministicLocalBackend.answer(text, question)
  override def answerAll(text: String, prompts: Map[String, String]): Map[String, String] =
    hit("extract", text)(DeterministicLocalBackend.answerAll(text, prompts))
  override def classify(text: String): String =
    hit("classify", text)(DeterministicLocalBackend.classify(text))
  override def parse(content: Array[Byte]): String =
    hit("parse", new String(content, StandardCharsets.UTF_8))(
      DeterministicLocalBackend.parse(content))
  override def complete(model: String, prompt: String): String =
    hit("complete", prompt)(DeterministicLocalBackend.complete(model, prompt))
}

/** A model whose extract endpoint is down; every other call answers. */
object FailingExtractBackend extends DocAiBackend {
  val message = "extract endpoint unavailable"
  override def answer(text: String, question: String): String =
    throw new RuntimeException(message)
  override def answerAll(text: String, prompts: Map[String, String]): Map[String, String] =
    throw new RuntimeException(message)
  override def classify(text: String): String = DeterministicLocalBackend.classify(text)
  override def parse(content: Array[Byte]): String = DeterministicLocalBackend.parse(content)
  override def complete(model: String, prompt: String): String =
    DeterministicLocalBackend.complete(model, prompt)
}

/** One model call per document per AI function in every pipeline mode,
  * and the error-row shape when the extract call fails.
  */
class AiCallCountSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private val docs = Seq(
    "a.txt" -> "Invoice INV-311 from Acme. The total is $410. Due on 2024-05-01.",
    "b.txt" -> "Contract between Qux and Zed. Effective date 2023-11-30. Term one year.")
  private val texts = docs.map(_._2)
  private val prompts = Map("title" -> "What is the title?", "date" -> "What is the date?")

  private def withBackend[A](b: DocAiBackend)(body: => A): A = {
    val prev = AiFunctions.backend
    AiFunctions.setBackend(b)
    CountingBackend.reset()
    try body finally AiFunctions.setBackend(prev)
  }

  private def stagedCat(): Catalog = {
    val root = tempDir("graft_calls_test_").toString
    val cat = new Catalog(spark, root)
    cat.ensureTables()
    docs.foreach { case (f, t) => cat.putFile("docs", f, t.getBytes(StandardCharsets.UTF_8)) }
    cat
  }

  private def assertOncePerDoc(fns: String*): Unit =
    for (fn <- fns; t <- texts) {
      val n = CountingBackend.count(fn, t)
      assert(n == 1, s"$fn ran $n times for document '${t.take(20)}...'")
    }

  private def drain(cat: Catalog): Unit = {
    val q = Pipelines.stream(cat, "docs", prompts, cat.root + "/cp")
    try q.processAllAvailable() finally q.stop()
  }

  test("interactive: parse, classify, extract and complete run once per document") {
    withBackend(CountingBackend) {
      val cat = stagedCat()
      docs.foreach { case (f, _) => Pipelines.interactive(cat, "docs", f).collect() }
      // the summary prompt is the document text itself (shorter than 6000)
      assertOncePerDoc("parse", "classify", "extract", "complete")
    }
  }

  test("ensurePrompts: a cold class makes one complete call, a known class none") {
    withBackend(CountingBackend) {
      val cat = stagedCat()
      Pipelines.ensurePrompts(cat, "memo")
      Pipelines.ensurePrompts(cat, "memo")
      val prompt = "Generate a JSON object of field: question pairs for class 'memo'"
      assert(CountingBackend.count("complete", prompt) == 1)
      assert(cat.table("CLASS_PROMPTS").count() == 1)
    }
  }

  test("batchSql: parse and extract run once per document") {
    withBackend(CountingBackend) {
      val cat = stagedCat()
      assert(Pipelines.batchSql(cat, "docs", prompts).collect().length == docs.length)
      assertOncePerDoc("parse", "extract")
    }
  }

  test("stream: parse, classify and extract run once per document") {
    withBackend(CountingBackend) {
      val cat = stagedCat()
      drain(cat)
      assert(cat.table("DOCUMENTS_PROCESSED").count() == docs.length)
      assertOncePerDoc("parse", "classify", "extract")
    }
  }

  test("batchSqlOverDocuments: extract runs once per document") {
    withBackend(CountingBackend) {
      val sfDir = tempDir("graft_calls_sf_").toString
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
        .write.parquet(s"$sfDir/documents.parquet")
      val wide = Pipelines.batchSqlOverDocuments(spark, sfDir, prompts).collect()
      assert(wide.length == docs.length)
      assertOncePerDoc("extract")
    }
  }

  test("SQL ai_extract_json: one extract call per row, reference envelope") {
    try withBackend(CountingBackend) {
      AiFunctions.register(spark)
      val j = texts.toDF("text").selectExpr(
        "ai_extract_json(text, map('title', 'What is the title?')) AS j")
        .as[String].collect()
      assert(j.forall(_.startsWith("""{"response": {"title": """)), j.mkString("\n"))
      assertOncePerDoc("extract")
    } finally AiFunctions.register(spark) // SQL names follow the restored backend
  }

  private def assertErrorRows(cat: Catalog): Unit = {
    val processed = cat.table("DOCUMENTS_PROCESSED")
      .select("extraction_result").as[String].collect()
    assert(processed.length == docs.length)
    processed.foreach(j => assert(j.startsWith("""{"error": """), j))
    val fields = cat.table("DOCUMENTS_EXTRACTED_FIELDS")
      .select("file_ref", "field_name", "field_value").as[(String, String, String)]
      .collect().sorted.toSeq
    assert(fields == docs.map { case (f, _) => (f, "error", FailingExtractBackend.message) })
  }

  test("interactive keeps the error-row shape when extract fails") {
    withBackend(FailingExtractBackend) {
      val cat = stagedCat()
      docs.foreach { case (f, _) => Pipelines.interactive(cat, "docs", f) }
      assertErrorRows(cat)
    }
  }

  test("stream keeps the error-row shape when extract fails") {
    withBackend(FailingExtractBackend) {
      val cat = stagedCat()
      drain(cat)
      assertErrorRows(cat)
    }
  }
}
