package graft.ai

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** Payload-shape contract from FIXTURES.md A3 (the shapes the reference
  * unwraps at app:503, app:441-444, app:483-487).
  */
class AiFunctionsSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._
  import AiFunctions._

  private val text = "Invoice number INV-42 is due. The total is $100. Vendor is Acme Corp."

  test("ai_extract returns a field->answer map for every prompt") {
    val df = Seq(text).toDF("text")
      .select(ai_extract(col("text"),
        typedLit(Map("num" -> "What is the invoice number?",
                     "total" -> "What is the total amount?"))).as("m"))
    val m = df.as[Map[String, String]].collect()(0)
    assert(m.keySet == Set("num", "total"))
    assert(m("num").contains("INV-42"))
    assert(m("total").contains("$100"))
  }

  test("ai_extract_json wraps answers in the reference's response envelope") {
    val df = Seq(text).toDF("text")
      .select(ai_extract_json(col("text"),
        typedLit(Map("num" -> "What is the invoice number?"))).as("j"))
    val j = df.as[String].collect()(0)
    assert(j.startsWith("""{"response": {"""))
    val parsed = df.select(get_json_object(col("j"), "$.response.num"))
      .as[String].collect()(0)
    assert(parsed != null && parsed.contains("INV-42"))
  }

  test("ai_classify is deterministic and from the fixed class set") {
    val classes = Seq(text, text, "other doc entirely").toDF("text")
      .select(ai_classify(col("text"))).as[String].collect()
    assert(classes(0) == classes(1))
    val valid = Set("invoice", "contract", "report", "letter", "form")
    assert(classes.forall(valid))
  }

  test("parse_document round-trips utf8 text content") {
    val out = Seq(text).toDF("text")
      .select(parse_document(col("text").cast("binary"))).as[String].collect()(0)
    assert(out == text)
  }

  test("ai_complete summarization takes lead sentences") {
    val s = Seq(text).toDF("text")
      .select(ai_complete(lit("mistral-7b"), col("text"))).as[String].collect()(0)
    assert(s.startsWith("Summary: "))
    assert(s.contains("Invoice number"))
  }

  test("ai_complete prompt generation emits parseable flat JSON") {
    val json = Seq("x").toDF("t")
      .select(ai_complete(lit("mistral-7b"),
        lit("Generate a JSON object of field: question pairs for class 'invoice'")))
      .as[String].collect()(0)
    val m = graft.ops.Canonicalize(json, "invoice")
    assert(m.keySet == Set("invoice_title", "invoice_date", "invoice_party"))
  }

  test("extract envelope escapes control characters into valid JSON") {
    val gnarly = "Line one:\n\tTAB and \"quotes\" \\ backslash. Second sentence."
    val df = Seq(gnarly).toDF("text")
      .select(ai_extract_json(col("text"),
        typedLit(Map("f" -> "What is on line one?"))).as("j"))
    // parseability is the assertion: get_json_object returns null on
    // malformed JSON
    val parsed = df.select(get_json_object(col("j"), "$.response.f"))
      .as[String].collect()(0)
    assert(parsed != null, "envelope must stay valid JSON with control chars in answers")
  }

  test("extract failures surface as error rows, not batch failures (X9)") {
    // a null question NPEs inside the backend; the UDF must catch it
    val df = Seq(text).toDF("text")
      .select(ai_extract(col("text"),
        typedLit(Map("f" -> null.asInstanceOf[String]))).as("m"))
    val m = df.as[Map[String, String]].collect()(0)
    assert(m.keySet == Set("error"), s"expected error-as-row, got $m")
    val j = Seq(text).toDF("text")
      .select(ai_extract_json(col("text"),
        typedLit(Map("f" -> null.asInstanceOf[String])))).as[String].collect()(0)
    assert(j.startsWith("""{"error": """), j)
  }

  test("a prompted field named error stays a response field, not an error row") {
    val j = Seq(text).toDF("text")
      .select(ai_extract_json(col("text"),
        typedLit(Map("error" -> "What is the invoice number?")))).as[String].collect()(0)
    assert(j.startsWith("""{"response": {"error": """) && j.contains("INV-42"), j)
  }

  test("SQL registration exposes the functions") {
    AiFunctions.register(spark)
    val n = spark.sql(s"SELECT ai_classify('$text') AS c").collect()(0).getString(0)
    assert(n.nonEmpty)
  }
}
