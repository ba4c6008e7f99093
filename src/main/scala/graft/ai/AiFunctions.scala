package graft.ai

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.udf

/** Spark surface for the Doc-AI backend: four scalar functions, exposed
  * both as Column helpers and as registered SQL UDFs.
  *
  * Pipelines make one model call per document per function, but the
  * optimizer may copy any deterministic expression: over a plain
  * `explode` of an `ai_extract` map it infers and pushes down a
  * `size(map) > 0` filter that runs the model twice more per row. The
  * guards are the shape of `Relational.unpivotMap` and
  * PlanRegressionSpec's plan guard (no AI UDF twice, none in a filter
  * nobody wrote). The UDFs stay deterministic because
  * `CheapPredicatesFirst` only reorders deterministic conjuncts, and
  * cheap predicates must run before the model.
  *
  * Where calls run: each function's UDF carries an [[AiCall]] marker,
  * and [[AiEvalStrategy]] (injected by `GraftExtensions`) plans every
  * Project holding one as a `ProjectExec` over an [[AiEvalExec]]. That
  * operator computes a call's inputs on the task thread and runs only
  * the backend call on a shared daemon pool, keeping up to
  * [[AiEvalExec.MaxInFlight]] (8) rows per task in flight, in input
  * order. The window opens at one row and grows by one per row emitted,
  * so a LIMIT n starts at most 2n - 1 rows' calls. A nested call gets
  * one operator per level, so the parse of a later row overlaps the
  * extract of an earlier one. An AI UDF in a Filter, a Join condition,
  * an aggregate's output, a conditional branch, or a session built
  * without `GraftExtensions` still runs one row at a time on the task
  * thread.
  *
  * UDFs (not codegen Expressions) are the right call here: each call is
  * "model-inference" priced, so per-row JVM dispatch overhead is noise
  * (SURVEY §2.9). The rest of the plan stays whole-stage-codegen.
  */
object AiFunctions {

  // The backend is CONFIG-SWAPPABLE (default: the hermetic
  // deterministic backend). Every Column helper below captures the
  // current backend BY VALUE into that query's UDF closure, so the
  // chosen instance — which is Serializable by the DocAiBackend
  // contract — ships to executors with the query. That makes the swap
  // cluster-correct: no reliance on driver-side module state being
  // visible on executors.
  @volatile private var backendRef: DocAiBackend = DeterministicLocalBackend

  /** The currently configured backend. */
  def backend: DocAiBackend = backendRef

  /** Swap the Doc-AI backend. Column helpers pick it up on their NEXT
    * construction (per query); SQL-registered UDFs captured the
    * backend at [[register]] time — re-register after a swap if the
    * SQL names must follow it.
    */
  def setBackend(b: DocAiBackend): Unit = { backendRef = b }

  /** Config seam: `spark.graft.ai.backend` = `deterministic` (the
    * default, hermetic) or an http(s) base URL of a Doc-AI protocol
    * server (→ [[HttpDocAiBackend]], the real-model path). Call after
    * session construction; pipelines built afterwards run every
    * ai_* call through the configured backend.
    */
  def configureFrom(spark: SparkSession): Unit =
    spark.conf.get("spark.graft.ai.backend", "deterministic") match {
      case "deterministic" => setBackend(DeterministicLocalBackend)
      case url if url.startsWith("http://") || url.startsWith("https://") =>
        setBackend(new HttpDocAiBackend(url))
      case other => throw new IllegalArgumentException(
        s"spark.graft.ai.backend must be 'deterministic' or an http(s) URL, got '$other'")
    }

  /** AI_EXTRACT (app:202-210): map of {field -> question} in, map of
    * {field -> answer} out; a backend failure becomes the error row
    * {"error" -> message} (X9, app:855-856) so the batch stays alive.
    */
  private def extract(b: DocAiBackend, text: String,
                      prompts: Map[String, String]): Map[String, String] =
    if (text == null || prompts == null) null
    else try b.answerAll(text, prompts)
    catch { case e: Exception => Map("error" -> String.valueOf(e.getMessage)) }

  private def mkExtractUdf(b: DocAiBackend) =
    udf(new AiCall2[String, Map[String, String], Map[String, String]] {
      def apply(text: String, prompts: Map[String, String]) = extract(b, text, prompts)
    })

  /** RFC-8259-complete JSON string escape: backslash, quote, and ALL
    * control chars — answers are raw document sentences, which can
    * embed newlines/tabs that would otherwise corrupt the envelope.
    * Also escapes `graft.Verify`'s oracle_sql.json.
    */
  private[graft] def jsonEscape(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 8)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      c match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case _ if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
        case _ => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** The reference's exact JSON envelope {"response": {field: answer}}
    * (app:503, app:854, app:962) of one extract map, or {"error": msg}
    * for the error row — told apart from a real field named `error` by
    * the prompt map asking for it.
    */
  private def envelope(answers: Map[String, String],
                       prompts: Map[String, String]): String =
    if (answers == null) null
    else answers.get("error") match {
      case Some(msg) if answers.size == 1 &&
          (prompts == null || !prompts.contains("error")) =>
        s"""{"error": "${jsonEscape(msg)}"}"""
      case _ =>
        val fields = answers.toSeq.sortBy(_._1).map { case (f, a) =>
          s""""${jsonEscape(f)}": "${jsonEscape(a)}""""
        }
        s"""{"response": {${fields.mkString(", ")}}}"""
    }

  private val envelopeUdf = udf(envelope _)

  private def mkClassifyUdf(b: DocAiBackend) = udf(new AiCall1[String, String] {
    def apply(text: String) = if (text == null) null else b.classify(text)
  })

  private def mkParseDocumentUdf(b: DocAiBackend) = udf(new AiCall1[Array[Byte], String] {
    def apply(content: Array[Byte]) = if (content == null) null else b.parse(content)
  })

  private def mkCompleteUdf(b: DocAiBackend) = udf(new AiCall2[String, String, String] {
    def apply(model: String, prompt: String) =
      if (prompt == null) null else b.complete(model, prompt)
  })

  /** Canonicalize a stored prompt-schema VARIANT (any of the accepted
    * shapes, app:162-183) into the flat {field -> question} map the
    * extract functions take. Pure Scala core, exposed as a UDF so the
    * pipeline can apply it in-plan when reading CLASS_PROMPTS (app:490).
    */
  private val canonicalizeUdf = udf { (promptsJson: String, className: String) =>
    graft.ops.Canonicalize(
      if (promptsJson == null) "" else promptsJson,
      if (className == null) "document" else className)
  }

  def ai_extract(text: Column, prompts: Column): Column =
    mkExtractUdf(backendRef)(text, prompts)
  def canonicalize_prompts(promptsJson: Column, className: Column): Column =
    canonicalizeUdf(promptsJson, className)
  /** [[ai_extract]] in the reference's JSON envelope. */
  def ai_extract_json(text: Column, prompts: Column): Column =
    extract_envelope(ai_extract(text, prompts), prompts)
  /** The JSON envelope of an `ai_extract` map already in the plan. */
  def extract_envelope(answers: Column, prompts: Column): Column =
    envelopeUdf(answers, prompts)
  def ai_classify(text: Column): Column = mkClassifyUdf(backendRef)(text)
  def parse_document(content: Column): Column =
    mkParseDocumentUdf(backendRef)(content)
  def ai_complete(model: Column, prompt: Column): Column =
    mkCompleteUdf(backendRef)(model, prompt)

  /** Register all AI functions for spark.sql use — capturing the
    * backend configured at THIS call (re-register after a swap).
    */
  def register(spark: SparkSession): Unit = {
    val b = backendRef
    spark.udf.register("ai_extract", mkExtractUdf(b))
    spark.udf.register("ai_extract_json",
      udf(new AiCall2[String, Map[String, String], String] {
        def apply(t: String, p: Map[String, String]) = envelope(extract(b, t, p), p)
      }))
    spark.udf.register("ai_classify", mkClassifyUdf(b))
    spark.udf.register("parse_document", mkParseDocumentUdf(b))
    spark.udf.register("ai_complete", mkCompleteUdf(b))
    spark.udf.register("canonicalize_prompts", canonicalizeUdf)
  }
}
