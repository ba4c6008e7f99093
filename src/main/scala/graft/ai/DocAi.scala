package graft.ai

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

/** Pluggable document-AI backend — the engine's equivalent of the three
  * Snowflake Cortex functions the reference is built around
  * (/root/reference/app/Auto-Magic Document AI.py):
  *
  *  - AI_EXTRACT(file, responseFormat)            app:202-210, app:457-462, app:948-953
  *  - SNOWFLAKE.CORTEX.PARSE_DOCUMENT(..layout..) app:212-215
  *  - AI_COMPLETE(model, prompt)                  app:217-220, app:481-489
  *
  * The trait keeps the operators backend-agnostic: the deterministic
  * local backend below makes tests/benches hermetic; a real-model HTTP
  * backend can be slotted in without touching any operator.
  *
  * Payload shapes mirror the reference exactly (FIXTURES.md A3):
  *   extract  -> {"response": {field: answer, ...}}
  *   classify -> {"response": {"document_class": c}}   (app:458-461)
  *   parse    -> {"content": text}                     (app:441-444)
  *   complete -> plain string (summary) or flat JSON {field: question}
  *
  * Backends must be safe to call from several threads at once:
  * [[AiEvalExec]] keeps up to eight calls of one task in flight on pool
  * threads, all against the task's one deserialized instance. Every
  * backend here is: [[DeterministicLocalBackend]] is a pure function
  * (its `MessageDigest` is per call), and [[HttpDocAiBackend]] shares a
  * thread-safe `HttpClient` and Jackson mapper and keeps no per-call
  * state in the instance.
  */
trait DocAiBackend extends Serializable {
  /** Answer one question about a document's text. */
  def answer(text: String, question: String): String

  /** Answer a batch of questions about one document. Override when the
    * backend can amortize per-document work (tokenization, encoding,
    * a single model call) across questions — the extract UDF always
    * calls this form.
    */
  def answerAll(text: String, prompts: Map[String, String]): Map[String, String] =
    prompts.map { case (f, q) => f -> answer(text, q) }
  /** Classify a document into a class label. */
  def classify(text: String): String
  /** OCR/parse: binary content -> full text. */
  def parse(content: Array[Byte]): String
  /** Freeform completion (summaries, prompt-schema generation). */
  def complete(model: String, prompt: String): String
}

/** Deterministic, pure-function-of-input backend: regex + heuristics +
  * content hashing, no wall clock, no RNG (SURVEY §7.4 risk 4). Good
  * enough to exercise every pipeline shape; obviously not a real model.
  */
object DeterministicLocalBackend extends DocAiBackend {

  private def sha(s: String): String =
    MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8))
      .take(8).map("%02x".format(_)).mkString

  private val classes = Array("invoice", "contract", "report", "letter", "form")

  /** Heuristic answer: first sentence containing a keyword of the
    * question; falls back to a content-hash-seeded token so answers are
    * stable and distinct per (text, question).
    */
  override def answer(text: String, question: String): String =
    answerOne(text.split("(?<=[.!?])\\s+"), text, question)

  private def answerOne(sentences: Array[String], text: String, question: String): String = {
    val qWords = question.toLowerCase.split("\\W+").filter(_.length > 3).toSet
    val hit = sentences.find(s => qWords.exists(s.toLowerCase.contains))
    hit.map(_.trim.take(120)).getOrElse(s"ans_${sha(text + "|" + question)}")
  }

  /** Batch form: sentence-split once per document (the per-question
    * split dominated extract cost at scale).
    */
  override def answerAll(text: String, prompts: Map[String, String]): Map[String, String] = {
    val sentences = text.split("(?<=[.!?])\\s+")
    prompts.map { case (f, q) => f -> answerOne(sentences, text, q) }
  }

  /** Content-hash bucketed class label — stable per text. */
  override def classify(text: String): String = {
    val h = MessageDigest.getInstance("SHA-256")
      .digest(text.getBytes(StandardCharsets.UTF_8))
    classes(math.floorMod(h(0).toInt, classes.length))
  }

  /** Local "OCR": testdata documents are already text (SURVEY AI2). */
  override def parse(content: Array[Byte]): String =
    new String(content, StandardCharsets.UTF_8)

  /** Summaries = lead sentences (capped like app:218's text[:6000]);
    * prompt-schema generation = deterministic flat JSON (app:483-487).
    */
  override def complete(model: String, prompt: String): String = {
    val p = prompt.trim
    if (p.startsWith("Generate a JSON object")) {
      // schema-generation contract: flat {field: question} parseable by
      // PARSE_JSON (app:483-487). Derive a class token from the prompt.
      val cls = p.split("class\\s+'").lift(1).map(_.takeWhile(_ != '\'')).getOrElse("document")
      s"""{"${cls}_title": "What is the title?", "${cls}_date": "What is the date?", "${cls}_party": "Who is the main party?"}"""
    } else {
      val body = p.take(6000)
      val sents = body.split("(?<=[.!?])\\s+").take(2).mkString(" ")
      val s = if (sents.nonEmpty) sents else body.take(160)
      s"Summary: ${s.take(300)}"
    }
  }
}
