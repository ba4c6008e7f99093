package graft.ai

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration

import com.fasterxml.jackson.databind.ObjectMapper

/** Real-model HTTP backend for the [[DocAiBackend]] seam — the example
  * that closes the loop to the reference's Cortex calls
  * (/root/reference/app/Auto-Magic Document AI.py:202-220: AI_EXTRACT /
  * PARSE_DOCUMENT / AI_COMPLETE are all remote model endpoints there).
  * Slot it in anywhere a backend is taken; no operator changes:
  * the deterministic local backend remains the default so tests and
  * benches stay hermetic (SURVEY §2.9).
  *
  * Wire protocol (one POST per operation, JSON in/out — shapes mirror
  * the reference's envelopes, FIXTURES.md A3):
  *
  *   POST {base}/extract  {"text": t, "prompts": {f: q, …}}
  *     → {"response": {f: answer, …}}          (the app:202 envelope)
  *   POST {base}/classify {"text": t}
  *     → {"response": {"document_class": c}}   (app:458-461)
  *   POST {base}/parse    binary body (application/octet-stream)
  *     → {"content": text}                     (app:441-444)
  *   POST {base}/complete {"model": m, "prompt": p}
  *     → {"completion": s}
  *
  * Cluster posture: the class is Serializable but the HttpClient is
  * NOT, so it is never shipped: every deserialized copy in a JVM takes
  * the one client per `connectTimeoutMs` from [[HttpDocAiBackend]],
  * with its one selector thread and connection pool. The client and
  * the Jackson mapper are thread-safe and a call keeps no other state,
  * so concurrent calls (the [[DocAiBackend]] contract) are safe.
  * `answerAll` is ONE request per document
  * (the per-doc model call amortizes across fields, exactly why the
  * trait has the batch form). Retries: [[Retry.withRetry]] (AI4,
  * app:463-474) around transport errors, 5xx responses and 429 (rate
  * limited: the first answer a throttled endpoint gives), on the same
  * attempts × delay schedule. Any other 4xx is a permanent
  * protocol/request error and fails fast (wrapped as
  * [[HttpDocAiBackend.HttpStatusError]]; the UDF layer's error-as-row
  * contract turns it into an error column, X9).
  */
final class HttpDocAiBackend(baseUrl: String,
                             connectTimeoutMs: Long = 5000,
                             requestTimeoutMs: Long = 30000,
                             attempts: Int = 5,
                             retryDelayMs: Long = 500) extends DocAiBackend {
  require(attempts >= 1, "attempts >= 1")
  private val base = baseUrl.stripSuffix("/")

  // per-JVM (per-executor) transport state — never serialized
  @transient private lazy val client: HttpClient = HttpDocAiBackend.client(connectTimeoutMs)
  @transient private lazy val mapper = new ObjectMapper()

  private def post(path: String, body: Array[Byte],
                   contentType: String): String =
    Retry.withRetry(attempts, retryDelayMs,
      retryIf = !_.isInstanceOf[HttpDocAiBackend.HttpStatusError],
      delayOf = {
        case e: HttpDocAiBackend.Transient => e.retryAfterMs
        case _ => None
      }) {
      val req = HttpRequest.newBuilder(URI.create(s"$base$path"))
        .timeout(Duration.ofMillis(requestTimeoutMs))
        .header("Content-Type", contentType)
        .POST(HttpRequest.BodyPublishers.ofByteArray(body))
        .build()
      val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
      val code = resp.statusCode()
      if (code >= 200 && code < 300) resp.body()
      else if (code >= 500 || code == 429)
        // transient server failure or rate limit: throw a retryable exception
        throw new HttpDocAiBackend.Transient(s"HTTP $code from $path: ${resp.body().take(200)}",
          if (code == 429 || code == 503) retryAfterMs(resp) else None)
      else
        // any other 4xx is permanent — escape the retry loop immediately
        throw new HttpDocAiBackend.HttpStatusError(code,
          s"HTTP $code from $path: ${resp.body().take(200)}")
    }

  /** `Retry-After` delta-seconds in ms, capped at the request timeout;
    * None when the header is absent, an HTTP-date or malformed.
    */
  private def retryAfterMs(resp: HttpResponse[_]): Option[Long] = {
    val value = resp.headers().firstValue("Retry-After").orElse("").trim
    if (value.matches("[0-9]{1,9}")) Some(math.min(value.toLong * 1000, requestTimeoutMs))
    else None
  }

  private def postJson(path: String, json: String): String =
    post(path, json.getBytes(StandardCharsets.UTF_8), "application/json")

  private def node(json: String) = mapper.readTree(json)

  private def jsonOf(fields: (String, Any)*): String = {
    val n = mapper.createObjectNode()
    fields.foreach {
      case (k, v: String) => n.put(k, v)
      case (k, v: Map[_, _]) =>
        val o = n.putObject(k)
        v.foreach { case (f, q) => o.put(String.valueOf(f), String.valueOf(q)) }
      case (k, v) => n.put(k, String.valueOf(v))
    }
    mapper.writeValueAsString(n)
  }

  override def answer(text: String, question: String): String =
    answerAll(text, Map("q" -> question))("q")

  /** ONE request per document — fields share the model call. */
  override def answerAll(text: String,
                         prompts: Map[String, String]): Map[String, String] = {
    val resp = node(postJson("/extract", jsonOf("text" -> text, "prompts" -> prompts)))
      .path("response")
    prompts.keys.map(f => f -> resp.path(f).asText("")).toMap
  }

  override def classify(text: String): String =
    node(postJson("/classify", jsonOf("text" -> text)))
      .path("response").path("document_class").asText("")

  override def parse(content: Array[Byte]): String =
    node(post("/parse", content, "application/octet-stream"))
      .path("content").asText("")

  override def complete(model: String, prompt: String): String =
    node(postJson("/complete", jsonOf("model" -> model, "prompt" -> prompt)))
      .path("completion").asText("")
}

object HttpDocAiBackend {
  private val clients = new java.util.concurrent.ConcurrentHashMap[Long, HttpClient]()

  /** The JVM's one client for a connect timeout, shared by every
    * backend copy that tasks deserialize.
    */
  private def client(connectTimeoutMs: Long): HttpClient =
    clients.computeIfAbsent(connectTimeoutMs, ms =>
      HttpClient.newBuilder().connectTimeout(Duration.ofMillis(ms)).build())

  /** Permanent (non-retryable) HTTP failure — 4xx responses other
    * than 429. The retry loop is gated on
    * `retryIf = !isInstanceOf[HttpStatusError]` so these escape on the
    * FIRST attempt (a malformed request cannot succeed on attempt 2;
    * burning attempts × delay on it would just stall the executor),
    * while transport errors, 5xx and 429 keep the reference's
    * 5 × 0.5 s retry posture (AI4).
    */
  final class HttpStatusError(val code: Int, msg: String)
    extends RuntimeException(msg)

  /** Retryable failure — transport, 5xx or 429 — with the wait the
    * server asked for, if it named one.
    */
  final class Transient(msg: String, val retryAfterMs: Option[Long])
    extends java.io.IOException(msg)
}
