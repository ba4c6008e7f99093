package graft.ai

import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** Hermetic e2e for the real-model HTTP backend: an in-process JDK
  * HttpServer speaks the wire protocol by DELEGATING to the
  * deterministic local backend, so the HTTP path must reproduce the
  * local backend's answers byte-for-byte — protocol, escaping and
  * envelope handling are what's under test, with zero egress.
  * Also pins the retry semantics: 5xx and 429 retry then succeed,
  * any other 4xx fails fast (exactly one request).
  */
class HttpDocAiBackendSpec extends AnyFunSuite {

  /** Delegates to the shared [[DocAiProtocolTestServer]] (also used by
    * the pipeline backend-swap e2e).
    */
  private def startServer(failFirst: Boolean = false,
                          firstStatus: Int = 503): (String, AtomicInteger, () => Unit) =
    DocAiProtocolTestServer.start(failFirst, firstStatus)

  // text with every escape hazard: quotes, backslash, newline, tab,
  // non-ASCII — the round trip must survive JSON both ways
  private val text = "The \"total\" is $1,234.56.\nVendor: ACME \\ Co.\tInvoice date is 2026-01-15. Ünïcödé too."
  private val prompts = Map(
    "total" -> "What is the total amount?",
    "vendor" -> "Who is the vendor or supplier?",
    "date" -> "What is the invoice date?")

  test("HTTP backend reproduces the local backend through the wire protocol") {
    val (url, _, stop) = startServer()
    try {
      val http = new HttpDocAiBackend(url, attempts = 1)
      val d = DeterministicLocalBackend
      assert(http.answerAll(text, prompts) == d.answerAll(text, prompts))
      assert(http.answer(text, "Who is the vendor?") ==
        d.answer(text, "Who is the vendor?"))
      assert(http.classify(text) == d.classify(text))
      val bytes = text.getBytes(StandardCharsets.UTF_8)
      assert(http.parse(bytes) == d.parse(bytes))
      assert(http.complete("mistral-7b", text) == d.complete("mistral-7b", text))
      assert(http.complete("m", "Generate a JSON object of field: question pairs for class 'invoice'") ==
        d.complete("m", "Generate a JSON object of field: question pairs for class 'invoice'"))
    } finally stop()
  }

  test("5xx retries (AI4) and then succeeds; 4xx fails FAST with one request") {
    val (url, hits, stop) = startServer(failFirst = true)
    try {
      val http = new HttpDocAiBackend(url, attempts = 3, retryDelayMs = 10)
      // first hit 503s, retry succeeds with the same answer
      assert(http.classify(text) == DeterministicLocalBackend.classify(text))
      assert(hits.get() == 2, s"expected 1 failure + 1 retry, got ${hits.get()}")
      // 4xx: exactly ONE request despite attempts = 3
      hits.set(0)
      val e = intercept[HttpDocAiBackend.HttpStatusError] {
        new HttpDocAiBackend(s"$url/badrequest", attempts = 3, retryDelayMs = 10)
          .classify(text)
      }
      assert(e.code == 400, e.getMessage)
      assert(hits.get() == 1, s"4xx must not retry: ${hits.get()} requests")
    } finally stop()
  }

  test("429 (rate limited) retries like a 5xx and then succeeds") {
    val (url, hits, stop) = startServer(failFirst = true, firstStatus = 429)
    try {
      val http = new HttpDocAiBackend(url, attempts = 3, retryDelayMs = 10)
      assert(http.classify(text) == DeterministicLocalBackend.classify(text))
      assert(hits.get() == 2, s"expected 1 throttled reply + 1 retry, got ${hits.get()}")
    } finally stop()
  }

  /** Seconds one classify takes against a server whose first answer
    * is `status` with `retryAfter`.
    */
  private def retriedCall(status: Int, retryAfter: Option[String],
                          retryDelayMs: Long, requestTimeoutMs: Long = 30000): Double = {
    val (url, hits, stop) = DocAiProtocolTestServer.start(failFirst = true, status, retryAfter)
    try {
      val http = new HttpDocAiBackend(url, attempts = 3, retryDelayMs = retryDelayMs,
        requestTimeoutMs = requestTimeoutMs)
      val t0 = System.nanoTime()
      assert(http.classify(text) == DeterministicLocalBackend.classify(text))
      assert(hits.get() == 2, s"expected 1 refusal + 1 retry, got ${hits.get()}")
      (System.nanoTime() - t0) / 1e9
    } finally stop()
  }

  test("429 and 503 wait out Retry-After delta-seconds, capped at the request timeout") {
    assert(retriedCall(429, Some("1"), retryDelayMs = 10) >= 1.0)
    val capped = retriedCall(503, Some("120"), retryDelayMs = 10, requestTimeoutMs = 300)
    assert(capped >= 0.3 && capped < 5, capped)
  }

  test("a 503 without a usable Retry-After keeps the retry schedule") {
    for (header <- Seq(None, Some("Wed, 21 Oct 2015 07:28:00 GMT"), Some("soon"))) {
      val secs = retriedCall(503, header, retryDelayMs = 200)
      assert(secs >= 0.2 && secs < 5, s"$header: $secs")
    }
  }

  test("transport errors exhaust attempts then surface (error-as-row upstream)") {
    // nothing listens here — connection refused on every attempt
    val http = new HttpDocAiBackend("http://127.0.0.1:1", attempts = 2, retryDelayMs = 10)
    intercept[Exception](http.classify(text))
  }
}
