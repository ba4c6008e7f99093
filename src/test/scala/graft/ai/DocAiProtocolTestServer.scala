package graft.ai

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Shared hermetic Doc-AI protocol server for tests: an in-process JDK
  * HttpServer speaking the [[HttpDocAiBackend]] wire protocol by
  * DELEGATING to [[DeterministicLocalBackend]] — so an HTTP-backed run
  * must reproduce the local backend's answers byte-for-byte, with zero
  * egress. Used by the backend protocol spec and the pipeline
  * backend-swap e2e.
  */
object DocAiProtocolTestServer {

  private val mapper = new ObjectMapper()

  /** Start a protocol server; returns (baseUrl, hit-counter, stop).
    * `failFirst` makes the first request fail with `firstStatus`
    * (retry-path exercise), with a `Retry-After: retryAfter` header
    * when one is given. A `/badrequest` context always answers 400.
    */
  def start(failFirst: Boolean = false, firstStatus: Int = 503,
            retryAfter: Option[String] = None): (String, AtomicInteger, () => Unit) = {
    val hits = new AtomicInteger(0)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    val d = DeterministicLocalBackend
    def reply(ex: HttpExchange, code: Int, body: String): Unit = {
      val b = body.getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(code, b.length)
      ex.getResponseBody.write(b)
      ex.close()
    }
    def handle(path: String)(f: Array[Byte] => String): Unit =
      server.createContext(path, (ex: HttpExchange) => {
        val n = hits.incrementAndGet()
        val body = ex.getRequestBody.readAllBytes()
        if (failFirst && n == 1) {
          retryAfter.foreach(ex.getResponseHeaders.set("Retry-After", _))
          reply(ex, firstStatus, "warming up")
        }
        else reply(ex, 200, f(body))
      })
    def json(b: Array[Byte]) = mapper.readTree(new String(b, StandardCharsets.UTF_8))
    handle("/extract") { b =>
      val j = json(b)
      import scala.jdk.CollectionConverters._
      val prompts = j.path("prompts").fieldNames().asScala
        .map(f => f -> j.path("prompts").path(f).asText()).toMap
      val out = mapper.createObjectNode()
      val resp = out.putObject("response")
      d.answerAll(j.path("text").asText(), prompts)
        .foreach { case (f, a) => resp.put(f, a) }
      mapper.writeValueAsString(out)
    }
    handle("/classify") { b =>
      val out = mapper.createObjectNode()
      out.putObject("response")
        .put("document_class", d.classify(json(b).path("text").asText()))
      mapper.writeValueAsString(out)
    }
    handle("/parse") { b =>
      val out = mapper.createObjectNode()
      out.put("content", d.parse(b))
      mapper.writeValueAsString(out)
    }
    handle("/complete") { b =>
      val j = json(b)
      val out = mapper.createObjectNode()
      out.put("completion", d.complete(j.path("model").asText(), j.path("prompt").asText()))
      mapper.writeValueAsString(out)
    }
    server.createContext("/badrequest", (ex: HttpExchange) => {
      hits.incrementAndGet()
      ex.getRequestBody.readAllBytes()
      reply(ex, 400, """{"error":"bad request"}""")
    })
    server.start()
    (s"http://127.0.0.1:${server.getAddress.getPort}", hits,
      () => server.stop(0))
  }
}
