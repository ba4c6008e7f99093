package docbench

import java.net.{InetAddress, InetSocketAddress}
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors, Semaphore, TimeUnit}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.ai.DeterministicLocalBackend

/** In-process stand-in for a remote document model, priced like one.
  *
  * It speaks `HttpDocAiBackend`'s wire protocol and answers through
  * `DeterministicLocalBackend`, so its answers are byte-identical to the
  * local backend's. What it adds is cost:
  *
  *  - a service time per call (parse 40 ms, classify 20 ms, extract
  *    60 ms, complete 40 ms), each with a +-50 % jitter drawn from a hash
  *    of the seed and the request body;
  *  - at most `slots` calls in service at once; the rest queue. The
  *    slots are sleeping threads standing in for remote capacity, not
  *    load-generating threads;
  *  - one call in 100, picked by the same hash, answers 503 the first
  *    time its body is seen, so the client's retry path runs the same
  *    way on every run with the same seed.
  *
  * Each request's queue wait, service time and own handling time (body
  * read, answer, response write) are recorded separately, so the gap
  * between what the client sees and what the server spends can be
  * attributed.
  */
final class ModelStandIn(seed: Long, slots: Int = 8) {
  import ModelStandIn._

  private val mapper = new ObjectMapper()
  private val capacity = new Semaphore(slots, true)
  private val failedOnce = ConcurrentHashMap.newKeySet[java.lang.Long]()
  /** Every request handled, answered or refused. */
  val served = new ConcurrentLinkedQueue[Served]()

  // connection-handling threads: calls beyond `slots` wait on the
  // semaphore, so this only bounds how many can queue at once
  private val pool = Executors.newFixedThreadPool(64, (r: Runnable) => {
    val t = new Thread(r, "model-stand-in")
    t.setDaemon(true)
    t
  })
  private val server = HttpServer.create(
    new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 256)
  server.setExecutor(pool)
  BaseMs.keys.foreach(op => server.createContext(s"/$op", (x: HttpExchange) => handle(op, x)))
  server.start()

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }

  private def handle(op: String, x: HttpExchange): Unit = {
    val t0 = Trace.now()
    try {
      val body = x.getRequestBody.readAllBytes()
      val h = hash(seed, op, body)
      if (java.lang.Long.remainderUnsigned(h, 100) == 0 && failedOnce.add(h)) {
        reply(x, 503, """{"error": "model busy"}""")
        served.add(Served(op, t0, Trace.now(), 0, 0, 0, refused = true))
      } else {
        val q0 = Trace.now()
        capacity.acquire()
        val s0 = Trace.now()
        try {
          val jitter = 0.5 + (h >>> 11).toDouble / (1L << 53).toDouble
          TimeUnit.NANOSECONDS.sleep((BaseMs(op) * jitter * 1e6).toLong)
        } finally capacity.release()
        val s1 = Trace.now()
        reply(x, 200, answer(op, body))
        val t1 = Trace.now()
        served.add(Served(op, t0, t1, s0 - q0, s1 - s0, (t1 - t0) - (s1 - q0), refused = false))
      }
    } catch {
      case e: Exception => reply(x, 500, s"""{"error": "${e.getClass.getSimpleName}"}""")
    } finally x.close()
  }

  private def reply(x: HttpExchange, code: Int, json: String): Unit = {
    val out = json.getBytes(StandardCharsets.UTF_8)
    x.getResponseHeaders.set("Content-Type", "application/json")
    x.sendResponseHeaders(code, out.length.toLong)
    x.getResponseBody.write(out)
  }

  private def answer(op: String, body: Array[Byte]): String = {
    val b = DeterministicLocalBackend
    val n = mapper.createObjectNode()
    op match {
      case "parse" =>
        n.put("content", b.parse(body))
      case "classify" =>
        val text = mapper.readTree(body).path("text").asText()
        n.putObject("response").put("document_class", b.classify(text))
      case "extract" =>
        val req = mapper.readTree(body)
        val prompts = req.path("prompts").properties().asScala
          .map(e => e.getKey -> e.getValue.asText()).toMap
        val resp = n.putObject("response")
        b.answerAll(req.path("text").asText(), prompts).foreach { case (k, v) => resp.put(k, v) }
      case "complete" =>
        val req = mapper.readTree(body)
        n.put("completion", b.complete(req.path("model").asText(), req.path("prompt").asText()))
    }
    mapper.writeValueAsString(n)
  }
}

object ModelStandIn {
  /** Mean service time per operation, in milliseconds. */
  val BaseMs: Map[String, Double] =
    Map("parse" -> 40.0, "classify" -> 20.0, "extract" -> 60.0, "complete" -> 40.0)

  /** One handled call: start/end of handling, and its split into queue
    * wait, service (the priced sleep) and the stand-in's own handling.
    * A refused call (503) has no queue wait or service.
    */
  final case class Served(op: String, start: Long, end: Long,
                          queueNs: Long, serviceNs: Long, handlerNs: Long, refused: Boolean)

  /** 64-bit FNV-1a over seed, operation and body, finished with a mixer. */
  def hash(seed: Long, op: String, body: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L ^ seed
    def mix(b: Byte): Unit = { h ^= (b & 0xff); h *= 0x100000001b3L }
    op.getBytes(StandardCharsets.UTF_8).foreach(mix)
    body.foreach(mix)
    h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
    h
  }
}
