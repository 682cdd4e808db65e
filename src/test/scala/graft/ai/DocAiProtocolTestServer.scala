package graft.ai

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicInteger

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Shared hermetic Doc-AI protocol server for tests: an in-process JDK
  * HttpServer speaking the [[HttpDocAiBackend]] wire protocol by
  * DELEGATING to [[DeterministicLocalBackend]] — so an HTTP-backed run
  * must reproduce the local backend's answers byte-for-byte, with zero
  * egress. Used by the backend protocol spec, the pipeline
  * backend-swap e2e and the per-document call-count and in-flight
  * specs. Requests are served concurrently, from a daemon pool.
  */
object DocAiProtocolTestServer {

  private val mapper = new ObjectMapper()

  /** A running server: `hits` counts every request, `counts` each
    * protocol endpoint's calls ("parse", "classify", "extract",
    * "complete"), and `maxInFlight` is the most requests ever handled
    * at once.
    */
  final class Server(val url: String, val stop: () => Unit) {
    val hits = new AtomicInteger(0)
    private[ai] val calls = Seq("parse", "classify", "extract", "complete")
      .map(_ -> new AtomicInteger(0)).toMap
    private val inFlight = new AtomicInteger(0)
    private val peak = new AtomicInteger(0)
    def maxInFlight: Int = peak.get
    def counts: Map[String, Int] = calls.map { case (k, v) => k -> v.get }
    private[ai] def enter(): Unit = peak.accumulateAndGet(inFlight.incrementAndGet(), math.max)
    private[ai] def exit(): Unit = inFlight.decrementAndGet()
  }

  /** Start a protocol server; returns (baseUrl, hit-counter, stop).
    * `failFirst` makes the first request 503 (retry-path exercise).
    * A `/badrequest` context always answers 400.
    */
  def start(failFirst: Boolean = false): (String, AtomicInteger, () => Unit) = {
    val s = launch(failFirst)
    (s.url, s.hits, s.stop)
  }

  /** [[start]] with the counters exposed; every protocol call waits
    * `delayMs` before answering, standing in for a remote model.
    */
  def launch(failFirst: Boolean = false, delayMs: Long = 0): Server = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
    val pool = Executors.newCachedThreadPool { (r: Runnable) =>
      val t = new Thread(r, "docai-test-server")
      t.setDaemon(true)
      t
    }
    server.setExecutor(pool)
    val running = new Server(s"http://127.0.0.1:${server.getAddress.getPort}",
      () => { server.stop(0); pool.shutdownNow(); () })
    val d = DeterministicLocalBackend
    def reply(ex: HttpExchange, code: Int, body: String): Unit = {
      val b = body.getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(code, b.length)
      ex.getResponseBody.write(b)
      ex.close()
    }
    def handle(path: String)(f: Array[Byte] => String): Unit =
      server.createContext(path, (ex: HttpExchange) => {
        val n = running.hits.incrementAndGet()
        running.calls(path.stripPrefix("/")).incrementAndGet()
        // the call leaves the gauge BEFORE its reply is sent: a client
        // may send its next call as soon as it has the reply
        running.enter()
        val (code, out) = try {
          val body = ex.getRequestBody.readAllBytes()
          if (delayMs > 0) Thread.sleep(delayMs)
          if (failFirst && n == 1) (503, "warming up") else (200, f(body))
        } finally running.exit()
        reply(ex, code, out)
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
      running.hits.incrementAndGet()
      ex.getRequestBody.readAllBytes()
      reply(ex, 400, """{"error":"bad request"}""")
    })
    server.start()
    running
  }
}
