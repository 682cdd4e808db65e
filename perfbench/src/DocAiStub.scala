package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.ai.DeterministicLocalBackend

/** In-process server for `HttpDocAiBackend`'s wire protocol, answering
  * every call with `DeterministicLocalBackend` after a fixed delay that
  * stands in for a remote model's latency. Outputs are therefore
  * byte-identical to a local deterministic run.
  *
  * At most `threads` handler threads, all daemon, so a pool left open
  * never keeps the JVM alive after `main` returns.
  */
final class DocAiStub(delayMs: Long, threads: Int) {
  private val mapper = new ObjectMapper()
  val endpoints: Seq[String] = Seq("parse", "classify", "extract", "complete")
  val calls: Map[String, AtomicLong] = endpoints.map(_ -> new AtomicLong).toMap
  val inflight = new Gauge

  private val pool = Executors.newFixedThreadPool(threads, new ThreadFactory {
    private val n = new AtomicLong
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"docai-stub-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  })
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  server.setExecutor(pool)
  endpoints.foreach(ep => server.createContext(s"/$ep", (x: HttpExchange) => handle(ep, x)))
  server.start()

  val url: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  def snapshot(): Map[String, Long] = calls.map { case (k, v) => k -> v.get }

  private def handle(ep: String, x: HttpExchange): Unit = {
    calls(ep).incrementAndGet()
    inflight.enter()
    try {
      val body = x.getRequestBody.readAllBytes()
      Thread.sleep(delayMs)
      val out = mapper.createObjectNode()
      val b = DeterministicLocalBackend
      ep match {
        case "parse" => out.put("content", b.parse(body))
        case "classify" =>
          out.putObject("response").put("document_class", b.classify(text(body)))
        case "extract" =>
          val in = mapper.readTree(body)
          val prompts = scala.collection.mutable.LinkedHashMap.empty[String, String]
          in.path("prompts").fields().forEachRemaining(e => prompts(e.getKey) = e.getValue.asText())
          val o = out.putObject("response")
          b.answerAll(in.path("text").asText(), prompts.toMap).foreach { case (f, a) => o.put(f, a) }
        case "complete" =>
          val in = mapper.readTree(body)
          out.put("completion", b.complete(in.path("model").asText(), in.path("prompt").asText()))
      }
      val bytes = mapper.writeValueAsBytes(out)
      x.getResponseHeaders.add("Content-Type", "application/json")
      x.sendResponseHeaders(200, bytes.length.toLong)
      x.getResponseBody.write(bytes)
    } catch {
      case e: Exception =>
        val msg = String.valueOf(e.getMessage).getBytes(StandardCharsets.UTF_8)
        x.sendResponseHeaders(500, msg.length.toLong)
        x.getResponseBody.write(msg)
    } finally {
      x.close()
      inflight.exit()
    }
  }

  private def text(body: Array[Byte]): String =
    mapper.readTree(body).path("text").asText()

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(5, TimeUnit.SECONDS)
  }
}
