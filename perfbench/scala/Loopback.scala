package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.ops.{Enrichment, HttpPropertyTypeClient}

/** In-process enrichment service on the loopback interface. Answers come
  * from the generator's table (`id \t status \t types`): 200 with the
  * types, 404 for unknown concepts, and for 503 ids one 503 followed by 200
  * on the retry. `reset()` re-arms the one-shot failures for the next pass. */
final class Loopback(answerFile: String, threads: Int) {
  private val answers: Map[Long, (Int, Seq[String])] =
    scala.io.Source.fromFile(answerFile, "UTF-8").getLines().map { line =>
      val Array(id, status, types) = line.split("\t", -1)
      id.toLong -> (status.toInt, types.split(",").toSeq.filter(_.nonEmpty))
    }.toMap
  private val failedOnce = ConcurrentHashMap.newKeySet[Long]()
  val requests, notFound, unavailable = new AtomicLong

  private val pool = Executors.newFixedThreadPool(threads)
  // without TCP_NODELAY each response waits out the peer's delayed ACK (~40 ms)
  System.setProperty("sun.net.httpserver.nodelay", "true")
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 64)
  server.setExecutor(pool)
  server.createContext("/types", (ex: HttpExchange) => handle(ex))
  server.start()

  val endpoint = s"http://127.0.0.1:${server.getAddress.getPort}/types"

  private def handle(ex: HttpExchange): Unit = {
    requests.incrementAndGet()
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    val id = body.dropWhile(!_.isDigit).takeWhile(_.isDigit).toLong
    val (code, out) = answers.get(id) match {
      case Some((503, _)) if failedOnce.add(id) => (503, "")
      case Some((404, _)) | None => (404, "")
      case Some((_, types)) =>
        (200, types.map("\"" + _ + "\"").mkString("{\"event_and_property_types\":[", ",", "]}"))
    }
    if (code == 404) notFound.incrementAndGet()
    if (code == 503) unavailable.incrementAndGet()
    val bytes = out.getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    ex.close()
  }

  def reset(): Unit = {
    failedOnce.clear(); requests.set(0); notFound.set(0); unavailable.set(0)
  }

  def stop(): Unit = { server.stop(0); pool.shutdownNow() }
}

/** The program's HTTP client, wrapped so each fetch is counted and timed
  * from the caller's side. One instance per partition, as the program
  * creates them. */
final class CountingClient(endpoint: String) extends Enrichment.PropertyTypeClient {
  private val inner = new HttpPropertyTypeClient(endpoint)
  CountingClient.instances.increment()
  override def fetch(conceptId: Long): Seq[String] = {
    val t0 = System.nanoTime()
    try Trace.span("ops.fetch")(_ => inner.fetch(conceptId))
    finally {
      CountingClient.calls.increment()
      CountingClient.nanos.add(System.nanoTime() - t0)
    }
  }
}

object CountingClient {
  val calls, nanos, instances = new LongAdder
  def reset(): Unit = { calls.reset(); nanos.reset(); instances.reset() }
}
