package graft.ops

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.SparkSpec
import java.net.InetSocketAddress
import java.util.concurrent.atomic.AtomicInteger

/** Exercises the real java.net.http transport against an in-process stub
  * server: happy path through the full Spark enrich pipeline, 404→empty,
  * 5xx retry-then-succeed, and the JSON parse of the response body. */
class HttpPropertyTypeClientSpec extends SparkSpec {
  import spark.implicits._

  private def withServer(handler: HttpExchange => Unit)(f: String => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/props", new HttpHandler {
      def handle(ex: HttpExchange): Unit = handler(ex)
    })
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}/props")
    finally server.stop(0)
  }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes("UTF-8")
    ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def conceptId(ex: HttpExchange): Long = {
    val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
    """"concept_id":(\d+)""".r.findFirstMatchIn(body).get.group(1).toLong
  }

  test("enrich end-to-end over real HTTP: pooled client per partition") {
    withServer { ex =>
      val id = conceptId(ex)
      if (id == 2L) respond(ex, 404, "")
      else respond(ex, 200,
        s"""{"event_and_property_types":["Disease:onset","Disease:stage","Demographics:age$id"]}""")
    } { url =>
      val out = Enrichment.enrich(
        Seq((1L, "Neoplasm"), (2L, "x"), (3L, "y")).toDF("id", "semantic_type"),
        () => new HttpPropertyTypeClient(url)).collect().sortBy(_.id)
      assert(out(0).property_types == Seq("Disease", "Demographics"))
      assert(out(0).node_type.contains("Disease"))
      assert(out(1).property_types.isEmpty && out(1).node_type.isEmpty)
      assert(out(2).property_types == Seq("Disease", "Demographics"))
    }
  }

  test("5xx responses are retried with backoff until success") {
    val calls = new AtomicInteger(0)
    withServer { ex =>
      conceptId(ex)
      if (calls.incrementAndGet() <= 2) respond(ex, 503, "busy")
      else respond(ex, 200, """{"event_and_property_types":["T:a"]}""")
    } { url =>
      val client = new HttpPropertyTypeClient(url, maxRetries = 3)
      assert(client.fetch(7L) == Seq("T:a"))
      assert(calls.get() == 3)
    }
  }

  test("persistent 5xx surfaces an IOException after maxRetries+1 attempts") {
    val calls = new AtomicInteger(0)
    withServer { ex => conceptId(ex); calls.incrementAndGet(); respond(ex, 500, "down") } { url =>
      val client = new HttpPropertyTypeClient(url, maxRetries = 1)
      intercept[java.io.IOException] { client.fetch(9L) }
      assert(calls.get() == 2)
    }
  }

  test("JSON scanner: escapes, absent key, empty array") {
    import HttpPropertyTypeClient.parseEntries
    assert(parseEntries("""{"event_and_property_types":["a\"b:x","c\\d:y"]}""")
      == Seq("a\"b:x", "c\\d:y"))
    assert(parseEntries("""{"other":["a:b"]}""").isEmpty)
    assert(parseEntries("""{"event_and_property_types":[]}""").isEmpty)
    // unicode escapes decode (encoders commonly escape all non-ASCII);
    // the escape is assembled at runtime so scalac never preprocesses it
    val body = "{\"event_and_property_types\":[\"Caf\\" + "u00e9:x\"]}"
    assert(parseEntries(body) == Seq("Café:x"))
  }

  test("JSON parse: the key's text as a value, and an array before the key, do not count") {
    assert(HttpPropertyTypeClient.parseEntries(
      """{"kind":"event_and_property_types","other":["x:y"],"event_and_property_types":["a:b"]}""")
      == Seq("a:b"))
  }

  test("JSON parse: a nested object carrying the key does not shadow the top-level key") {
    assert(HttpPropertyTypeClient.parseEntries(
      """{"nested":{"event_and_property_types":["n:x"]},"event_and_property_types":["t:y"]}""")
      == Seq("t:y"))
  }

  test("JSON parse: \\b and \\f decode to backspace and form feed, not the letters") {
    assert(HttpPropertyTypeClient.parseEntries("{\"event_and_property_types\":[\"a\\bb:x\\f\"]}")
      == Seq("a\bb:x\f"))
  }

  test("a 2xx body that is not a JSON object fails the fetch with a clear message") {
    withServer { ex => conceptId(ex); respond(ex, 200, """["T:a"]""") } { url =>
      val e = intercept[IllegalStateException] { new HttpPropertyTypeClient(url).fetch(3L) }
      assert(e.getMessage.contains("not an object"), e.getMessage)
    }
  }
}
