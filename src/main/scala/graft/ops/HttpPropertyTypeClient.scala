package graft.ops

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.JsonProcessingException
import com.fasterxml.jackson.databind.ObjectMapper

/** Default production transport for [[Enrichment]] (reference R8: a live
  * HTTP POST per concept, /root/reference/main.py:372-374). One instance is
  * created per partition by `Enrichment.enrich`'s `clientFactory`, so the
  * underlying java.net.http connection pool is reused across every row in
  * the partition — the reference's serial one-request-per-row loop becomes
  * |partitions| concurrent pooled clients.
  *
  * Contract: POSTs `{"concept_id": <id>}` to `endpoint`, expects a JSON
  * object with an `event_and_property_types` string array. 2xx → parsed
  * entries; 404 → empty (unknown concept); 5xx / connect errors → retried
  * with exponential backoff, then surfaced (a poisoned service should fail
  * the task, not silently drop enrichments).
  *
  * The class is Serializable (shipped inside the factory closure) but the
  * HttpClient itself is built lazily executor-side (`@transient lazy`).
  */
final class HttpPropertyTypeClient(
    endpoint: String,
    maxRetries: Int = 3,
    requestTimeoutMs: Long = 10000L)
  extends Enrichment.PropertyTypeClient {

  @transient private lazy val http: HttpClient = HttpClient.newBuilder()
    .connectTimeout(Duration.ofMillis(requestTimeoutMs))
    .build()

  override def fetch(conceptId: Long): Seq[String] = {
    val req = HttpRequest.newBuilder(URI.create(endpoint))
      .timeout(Duration.ofMillis(requestTimeoutMs))
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(s"""{"concept_id":$conceptId}"""))
      .build()
    var attempt = 0
    var lastErr: Throwable = null
    while (attempt <= maxRetries) {
      if (attempt > 0) Thread.sleep(math.min(100L << (attempt - 1), 2000L))
      try {
        val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
        resp.statusCode() match {
          case ok if ok / 100 == 2 =>
            return HttpPropertyTypeClient.parseEntries(resp.body())
          case 404 => return Seq.empty
          // rate limiting / request timeout are transient by definition:
          // |partitions| pooled clients hitting one service WILL see 429,
          // and failing the task just re-hits the limit harder
          case 429 | 408 =>
            lastErr = new java.io.IOException(s"enrichment service throttled id=$conceptId")
          case s if s / 100 == 4 =>
            throw new IllegalStateException(s"enrichment service rejected id=$conceptId: HTTP $s")
          case s => // 5xx and everything else: retryable
            lastErr = new java.io.IOException(s"enrichment service HTTP $s for id=$conceptId")
        }
      } catch {
        case e: java.io.IOException => lastErr = e // connect/read failure: retry
      }
      attempt += 1
    }
    throw new java.io.IOException(
      s"enrichment fetch failed after ${maxRetries + 1} attempts for id=$conceptId", lastErr)
  }
}

object HttpPropertyTypeClient {

  private val json = new ObjectMapper()

  /** The top-level `event_and_property_types` string array of a response
    * body. An absent or null key, or an empty array, is no entries (the
    * reference's absent-field skip); a body that is not a JSON object, or
    * a key that is not an array of strings, breaks the service contract
    * and fails the fetch. */
  private[ops] def parseEntries(body: String): Seq[String] = {
    // a JsonProcessingException is an IOException, which fetch retries
    val root =
      try json.readTree(body)
      catch { case e: JsonProcessingException =>
        throw new IllegalStateException(s"enrichment service sent invalid JSON: ${e.getOriginalMessage}", e)
      }
    if (!root.isObject)
      throw new IllegalStateException(s"enrichment service sent a JSON ${root.getNodeType}, not an object")
    val entries = root.get("event_and_property_types")
    if (entries == null || entries.isNull) Seq.empty
    else if (entries.isArray && entries.asScala.forall(_.isTextual)) entries.asScala.map(_.asText).toSeq
    else throw new IllegalStateException(
      s"enrichment service sent event_and_property_types as $entries, not an array of strings")
  }
}
