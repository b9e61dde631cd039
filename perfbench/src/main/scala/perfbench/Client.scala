package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** One measured operation. `serverMs` is the handler's own
  * `X-Process-Time` (NaN when the call was in-process or failed). */
final case class Sample(op: String, kind: String, startMs: Double, clientMs: Double,
    serverMs: Double, ok: Boolean, bytes: Long)

final case class Reply(status: Int, body: String, clientMs: Double, serverMs: Double) {
  def ok: Boolean = status >= 200 && status < 300
  def json: JsonNode = Client.mapper.readTree(body)
}

/** A closed-loop HTTP caller: one `HttpClient`, so one keep-alive
  * connection, per client thread; each call waits for its reply. */
final class Client(port: Int, timeoutS: Int = 30) {
  private val http = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(timeoutS))
    .build()
  private val base = s"http://127.0.0.1:$port"

  /** Sends one request; a timeout or I/O error is a reply with status -1. */
  def call(method: String, path: String, body: String = null): Reply = {
    val b = HttpRequest.newBuilder(URI.create(base + path))
      .timeout(Duration.ofSeconds(timeoutS))
      .header("Content-Type", "application/json")
    val req = (if (body == null) b.method(method, HttpRequest.BodyPublishers.noBody())
      else b.method(method, HttpRequest.BodyPublishers.ofString(body))).build()
    val t0 = System.nanoTime()
    try {
      val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
      val ms = (System.nanoTime() - t0) / 1e6
      val server = resp.headers().firstValue("X-Process-Time")
        .map[Double](s => s.toDouble * 1000.0).orElse(Double.NaN)
      Reply(resp.statusCode(), resp.body(), ms, server)
    } catch {
      case _: java.io.IOException | _: java.net.http.HttpTimeoutException =>
        Reply(-1, "", (System.nanoTime() - t0) / 1e6, Double.NaN)
    }
  }
}

object Client {
  val mapper = new ObjectMapper()

  def searchBody(q: Corpus.Query, k: Int): String = {
    val n = mapper.createObjectNode()
    n.put("query_text", q.text)
    n.put("k", k)
    val f = n.putObject("metadata_filters")
    q.filters.foreach { case (key, v) => f.put(key, v) }
    mapper.writeValueAsString(n)
  }

  def chunkBody(text: String, meta: Option[Map[String, String]]): String = {
    val n = mapper.createObjectNode()
    n.put("text", text)
    meta.foreach { m =>
      val o = n.putObject("metadata")
      m.foreach { case (k, v) => o.put(k, v) }
    }
    mapper.writeValueAsString(n)
  }

  /** (id, similarity_score) of a search response, in rank order. */
  def hits(json: JsonNode): Vector[(String, Double)] = {
    val rs = json.get("results")
    Vector.tabulate(rs.size()) { i =>
      val r = rs.get(i)
      (r.get("chunk").get("id").asText(), r.get("similarity_score").asDouble())
    }
  }
}
