package lakebench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** One statement's answer over the Trino protocol. `cells` are decoded to
  * Long, Double, Boolean, String or null. */
final case class WireResult(columns: Vector[String], rows: Vector[Vector[Any]],
    state: String, error: Option[String], requests: Int, responseBytes: Long,
    ms: Double) {
  def ok: Boolean = state == "FINISHED" && error.isEmpty
}

/** A Trino-protocol client: POST `/v1/statement`, then GET `nextUri`
  * until it disappears, the loop the Trino CLI and Superset's driver run.
  * One instance per client thread, each with its own keep-alive
  * connection, like a pooled SQLAlchemy engine. Every request is a span
  * named `wire.request` under the caller's open span. */
final class TrinoClient(port: Int, tracer: Tracer, user: String = "superset") {
  private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
  private val mapper = new ObjectMapper()

  private def send(req: HttpRequest, stmt: Long): (Int, String) =
    tracer.span("wire.request", stmt) {
      val r = http.send(req, HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    }

  def run(sql: String, stmt: Long = 0L): WireResult = {
    val t0 = System.nanoTime()
    var requests = 1
    val (code, body) = send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/v1/statement"))
      .header("X-Trino-User", user).header("X-Trino-Catalog", "iceberg")
      .POST(HttpRequest.BodyPublishers.ofString(sql)).build(), stmt)
    var bytes = body.length.toLong
    if (code != 200)
      return WireResult(Vector.empty, Vector.empty, "FAILED", Some(s"HTTP $code: $body"),
        requests, bytes, (System.nanoTime() - t0) / 1e6)
    var node = mapper.readTree(body)
    var columns = Vector.empty[String]
    val rows = Vector.newBuilder[Vector[Any]]
    var error: Option[String] = None
    var state = node.at("/stats/state").asText()
    while (node.hasNonNull("nextUri") && error.isEmpty) {
      val (c, b) = send(HttpRequest.newBuilder(URI.create(node.get("nextUri").asText()))
        .header("X-Trino-User", user).GET().build(), stmt)
      requests += 1
      bytes += b.length
      if (c != 200) error = Some(s"HTTP $c: $b")
      else {
        node = mapper.readTree(b)
        state = node.at("/stats/state").asText()
        if (node.has("columns") && columns.isEmpty)
          columns = (0 until node.get("columns").size())
            .map(i => node.at(s"/columns/$i/name").asText()).toVector
        if (node.has("data")) {
          val data = node.get("data")
          (0 until data.size()).foreach { i =>
            val r = data.get(i)
            rows += (0 until r.size()).map(j => cell(r.get(j))).toVector
          }
        }
        if (node.has("error")) error = Some(node.at("/error/message").asText())
      }
    }
    WireResult(columns, rows.result(), state, error, requests, bytes,
      (System.nanoTime() - t0) / 1e6)
  }

  private def cell(n: JsonNode): Any =
    if (n == null || n.isNull) null
    else if (n.isIntegralNumber) n.asLong()
    else if (n.isNumber) n.asDouble()
    else if (n.isBoolean) n.asBoolean()
    else if (n.isTextual) n.asText()
    else n.toString
}
