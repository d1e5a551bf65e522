package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** One request of a workload: its mode name, route and JSON body. */
final case class Req(mode: String, path: String, body: JsonNode)

/** A completed request: what was sent, the status, the parsed reply
  * and the client-observed latency. */
final case class Reply(req: Req, status: Int, json: JsonNode, ms: Double)

/** A blocking JSON-over-HTTP client for the served engine. */
final class Client(port: Int) {
  private val http = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()
  private val mapper = new ObjectMapper()

  def send(req: Req): Reply = {
    val r = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port${req.path}"))
      .POST(HttpRequest.BodyPublishers.ofString(mapper.writeValueAsString(req.body)))
      .header("Content-Type", "application/json").build()
    val t0 = System.nanoTime()
    val resp = http.send(r, HttpResponse.BodyHandlers.ofString())
    val ms = (System.nanoTime() - t0) / 1e6
    val json = scala.util.Try(mapper.readTree(resp.body())).getOrElse(null)
    Reply(req, resp.statusCode(), json, ms)
  }

  /** A closed loop of `clients` callers: each sends its next request
    * (the next unsent index of `reqs`, cycling) only after its previous
    * reply. No request is issued once `seconds` have passed and the
    * issued count is a non-zero multiple of `unit`, so a run measures
    * whole cycles of a request mix, at least one. Returns replies in completion order and
    * the loop's wall seconds. */
  def closedLoop(reqs: IndexedSeq[Req], clients: Int, seconds: Double,
      unit: Int = 1): (Seq[Reply], Double) = {
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Reply]()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var issued = 0
    def take(): Int = this.synchronized {
      if (issued > 0 && issued % unit == 0 && System.nanoTime() >= deadline) -1
      else { issued += 1; issued - 1 }
    }
    val threads = (0 until clients).map { _ =>
      val t = new Thread(() => {
        var i = take()
        while (i >= 0) {
          out.add(send(reqs(i % reqs.size)))
          i = take()
        }
      })
      t.setDaemon(true)
      t.start()
      t
    }
    threads.foreach(_.join())
    (out.asScala.toSeq, (System.nanoTime() - t0) / 1e9)
  }
}

object Json {
  private val mapper = new ObjectMapper()

  def read(path: String): JsonNode = mapper.readTree(new java.io.File(path))

  def elems(n: JsonNode): Seq[JsonNode] =
    if (n == null || !n.isArray) Nil else n.elements().asScala.toSeq

  def strings(n: JsonNode): Seq[String] = elems(n).map(_.asText())

  def reqs(n: JsonNode): IndexedSeq[Req] = elems(n).map { r =>
    Req(r.get("mode").asText(), r.get("path").asText(), r.get("body"))
  }.toIndexedSeq
}
