package syncbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicLong

import scala.collection.concurrent.TrieMap

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** In-process Elasticsearch-shaped HTTP endpoint for the sink: index
  * recreate (`DELETE`/`PUT /<index>`), NDJSON `POST /_bulk` with index
  * and delete actions, `GET /<index>/_count` and `/<index>/_doc/<id>`.
  * Documents are kept per index. Every `failEvery`-th bulk request is
  * answered 503 (0 = never), so the sink's retry path is part of the
  * measured work. Served by a pool of 4 threads, one per core the
  * benchmark is sized for. */
final class EsStub(failEvery: Int) {
  private val mapper = new ObjectMapper()
  val indices = new TrieMap[String, TrieMap[String, String]]()
  val bulkRequests = new AtomicLong() // answered 200
  val bulkActions = new AtomicLong()
  val bulkBytes = new AtomicLong()
  val injected503 = new AtomicLong()
  private val bulkSeen = new AtomicLong()

  private val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.setExecutor(pool)
  server.start()

  val port: Int = server.getAddress.getPort

  /** Bulk requests answered 200, actions, request bytes, injected 503s. */
  def counters: Seq[Long] =
    Seq(bulkRequests.get, bulkActions.get, bulkBytes.get, injected503.get)

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
  }

  def docs(index: String): collection.Map[String, String] =
    indices.getOrElse(index, TrieMap.empty)

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def jstr(s: String) = mapper.writeValueAsString(s)

  private def handle(ex: HttpExchange): Unit = try {
    val path = ex.getRequestURI.getPath
    val raw = ex.getRequestBody.readAllBytes()
    (ex.getRequestMethod, path) match {
      case ("POST", "/_bulk") =>
        val n = bulkSeen.incrementAndGet()
        if (failEvery > 0 && n % failEvery == 0) {
          injected503.incrementAndGet()
          respond(ex, 503, """{"error":"unavailable"}""")
        } else {
          val reply = bulk(new String(raw, StandardCharsets.UTF_8))
          bulkRequests.incrementAndGet()
          bulkBytes.addAndGet(raw.length.toLong)
          respond(ex, 200, reply)
        }
      case ("GET", p) if p.endsWith("/_count") =>
        respond(ex, 200, s"""{"count":${docs(p.split('/')(1)).size}}""")
      case ("GET", p) if p.contains("/_doc/") =>
        val Array(idx, id) = p.stripPrefix("/").split("/_doc/", 2)
        docs(idx).get(java.net.URLDecoder.decode(id, "UTF-8")) match {
          case Some(d) => respond(ex, 200, s"""{"_id":${jstr(id)},"found":true,"_source":$d}""")
          case None => respond(ex, 404, """{"found":false}""")
        }
      case ("DELETE", p) =>
        val existed = indices.remove(p.stripPrefix("/")).isDefined
        respond(ex, if (existed) 200 else 404, """{"acknowledged":true}""")
      case ("PUT", p) =>
        mapper.readTree(raw) // the index body must be JSON
        indices.put(p.stripPrefix("/"), TrieMap.empty)
        respond(ex, 200, """{"acknowledged":true}""")
      case _ => respond(ex, 400, """{"error":"bad request"}""")
    }
  } catch { case e: Throwable => respond(ex, 500, jstr(e.toString)) }

  private def bulk(body: String): String = {
    val lines = body.split('\n').iterator.filter(_.nonEmpty)
    val items = new StringBuilder
    while (lines.hasNext) {
      val action = mapper.readTree(lines.next())
      val op = action.fieldNames().next()
      val meta = action.get(op)
      val idx = meta.get("_index").asText()
      val id = meta.get("_id").asText()
      val target = indices.getOrElse(idx,
        throw new IllegalArgumentException(s"no index $idx"))
      op match {
        case "index" => target.put(id, lines.next())
        case "delete" => target.remove(id)
      }
      bulkActions.incrementAndGet()
      if (items.nonEmpty) items.append(',')
      items.append(s"""{"$op":{"_index":${jstr(idx)},"_id":${jstr(id)},"status":200}}""")
    }
    s"""{"took":1,"errors":false,"items":[$items]}"""
  }
}
