package graft.plans

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.streaming.Monitoring
import graft.streaming.Monitoring.quote

/** REST control plane over [[TemplateRegistry]] + [[Monitoring]] — the
  * reference exposes template CRUD/versioning over aiohttp REST and
  * pushes live task states over a websocket (public reference
  * `nyuki/api/`; mount empty, SURVEY.md §0). This shim closes both
  * descopes with the JDK's BUILT-IN `com.sun.net.httpserver` (zero new
  * dependencies — the environment ships no HTTP framework, and the
  * engine stays a library: the server is opt-in, loopback-bound by
  * default, and every route is a thin translation onto the five
  * registry methods the in-process harness already exercises).
  *
  * Routes (JSON in/out):
  *   - `PUT    /templates/{id}/{version}[?draft=false]` body = template
  *     JSON → 200 (upsert validation failures → 400, same exceptions as
  *     the in-process `put`; a body whose id differs from the path id
  *     → 400 — a PUT must be idempotent on its own URI)
  *   - `GET    /templates/{id}/{version}` → the stored JSON | 404
  *   - `DELETE /templates/{id}/{version}` → 200
  *   - `POST   /templates/{id}/{version}/publish` → 200 | 404
  *   - `GET    /templates/{id}/latest` → {"version": n} | 404
  *   - `PUT    /triggers/{event_type}` body
  *     {"template_id": "...", "version": n} → 200 | 400;
  *     `GET /triggers` lists exact + wildcard subscriptions;
  *     `GET|DELETE /triggers/{event_type}` read/remove one
  *   - `PUT|DELETE /trigger-patterns` body {"pattern": "app/+/x", ...}
  *     — MQTT-wildcard subscriptions ([[TopicMatch]]); the pattern
  *     rides in the body because `/` and `#` don't survive as a path
  *     segment
  *   - `GET    /reports/{queryId}` → JSON array of micro-batch reports
  *     (the R18 PULL half)
  *   - `GET    /events` → `text/event-stream` of live reports (the R18
  *     PUSH half — Server-Sent Events carry the same one-way
  *     state-push contract the reference's websocket does, over plain
  *     HTTP; the stream closes when the client disconnects and the dead
  *     subscriber is dropped from the listener bus)
  *   - `GET    /instances` → JSON array of running instance ids;
  *     `DELETE /instances/{id}` → cancel one instance (the R4
  *     cancellation half, via [[InstanceManager]]: batch job-group
  *     cancel or streaming-query stop) → 200 | 404
  *
  * Scale/deployment note: the control plane manages TEMPLATES, not
  * data — traffic is human/CI-scale, so the default single-threaded
  * executor is deliberate; state lives in the TrieMap-backed registry
  * (thread-safe) and durability goes through
  * [[TemplateRegistry!.saveTo]].
  */
final class HttpControlPlane(registry: TemplateRegistry,
    monitoring: Option[Monitoring] = None, port: Int = 0,
    instances: Option[InstanceManager] = None) {

  private val server =
    HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)

  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool(
    r => { val t = new Thread(r, "graft-http"); t.setDaemon(true); t }))

  def start(): this.type = { server.start(); this }

  def boundPort: Int = server.getAddress.getPort

  def stop(): Unit = server.stop(0)

  private def handle(ex: HttpExchange): Unit = {
    val path = ex.getRequestURI.getPath.stripPrefix("/").stripSuffix("/")
    val segs = path.split("/").toList
    val method = ex.getRequestMethod
    try {
      (method, segs) match {
        case ("PUT", "templates" :: id :: v :: Nil) =>
          val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
          // default draft=true, matching the in-process put — publish is
          // an explicit lifecycle step; ?draft=false skips it
          val draft = !Option(ex.getRequestURI.getQuery)
            .exists(_.contains("draft=false"))
          // check the body's id against the URI BEFORE any mutation — a
          // PUT must be idempotent on its own URI, and a mismatched body
          // must not overwrite (or create) some other template
          val bodyId = JsonMethods.parse(body) \ "id" match {
            case JString(s) => s
            case _          => ""
          }
          if (bodyId != id)
            respond(ex, 400,
              s"""{"error":"body id '$bodyId' != path id '$id'"}""")
          else {
            registry.put(body, v.toInt, draft)
            respond(ex, 200, s"""{"id":"$id","version":${v.toInt}}""")
          }
        case ("GET", "templates" :: id :: "latest" :: Nil) =>
          registry.latestPublished(id) match {
            case Some(n) => respond(ex, 200, s"""{"version":$n}""")
            case None    => respond(ex, 404, """{"error":"not found"}""")
          }
        case ("GET", "templates" :: id :: v :: Nil) =>
          registry.get(id, v.toInt) match {
            case Some(json) => respond(ex, 200, json)
            case None       => respond(ex, 404, """{"error":"not found"}""")
          }
        case ("DELETE", "templates" :: id :: v :: Nil) =>
          registry.delete(id, v.toInt)
          respond(ex, 200, """{"deleted":true}""")
        case ("POST", "templates" :: id :: v :: "publish" :: Nil) =>
          registry.publish(id, v.toInt)
          respond(ex, 200, """{"published":true}""")
        case ("PUT", "triggers" :: eventType :: Nil) =>
          val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
          val jv = JsonMethods.parse(body)
          val JString(tid) = (jv \ "template_id"): @unchecked
          val JInt(ver) = (jv \ "version"): @unchecked
          registry.setTrigger(eventType, tid, ver.toInt)
          respond(ex, 200, """{"trigger":true}""")
        case ("GET", "triggers" :: Nil) =>
          // full trigger surface in one read: exact subscriptions plus
          // wildcard filters — the reference's subscription listing
          val ex_ = registry.listTriggers.map { case (et, id, v) =>
            s"""{"event_type":${quote(et)},"template_id":${quote(id)},""" +
              s""""version":$v}"""
          }
          val pat = registry.listTriggerPatterns.map { case (p, id, v) =>
            s"""{"pattern":${quote(p)},"template_id":${quote(id)},""" +
              s""""version":$v}"""
          }
          respond(ex, 200, s"""{"exact":${ex_.mkString("[", ",", "]")},""" +
            s""""patterns":${pat.mkString("[", ",", "]")}}""")
        case ("GET", "triggers" :: eventType :: Nil) =>
          registry.getTrigger(eventType) match {
            case Some((id, v)) => respond(ex, 200,
              s"""{"event_type":${quote(eventType)},""" +
                s""""template_id":${quote(id)},"version":$v}""")
            case None => respond(ex, 404, """{"error":"not found"}""")
          }
        case ("DELETE", "triggers" :: eventType :: Nil) =>
          if (registry.deleteTrigger(eventType))
            respond(ex, 200, """{"deleted":true}""")
          else respond(ex, 404, """{"error":"not found"}""")
        // wildcard filters carry '/' and '#', so the pattern rides in
        // the JSON body on PUT/DELETE rather than in a path segment
        case ("PUT", "trigger-patterns" :: Nil) =>
          val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
          val jv = JsonMethods.parse(body)
          val JString(pat) = (jv \ "pattern"): @unchecked
          val JString(tid) = (jv \ "template_id"): @unchecked
          val JInt(ver) = (jv \ "version"): @unchecked
          registry.setTriggerPattern(pat, tid, ver.toInt)
          respond(ex, 200, """{"trigger":true}""")
        case ("DELETE", "trigger-patterns" :: Nil) =>
          val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
          val JString(pat) =
            (JsonMethods.parse(body) \ "pattern"): @unchecked
          if (registry.deleteTriggerPattern(pat))
            respond(ex, 200, """{"deleted":true}""")
          else respond(ex, 404, """{"error":"not found"}""")
        case ("GET", "reports" :: queryId :: Nil) =>
          val rs = monitoring.map(_.reports(queryId)).getOrElse(Nil)
          respond(ex, 200,
            rs.map(_.json).mkString("[", ",", "]"))
        case ("GET", "events" :: Nil) =>
          sse(ex)
        case ("GET", "instances" :: Nil) =>
          val ids = instances.map(_.active.toSeq.sorted).getOrElse(Nil)
          respond(ex, 200, ids.map(quote).mkString("[", ",", "]"))
        case ("DELETE", "instances" :: id :: Nil) =>
          // the R4 cancellation half: kill one named instance — batch
          // job group or streaming query — without touching the rest
          instances.exists(_.cancel(id)) match {
            case true  => respond(ex, 200, """{"cancelled":true}""")
            case false => respond(ex, 404, """{"error":"not found"}""")
          }
        case _ =>
          respond(ex, 404, """{"error":"no such route"}""")
      }
    } catch {
      case e @ (_: IllegalArgumentException | _: NoSuchElementException
          | _: MatchError | _: NumberFormatException) =>
        respond(ex, 400, s"""{"error":${quote(e.toString)}}""")
      case _: java.io.IOException => () // client went away mid-write
    }
  }

  /** Server-Sent Events bridge: subscribe to the monitoring push,
    * forward each report as one `data:` frame, unsubscribe when the
    * client's socket breaks. The exchange stays open — SSE IS the
    * long-lived one-way push channel. */
  private def sse(ex: HttpExchange): Unit = {
    ex.getResponseHeaders.set("Content-Type", "text/event-stream")
    ex.getResponseHeaders.set("Cache-Control", "no-cache")
    ex.sendResponseHeaders(200, 0)
    val out = ex.getResponseBody
    // initial comment frame so clients see the stream is live before the
    // first report arrives
    out.write(": graft control plane event stream\n\n".getBytes(UTF_8))
    out.flush()
    monitoring match {
      case None => out.close()
      case Some(m) =>
        // the subscriber runs on the listener-bus thread; a broken pipe
        // throws there and Monitoring drops the subscriber for us
        m.subscribe { r =>
          out.write(s"data: ${r.json}\n\n".getBytes(UTF_8))
          out.flush()
        }
        () // exchange intentionally left open
    }
  }

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val out = ex.getResponseBody
    out.write(bytes)
    out.close()
  }
}
