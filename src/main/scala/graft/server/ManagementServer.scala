package graft.server

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.streaming.{DeadSet, GraftEngine, MetricsRegistry}
import org.apache.spark.sql.SparkSession
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

/** A user-mounted HTTP route (the reference's actor-routes,
  * server/routes.clj:18-23: user routes are concatenated ahead of the
  * built-ins). `handler(method, params, body)` → (status, responseBody);
  * content type is JSON unless overridden. */
final case class UserRoute(
    path: String,
    handler: (String, Map[String, String], String) => (Int, String),
    contentType: String = "application/json")

/** Management HTTP server (O1, server.clj:28-48 + server/routes.clj:11-38):
  *
  *   GET    /ping                      → pong (health)
  *   GET    /v1/dead_set?entity=&count= → peek N dead messages (JSON)
  *   DELETE /v1/dead_set?entity=&count= → drop N
  *   POST   /v1/dead_set/replay?entity=&count= → re-publish N
  *   GET    /v1/metrics                → counters/gauges snapshot (JSON)
  *   GET    /v1/preflight              → recent skew-preflight audit lines
  *   GET    /metrics                   → Prometheus text exposition (O4,
  *                                       prometheus_exporter.clj:22-44)
  *   GET    /v1/queries                → running streaming queries + status
  *   GET    /v1/ann?dir=               → ANN index-store summary (versions,
  *                                       pointer, lease counts)
  *   POST   /v1/ann/compact?dir=       → rewrite the delta chain as one version
  *   POST   /v1/ann/vacuum?dir=&keep=  → reclaim unreferenced versions
  *   + any [[UserRoute]]s (actor-routes, server/routes.clj:18-23)
  *
  * Built on the JDK's HttpServer (no extra deps); driver-side only — every
  * dead-set operation is a bounded distributed read (DeadSet.scala), never a
  * driver-side scan of the log.
  */
final class ManagementServer(spark: SparkSession, engine: GraftEngine,
    port: Int, userRoutes: Seq[UserRoute] = Nil) {

  private val server = HttpServer.create(new InetSocketAddress(port), 0)

  private def respond(ex: HttpExchange, status: Int, body: String,
      ctype: String = "application/json"): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", ctype)
    ex.sendResponseHeaders(status, bytes.length.toLong)
    val os = ex.getResponseBody
    os.write(bytes); os.close()
  }

  private def params(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getQuery).getOrElse("").split("&")
      .filter(_.contains("=")).map { kv =>
        val Array(k, v) = kv.split("=", 2)
        // percent-decode both sides: a standards-compliant client sends
        // entity=my%20app, and the undecoded literal would silently look
        // up a nonexistent entity (empty answer, not an error)
        java.net.URLDecoder.decode(k, StandardCharsets.UTF_8) ->
          java.net.URLDecoder.decode(v, StandardCharsets.UTF_8)
      }.toMap

  /** Client-input integer: a malformed value is the CLIENT's error —
    * report 400 via IllegalArgumentException (mapped below), never a
    * NumberFormatException surfacing as a 500 server fault. */
  private def intParam(p: Map[String, String], name: String,
      default: Int): Int = {
    val raw = p.getOrElse(name, default.toString)
    try raw.toInt catch {
      case _: NumberFormatException =>
        throw new IllegalArgumentException(s"$name must be an integer")
    }
  }

  /** Like [[intParam]] but also rejects negatives as client errors: a
    * negative dead-set count otherwise reaches DataFrame.limit(n<0),
    * whose AnalysisException would surface as a 500 server fault for
    * what is plainly bad client input. */
  private def nonNegIntParam(p: Map[String, String], name: String,
      default: Int): Int = {
    val v = intParam(p, name, default)
    if (v < 0) throw new IllegalArgumentException(s"$name must be >= 0")
    v
  }

  private def jsonEscape(s: String): String =
    graft.streaming.JsonText.escape(s)

  /** JSON number rendering for gauge Doubles: NaN/Infinity are not JSON
    * tokens — interpolating them raw made one 0/0 user gauge poison the
    * WHOLE /v1/metrics snapshot for every standard parser. Non-finite
    * renders as null (the key stays visible, the value is unusable). */
  private def jsonNum(v: Double): String =
    if (java.lang.Double.isFinite(v)) v.toString else "null"

  /** Any failure is a 500 server fault. */
  private val serverFault: Throwable => Int = _ => 500

  /** Bad client input (IllegalArgumentException) is a 400. */
  private val clientOr500: Throwable => Int = {
    case _: IllegalArgumentException => 400
    case _ => 500
  }

  /** Mount `body` at `path`. A throw becomes a JSON `{"error": …}`
    * response with the status `status` maps it to — without one the
    * client sees a dropped connection instead of a status. */
  private def route(path: String, status: Throwable => Int = serverFault)(
      body: HttpExchange => Unit): Unit =
    server.createContext(path, new HttpHandler {
      def handle(ex: HttpExchange): Unit =
        try body(ex)
        catch { case e: Throwable =>
          respond(ex, status(e),
            s"""{"error":"${jsonEscape(String.valueOf(e.getMessage))}"}""")
        }
    })

  route("/ping") { ex => respond(ex, 200, "pong", "text/plain") }

  route("/v1/dead_set", clientOr500) { ex =>
    val p = params(ex)
    val entity = p.getOrElse("entity", "")
    val count = nonNegIntParam(p, "count", 10)
    // NOTE: JDK HttpServer routes by longest matching context, so
    // /v1/dead_set/replay always hits its own context below — no
    // path-suffix dispatch here (an earlier endsWith("/replay") branch
    // was unreachable for the real path, yet reachable through
    // prefix-matched oddities like /v1/dead_set2/replay)
    if (entity.isEmpty) { respond(ex, 400, """{"error":"entity required"}""") }
    else ex.getRequestMethod match {
      case "GET" =>
        val rows = engine.deadSet.view(spark, entity, count)
          .select("topic", "partition", "offset", "timestamp")
          .collect()
          .map(r => s"""{"topic":"${jsonEscape(r.getString(0))}","partition":${r.getInt(1)},"offset":${r.getLong(2)},"timestamp":"${r.getTimestamp(3)}"}""")
        respond(ex, 200, rows.mkString("[", ",", "]"))
      case "DELETE" =>
        val n = engine.deadSet.delete(spark, entity, count)
        respond(ex, 200, s"""{"deleted":$n}""")
      case m => respond(ex, 405, s"""{"error":"method $m not allowed"}""")
    }
  }

  route("/v1/dead_set/replay", clientOr500) { ex =>
    val p = params(ex)
    val entity = p.getOrElse("entity", "")
    val count = nonNegIntParam(p, "count", 10)
    if (ex.getRequestMethod != "POST")
      respond(ex, 405, """{"error":"POST required"}""")
    else if (entity.isEmpty) respond(ex, 400, """{"error":"entity required"}""")
    else {
      val n = engine.deadSet.replay(spark, entity, count)
      respond(ex, 200, s"""{"replayed":$n}""")
    }
  }

  route("/v1/metrics") { ex =>
    val body = engine.metrics.snapshot().toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${jsonEscape(k)}":${jsonNum(v)}""" }
      .mkString("{", ",", "}")
    respond(ex, 200, body)
  }

  // Skew-preflight visibility: the last N audit events the rewrite
  // rules produced (warn mode logs reach only the driver log; an
  // operator watching this API could not otherwise see warnings for
  // joins that PROCEEDED). Latest first; `aborted` marks fail-mode
  // refusals. Each event carries PARSED fields beside the raw line —
  // `rule` (overlap-join | hamming-block), `kind` (preflight |
  // stand-down), `diagnosis` ("ok" or the named problem — the alerting
  // key), `worst` (the hot element/block as name=value pairs, empty
  // for stand-downs), `share_bp` (integer basis points, null for
  // stand-downs or past-BIGINT audits) — so a dashboard alerting on
  // diagnosis != "ok" never has to regex the line.
  // `?session=<token>` filters to one tenant's audits. The token is the
  // `session` field on every served event — an identity-hash hex of the
  // SparkSession active when the event fired, NOT Spark's sessionUUID
  // (the same tenant notion the stand-down dedup keys on). Operators
  // discover a tenant's token by reading one unfiltered event of theirs;
  // tokens are stable for a session's lifetime, which is exactly the
  // filter's useful horizon (a GC'd session's token may eventually be
  // reused — don't persist filters across driver restarts). The ring
  // stays JVM-global and in memory only — see PreflightLog's doc.
  route("/v1/preflight") { ex =>
    val session = params(ex).get("session").filter(_.nonEmpty)
    val body = graft.plans.PreflightLog.recent()
      .filter(a => session.forall(_ == a.session))
      .map(graft.plans.PreflightLog.toJson)
      .mkString("""{"audits":[""", ",", "]}")
    respond(ex, 200, body)
  }

  // O2 runtime control (the reference drives this via nREPL,
  // doc/CONCEPTS.md:74-97; here it is an HTTP verb)
  route("/v1/queries/stop", clientOr500) { ex =>
    val name = params(ex).getOrElse("name", "")
    if (ex.getRequestMethod != "POST")
      respond(ex, 405, """{"error":"POST required"}""")
    else if (name.isEmpty) respond(ex, 400, """{"error":"name required"}""")
    else respond(ex, 200, s"""{"stopped":${engine.stopRoute(name)}}""")
  }

  // ANN index-store lifecycle (operators/AnnIndex.scala): the engine's
  // other durable artifacts (dead-set, preflight log, queries) are
  // inspectable and operable over /v1/* — the ANN store gets the same
  // discipline (the reference's management-API shape,
  // resource/dead_set.clj:46-94). GET describes without loading;
  // compact/vacuum are the two operator actions a serving index needs.
  private val annStatus: Throwable => Int = {
    case _: java.util.NoSuchElementException => 404
    case e => clientOr500(e)
  }

  private def annDir(p: Map[String, String]): String = {
    val dir = p.getOrElse("dir", "")
    if (dir.isEmpty) throw new IllegalArgumentException("dir required")
    // allowlist, not path validation: the server operates only on index
    // roots this process's AnnIndex API has itself touched — an
    // arbitrary filesystem path named by a network client must not
    // become a remote describe/compact/vacuum primitive (vacuum
    // DELETES version dirs). Unknown dir = 404 without touching disk,
    // so the endpoint is not an existence oracle either.
    if (!graft.operators.AnnIndex.isRegistered(dir))
      throw new java.util.NoSuchElementException(
        s"unknown ANN index dir (not operated on by this engine): $dir")
    dir
  }

  route("/v1/ann", annStatus) { ex =>
    if (ex.getRequestMethod != "GET")
      respond(ex, 405, """{"error":"GET required"}""")
    else {
      val info = graft.operators.AnnIndex.describe(annDir(params(ex)))
      val vs = info.versions.map { v =>
        val head = s""""name":"${jsonEscape(v.name)}",""" +
          s""""committed":${v.committed}"""
        val m = (v.k, v.centroids, v.postings, v.chain) match {
          case (Some(k), Some(c), Some(p0), Some(ch)) =>
            s""","k":$k,"centroids":$c,"postings":$p0,"chain":$ch"""
          case _ => ""
        }
        s"{$head$m}"
      }.mkString("[", ",", "]")
      val cur = info.current
        .map(c => s""""${jsonEscape(c)}"""").getOrElse("null")
      respond(ex, 200, s"""{"current":$cur,"versions":$vs,""" +
        s""""fresh_leases":${info.freshLeases},""" +
        s""""stale_leases":${info.staleLeases}}""")
    }
  }

  route("/v1/ann/compact", annStatus) { ex =>
    if (ex.getRequestMethod != "POST")
      respond(ex, 405, """{"error":"POST required"}""")
    else {
      val v = graft.operators.AnnIndex.compact(spark, annDir(params(ex)))
      respond(ex, 200, s"""{"compacted":"${jsonEscape(v)}"}""")
    }
  }

  route("/v1/ann/vacuum", annStatus) { ex =>
    val p = params(ex)
    if (ex.getRequestMethod != "POST")
      respond(ex, 405, """{"error":"POST required"}""")
    else {
      val dir = annDir(p)
      val keep = nonNegIntParam(p, "keep", 1)
      graft.operators.AnnIndex.vacuum(dir, keep)
      val left = graft.operators.AnnIndex.describe(dir).versions
        .map(v => s""""${jsonEscape(v.name)}"""").mkString("[", ",", "]")
      respond(ex, 200, s"""{"ok":true,"versions":$left}""")
    }
  }

  // O4 Prometheus text exposition (format 0.0.4): counters as
  // `graft_<name>_total`, gauges as `graft_<name>`, names sanitized to the
  // metric charset. The standard scrape endpoint the reference serves via
  // iapetos (prometheus_exporter.clj:35-44).
  private def sane(name: String): String =
    name.map(c => if (c.isLetterOrDigit || c == '_' || c == ':') c else '_')
      .mkString match {
      case s if s.nonEmpty && s.head.isDigit => "_" + s
      case s => s
    }

  route("/metrics") { ex =>
    val (counters, gauges) = engine.metrics.typedSnapshot()
    val sb = new StringBuilder
    // distinct raw keys can sanitize to the same name (`a.b-c` and
    // `a.b_c` both → graft_a_b_c); Prometheus rejects a scrape with
    // duplicate TYPE/sample lines, so aggregate per sanitized name —
    // counters sum (they are monotone totals), gauges keep the value of
    // the lexicographically last raw key (deterministic)
    counters.toSeq.groupBy { case (k, _) => s"graft_${sane(k)}_total" }
      .view.mapValues(_.map(_._2).sum).toSeq.sortBy(_._1)
      .foreach { case (n, v) =>
        sb.append(s"# TYPE $n counter\n$n $v\n")
      }
    gauges.toSeq.groupBy { case (k, _) => s"graft_${sane(k)}" }
      .view.mapValues(_.maxBy(_._1)._2).toSeq.sortBy(_._1)
      .foreach { case (n, v) =>
        // Prometheus exposition spells non-finite values +Inf/-Inf/NaN;
        // Scala's Double prints "Infinity", which fails the scrape
        val pv =
          if (v == Double.PositiveInfinity) "+Inf"
          else if (v == Double.NegativeInfinity) "-Inf"
          else v.toString // NaN prints "NaN" — the valid token
        sb.append(s"# TYPE $n gauge\n$n $pv\n")
      }
    respond(ex, 200, sb.toString,
      "text/plain; version=0.0.4; charset=utf-8")
  }

  // actor-routes: user handlers mounted next to the built-ins
  userRoutes.foreach { r =>
    route(r.path) { ex =>
      val body = new String(ex.getRequestBody.readAllBytes(),
        StandardCharsets.UTF_8)
      val (status, resp) = r.handler(ex.getRequestMethod, params(ex), body)
      respond(ex, status, resp, r.contentType)
    }
  }

  // O3 runtime scaling: restart a route from its checkpoint with a new
  // per-trigger record budget (the add/remove-stream-threads analogue)
  route("/v1/queries/scale", clientOr500) { ex =>
    val p = params(ex)
    val name = p.getOrElse("name", "")
    val maxPerTrigger = intParam(p, "max_per_trigger", 0)
    if (ex.getRequestMethod != "POST")
      respond(ex, 405, """{"error":"POST required"}""")
    else if (name.isEmpty || maxPerTrigger <= 0)
      respond(ex, 400, """{"error":"name and max_per_trigger > 0 required"}""")
    else respond(ex, 200,
      s"""{"scaled":${engine.scaleRoute(name, maxPerTrigger)}}""")
  }

  route("/v1/queries") { ex =>
    val body = engine.runningQueries.toSeq.sortBy(_._1)
      .map { case (name, q) =>
        s""""${jsonEscape(name)}":{"id":"${q.id}","active":${q.isActive}}"""
      }.mkString("{", ",", "}")
    respond(ex, 200, body)
  }

  // small pool instead of serial dispatch: a dead-set view's distributed
  // collect can take seconds on a large DLQ, and on the single dispatch
  // thread a concurrent /ping liveness probe queued behind it times out —
  // the orchestrator then restarts a healthy driver. Marker correctness
  // is independent of HTTP threading (DeadSet's per-entity locks).
  // Daemon threads: an abandoned server must not pin JVM exit.
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(4,
    new java.util.concurrent.ThreadFactory {
      private val n = new java.util.concurrent.atomic.AtomicInteger()
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"graft-mgmt-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      }
    })
  def start(): Unit = { server.setExecutor(pool); server.start() }
  def stop(): Unit = { server.stop(0); pool.shutdown() }
  def boundPort: Int = server.getAddress.getPort
}
