package graft.streaming

import scala.collection.mutable

/** File-based configuration with environment-variable overrides — the
  * counterpart of the reference's `config.edn` + clonfig env overlay
  * (config.clj:76-91: `config-from-env` reads the file, then each key can
  * be overridden from the process environment). The file syntax is the
  * HOCON subset that covers the reference's whole config surface: nested
  * objects with `{}`, `key = value` (or `:`), dotted keys, `#`/`//`
  * comments, optional commas, quoted or bare scalars. No external parser
  * dependency (typesafe-config doesn't ship in this container).
  *
  * Env overlay ≡ clonfig's: for every key path present in the file, the
  * canonical variable name is `GRAFT_` + path components upper-cased,
  * hyphens → underscores, joined by `_` (root `graft` elided). E.g.
  * `graft.stream-routes.orders.retry.count` ← `GRAFT_STREAM_ROUTES_ORDERS_RETRY_COUNT`.
  * Deriving names from *known* keys (not parsing env names back into
  * paths) keeps the mapping unambiguous, exactly like clonfig.
  *
  * Example file:
  * {{{
  * graft {
  *   http-port = 8010
  *   stream-routes {
  *     orders {
  *       origin-topic = "orders-events.*"
  *       retry { enabled = true, count = 5, type = exponential }
  *       channels { geo { worker-count = 4 } }
  *     }
  *   }
  * }
  * }}}
  */
object ConfigLoader {

  type Obj = mutable.LinkedHashMap[String, Any]

  /** THE scalar-typing rule — shared by the file parser and the env
    * overlay so a value can never parse one way from the file and
    * another from its `GRAFT_*` override. */
  private def parseScalar(raw: String): Any = raw match {
    case "true" => true
    case "false" => false
    case r if r.matches("[+-]?\\d+") => r.toLong
    case r if r.matches("[+-]?\\d*\\.\\d+([eE][+-]?\\d+)?") => r.toDouble
    case r => r
  }

  // ------------------------------------------------------------- parsing

  final class ParseError(msg: String) extends IllegalArgumentException(msg)

  private final class P(s: String) {
    private var i = 0

    private def eof: Boolean = i >= s.length
    private def peek: Char = s.charAt(i)

    private def skipWs(): Unit = {
      var go = true
      while (go && !eof) {
        val c = peek
        if (c.isWhitespace || c == ',') i += 1
        else if (c == '#') skipLine()
        else if (c == '/' && i + 1 < s.length && s.charAt(i + 1) == '/')
          skipLine()
        else go = false
      }
    }
    private def skipLine(): Unit =
      while (!eof && peek != '\n') i += 1

    private def fail(msg: String): Nothing =
      throw new ParseError(s"$msg at offset $i")

    private def parseQuoted(): String = {
      i += 1 // opening quote
      val sb = new StringBuilder
      while (!eof && peek != '"') {
        if (peek == '\\' && i + 1 < s.length) {
          i += 1
          sb.append(s.charAt(i) match {
            case 'n' => '\n'; case 't' => '\t'; case 'r' => '\r'
            case other => other
          })
        } else sb.append(peek)
        i += 1
      }
      if (eof) fail("unterminated string")
      i += 1 // closing quote
      sb.toString
    }

    private def bareToken(stops: String): String = {
      val start = i
      while (!eof && !stops.contains(peek) && !peek.isWhitespace) i += 1
      if (i == start) fail("expected a token")
      s.substring(start, i)
    }

    private def parseKeyPath(): Seq[String] = {
      skipWs()
      if (eof) fail("expected a key")
      // QUOTED keys are single path segments, never split on dots —
      // quoting is HOCON's standard escape for exactly this, and
      // splitting it made any dotted topic entity ("orders.v1")
      // unrepresentable: it parsed as nested objects orders → v1 and
      // the boot failed with a misleading empty-origin-topic error
      if (peek == '"') {
        // LITERAL, never trimmed — quoting exists to preserve the key
        // exactly. An empty/blank quoted key must fail like an empty
        // bare token does: trimming it to Seq() made put() a silent
        // no-op and the whole value vanished without a ParseError.
        val k = parseQuoted()
        if (k.trim.isEmpty) fail("empty quoted key")
        Seq(k)
      }
      else {
        // a dots-only bare key ("." or a trailing-dot typo's empty
        // segment set) filtered down to Seq() and put() silently
        // dropped the value — the same no-op hole the quoted branch
        // fails loudly on
        val segs = bareToken("=:{}").split('.').toSeq
          .map(_.trim).filter(_.nonEmpty)
        if (segs.isEmpty) fail("empty key")
        segs
      }
    }

    private def scalar(raw: String): Any = parseScalar(raw)

    private def parseValue(): Any = {
      skipWs()
      if (eof) fail("expected a value")
      peek match {
        case '{' => i += 1; val o = parseObjectBody(closing = true); o
        case '"' => parseQuoted()
        case _ =>
          // bare scalar: to end of line / comma / brace / comment (both
          // `#` and `//` — skipWs accepts `//`, so a trailing
          // `port = 8010 // note` must not absorb the comment)
          val start = i
          while (!eof && !"\n,}#".contains(peek) &&
              !(peek == '/' && i + 1 < s.length && s.charAt(i + 1) == '/'))
            i += 1
          val raw = s.substring(start, i).trim
          if (raw.isEmpty) fail("expected a value")
          scalar(raw)
      }
    }

    /** Parses `key [=:] value` pairs until the closing brace (or EOF for
      * the top level), deep-merging duplicate object keys (HOCON rule:
      * objects merge, scalars last-one-wins). */
    def parseObjectBody(closing: Boolean): Obj = {
      val out = new Obj
      skipWs()
      while (!eof && peek != '}') {
        val path = parseKeyPath()
        skipWs()
        if (!eof && (peek == '=' || peek == ':')) { i += 1; skipWs() }
        else if (eof || peek != '{') fail(s"key '${path.mkString(".")}' needs a value")
        val v = parseValue()
        put(out, path, v)
        skipWs()
      }
      if (closing) {
        if (eof) fail("missing '}'")
        i += 1
      } else if (!eof) fail("unexpected '}'")
      out
    }

    private def put(obj: Obj, path: Seq[String], v: Any): Unit =
      path match {
        case Seq(k) => (obj.get(k), v) match {
          case (Some(a: Obj), b: Obj) => deepMerge(a, b)
          case _ => obj.update(k, v)
        }
        case k +: rest =>
          val child = obj.getOrElseUpdate(k, new Obj) match {
            case o: Obj => o
            case _ => val o = new Obj; obj.update(k, o); o
          }
          put(child, rest, v)
        case _ => ()
      }

    private def deepMerge(a: Obj, b: Obj): Unit =
      b.foreach { case (k, v) => put(a, Seq(k), v) }
  }

  /** Parse config text into a nested map. */
  def parse(text: String): Obj = new P(text).parseObjectBody(closing = false)

  // ------------------------------------------------------- env overrides

  /** clonfig-style overlay: every key path in the tree checks
    * `GRAFT_<PATH>` (root `graft` elided, `-`→`_`, upper-case) and
    * replaces its value with the parsed env string when set. */
  def overlayEnv(root: Obj, env: Map[String, String]): Obj = {
    def envName(path: Seq[String]): String = {
      // drop ONLY a leading root-wrapper segment: the old
      // filter(_ != "graft") deleted the segment at ANY depth, so an
      // entity literally named "graft" computed the same variable name
      // as its parent path — untargetable from the environment, and an
      // env var meant for another path could silently rewrite it
      val p = if (path.headOption.contains("graft")) path.tail else path
      p.map(_.replace('-', '_').toUpperCase).mkString("GRAFT_", "_", "")
    }
    def walk(obj: Obj, path: Seq[String]): Unit =
      obj.keys.toSeq.foreach { k =>
        val p = path :+ k
        obj(k) match {
          case o: Obj => walk(o, p)
          case _ => env.get(envName(p)).foreach { raw =>
            // the ONE scalar-typing rule (shared with the file parser) —
            // two copies could drift, making a value parse one way from
            // the file and another from its env override
            obj.update(k, parseScalar(raw))
          }
        }
      }
    walk(root, Nil)
    root
  }

  // ------------------------------------------------- typed config mapping

  private def obj(v: Any): Obj = v match {
    case o: Obj => o
    case other => throw new ParseError(s"expected an object, got $other")
  }
  private def str(o: Obj, k: String, dflt: => String): String =
    o.get(k).map(_.toString).getOrElse(dflt)
  private def lng(o: Obj, k: String, dflt: Long): Long = o.get(k) match {
    case Some(l: Long) => l
    case Some(other) => other.toString.toLong
    case None => dflt
  }
  private def int(o: Obj, k: String, dflt: Int): Int = {
    val v = lng(o, k, dflt.toLong)
    if (!v.isValidInt)
      throw new ParseError(s"'$k' = $v is outside the Int range")
    v.toInt
  }
  private def bool(o: Obj, k: String, dflt: Boolean): Boolean = o.get(k) match {
    case Some(b: Boolean) => b
    case Some(other) => other.toString.toBoolean
    case None => dflt
  }

  private def retryOf(o: Obj): RetryConfig = {
    val d = RetryConfig()
    RetryConfig(
      enabled = bool(o, "enabled", d.enabled),
      count = int(o, "count", d.count),
      backoffType = str(o, "type", "linear") match {
        case "exponential" => BackoffType.Exponential
        case "linear" => BackoffType.Linear
        case other => throw new ParseError(s"unknown backoff type '$other'")
      },
      queueTimeoutMs = lng(o, "queue-timeout-ms", d.queueTimeoutMs))
  }

  /** Map the parsed+overlaid tree to the typed config (defaults from the
    * case classes, exactly like the reference's merged default config,
    * config.clj:19-53). Boot-time validation stays with
    * [[EngineConfig.validate]]. */
  def toEngineConfig(root: Obj): EngineConfig = {
    val g = root.get("graft").map(obj).getOrElse(root)
    val streams = g.get("stream-routes").map(obj).getOrElse(new Obj).map {
      case (entity, v) =>
        val o = obj(v)
        val d = StreamRouteConfig("", "")
        entity -> StreamRouteConfig(
          topicEntity = entity,
          originTopic = str(o, "origin-topic", ""),
          // canonical key matches the reference (config.clj:167, singular);
          // the plural form is accepted as an alias for configs written
          // against earlier releases of this engine
          oldestProcessedMessageInS =
            lng(o, "oldest-processed-message-in-s",
              lng(o, "oldest-processed-messages-in-s",
                d.oldestProcessedMessageInS)),
          threadCount = int(o, "thread-count", d.threadCount),
          retry = o.get("retry").map(r => retryOf(obj(r)))
            .getOrElse(RetryConfig()),
          channels = o.get("channels").map(obj).getOrElse(new Obj).map {
            case (cn, cv) =>
              val co = obj(cv)
              cn -> ChannelConfig(cn,
                workerCount = int(co, "worker-count", ChannelConfig(cn).workerCount),
                retry = co.get("retry").map(r => retryOf(obj(r)))
                  .getOrElse(RetryConfig()))
          }.toMap,
          exactRetryRelease = bool(o, "exact-retry-release", d.exactRetryRelease))
    }.toMap
    val batches = g.get("batch-routes").map(obj).getOrElse(new Obj).map {
      case (entity, v) =>
        val o = obj(v)
        val d = BatchRouteConfig("", "")
        entity -> BatchRouteConfig(
          topicEntity = entity,
          originTopic = str(o, "origin-topic", ""),
          maxPollRecords = int(o, "max-poll-records", d.maxPollRecords),
          threadCount = int(o, "thread-count", d.threadCount),
          retry = o.get("retry").map(r => retryOf(obj(r)))
            .getOrElse(RetryConfig()))
    }.toMap
    EngineConfig(
      streamRoutes = streams,
      batchRoutes = batches,
      httpPort = int(g, "http-port", EngineConfig().httpPort),
      drainTimeoutMs = lng(g, "drain-timeout-ms", EngineConfig().drainTimeoutMs),
      statsd = g.get("statsd").map(obj).map { o =>
        val d = StatsdConfig()
        StatsdConfig(
          host = str(o, "host", d.host),
          port = int(o, "port", d.port),
          enabled = bool(o, "enabled", d.enabled))
      }.getOrElse(StatsdConfig()),
      stateStore = str(g, "state-store", EngineConfig().stateStore))
  }

  // --------------------------------------------------- unknown-key linting

  private val retryKeys = Set("enabled", "count", "type", "queue-timeout-ms")
  private val channelKeys = Set("worker-count", "retry")
  private val streamRouteKeys = Set("origin-topic",
    "oldest-processed-message-in-s", "oldest-processed-messages-in-s",
    "thread-count", "retry", "channels", "exact-retry-release")
  private val batchRouteKeys = Set("origin-topic", "max-poll-records",
    "thread-count", "retry")
  private val statsdKeys = Set("host", "port", "enabled")
  private val rootKeys = Set("stream-routes", "batch-routes", "http-port",
    "drain-timeout-ms", "statsd", "state-store")

  /** Key paths the typed mapping will silently ignore — a misspelled route
    * key (e.g. `oldest-processed-msg-in-s`) otherwise falls back to its
    * default with no error, changing runtime behavior invisibly.
    * [[load]]/[[loadFile]] print these to stderr; call directly to gate a
    * deployment on a clean config. */
  def unknownKeys(root: Obj): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    def sweep(o: Obj, known: Set[String], prefix: String,
        nested: PartialFunction[String, (Obj, String) => Unit]): Unit =
      o.foreach { case (k, v) =>
        if (!known.contains(k)) out += s"$prefix$k"
        else (v, nested.lift(k)) match {
          case (child: Obj, Some(f)) => f(child, s"$prefix$k.")
          case _ => ()
        }
      }
    def sweepRetry(o: Obj, p: String): Unit =
      sweep(o, retryKeys, p, PartialFunction.empty)
    val g = root.get("graft").map(obj).getOrElse(root)
    // siblings of the graft wrapper are NEVER read by toEngineConfig —
    // a statsd block indented outside `graft {}` silently stayed at
    // defaults with no lint, the exact drift this sweep exists to catch
    if (root.contains("graft"))
      root.keys.filterNot(_ == "graft")
        .foreach(k => out += s"$k (outside the graft block — ignored)")
    sweep(g, rootKeys, if (root.contains("graft")) "graft." else "", {
      case "stream-routes" => (routes, p) =>
        routes.foreach { case (entity, v) =>
          sweep(obj(v), streamRouteKeys, s"$p$entity.", {
            case "retry" => sweepRetry
            case "channels" => (chans, cp) =>
              chans.foreach { case (cn, cv) =>
                sweep(obj(cv), channelKeys, s"$cp$cn.",
                  { case "retry" => sweepRetry })
              }
          })
        }
      case "batch-routes" => (routes, p) =>
        routes.foreach { case (entity, v) =>
          sweep(obj(v), batchRouteKeys, s"$p$entity.",
            { case "retry" => sweepRetry })
        }
      case "statsd" => (o, p) =>
        sweep(o, statsdKeys, p, PartialFunction.empty)
    })
    out.toSeq
  }

  /** Text → typed config with env overlay applied. */
  def load(text: String, env: Map[String, String] = sys.env): EngineConfig = {
    val root = overlayEnv(parse(text), env)
    unknownKeys(root).foreach(k =>
      Console.err.println(s"[graft-config] WARN unknown config key: $k"))
    toEngineConfig(root)
  }

  /** File → typed config with env overlay applied. */
  def loadFile(path: String, env: Map[String, String] = sys.env): EngineConfig =
    load(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), java.nio.charset.StandardCharsets.UTF_8),
      env)
}
