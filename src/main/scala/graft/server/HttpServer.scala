package graft.server

import com.fasterxml.jackson.databind.JsonNode
import com.sun.net.httpserver.{HttpExchange, HttpServer => JdkHttpServer}
import graft.catalog.GraftCatalog
import graft.ingest.{ColumnarBatch, DirectParquetWriter, LineProtocol, MsgPack}
import graft.query.{ArrowEncoder, MsgPackEncoder, QueryFacade}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions.{col, timestamp_micros}
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}

import java.io.ByteArrayInputStream
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import java.util.concurrent.{Executors, ScheduledFuture, TimeUnit}
import java.util.zip.GZIPInputStream
import scala.collection.concurrent.TrieMap
import scala.util.matching.Regex

/** The HTTP serving binding — the reference's primary user surface,
  * re-expressed over the existing facade/ingest/encoder layers (SURVEY
  * §3.1; the round-6 verdict's #1 gap). Routes mirror the reference:
  *
  *  - `POST /api/v1/query` — `{"sql": …}` → the JSON envelope
  *    `{success, columns, data, row_count, execution_time_ms, timestamp}`
  *    (internal/api/query.go:660-675), streamed chunked from
  *    executor-encoded byte runs (QueryFacade.writeJsonEnvelope), with
  *    content negotiation to Arrow IPC / MessagePack via `Accept`;
  *  - `POST /api/v1/query/arrow` — Arrow IPC stream
  *    (internal/api/query_arrow.go:525), executor-encoded record-batch
  *    chunks re-framed into one stream;
  *  - `POST /api/v1/query/msgpack` — columnar MessagePack envelope
  *    (internal/api/query.go:1366);
  *  - `POST /api/v1/query/estimate` — COUNT(*) wrapper with the
  *    reference's none/low/medium/high warning ladder
  *    (internal/api/query.go:3723-3740);
  *  - `POST /api/v1/write/msgpack` — columnar/row/batch MessagePack
  *    ingest (internal/api/msgpack.go:171-399), gzip/zstd sniffed by
  *    magic bytes, `x-arc-database` header, 204 on success;
  *  - `POST /write` (db/precision query params, InfluxDB v1 style) and
  *    `POST /api/v1/write/line-protocol` (header database) — Line
  *    Protocol ingest (internal/api/lineprotocol.go:96-100);
  *  - `GET /api/v1/measurements[?database=]`, `GET/POST/DELETE
  *    /api/v1/databases[/{name}]`, `GET /health`, `GET /ready`;
  *  - `GET /api/v1/queries` + `POST /api/v1/query/{id}/cancel` — the
  *    registry/cancel surface (internal/queryregistry) over Spark job
  *    groups; every query response carries `X-Graft-Query-Id`;
  *  - `POST /api/v1/write/tle` (internal/api/tle.go:70),
  *    `POST /api/v1/import/{csv,parquet,lp,tle}` multipart uploads
  *    (internal/api/import.go:100-104), `GET /api/v1/query/{measurement}`
  *    simple reads (query.go:3923), `GET /metrics` (Prometheus text /
  *    JSON by Accept, server.go:176) + per-source `…/stats`.
  *
  * Scale stance: the serving layer never materializes a result on the
  * driver — JSON, Arrow and MessagePack stream executor-encoded
  * chunks in waves (driver memory O(wave × chunk),
  * independent of result size), so an uncapped 100M-row SELECT flows
  * through the socket the way the reference streams via fasthttp's
  * SetBodyStreamWriter (query.go:1745). Every route, with the
  * permission it requires, is one row of [[routes]].
  */
final class HttpServer(
    val spark: SparkSession,
    catalogRoot: String,
    port: Int = 0,
    authToken: Option[String] = None) {

  val catalog = new GraftCatalog(spark, catalogRoot)
  val facade = new QueryFacade(spark)

  /** Multi-token store + scoped permissions (the reference's
    * AuthManager/RBACManager, internal/auth/). Coexists with the static
    * `authToken` (which authenticates as a synthetic full-admin): auth
    * is DISABLED only when neither a static token nor any stored token
    * exists — the open OSS deployment. */
  val tokens = new AuthStore(catalogRoot, spark.sparkContext.hadoopConfiguration)
  val rbac = new Rbac(catalogRoot, spark.sparkContext.hadoopConfiguration)

  /** Token/RBAC HTTP plane — see [[AuthApi]]. */
  val authApi = new AuthApi(this)

  /** Per-token rate limits + query quotas (reference
    * internal/governance) — enforced on the query surface, managed over
    * `/api/v1/governance/policies`. */
  val governance = new Governance(catalogRoot, spark.sparkContext.hadoopConfiguration)

  /** Structured audit trail (reference internal/audit) — JSONL segments
    * under `_admin/audit/`, queried via `/api/v1/audit/logs`. */
  val audit = new Audit(catalogRoot, spark.sparkContext.hadoopConfiguration)

  /** Fires governance max-scan-duration cancels; one daemon thread. */
  private val timeoutScheduler =
    Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "graft-query-timeout"); t.setDaemon(true); t
    })

  /** The lifecycle/admin plane (delete, retention, continuous queries,
    * compaction, tiering, MQTT subscriptions) — see [[AdminApi]]. */
  val admin = new AdminApi(this)

  /** Endpoint stats, log ring, time-series sampler — see
    * [[Observability]]; feeds the metrics subroutes and `/api/v1/logs`. */
  val obs = new Observability

  // Per-database child sessions: temp views are session-scoped, so each
  // database resolves measurement names in its OWN session — two
  // databases sharing a measurement name serve concurrently without
  // contending on one view slot (newSession shares the SparkContext and
  // cached data; job groups live on the shared context, so the single
  // registry/cancel id-space still covers every session's queries).
  private val dbSessions = TrieMap.empty[String, (SparkSession, GraftCatalog)]

  private[server] def sessionFor(db: String): (SparkSession, GraftCatalog) =
    dbSessions.getOrElseUpdate(db, {
      val s = spark.newSession()
      graft.GraftFunctions.registerAll(s) // function registry is per-session
      // maintenance runs concurrently with serving: compaction/retention
      // delete source files that a registered view's snapshot may still
      // list. Skipping a vanished file (instead of failing the query)
      // gives the same transient semantics as the reference's per-query
      // listing under concurrent deletes; exactness is restored by the
      // view-version protocol the moment the maintenance op invalidates
      // the view.
      s.conf.set("spark.sql.files.ignoreMissingFiles", "true")
      (s, new GraftCatalog(s, catalogRoot))
    })

  /** The child session a database's queries resolve in — embedders that
    * register extra temp views (benches, notebooks) must register them
    * HERE, not in the root session. */
  def dbSession(db: String): SparkSession = sessionFor(db)._1

  /** Governance row cap applied to every query result (the reference's
    * `query.max_result_rows`, query.go:1439-1468); MaxValue = off. */
  @volatile var maxRows: Long = Long.MaxValue

  /** Pre-decompression request-body cap (the reference's
    * `max_payload_size`, msgpack.go:223-229). */
  @volatile var maxPayloadBytes: Long = 512L << 20

  /** Optional buffered-accept ingest — the reference's actual ingest
    * architecture (ArrowBuffer + WAL, internal/ingest/arrow_writer.go):
    * writes are journaled + buffered and the request acks BEFORE the
    * parquet flush. Durability moves from "parquet before 204" to "WAL
    * before 204" (crash replay restores acknowledged rows); reads see
    * the rows at the next flush tick, exactly the reference's
    * read-your-writes window. OFF by default — the synchronous path
    * stays the conservative contract; ServeMain opts in. */
  @volatile private[server] var bufferedIngest: Option[graft.ingest.DurableIngester] = None

  /** Switch ingest to buffered-accept. Returns rows recovered from a
    * previous process's un-checkpointed WAL (already flushed). */
  def enableBufferedIngest(walDir: java.io.File, flushRows: Int = 200000,
      flushMillis: Long = 500L,
      syncMode: graft.ingest.Wal.SyncMode = graft.ingest.Wal.SyncEvery): Long = {
    val ing = new graft.ingest.DurableIngester(catalog, walDir, syncMode,
      flushRows, onFlush = (db, m) => invalidateView(db, m))
    bufferedIngest = Some(ing)
    val t = new Thread(() => {
      while (bufferedIngest.contains(ing)) {
        try { Thread.sleep(flushMillis); ing.flush() }
        catch {
          case _: InterruptedException => ()
          case e: Throwable =>
            org.slf4j.LoggerFactory.getLogger(classOf[HttpServer])
              .warn(s"ingest flush failed: ${msg(e)}")
        }
      }
    }, "graft-ingest-flusher")
    t.setDaemon(true)
    t.start()
    ing.recoveredRows
  }

  private val startedAt = System.nanoTime()
  private val rfc3339 = DateTimeFormatter.ISO_INSTANT

  // ---- metrics (the reference's metrics.Get() counters, server.go:176;
  // snapshot served as Prometheus text or JSON by Accept) --------------
  private val mQueries = new java.util.concurrent.atomic.AtomicLong
  private val mQueryErrors = new java.util.concurrent.atomic.AtomicLong
  private val mIngestRequests = new java.util.concurrent.atomic.AtomicLong
  private val mIngestRecords = new java.util.concurrent.atomic.AtomicLong
  private val mIngestBytes = new java.util.concurrent.atomic.AtomicLong
  private val mIngestErrors = new java.util.concurrent.atomic.AtomicLong

  /** Per-source ingest counters (the reference keeps one set per
    * handler — msgpack.go totalRequests etc.); the globals above
    * aggregate across sources for /metrics. */
  private final class SourceStats {
    val requests = new java.util.concurrent.atomic.AtomicLong
    val records = new java.util.concurrent.atomic.AtomicLong
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val errors = new java.util.concurrent.atomic.AtomicLong
  }
  private val srcStats: Map[String, SourceStats] =
    Seq("msgpack", "lp", "tle", "import").map(_ -> new SourceStats).toMap

  private def ingested(source: String, records: Long, bytes: Long): Unit = {
    val s = srcStats(source)
    s.requests.incrementAndGet(); s.records.addAndGet(records)
    s.bytes.addAndGet(bytes)
    mIngestRequests.incrementAndGet(); mIngestRecords.addAndGet(records)
    mIngestBytes.addAndGet(bytes)
  }

  private def ingestError(source: String): Unit = {
    srcStats(source).errors.incrementAndGet()
    mIngestErrors.incrementAndGet()
  }

  private def metricPairs: Seq[(String, Long)] = Seq(
    "graft_queries_total" -> mQueries.get,
    "graft_query_errors_total" -> mQueryErrors.get,
    "graft_slow_queries_total" -> facade.slowQueryCount,
    "graft_ingest_requests_total" -> mIngestRequests.get,
    "graft_ingest_records_total" -> mIngestRecords.get,
    "graft_ingest_bytes_total" -> mIngestBytes.get,
    "graft_ingest_errors_total" -> mIngestErrors.get,
    "graft_uptime_seconds" -> (System.nanoTime() - startedAt) / 1000000000L)

  // View freshness is version-stamped: every write bumps the
  // measurement's version; a registered temp view records the (db,
  // version) it was built against. Spark file-source views snapshot
  // their file listing at registration, so any version mismatch means
  // the snapshot may predate a write and the view re-registers. The
  // version is read BEFORE registering, so a write landing DURING
  // registration leaves version > stamp and the next query refreshes —
  // no interleaving can lose an invalidation, and the stamp only
  // appears after the view actually exists (no thread can race past a
  // half-registered view).
  // Views register into each database's child session (sessionFor), so
  // same-named measurements in different databases never contend;
  // freshness keys are therefore "db/measurement".
  private val viewVersion =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]
  private val viewState = TrieMap.empty[String, Long] // "db/m" -> stamped version

  private[server] def invalidateView(db: String, m: String): Unit =
    viewVersion.computeIfAbsent(s"$db/$m",
        _ => new java.util.concurrent.atomic.AtomicLong)
      .incrementAndGet()

  private def versionOf(db: String, m: String): Long = {
    val v = viewVersion.get(s"$db/$m")
    if (v == null) 0L else v.get
  }

  private val server = JdkHttpServer.create(new InetSocketAddress("127.0.0.1", port), 64)
  private val pool = Executors.newCachedThreadPool(r => {
    val t = new Thread(r, "graft-http"); t.setDaemon(true); t
  })
  server.setExecutor(pool)
  server.createContext("/", (ex: HttpExchange) => dispatch(ex))

  def boundPort: Int = server.getAddress.getPort

  def start(): Int = {
    obs.appCounters = () => metricPairs
    obs.start()
    server.start()
    boundPort
  }

  def stop(): Unit = {
    admin.lifecycle.stop()
    admin.stopSubscriptions() // before the final flush: no delivery after it
    server.stop(0); pool.shutdownNow(); obs.stop()
    try audit.close() catch { case _: Throwable => () } // final segment
    bufferedIngest.foreach { ing =>
      bufferedIngest = None // stops the flusher loop
      ing.close() // final flush + WAL checkpoint
    }
  }

  // ---- routing ---------------------------------------------------------

  /** Every route the server answers, matched in declaration order: a
    * literal precedes a template that would also match it. */
  private[server] val routes: Seq[Route] = {
    import Perm._
    Seq(
      Route("POST", "/api/v1/query", Read, gated = true)((ex, _) => handleQuery(ex, negotiated(ex))),
      Route("POST", "/api/v1/query/arrow", Read, gated = true)((ex, _) => handleQuery(ex, "arrow")),
      Route("POST", "/api/v1/query/msgpack", Read, gated = true)((ex, _) => handleQuery(ex, "msgpack")),
      Route("POST", "/api/v1/query/estimate", Read, gated = true)((ex, _) => handleEstimate(ex)),
      // registry listing + cancel are admin (reference
      // query_management.go:36 RequireAdmin): a low-privilege token
      // sweeping sequential ids could otherwise cancel other tenants'
      // in-flight queries
      Route("POST", "/api/v1/query/:id/cancel", Admin)((ex, p) => handleCancel(ex, p("id").toLong)),
      Route("GET", "/api/v1/queries", Admin)((ex, _) => handleActive(ex)),
      Route("GET", "/api/v1/queries/history", Admin)((ex, _) => handleHistory(ex)),
      Route("POST", "/api/v1/write/msgpack", Write)((ex, _) => handleWriteMsgPack(ex)),
      Route("POST", "/write", Write)((ex, _) => handleWriteLp(ex)),
      Route("POST", "/api/v2/write", Write)((ex, _) => handleWriteLp(ex)),
      Route("POST", "/api/v1/write/line-protocol", Write)((ex, _) => handleWriteLp(ex)),
      Route("POST", "/api/v1/write/tle", Write)((ex, _) => handleWriteTle(ex)),
      Route("POST", "/api/v1/import/csv", Write)((ex, _) => handleImport(ex, "csv")),
      Route("POST", "/api/v1/import/parquet", Write)((ex, _) => handleImport(ex, "parquet")),
      Route("POST", "/api/v1/import/lp", Write)((ex, _) => handleImport(ex, "lp")),
      Route("POST", "/api/v1/import/tle", Write)((ex, _) => handleImport(ex, "tle")),
      Route("GET", "/api/v1/query/:measurement", Read, gated = true)((ex, p) =>
        handleQueryMeasurement(ex, p("measurement"))),
      Route("GET", "/api/v1/measurements", Read)((ex, _) => handleMeasurements(ex)),
      Route("GET", "/api/v1/databases", Authenticated)((ex, _) => handleListDatabases(ex)),
      Route("POST", "/api/v1/databases", Admin)((ex, _) => handleCreateDatabase(ex)),
      Route("GET", "/api/v1/databases/:name/measurements", Authenticated)((ex, p) =>
        handleDbMeasurements(ex, p("name"))),
      Route("GET", "/api/v1/databases/:name", Authenticated)((ex, p) => handleGetDatabase(ex, p("name"))),
      Route("DELETE", "/api/v1/databases/:name", Admin)((ex, p) => handleDeleteDatabase(ex, p("name"))),
      Route("GET", "/health", Authenticated) { (ex, _) =>
        val up = (System.nanoTime() - startedAt) / 1e9
        sendJson(ex, 200,
          s"""{"status":"ok","time":${q(now())},"uptime_sec":$up}""")
      },
      Route("GET", "/ready", Authenticated)((ex, _) => sendJson(ex, 200, """{"ready":true}""")),
      Route("GET", "/metrics", Authenticated)((ex, _) => handleMetrics(ex)),
      Route("GET", "/api/v1/metrics", Authenticated)((ex, _) => handleMetrics(ex)),
      Route("GET", "/api/v1/metrics/memory", Authenticated)((ex, _) => sendJson(ex, 200, obs.memoryJson(q))),
      Route("GET", "/api/v1/metrics/query-pool", Authenticated)((ex, _) => handleQueryPoolMetrics(ex)),
      Route("GET", "/api/v1/metrics/endpoints", Authenticated)((ex, _) => handleEndpointMetrics(ex)),
      Route("GET", "/api/v1/metrics/timeseries/:type", Authenticated)((ex, p) =>
        handleTimeseriesMetrics(ex, p("type"))),
      // the log ring exposes internals — admin-gated like the reference
      // (server.go:203 withAdminAuth; its note: deliberately not a
      // default-open route)
      Route("GET", "/api/v1/logs", Admin)((ex, _) => handleLogs(ex)),
      Route("POST", "/api/v1/write/line-protocol/flush", Admin) { (ex, _) =>
        bufferedIngest match {
          case Some(ing) =>
            val pending = ing.pendingRows
            ing.flush()
            sendJson(ex, 200,
              s"""{"status":"success","message":"All buffers flushed","rows_flushed":$pending}""")
          case None =>
            // the synchronous path is durable before the 204 — the
            // reference's FlushAll contract holds vacuously
            sendJson(ex, 200, """{"status":"success","message":"All buffers flushed","note":"writes are synchronously durable; nothing is ever buffered"}""")
        }
      },
      Route("GET", "/api/v1/write/line-protocol/health", Authenticated) { (ex, _) =>
        val pending = bufferedIngest.map(_.pendingRows).getOrElse(0)
        sendJson(ex, 200,
          s"""{"status":"healthy","service":"line_protocol_writer",""" +
            s""""buffered":${bufferedIngest.isDefined},"pending_rows":$pending}""")
      },
      Route("GET", "/api/v1/write/msgpack/spec", Authenticated) { (ex, _) =>
        // the reference's self-describing wire doc (msgpack.go:411-460)
        sendJson(ex, 200,
          """{"version":"2.0","protocol":"MessagePack","endpoint":"/api/v1/write/msgpack",""" +
            """"content_type":"application/msgpack","compression":"gzip or zstd (optional)",""" +
            """"format":{"columnar (RECOMMENDED)":{"m":"measurement (string)",""" +
            """"columns":"dict of column_name: [array of values]",""" +
            """"note":"zero-copy fast path; time column in int64 ms/us/s"},""" +
            """"row (LEGACY)":{"m":"measurement (string)","t":"timestamp (int64)",""" +
            """"h":"host (string, optional)","fields":"dict of field_name: value",""" +
            """"tags":"dict of tag_name: value (optional)"},""" +
            """"batch":{"batch":"array of measurements (columnar or row)"}}}""")
      },
      Route("GET", "/api/v1/write/msgpack/stats", Authenticated)((ex, _) => sendStats(ex, "msgpack")),
      Route("GET", "/api/v1/write/line-protocol/stats", Authenticated)((ex, _) => sendStats(ex, "lp")),
      Route("GET", "/api/v1/write/tle/stats", Authenticated)((ex, _) => sendStats(ex, "tle")),
      Route("GET", "/api/v1/import/stats", Authenticated)((ex, _) => sendStats(ex, "import"))
    ) ++ authApi.routes ++ admin.routes
  }

  /** CORS and the OPTIONS preflight; then the route match,
    * authentication (401), the route's permission (403), the RBAC
    * feature gate, the overload gate and the handler. No match is 404. */
  private def dispatch(ex: HttpExchange): Unit = {
    val method = ex.getRequestMethod.toUpperCase
    val path = ex.getRequestURI.getPath
    val t0 = System.nanoTime()
    val hit = routes.iterator.flatMap(r => r.captures(method, path).map(r -> _)).nextOption()
    val statsKey = if (method == "OPTIONS") "OPTIONS *" else hit.fold("UNMATCHED")(_._1.key)
    try {
      // CORS, mirroring the reference's middleware (server.go:132-136);
      // response compression stays off there too (manual body handling)
      val h = ex.getResponseHeaders
      h.set("Access-Control-Allow-Origin", "*")
      if (method == "OPTIONS") {
        h.set("Access-Control-Allow-Methods", "GET,POST,PUT,DELETE,OPTIONS")
        h.set("Access-Control-Allow-Headers",
          "Origin,Content-Type,Accept,Authorization,x-api-key,x-arc-database,Content-Encoding")
        ex.sendResponseHeaders(204, -1)
        return
      }
      authenticate(ex) match {
        case Left(status) => fail(ex, status, "unauthorized"); return
        case Right(tok) => currentToken.set(tok)
      }
      hit match {
        case None => fail(ex, 404, s"no route: $method $path")
        case Some((r, c)) =>
          if (r.perm != Perm.Authenticated && tokenOf(ex).exists(!rbac.passesCoarse(_, r.perm.name)))
            fail(ex, 403, s"Permission denied: ${r.perm.name} required")
          else if (r.perm == Perm.RbacAdmin && !rbac.enabled)
            fail(ex, 403, "RBAC is not enabled")
          else if (!r.gated) r.handler(ex, c)
          // reject-fast 503 with Retry-After when saturated; release on
          // ANY exit path so a thrown handler can't leak an in-flight slot
          else overloadGate.tryAcquire() match {
            case Some(reason) =>
              // deliberately NOT mQueries/mQueryErrors: the reference's gate
              // tracks sheds in its own counter (gate503Total), keeping the
              // query success/error arithmetic intact
              if (overloadGate.shouldWarn())
                org.slf4j.LoggerFactory.getLogger(classOf[HttpServer]).warn(
                  s"query gate fired (shed_total=${overloadGate.shedTotal.get}): $reason")
              ex.getResponseHeaders.set("Retry-After", "5")
              fail(ex, 503, reason)
            case None =>
              try r.handler(ex, c) finally overloadGate.release()
          }
      }
    } catch {
      case e: IllegalArgumentException => fail(ex, 400, msg(e))
      case e: Throwable =>
        // surfaced in the body when headers haven't gone out; logged
        // always — a mid-stream failure would otherwise vanish into a
        // truncated response with no server-side trace
        org.slf4j.LoggerFactory.getLogger(classOf[HttpServer])
          .warn(s"$method $path failed: ${msg(e)}")
        fail(ex, 500, msg(e))
    } finally {
      ex.close()
      obs.record(statsKey, math.max(ex.getResponseCode, 0),
        (System.nanoTime() - t0) / 1000L)
      // audit off the response path: record is an O(1) enqueue, the
      // flush drains whatever accumulated (batching under load, like
      // the reference's channel + writerLoop). The record call is
      // guarded on its own (and uses the lenient auditParams — the
      // strict queryParams throws on malformed percent-encoding): an
      // escape here would skip flush() AND leak this request's identity
      // in the pool thread's ThreadLocal, mis-attributing a later
      // request on the thread.
      try {
        audit.record(method, path, math.max(ex.getResponseCode, 0),
          (System.nanoTime() - t0) / 1000000L,
          actor = tokenOf(ex).map(_.name).getOrElse("anonymous"),
          database = Option(ex.getRequestHeaders.getFirst("x-arc-database"))
            .orElse(auditParams(ex).get("db"))
            .orElse(auditParams(ex).get("database")).getOrElse(""),
          measurement =
            Option(ex.getRequestHeaders.getFirst("x-arc-measurement"))
              .orElse(hit.flatMap(_._2.get("measurement"))).getOrElse(""))
        audit.flush()
      } catch { case _: Throwable => ()
      } finally currentToken.remove()
    }
  }

  private def handleMetrics(ex: HttpExchange): Unit = {
    val accept = Option(ex.getRequestHeaders.getFirst("Accept")).getOrElse("")
    if (ex.getRequestURI.getPath == "/api/v1/metrics" || accept.contains("application/json"))
      sendJson(ex, 200, metricPairs
        .map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}"))
    else {
      val body = metricPairs.map { case (k, v) =>
        s"# TYPE $k ${if (k.endsWith("_total")) "counter" else "gauge"}\n$k $v"
      }.mkString("", "\n", "\n").getBytes(UTF_8)
      ex.getResponseHeaders.set("Content-Type",
        "text/plain; version=0.0.4; charset=utf-8")
      ex.sendResponseHeaders(200, body.length)
      ex.getResponseBody.write(body)
      ex.getResponseBody.close()
    }
  }

  // ---- observability subroutes (server.go:179-203) ---------------------

  /** The Spark analog of the reference's DuckDB-pool metrics
    * (server.go:352-374): the "pool" here is the shared SparkContext —
    * registry depth, scheduler load, parallelism. */
  private def handleQueryPoolMetrics(ex: HttpExchange): Unit = {
    val tracker = spark.sparkContext.statusTracker
    sendJson(ex, 200,
      s"""{"timestamp":${q(now())},"pool":{""" +
        s""""active_queries":${facade.activeQueries.size},""" +
        s""""queries_total":${mQueries.get},""" +
        s""""query_errors_total":${mQueryErrors.get},""" +
        s""""queries_shed_total":${overloadGate.shedTotal.get},""" +
        s""""queries_in_flight":${overloadGate.inFlight},""" +
        s""""slow_queries_total":${facade.slowQueryCount},""" +
        s""""spark_active_jobs":${tracker.getActiveJobIds().length},""" +
        s""""spark_active_stages":${tracker.getActiveStageIds().length},""" +
        s""""spark_executors":${tracker.getExecutorInfos.length},""" +
        s""""default_parallelism":${spark.sparkContext.defaultParallelism}}}""")
  }

  /** Per-endpoint request statistics (server.go:375-460): requests,
    * errors, average latency per route template, plus the ingest
    * and query counter families. */
  private def handleEndpointMetrics(ex: HttpExchange): Unit = {
    val rows = obs.endpointRows.map { case (k, req, errs, latUs) =>
      val avgMs = if (req > 0) latUs.toDouble / req / 1000.0 else 0.0
      s"""{"endpoint":${q(k)},"requests_total":$req,"errors_total":$errs,""" +
        s""""latency_avg_ms":$avgMs}"""
    }
    val (req, errs, latUs) = obs.httpTotals
    val httpAvg = if (req > 0) latUs.toDouble / req / 1000.0 else 0.0
    def src(name: String): String = {
      val s = srcStats(name)
      s"""{"requests_total":${s.requests.get},"records_total":${s.records.get},""" +
        s""""bytes_total":${s.bytes.get},"errors_total":${s.errors.get}}"""
    }
    sendJson(ex, 200,
      s"""{"timestamp":${q(now())},"http":{"requests_total":$req,""" +
        s""""errors_total":$errs,"latency_avg_ms":$httpAvg},""" +
        s""""ingestion":{"records_total":${mIngestRecords.get},""" +
        s""""bytes_total":${mIngestBytes.get},""" +
        s""""requests_total":${mIngestRequests.get},""" +
        s""""errors_total":${mIngestErrors.get}},""" +
        s""""msgpack":${src("msgpack")},"lineprotocol":${src("lp")},""" +
        s""""tle":${src("tle")},"import":${src("import")},""" +
        s""""query":{"requests_total":${mQueries.get},""" +
        s""""errors_total":${mQueryErrors.get},""" +
        s""""slow_total":${facade.slowQueryCount}},""" +
        s""""endpoints":${rows.mkString("[", ",", "]")}}""")
  }

  /** Sampled time-series metrics by type (server.go:630-665). */
  private def handleTimeseriesMetrics(ex: HttpExchange, tpe: String): Unit = {
    val duration = queryParams(ex).get("duration_minutes")
      .flatMap(_.toIntOption).filter(d => d > 0 && d <= 1440).getOrElse(30)
    obs.tsPoints(tpe, duration) match {
      case None =>
        sendJson(ex, 400,
          s"""{"error":"Invalid metric type","valid_types":["system","application","api"]}""")
      case Some(points) =>
        val data = points.map { p =>
          val vs = p.values.map { case (k, v) =>
            s"${q(k)}:${if (v.isNaN || v.isInfinite) "null" else v.toString}"
          }.mkString(",")
          s"""{"timestamp":${q(java.time.Instant.ofEpochMilli(p.atMillis).toString)},$vs}"""
        }
        sendJson(ex, 200,
          s"""{"timestamp":${q(now())},"type":${q(tpe)},""" +
            s""""duration_minutes":$duration,"points_count":${points.size},""" +
            s""""data":${data.mkString("[", ",", "]")}}""")
    }
  }

  /** Recent application logs from the in-process ring
    * (server.go:598-628): limit / level / since_minutes filters. */
  private def handleLogs(ex: HttpExchange): Unit = {
    val params = queryParams(ex)
    val limit = params.get("limit").flatMap(_.toIntOption)
      .filter(l => l > 0 && l <= 1000).getOrElse(100)
    val level = params.get("level").filter(_.nonEmpty)
    val since = params.get("since_minutes").flatMap(_.toIntOption)
      .filter(m => m > 0 && m <= 1440).getOrElse(60)
    val entries = obs.recentLogs(limit, level, since)
    val logs = entries.map { e =>
      s"""{"timestamp":${q(java.time.Instant.ofEpochMilli(e.atMillis).toString)},""" +
        s""""level":${q(e.level)},"logger":${q(e.logger)},""" +
        s""""message":${q(e.message)}}"""
    }
    sendJson(ex, 200,
      s"""{"timestamp":${q(now())},"count":${entries.size},"limit":$limit,""" +
        s""""level_filter":${level.map(q).getOrElse("null")},""" +
        s""""since_minutes":$since,"logs":${logs.mkString("[", ",", "]")}}""")
  }

  // ---- query -----------------------------------------------------------

  private def negotiated(ex: HttpExchange): String = {
    val accept = Option(ex.getRequestHeaders.getFirst("Accept")).getOrElse("")
    if (accept.contains("arrow")) "arrow"
    else if (accept.contains("msgpack")) "msgpack"
    else "json"
  }

  private def handleQuery(ex: HttpExchange, wire: String): Unit = {
    val ts = now()
    mQueries.incrementAndGet()
    val sql =
      try sqlField(readBody(ex))
      catch { case e: IllegalArgumentException =>
        mQueryErrors.incrementAndGet()
        sendJson(ex, 400, err(msg(e), ts)); return
      }
    val db = headerDb(ex)
    if (!catalog.isValidDatabaseName(db)) {
      mQueryErrors.incrementAndGet()
      sendJson(ex, 400, err(s"invalid database name: $db", ts)); return
    }
    // existence gate BEFORE creating a child session: each distinct db
    // name allocates a SparkSession, so only real databases may
    // ("default" is created lazily by the first write)
    if (db != "default" && !catalog.listDatabases().contains(db)) {
      mQueryErrors.incrementAndGet()
      sendJson(ex, 404, err(s"database not found: $db", ts)); return
    }
    val (sess, dbCat) = sessionFor(db)
    // per-table RBAC batch check over the PARSED plan's relations
    // (reference: query.go:1545 checkQueryPermissions before execution;
    // unparsable SQL yields zero refs here and fails with 400 in submit)
    val refs = tableRefsFor(ex, sess, sql, db) match {
      case Some(r) => r
      case None => // extraction failed for a scoped caller: fail CLOSED
        mQueryErrors.incrementAndGet()
        sendJson(ex, 400, err("could not resolve table references for permission check", ts))
        return
    }
    if (!checkResource(ex, refs, "read")) {
      mQueryErrors.incrementAndGet(); return
    }
    val (effMaxRows, govTimeoutSec) = governed(ex, ts) match {
      case Some(caps) => caps
      case None => return
    }
    withSession(sess) { // plan AND stream under the db session's conf
    val (id, df) =
      try {
        ensureViews(db)
        facade.submit(sql, q => facade.sqlWithShow(q, dbCat, { stmt =>
          facade.requireReadOnly(sess, stmt) // reference read-only gate
          sess.sql(stmt)
        }))
      } catch {
        case e: AnalysisException =>
          mQueryErrors.incrementAndGet()
          sendJson(ex, 400, err(msg(e), ts)); return
        case e: IllegalArgumentException => // read-only gate
          mQueryErrors.incrementAndGet()
          sendJson(ex, 403, err(msg(e), ts)); return
      }
    ex.getResponseHeaders.set("X-Graft-Query-Id", id.toString)
    val timeoutTask = scanDeadline(id, govTimeoutSec)
    var rows = -1L
    try {
      wire match {
        case "arrow" =>
          ex.getResponseHeaders.set("Content-Type",
            "application/vnd.apache.arrow.stream")
          ex.sendResponseHeaders(200, 0)
          // buffer: the IPC writer emits each vector buffer piece as its
          // own write — unbuffered, every one becomes an HTTP chunk +
          // syscall (measured 7.4 s → 0.2 s for a 600k-row stream)
          val out = new java.io.BufferedOutputStream(ex.getResponseBody, 1 << 20)
          rows = ArrowEncoder.writeStream(df, out, effMaxRows)
          out.flush()
        case "msgpack" =>
          ex.getResponseHeaders.set("Content-Type", "application/x-msgpack")
          ex.sendResponseHeaders(200, 0) // chunked: spool-streamed columns
          // bounded driver memory for ANY result size: partition column
          // runs spool to driver-local disk in waves, then splice to the
          // socket (MsgPackEncoder.writeStream scaladoc)
          val out = new java.io.BufferedOutputStream(ex.getResponseBody, 1 << 20)
          rows = MsgPackEncoder.writeStream(df, out, effMaxRows)
          out.flush()
        case _ =>
          ex.getResponseHeaders.set("Content-Type", "application/json")
          ex.sendResponseHeaders(200, 0) // chunked: stream partition waves
          val out = new java.io.BufferedOutputStream(ex.getResponseBody, 1 << 20)
          rows = facade.writeJsonEnvelope(df, out, effMaxRows,
            headExtra = s""""success":true,"timestamp":${q(ts)},""")
          out.flush()
      }
      ex.getResponseBody.close()
    } catch {
      case e: Throwable =>
        // headers are already on the wire — a mid-stream failure
        // (cancellation, executor loss) can only truncate the body, the
        // same contract as the reference's streamed responses
        mQueryErrors.incrementAndGet()
        try ex.getResponseBody.close() catch { case _: Throwable => () }
        throw e
    } finally {
      timeoutTask.foreach(_.cancel(false))
      facade.complete(id, rows)
    }
    }
  }

  /** Governance for one query request, shared by POST /api/v1/query and
    * the simple read: the token's rate limit, then its quotas (reference
    * query.go:1443-1468). A denial sends the 429 (a rate limit with the
    * reference's Retry-After header) and returns None. An allow returns
    * the request's row cap (the server's, lowered by the token's) and
    * the token's max scan duration in seconds (0: none). */
  private def governed(ex: HttpExchange, ts: String): Option[(Long, Int)] =
    tokenOf(ex) match {
      case None => Some((maxRows, 0))
      case Some(t) =>
        val rate = governance.checkRateLimit(t.id)
        if (!rate.allowed) {
          ex.getResponseHeaders.set("Retry-After", rate.retryAfterSec.toString)
          mQueryErrors.incrementAndGet()
          sendJson(ex, 429, err(rate.reason, ts)); None
        } else {
          val quota = governance.checkQuota(t.id)
          if (!quota.allowed) {
            mQueryErrors.incrementAndGet()
            sendJson(ex, 429, err(quota.reason, ts)); None
          } else {
            val cap = quota.maxRows.toLong
            Some((if (cap > 0) math.min(maxRows, cap) else maxRows, quota.maxDurationSec))
          }
        }
    }

  /** Max scan duration: cancel query `id` when `seconds` elapse (the
    * reference attaches a deadline context, query.go governanceTimeout).
    * The caller cancels the returned task when the query ends first. */
  private def scanDeadline(id: Long, seconds: Int): Option[ScheduledFuture[_]] =
    if (seconds > 0)
      Some(timeoutScheduler.schedule(new Runnable {
        def run(): Unit = { facade.cancel(id); () }
      }, seconds.toLong, TimeUnit.SECONDS))
    else None

  private def handleEstimate(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    def fail(status: Int, e: Throwable): Unit = {
      val ms = (System.nanoTime() - t0) / 1e6
      sendJson(ex, status,
        s"""{"success":false,"estimated_rows":null,"warning_level":"error",""" +
          s""""error":${q("Cannot estimate query: " + msg(e))},"execution_time_ms":$ms}""")
    }
    // request-shape errors are 400/403/404 like the reference
    // (query.go:3550-3658); EXECUTION failure is HTTP 200 with a
    // success:false EstimateResponse (query.go:3701 — c.JSON default),
    // so status-code-checking clients match the reference contract
    val sql =
      try sqlField(readBody(ex))
      catch { case e: IllegalArgumentException => fail(400, e); return }
    val db = headerDb(ex)
    if (!catalog.isValidDatabaseName(db)) {
      fail(400, new IllegalArgumentException(s"invalid database name: $db")); return
    }
    if (db != "default" && !catalog.listDatabases().contains(db)) {
      fail(404, new IllegalArgumentException(s"database not found: $db")); return
    }
    try {
      ensureViews(db)
      facade.requireReadOnly(sessionFor(db)._1, sql)
    } catch { case e: Throwable => fail(403, e); return }
    // same per-table RBAC gate as /api/v1/query (reference query.go:3656)
    val refs = tableRefsFor(ex, sessionFor(db)._1, sql, db) match {
      case Some(r) => r
      case None =>
        fail(400, new IllegalArgumentException(
          "could not resolve table references for permission check")); return
    }
    if (!checkResource(ex, refs, "read")) return
    try withSession(sessionFor(db)._1) {
      // one warning ladder, owned by the facade (query.go:3725-3740)
      val (n, level, message) = facade.estimate(sql, sessionFor(db)._1.sql)
      val ms = (System.nanoTime() - t0) / 1e6
      sendJson(ex, 200,
        s"""{"success":true,"estimated_rows":$n,"warning_level":${q(level)},""" +
          s""""warning_message":${q(message)},"execution_time_ms":$ms}""")
    } catch { case e: Throwable => fail(200, e) }
  }

  private def handleCancel(ex: HttpExchange, id: Long): Unit = {
    val ok = facade.cancel(id)
    sendJson(ex, if (ok) 200 else 404,
      s"""{"success":$ok,"query_id":$id}""")
  }

  private def handleActive(ex: HttpExchange): Unit = {
    val qs = facade.activeQueries.toSeq.sortBy(_._1).map { case (id, group) =>
      s"""{"query_id":$id,"job_group":${q(group)}}"""
    }.mkString("[", ",", "]")
    sendJson(ex, 200, s"""{"success":true,"queries":$qs}""")
  }

  /** GET /api/v1/queries/history — recently completed/failed/cancelled
    * queries, newest first (reference query_management.go:106
    * listQueryHistory; ring semantics in queryregistry/registry.go).
    * Admin-gated like the active list: the SQL text of other tenants'
    * queries is sensitive. `limit` defaults to 50, capped at 1000 —
    * non-numeric/zero/negative values fall back to the default, exactly
    * like the reference's strconv+guard ladder. */
  private def handleHistory(ex: HttpExchange): Unit = {
    val limit = queryParams(ex).get("limit").flatMap(_.toIntOption)
      .filter(_ > 0).map(math.min(_, 1000)).getOrElse(50)
    val entries = facade.recentHistory(limit)
    val rows = entries.map { e =>
      s"""{"query_id":${e.id},"sql":${q(e.sql)},"status":${q(e.status)},""" +
        s""""duration_ms":${e.durationMs},"row_count":${e.rows},""" +
        s""""end_time":${q(java.time.Instant.ofEpochMilli(e.endMillis).toString)}""" +
        (if (e.error.nonEmpty) s""","error":${q(e.error)}""" else "") + "}"
    }.mkString("[", ",", "]")
    sendJson(ex, 200,
      s"""{"success":true,"queries":$rows,"count":${entries.size}}""")
  }

  // ---- writes ----------------------------------------------------------

  private val MeasName: Regex = "^[A-Za-z][A-Za-z0-9_-]*$".r

  /** The measurement-name check: a name that passes is one path segment
    * of letters, digits, `_` and `-`, so it cannot leave its database
    * directory. */
  private[server] def validMeasurement(m: String): Boolean =
    MeasName.findFirstIn(m).nonEmpty

  private def handleWriteMsgPack(ex: HttpExchange): Unit = {
    val payload = decompressed(readBody(ex))
    if (payload.isEmpty) { fail(ex, 400, "Empty payload"); return }
    val db = headerDb(ex)
    if (!catalog.isValidDatabaseName(db)) {
      fail(ex, 400, s"invalid database name: $db"); return
    }
    val batches =
      try MsgPack.decodePayload(payload)
      catch { case e: Throwable =>
        ingestError("msgpack")
        fail(ex, 400, "Invalid MessagePack payload: " + msg(e)); return
      }
    // the raw msgpack body replays deterministically (no request-scoped
    // decode parameters), so buffered mode journals it verbatim —
    // skipping the BatchCodec re-encode on the hottest accept path
    writeBatches(ex, db, batches, payload.length.toLong, "msgpack",
      replayableRaw = Some(payload))
  }

  private def handleWriteLp(ex: HttpExchange): Unit = {
    val params = queryParams(ex)
    // reference precedence (lineprotocol.go WriteV1/WriteInfluxDB): the
    // x-arc-database header OVERRIDES ?db= (v1) / ?bucket= (v2)
    val db = headerDbOpt(ex)
      .orElse(params.get("db")).orElse(params.get("bucket"))
      .getOrElse("default")
    if (!catalog.isValidDatabaseName(db)) {
      fail(ex, 400, s"invalid database name: $db"); return
    }
    val precision = params.getOrElse("precision", "ns")
    val raw = readBody(ex) // byte counters record request PAYLOAD bytes
    val text = new String(decompressed(raw), UTF_8)
    val (points, errors) = LineProtocol.parse(text, precision)
    if (points.isEmpty) {
      val detail = errors.headOption
        .map(e => s"line ${e.line}: ${e.message}").getOrElse("no points")
      ingestError("lp")
      fail(ex, 400, s"no valid points ($detail)"); return
    }
    writeBatches(ex, db, ColumnarBatch.fromPoints(points), raw.length.toLong, "lp")
  }

  /** The one write core, shared by every batch write: HTTP msgpack and
    * LP, LP import, and MQTT deliveries. It checks every batch's name
    * once, then journals the batches into the buffered ingester when it
    * is on (views refresh at its flush), or writes them to Parquet now
    * and refreshes their views. `raw`, when given, is a payload that
    * `MsgPack.decodeOrLineProtocol` turns back into `batches`; it is
    * journaled verbatim instead of re-encoded. Returns the invalid name,
    * or the rows accepted; a storage failure throws. */
  private[server] def writeCore(db: String, batches: Seq[ColumnarBatch],
      raw: Option[Array[Byte]] = None): Either[String, Long] =
    batches.find(b => !validMeasurement(b.measurement)) match {
      case Some(bad) => Left(bad.measurement)
      case None =>
        bufferedIngest match {
          case Some(ing) => // WAL before the ack, flush async
            raw match {
              case Some(r) => ing.acceptRaw(db, r, batches)
              case None => ing.acceptDecoded(db, batches)
            }
          case None =>
            batches.foreach { b =>
              DirectParquetWriter.write(catalog, db, b)
              invalidateView(db, b.measurement) // stale listing: re-register lazily
            }
        }
        Right(batches.map(_.rowCount.toLong).sum)
    }

  private def writeBatches(ex: HttpExchange, db: String,
      batches: Seq[ColumnarBatch], payloadBytes: Long, source: String,
      replayableRaw: Option[Array[Byte]] = None): Unit = {
    // per-measurement write RBAC (reference permissions.go
    // CheckWritePermissions: every measurement in the payload must be
    // writable, checked BEFORE anything lands)
    if (!checkResource(ex,
        batches.map(_.measurement).distinct.map((db, _)), "write")) {
      ingestError(source); return
    }
    writeCore(db, batches, replayableRaw) match {
      case Left(bad) =>
        ingestError(source)
        fail(ex, 400, s"invalid measurement name: $bad")
      case Right(rows) =>
        ingested(source, rows, payloadBytes)
        ex.sendResponseHeaders(204, -1) // InfluxDB-compatible No Content
    }
  }

  private def sendStats(ex: HttpExchange, source: String): Unit = {
    val s = srcStats(source)
    sendJson(ex, 200,
      s"""{"success":true,"stats":{"total_requests":${s.requests.get},""" +
        s""""total_records":${s.records.get},"total_bytes":${s.bytes.get},""" +
        s""""total_errors":${s.errors.get}}}""")
  }

  /** TLE satellite-element write (internal/api/tle.go:70): 3-line text
    * body → typed elements into `x-arc-measurement` (default
    * satellite_tle), 204 on success. */
  private def handleWriteTle(ex: HttpExchange): Unit = {
    val db = headerDb(ex)
    if (!catalog.isValidDatabaseName(db)) {
      fail(ex, 400, s"invalid database name: $db"); return
    }
    val meas = Option(ex.getRequestHeaders.getFirst("x-arc-measurement"))
      .filter(_.nonEmpty).getOrElse("satellite_tle")
    if (!validMeasurement(meas)) {
      fail(ex, 400, s"invalid measurement name: $meas"); return
    }
    if (!checkResource(ex, Seq((db, meas)), "write")) {
      ingestError("tle"); return
    }
    val raw = readBody(ex) // byte counters record request PAYLOAD bytes
    val text = new String(decompressed(raw), UTF_8)
    tleRows(db, meas, text) match {
      case Left(e) =>
        ingestError("tle")
        fail(ex, 400, e)
      case Right(n) =>
        ingested("tle", n, raw.length.toLong)
        ex.sendResponseHeaders(204, -1)
    }
  }

  private def tleRows(db: String, meas: String, text: String): Either[String, Long] = {
    val (elems, errors) = graft.ingest.Tle.parse(text)
    if (elems.isEmpty)
      return Left(errors.headOption.getOrElse("no TLE elements in payload"))
    val df = graft.ingest.Tle.toDataFrame(spark, elems)
      .withColumn("time", timestamp_micros(col("epochMicros")))
      .drop("epochMicros")
    val n = graft.ingest.HourPartitionedWriter.write(catalog, db, meas, df,
      countRows = true)
    invalidateView(db, meas)
    Right(n)
  }

  /** Bulk import (internal/api/import.go:100-104): multipart `file`
    * upload (or a raw body) lands in a temp file and runs through the
    * library import path (CsvImport.csv/parquet, LP parse, TLE parse);
    * responds `{success, rows_imported, measurement?}` like the
    * reference's ImportResponse. */
  private def handleImport(ex: HttpExchange, kind: String): Unit = {
    val params = queryParams(ex)
    val db = params.get("db").orElse(headerDbOpt(ex)).getOrElse("default")
    if (!catalog.isValidDatabaseName(db)) {
      ingestError("import")
      fail(ex, 400, s"invalid database name: $db"); return
    }
    val body = readBody(ex)
    val fileBytes = multipartFile(ex, body).getOrElse(body)
    if (fileBytes.isEmpty) {
      ingestError("import")
      fail(ex, 400, "empty upload"); return
    }
    def needMeasurement(): Option[String] = params.get("measurement") match {
      case Some(m) if validMeasurement(m) => Some(m)
      case Some(m) =>
        ingestError("import")
        fail(ex, 400, s"invalid measurement name: $m"); None
      case None =>
        ingestError("import")
        fail(ex, 400, "measurement query param is required"); None
    }
    def respond(rows: Long, meas: String): Unit = {
      invalidateView(db, meas)
      ingested("import", rows, fileBytes.length.toLong)
      sendJson(ex, 200,
        s"""{"success":true,"rows_imported":$rows,"measurement":${q(meas)},"database":${q(db)}}""")
    }
    // write RBAC: csv/parquet/tle target one known measurement; lp
    // payloads are checked on their parsed distinct measurement set
    def writableImport(ms: Seq[String]): Boolean = {
      val ok = checkResource(ex, ms.distinct.map((db, _)), "write")
      if (!ok) ingestError("import")
      ok
    }
    try kind match {
      case "csv" => needMeasurement().filter(m => writableImport(Seq(m))).foreach { m =>
        val tmp = java.nio.file.Files.createTempFile("graft_import", ".csv")
        java.nio.file.Files.write(tmp, fileBytes)
        try respond(graft.ingest.CsvImport.csv(catalog, db, m, tmp.toString,
          params.getOrElse("time_column", "time")), m)
        finally java.nio.file.Files.deleteIfExists(tmp)
      }
      case "parquet" => needMeasurement().filter(m => writableImport(Seq(m))).foreach { m =>
        val tmp = java.nio.file.Files.createTempFile("graft_import", ".parquet")
        java.nio.file.Files.write(tmp, fileBytes)
        try respond(graft.ingest.CsvImport.parquet(catalog, db, m, tmp.toString,
          params.getOrElse("time_column", "time"),
          params.get("time_format")), m)
        finally java.nio.file.Files.deleteIfExists(tmp)
      }
      case "lp" =>
        val precision = params.getOrElse("precision", "ns")
        val (points, perrs) = LineProtocol.parse(new String(fileBytes, UTF_8), precision)
        val filter = params.get("measurement")
        val kept = filter match {
          case Some(m) => points.filter(_.measurement == m)
          case None => points
        }
        if (kept.isEmpty) {
          val detail = perrs.headOption.map(e => s"line ${e.line}: ${e.message}")
            .getOrElse("no points")
          ingestError("import")
          fail(ex, 400, s"no valid points ($detail)")
        } else if (!writableImport(kept.map(_.measurement))) { ()
        } else writeCore(db, ColumnarBatch.fromPoints(kept)) match {
          case Left(bad) =>
            ingestError("import")
            fail(ex, 400, s"invalid measurement name: $bad")
          case Right(rows) =>
            ingested("import", rows, fileBytes.length.toLong)
            sendJson(ex, 200,
              s"""{"success":true,"rows_imported":$rows,"database":${q(db)}}""")
        }
      case "tle" =>
        val meas = params.getOrElse("measurement", "satellite_tle")
        if (!validMeasurement(meas)) {
          ingestError("import")
          fail(ex, 400, s"invalid measurement name: $meas")
        } else if (!writableImport(Seq(meas))) { ()
        } else tleRows(db, meas, new String(fileBytes, UTF_8)) match {
          case Left(e) =>
            ingestError("import")
            fail(ex, 400, e)
          case Right(n) => respond(n, meas)
        }
    } catch {
      case e: Throwable => ingestError("import"); throw e
    }
  }

  /** Minimal multipart/form-data extraction of the `file` field (the
    * reference's import surface uploads via FormFile, import.go:164).
    * Returns None when the request isn't multipart — raw bodies then
    * import as-is. */
  private def multipartFile(ex: HttpExchange, body: Array[Byte]): Option[Array[Byte]] = {
    val ct = Option(ex.getRequestHeaders.getFirst("Content-Type")).getOrElse("")
    if (!ct.toLowerCase.startsWith("multipart/form-data")) return None
    val boundary = ct.split("boundary=", 2) match {
      case Array(_, b) => b.trim.stripPrefix("\"").stripSuffix("\"")
      case _ => return None
    }
    val delim = ("--" + boundary).getBytes(UTF_8)
    def indexOf(needle: Array[Byte], from: Int): Int = {
      var i = from
      val last = body.length - needle.length
      while (i <= last) {
        var j = 0
        while (j < needle.length && body(i + j) == needle(j)) j += 1
        if (j == needle.length) return i
        i += 1
      }
      -1
    }
    val headerEnd = "\r\n\r\n".getBytes(UTF_8)
    var at = indexOf(delim, 0)
    while (at >= 0) {
      val hdrStart = at + delim.length
      val he = indexOf(headerEnd, hdrStart)
      if (he < 0) return None
      val headers = new String(body, hdrStart, he - hdrStart, UTF_8)
      val next = indexOf(delim, he + 4)
      if (next < 0) return None
      // `(?:^|;)\s*name="file"` — a bare substring check would also
      // match `filename="file"` and import the wrong part
      if ("(?i)(?:^|;)\\s*name=\"file\"".r
          .findFirstIn(headers.replace("\r\n", " ")).nonEmpty) {
        // part content ends with CRLF before the next boundary
        val end = next - 2
        return Some(java.util.Arrays.copyOfRange(body, he + 4, math.max(he + 4, end)))
      }
      at = next
    }
    None
  }

  /** WHERE-clause validation for the simple-read endpoint (reference
    * validateWhereClauseQuery, query.go:821): length cap, forbidden
    * keyword/comment patterns, balanced quotes and parens. Interpolated
    * user text needs the full denylist — unlike POST /query, this SQL
    * is BUILT here, not parsed-then-gated. Returns the reason, None if
    * valid. */
  private val dangerousWherePatterns = Seq(
    ";", "--", "/*", "*/", "DROP", "DELETE", "INSERT", "UPDATE",
    "TRUNCATE", "ALTER", "CREATE", "EXEC", "EXECUTE", "XP_", "SP_",
    "UNION")
  private def invalidWhere(where: String): Option[String] =
    if (where.isEmpty) None
    else if (where.length > 4096) Some("where clause too long (max 4096 characters)")
    else {
      val up = where.toUpperCase
      dangerousWherePatterns.find(up.contains) match {
        case Some(p) => Some(s"where clause contains forbidden pattern: $p")
        case None =>
          if (where.count(_ == '\'') % 2 != 0)
            Some("where clause has unmatched single quotes")
          else if (where.count(_ == '"') % 2 != 0)
            Some("where clause has unmatched double quotes")
          else if (where.count(_ == '(') != where.count(_ == ')'))
            Some("where clause has unmatched parentheses")
          else None
      }
    }

  /** GET /api/v1/query/{measurement} — the reference's simple-read
    * endpoint (query.go:3923): SELECT * with validated limit / order_by
    * / where, returned as the JSON envelope. */
  private def handleQueryMeasurement(ex: HttpExchange, meas: String): Unit = {
    // count first so queries_total - query_errors_total = successes,
    // matching handleQuery's accounting
    mQueries.incrementAndGet()
    def reject(message: String): Unit = {
      mQueryErrors.incrementAndGet()
      fail(ex, 400, message)
    }
    val params = queryParams(ex)
    val db = params.getOrElse("database", headerDb(ex))
    if (meas.length > 128) {
      reject("Invalid measurement name: name too long (max 128 characters)")
      return // pattern chars are enforced by the route template
    }
    val limit = params.getOrElse("limit", "100").toIntOption.getOrElse(-1)
    if (limit < 0 || limit > 1000000) {
      reject("Invalid limit: must be a non-negative integer up to 1000000")
      return
    }
    val offset = params.getOrElse("offset", "0").toIntOption.getOrElse(-1)
    if (offset < 0) {
      reject("Invalid offset: must be a non-negative integer"); return
    }
    val orderBy = params.getOrElse("order_by", "time DESC")
    if (orderBy.length > 256 ||
      !orderBy.matches("[A-Za-z_][A-Za-z0-9_]*(\\s+(?i:ASC|DESC))?(\\s*,\\s*[A-Za-z_][A-Za-z0-9_]*(\\s+(?i:ASC|DESC))?)*")) {
      reject(s"invalid order_by: $orderBy"); return
    }
    val where = params.getOrElse("where", "")
    invalidWhere(where) match {
      case Some(reason) => reject(s"Invalid where clause: $reason"); return
      case None =>
    }
    if (!catalog.isValidDatabaseName(db)) {
      reject(s"invalid database name: $db"); return
    }
    if (db != "default" && !catalog.listDatabases().contains(db)) {
      reject(s"database not found: $db"); return
    }
    // resource check on the named measurement (reference query.go:4006)
    if (!checkResource(ex, Seq((db, meas)), "read")) {
      mQueryErrors.incrementAndGet(); return
    }
    // governance as on POST /api/v1/query: rate limits, hour/day quotas,
    // and the token's per-query row and scan-duration caps
    val ts = now()
    val (effMaxRows, govTimeoutSec) = governed(ex, ts) match {
      case Some(caps) => caps
      case None => return
    }
    // backtick-quote identifiers: MeasName allows '-', which unquoted
    // would parse as subtraction
    val orderSql = orderBy.split(",").map(_.trim).map { part =>
      val bits = part.split("\\s+", 2)
      "`" + bits(0) + "`" + (if (bits.length > 1) " " + bits(1) else "")
    }.mkString(", ")
    val sql = s"SELECT * FROM `$meas`" +
      (if (where.nonEmpty) s" WHERE $where" else "") +
      s" ORDER BY $orderSql LIMIT $limit" +
      (if (offset > 0) s" OFFSET $offset" else "")
    // defense-in-depth over the coarse (db, meas) gate above: the
    // denylist (reference-parity) does not block SELECT/EXISTS/IN
    // subqueries, so a where clause can smuggle relations from OTHER
    // databases past the per-table check. Re-check every relation in
    // the parsed plan exactly like the POST path; extraction failure
    // for an RBAC-scoped token fails CLOSED with 400.
    //
    // THREAT MODEL — residual surface of the interpolation (r11 watch
    // item #5): the `where` text is spliced into a SQL string, so the
    // guarantees are exactly (a) the single-statement shape enforced by
    // the denylist (no `;`, no comments, no UNION/DML keywords, balanced
    // quotes/parens — a second STATEMENT cannot be injected), and (b)
    // this parsed-plan RBAC re-check (every relation the final plan
    // touches must be readable by the token). What is deliberately NOT
    // prevented: a well-formed scalar/EXISTS/IN subquery referencing a
    // SECOND measurement in a database the token can already read —
    // RBAC passes because the token may read that table anyway, and the
    // result is a join-like read the "simple read" name doesn't suggest.
    // That is an authorization non-event (no privilege is exceeded) but
    // a semantic surprise; it is pinned by HttpServerSpec ("correlated
    // subquery in the same database…") so any future tightening is a
    // deliberate contract change, not drift. POST /api/v1/query is the
    // documented path for multi-relation reads.
    if (where.nonEmpty) {
      tableRefsFor(ex, sessionFor(db)._1, sql, db) match {
        case Some(refs) =>
          if (!checkResource(ex, refs, "read")) {
            mQueryErrors.incrementAndGet(); return
          }
        case None =>
          mQueryErrors.incrementAndGet()
          fail(ex, 400, "could not resolve table references for permission check")
          return
      }
    }
    // same registry/cancel path as POST /api/v1/query — a slow
    // simple-read must be listable, cancellable, and must never run
    // under a stale thread-local job group
    withSession(sessionFor(db)._1) {
    val (id, df) =
      try {
        ensureViews(db)
        facade.submit(sql, sessionFor(db)._1.sql)
      } catch {
        case e: AnalysisException =>
          mQueryErrors.incrementAndGet()
          sendJson(ex, 400, err(msg(e), ts)); return
      }
    ex.getResponseHeaders.set("X-Graft-Query-Id", id.toString)
    val timeoutTask = scanDeadline(id, govTimeoutSec)
    var rows = -1L
    try {
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(200, 0)
      val out = new java.io.BufferedOutputStream(ex.getResponseBody, 1 << 20)
      rows = facade.writeJsonEnvelope(df, out, effMaxRows,
        headExtra = s""""success":true,"timestamp":${q(ts)},""")
      out.flush()
      ex.getResponseBody.close()
    } catch {
      case e: Throwable =>
        mQueryErrors.incrementAndGet()
        try ex.getResponseBody.close() catch { case _: Throwable => () }
        throw e
    } finally {
      timeoutTask.foreach(_.cancel(false))
      facade.complete(id, rows)
    }
    }
  }

  // ---- catalog surface -------------------------------------------------

  private def handleMeasurements(ex: HttpExchange): Unit = {
    val filter = queryParams(ex).get("database")
    filter.foreach { db =>
      if (!catalog.isValidDatabaseName(db)) {
        fail(ex, 400, s"invalid database parameter: $db"); return
      }
    }
    val dbs = filter.map(Seq(_)).getOrElse(catalog.listDatabases())
    // db-level read gate when a database is named (query.go:1537);
    // unfiltered listings are visible to any read-capable caller
    if (!checkResource(ex, filter.map((_, "*")).toSeq, "read")) return
    val fs = new Path(catalogRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val items = for (db <- dbs; m <- catalog.listTables(db)) yield {
      val p = new Path(catalog.tablePath(db, m))
      // stat failures are transient under concurrent maintenance (a
      // compaction/retention delete can race getContentSummary's walk) —
      // report zeros for this listing rather than failing the request
      val (files, bytes) =
        try { val s = fs.getContentSummary(p); (s.getFileCount, s.getLength) }
        catch { case _: java.io.IOException => (0L, 0L) }
      s"""{"database":${q(db)},"measurement":${q(m)},"file_count":$files,""" +
        s""""total_size_mb":${bytes / 1048576.0},"storage_path":${q(p.toString)}}"""
    }
    sendJson(ex, 200,
      s"""{"success":true,"measurements":${items.mkString("[", ",", "]")},"count":${items.size}}""")
  }

  private def handleListDatabases(ex: HttpExchange): Unit = {
    val infos = catalog.listDatabases().map { db =>
      s"""{"name":${q(db)},"measurement_count":${catalog.listTables(db).size}}"""
    }
    sendJson(ex, 200,
      s"""{"databases":${infos.mkString("[", ",", "]")},"count":${infos.size}}""")
  }

  /** GET /api/v1/databases/{name} — single-database detail (reference
    * databases.go:193 handleGet: 404 when absent, else name +
    * measurement count). */
  private def handleGetDatabase(ex: HttpExchange, name: String): Unit = {
    if (!catalog.listDatabases().contains(name)) {
      fail(ex, 404, s"Database '$name' not found"); return
    }
    sendJson(ex, 200,
      s"""{"name":${q(name)},"measurement_count":${catalog.listTables(name).size}}""")
  }

  private def handleCreateDatabase(ex: HttpExchange): Unit =
    jsonField(readBody(ex), "name") match {
      case None => fail(ex, 400, "missing 'name'")
      case Some(name) if !catalog.isValidDatabaseName(name) =>
        fail(ex, 400, s"invalid database name: $name")
      case Some(name) =>
        catalog.createDatabase(name)
        sendJson(ex, 201, s"""{"name":${q(name)},"measurement_count":0}""")
    }

  private def handleDeleteDatabase(ex: HttpExchange, name: String): Unit = {
    if (!catalog.listDatabases().contains(name)) {
      fail(ex, 404, s"database not found: $name"); return
    }
    catalog.deleteDatabase(name, confirm = true)
    // release the child session and every freshness stamp — a stale
    // temp view would otherwise keep resolving over deleted files
    dbSessions.remove(name)
    regLocks.remove(name)
    viewState.keySet.filter(_.startsWith(name + "/")).foreach(viewState.remove)
    val it = viewVersion.keySet.iterator()
    while (it.hasNext) { if (it.next().startsWith(name + "/")) it.remove() }
    sendJson(ex, 200, s"""{"success":true,"name":${q(name)}}""")
  }

  private def handleDbMeasurements(ex: HttpExchange, name: String): Unit = {
    val ms = catalog.listTables(name)
      .map(m => s"""{"name":${q(m)}}""").mkString("[", ",", "]")
    sendJson(ex, 200,
      s"""{"database":${q(name)},"measurements":$ms,"count":${catalog.listTables(name).size}}""")
  }

  // ---- helpers ---------------------------------------------------------

  /** Register any missing/invalidated temp views for `db`'s
    * measurements (see the version-stamp protocol at [[viewVersion]]).
    * The lock is PER DATABASE (stored with its session), so a cold
    * registration in one database never blocks queries to another. A
    * single measurement whose registration fails — e.g. a dash in the
    * name, which MeasName allows on the write path but Spark's view
    * identifier parser rejects, or a directory with no data yet — is
    * SKIPPED (no stamp, retried next request) rather than failing the
    * whole database: only queries that actually reference it see a
    * table-not-found. */
  private val regLocks = TrieMap.empty[String, Object]
  private[server] def ensureViews(db: String): Unit = {
    // listing runs per request (it discovers new measurements; a
    // metadata LIST, no data touched). Fast path: when every view is
    // registered at the current version, no lock — concurrent queries
    // to registered measurements never serialize behind a slow
    // registration. Views register in the DATABASE's child session, so
    // same-named measurements in different databases never collide.
    val tables = catalog.listTables(db)
    def fresh(m: String): Boolean =
      viewState.get(s"$db/$m").contains(versionOf(db, m))
    if (tables.forall(fresh)) return
    val dbCat = sessionFor(db)._2
    regLocks.getOrElseUpdate(db, new Object).synchronized {
      tables.foreach { m =>
        val v = versionOf(db, m) // read BEFORE register, see viewVersion
        if (!viewState.get(s"$db/$m").contains(v)) {
          try {
            registerView(dbCat, db, m)
            viewState.put(s"$db/$m", v)
          } catch {
            case e: Throwable =>
              org.slf4j.LoggerFactory.getLogger(classOf[HttpServer]).warn(
                s"view registration failed for $db/$m (skipped): ${e.getMessage}")
          }
        }
      }
    }
  }

  /** Run `f` with `sess` as the thread's ACTIVE session. HTTP pool
    * threads inherit whatever session was active when the pool spawned
    * them (SparkSession.activeSession is an InheritableThreadLocal —
    * usually the ROOT session), and parts of Spark's scan planning read
    * `SQLConf.get` (the active session's conf) rather than the
    * relation's session conf. Serving-layer settings like
    * ignoreMissingFiles silently didn't apply to some plan shapes until
    * the handling thread activates the database's child session —
    * surfaced by the sustained soak as FAILED_READ_FILE aborts on the
    * simple-read route while compaction deleted merged-away files. */
  private[server] def withSession[T](sess: SparkSession)(f: => T): T = {
    val prev = SparkSession.getActiveSession
    SparkSession.setActiveSession(sess)
    try f finally prev match {
      case Some(p) => SparkSession.setActiveSession(p)
      case None => SparkSession.clearActiveSession()
    }
  }

  /** Register a measurement's temp view over every tier it has data
    * on: the hourly and daily layouts of the hot root and, once the
    * admin tiering plane has migrated partitions, of the cold root
    * ([[graft.jobs.Tiering.table]]). Queries keep seeing migrated data
    * transparently, the reference's multi-tier scan behavior
    * (query.go:2836-2921). */
  private def registerView(dbCat: GraftCatalog, db: String, m: String): Unit =
    graft.jobs.Tiering.table(dbCat, admin.coldRoot, db, m).createOrReplaceTempView(m)

  /** Token extraction order mirrors the reference
    * (internal/auth/middleware.go:222-243 ExtractTokenFromRequest):
    * Authorization Bearer / Token / plain, x-api-key, ?p= (InfluxDB 1.x
    * compat). */
  private def presentedToken(ex: HttpExchange): Option[String] = {
    val h = Option(ex.getRequestHeaders.getFirst("Authorization")).getOrElse("")
    if (h.startsWith("Bearer ")) Some(h.stripPrefix("Bearer "))
    else if (h.startsWith("Token ")) Some(h.stripPrefix("Token "))
    else if (h.nonEmpty) Some(h)
    else Option(ex.getRequestHeaders.getFirst("x-api-key"))
      .filter(_.nonEmpty)
      .orElse(queryParams(ex).get("p").filter(_.nonEmpty))
  }

  /** Resolve the caller's identity. Right(None) = auth disabled, when no
    * credential source exists at all — the open OSS deployment
    * (reference: nil AuthManager → passthrough middleware,
    * internal/api/auth_middleware.go); Right(Some(info)) = authenticated;
    * Left(401) = denied. The static `authToken` authenticates as a
    * synthetic full-admin ([[Auth.StaticAdmin]]) so pre-RBAC deployments
    * keep their exact behavior. */
  private def authenticate(ex: HttpExchange): Either[Int, Option[TokenInfo]] =
    if (authToken.isEmpty && !tokens.hasTokens) Right(None)
    else presentedToken(ex) match {
      case None => Left(401)
      case Some(value) =>
        // constant-time compare for the static token: String.equals
        // short-circuits on the first differing byte, a timing
        // side-channel on an internet-facing path (store tokens compare
        // by SHA-256 lookup — already constant-shaped)
        val static = authToken.exists(tok =>
          java.security.MessageDigest.isEqual(
            value.getBytes(UTF_8), tok.getBytes(UTF_8)))
        if (static) Right(Some(Auth.StaticAdmin))
        else tokens.verify(value).toRight(401).map(Some(_))
    }

  /** The authenticated token for the current exchange (None under
    * disabled auth — resource checks are skipped, like the reference's
    * nil-TokenInfo paths).
    *
    * Thread-local, NOT HttpExchange.setAttribute: JDK exchange
    * attributes live in the CONTEXT's shared map, so a token stored
    * there leaks to other requests — concurrent callers would race each
    * other's identities (observed as an auth.failed audit event carrying
    * the previous caller's name). Each exchange is handled synchronously
    * on one pool thread, so a thread-local set at auth and cleared in
    * the route finally is exact. */
  private val currentToken = new ThreadLocal[Option[TokenInfo]] {
    override def initialValue(): Option[TokenInfo] = None
  }
  private[server] def tokenOf(ex: HttpExchange): Option[TokenInfo] =
    currentToken.get()

  /** Overload shed on the query surfaces (reference circuitbreaker.go +
    * the catch-up gate's 503 envelope, query.go:968). Exposed for specs
    * and ops tuning. */
  val overloadGate = new OverloadGate()

  /** Table refs for the per-table RBAC gate. Fails CLOSED for scoped
    * callers: when extraction throws (StackOverflowError on a
    * pathological expression tree, a future walker bug) and the caller
    * actually has enabled RBAC memberships, returns None — the handler
    * must 400 — instead of silently skipping the per-table check, which
    * would let an RBAC-only token read any database its coarse route
    * gate allows. Tokenless (auth off) and OSS-only tokens fall back to
    * Nil: their enforcement IS the coarse gate, so there is nothing to
    * bypass. */
  private def tableRefsFor(ex: HttpExchange,
      sess: org.apache.spark.sql.SparkSession, sql: String,
      db: String): Option[Seq[(String, String)]] =
    try Some(facade.tableReferences(sess, sql).map { ident =>
      if (ident.length >= 2) (ident.head, ident.last) else (db, ident.head)
    }) catch { case _: Throwable =>
      val scoped = rbac.enabled &&
        tokenOf(ex).exists(t => rbac.tokenTeams(t.id).exists(_.enabled))
      if (scoped) None else Some(Nil)
    }

  /** Per-resource RBAC gate shared by the read/write handlers. Sends the
    * 403 envelope and returns false on denial (reference:
    * query.go:1545-1548 / permissions.go CheckWritePermissions). */
  private[server] def checkResource(ex: HttpExchange,
      refs: Seq[(String, String)], perm: String): Boolean =
    tokenOf(ex) match {
      case None => true // auth disabled
      case some =>
        rbac.checkBatch(some, refs, perm).zip(refs)
          .find(!_._1.allowed) match {
          case Some((_, (db, meas))) =>
            val res = if (meas.isEmpty || meas == "*") db else s"$db.$meas"
            fail(ex, 403, s"access denied: no $perm permission for $res")
            false
          case None => true
        }
    }

  private[server] def readBody(ex: HttpExchange): Array[Byte] = {
    val in = ex.getRequestBody
    // exact-size fast path: a declared Content-Length means ONE
    // allocation and no grow-copy ladder — on the ingest hot path the
    // 8 KiB-seeded BAOS otherwise re-copies a multi-MB body ~10 times
    // (the JDK server bounds the stream at Content-Length, so a lying
    // client cannot overread past the declared size)
    // the fast path is only safe when Transfer-Encoding is absent: on a
    // malformed-but-deliverable request carrying BOTH chunked and a
    // Content-Length, the JDK server honors chunked and ignores CL, so
    // readNBytes(CL) would silently truncate the body
    val declared = Option(ex.getRequestHeaders.getFirst("Content-Length"))
      .filter(_ => ex.getRequestHeaders.getFirst("Transfer-Encoding") == null)
      .flatMap(_.toLongOption).filter(_ > 0)
    declared match {
      case Some(n) =>
        require(n <= maxPayloadBytes,
          s"Payload too large (max $maxPayloadBytes bytes); batch smaller requests")
        val exact = in.readNBytes(n.toInt)
        // defense-in-depth: the stream must be at EOF now (the JDK
        // server bounds a CL-framed body at CL). If not, the framing
        // was not what the header claimed — fall back to draining the
        // remainder rather than truncating.
        val probe = in.read()
        if (probe < 0) exact
        else {
          val out = new java.io.ByteArrayOutputStream(exact.length + 65536)
          out.write(exact)
          out.write(probe)
          val buf = new Array[Byte](65536)
          var total = exact.length.toLong + 1
          var m = in.read(buf)
          while (m >= 0) {
            total += m
            require(total <= maxPayloadBytes,
              s"Payload too large (max $maxPayloadBytes bytes); batch smaller requests")
            out.write(buf, 0, m)
            m = in.read(buf)
          }
          out.toByteArray
        }
      case None => // chunked: fall back to the bounded grow loop
        val out = new java.io.ByteArrayOutputStream(8192)
        val buf = new Array[Byte](65536)
        var total = 0L
        var n = in.read(buf)
        while (n >= 0) {
          total += n
          require(total <= maxPayloadBytes,
            s"Payload too large (max $maxPayloadBytes bytes); batch smaller requests")
          out.write(buf, 0, n)
          n = in.read(buf)
        }
        out.toByteArray
    }
  }

  /** Magic-byte sniffing like the reference (msgpack.go:250-270):
    * 1f 8b = gzip, 28 b5 2f fd = zstd; otherwise pass through. The
    * post-decompression size cap guards decompression bombs. */
  private def decompressed(raw: Array[Byte]): Array[Byte] = {
    def drain(in: java.io.InputStream): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream(raw.length * 4)
      val buf = new Array[Byte](65536)
      var total = 0L
      var n = in.read(buf)
      while (n >= 0) {
        total += n
        require(total <= maxPayloadBytes,
          s"Decompressed payload too large (max $maxPayloadBytes bytes)")
        out.write(buf, 0, n)
        n = in.read(buf)
      }
      out.toByteArray
    }
    if (raw.length >= 2 && raw(0) == 0x1f.toByte && raw(1) == 0x8b.toByte)
      drain(new GZIPInputStream(new ByteArrayInputStream(raw)))
    else if (raw.length >= 4 && raw(0) == 0x28.toByte && raw(1) == 0xb5.toByte &&
        raw(2) == 0x2f.toByte && raw(3) == 0xfd.toByte)
      drain(new com.github.luben.zstd.ZstdInputStream(new ByteArrayInputStream(raw)))
    else raw
  }

  private def headerDbOpt(ex: HttpExchange): Option[String] =
    Option(ex.getRequestHeaders.getFirst("x-arc-database")).filter(_.nonEmpty)

  private def headerDb(ex: HttpExchange): String =
    headerDbOpt(ex).getOrElse("default")

  /** Handler-path query params: malformed percent-encoding ('?db=%zz')
    * THROWS (IllegalArgumentException → 400 at the route wrapper). A
    * silent drop here would fall back to headerDb/'default' and
    * acknowledge a write into the wrong database instead of rejecting
    * the request. */
  private[server] def queryParams(ex: HttpExchange): Map[String, String] =
    parseParams(ex, dropBadEscapes = false)

  /** Audit-attribution variant: pairs with malformed percent-encoding
    * are dropped rather than thrown — this runs in the route finally
    * block, where an escape would skip the audit flush and leak this
    * request's identity into the pool thread's ThreadLocal. */
  private[server] def auditParams(ex: HttpExchange): Map[String, String] =
    parseParams(ex, dropBadEscapes = true)

  /** One parser, two decode-failure policies — so '+' handling,
    * duplicate-key policy etc. can never silently diverge between the
    * handler path (throws → 400) and the audit path (drops). */
  private def parseParams(ex: HttpExchange,
      dropBadEscapes: Boolean): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split('&')
      .filter(_.contains('='))
      .flatMap { kv =>
        val i = kv.indexOf('=')
        try Some(java.net.URLDecoder.decode(kv.substring(0, i), "UTF-8") ->
          java.net.URLDecoder.decode(kv.substring(i + 1), "UTF-8"))
        catch {
          case e: IllegalArgumentException =>
            if (dropBadEscapes) None else throw e
        }
      }.toMap

  private[server] val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def jsonField(body: Array[Byte], field: String): Option[String] = {
    val node = mapper.readTree(body)
    Option(node.get(field)).filterNot(_.isNull).map(_.asText)
  }

  private def sqlField(body: Array[Byte]): String =
    jsonField(body, "sql").filter(_.trim.nonEmpty)
      .getOrElse(throw new IllegalArgumentException("missing 'sql' field"))

  private def now(): String = rfc3339.format(Instant.now())

  private[server] def q(s: String): String = QueryFacade.jsonStr(s)

  private[server] def msg(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getSimpleName)

  private[server] def err(m: String, ts: String = now()): String =
    s"""{"success":false,"error":${q(m)},"timestamp":${q(ts)}}"""

  /** Answer `status` with the error envelope [[err]] builds. */
  private[server] def fail(ex: HttpExchange, status: Int, m: String): Unit =
    sendJson(ex, status, err(m))

  /** The request body as JSON; an empty body reads as `{}`. */
  private[server] def body(ex: HttpExchange): JsonNode = {
    val raw = readBody(ex)
    if (raw.isEmpty) mapper.createObjectNode() else mapper.readTree(raw)
  }

  /** Field `f` of `n` as non-empty text. */
  private[server] def oText(n: JsonNode, f: String): Option[String] =
    Option(n.get(f)).filterNot(_.isNull).map(_.asText).filter(_.nonEmpty)

  private[server] def sendJson(ex: HttpExchange, status: Int, body: String): Unit = {
    // idempotent: mid-stream failures land here after headers went out
    if (ex.getResponseCode == -1) {
      val bytes = body.getBytes(UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(status, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.getResponseBody.close()
    }
  }
}
