package graft.server

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import com.sun.net.httpserver.HttpExchange
import graft.catalog.GraftCatalog
import graft.ingest.{MqttSubscriber, MsgPack}
import graft.jobs.{Compaction, ContinuousQuery, CqState, IcebergExport, Retention,
  TargetedDelete, Tiering}
import graft.query.QueryFacade
import graft.server.Lifecycle.{Gate, RetentionRun, TableCompaction}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{expr, lit}

import java.time.Instant
import java.util.concurrent.ConcurrentLinkedDeque
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import scala.collection.concurrent.TrieMap
import scala.util.matching.Regex

/** The lifecycle/admin HTTP plane — the reference's maintenance surface,
  * bound over the existing library jobs (the round-7 verdict's #1 gap):
  *
  *  - `POST /api/v1/delete` + `GET /api/v1/delete/config` — targeted DML
  *    with dry-run, confirmation, and row caps
  *    (internal/api/delete.go:97-128, :177-186) over
  *    [[graft.jobs.TargetedDelete]];
  *  - `/api/v1/retention` CRUD + `POST /:id/execute` +
  *    `GET /:id/executions` (internal/api/retention.go:220-237) over
  *    [[graft.jobs.Retention]];
  *  - `/api/v1/continuous_queries` CRUD + execute + executions
  *    (internal/api/continuous_query.go:273-283) over
  *    [[graft.jobs.ContinuousQuery]];
  *  - `/api/v1/compaction/{status,stats,candidates,jobs,history,trigger}`
  *    (internal/api/compaction.go:37-51) over [[graft.jobs.Compaction]];
  *  - `/api/v1/tiering/{status,files,migrate,stats,scan}` +
  *    `/api/v1/tiering/policies` CRUD (internal/api/tiering.go:203-213,
  *    tiering_policies.go:195-205) over [[graft.jobs.Tiering]];
  *  - `/api/v1/mqtt/{health,stats}` + `/api/v1/mqtt/subscriptions` CRUD
  *    and lifecycle (internal/api/mqtt.go:29-38,
  *    mqtt_subscriptions.go:35-61) over [[graft.ingest.MqttSubscriber]].
  *
  * Policy records persist as one JSON file each under
  * `{root}/_admin/{kind}/` written tmp+rename (the same visible-only-
  * when-complete contract as CqState) — the Spark-first stand-in for the
  * reference's SQLite metadata store; it works unchanged on any Hadoop
  * FileSystem. Execution HISTORY is a bounded in-memory ring (the last
  * execution's outcome IS persisted on the policy record itself) —
  * durable audit history is ops-plane (SURVEY §2.J11).
  *
  * Scale stance: every handler is metadata-sized on the driver — policy
  * files, partition listings, parquet footers — and delegates data-sized
  * work (delete rewrites, CQ windows, compaction merges) to the
  * distributed jobs, which parallelize per-file / per-partition.
  */
final class AdminApi(srv: HttpServer) {

  private[server] def catalog: GraftCatalog = srv.catalog
  private def hconf = srv.spark.sparkContext.hadoopConfiguration
  private def mapper = srv.mapper
  import srv.{body, fail, oText, q, sendJson => ok}
  private def nowIso(): String = Instant.now().toString
  private def nowUs(): Long = System.currentTimeMillis() * 1000L

  // ---- delete config (reference defaults, config.go:1438-1440) ---------
  /** Reference default is DISABLED for safety (`delete.enabled=false`). */
  @volatile var deleteEnabled: Boolean = false
  @volatile var deleteConfirmationThreshold: Long = 10000L
  @volatile var deleteMaxRows: Long = 1000000L

  // ---- tiering config ---------------------------------------------------
  /** Cold-tier root; settable by embedders (ServeMain flag). Lives under
    * an underscore dir so the catalog never lists it as a database. */
  @volatile var coldRoot: String = s"${catalog.root}/_cold"
  @volatile var defaultColdAfterDays: Int = 30

  // ---- persisted policy stores -----------------------------------------

  /** One-JSON-file-per-record store under `{root}/_admin/{kind}/`.
    * Writes are tmp+rename; id allocation is max+1 under a process lock
    * (the reference is a single process too — its SQLite AUTOINCREMENT
    * plays the same role). */
  private final class Store(kind: String) {
    private val lock = new Object
    private val dir = new Path(catalog.root, s"_admin/$kind")
    private def fs = dir.getFileSystem(hconf)

    def keys(): Seq[String] = {
      val f = fs
      if (!f.exists(dir)) Nil
      else f.listStatus(dir).filter(_.isFile).map(_.getPath.getName)
        .filter(_.endsWith(".json")).map(_.stripSuffix(".json")).sorted.toSeq
    }

    def ids(): Seq[Long] = keys().flatMap(_.toLongOption).sorted
    def all(): Seq[ObjectNode] = ids().flatMap(i => get(i.toString))

    def get(key: String): Option[ObjectNode] =
      RecordFiles.read(hconf, new Path(dir, s"$key.json"))
        .map(bytes => mapper.readTree(bytes).asInstanceOf[ObjectNode])

    def put(key: String, node: ObjectNode): Unit = lock.synchronized {
      RecordFiles.write(hconf, dir, s"$key.json", mapper.writeValueAsBytes(node))
    }

    def create(node: ObjectNode): Long = lock.synchronized {
      val id = ids().lastOption.getOrElse(0L) + 1
      node.put("id", id)
      put(id.toString, node)
      id
    }

    def remove(key: String): Boolean = lock.synchronized {
      val p = new Path(dir, s"$key.json")
      val f = fs
      f.exists(p) && f.delete(p, false)
    }
  }

  private val retentionStore = new Store("retention")
  private val cqStore = new Store("cq")
  private val tierPolicyStore = new Store("tiering_policies")
  private val mqttStore = new Store("mqtt")

  /** Bounded per-policy execution rings (rendered JSON, newest last). */
  private val execRings = TrieMap.empty[String, ConcurrentLinkedDeque[String]]
  private val ExecRingCap = 256
  private def recordExec(key: String, json: String): Unit = {
    val ring = execRings.getOrElseUpdate(key, new ConcurrentLinkedDeque[String]())
    ring.addLast(json)
    while (ring.size() > ExecRingCap) ring.pollFirst()
  }
  private def execList(key: String): String =
    execRings.get(key) match {
      case None => "[]"
      case Some(ring) => historyJson(ring)
    }

  // ---- lifecycle jobs ------------------------------------------------------

  /** The tick that runs the jobs below on a schedule; see [[Lifecycle]]. */
  val lifecycle = new Lifecycle(this)

  // Each job kind is single-flight, shared by its HTTP routes and the
  // tick: a contended route gets 409, a contended tick skips the kind.
  // Concurrent retention runs raced each other's deletes — one run's
  // footer census read files another had just deleted (FileNotFound
  // 500s under the lifecycle soak), and concurrent last-execution writes
  // to one policy record raced readers into checksum errors. Two
  // concurrent compactions of one scope plan the same merge twice — the
  // second's inputs vanish under it mid-write. The manifest's per-table
  // lock makes the SWAP safe; the guard makes the PLAN safe.
  private[server] val retentionBusy = new AtomicBoolean(false)
  private[server] val cqBusy = new AtomicBoolean(false)
  private[server] val compBusy = new AtomicBoolean(false)

  /** `body`'s value, or None when another run holds `busy`. */
  private[server] def exclusive[T](busy: AtomicBoolean)(body: => T): Option[T] =
    if (!busy.compareAndSet(false, true)) None
    else try Some(body) finally busy.set(false)

  /** Active records of a store whose database exists. */
  private def active(store: Store): Seq[ObjectNode] = {
    val dbs = catalog.listDatabases().toSet
    store.all().filter(r => oBool(r, "is_active", d = true) && dbs(r.get("database").asText))
  }
  private[server] def activeCqs(): Seq[ObjectNode] = active(cqStore)
  private[server] def activePolicies(): Seq[ObjectNode] = active(retentionStore)

  // ---- compaction bookkeeping -------------------------------------------
  private val compActive = TrieMap.empty[Long, String]
  private val compSeq = new AtomicLong(0)
  private val compCompleted = new AtomicLong(0)
  private val compFailed = new AtomicLong(0)
  private val compHistory = new ConcurrentLinkedDeque[String]()

  // ---- MQTT runtime -------------------------------------------------------
  private val mqttRuntime = TrieMap.empty[Long, MqttSubscriber]
  private val mqttStatus = TrieMap.empty[Long, String] // running/stopped/paused/error

  // ---- JSON helpers -------------------------------------------------------

  private def oInt(n: JsonNode, f: String, d: Int): Int =
    Option(n.get(f)).filterNot(_.isNull).map(_.asInt).getOrElse(d)
  private def oBool(n: JsonNode, f: String, d: Boolean = false): Boolean =
    Option(n.get(f)).filterNot(_.isNull).map(_.asBoolean).getOrElse(d)
  private def oArr(n: JsonNode, f: String): Seq[String] =
    Option(n.get(f)).filterNot(_.isNull).toSeq
      .flatMap(a => (0 until a.size()).map(a.get(_).asText))

  private def render(node: JsonNode): String = mapper.writeValueAsString(node)

  // ---- routes -------------------------------------------------------------

  /** This plane's slice of the server's route table, all admin-only.
    * Handlers may throw: the dispatcher maps exceptions to 400/500. */
  private[server] val routes: Seq[Route] = {
    import Perm.Admin
    Seq(
      Route("POST", "/api/v1/delete", Admin)((ex, _) => handleDelete(ex)),
      Route("GET", "/api/v1/delete/config", Admin)((ex, _) => handleDeleteConfig(ex)),

      Route("GET", "/api/v1/retention", Admin)((ex, _) => handleRetentionList(ex)),
      Route("POST", "/api/v1/retention", Admin)((ex, _) => handleCreate(ex, retentionStore,
        "retention policy", RetentionRunFields, validateRetention(body(ex)))),
      Route("GET", "/api/v1/retention/:id/executions", Admin)((ex, p) =>
        ok(ex, 200, execList(s"retention/${p("id")}"))),
      Route("POST", "/api/v1/retention/:id/execute", Admin)((ex, p) => handleRetentionExecute(ex, p("id").toLong)),
      Route("GET", "/api/v1/retention/:id", Admin)((ex, p) =>
        handleGet(ex, retentionStore, p("id"), "retention policy")),
      Route("PUT", "/api/v1/retention/:id", Admin)((ex, p) => handleUpdate(ex, retentionStore,
        p("id").toLong, "retention policy", RetentionRunFields, validateRetention)),
      Route("DELETE", "/api/v1/retention/:id", Admin)((ex, p) =>
        handleRemove(ex, retentionStore, p("id"), "retention policy")),

      Route("GET", "/api/v1/continuous_queries", Admin)((ex, _) => handleCqList(ex)),
      Route("POST", "/api/v1/continuous_queries", Admin)((ex, _) => handleCreate(ex, cqStore,
        "continuous query", CqRunFields, validateCq(body(ex)))),
      Route("GET", "/api/v1/continuous_queries/:id/executions", Admin)((ex, p) =>
        ok(ex, 200, execList(s"cq/${p("id")}"))),
      Route("POST", "/api/v1/continuous_queries/:id/execute", Admin)((ex, p) => handleCqExecute(ex, p("id").toLong)),
      Route("GET", "/api/v1/continuous_queries/:id", Admin)((ex, p) =>
        handleGet(ex, cqStore, p("id"), "continuous query")),
      Route("PUT", "/api/v1/continuous_queries/:id", Admin)((ex, p) => handleUpdate(ex, cqStore,
        p("id").toLong, "continuous query", CqRunFields, validateCq)),
      Route("DELETE", "/api/v1/continuous_queries/:id", Admin)((ex, p) => handleCqRemove(ex, p("id"))),

      Route("GET", "/api/v1/compaction/status", Admin)((ex, _) => handleCompactionStatus(ex)),
      Route("GET", "/api/v1/compaction/stats", Admin)((ex, _) => handleCompactionStatus(ex)),
      Route("GET", "/api/v1/compaction/candidates", Admin)((ex, _) => handleCompactionCandidates(ex)),
      Route("GET", "/api/v1/compaction/jobs", Admin)((ex, _) => handleCompactionJobs(ex)),
      Route("GET", "/api/v1/compaction/history", Admin)((ex, _) => ok(ex, 200, historyJson(compHistory))),
      Route("POST", "/api/v1/compaction/trigger", Admin)((ex, _) => handleCompactionTrigger(ex)),

      Route("GET", "/api/v1/tiering/status", Admin)((ex, _) => handleTieringStatus(ex)),
      Route("GET", "/api/v1/tiering/stats", Admin)((ex, _) => handleTieringStatus(ex)),
      Route("GET", "/api/v1/tiering/files", Admin)((ex, _) => handleTieringFiles(ex)),
      Route("POST", "/api/v1/tiering/migrate", Admin)((ex, _) => handleTieringMigrate(ex)),
      Route("POST", "/api/v1/tiering/scan", Admin)((ex, _) => handleTieringScan(ex)),
      Route("GET", "/api/v1/tiering/policies", Admin)((ex, _) => handleTierPolicyList(ex)),
      Route("GET", "/api/v1/tiering/policies/:name/effective", Admin)((ex, p) =>
        handleTierPolicyEffective(ex, p("name"))),
      Route("GET", "/api/v1/tiering/policies/:name", Admin)((ex, p) =>
        handleGet(ex, tierPolicyStore, p("name"), "tiering policy")),
      Route("PUT", "/api/v1/tiering/policies/:name", Admin)((ex, p) => handleTierPolicySet(ex, p("name"))),
      Route("DELETE", "/api/v1/tiering/policies/:name", Admin)((ex, p) =>
        handleRemove(ex, tierPolicyStore, p("name"), "tiering policy")),

      Route("POST", "/api/v1/backup", Admin)((ex, _) => handleBackupCreate(ex)),
      Route("GET", "/api/v1/backup", Admin)((ex, _) => handleBackupList(ex)),
      Route("GET", "/api/v1/backup/status", Admin)((ex, _) => handleBackupStatus(ex)),
      Route("POST", "/api/v1/backup/restore", Admin)((ex, _) => handleBackupRestore(ex)),
      Route("GET", "/api/v1/backup/:name", Admin)((ex, p) => handleBackupGet(ex, p("name"))),
      Route("DELETE", "/api/v1/backup/:name", Admin)((ex, p) => handleBackupDelete(ex, p("name"))),

      Route("GET", "/api/v1/schedulers", Admin)((ex, _) => handleSchedulers(ex)),
      Route("POST", "/api/v1/schedulers/cq/reload", Admin)((ex, _) => handleCqReload(ex)),
      Route("POST", "/api/v1/schedulers/retention/trigger", Admin)((ex, _) => handleRetentionTriggerAll(ex)),

      Route("GET", "/api/v1/mqtt/health", Admin)((ex, _) => handleMqttHealth(ex)),
      Route("GET", "/api/v1/mqtt/stats", Admin)((ex, _) => handleMqttStats(ex)),
      Route("GET", "/api/v1/mqtt/subscriptions", Admin)((ex, _) => handleSubList(ex)),
      Route("POST", "/api/v1/mqtt/subscriptions", Admin)((ex, _) => handleSubCreate(ex)),
      Route("GET", "/api/v1/mqtt/subscriptions/:id/stats", Admin)((ex, p) => handleSubStats(ex, p("id").toLong)),
      Route("POST", "/api/v1/mqtt/subscriptions/:id/start", Admin)((ex, p) =>
        handleSubLifecycle(ex, p("id").toLong, "start")),
      Route("POST", "/api/v1/mqtt/subscriptions/:id/stop", Admin)((ex, p) =>
        handleSubLifecycle(ex, p("id").toLong, "stop")),
      Route("POST", "/api/v1/mqtt/subscriptions/:id/pause", Admin)((ex, p) =>
        handleSubLifecycle(ex, p("id").toLong, "pause")),
      Route("POST", "/api/v1/mqtt/subscriptions/:id/restart", Admin)((ex, p) =>
        handleSubLifecycle(ex, p("id").toLong, "restart")),
      Route("GET", "/api/v1/mqtt/subscriptions/:id", Admin)((ex, p) => handleSubGet(ex, p("id").toLong)),
      Route("PUT", "/api/v1/mqtt/subscriptions/:id", Admin)((ex, p) => handleSubUpdate(ex, p("id").toLong)),
      Route("DELETE", "/api/v1/mqtt/subscriptions/:id", Admin)((ex, p) => handleSubDelete(ex, p("id").toLong)))
  }

  private def handleGet(ex: HttpExchange, store: Store, key: String,
      what: String): Unit =
    store.get(key) match {
      case Some(n) => ok(ex, 200, render(n))
      case None => fail(ex, 404, s"$what not found: $key")
    }

  /** The fields a retention policy's or CQ's executions fill in. */
  private val RetentionRunFields =
    Seq("last_execution_time", "last_execution_status", "last_deleted_count")
  private val CqRunFields = Seq("last_execution_time", "last_execution_status",
    "last_processed_time", "last_records_written")

  /** POST of a retention policy or CQ under a new name, its run fields
    * empty until it first executes. */
  private def handleCreate(ex: HttpExchange, store: Store, what: String,
      runFields: Seq[String], validated: Either[String, ObjectNode]): Unit =
    validated match {
      case Left(e) => fail(ex, 400, e)
      case Right(node) =>
        val name = node.get("name").asText
        if (store.all().exists(_.get("name").asText == name)) {
          fail(ex, 400, s"$what '$name' already exists"); return
        }
        runFields.foreach(node.putNull)
        node.put("created_at", nowIso())
        node.put("updated_at", nowIso())
        store.create(node)
        ok(ex, 201, render(node))
    }

  /** PUT of a retention policy or CQ: new fields, the run fields and
    * creation time kept. */
  private def handleUpdate(ex: HttpExchange, store: Store, id: Long, what: String,
      runFields: Seq[String], validate: JsonNode => Either[String, ObjectNode]): Unit =
    store.get(id.toString) match {
      case None => fail(ex, 404, s"$what not found: $id")
      case Some(old) => validate(body(ex)) match {
        case Left(e) => fail(ex, 400, e)
        case Right(node) =>
          node.put("id", id)
          (runFields :+ "created_at").foreach(f => node.set[ObjectNode](f, old.get(f)))
          node.put("updated_at", nowIso())
          store.put(id.toString, node)
          ok(ex, 200, render(node))
      }
    }

  private def handleRemove(ex: HttpExchange, store: Store, key: String,
      what: String): Unit =
    if (store.remove(key))
      ok(ex, 200, s"""{"success":true,"deleted":${q(key)}}""")
    else fail(ex, 404, s"$what not found: $key")

  private def historyJson(ring: ConcurrentLinkedDeque[String]): String = {
    val it = ring.iterator(); val b = Seq.newBuilder[String]
    while (it.hasNext) b += it.next()
    b.result().mkString("[", ",", "]")
  }

  // ---- targeted delete ----------------------------------------------------

  /** WHERE validation, Spark-first: parse as ONE Catalyst expression
    * (a second statement cannot even parse — the reference needs regex
    * denylists for `;`/comments/keywords, delete.go:137-155, because it
    * interpolates into SQL text) and reject subqueries and reflective
    * functions. Returns (predicate, isFullTableDelete). */
  private def parseWhere(where: String): Either[String, (Column, Boolean)] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
    import org.apache.spark.sql.catalyst.expressions.PlanExpression
    if (where.trim.isEmpty) return Right((lit(true), true))
    try {
      val parsed = srv.spark.sessionState.sqlParser.parseExpression(where)
      var bad: Option[String] = None
      parsed.foreach {
        case _: PlanExpression[_] =>
          bad = Some("subqueries are not allowed in a delete WHERE clause")
        case f: UnresolvedFunction
            if QueryFacade.BlockedFunctions.contains(
              f.nameParts.last.toLowerCase(java.util.Locale.ROOT)) =>
          bad = Some(s"function ${f.nameParts.mkString(".")} is not allowed")
        case _ => ()
      }
      bad match {
        case Some(b) => Left(b)
        // no column references (1=1, true, 2>1, …) = full-table delete,
        // the reference's isFullTableDelete confirmation path
        case None =>
          Right((expr(where), !parsed.exists(_.isInstanceOf[UnresolvedAttribute])))
      }
    } catch {
      case e: Exception => Left("invalid WHERE clause: " + srv.msg(e))
    }
  }

  /** POST /api/v1/delete — the reference's DeleteRequest/DeleteResponse
    * contract (delete.go:97-128) over TargetedDelete's census+rewrite. */
  private def handleDelete(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    def ms = (System.nanoTime() - t0) / 1e6
    if (!deleteEnabled) {
      fail(ex, 403,
        "Delete operations are disabled. Enable them in the server config.")
      return
    }
    val b = body(ex)
    val db = oText(b, "database").getOrElse("")
    val meas = oText(b, "measurement").getOrElse("")
    val where = oText(b, "where").getOrElse("")
    val dryRun = oBool(b, "dry_run")
    val confirm = oBool(b, "confirm")
    if (db.isEmpty) { fail(ex, 400, "database is required"); return }
    if (meas.isEmpty) { fail(ex, 400, "measurement is required"); return }
    if (!catalog.isValidDatabaseName(db)) {
      fail(ex, 400, "database name contains invalid characters"); return
    }
    if (!srv.validMeasurement(meas)) {
      fail(ex, 400, "measurement name contains invalid characters"); return
    }
    if (!catalog.listDatabases().contains(db)) {
      fail(ex, 404, s"database not found: $db"); return
    }
    if (!catalog.listTables(db).contains(meas)) {
      fail(ex, 404, s"measurement not found: $db/$meas"); return
    }
    val (predicate, fullTable) = parseWhere(where) match {
      case Left(e) => fail(ex, 400, e); return
      case Right(v) => v
    }
    if (fullTable && !confirm) {
      fail(ex, 400,
        "Full table delete detected. Set confirm=true to proceed."); return
    }
    if (!dryRun && !confirm) {
      fail(ex, 400, "Confirmation required for delete operation. " +
        "Set confirm=true or use dry_run=true to preview."); return
    }
    val pre =
      try TargetedDelete.preview(catalog, db, meas, predicate)
      catch {
        case e: org.apache.spark.sql.AnalysisException =>
          // unknown column / type mismatch in the (parse-valid) WHERE —
          // a client error, not a server fault
          fail(ex, 400, "invalid WHERE clause: " + srv.msg(e)); return
      }
    if (pre.totalMatches > deleteMaxRows) {
      fail(ex, 400, s"Delete would affect ${pre.totalMatches} rows, " +
        s"exceeding max_rows_per_delete ($deleteMaxRows)"); return
    }
    if (!dryRun && pre.totalMatches > deleteConfirmationThreshold && !confirm) {
      fail(ex, 400, s"Delete affects ${pre.totalMatches} rows " +
        s"(> $deleteConfirmationThreshold): set confirm=true"); return
    }
    def files(paths: Seq[String]) = paths.map(q).mkString("[", ",", "]")
    if (dryRun) {
      ok(ex, 200,
        s"""{"success":true,"deleted_count":${pre.totalMatches},""" +
          s""""affected_files":${pre.affected.size},"rewritten_files":0,""" +
          s""""execution_time_ms":$ms,"dry_run":true,""" +
          s""""files_processed":${files(pre.affected.map(_.path))}}""")
      return
    }
    val res = TargetedDelete(catalog, db, meas, predicate, deleteMaxRows)
    srv.invalidateView(db, meas)
    ok(ex, 200,
      s"""{"success":true,"deleted_count":${res.rowsDeleted},""" +
        s""""affected_files":${res.filesProcessed.size},""" +
        s""""rewritten_files":${res.filesRewritten},""" +
        s""""execution_time_ms":$ms,"dry_run":false,""" +
        s""""files_processed":${files(res.filesProcessed)}}""")
  }

  /** GET /api/v1/delete/config (delete.go handleGetConfig). */
  private def handleDeleteConfig(ex: HttpExchange): Unit =
    ok(ex, 200,
      s"""{"enabled":$deleteEnabled,""" +
        s""""confirmation_threshold":$deleteConfirmationThreshold,""" +
        s""""max_rows_per_delete":$deleteMaxRows,""" +
        s""""implementation":"rewrite-based","performance_impact":{""" +
        s""""writes":"zero overhead","queries":"zero overhead",""" +
        s""""deletes":"expensive (file rewrites)"}}""")

  // ---- retention ----------------------------------------------------------

  private def handleRetentionList(ex: HttpExchange): Unit =
    ok(ex, 200, retentionStore.all().map(render).mkString("[", ",", "]"))

  private def validateRetention(b: JsonNode): Either[String, ObjectNode] = {
    val name = oText(b, "name").getOrElse(return Left("name is required"))
    val db = oText(b, "database").getOrElse(return Left("database is required"))
    if (!catalog.isValidDatabaseName(db))
      return Left(s"invalid database name: $db")
    val days = oInt(b, "retention_days", -1)
    if (days < 1) return Left("retention_days must be >= 1")
    val node = mapper.createObjectNode()
    node.put("name", name)
    node.put("database", db)
    oText(b, "measurement") match {
      case Some(m) =>
        if (!srv.validMeasurement(m))
          return Left(s"invalid measurement name: $m")
        node.put("measurement", m)
      case None => node.putNull("measurement")
    }
    node.put("retention_days", days)
    node.put("buffer_days", oInt(b, "buffer_days", 0))
    node.put("is_active", oBool(b, "is_active", d = true))
    Right(node)
  }

  /** POST /api/v1/retention/:id/execute — dry-run lists what would
    * expire (partition paths + footer row counts, no data scan); the
    * real run deletes and records the execution (retention.go's
    * ExecuteRetentionRequest/Response). */
  private def handleRetentionExecute(ex: HttpExchange, id: Long): Unit = {
    val t0 = System.nanoTime()
    val pol = retentionStore.get(id.toString) match {
      case None => fail(ex, 404, s"retention policy not found: $id"); return
      case Some(p) => p
    }
    val b = body(ex)
    val dryRun = oBool(b, "dry_run")
    if (!dryRun && !oBool(b, "confirm")) {
      fail(ex, 400, "Confirmation required. Set confirm=true or use dry_run=true.")
      return
    }
    val run = exclusive(retentionBusy)(runRetention(pol, dryRun, nowUs())).getOrElse {
      fail(ex, 409, "retention execution already in progress"); return
    }
    ok(ex, 200,
      s"""{"policy_id":$id,"policy_name":${q(pol.get("name").asText)},""" +
        s""""deleted_count":${run.rows},"files_deleted":${run.files},""" +
        s""""execution_time_ms":${(System.nanoTime() - t0) / 1e6},"dry_run":$dryRun,""" +
        s""""cutoff_date":${q(run.cutoffIso)},""" +
        s""""affected_measurements":${run.measurements.map(q).mkString("[", ",", "]")}}""")
  }

  /** One run of a retention policy, for its execute route, the
    * trigger-all route and the tick; the caller holds `retentionBusy`.
    * A real run that deleted anything records the execution. */
  private[server] def runRetention(pol: ObjectNode, dryRun: Boolean,
      nowUs: Long): RetentionRun = {
    val t0 = System.nanoTime()
    val id = pol.get("id").asLong
    val db = pol.get("database").asText
    val days = pol.get("retention_days").asInt
    val buffer = pol.get("buffer_days").asInt
    val cutoffIso = Instant.ofEpochSecond(
      Retention.cutoffHour(days, buffer, nowUs) * 3600L).toString
    val expired = oText(pol, "measurement").map(Seq(_)).getOrElse(catalog.listTables(db))
      .map { m =>
        val res =
          if (dryRun) Retention.expired(catalog, db, m, days, buffer, () => nowUs)
          else Retention(catalog, db, m, days, buffer, () => nowUs)
        if (!dryRun && res.deleted.nonEmpty) srv.invalidateView(db, m)
        m -> res
      }.filter(_._2.deleted.nonEmpty)
    val run = RetentionRun(cutoffIso, expired.map(_._1),
      expired.map(_._2.files).sum, expired.map(_._2.rows).sum)
    if (!dryRun && run.measurements.nonEmpty) {
      pol.put("last_execution_time", nowIso())
      pol.put("last_execution_status", "success")
      pol.put("last_deleted_count", run.rows)
      pol.put("updated_at", nowIso())
      retentionStore.put(id.toString, pol)
      recordExec(s"retention/$id",
        s"""{"policy_id":$id,"execution_time":${q(nowIso())},""" +
          s""""status":"success","deleted_count":${run.rows},""" +
          s""""cutoff_date":${q(cutoffIso)},""" +
          s""""execution_duration_ms":${(System.nanoTime() - t0) / 1e6}}""")
    }
    run
  }

  // ---- continuous queries ---------------------------------------------------

  private val IntervalRe: Regex = "([0-9]+)(ms|s|m|h|d)".r

  private def parseIntervalUs(s: String): Option[Long] = s.trim match {
    case IntervalRe(n, unit) =>
      val base = unit match {
        case "ms" => 1000L
        case "s" => 1000000L
        case "m" => 60L * 1000000L
        case "h" => 3600L * 1000000L
        case "d" => 24L * 3600L * 1000000L
      }
      Some(n.toLong * base)
    case _ => None
  }

  private def parseInstantUs(s: String): Option[Long] =
    (try Some(Instant.parse(s))
    catch {
      case _: Exception =>
        try Some(java.time.LocalDateTime
          .parse(s.replace(' ', 'T')).toInstant(java.time.ZoneOffset.UTC))
        catch { case _: Exception => None }
    }).map(i => i.getEpochSecond * 1000000L + i.getNano / 1000L)

  private def validateCq(b: JsonNode): Either[String, ObjectNode] = {
    val name = oText(b, "name").getOrElse(return Left("name is required"))
    val db = oText(b, "database").getOrElse(return Left("database is required"))
    val src = oText(b, "source_measurement")
      .getOrElse(return Left("source_measurement is required"))
    val dest = oText(b, "destination_measurement")
      .getOrElse(return Left("destination_measurement is required"))
    if (!srv.validMeasurement(dest))
      return Left("invalid destination_measurement: must start with a letter " +
        "and contain only alphanumerics, underscores, or hyphens")
    val query = oText(b, "query").getOrElse(return Left("query is required"))
    val interval = oText(b, "interval").getOrElse(return Left("interval is required"))
    if (parseIntervalUs(interval).isEmpty)
      return Left(s"invalid interval: $interval (use e.g. 30s, 5m, 1h, 1d)")
    if (!query.contains("{start_time}") || !query.contains("{end_time}"))
      return Left("query must contain {start_time} and {end_time} placeholders")
    val tags = oArr(b, "tag_columns")
    tags.find(t => !t.matches("[A-Za-z_][A-Za-z0-9_]*")) match {
      case Some(bad) => return Left(s"invalid tag column name: $bad")
      case None => ()
    }
    // the CQ body must itself be read-only: it runs verbatim on a tick
    // (substitute a dummy window so the placeholders parse)
    try srv.facade.requireReadOnly(srv.spark,
      ContinuousQuery.substitute(query, 0L, 1000000L))
    catch { case e: IllegalArgumentException => return Left(srv.msg(e)) }
    val node = mapper.createObjectNode()
    node.put("name", name)
    oText(b, "description") match {
      case Some(d) => node.put("description", d)
      case None => node.putNull("description")
    }
    node.put("database", db)
    node.put("source_measurement", src)
    node.put("destination_measurement", dest)
    node.put("query", query)
    node.put("interval", interval)
    val arr = node.putArray("tag_columns")
    tags.foreach(arr.add)
    node.put("is_active", oBool(b, "is_active", d = true))
    Right(node)
  }

  private def handleCqList(ex: HttpExchange): Unit = {
    val dbFilter = srv.queryParams(ex).get("database")
    ok(ex, 200, cqStore.all()
      .filter(n => dbFilter.forall(_ == n.get("database").asText))
      .map(render).mkString("[", ",", "]"))
  }

  /** DELETE /api/v1/continuous_queries/:id — the record and its
    * watermark, so a new CQ of the same name starts fresh. */
  private def handleCqRemove(ex: HttpExchange, id: String): Unit = {
    cqStore.get(id).foreach(rec => CqState.clear(catalog, rec.get("name").asText))
    handleRemove(ex, cqStore, id, "continuous query")
  }

  /** POST /api/v1/continuous_queries/:id/execute — explicit-window or
    * catch-up execution over the library CQ job; dry-run counts the
    * window's rows without writing (continuous_query.go's
    * ExecuteCQRequest/Response). */
  private def handleCqExecute(ex: HttpExchange, id: Long): Unit = {
    val t0 = System.nanoTime()
    val rec = cqStore.get(id.toString) match {
      case None => fail(ex, 404, s"continuous query not found: $id"); return
      case Some(r) => r
    }
    val b = body(ex)
    val db = rec.get("database").asText
    if (!catalog.listDatabases().contains(db)) {
      fail(ex, 404, s"database not found: $db"); return
    }
    val explicit = (oText(b, "start_time"), oText(b, "end_time")) match {
      case (Some(s), Some(e)) =>
        (parseInstantUs(s), parseInstantUs(e)) match {
          case (Some(su), Some(eu)) if su < eu => Some((su, eu))
          case _ => fail(ex, 400, "invalid start_time/end_time"); return
        }
      case (None, None) => None
      case _ => fail(ex, 400, "start_time and end_time must be given together"); return
    }
    def ms = (System.nanoTime() - t0) / 1e6
    if (oBool(b, "dry_run")) {
      val (su, eu) = explicit.getOrElse {
        (nowUs() - parseIntervalUs(rec.get("interval").asText).get, nowUs())
      }
      val rows = inDbSession(db)(
        _.spark.sql(ContinuousQuery.substitute(rec.get("query").asText, su, eu)).count())
      ok(ex, 200,
        s"""{"success":true,"dry_run":true,"records_written":0,""" +
          s""""window_rows":$rows,"window_start":${q(isoOfUs(su))},""" +
          s""""window_end":${q(isoOfUs(eu))},"execution_time_ms":$ms}""")
      return
    }
    val execs = exclusive(cqBusy)(runCq(rec, explicit, nowUs())).getOrElse {
      fail(ex, 409, "continuous query execution already in progress"); return
    }
    val lastEnd = execs.lastOption.map(_.windowEndMicros)
    ok(ex, 200,
      s"""{"success":true,"dry_run":false,"windows":${execs.size},""" +
        s""""records_written":${execs.map(_.rows).sum},""" +
        s""""last_processed_time":${lastEnd.map(e => q(isoOfUs(e))).getOrElse("null")},""" +
        s""""execution_time_ms":$ms}""")
  }

  /** One run of a continuous query, for its execute route and the tick:
    * the explicit `window`, or every window due by `nowUs` since the
    * watermark. The caller holds `cqBusy`. A run that executed a window
    * records the execution. */
  private[server] def runCq(rec: ObjectNode, window: Option[(Long, Long)],
      nowUs: Long): Seq[ContinuousQuery.Execution] = {
    val t0 = System.nanoTime()
    val id = rec.get("id").asLong
    val db = rec.get("database").asText
    val dest = rec.get("destination_measurement").asText
    val cq = ContinuousQuery(rec.get("name").asText, rec.get("query").asText, db, dest,
      oArr(rec, "tag_columns"))
    val execs = inDbSession(db)(dbCat => window match {
      case Some((su, eu)) => Seq(ContinuousQuery.execute(dbCat, cq, su, eu))
      case None => ContinuousQuery.catchUp(dbCat, cq,
        parseIntervalUs(rec.get("interval").asText).get, nowUs)
    })
    if (execs.nonEmpty) {
      srv.invalidateView(db, dest)
      val written = execs.map(_.rows).sum
      rec.put("last_execution_time", nowIso())
      rec.put("last_execution_status", "success")
      rec.put("last_processed_time", isoOfUs(execs.last.windowEndMicros))
      rec.put("last_records_written", written)
      rec.put("updated_at", nowIso())
      cqStore.put(id.toString, rec)
      recordExec(s"cq/$id",
        s"""{"cq_id":$id,"execution_time":${q(nowIso())},"status":"success",""" +
          s""""windows":${execs.size},"records_written":$written,""" +
          s""""execution_duration_ms":${(System.nanoTime() - t0) / 1e6}}""")
    }
    execs
  }

  /** `f` over the database's views, with its session ACTIVE on this
    * thread: CQ SQL runs on HTTP pool and lifecycle threads (see
    * HttpServer.withSession). */
  private def inDbSession[T](db: String)(f: GraftCatalog => T): T = {
    srv.ensureViews(db)
    val dbCat = srv.sessionFor(db)._2
    srv.withSession(dbCat.spark)(f(dbCat))
  }

  private def isoOfUs(us: Long): String =
    Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
      Math.floorMod(us, 1000000L) * 1000L).toString

  // ---- compaction -----------------------------------------------------------

  private def handleCompactionStatus(ex: HttpExchange): Unit =
    ok(ex, 200,
      s"""{"manager":{"active_jobs":${compActive.size},""" +
        s""""total_completed":${compCompleted.get},""" +
        s""""total_failed":${compFailed.get}},"schedulers":{"lifecycle":{""" +
        s""""running":${lifecycle.running},"last_tick_time":${lifecycle.lastTickTimeJson},""" +
        s""""last_tick":${lifecycle.lastTickJson("compaction")}}}}""")

  /** GET /api/v1/compaction/candidates — hour partitions with enough
    * small files to merit a merge (compaction.go getCandidates). Pure
    * directory listings. */
  private def handleCompactionCandidates(ex: HttpExchange): Unit = {
    val params = srv.queryParams(ex)
    val minFiles = params.get("min_files").flatMap(_.toIntOption).getOrElse(2)
    val dbs = params.get("database").map(Seq(_)).getOrElse(catalog.listDatabases())
    val items = for {
      db <- dbs
      m <- catalog.listTables(db)
      p <- catalog.listHourPartitions(db, m)
      n = Compaction.parquetFiles(p.getFileSystem(hconf), p).size
      if n >= minFiles
    } yield s"""{"database":${q(db)},"measurement":${q(m)},""" +
      s""""partition":${q(p.toString)},"file_count":$n}"""
    ok(ex, 200,
      s"""{"success":true,"candidates":${items.mkString("[", ",", "]")},""" +
        s""""count":${items.size}}""")
  }

  private def handleCompactionJobs(ex: HttpExchange): Unit =
    ok(ex, 200, compActive.toSeq.sortBy(_._1)
      .map { case (id, desc) => s"""{"job_id":$id,"description":${q(desc)}}""" }
      .mkString("""{"jobs":[""", ",", s"""],"count":${compActive.size}}"""))

  /** POST /api/v1/compaction/trigger — run the hourly and/or daily tier
    * NOW for the selected scope (compaction.go triggerCompaction). Runs
    * synchronously; per-partition merges fan out inside the job. */
  private def handleCompactionTrigger(ex: HttpExchange): Unit = {
    val b = body(ex)
    val tier = oText(b, "tier").getOrElse("hourly")
    if (!Set("hourly", "daily", "all").contains(tier)) {
      fail(ex, 400, s"invalid tier: $tier (hourly|daily|all)"); return
    }
    // admin trigger forces NOW: age gates default off (the lifecycle
    // tick keeps the conservative defaults)
    val gate = Gate(oInt(b, "min_files", 2), oInt(b, "min_age_hours", 0))
    val scope = oText(b, "database") match {
      case Some(db) =>
        if (!catalog.listDatabases().contains(db)) {
          fail(ex, 404, s"database not found: $db"); return
        }
        oText(b, "measurement") match {
          case Some(m) =>
            if (!catalog.listTables(db).contains(m)) {
              fail(ex, 404, s"measurement not found: $db/$m"); return
            }
            Seq((db, m))
          case None => catalog.listTables(db).map((db, _))
        }
      case None =>
        for (db <- catalog.listDatabases(); m <- catalog.listTables(db))
          yield (db, m)
    }
    exclusive(compBusy)(runCompaction(scope, Some(gate).filter(_ => tier != "daily"),
        Some(gate).filter(_ => tier != "hourly"), nowUs())) match {
      case Some((_, resp)) => ok(ex, 200, resp)
      case None => fail(ex, 409, "compaction trigger already running")
    }
  }

  /** One compaction job over `scope`, for the trigger route and the tick:
    * per table, replay the manifest, then merge the tiers whose gate is
    * given, then reconcile the Iceberg snapshot of a table that has one.
    * The caller holds `compBusy`. Returns each table's work and the
    * job's JSON, which is also the history entry. */
  private[server] def runCompaction(scope: Seq[(String, String)], hourly: Option[Gate],
      daily: Option[Gate], nowUs: Long): (Seq[TableCompaction], String) = {
    val t0 = System.nanoTime()
    val tier = if (hourly.isEmpty) "daily" else if (daily.isEmpty) "hourly" else "all"
    val jobId = compSeq.incrementAndGet()
    compActive.put(jobId, s"tier=$tier scope=${scope.size} tables")
    try {
      val now = () => nowUs
      val tables = scope.map { case (db, m) =>
        val recovered = Compaction.recover(catalog, db, m)
        val h = hourly.toSeq.flatMap(g =>
          Compaction.runHourly(catalog, db, m, g.minFiles, g.minAgeHours, now))
        val d = daily.toSeq.flatMap(g =>
          Compaction.runDaily(catalog, db, m, g.minFiles, g.minAgeHours, nowMicros = now))
        if ((h ++ d).exists(_.compacted) || recovered.nonEmpty) srv.invalidateView(db, m)
        // after the merges, so the snapshot holds the merged file set
        val root = IcebergExport.tableRoot(catalog, db, m)
        val ice =
          if (root.getFileSystem(hconf).exists(root)) Some(IcebergExport.reconcile(catalog, db, m))
          else None
        TableCompaction(db, m, recovered, h, d, ice)
      }
      val compacted = for (t <- tables; r <- t.hourly ++ t.daily if r.compacted)
        yield s"""{"database":${q(t.db)},"measurement":${q(t.measurement)},""" +
          s""""partition":${q(r.partition)},"files_in":${r.filesIn},""" +
          s""""rows_in":${r.rowsIn},"rows_out":${r.rowsOut}}"""
      compCompleted.incrementAndGet()
      val resp = s"""{"success":true,"job_id":$jobId,"tier":${q(tier)},""" +
        s""""compacted":${compacted.mkString("[", ",", "]")},""" +
        s""""count":${compacted.size},"execution_time_ms":${(System.nanoTime() - t0) / 1e6}}"""
      compHistory.addLast(resp)
      while (compHistory.size() > ExecRingCap) compHistory.pollFirst()
      (tables, resp)
    } catch {
      case e: Throwable => compFailed.incrementAndGet(); throw e
    } finally compActive.remove(jobId)
  }

  // ---- tiering ---------------------------------------------------------------

  private def tierFiles(root: String, tier: String): Seq[(String, String, String, Long)] = {
    val rp = new Path(root)
    val fs = rp.getFileSystem(hconf)
    if (!fs.exists(rp)) return Nil
    val it = fs.listFiles(rp, true)
    val b = Seq.newBuilder[(String, String, String, Long)]
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (f.isFile && name.endsWith(".parquet")) {
        // {root}/{db}/{measurement}/year=…/… — db/meas from the relative path
        val rel = f.getPath.toUri.getPath.stripPrefix(rp.toUri.getPath).stripPrefix("/")
        val segs = rel.split('/')
        if (segs.length >= 3 && !segs(0).startsWith("_"))
          b += ((f.getPath.toString, segs(0), segs(1), f.getLen))
      }
    }
    b.result()
  }

  private def handleTieringStatus(ex: HttpExchange): Unit = {
    val hot = tierFiles(catalog.root, "hot")
    val cold = tierFiles(coldRoot, "cold")
    ok(ex, 200,
      s"""{"success":true,"tiers":{"hot":{"files":${hot.size},""" +
        s""""bytes":${hot.map(_._4).sum}},"cold":{"files":${cold.size},""" +
        s""""bytes":${cold.map(_._4).sum}}},"cold_root":${q(coldRoot)}}""")
  }

  private def handleTieringFiles(ex: HttpExchange): Unit = {
    val params = srv.queryParams(ex)
    val limit = params.get("limit").flatMap(_.toIntOption).getOrElse(100)
    val tierSel = params.get("tier")
    val dbSel = params.get("database")
    val all =
      (if (tierSel.forall(_ == "hot")) tierFiles(catalog.root, "hot").map(f => (f, "hot")) else Nil) ++
        (if (tierSel.forall(_ == "cold")) tierFiles(coldRoot, "cold").map(f => (f, "cold")) else Nil)
    val filtered = all.filter { case ((_, db, _, _), _) => dbSel.forall(_ == db) }
    val items = filtered.take(limit).map { case ((path, db, m, len), tier) =>
      s"""{"path":${q(path)},"tier":${q(tier)},"database":${q(db)},""" +
        s""""measurement":${q(m)},"size_bytes":$len}"""
    }
    ok(ex, 200,
      s"""{"success":true,"files":${items.mkString("[", ",", "]")},""" +
        s""""count":${filtered.size}}""")
  }

  /** POST /api/v1/tiering/migrate — move hour partitions older than
    * after_days to the cold root (tiering.go TriggerMigration) via the
    * library job; queries keep seeing both tiers (ensureViews registers
    * the hot∪cold union once a measurement has cold data). */
  private def handleTieringMigrate(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    val b = body(ex)
    val db = oText(b, "database").getOrElse {
      fail(ex, 400, "database is required"); return
    }
    if (!catalog.listDatabases().contains(db)) {
      fail(ex, 404, s"database not found: $db"); return
    }
    val afterDays = oInt(b, "after_days",
      effectivePolicy(db)._1)
    val ms = oText(b, "measurement").map(Seq(_)).getOrElse(catalog.listTables(db))
    val results = ms.map { m =>
      val r = Tiering.migrate(catalog, coldRoot, db, m, afterDays)
      if (r.migrated.nonEmpty) srv.invalidateView(db, m)
      s"""{"measurement":${q(m)},"migrated":${r.migrated.size},"kept":${r.kept}}"""
    }
    val elapsed = (System.nanoTime() - t0) / 1e6
    ok(ex, 200,
      s"""{"success":true,"database":${q(db)},"after_days":$afterDays,""" +
        s""""results":${results.mkString("[", ",", "]")},""" +
        s""""execution_time_ms":$elapsed}""")
  }

  /** POST /api/v1/tiering/scan — per-measurement tier census
    * (tiering.go ScanFiles). */
  private def handleTieringScan(ex: HttpExchange): Unit = {
    val byTable = (tierFiles(catalog.root, "hot").map(f => (f, "hot")) ++
      tierFiles(coldRoot, "cold").map(f => (f, "cold")))
      .groupBy { case ((_, db, m, _), _) => (db, m) }
    val items = byTable.toSeq.sortBy(_._1).map { case ((db, m), fs) =>
      val hot = fs.filter(_._2 == "hot")
      val cold = fs.filter(_._2 == "cold")
      s"""{"database":${q(db)},"measurement":${q(m)},""" +
        s""""hot_files":${hot.size},"hot_bytes":${hot.map(_._1._4).sum},""" +
        s""""cold_files":${cold.size},"cold_bytes":${cold.map(_._1._4).sum}}"""
    }
    ok(ex, 200,
      s"""{"success":true,"measurements":${items.mkString("[", ",", "]")},""" +
        s""""count":${items.size}}""")
  }

  private def effectivePolicy(db: String): (Int, Boolean, String) =
    tierPolicyStore.get(db) match {
      case Some(p) =>
        (oInt(p, "cold_after_days", defaultColdAfterDays),
          oBool(p, "enabled", d = true), "policy")
      case None => (defaultColdAfterDays, false, "default")
    }

  private def handleTierPolicyList(ex: HttpExchange): Unit =
    ok(ex, 200, tierPolicyStore.keys().flatMap(tierPolicyStore.get)
      .map(render).mkString("[", ",", "]"))

  private def handleTierPolicySet(ex: HttpExchange, db: String): Unit = {
    if (!catalog.isValidDatabaseName(db)) {
      fail(ex, 400, s"invalid database name: $db"); return
    }
    val b = body(ex)
    val days = oInt(b, "cold_after_days", defaultColdAfterDays)
    if (days < 0) { fail(ex, 400, "cold_after_days must be >= 0"); return }
    val node = mapper.createObjectNode()
    node.put("database", db)
    node.put("cold_after_days", days)
    node.put("enabled", oBool(b, "enabled", d = true))
    node.put("updated_at", nowIso())
    tierPolicyStore.put(db, node)
    ok(ex, 200, render(node))
  }

  private def handleTierPolicyEffective(ex: HttpExchange, db: String): Unit = {
    val (days, enabled, source) = effectivePolicy(db)
    ok(ex, 200,
      s"""{"database":${q(db)},"cold_after_days":$days,""" +
        s""""enabled":$enabled,"source":${q(source)}}""")
  }

  // ---- schedulers (scheduler.go:53-66) -------------------------------------

  /** GET /api/v1/schedulers — each kind's definition census and last
    * execution, the lifecycle loop's state, and each kind's outcome in
    * its last tick (scheduler.go:53-66). */
  private def handleSchedulers(ex: HttpExchange): Unit = {
    def census(store: Store): (Int, Int, String) = {
      val recs = store.all()
      val active = recs.count(r => oBool(r, "is_active", d = true))
      val last = recs.flatMap(r => oText(r, "last_execution_time"))
        .sorted.lastOption.map(q).getOrElse("null")
      (recs.size, active, last)
    }
    val (cqN, cqA, cqLast) = census(cqStore)
    val (rN, rA, rLast) = census(retentionStore)
    ok(ex, 200,
      s"""{"running":${lifecycle.running},"last_tick_time":${lifecycle.lastTickTimeJson},""" +
        s""""cq_scheduler":{"enabled":${cqA > 0},"job_count":$cqN,""" +
        s""""active":$cqA,"last_execution_time":$cqLast,""" +
        s""""last_tick":${lifecycle.lastTickJson("cq")}},""" +
        s""""retention_scheduler":{"enabled":${rA > 0},"policy_count":$rN,""" +
        s""""active":$rA,"last_execution_time":$rLast,""" +
        s""""last_tick":${lifecycle.lastTickJson("retention")}},""" +
        s""""compaction_scheduler":{"active_jobs":${compActive.size},""" +
        s""""total_completed":${compCompleted.get},""" +
        s""""total_failed":${compFailed.get},""" +
        s""""last_tick":${lifecycle.lastTickJson("compaction")}}}""")
  }

  /** POST /api/v1/schedulers/cq/reload — the tick re-reads definitions
    * from the store every time, so reload = re-census (scheduler.go
    * handleCQReload's envelope). */
  private def handleCqReload(ex: HttpExchange): Unit =
    ok(ex, 200,
      s"""{"message":"CQ scheduler reloaded successfully",""" +
        s""""job_count":${cqStore.ids().size}}""")

  /** POST /api/v1/schedulers/retention/trigger — run every ACTIVE
    * retention policy now (scheduler.go handleRetentionTrigger). */
  private def handleRetentionTriggerAll(ex: HttpExchange): Unit =
    exclusive(retentionBusy)(activePolicies().map(runRetention(_, dryRun = false, nowUs()))) match {
      case Some(runs) =>
        ok(ex, 200,
          s"""{"message":"Retention triggered successfully",""" +
            s""""policies_executed":${runs.size},"deleted_count":${runs.map(_.rows).sum}}""")
      case None => fail(ex, 409, "retention execution already in progress")
    }

  // ---- MQTT ---------------------------------------------------------------

  private def subStatus(id: Long): String = mqttStatus.getOrElse(id, "stopped")

  private def subWithStatus(n: ObjectNode): ObjectNode = {
    val out = n.deepCopy()
    out.put("status", subStatus(n.get("id").asLong))
    out
  }

  private def handleMqttHealth(ex: HttpExchange): Unit = {
    val ids = mqttStore.ids()
    val running = ids.count(id => subStatus(id) == "running")
    val errored = ids.count(id => subStatus(id) == "error")
    ok(ex, 200,
      s"""{"status":${q(if (errored > 0) "degraded" else "ok")},""" +
        s""""healthy":${errored == 0},"subscriptions":${ids.size},""" +
        s""""running":$running}""")
  }

  private def handleMqttStats(ex: HttpExchange): Unit = {
    val subs = mqttStore.all()
    var totalMsgs = 0L; var totalFailed = 0L
    var running = 0; var stopped = 0; var errored = 0
    val items = subs.map { n =>
      val id = n.get("id").asLong
      val st = subStatus(id)
      st match {
        case "running" => running += 1
        case "error" => errored += 1
        case _ => stopped += 1
      }
      val (recv, failed, reconn) = mqttRuntime.get(id)
        .map(s => (s.messagesReceived, s.messagesFailed, s.reconnects))
        .getOrElse((0L, 0L, 0L))
      totalMsgs += recv; totalFailed += failed
      s"""{"id":$id,"name":${q(n.get("name").asText)},"status":${q(st)},""" +
        s""""messages_received":$recv,"messages_failed":$failed,""" +
        s""""reconnects":$reconn}"""
    }
    ok(ex, 200,
      s"""{"success":true,"stats":{"subscriptions":${items.mkString("[", ",", "]")},""" +
        s""""summary":{"total_subscriptions":${subs.size},"running":$running,""" +
        s""""stopped":$stopped,"error":$errored,"total_messages":$totalMsgs,""" +
        s""""total_failed":$totalFailed}}}""")
  }

  private def validateSub(b: JsonNode): Either[String, ObjectNode] = {
    val name = oText(b, "name").getOrElse(return Left("name is required"))
    val host = oText(b, "broker_host").getOrElse(return Left("broker_host is required"))
    val port = oInt(b, "broker_port", 1883)
    if (port < 1 || port > 65535) return Left(s"invalid broker_port: $port")
    val topics = oArr(b, "topics")
    if (topics.isEmpty) return Left("topics is required (non-empty array)")
    val db = oText(b, "database").getOrElse("default")
    if (!catalog.isValidDatabaseName(db)) return Left(s"invalid database name: $db")
    val qos = oInt(b, "qos", 1)
    if (qos < 0 || qos > 1) return Left(s"unsupported qos: $qos (0 or 1)")
    val node = mapper.createObjectNode()
    node.put("name", name)
    node.put("broker_host", host)
    node.put("broker_port", port)
    val arr = node.putArray("topics")
    topics.foreach(arr.add)
    node.put("qos", qos)
    node.put("database", db)
    node.put("client_id", oText(b, "client_id").getOrElse(s"graft-sub-$name"))
    node.put("is_active", oBool(b, "is_active", d = true))
    Right(node)
  }

  private def handleSubList(ex: HttpExchange): Unit =
    ok(ex, 200, mqttStore.all().map(n => render(subWithStatus(n))).mkString("[", ",", "]"))

  private def handleSubGet(ex: HttpExchange, id: Long): Unit =
    mqttStore.get(id.toString) match {
      case Some(n) => ok(ex, 200, render(subWithStatus(n)))
      case None => fail(ex, 404, s"subscription not found: $id")
    }

  private def handleSubCreate(ex: HttpExchange): Unit =
    validateSub(body(ex)) match {
      case Left(e) => fail(ex, 400, e)
      case Right(node) =>
        val name = node.get("name").asText
        if (mqttStore.all().exists(_.get("name").asText == name)) { fail(ex, 409, s"subscription '$name' already exists"); return }
        node.put("created_at", nowIso())
        node.put("updated_at", nowIso())
        val id = mqttStore.create(node)
        mqttStatus.put(id, "stopped") // connect on explicit /start
        ok(ex, 201, render(subWithStatus(node)))
    }

  private def handleSubUpdate(ex: HttpExchange, id: Long): Unit =
    mqttStore.get(id.toString) match {
      case None => fail(ex, 404, s"subscription not found: $id")
      case Some(old) =>
        if (subStatus(id) == "running") {
          fail(ex, 409, "stop the subscription before updating it"); return
        }
        validateSub(body(ex)) match {
          case Left(e) => fail(ex, 400, e)
          case Right(node) =>
            node.put("id", id)
            node.set[ObjectNode]("created_at", old.get("created_at"))
            node.put("updated_at", nowIso())
            mqttStore.put(id.toString, node)
            ok(ex, 200, render(subWithStatus(node)))
        }
    }

  private def stopSubscription(id: Long): Unit =
    mqttRuntime.remove(id).foreach(s => try s.stop() catch { case _: Throwable => () })

  /** Disconnects every running subscriber; the server stops them before
    * its buffered ingester's final flush. */
  private[server] def stopSubscriptions(): Unit = mqttRuntime.keys.foreach { id =>
    stopSubscription(id)
    mqttStatus.put(id, "stopped")
  }

  private def handleSubDelete(ex: HttpExchange, id: Long): Unit = {
    stopSubscription(id)
    mqttStatus.remove(id)
    handleRemove(ex, mqttStore, id.toString, "subscription")
  }

  private def handleSubStats(ex: HttpExchange, id: Long): Unit =
    mqttStore.get(id.toString) match {
      case None => fail(ex, 404, s"subscription not found: $id")
      case Some(_) =>
        val (recv, failed, reconn) = mqttRuntime.get(id)
          .map(s => (s.messagesReceived, s.messagesFailed, s.reconnects))
          .getOrElse((0L, 0L, 0L))
        ok(ex, 200,
          s"""{"success":true,"id":$id,"status":${q(subStatus(id))},""" +
            s""""messages_received":$recv,"messages_failed":$failed,""" +
            s""""reconnects":$reconn}""")
    }

  /** start/stop/pause/restart a subscription's live subscriber
    * (mqtt_subscriptions.go:55-58). start connects immediately and fails
    * the request if the broker is unreachable (the subscriber's
    * fail-fast contract); pause is stop-that-stays-listed-as-paused. */
  private def handleSubLifecycle(ex: HttpExchange, id: Long, act: String): Unit = {
    val rec = mqttStore.get(id.toString) match {
      case None => fail(ex, 404, s"subscription not found: $id"); return
      case Some(r) => r
    }
    def startIt(): Unit = {
      val topics = (0 until rec.get("topics").size()).map(rec.get("topics").get(_).asText)
      val db = rec.get("database").asText
      // a payload that does not decode is refused like a bad name: the
      // subscriber still acknowledges it; a storage failure throws
      def deliver(payload: Array[Byte]): Boolean = {
        val batches = try MsgPack.decodeOrLineProtocol(payload)
          catch { case _: Exception => Nil }
        batches.nonEmpty && srv.writeCore(db, batches, Some(payload)).isRight
      }
      val sub = new MqttSubscriber(
        rec.get("broker_host").asText,
        rec.get("broker_port").asInt,
        topics,
        deliver,
        clientId = rec.get("client_id").asText,
        qos = rec.get("qos").asInt)
      try {
        sub.start()
        mqttRuntime.put(id, sub)
        mqttStatus.put(id, "running")
      } catch {
        case e: Throwable =>
          mqttStatus.put(id, "error")
          throw new IllegalStateException(
            s"failed to connect subscription $id: ${srv.msg(e)}")
      }
    }
    act match {
      case "start" =>
        if (subStatus(id) == "running") { fail(ex, 409, "already running"); return }
        startIt()
      case "stop" => stopSubscription(id); mqttStatus.put(id, "stopped")
      case "pause" => stopSubscription(id); mqttStatus.put(id, "paused")
      case "restart" => stopSubscription(id); startIt()
    }
    ok(ex, 200,
      s"""{"success":true,"id":$id,"status":${q(subStatus(id))}}""")
  }

  // ---- backup/restore (internal/backup + api/backup_routes.go) -----------

  /** Backups land under `{root}/_backups` unless re-pointed (underscore
    * prefix keeps the tree out of database listings and out of its own
    * backups). */
  @volatile var backupRoot: String = new Path(catalog.root, "_backups").toString

  // single-flight: the reference serializes backup/restore through one
  // Manager mutex and 409s a second request (backup_routes.go:58)
  private val backupBusy = new java.util.concurrent.atomic.AtomicBoolean(false)
  @volatile private var backupProgress: Option[String] = None

  private def setBackupProgress(op: String, id: String, status: String,
      startedAt: String, error: Option[String] = None): Unit =
    backupProgress = Some(
      s"""{"operation":${q(op)},"backup_id":${q(id)},"status":${q(status)},""" +
        s""""started_at":${q(startedAt)}""" +
        error.map(e => s""","error":${q(e)}""").getOrElse("") + "}")

  private def runBackupOp(ex: HttpExchange, op: String, id: String)
      (work: => Unit): Unit = {
    if (!backupBusy.compareAndSet(false, true)) {
      ok(ex, 409,
        s"""{"error":"A backup or restore operation is already in progress","status":"running","operation":${q(op)}}""")
      return
    }
    val started = nowIso()
    setBackupProgress(op, id, "running", started)
    val t = new Thread(() => {
      try { work; setBackupProgress(op, id, "completed", started) }
      catch { case e: Throwable =>
        setBackupProgress(op, id, "failed", started, Some(srv.msg(e)))
      } finally backupBusy.set(false)
    }, s"graft-$op")
    t.setDaemon(true)
    t.start()
    // 202 + poll /status, the reference's async contract
    ok(ex, 202,
      s"""{"message":"${op.capitalize} started","status":"running","backup_id":${q(id)}}""")
  }

  private def handleBackupCreate(ex: HttpExchange): Unit = {
    val n = body(ex)
    val includeMeta = oBool(n, "include_metadata", d = true)
    val id = s"backup-${System.currentTimeMillis()}"
    runBackupOp(ex, "backup", id) {
      graft.jobs.Backup.create(catalog, backupRoot, id,
        includeMetadata = includeMeta)
      ()
    }
  }

  private def handleBackupRestore(ex: HttpExchange): Unit = {
    val n = body(ex)
    val id = oText(n, "backup_id").getOrElse {
      fail(ex, 400, "backup_id is required"); return
    }
    // same charset the GET/DELETE path regex enforces — a traversal id
    // ("../..") would resolve outside backupRoot and restore an
    // arbitrary tree over the catalog (reference validBackupID)
    if (!id.matches("[A-Za-z0-9_-]+")) {
      fail(ex, 400, "Invalid backup ID format"); return
    }
    if (!oBool(n, "confirm")) {
      fail(ex, 400, "Restore requires confirm: true"); return
    }
    val data = oBool(n, "restore_data", d = true)
    val meta = oBool(n, "restore_metadata", d = true)
    val ice = oBool(n, "restore_iceberg_metadata", d = true)
    runBackupOp(ex, "restore", id) {
      val res = graft.jobs.Backup.restore(catalog, backupRoot, id,
        restoreData = data, restoreMetadata = meta, restoreIceberg = ice)
      // restored files replace what live views may have snapshot-listed
      res.databases.foreach { db =>
        catalog.listTables(db).foreach(m => srv.invalidateView(db, m))
      }
    }
  }

  private def handleBackupStatus(ex: HttpExchange): Unit =
    ok(ex, 200, backupProgress.getOrElse("""{"status":"idle"}"""))

  private def handleBackupList(ex: HttpExchange): Unit = {
    import org.json4s._
    val summaries = graft.jobs.Backup.list(srv.spark, backupRoot).map { m =>
      def s(f: String) = (m \ f) match {
        case JString(v) => q(v); case v => org.json4s.jackson.JsonMethods.compact(
          org.json4s.jackson.JsonMethods.render(v))
      }
      s"""{"backup_id":${s("backup_id")},"created_at":${s("created_at")},""" +
        s""""backup_type":${s("backup_type")},"total_files":${s("total_files")},""" +
        s""""total_size_bytes":${s("total_size_bytes")},""" +
        s""""database_count":${(m \ "databases").children.size}}"""
    }
    ok(ex, 200,
      s"""{"backups":${summaries.mkString("[", ",", "]")},"count":${summaries.size}}""")
  }

  private def handleBackupGet(ex: HttpExchange, id: String): Unit = {
    val p = new Path(new Path(backupRoot, id), "manifest.json")
    val fs = p.getFileSystem(hconf)
    if (!fs.exists(p)) { fail(ex, 404, "Backup not found"); return }
    val in = fs.open(p)
    val text = try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8) finally in.close()
    ok(ex, 200, org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(
        org.json4s.jackson.JsonMethods.parse(text))))
  }

  private def handleBackupDelete(ex: HttpExchange, id: String): Unit = {
    val p = new Path(backupRoot, id)
    val fs = p.getFileSystem(hconf)
    if (!fs.exists(p)) { fail(ex, 404, "Backup not found"); return }
    fs.delete(p, true)
    ok(ex, 200, s"""{"message":"Backup deleted","backup_id":${q(id)}}""")
  }
}
