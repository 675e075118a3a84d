package graft.query

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap

/** The serving-layer query facade — the Spark analog of the reference's
  * `/api/v1/query` pipeline (SURVEY §3.1). Everything the reference does
  * with regex rewrites (table-ref rewriting, SHOW interception, pruning)
  * is native here; what remains is the serving contract:
  *
  *  - JSON result envelope `{columns, data, row_count, execution_time_ms}`
  *    (internal/api/query.go:660-675), encoded from internal rows by
  *    schema-specialized appenders (RowCodec) with row caps pushed into
  *    the plan;
  *  - row caps (governance max-rows, query.go:1439-1468);
  *  - query registry + cancellation (internal/queryregistry) via Spark
  *    job groups;
  *  - estimate: `SELECT COUNT(*) FROM (q)` wrapper (query.go:3669-3671).
  */
final class QueryFacade(spark: SparkSession) {

  graft.GraftFunctions.registerAll(spark)

  private val seq = new AtomicLong(0)
  // job groups are unique per JVM, not per facade: a cancel aimed at one
  // facade's query must not reach another facade's query of the same id
  private val groupPrefix = s"graft-query-${QueryFacade.facades.incrementAndGet()}-"
  QueryFacade.watchCancelled(spark.sparkContext)
  // id -> (job group, sql, start ns)
  private val active = TrieMap.empty[Long, (String, String, Long)]

  /** Slow-query WARN threshold in ms; 0 = disabled (the reference's
    * `query.slow_query_threshold_ms`, internal/api/query.go:623,853-868:
    * WARN log with sql + execution time + row count, plus a counter).
    * Completed queries above it land in a bounded recent-slow ring for
    * the ops surface.
    *
    * DEFAULT = 0, deliberately: parity with the reference's shipped
    * default (config.go:1467 `SetDefault(..., 0)`); its example config
    * suggests 1000 ms when enabled (arc.toml:117) — exposed here as
    * [[QueryFacade.RecommendedSlowQueryThresholdMs]]. Decision recorded
    * in SCALE.md (round 5). */
  @volatile var slowQueryThresholdMs: Long = 0L

  private val slowTotal = new AtomicLong(0)
  private val recentSlow =
    new java.util.concurrent.ConcurrentLinkedDeque[QueryFacade.SlowQuery]()

  // completed/failed/cancelled queries, newest last (reference
  // queryregistry/registry.go:55 ring buffer, default size 100)
  private val history =
    new java.util.concurrent.ConcurrentLinkedDeque[QueryFacade.HistoryEntry]()
  private def addHistory(e: QueryFacade.HistoryEntry): Unit = {
    history.addLast(e)
    while (history.size() > QueryFacade.HistoryCap) history.pollFirst()
  }

  /** Most recent finished queries, NEWEST FIRST like the reference's
    * GetHistory (registry.go:211), capped at `limit`. */
  def recentHistory(limit: Int): Seq[QueryFacade.HistoryEntry] = {
    val it = history.descendingIterator()
    val b = Seq.newBuilder[QueryFacade.HistoryEntry]
    var n = 0
    while (it.hasNext && n < limit) { b += it.next(); n += 1 }
    b.result()
  }

  def historyLen: Int = history.size()

  def sql(q: String): DataFrame = spark.sql(q)

  /** SHOW DATABASES / SHOW TABLES [FROM db] intercepted as storage
    * listings against a catalog (the reference diverts these before the
    * executor, query.go:50-58); everything else goes to spark.sql. */
  def sqlWithShow(q: String, catalog: graft.catalog.GraftCatalog): DataFrame =
    sqlWithShow(q, catalog, spark.sql)

  /** Read-only gate for the serving surface: the reference's user-facing
    * query API blocks every state-changing statement (its
    * dangerousSQLPattern regex over comment-stripped, literal-masked
    * text, internal/api/query.go — DDL/DML/SET/ATTACH/COPY/…). The
    * Spark-first equivalent is an AST check, immune to the comment and
    * string-literal evasions the reference's regex has to strip first.
    *
    * The check walks the ENTIRE parsed tree — plan nodes, their
    * expressions, and every subquery plan inside those expressions — not
    * just the root: `WITH c AS (SELECT 1) INSERT INTO …` parses to an
    * UnresolvedWith whose CHILD is the insert, and a scalar subquery can
    * smuggle a blocked construct anywhere an expression fits. Blocked
    * anywhere in the tree:
    *
    *  - any `logical.Command` (CreateTable, DropTable, SetCommand, …)
    *    and the unresolved DML statements (InsertInto…, MergeInto…,
    *    UpdateTable, DeleteFrom…, matched by name because they only
    *    become Commands after analysis);
    *  - direct file-format relations (`SELECT * FROM parquet.`/path``,
    *    text.`/etc/passwd`, …) — arbitrary server-filesystem reads; the
    *    reference blocks this whole class on its query surface
    *    (dangerousSQLPattern's ATTACH/COPY/LOAD family);
    *  - `reflect` / `java_method` — arbitrary public-static-method
    *    invocation (e.g. java.lang.System.getenv) is RCE-class, blocked
    *    like the reference's EXEC/INSTALL patterns.
    *
    * SHOW is intercepted before this check by [[sqlWithShow]].
    * Throws IllegalArgumentException for blocked statements. */
  def requireReadOnly(session: org.apache.spark.sql.SparkSession, q: String): Unit = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedFunction, UnresolvedRelation}
    import org.apache.spark.sql.catalyst.expressions.{Expression, PlanExpression}
    import org.apache.spark.sql.catalyst.plans.logical.{Command, LogicalPlan}

    def deny(what: String): Nothing =
      throw new IllegalArgumentException(s"read-only query API: $what is not allowed")

    def checkExpr(e: Expression): Unit = e.foreach {
      case f: UnresolvedFunction
          if QueryFacade.BlockedFunctions.contains(
            f.nameParts.last.toLowerCase(java.util.Locale.ROOT)) =>
        deny(s"function ${f.nameParts.mkString(".")}")
      case pe: PlanExpression[_] => pe.plan match {
        case lp: LogicalPlan => checkPlan(lp)
        case _ => ()
      }
      case _ => ()
    }

    def checkPlan(plan: LogicalPlan): Unit = plan.foreach { node =>
      node match {
        case _: Command => deny(s"statement type ${node.getClass.getSimpleName}")
        case r: UnresolvedRelation
            if r.multipartIdentifier.length == 2 &&
              QueryFacade.FileFormatSources.contains(
                r.multipartIdentifier.head.toLowerCase(java.util.Locale.ROOT)) =>
          deny(s"direct file-format relation ${r.multipartIdentifier.head}.`…`")
        case n =>
          val nm = n.getClass.getSimpleName
          if (QueryFacade.BlockedNodePrefixes.exists(nm.startsWith))
            deny(s"statement type $nm")
      }
      node.expressions.foreach(checkExpr)
    }

    checkPlan(session.sessionState.sqlParser.parsePlan(q))
  }

  /** Every real table the query references, as multipart identifiers —
    * the RBAC batch-check input (reference:
    * internal/api/query.go:1081-1200 extractTableReferences, which
    * regex-scans comment-stripped, literal-masked SQL for FROM/JOIN and
    * then subtracts CTE names and function calls). The Spark-first
    * equivalent walks the PARSED tree: `UnresolvedRelation`s are exactly
    * the table refs (string literals, comments, and table-valued
    * functions never produce one), and CTE-defined names are excluded
    * with PROPER SCOPE — a name is shadowed only inside the
    * `UnresolvedWith` that defines it (its body, and each CTE definition
    * only by the names preceding it, plus its own under recursion).
    * Global subtraction would let `SELECT * FROM secret UNION ALL (WITH
    * secret AS (SELECT 1) SELECT * FROM secret)` hide the OUTER real
    * `secret` ref behind the inner CTE — an RBAC bypass. Subquery plans
    * inside expressions are walked in their enclosing scope —
    * `WHERE x IN (SELECT … FROM secret)` is a read of `secret`. */
  def tableReferences(session: org.apache.spark.sql.SparkSession,
      q: String): Seq[Seq[String]] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
    import org.apache.spark.sql.catalyst.expressions.PlanExpression
    import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnresolvedWith}

    val refs = scala.collection.mutable.LinkedHashSet.empty[Seq[String]]
    def lower(s: String) = s.toLowerCase(java.util.Locale.ROOT)

    def walk(plan: LogicalPlan, shadow: Set[String]): Unit = {
      plan match {
        case w: UnresolvedWith =>
          // each CTE body sees the names defined BEFORE it (backward
          // refs only), plus its own when recursion is allowed
          var seen = shadow
          w.cteRelations.foreach { rel =>
            val bodyScope =
              if (w.allowRecursion) seen + lower(rel._1) else seen
            walk(rel._2, bodyScope)
            seen += lower(rel._1)
          }
          walk(w.child, seen)
        case r: UnresolvedRelation =>
          val id = r.multipartIdentifier
          if (!(id.length == 1 && shadow.contains(lower(id.head))))
            refs += id
          ()
        case other =>
          other.children.foreach(walk(_, shadow))
      }
      plan.expressions.foreach(_.foreach {
        case pe: PlanExpression[_] => pe.plan match {
          case lp: LogicalPlan => walk(lp, shadow)
          case _ => ()
        }
        case _ => ()
      })
    }

    walk(session.sessionState.sqlParser.parsePlan(q), Set.empty)
    refs.toSeq
  }

  /** [[sqlWithShow]] with a custom runner for the non-SHOW branch (the
    * HTTP layer resolves views in a per-database child session). */
  def sqlWithShow(q: String, catalog: graft.catalog.GraftCatalog,
      run: String => DataFrame): DataFrame = {
    val showDb = "(?i)^\\s*SHOW\\s+DATABASES\\s*;?\\s*$".r
    val showTables = "(?i)^\\s*SHOW\\s+TABLES(?:\\s+FROM\\s+(\\w+))?\\s*;?\\s*$".r
    q match {
      case showDb() => catalog.showDatabases()
      case showTables(db) => catalog.showTables(Option(db).getOrElse("default"))
      case _ => run(q)
    }
  }

  /** Execute under a cancellable job group; returns (queryId, result). */
  def submit(q: String): (Long, DataFrame) = submit(q, spark.sql)

  /** [[submit]] with a custom planner (the HTTP layer routes through
    * [[sqlWithShow]] so SHOW interception shares the registry too).
    * Planning failure (AnalysisException on bad SQL) unwinds the
    * registration — otherwise every typo'd query would leak a phantom
    * registry entry AND leave the pooled thread's job group set, so a
    * later cancel aimed at the dead id would kill whatever unrelated
    * query that thread runs next. */
  def submit(q: String, run: String => DataFrame): (Long, DataFrame) = {
    val id = seq.incrementAndGet()
    val group = groupPrefix + id
    active.put(id, (group, q, System.nanoTime()))
    spark.sparkContext.setJobGroup(group, q, interruptOnCancel = true)
    // per-query FAIR pool from a FIXED hashed set: under
    // spark.scheduler.mode=FAIR, pools materialize on demand with
    // weight 1 each, so concurrent queries round-robin task slots
    // instead of FIFO-queueing behind the first long scan (the
    // reference serves 12 concurrent workers — a full scan must not
    // starve a COUNT(*)). The set is fixed at 16 because Spark never
    // removes a pool from the scheduler: a pool per query id would leak
    // one registry entry per query for the life of the context. In FIFO
    // mode the property is inert, so library users who keep the default
    // lose nothing.
    spark.sparkContext.setLocalProperty("spark.scheduler.pool",
      s"graft-pool-${id % QueryFacade.SchedulerPools}")
    try (id, run(q))
    catch {
      case e: Throwable =>
        active.remove(id).foreach { case (_, sql, t0) =>
          addHistory(QueryFacade.HistoryEntry(id, sql, "failed",
            System.currentTimeMillis(), (System.nanoTime() - t0) / 1e6,
            rows = -1L, error = Option(e.getMessage).getOrElse(e.toString)))
        }
        spark.sparkContext.clearJobGroup()
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
        throw e
    }
  }

  /** Cancel the query's running jobs AND any it starts later: a cancel
    * that lands while the query is still planning finds no job yet, and
    * a plain `cancelJobGroup` would let the query run on to completion. */
  def cancel(id: Long): Boolean =
    active.remove(id) match {
      case Some((group, sql, t0)) =>
        val sc = spark.sparkContext
        QueryFacade.cancelledGroups.add(group)
        sc.cancelJobGroup(group)
        // the submitting thread keeps its job group until complete();
        // when it cancels its own query, later jobs must not inherit it
        if (sc.getLocalProperty("spark.jobGroup.id") == group) sc.clearJobGroup()
        addHistory(QueryFacade.HistoryEntry(id, sql, "cancelled",
          System.currentTimeMillis(), (System.nanoTime() - t0) / 1e6,
          rows = -1L, error = ""))
        true
      case None => false
    }

  /** Mark a submitted query finished; `rows` (when the caller knows it)
    * lands in the slow-query record like the reference's handler logs. */
  def complete(id: Long, rows: Long = -1L): Unit = {
    QueryFacade.cancelledGroups.remove(groupPrefix + id)
    active.remove(id).foreach { case (_, sql, t0) =>
      val ms = (System.nanoTime() - t0) / 1e6
      addHistory(QueryFacade.HistoryEntry(id, sql, "completed",
        System.currentTimeMillis(), ms, rows, error = ""))
      val thr = slowQueryThresholdMs
      if (thr > 0 && ms >= thr) {
        slowTotal.incrementAndGet()
        recentSlow.addLast(QueryFacade.SlowQuery(sql, ms, rows,
          System.currentTimeMillis()))
        while (recentSlow.size() > QueryFacade.SlowRingCap) recentSlow.pollFirst()
        org.slf4j.LoggerFactory.getLogger(classOf[QueryFacade])
          .warn(f"slow query (${ms}%.1f ms >= $thr ms, rows=$rows): $sql")
      }
    }
    spark.sparkContext.clearJobGroup()
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
    // NOTE on checkpoint-block lifetime in a long-lived serving session:
    // operators (JaccardDedup, ContainmentDedup, GroupQuantile, …)
    // barrier intermediates via Materialize (localCheckpoint on local
    // masters, reliable checkpoint files otherwise), and those outlive
    // the query. They are reclaimed by Spark's ContextCleaner once the
    // driver-side RDD objects are GC'd (checkpoint files too, with
    // spark.cleaner.referenceTracking.cleanCheckpoints=true) — an
    // EXPLICIT ModelCheckpoint.sweep here is deliberately NOT done: the
    // sweep is session-global, and a swept localCheckpoint cannot be
    // recomputed (lineage truncated), so it would race ANY concurrent
    // checkpoint user outside this facade's registry (compaction jobs,
    // pipelines, a second facade). The sequential harnesses
    // (Bench/Verify) sweep between queries, where quiescence is
    // structural.
  }

  /** Total queries that crossed the slow threshold (the counter metric). */
  def slowQueryCount: Long = slowTotal.get()

  /** Most recent slow queries, oldest first (bounded ring). */
  def slowQueries: Seq[QueryFacade.SlowQuery] = {
    val it = recentSlow.iterator()
    val b = Seq.newBuilder[QueryFacade.SlowQuery]
    while (it.hasNext) b += it.next()
    b.result()
  }

  def activeQueries: Map[Long, String] =
    active.map { case (id, (group, _, _)) => id -> group }.toMap

  /** Row-count estimate with the reference's warning ladder
    * (query.go:3725-3740: none/low/medium/high at 1e4/1e5/1e6) — ONE
    * ladder, shared by the HTTP estimate endpoint so the two can't
    * drift. Returns (rows, warning_level, warning_message). */
  def estimate(q: String): (Long, String, String) = estimate(q, spark.sql)

  /** [[estimate]] with a custom runner (per-database sessions). */
  def estimate(q: String, run: String => DataFrame): (Long, String, String) = {
    val n = run(s"SELECT COUNT(*) AS n FROM ($q)").head().getLong(0)
    if (n > 1000000L)
      (n, "high", s"Large query ($n rows): may take minutes and significant memory.")
    else if (n > 100000L)
      (n, "medium", s"Medium query ($n rows): may take 30-60 seconds.")
    else if (n > 10000L)
      (n, "low", s"$n rows: should complete quickly.")
    else (n, "none", s"Small query ($n rows).")
  }

  /** Encode a result on the driver as the reference's JSON envelope,
    * from internal rows by schema-specialized appenders — no external
    * Row conversion, no per-value boxing (see [[RowCodec]]). */
  def toJsonEnvelope(df: DataFrame, maxRows: Long = Long.MaxValue): String = {
    val t0 = System.nanoTime()
    val capped = RowCodec.capped(df, maxRows)
    val sb = new StringBuilder(1 << 16)
    sb.append(QueryFacade.envelopeHead(capped.columns, ""))
    val n = RowCodec.appendJsonRows(capped.schema, RowCodec.internalRows(capped), sb)
    sb.append(QueryFacade.envelopeTail(n, t0))
    sb.toString
  }

  /** Stream the JSON envelope to `out` without ever materializing the
    * result on the driver: partitions encode their rows on the
    * executors, and the driver writes each wave of encoded chunks as it
    * arrives ([[RowCodec.foreachPartitionChunk]]). Driver memory is one
    * wave of chunks, independent of the result's total size, which is
    * what lets an uncapped 100M-row SELECT flow through a socket the way
    * the reference streams it (internal/api/query.go:1745, fasthttp
    * SetBodyStreamWriter). Same bytes as [[toJsonEnvelope]] apart from
    * `execution_time_ms`. Returns the row count written. */
  def writeJsonEnvelope(df: DataFrame, out: java.io.OutputStream,
      maxRows: Long = Long.MaxValue, headExtra: String = ""): Long = {
    import java.nio.charset.StandardCharsets.UTF_8
    val t0 = System.nanoTime()
    val capped = RowCodec.capped(df, maxRows)
    val schema = capped.schema
    // headExtra: pre-encoded `"k":v,` pairs the HTTP layer prepends
    // (success/timestamp in the reference envelope, query.go:660-675)
    out.write(QueryFacade.envelopeHead(capped.columns, headExtra).getBytes(UTF_8))
    var rows = 0L
    RowCodec.foreachPartitionChunk(capped) { it =>
      val sb = new StringBuilder(1 << 16)
      (RowCodec.appendJsonRows(schema, it, sb), sb.toString.getBytes(UTF_8))
    } { case (n, bytes) =>
      if (n > 0) {
        if (rows > 0) out.write(',')
        out.write(bytes)
        rows += n
      }
    }
    out.write(QueryFacade.envelopeTail(rows, t0).getBytes(UTF_8))
    rows
  }
}

/** Serializable JSON scalar encoding (shared by driver + executors). */
object QueryFacade {

  private val facades = new AtomicLong(0)

  /** Job groups of cancelled queries whose handlers have not completed.
    * Spark's `cancelJobGroupAndFutureJobs` does not cover the map-stage
    * jobs adaptive execution submits, so a listener cancels every job
    * that starts in one of these groups. */
  private val cancelledGroups = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private var watched: SparkContext = _

  private def watchCancelled(sc: SparkContext): Unit = synchronized {
    if (watched ne sc) {
      sc.addSparkListener(new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
            .filter(cancelledGroups.contains)
            .foreach(g => sc.cancelJob(e.jobId, s"job group $g was cancelled"))
      })
      watched = sc
    }
  }

  /** Size of the fixed FAIR-pool set queries hash into. 16 > the
    * reference's 12-worker concurrency target, so simultaneous queries
    * almost always land in distinct pools, while the scheduler registry
    * stays bounded (Spark never deletes a pool). */
  val SchedulerPools: Int = 16

  /** One slow-query record: the reference logs sql, execution time and
    * row count (rows = -1 when the caller never counted them). */
  final case class SlowQuery(sql: String, ms: Double, rows: Long, atMillis: Long)

  /** One finished query in the history ring (reference TrackedQuery,
    * queryregistry/registry.go:24 — the post-completion fields). */
  final case class HistoryEntry(id: Long, sql: String, status: String,
    endMillis: Long, durationMs: Double, rows: Long, error: String)

  /** History ring capacity (reference RegistryConfig default 100). */
  val HistoryCap = 100

  /** Unresolved-statement name prefixes that are DML before analysis
    * turns them into Commands (InsertIntoStatement, InsertIntoDir,
    * MergeIntoTable, UpdateTable, DeleteFromTable). */
  private[query] val BlockedNodePrefixes: Seq[String] =
    Seq("InsertInto", "MergeInto", "UpdateTable", "DeleteFrom")

  /** File-format datasource shortnames: a 2-part relation with one of
    * these as its qualifier is a direct filesystem read (`parquet.`…``),
    * bypassing the catalog entirely. */
  private[query] val FileFormatSources: Set[String] =
    Set("parquet", "csv", "json", "text", "orc", "avro", "binaryfile",
      "libsvm", "jdbc", "xml", "textfile")

  /** Expression functions blocked on the read-only surface: reflective
    * invocation of arbitrary public static methods. (private[graft]: the
    * admin delete WHERE validator shares the same denylist.) */
  private[graft] val BlockedFunctions: Set[String] = Set("reflect", "java_method")

  /** Bounded recent-slow ring size. */
  private[query] val SlowRingCap = 128

  /** The production threshold the reference's example config recommends
    * when enabling slow-query logging (arc.toml:117: `1000`). */
  val RecommendedSlowQueryThresholdMs = 1000L

  /** The JSON envelope up to its first row; `headExtra` is spliced in
    * after the opening brace. */
  private def envelopeHead(columns: Array[String], headExtra: String): String =
    "{" + headExtra + "\"columns\":[" + columns.map(jsonStr).mkString(",") +
      "],\"data\":["

  /** The JSON envelope after its last row, timed from `t0` (nanoTime). */
  private def envelopeTail(rows: Long, t0: Long): String = {
    val ms = (System.nanoTime() - t0) / 1e6
    s"""],"row_count":$rows,"execution_time_ms":${math.round(ms * 1000) / 1000.0}}"""
  }

  private[graft] def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
