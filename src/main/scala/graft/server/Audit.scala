package graft.server

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import java.nio.charset.StandardCharsets.UTF_8
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue

/** Structured audit trail — the reference's internal/audit: every
  * state-changing request (and optionally reads) becomes one typed
  * event `{timestamp, event_type, actor, method, path, database,
  * measurement, status_code, duration_ms}`. Events land as immutable
  * JSONL segment files under `{root}/_admin/audit/` — one file per
  * flushed batch (no cross-FS append dependency), fed by an in-memory
  * queue off the request path like the reference's channel + writerLoop
  * (audit.go:186). The read surface scans the segment files plus the
  * not-yet-durable pending batch; audit volume is request-rate-bounded,
  * not data-bounded, so a flat scan is the right cost model.
  */
final class Audit(root: String, hconf: Configuration) {

  /** Reads (GET) are skipped unless enabled — the reference's
    * `audit_log.include_reads` (middleware.go:31). */
  @volatile var includeReads: Boolean = false

  /** Never-audited paths (middleware.go excludedPaths). */
  private val excluded = Set("/health", "/healthz", "/metrics",
    "/api/v1/logs", "/ready", "/api/v1/ready")

  final case class Event(timestamp: String, eventType: String, actor: String,
      method: String, path: String, database: String, measurement: String,
      statusCode: Int, durationMs: Long) {
    def json: String = {
      def q(s: String) = graft.query.QueryFacade.jsonStr(s)
      s"""{"timestamp":${q(timestamp)},"event_type":${q(eventType)},""" +
        s""""actor":${q(actor)},"method":${q(method)},"path":${q(path)},""" +
        (if (database.nonEmpty) s""""database":${q(database)},""" else "") +
        (if (measurement.nonEmpty) s""""measurement":${q(measurement)},""" else "") +
        s""""status_code":$statusCode,"duration_ms":$durationMs}"""
    }
  }

  private val dir = new Path(root, "_admin/audit")
  private val queue = new ConcurrentLinkedQueue[Event]()
  private val writeLock = new Object
  // events since the last segment write — queryable immediately, made
  // durable in batches (an open hadoop local stream never lands bytes
  // before close: ChecksumFileSystem's hflush is a no-op, so segments
  // are written whole, one file per batch, like the reference's
  // channel + batch INSERT (audit.go:223 flushBatch))
  private var pending = Vector.empty[Event]
  private var segSeq = 0L

  /** Events per durable segment write. */
  var flushBatchSize: Int = 256

  /** Age-based durability bound (ms): a PARTIAL segment is written when
    * the oldest pending event has waited this long, so a lone event on a
    * quiet server becomes durable without needing 255 more requests
    * (r9 verdict #4 — before this, a crash on an idle server lost up to
    * flushBatchSize-1 acknowledged audit events). 0 disables. */
  @volatile var flushMaxAgeMs: Long = 5000L
  private var oldestPendingAtMs = 0L

  // background age flusher: on a QUIET server nothing else calls
  // flush(), so the age bound needs its own clock (the reference's
  // writerLoop ticks on a timer for the same reason, audit.go:186)
  private val ageFlusher = {
    val t = new java.util.concurrent.ScheduledThreadPoolExecutor(1,
      (r: Runnable) => {
        val th = new Thread(r, "audit-age-flush"); th.setDaemon(true); th
      })
    t.scheduleWithFixedDelay(
      () => try flush() catch { case _: Throwable => () },
      1000L, 1000L, java.util.concurrent.TimeUnit.MILLISECONDS)
    t
  }

  /** Queue an event (request path: O(1), no IO). */
  def record(method: String, path: String, statusCode: Int, durationMs: Long,
      actor: String, database: String, measurement: String): Unit = {
    if (excluded.contains(path)) return
    if (!includeReads && method == "GET") return
    queue.add(Event(Instant.now().toString,
      Audit.classify(method, path, statusCode), actor, method, path,
      database, measurement, statusCode, durationMs))
    ()
  }

  /** Days of audit history kept; 0 = keep forever. Enforced whenever a
    * segment is written (the reference's retentionLoop, audit.go:278 —
    * a standing timer is pointless when segments only appear on
    * writes). */
  @volatile var retentionDays: Int = 30

  private def writeSegment(events: Seq[Event]): Unit = {
    if (events.isEmpty) return
    val fs = dir.getFileSystem(hconf)
    fs.mkdirs(dir)
    segSeq += 1
    val name = f"audit-${System.currentTimeMillis()}%013d-$segSeq%06d.jsonl"
    val out = fs.create(new Path(dir, name), false)
    try events.foreach(e => out.write((e.json + "\n").getBytes(UTF_8)))
    finally out.close()
    // age out whole segments past the retention window (segment name
    // carries its write millis; a segment's newest event is younger
    // than the NEXT segment's name, so name-age is a safe bound)
    if (retentionDays > 0) {
      val cutoff = System.currentTimeMillis() - retentionDays * 86400000L
      fs.listStatus(dir).filter(_.isFile).map(_.getPath)
        .filter(_.getName.endsWith(".jsonl"))
        .foreach { p =>
          "audit-([0-9]+)-".r.findFirstMatchIn(p.getName)
            .map(_.group(1).toLong).filter(_ < cutoff)
            .foreach(_ => fs.delete(p, false))
        }
    }
  }

  /** Drain the queue into the pending buffer; write a durable segment
    * whenever a full batch accumulates (called after each request's
    * response closes — batching happens naturally under load). */
  def flush(): Unit = writeLock.synchronized {
    val wasEmpty = pending.isEmpty
    var e = queue.poll()
    while (e != null) { pending :+= e; e = queue.poll() }
    if (wasEmpty && pending.nonEmpty)
      oldestPendingAtMs = System.currentTimeMillis()
    val aged = flushMaxAgeMs > 0 && pending.nonEmpty &&
      System.currentTimeMillis() - oldestPendingAtMs >= flushMaxAgeMs
    if (pending.length >= flushBatchSize || aged) {
      writeSegment(pending)
      pending = Vector.empty
    }
  }

  /** Read events back, newest last, with the reference's filters
    * (audit.go:321 Query). */
  def query(eventType: Option[String] = None, actor: Option[String] = None,
      database: Option[String] = None, limit: Int = 100): Seq[String] = {
    flush()
    val fs = dir.getFileSystem(hconf)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val segLines =
      if (!fs.exists(dir)) Nil
      else fs.listStatus(dir).filter(_.isFile).map(_.getPath)
        .filter(_.getName.endsWith(".jsonl")).sortBy(_.getName).toSeq
        .flatMap { p =>
          val in = fs.open(p)
          try new String(in.readAllBytes(), UTF_8).linesIterator.toSeq
          finally in.close()
        }
    val lines = segLines ++ writeLock.synchronized(pending).map(_.json)
    lines.flatMap { l =>
      (try Some(mapper.readTree(l)) catch { case _: Throwable => None })
        .filter { n =>
          eventType.forall(v => Option(n.get("event_type")).exists(_.asText == v)) &&
            actor.forall(v => Option(n.get("actor")).exists(_.asText == v)) &&
            database.forall(v => Option(n.get("database")).exists(_.asText == v))
        }.map(_ => l)
    }.takeRight(limit)
  }

  /** Per-event-type counts (audit.go:395 Stats). */
  def stats(): Map[String, Long] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    query(limit = Int.MaxValue).groupBy { l =>
      Option(mapper.readTree(l).get("event_type")).map(_.asText).getOrElse("?")
    }.map { case (k, vs) => k -> vs.length.toLong }
  }

  def close(): Unit = {
    ageFlusher.shutdownNow()
    writeLock.synchronized {
      var e = queue.poll()
      while (e != null) { pending :+= e; e = queue.poll() }
      writeSegment(pending)
      pending = Vector.empty
    }
  }
}

object Audit {
  /** middleware.go:84 classifyEvent, with each token sub-route (revoke,
    * team membership add/remove) labelled by its own action rather than
    * as a token create or delete. */
  def classify(method: String, path: String, statusCode: Int): String = {
    if (statusCode == 401 || statusCode == 403) return "auth.failed"
    if (path.startsWith("/api/v1/auth/tokens")) method match {
      case "POST" =>
        return if (path.endsWith("/rotate")) "token.rotated"
          else if (path.endsWith("/revoke")) "token.revoked"
          else if (path.endsWith("/teams")) "token.team_added"
          else "token.created"
      case "DELETE" =>
        return if (path.contains("/teams/")) "token.team_removed" else "token.deleted"
      case _ => ()
    }
    if (path.startsWith("/api/v1/rbac/")) {
      val resource = path.stripPrefix("/api/v1/rbac/").split("/").headOption
        .getOrElse("unknown")
      return method match {
        case "POST" => s"rbac.$resource.created"
        case "PUT" | "PATCH" => s"rbac.$resource.updated"
        case "DELETE" => s"rbac.$resource.deleted"
        case _ => s"rbac.$resource.read"
      }
    }
    if (path.startsWith("/api/v1/query") || path.startsWith("/api/v1/sql"))
      return "data.query"
    if (path == "/write" || path == "/api/v2/write" ||
      path.startsWith("/api/v1/write")) return "data.write"
    if (path.startsWith("/api/v1/import")) return "data.import"
    if (path == "/api/v1/delete") return "data.delete"
    if (path.startsWith("/api/v1/databases")) method match {
      case "POST" => return "database.created"
      case "DELETE" => return "database.deleted"
      case _ => ()
    }
    if (path.startsWith("/api/v1/backup"))
      return if (path.endsWith("/restore")) "backup.restored" else "backup." +
        method.toLowerCase(java.util.Locale.ROOT)
    if (path.startsWith("/api/v1/mqtt"))
      return "mqtt." + method.toLowerCase(java.util.Locale.ROOT)
    if (path.startsWith("/api/v1/compaction")) return "compaction.triggered"
    if (path.startsWith("/api/v1/tiering"))
      return "tiering." + method.toLowerCase(java.util.Locale.ROOT)
    "api." + method.toLowerCase(java.util.Locale.ROOT)
  }
}
