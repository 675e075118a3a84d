package graft.server

import graft.jobs.{Compaction, ContinuousQuery, IcebergExport}
import graft.query.QueryFacade

import java.time.Instant
import java.util.concurrent.{Executors, ScheduledExecutorService, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import scala.util.control.NonFatal

/** The server's one lifecycle scheduler (reference:
  * internal/scheduler/cq_scheduler.go, retention_scheduler.go and
  * compaction's cron). A tick runs every active continuous query's due
  * windows, every active retention policy, and the compaction of every
  * database (hourly: 2 files an hour old; daily: 12 files a day old),
  * each through the job body and single-flight guard its HTTP route
  * uses: a kind an HTTP call is running is skipped for that tick.
  * `start` ticks on its own thread, so a long compaction never delays
  * the query-timeout scheduler's cancels.
  */
final class Lifecycle private[server] (admin: AdminApi) {
  import Lifecycle._

  private val log = org.slf4j.LoggerFactory.getLogger(classOf[Lifecycle])
  private val ticks = new AtomicLong
  @volatile private var last: Option[Tick] = None
  @volatile private var loop: Option[ScheduledExecutorService] = None

  def tick(nowUs: Long): Tick = {
    val failed = Seq.newBuilder[String]
    def isolated[T](what: String)(f: => T): Option[T] =
      try Some(f) catch {
        case NonFatal(e) =>
          log.warn(s"lifecycle tick: $what failed: ${e.getMessage}"); failed += what; None
      }
    val cq = admin.exclusive(admin.cqBusy)(admin.activeCqs().flatMap { rec =>
      val name = rec.get("name").asText
      isolated(s"cq $name")(name -> admin.runCq(rec, None, nowUs))
    }.toMap)
    val retention = admin.exclusive(admin.retentionBusy)(admin.activePolicies()
      .flatMap(p => isolated(s"retention ${p.get("name").asText}")(
        admin.runRetention(p, dryRun = false, nowUs)))
      .filter(_.measurements.nonEmpty))
    val compaction = admin.exclusive(admin.compBusy)(admin.catalog.listDatabases()
      .flatMap(db => isolated(s"compaction $db")(admin.runCompaction(
        admin.catalog.listTables(db).map((db, _)), Some(Gate(2, 1)), Some(Gate(12, 24)),
        nowUs)._1).getOrElse(Nil)))
    val t = Tick(nowUs, cq.getOrElse(Map.empty), retention.getOrElse(Nil),
      compaction.getOrElse(Nil), Seq("cq" -> cq, "retention" -> retention,
        "compaction" -> compaction).collect { case (kind, None) => kind }.toSet,
      failed.result())
    last = Some(t)
    ticks.incrementAndGet()
    t
  }

  /** Tick now, then `intervalMillis` after each tick ends; idempotent. */
  def start(intervalMillis: Long): Unit = synchronized {
    if (loop.isEmpty) {
      val ex = Executors.newSingleThreadScheduledExecutor(r => {
        val t = new Thread(r, "graft-lifecycle"); t.setDaemon(true); t
      })
      ex.scheduleWithFixedDelay(() =>
        try tick(System.currentTimeMillis() * 1000L)
        catch { case NonFatal(e) => log.warn(s"lifecycle tick failed: ${e.getMessage}") },
        0L, intervalMillis, TimeUnit.MILLISECONDS)
      loop = Some(ex)
    }
  }

  /** End the loop: a running tick finishes, and none starts after. */
  def stop(): Unit = synchronized {
    loop.foreach { ex => ex.shutdown(); ex.awaitTermination(10, TimeUnit.MINUTES) }
    loop = None
  }

  def running: Boolean = loop.nonEmpty
  def tickCount: Long = ticks.get

  private[server] def lastTickTimeJson: String = last.fold("null")(t =>
    QueryFacade.jsonStr(Instant.ofEpochMilli(t.nowUs / 1000L).toString))

  /** A kind's last tick: `skipped` when an HTTP call held its guard,
    * `failed` when a job threw; `jobs` counts the CQ windows run, the
    * policies that deleted, or the tables compacted. */
  private[server] def lastTickJson(kind: String): String = last.fold("null") { t =>
    val status =
      if (t.skipped(kind)) "skipped" else if (t.failed.exists(_.startsWith(s"$kind "))) "failed"
      else "ok"
    val jobs = kind match {
      case "cq" => t.cq.values.map(_.size).sum
      case "retention" => t.retention.size
      case _ => t.compaction.count(c => (c.hourly ++ c.daily).exists(_.compacted))
    }
    s"""{"status":"$status","jobs":$jobs}"""
  }
}

object Lifecycle {

  /** A compaction tier's bar: `minFiles` files at least `minAgeHours` old. */
  final case class Gate(minFiles: Int, minAgeHours: Int)

  /** One table's compaction: manifest entries replayed, hourly and daily
    * merges, and the Iceberg snapshot of an exported table. */
  final case class TableCompaction(db: String, measurement: String,
      recovered: Seq[String], hourly: Seq[Compaction.Result],
      daily: Seq[Compaction.Result], iceberg: Option[IcebergExport.Result])

  /** One retention run: the measurements it expired data of, and the
    * parquet files and rows that held. */
  final case class RetentionRun(cutoffIso: String,
      measurements: Seq[String], files: Int, rows: Long)

  /** One tick: CQ windows by CQ name, the retention runs that expired
    * something, each table's compaction, the kinds skipped, and the
    * jobs that threw. */
  final case class Tick(nowUs: Long,
      cq: Map[String, Seq[ContinuousQuery.Execution]],
      retention: Seq[RetentionRun], compaction: Seq[TableCompaction],
      skipped: Set[String], failed: Seq[String])
}
