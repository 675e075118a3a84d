package graft.server

import java.lang.management.ManagementFactory
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedDeque
import java.util.concurrent.atomic.AtomicLong
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** Observability internals behind the reference's metrics subroutes
  * (internal/api/server.go:179-203): per-endpoint request statistics, a
  * bounded ring of real application log events, and a background
  * time-series sampler.
  *
  *  - endpoint stats feed `/api/v1/metrics/endpoints` — recorded by the
  *    server's dispatcher on EVERY request (count, errors, latency sum),
  *    keyed by the matched route's method and template so
  *    `/query/123/cancel` and `/query/456/cancel` share one row;
  *  - the log ring feeds `/api/v1/logs` — a log4j2 appender attached to
  *    the root logger at runtime captures genuine application events
  *    (the reference buffers its zerolog stream the same way,
  *    internal/logger); bounded deque, oldest evicted;
  *  - the sampler feeds `/api/v1/metrics/timeseries/{system,application,
  *    api}` — one snapshot every `sampleMillis` into per-type rings
  *    (24 h at the default 10 s cadence fits comfortably: 8 640 small
  *    points per type).
  *
  * Everything here is driver-local and O(bounded ring) — nothing scales
  * with data size or cluster size.
  */
final class Observability {

  // ---- per-endpoint stats -------------------------------------------------

  final class EndpointStat {
    val requests = new AtomicLong
    val errors = new AtomicLong
    val latencySumUs = new AtomicLong
  }

  private val endpoints = TrieMap.empty[String, EndpointStat]

  /** Count one request under `key`: the matched route's
    * `"$method $template"`, `UNMATCHED` or `OPTIONS *` — so the map holds
    * at most one entry per route plus two. */
  private[server] def record(key: String, status: Int, latencyUs: Long): Unit = {
    val s = endpoints.getOrElseUpdate(key, new EndpointStat)
    s.requests.incrementAndGet()
    if (status >= 400) s.errors.incrementAndGet()
    s.latencySumUs.addAndGet(latencyUs)
  }

  private[server] def endpointRows: Seq[(String, Long, Long, Long)] =
    endpoints.toSeq.sortBy(_._1).map { case (k, s) =>
      (k, s.requests.get, s.errors.get, s.latencySumUs.get)
    }

  private[server] def httpTotals: (Long, Long, Long) = {
    var req = 0L; var err = 0L; var lat = 0L
    endpoints.values.foreach { s =>
      req += s.requests.get; err += s.errors.get; lat += s.latencySumUs.get
    }
    (req, err, lat)
  }

  // ---- application log ring -----------------------------------------------

  final case class LogEntry(atMillis: Long, level: String, logger: String,
      message: String)

  private val logRing = new ConcurrentLinkedDeque[LogEntry]()
  private val LogRingCap = 4096

  private[server] def appendLog(e: LogEntry): Unit = {
    logRing.addLast(e)
    while (logRing.size() > LogRingCap) logRing.pollFirst()
  }

  private[server] def recentLogs(limit: Int, level: Option[String],
      sinceMinutes: Int): Seq[LogEntry] = {
    val cutoff = System.currentTimeMillis() - sinceMinutes.toLong * 60000L
    val want = level.map(_.toUpperCase)
    // newest-first like the reference's GetRecent
    logRing.descendingIterator().asScala
      .filter(_.atMillis >= cutoff)
      .filter(e => want.forall(_ == e.level))
      .take(limit).toSeq
  }

  /** Attach a log4j2 appender to the root logger so the ring sees every
    * application event (idempotent per Observability instance; removed
    * by [[stop]]). Fails soft when the binding isn't log4j2 — the logs
    * endpoint then serves whatever the server itself appended. */
  private var appenderName: Option[String] = None
  private[server] def attachLogAppender(): Unit = synchronized {
    if (appenderName.nonEmpty) return
    try {
      import org.apache.logging.log4j.LogManager
      import org.apache.logging.log4j.core.LoggerContext
      import org.apache.logging.log4j.core.appender.AbstractAppender
      val name = s"graft-log-ring-${System.identityHashCode(this)}"
      val app = new AbstractAppender(name, null, null, true,
          org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
        override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
          appendLog(LogEntry(e.getTimeMillis, e.getLevel.name(),
            e.getLoggerName, String.valueOf(e.getMessage.getFormattedMessage)))
      }
      app.start()
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      val cfg = ctx.getConfiguration
      cfg.addAppender(app)
      cfg.getRootLogger.addAppender(app,
        org.apache.logging.log4j.Level.INFO, null)
      ctx.updateLoggers()
      appenderName = Some(name)
    } catch {
      case _: Throwable => () // non-log4j2 binding: ring still usable directly
    }
  }

  private def detachLogAppender(): Unit = synchronized {
    appenderName.foreach { name =>
      try {
        import org.apache.logging.log4j.LogManager
        import org.apache.logging.log4j.core.LoggerContext
        val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
        val cfg = ctx.getConfiguration
        cfg.getRootLogger.removeAppender(name)
        Option(cfg.getAppender[org.apache.logging.log4j.core.Appender](name))
          .foreach(_.stop())
        ctx.updateLoggers()
      } catch { case _: Throwable => () }
    }
    appenderName = None
  }

  // ---- time-series sampler ---------------------------------------------------

  final case class TsPoint(atMillis: Long, values: Seq[(String, Double)])

  private val tsRings: Map[String, ConcurrentLinkedDeque[TsPoint]] =
    Seq("system", "application", "api").map(_ -> new ConcurrentLinkedDeque[TsPoint]()).toMap
  private val TsRingCap = 8640 // 24h at 10s

  /** Application-counter supplier, wired by the server (queries_total,
    * ingest totals, …). */
  @volatile private[server] var appCounters: () => Seq[(String, Long)] = () => Nil

  private[server] def sampleNow(): Unit = {
    val now = System.currentTimeMillis()
    val mem = ManagementFactory.getMemoryMXBean
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val os = ManagementFactory.getOperatingSystemMXBean
    def push(tpe: String, values: Seq[(String, Double)]): Unit = {
      val ring = tsRings(tpe)
      ring.addLast(TsPoint(now, values))
      while (ring.size() > TsRingCap) ring.pollFirst()
    }
    push("system", Seq(
      "heap_used_bytes" -> mem.getHeapMemoryUsage.getUsed.toDouble,
      "heap_committed_bytes" -> mem.getHeapMemoryUsage.getCommitted.toDouble,
      "gc_count" -> gcs.map(_.getCollectionCount.max(0L)).sum.toDouble,
      "gc_time_ms" -> gcs.map(_.getCollectionTime.max(0L)).sum.toDouble,
      "threads" -> ManagementFactory.getThreadMXBean.getThreadCount.toDouble,
      "load_average" -> os.getSystemLoadAverage))
    push("application",
      appCounters().map { case (k, v) => k -> v.toDouble })
    val (req, err, lat) = httpTotals
    push("api", Seq(
      "http_requests_total" -> req.toDouble,
      "http_errors_total" -> err.toDouble,
      "http_latency_avg_ms" ->
        (if (req > 0) lat.toDouble / req / 1000.0 else 0.0)))
  }

  private[server] def tsPoints(tpe: String, durationMinutes: Int): Option[Seq[TsPoint]] =
    tsRings.get(tpe).map { ring =>
      val cutoff = System.currentTimeMillis() - durationMinutes.toLong * 60000L
      ring.iterator().asScala.filter(_.atMillis >= cutoff).toSeq
    }

  @volatile private var samplerThread: Option[Thread] = None
  @volatile private var samplerRunning = false

  private[server] def start(sampleMillis: Long = 10000L): Unit = synchronized {
    attachLogAppender()
    if (samplerThread.nonEmpty) return
    samplerRunning = true
    val t = new Thread(() => {
      while (samplerRunning) {
        try sampleNow() catch { case _: Throwable => () }
        try Thread.sleep(sampleMillis) catch { case _: InterruptedException => () }
      }
    }, "graft-obs-sampler")
    t.setDaemon(true)
    samplerThread = Some(t)
    t.start()
  }

  private[server] def stop(): Unit = synchronized {
    samplerRunning = false
    samplerThread.foreach(_.interrupt())
    samplerThread = None
    detachLogAppender()
  }

  // ---- memory snapshot (the /metrics/memory payload) -------------------------

  /** JVM analog of the reference's runtime.MemStats dump
    * (server.go:294-350): heap/non-heap usage, per-collector GC stats,
    * thread and CPU counts. */
  private[server] def memoryJson(q: String => String): String = {
    val mem = ManagementFactory.getMemoryMXBean
    val heap = mem.getHeapMemoryUsage
    val nonHeap = mem.getNonHeapMemoryUsage
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val threads = ManagementFactory.getThreadMXBean
    val os = ManagementFactory.getOperatingSystemMXBean
    val rt = ManagementFactory.getRuntimeMXBean
    val gcJson = gcs.map(g =>
      s"""{"name":${q(g.getName)},"count":${g.getCollectionCount},""" +
        s""""time_ms":${g.getCollectionTime}}""").mkString("[", ",", "]")
    s"""{"timestamp":${q(Instant.now().toString)},"memory":{""" +
      s""""heap_used_bytes":${heap.getUsed},""" +
      s""""heap_committed_bytes":${heap.getCommitted},""" +
      s""""heap_max_bytes":${heap.getMax},""" +
      s""""non_heap_used_bytes":${nonHeap.getUsed},""" +
      s""""non_heap_committed_bytes":${nonHeap.getCommitted},""" +
      s""""gc_collectors":$gcJson,""" +
      s""""gc_count":${gcs.map(_.getCollectionCount.max(0L)).sum},""" +
      s""""gc_time_ms":${gcs.map(_.getCollectionTime.max(0L)).sum}},""" +
      s""""runtime":{"threads":${threads.getThreadCount},""" +
      s""""peak_threads":${threads.getPeakThreadCount},""" +
      s""""num_cpu":${Runtime.getRuntime.availableProcessors()},""" +
      s""""load_average":${os.getSystemLoadAverage},""" +
      s""""uptime_ms":${rt.getUptime},""" +
      s""""jvm_version":${q(System.getProperty("java.version", "unknown"))}}}"""
  }
}
