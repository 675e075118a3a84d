package graft.jobs

import graft.catalog.{GraftCatalog, TableMeta}
import graft.ingest.HourPartitionedWriter
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Continuous query — scheduled re-execution of an aggregation SQL over
  * the window `[lastProcessed, now)`, writing results into a destination
  * measurement (reference: internal/api/continuous_query.go +
  * internal/scheduler/cq_scheduler.go).
  *
  * Faithfully mirrored semantics:
  *  - `{start_time}` / `{end_time}` placeholders substituted with µs
  *    timestamp literals;
  *  - if the result has no `time` column, every row is stamped with the
  *    **window start** — so re-running a window re-emits identical rows
  *    and compaction's dedup-on-(tags,time) collapses them
  *    (idempotent re-runs, reference issue #521 design);
  *  - destination table is marked dedupTime=true so compaction repairs
  *    duplicate emissions.
  */
final case class ContinuousQuery(
    name: String,
    sql: String,            // references registered views; may use placeholders
    destDb: String,
    destMeasurement: String,
    tagColumns: Seq[String] = Nil)

object ContinuousQuery {

  final case class Execution(windowStartMicros: Long, windowEndMicros: Long,
      rows: Long)

  private def microsLiteral(us: Long): String =
    s"TIMESTAMP '${java.time.LocalDateTime.ofEpochSecond(
      Math.floorDiv(us, 1000000L), (Math.floorMod(us, 1000000L) * 1000L).toInt,
      java.time.ZoneOffset.UTC)}'"

  def substitute(sql: String, startUs: Long, endUs: Long): String =
    sql.replace("{start_time}", microsLiteral(startUs))
      .replace("{end_time}", microsLiteral(endUs))

  /** Run one window and append results to the destination measurement. */
  def execute(catalog: GraftCatalog, cq: ContinuousQuery,
      windowStartUs: Long, windowEndUs: Long): Execution = {
    val spark = catalog.spark
    val result0 = spark.sql(substitute(cq.sql, windowStartUs, windowEndUs))
    val result: DataFrame =
      if (result0.columns.contains("time")) result0
      else result0.withColumn("time", timestamp_micros(lit(windowStartUs)))

    val meta = catalog.readMeta(cq.destDb, cq.destMeasurement)
    val want = meta.copy(
      dedupTime = true,
      tagColumns =
        if (meta.tagColumns.nonEmpty) meta.tagColumns else cq.tagColumns)
    // skip the sidecar rewrite when nothing changed — every window of
    // every CQ otherwise re-writes an identical file each tick
    if (want != meta) catalog.writeMeta(cq.destDb, cq.destMeasurement, want)

    // ONE execution per window: the writer counts the landed rows from
    // the moved files' parquet footers — a separate result.count() would
    // run the aggregation twice (2N scans per catch-up) and could even
    // disagree with what was written under concurrent source ingest
    val n = HourPartitionedWriter.write(catalog, cq.destDb,
      cq.destMeasurement, result, countRows = true)
    Execution(windowStartUs, windowEndUs, n)
  }

  /** Default first-run lookback when no watermark is stored — the
    * reference starts new CQs one hour back
    * (internal/api/continuous_query.go:531). */
  val DefaultLookbackUs: Long = 3600L * 1000000L

  /** Run every COMPLETE interval window from the persisted watermark up
    * to `now`, in order — the catch-up path after downtime (reference
    * cq_scheduler semantics: the watermark only advances on success, so
    * a stale watermark means the gap gets covered on the next tick;
    * internal/api/continuous_query.go:526-532,1250).
    *
    * Windows are floor-aligned to the interval so a window's identity —
    * and therefore its stamped output rows (`time` = window start) — is
    * the same no matter when it actually runs: re-running after a crash
    * re-emits identical rows and compaction's dedup collapses them.
    * Each window persists its watermark BEFORE the next starts, so a
    * crash mid-catch-up resumes exactly at the first unfinished window,
    * never re-running completed ones (except the idempotent-by-design
    * duplicate emission of the crashed window itself). */
  def catchUp(catalog: GraftCatalog, cq: ContinuousQuery, intervalUs: Long,
      nowUs: Long): Seq[Execution] = {
    require(intervalUs > 0, "intervalUs must be positive")
    def align(us: Long): Long = us - Math.floorMod(us, intervalUs)
    var w = CqState.load(catalog, cq.name) match {
      case Some(stored) => align(stored)
      case None => align(nowUs - DefaultLookbackUs)
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[Execution]
    while (w + intervalUs <= nowUs) {
      out += execute(catalog, cq, w, w + intervalUs)
      w += intervalUs
      CqState.store(catalog, cq.name, w)
    }
    out.toSeq
  }
}

/** File-backed last-processed persistence — the reference keeps
  * `last_processed_time` in its continuous_queries table and advances
  * it atomically with the execution record
  * (internal/api/continuous_query.go:220,1129,1250). One file per CQ
  * under `{root}/_cq/`, written via tmp + overwrite-rename so the
  * visible watermark is always a complete value. */
object CqState {

  private def stateFile(catalog: GraftCatalog, name: String) =
    new org.apache.hadoop.fs.Path(catalog.root, s"_cq/$name.watermark")

  def load(catalog: GraftCatalog, name: String): Option[Long] = {
    val p = stateFile(catalog, name)
    val fs = p.getFileSystem(catalog.spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong)
      catch { case _: NumberFormatException => None }
      finally in.close()
    }
  }

  def store(catalog: GraftCatalog, name: String, lastProcessedUs: Long): Unit = {
    val conf = catalog.spark.sparkContext.hadoopConfiguration
    val p = stateFile(catalog, name)
    val fs = p.getFileSystem(conf)
    fs.mkdirs(p.getParent)
    val tmp = new org.apache.hadoop.fs.Path(p.getParent, s".${p.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(lastProcessedUs.toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(fs.getUri, conf)
    fc.rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Forget a CQ's watermark, so a new CQ of the same name starts from
    * the first-run lookback. */
  def clear(catalog: GraftCatalog, name: String): Unit = {
    val p = stateFile(catalog, name)
    p.getFileSystem(catalog.spark.sparkContext.hadoopConfiguration).delete(p, false)
  }
}
