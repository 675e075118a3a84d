package graft.jobs

import graft.catalog.GraftCatalog
import org.apache.hadoop.fs.Path

/** Retention policy — scheduled deletion of partitions whose event-time
  * hour is older than `retentionDays` (+ a safety buffer), per
  * db/measurement. Path arithmetic plus parquet footers, no data scan —
  * the Spark mirror of the reference's retention scheduler
  * (internal/api/retention.go:54-67, :407).
  */
object Retention {

  /** The expired partitions, the parquet files and footer rows inside
    * them, and how many partitions stay. */
  final case class Result(deleted: Seq[String], files: Int, rows: Long, keptCount: Int)

  /** Cutoff hour (epoch-hours) for a policy evaluated at `nowMicros`. */
  def cutoffHour(retentionDays: Int, bufferDays: Int, nowMicros: Long): Long =
    nowMicros / 1000000L / 3600L - (retentionDays + bufferDays).toLong * 24L

  /** The expired partition set WITHOUT deleting anything — the dry-run
    * surface (retention.go's ExecuteRetentionRequest.DryRun). Hour
    * partitions expire when their hour is past the cutoff;
    * day-compacted partitions when their LAST hour is. */
  def expired(catalog: GraftCatalog, db: String, m: String,
      retentionDays: Int, bufferDays: Int = 0,
      nowMicros: () => Long = () => System.currentTimeMillis() * 1000L)
      : Result = {
    val (hours, days, kept) = Compaction.partitionsBefore(catalog, db, m,
      cutoffHour(retentionDays, bufferDays, nowMicros()))
    val conf = catalog.spark.sparkContext.hadoopConfiguration
    val parquets = (hours ++ days).flatMap(p => Compaction.parquetFiles(p.getFileSystem(conf), p))
    Result((hours ++ days).map(_.toString), parquets.size,
      Compaction.footerRowCount(conf, parquets), kept)
  }

  /** Delete the set [[expired]] lists, and return that set. */
  def apply(catalog: GraftCatalog, db: String, m: String,
      retentionDays: Int, bufferDays: Int = 0,
      nowMicros: () => Long = () => System.currentTimeMillis() * 1000L)
      : Result = {
    val res = expired(catalog, db, m, retentionDays, bufferDays, nowMicros)
    val conf = catalog.spark.sparkContext.hadoopConfiguration
    res.deleted.map(new Path(_)).foreach { p =>
      val fs = p.getFileSystem(conf)
      fs.delete(p, true)
      Compaction.pruneEmptyParents(fs, p)
    }
    res
  }
}
