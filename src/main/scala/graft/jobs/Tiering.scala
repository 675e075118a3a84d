package graft.jobs

import graft.catalog.GraftCatalog
import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.DataFrame

/** Tiered storage — age-based migration of hour partitions from the hot
  * root to a cold root, with transparent query-time union (reference:
  * internal/tiering/ + the multi-tier scan, query.go:2836-2921).
  *
  * The move is a directory copy + delete through the Hadoop FileSystem
  * API, so hot=file:// cold=s3a:// works unchanged. Readers union both
  * roots (`tableMultiTier`), and because the layout is identical on both
  * tiers, partition pruning applies to each side.
  */
object Tiering {

  final case class Result(migrated: Seq[String], kept: Int)

  /** Migrate partitions older than `afterDays` from hot to cold — BOTH
    * layout tiers: hour partitions of the hourly tree AND day partitions
    * of the `{m}__daily` tree (with default daily compaction everything
    * older than ~a day lives THERE, so a migration blind to it would
    * no-op on exactly the data tiering exists for). */
  def migrate(catalog: GraftCatalog, coldRoot: String, db: String, m: String,
      afterDays: Int,
      nowMicros: () => Long = () => System.currentTimeMillis() * 1000L): Result = {
    val cutoffHour = nowMicros() / 1000000L / 3600L - afterDays.toLong * 24L
    val conf = catalog.spark.sparkContext.hadoopConfiguration

    def move(src: Path, hotBase: String, coldBase: String): Unit = {
      // compare scheme-free URI paths on both sides: listHourPartitions
      // returns fully-qualified paths (file:/…, s3a://…) and a raw
      // string stripPrefix against the unqualified base would silently
      // keep the scheme, nesting `file:/…` dirs under the cold root
      val rel = src.toUri.getPath
        .stripPrefix(new Path(hotBase).toUri.getPath).stripPrefix("/")
      val dst = new Path(s"$coldBase/$rel")
      val srcFs = src.getFileSystem(conf)
      val dstFs = dst.getFileSystem(conf)
      dstFs.mkdirs(dst.getParent)
      FileUtil.copy(srcFs, src, dstFs, dst, false, true, conf)
      srcFs.delete(src, true)
      Compaction.pruneEmptyParents(srcFs, src)
    }

    val (old, oldDays, kept) = Compaction.partitionsBefore(catalog, db, m, cutoffHour)
    old.foreach(move(_, catalog.tablePath(db, m), s"$coldRoot/$db/$m"))
    oldDays.foreach(move(_, catalog.dailyPath(db, m),
      s"$coldRoot/$db/$m${GraftCatalog.DailySuffix}"))
    Result((old ++ oldDays).map(_.toString), kept)
  }

  /** One logical table over both storage tiers AND both layout tiers
    * (union-by-name, all pruned). Presence test is a `year=*` glob, not
    * bare existence — an existing-but-hollow root would fail schema
    * inference instead of being skipped. */
  def table(catalog: GraftCatalog, coldRoot: String, db: String, m: String): DataFrame = {
    val conf = catalog.spark.sparkContext.hadoopConfiguration
    def hasData(p: Path): Boolean = {
      val f = p.getFileSystem(conf)
      f.exists(p) && f.globStatus(new Path(p, "year=*")).nonEmpty
    }
    val roots = Seq(
      new Path(catalog.tablePath(db, m)),
      new Path(catalog.dailyPath(db, m)),
      new Path(s"$coldRoot/$db/$m"),
      new Path(s"$coldRoot/$db/$m${GraftCatalog.DailySuffix}")).filter(hasData)
    require(roots.nonEmpty, s"measurement $db/$m has no data on either tier")
    catalog.tableMultiTier(roots.map(_.toString))
  }
}
