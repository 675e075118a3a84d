package graft.catalog

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.util.Properties
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-measurement table configuration — replaces the reference's
  * Parquet footer metadata `arc:tags` / `arc:dedup_time` / `arc:decimals`
  * (arrow_writer.go:505-535) and arc.toml sort_keys with a per-directory
  * sidecar (SURVEY §1.3 recommends exactly this swap).
  */
final case class TableMeta(
    sortKeys: Seq[String] = Nil,
    tagColumns: Seq[String] = Nil,
    dedupTime: Boolean = false,
    decimals: Map[String, (Int, Int)] = Map.empty,
    // numeric/timestamp dims to Z-order-cluster at the daily rewrite
    // (operators.ZOrder); empty = plain sortKeys ordering
    zorderKeys: Seq[String] = Nil)

/** Measurement catalog over `{root}/{db}/{measurement}` Parquet trees
  * with Hive-style `year=/month=/day=/hour=` partitions (a deliberate
  * improvement over the reference's bare `YYYY/MM/DD/HH` layout —
  * Catalyst prunes Hive partitions natively, no regex path pruner
  * needed; SURVEY §4.1).
  *
  * All storage access goes through the Hadoop FileSystem API, so the
  * same code serves file://, s3a:// and abfs:// roots (the reference's
  * local/S3/Azure backends, internal/storage/).
  */
final class GraftCatalog(val spark: SparkSession, val root: String) {

  // engine-written parquet stores timestamps as INT64 micros, not
  // Spark's legacy INT96 default: INT96 chunks carry no usable footer
  // statistics (no min/max pushdown, no z-order ranges, no metadata-only
  // time bounds) and the Iceberg spec rejects the type outright — the
  // A12 export points external readers at these same files. Micros is
  // lossless for Spark's TimestampType (which is micros internally).
  spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")

  private def fs(p: Path): FileSystem = p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  def tablePath(db: String, measurement: String): String = s"$root/$db/$measurement"

  /** Day-compacted tier (reference Tier 2, internal/compaction/daily.go):
    * one file per day under `year=/month=/day=`, with `hour` carried as a
    * data column instead of a path segment. Kept as a sibling tree so the
    * two partition depths never mix inside one Hive discovery. */
  def dailyPath(db: String, measurement: String): String =
    s"$root/$db/$measurement${GraftCatalog.DailySuffix}"

  def dailyDayPath(db: String, m: String, year: Int, month: Int, day: Int): String =
    s"${dailyPath(db, m)}/year=$year/month=$month/day=$day"

  // ---- metadata sidecar ------------------------------------------------

  private def metaPath(db: String, m: String) = new Path(s"${tablePath(db, m)}/_graft_meta.properties")

  def writeMeta(db: String, m: String, meta: TableMeta): Unit = {
    val props = new Properties()
    props.setProperty("sortKeys", meta.sortKeys.mkString(","))
    props.setProperty("tagColumns", meta.tagColumns.mkString(","))
    props.setProperty("dedupTime", meta.dedupTime.toString)
    props.setProperty("decimals",
      meta.decimals.map { case (c, (p, s)) => s"$c:$p:$s" }.mkString(","))
    props.setProperty("zorderKeys", meta.zorderKeys.mkString(","))
    val path = metaPath(db, m)
    val f = fs(path)
    f.mkdirs(path.getParent)
    // tmp + overwrite-rename: the visible meta file is always a complete
    // snapshot. A direct create(path, true) let a concurrent readMeta
    // (every flush calls registerTags) observe a torn/half-written
    // properties file — surfaced by the sustained soak as a rare write
    // 500 under 12-thread mixed traffic.
    val tmp = new Path(path.getParent,
      s".${path.getName}.${Thread.currentThread().getId}.tmp")
    val out = f.create(tmp, true)
    try props.store(out, "graft table metadata") finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(f.getUri,
      spark.sparkContext.hadoopConfiguration)
    fc.rename(tmp, path, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  // per-table serialization of the meta read-modify-write: two
  // concurrent first flushes must not lose each other's tag unions
  private val metaLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Union-merge newly observed tag columns into the table meta. Tags
    * define series identity: compaction's dedup key and the
    * bloom-filtered columns must track every tag ever declared — a
    * first-batch-only registration would drop later tags at the first
    * rewrite. Returns the up-to-date meta. */
  def registerTags(db: String, m: String, tags: Seq[String]): TableMeta =
    metaLocks.computeIfAbsent(s"$db/$m", _ => new Object).synchronized {
      val meta = readMeta(db, m)
      val merged = (meta.tagColumns ++ tags).distinct
      if (merged == meta.tagColumns) meta
      else {
        val upd = meta.copy(tagColumns = merged)
        writeMeta(db, m, upd)
        upd
      }
    }

  def readMeta(db: String, m: String): TableMeta = {
    val path = metaPath(db, m)
    val f = fs(path)
    if (!f.exists(path)) TableMeta()
    else {
      val in = f.open(path)
      val props = new Properties()
      try props.load(in) finally in.close()
      def list(k: String) =
        Option(props.getProperty(k)).map(_.split(",").filter(_.nonEmpty).toSeq).getOrElse(Nil)
      TableMeta(
        sortKeys = list("sortKeys"),
        tagColumns = list("tagColumns"),
        dedupTime = Option(props.getProperty("dedupTime")).exists(_.toBoolean),
        decimals = list("decimals").map { s =>
          val Array(c, p, sc) = s.split(":")
          c -> (p.toInt, sc.toInt)
        }.toMap,
        zorderKeys = list("zorderKeys"))
    }
  }

  // ---- database lifecycle (reference internal/api/databases.go:
  // handleCreate :128, handleDelete :291, isValidDatabaseName :415) ------

  /** Reference name rule: starts with a letter; alphanumeric/_/- after;
    * max 64 chars. */
  def isValidDatabaseName(name: String): Boolean =
    name.nonEmpty && name.length <= 64 &&
      name.head.isLetter && name.head <= 'z' &&
      name.forall(c => (c.isLetterOrDigit && c <= 'z') || c == '_' || c == '-')

  /** Create an (empty) database directory. Idempotence matches the
    * reference: creating an existing database is an error. */
  def createDatabase(name: String): Unit = {
    require(isValidDatabaseName(name),
      s"invalid database name '$name': must start with a letter and contain " +
        "only alphanumeric characters, underscores, or hyphens (max 64 chars)")
    require(!GraftCatalog.ReservedDatabaseNames(name.toLowerCase),
      s"database name '$name' is reserved")
    val p = new Path(s"$root/$name")
    val f = fs(p)
    require(!f.exists(p), s"database '$name' already exists")
    f.mkdirs(p)
  }

  /** Delete a database tree. `confirm = true` is mandatory (reference
    * requires ?confirm=true and a delete.enabled config) and reserved
    * names are never deletable. */
  def deleteDatabase(name: String, confirm: Boolean = false): Unit = {
    require(confirm, s"deleting database '$name' requires confirm=true")
    require(!GraftCatalog.ReservedDatabaseNames(name.toLowerCase),
      s"cannot delete reserved database '$name'")
    require(isValidDatabaseName(name), s"invalid database name '$name'")
    val p = new Path(s"$root/$name")
    val f = fs(p)
    require(f.exists(p), s"database '$name' not found")
    f.delete(p, true)
  }

  // ---- listing (SHOW DATABASES / SHOW TABLES — reference implements
  // these as storage listings, query.go:3229-3465) ----------------------

  def listDatabases(): Seq[String] = {
    val r = new Path(root)
    val f = fs(r)
    if (!f.exists(r)) Nil
    else f.listStatus(r).filter(_.isDirectory).map(_.getPath.getName)
      // engine-internal trees (_cq watermarks, _iceberg metadata) are not
      // databases — same underscore convention listTables applies
      .filterNot(_.startsWith("_")).sorted.toSeq
  }

  def listTables(db: String): Seq[String] = {
    val p = new Path(s"$root/$db")
    val f = fs(p)
    if (!f.exists(p)) Nil
    else f.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
      .filterNot(_.endsWith(GraftCatalog.DailySuffix)) // tier dirs aren't tables
      .filterNot(_.startsWith("_")) // in-flight flush tmp dirs
      .sorted.toSeq
  }

  def showDatabases(): DataFrame = {
    import spark.implicits._
    listDatabases().toDF("database_name")
  }

  def showTables(db: String): DataFrame = {
    import spark.implicits._
    listTables(db).toDF("table_name")
  }

  // ---- reading ---------------------------------------------------------

  /** Read a measurement with union-by-name schema evolution — the Spark
    * equivalent of the reference's `union_by_name=true` on every scan
    * (query.go:2618-2620). Transparently unions the hour-partitioned tree
    * with the day-compacted tier when one exists: both expose
    * year/month/day/hour columns (partition columns in the hourly tree;
    * day-level partitions + an `hour` data column in the daily tier), so
    * year/month/day pruning stays partition-level everywhere and hour
    * predicates prune row groups in the sorted daily files. */
  def table(db: String, m: String): DataFrame = {
    def hasData(p: String): Boolean = {
      val path = new Path(p)
      val f = fs(path)
      f.exists(path) && f.globStatus(new Path(path, "year=*")).nonEmpty
    }
    val tiers = Seq(tablePath(db, m), dailyPath(db, m)).filter(hasData)
    require(tiers.nonEmpty, s"measurement $db/$m has no data")
    tableMultiTier(tiers)
  }

  /** Register as a temp view so `spark.sql` resolves `m` directly. */
  def register(db: String, m: String, viewName: Option[String] = None): Unit =
    table(db, m).createOrReplaceTempView(viewName.getOrElse(m))

  /** Multi-tier read: one logical table over hot+cold roots
    * (reference A3 multi-tier scan, query.go:2836-2921). Each root is
    * read with its own basePath (partition-column discovery is per
    * tier — two roots share no common base) and union'd by name. */
  def tableMultiTier(paths: Seq[String]): DataFrame =
    paths.map(tier).reduce(_.unionByName(_, allowMissingColumns = true))

  /** One tier root read with union-by-name schema evolution, its
    * partition columns discovered below `root`. */
  def tier(root: String): DataFrame =
    ParquetRead(spark, Seq(root), merge = true, Map("basePath" -> root))

  // ---- partition path helpers -----------------------------------------

  /** Partition values are unpadded — matching what Spark's partitionBy
    * writer emits (`month=6`, not `month=06`). */
  def partitionPath(db: String, m: String, year: Int, month: Int, day: Int,
      hour: Int): String =
    s"${tablePath(db, m)}/year=$year/month=$month/day=$day/hour=$hour"

  /** Enumerate hour-partition directories, optionally below a day cutoff
    * (epoch day) — used by retention and compaction scans. */
  def listHourPartitions(db: String, m: String): Seq[Path] = {
    val base = new Path(tablePath(db, m))
    val f = fs(base)
    if (!f.exists(base)) return Nil
    val out = mutable.ArrayBuffer.empty[Path]
    for (y <- f.listStatus(base) if y.isDirectory && y.getPath.getName.startsWith("year="))
      for (mo <- f.listStatus(y.getPath) if mo.isDirectory)
        for (d <- f.listStatus(mo.getPath) if d.isDirectory)
          for (h <- f.listStatus(d.getPath) if h.isDirectory)
            out += h.getPath
    out.toSeq.sortBy(_.toString)
  }

  /** Enumerate day-partition directories of the hourly tree (candidates
    * for daily compaction). */
  def listDayPartitions(db: String, m: String): Seq[Path] =
    listDayDirsUnder(new Path(tablePath(db, m)))

  /** Enumerate day directories of the daily tier. */
  def listDailyTierDays(db: String, m: String): Seq[Path] =
    listDayDirsUnder(new Path(dailyPath(db, m)))

  private def listDayDirsUnder(base: Path): Seq[Path] = {
    val f = fs(base)
    if (!f.exists(base)) return Nil
    val out = mutable.ArrayBuffer.empty[Path]
    for (y <- f.listStatus(base) if y.isDirectory && y.getPath.getName.startsWith("year="))
      for (mo <- f.listStatus(y.getPath) if mo.isDirectory)
        for (d <- f.listStatus(mo.getPath) if d.isDirectory)
          out += d.getPath
    out.toSeq.sortBy(_.toString)
  }
}

object GraftCatalog {
  /** Sibling-directory suffix of the day-compacted tier. */
  val DailySuffix = "__daily"
  /** Reference reservedDatabaseNames (databases.go:58). */
  val ReservedDatabaseNames: Set[String] = Set("system", "internal", "_internal")
}
