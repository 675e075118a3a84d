package graft.jobs

import graft.catalog.{GraftCatalog, ParquetRead, TableMeta}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Hourly/daily compaction with last-write-wins dedup — the reference's
  * core maintenance operator (internal/compaction/hourly.go, daily.go,
  * job.go, dedup.go):
  *
  *  - an hour partition qualifies when it has ≥ minFiles files and its
  *    hour is at least minAgeHours old (the "watermark" that makes merge
  *    safe — I5 in SURVEY §2.I);
  *  - mixed-type time repair: files written with string/int64 epoch time
  *    are coerced back to timestamp (dedup.go:238-259's
  *    COALESCE(TRY_CAST...) — here `coalesce(try micros, try cast)`);
  *  - dedup: one row per (tags..., time), latest file wins (the
  *    reference orders by file recency; flush files are named by flush
  *    nanos, so the file NAME sorts by recency lexically, within one
  *    hour directory and across the hours of a day);
  *  - output: one sorted ZSTD file per partition, sources atomically
  *    replaced (write to _compact_tmp, then swap).
  *
  * Scale: every compaction, hourly or daily, writes one file, like the
  * reference's one in-process `COPY (SELECT … ORDER BY …)` per hour.
  * An hour whose inputs fit the driver arm ([[onDriver]]: types the
  * direct writer stores, and bytes and rows × columns × 8 B within
  * `spark.sql.files.openCostInBytes`) is merged on the calling thread
  * with no Spark job ([[compactHourOnDriver]]): for a few MB, the job's
  * planning, stage, task serialization and commit protocol cost more
  * than the merge. Every other hour, and every day, is one Spark job
  * with no exchange ([[compactHourInSpark]], [[compactDay]]). The
  * read is coalesced to one partition BEFORE the dedup window, so the
  * window, the sort and the write run in one task. That job is the only
  * one: the read schema is merged on the driver from the input footers
  * the compaction opens once for its row count ([[readFooters]],
  * [[graft.catalog.ParquetRead.files]]), and an input list longer than
  * Spark's parallel-listing threshold is read without a listing job.
  * Nothing parallel is given up: one output file is written by one task
  * either way, and the partitions of one trigger run concurrently
  * through [[inParallel]]. No cross-partition shuffle is ever needed
  * because the dedup key (tags, time) is entirely inside one hour
  * partition. Census at `local[4]` (CompactionPlanSpec, SCALE.md): a
  * 30-file hour or a 25-file day took 5 jobs / 5 stages / 11 tasks with
  * the old hash-exchange window and `orderBy(...).coalesce(1)`, 2 / 2 / 5
  * with Spark's footer job for the schema, and takes 1 / 1 / 1 on the
  * Spark arm; so does a 40-file hour. A small hour takes 0 / 0 / 0.
  * Both hourly arms end in the same manifest-journaled swap
  * ([[swapIn]]), so recovery does not depend on the arm.
  */
object Compaction {

  /** One partition's outcome. `arm` names the arm that merged it,
    * [[DriverArm]] or [[SparkArm]]; empty when nothing was merged. */
  final case class Result(partition: String, filesIn: Int, rowsIn: Long,
      rowsOut: Long, compacted: Boolean, arm: String = "")

  val DriverArm = "driver"
  val SparkArm = "spark"

  /** Row count from parquet footers — metadata only, no Spark job (the
    * reference counts the same way, dedup.go:261-271). Compaction runs
    * over thousands of partitions per tick; a count() job per partition
    * just for reporting would double the scheduler's work. */
  private[graft] def footerRowCount(conf: Configuration, files: Seq[Path]): Long =
    rowCount(readFooters(conf, files))

  /** Each file's full footer, row groups included, opened once: the
    * compaction of a partition takes its input row count, column ranges
    * and read schema from this one pass. */
  private[graft] def readFooters(conf: Configuration, files: Seq[Path]): Seq[Footer] =
    files.map { f =>
      val r = openFooter(conf, f)
      try new Footer(f, r.getFooter) finally r.close()
    }

  private def rowCount(footers: Seq[Footer]): Long =
    footers.iterator.flatMap(_.getParquetMetadata.getBlocks.asScala).map(_.getRowCount).sum

  /** Footer reader that reuses `conf`. The `open` overload that takes
    * only the input file builds a fresh Hadoop `Configuration` per call
    * and re-parses the XML defaults for every footer it opens, which
    * made that parse most of the CPU compaction spent outside its tasks. */
  private def openFooter(conf: Configuration, f: Path): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(f, conf),
      HadoopReadOptions.builder(conf).build())

  /** (min, max) per requested numeric column across the files, from
    * the row-group statistics of their footers ([[readFooters]]) — no
    * data pass. A column maps to None when any file lacks stats for it
    * (missing column, all-null chunks, or a non-numeric physical type
    * such as INT96).
    *
    * Columns in `requireMicrosTs` must additionally be annotated
    * TIMESTAMP(MICROS) in EVERY file: stats are compared in one unit, and
    * a legacy file storing time as epoch millis/seconds (the mixed-type
    * fixture normalizeTime repairs) would otherwise contribute a range
    * off by 10^3+ — silently degenerating the quantization. */
  private[graft] def footerColumnRanges(footers: Seq[Footer],
      columns: Seq[String],
      requireMicrosTs: Set[String] = Set.empty): Map[String, Option[(Double, Double)]] = {
    import org.apache.parquet.schema.LogicalTypeAnnotation
    def num(v: Any): Option[Double] = v match {
      case n: java.lang.Number => Some(n.doubleValue())
      case _ => None
    }
    def isMicrosTs(c: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData): Boolean =
      c.getPrimitiveType.getLogicalTypeAnnotation match {
        case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS
        case _ => false
      }
    val perFile: Seq[Map[String, Option[(Double, Double)]]] = footers.map { f =>
      columns.map { column =>
        val ranges = f.getParquetMetadata.getBlocks.asScala.flatMap { b =>
          b.getColumns.asScala
            .find(_.getPath.toDotString == column)
            .flatMap { c =>
              val s = c.getStatistics
              if (s == null || !s.hasNonNullValue) None
              else if (requireMicrosTs.contains(column) && !isMicrosTs(c)) None
              else for {
                mn <- num(s.genericGetMin()); mx <- num(s.genericGetMax())
              } yield (mn, mx)
            }
        }
        column -> (if (ranges.isEmpty) None
                   else Some((ranges.map(_._1).min, ranges.map(_._2).max)))
      }.toMap
    }
    columns.map { c =>
      val rs = perFile.map(_(c))
      c -> (if (rs.isEmpty || rs.exists(_.isEmpty)) None
            else {
              val flat = rs.flatten
              Some((flat.map(_._1).min, flat.map(_._2).max))
            })
    }.toMap
  }

  private[graft] def footerColumnRange(conf: Configuration, files: Seq[Path],
      column: String): Option[(Double, Double)] =
    footerColumnRanges(readFooters(conf, files), Seq(column))(column)

  /** Compact one hour partition into one file when it holds at least
    * `minFiles` files. The input footers pick the arm: an hour that fits
    * [[onDriver]] is merged by [[compactHourOnDriver]] with no Spark job,
    * any other by [[compactHourInSpark]]. */
  def compactHour(catalog: GraftCatalog, db: String, m: String,
      partDir: Path, minFiles: Int = 2): Result = {
    val conf = catalog.spark.sparkContext.hadoopConfiguration
    val files = parquetFiles(partDir.getFileSystem(conf), partDir).sortBy(_.getName)
    if (files.length < minFiles)
      return Result(partDir.toString, files.length, 0, 0, compacted = false)
    val footers = readFooters(conf, files)
    driverSchema(footers).filter(onDriver(catalog.spark, footers, _)) match {
      case Some(schema) => compactHourOnDriver(catalog, db, m, partDir, footers, schema)
      case None => compactHourInSpark(catalog, db, m, partDir, footers)
    }
  }

  /** Whether the driver arm merges these inputs: [[driverSchema]] accepts
    * their columns, and both the files' bytes and their rows × columns ×
    * 8 B fit in `spark.sql.files.openCostInBytes`, the cutover below
    * which [[graft.plans.SmallScanCoalesce]] reads a scan as one
    * partition. Below it, a Spark job's planning, stage, task
    * serialization and commit protocol cost more than the merge itself;
    * the product bounds the heap the merge holds. */
  private[jobs] def onDriver(spark: SparkSession, footers: Seq[Footer],
      schema: MessageType): Boolean = {
    val cutover = org.apache.spark.sql.execution.datasources.parquet.FooterSchema
      .openCostInBytes(spark)
    val bytes = footers.iterator.flatMap(_.getParquetMetadata.getBlocks.asScala)
      .map(_.getCompressedSize).sum
    bytes <= cutover && BigInt(rowCount(footers)) * schema.getFieldCount * 8 <= cutover
  }

  /** The schema of the driver arm's output, when every input can be
    * merged without Spark: each file is flat and stores `time` as
    * UTC-adjusted INT64 TIMESTAMP(MICROS) with no null; each other column
    * is a plain INT64, DOUBLE, BOOLEAN or UTF8 BINARY, the types the
    * direct writer stores; and the files agree on each column's type and
    * name case. The fields are every file's columns, optional, in order
    * of first appearance, as Spark's merged read orders them. None sends
    * the hour to the Spark arm, which repairs mixed-type `time`, widens
    * disagreeing types and reads every other Parquet type. */
  private[jobs] def driverSchema(footers: Seq[Footer]): Option[MessageType] = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation => L, Type, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    def storable(t: Type): Boolean = t.isPrimitive && !t.isRepetition(Type.Repetition.REPEATED) && {
      val p = t.asPrimitiveType
      (p.getPrimitiveTypeName, p.getLogicalTypeAnnotation) match {
        case (INT64, ts: L.TimestampLogicalTypeAnnotation) =>
          t.getName == "time" && ts.isAdjustedToUTC && ts.getUnit == L.TimeUnit.MICROS
        case (INT64 | DOUBLE | BOOLEAN, null) => t.getName != "time"
        case (BINARY, _: L.StringLogicalTypeAnnotation) => t.getName != "time"
        case _ => false
      }
    }
    def timeHasNoNull(f: Footer): Boolean =
      f.getParquetMetadata.getBlocks.asScala.forall(_.getColumns.asScala
        .find(_.getPath.toDotString == "time")
        .exists(c => c.getStatistics != null && c.getStatistics.isNumNullsSet &&
          c.getStatistics.getNumNulls == 0))
    val fields = footers.map(_.getParquetMetadata.getFileMetaData.getSchema.getFields.asScala.toSeq)
    val all = fields.flatten
    val ok = footers.nonEmpty &&
      fields.forall(fs => fs.exists(_.getName == "time") && fs.forall(storable)) &&
      footers.forall(timeHasNoNull) &&
      all.groupBy(_.getName.toLowerCase(java.util.Locale.ROOT)).values.forall { same =>
        same.map(t => (t.getName, t.asPrimitiveType.getPrimitiveTypeName,
          t.getLogicalTypeAnnotation)).distinct.length == 1
      }
    Option.when(ok) {
      val b = Types.buildMessage()
      all.distinctBy(_.getName).foreach { t =>
        b.addField(Types.optional(t.asPrimitiveType.getPrimitiveTypeName)
          .as(t.getLogicalTypeAnnotation).named(t.getName))
      }
      b.named("graft")
    }
  }

  /** The driver arm: read the files of `footers` with parquet-mr
    * ([[ParquetRead.columns]]), keep one row per (tags..., time), the
    * row of the file whose name sorts last, sort by (sortKeys, time) and
    * write one bloom-filtered ZSTD file through the direct writer, all
    * on the calling thread. No Spark job. `schema` is the inputs'
    * [[driverSchema]]. */
  private[graft] def compactHourOnDriver(catalog: GraftCatalog, db: String, m: String,
      partDir: Path, footers: Seq[Footer], schema: MessageType): Result = {
    val conf = catalog.spark.sparkContext.hadoopConfiguration
    val meta = catalog.readMeta(db, m)
    val cols = ParquetRead.columns(conf, footers, schema)
    val all = Array.tabulate(cols("time").length)(identity)
    val kept =
      if (meta.tagColumns.isEmpty && !meta.dedupTime) all
      else latestPerKey(cols, meta.tagColumns.filter(cols.contains) :+ "time", all)
    val rows = graft.ingest.DirectParquetWriter.sortRows(cols, meta.sortKeys, kept)
    swapIn(catalog, db, m, partDir, footers, DriverArm) { tmp =>
      graft.ingest.DirectParquetWriter.writeFile(conf, new Path(tmp, "part-00000.parquet"),
        schema, cols, rows, meta.tagColumns)
    }
  }

  /** Of `rows`, the last row of each distinct value of `keys`, in input
    * order. The driver arm concatenates its files in name order, so the
    * last row of a key is the one of the newest file. */
  private def latestPerKey(cols: collection.Map[String, Array[Any]], keys: Seq[String],
      rows: Array[Int]): Array[Int] = {
    val keyCols = keys.map(cols).toArray
    val keyOf = rows.map(i => scala.collection.immutable.ArraySeq.unsafeWrapArray(
      keyCols.map(_(i))))
    val last = new java.util.HashMap[AnyRef, Int](rows.length * 2)
    keyOf.zip(rows).foreach { case (k, i) => last.put(k, i) }
    keyOf.zip(rows).collect { case (k, i) if last.get(k) == i => i }
  }

  /** The Spark arm: one Spark job reads the files of `footers`, repairs
    * mixed-type `time`, keeps one row per (tags..., time) with a window
    * and writes one sorted file. */
  private[graft] def compactHourInSpark(catalog: GraftCatalog, db: String, m: String,
      partDir: Path, footers: Seq[Footer]): Result = {
    val spark = catalog.spark
    val meta = catalog.readMeta(db, m)
    val deduped = readDeduped(spark, meta, footers)
    val sortCols = (meta.sortKeys.filter(deduped.columns.contains) :+ "time").map(col)
    val out = deduped.sortWithinPartitions(sortCols: _*)
    swapIn(catalog, db, m, partDir, footers, SparkArm) { tmp =>
      spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      out.write.mode("overwrite").option("compression", "zstd")
        .options(graft.ingest.HourPartitionedWriter.bloomOptions(
          meta.tagColumns.filter(deduped.columns.contains)))
        .parquet(tmp.toString)
    }
  }

  /** The tail both hourly arms share: `write` puts one file into the
    * hour's `_compact_tmp_` directory, which then replaces the inputs in
    * the crash-safe swap journaled in the per-table manifest (protocol
    * in CompactionManifest's scaladoc): record inputs + the ACTUAL tmp
    * output, rename IN, delete sources, clear the entry. Any crash point
    * is repaired deterministically by recover(): a crash before begin()
    * leaves only untracked tmp garbage (removed on the next pass). The
    * entry must list actual — not planned — outputs: a planned-but-never-
    * created output would make recovery roll back a committed swap.
    * Output uses the recency-ordered name scheme: it must sort OLDER than
    * any flush that lands after this compaction. */
  private def swapIn(catalog: GraftCatalog, db: String, m: String, partDir: Path,
      footers: Seq[Footer], arm: String)(write: Path => Unit): Result = {
    val conf = catalog.spark.sparkContext.hadoopConfiguration
    val fs = partDir.getFileSystem(conf)
    val files = footers.map(_.getFile)
    val tmp = new Path(partDir.getParent, s"_compact_tmp_${partDir.getName}")
    fs.delete(tmp, true)
    val compactUs = System.currentTimeMillis() * 1000L
    val tablePath = catalog.tablePath(db, m)
    write(tmp)
    val newFiles = parquetFiles(fs, tmp)
    require(newFiles.length == 1, s"one-partition write produced ${newFiles.length} files")
    val rowsOut = footerRowCount(conf, newFiles)
    val finalPath = new Path(partDir,
      graft.ingest.HourPartitionedWriter.flushFileName(m, compactUs, 0))
    CompactionManifest.begin(tablePath, conf, CompactionManifest.Entry(
      id = s"hourly:$partDir:$compactUs", tier = "hourly",
      partition = partDir.toString, tmpDir = tmp.toString,
      inputs = files.map(_.toString),
      outputs = Seq(finalPath.toString)))
    // failing loudly (not proceeding to delete inputs) keeps the
    // manifest entry in-flight, so recovery rolls the partial swap back
    if (!fs.rename(newFiles.head, finalPath))
      throw new java.io.IOException(
        s"compaction swap rename failed: ${newFiles.head} -> $finalPath")
    files.foreach(fs.delete(_, false))
    fs.delete(tmp, true)
    CompactionManifest.complete(tablePath, conf, s"hourly:$partDir:$compactUs")
    Result(partDir.toString, files.length, rowCount(footers), rowsOut, compacted = true, arm)
  }

  /** Daily compaction (Tier 2, reference internal/compaction/daily.go):
    * merge one fully-elapsed day's hour-level files (plus any existing
    * daily file, so late backfills re-merge) into ONE file in the
    * day-partitioned tier, with `hour` re-derived from event time as a
    * data column. Uses the same manifest-journaled swap as compactHour.
    *
    * Scale: a year-old measurement goes from ~8.8k hour files to 365 day
    * files; year/month/day pruning stays partition-level, hour predicates
    * prune row groups of the time-sorted day file.
    */
  def compactDay(catalog: GraftCatalog, db: String, m: String,
      dayDir: Path): Result = {
    val spark = catalog.spark
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = dayDir.getFileSystem(conf)

    def parquetFilesUnder(p: Path): Seq[Path] =
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).toSeq.flatMap {
        case d if d.isDirectory => parquetFilesUnder(d.getPath)
        case f if f.isFile && f.getPath.getName.endsWith(".parquet") => Seq(f.getPath)
        case _ => Nil
      }

    val (y, mo, d) = partitionDayValues(dayDir).getOrElse(
      return Result(dayDir.toString, 0, 0, 0, compacted = false))
    val dailyDay = new Path(catalog.dailyDayPath(db, m, y, mo, d))
    val hourFiles = parquetFilesUnder(dayDir).sortBy(_.getName)
    val dailyFiles = parquetFilesUnder(dailyDay).sortBy(_.getName)
    if (hourFiles.isEmpty)
      return Result(dayDir.toString, dailyFiles.length, 0, 0, compacted = false)
    val files = hourFiles ++ dailyFiles

    val meta = catalog.readMeta(db, m)
    val footers = readFooters(conf, files)
    val deduped = readDeduped(spark, meta, footers)
    val rowsIn = rowCount(footers)
    // Z-order at the daily rewrite when configured: these are the
    // long-lived files that absorb most scans, and the interleaved order
    // clusters EVERY z-key so row-group min/max stats prune range
    // predicates on each of them (operators.ZOrder). Dimension ranges
    // come from the input footers' statistics — no extra data pass; any
    // missing stat falls back to the plain sort-key order.
    val zKeys = meta.zorderKeys.filter(deduped.columns.contains)
    val tsKeys = zKeys.filter(k => deduped.schema(k).dataType ==
      org.apache.spark.sql.types.TimestampType).toSet
    val footerRanges =
      if (zKeys.isEmpty) Map.empty[String, Option[(Double, Double)]]
      else footerColumnRanges(footers, zKeys, requireMicrosTs = tsKeys)
    val zRanges: Seq[(org.apache.spark.sql.Column, Double, Double)] =
      zKeys.flatMap { k =>
        import org.apache.spark.sql.types._
        // align the compared expression with the footer stats' physical
        // unit: timestamps are INT64 micros (cast("double") would give
        // seconds), dates are INT32 days, decimals store UNSCALED ints
        // (descale the stats); DATE->DOUBLE is also an invalid cast, so
        // dates go through unix_date
        val (zc, rescale) = deduped.schema(k).dataType match {
          case TimestampType => (unix_micros(col(k)), 1.0)
          case DateType => (unix_date(col(k)), 1.0)
          case d: DecimalType => (col(k).cast("double"), math.pow(10, -d.scale))
          case _ => (col(k).cast("double"), 1.0)
        }
        footerRanges(k).map { case (mn, mx) => (zc, mn * rescale, mx * rescale) }
      }
    val orderCols: Seq[org.apache.spark.sql.Column] =
      if (zKeys.nonEmpty && zRanges.length == zKeys.length)
        Seq(graft.operators.ZOrder.zvalue(zRanges), col("time"))
      else (meta.sortKeys.filter(deduped.columns.contains) :+ "time").map(col)
    val out = deduped
      // path segment -> data column; UTC like the writer's partition
      // derivation, NOT the session-TZ hour() function
      .withColumn("hour", graft.ingest.HourPartitionedWriter.utcHour(col("time")))
      .sortWithinPartitions(orderCols: _*)

    val tmp = new Path(dailyDay.getParent, s"_compact_tmp_day_${dailyDay.getName}")
    fs.delete(tmp, true)
    val compactUs = System.currentTimeMillis() * 1000L
    val finalName = graft.ingest.HourPartitionedWriter
      .flushFileName(m, compactUs, 0).stripSuffix(".parquet") + "_daily.parquet"
    val tablePath = catalog.tablePath(db, m)
    CompactionManifest.begin(tablePath, conf, CompactionManifest.Entry(
      id = s"daily:${y}-${mo}-${d}:$compactUs", tier = "daily",
      partition = dayDir.toString, tmpDir = tmp.toString,
      inputs = files.map(_.toString),
      outputs = Seq(new Path(dailyDay, finalName).toString)))
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    out.write.mode("overwrite").option("compression", "zstd")
      .options(graft.ingest.HourPartitionedWriter.bloomOptions(
        meta.tagColumns.filter(deduped.columns.contains)))
      .parquet(tmp.toString)
    val newFiles = parquetFiles(fs, tmp)
    require(newFiles.length == 1, s"one-partition write produced ${newFiles.length} files")
    val rowsOut = footerRowCount(conf, newFiles)
    fs.mkdirs(dailyDay)
    if (!fs.rename(newFiles.head, new Path(dailyDay, finalName)))
      throw new java.io.IOException(
        s"daily swap rename failed: ${newFiles.head} -> $dailyDay/$finalName")
    // delete exactly the input files (a concurrent late flush into one of
    // these hours must survive), then prune now-empty hour/day/month/year
    // dirs — a hollow partition tree would keep the hourly tier in
    // table() reads with zero files behind it
    files.foreach(fs.delete(_, false))
    fs.delete(tmp, true)
    (fs.listStatus(dayDir).filter(_.isDirectory).map(_.getPath).toSeq :+ dayDir)
      .foreach { p =>
        if (fs.exists(p) && fs.listStatus(p).isEmpty) fs.delete(p, false)
      }
    var parent = dayDir.getParent
    while (parent != null && parent.getName.contains("=") &&
      fs.exists(parent) && fs.listStatus(parent).isEmpty) {
      fs.delete(parent, false)
      parent = parent.getParent
    }
    CompactionManifest.complete(tablePath, conf, s"daily:${y}-${mo}-${d}:$compactUs")
    Result(dayDir.toString, files.length, rowsIn, rowsOut, compacted = true, SparkArm)
  }

  /** Run daily compaction over every qualifying day (reference defaults:
    * MinFiles 12, MinAgeHours 24, SkipFileAgeCheckDays 7).
    *
    * A day qualifies when it has fully elapsed (`now > dayStart +
    * minAgeHours`), and either carries ≥ minFiles hour-level files or
    * already has a daily file (late backfill re-merge). Days less than 7
    * days old (SkipFileAgeCheckDays) also need their newest file ≥1h
    * old, so an in-progress backfill is never merged under it. */
  def runDaily(catalog: GraftCatalog, db: String, m: String,
      minFiles: Int = 12, minAgeHours: Int = 24,
      nowMicros: () => Long = () => System.currentTimeMillis() * 1000L)
      : Seq[Result] = {
    val conf = catalog.spark.sparkContext.hadoopConfiguration
    val nowUs = nowMicros()
    val due = catalog.listDayPartitions(db, m).filter { dayDir =>
      partitionDayValues(dayDir).exists { case (y, mo, d) =>
        val dayStartUs = java.time.LocalDate.of(y, mo, d)
          .atStartOfDay.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L
        val elapsed = nowUs > dayStartUs + minAgeHours.toLong * 3600L * 1000000L
        elapsed && {
          val fs = dayDir.getFileSystem(conf)
          val hourFiles = fs.listStatus(dayDir).filter(_.isDirectory)
            .flatMap(h => fs.listStatus(h.getPath))
            .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
          val dailyDay = new Path(catalog.dailyDayPath(db, m, y, mo, d))
          val hasDaily = fs.exists(dailyDay) && parquetFiles(fs, dailyDay).nonEmpty
          val enoughFiles = hourFiles.length >= minFiles || hasDaily
          val veryOld = nowUs > dayStartUs + 7L * 24L * 3600L * 1000000L
          val settled = veryOld || (hourFiles.nonEmpty &&
            hourFiles.map(_.getModificationTime).max * 1000L <= nowUs - 3600L * 1000000L)
          hourFiles.nonEmpty && enoughFiles && settled
        }
      }
    }
    inParallel(due)(dayDir => compactDay(catalog, db, m, dayDir))
  }

  /** Read the files of `footers` as one time-repaired frame with one
    * row per (tags..., time), the latest file winning. Recency is the
    * file NAME, which sorts by flush time within an hour directory and
    * across the hours of a day. The read is coalesced to a single
    * partition BEFORE the dedup window: the window then needs no
    * exchange, and the caller's sort and write stay in that one task. */
  private def readDeduped(spark: SparkSession, meta: TableMeta,
      footers: Seq[Footer]): DataFrame = {
    val srcName = substring_index(input_file_name(), "/", -1)
    // union-by-name with type coercion: merging the footers' schemas fails
    // when one file wrote `time` as string/int64 (the mixed-type fixture
    // the reference repairs, dedup.go:238-259) — fall back to per-file
    // reads, repair each, then unionByName.
    val repaired =
      try normalizeTime(ParquetRead.files(spark, footers).withColumn("_src", srcName))
      catch {
        case _: org.apache.spark.SparkException =>
          footers.map { f =>
            normalizeTime(ParquetRead.files(spark, Seq(f)).withColumn("_src", srcName))
          }.reduce(_.unionByName(_, allowMissingColumns = true))
      }
    val in = repaired.coalesce(1)
    if (meta.tagColumns.isEmpty && !meta.dedupTime) in.drop("_src")
    else {
      val keys = (meta.tagColumns.filter(in.columns.contains) :+ "time").map(col)
      val w = Window.partitionBy(keys: _*).orderBy(col("_src").desc)
      in.withColumn("_rn", row_number().over(w))
        .where(col("_rn") === 1).drop("_rn", "_src")
    }
  }

  /** Repair a `time` column that may arrive as int64 epoch (any unit) or
    * string epoch seconds — mirror of dedup.go:238-259. */
  private[jobs] def normalizeTime(df: DataFrame): DataFrame =
    df.schema("time").dataType.typeName match {
      case "timestamp" => df
      case "long" =>
        df.withColumn("time", timestamp_micros(normalizeMicrosExpr(col("time"))))
      case "string" =>
        df.withColumn("time",
          coalesce(
            try_to_timestamp(col("time")),
            timestamp_micros(normalizeMicrosExpr(col("time").cast("long")))))
      case _ => df.withColumn("time", col("time").cast("timestamp"))
    }

  /** Magnitude-based unit detection as a Column expression — shared
    * vectorized TimestampUnits (int64-exact in the ns band; the old
    * floor(v/1000) divided in double and drifted ±1 µs at ns epochs). */
  private def normalizeMicrosExpr(v: org.apache.spark.sql.Column) =
    graft.ingest.TimestampUnits.toMicrosCol(v)

  /** Bounded driver-side fan-out: partitions compact independently, so
    * their merges run concurrently — driver-arm merges on the pool's
    * threads, Spark jobs interleaved by Spark's scheduler; a serial loop
    * would leave the cores idle between partitions. Manifest writes are serialized per
    * table inside CompactionManifest, and concurrent swaps share one
    * write (group commit). Delegates to [[BoundedParallel]]
    * (shared with bulk import). */
  private[jobs] def inParallel[A, B](items: Seq[A], width: Int = 8)(f: A => B): Seq[B] =
    BoundedParallel.run(items, width)(f)

  /** Compact every qualifying hour partition of a measurement.
    * `parallelism` bounds the concurrent per-partition jobs (1 =
    * serial; LifecycleSpec pins sublinear backlog wall-time vs it). */
  def runHourly(catalog: GraftCatalog, db: String, m: String,
      minFiles: Int = 2, minAgeHours: Int = 1,
      nowMicros: () => Long = () => System.currentTimeMillis() * 1000L,
      parallelism: Int = 8): Seq[Result] = {
    val cutoffHour = (nowMicros() / 1000000L / 3600L) - minAgeHours
    val due = catalog.listHourPartitions(db, m).filter(p =>
      partitionHourEpoch(p).exists(_ <= cutoffHour))
    inParallel(due, parallelism)(p => compactHour(catalog, db, m, p, minFiles))
  }

  /** Startup recovery (reference: internal/compaction/manifest.go +
    * watcher.go): replay the in-flight manifest — every journaled swap is
    * either completed (all outputs landed → finish deleting sources) or
    * rolled back (outputs incomplete → drop them; sources are intact) —
    * then sweep stale `_compact_tmp_*` dirs in both tiers. */
  def recover(catalog: GraftCatalog, db: String, m: String): Seq[String] = {
    val conf = catalog.spark.sparkContext.hadoopConfiguration
    val tablePath = catalog.tablePath(db, m)
    val actions = scala.collection.mutable.ArrayBuffer.empty[String]
    CompactionManifest.load(tablePath, conf).foreach { e =>
      val what = CompactionManifest.recoverEntry(conf, e)
      CompactionManifest.complete(tablePath, conf, e.id)
      actions += s"$what:${e.partition}"
    }
    val tmpParents =
      catalog.listHourPartitions(db, m).map(_.getParent) ++
        catalog.listDailyTierDays(db, m).map(_.getParent)
    tmpParents.distinct.foreach { parent =>
      val fs = parent.getFileSystem(conf)
      fs.listStatus(parent)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("_compact_tmp_"))
        .foreach { s => fs.delete(s.getPath, true); actions += s.getPath.toString }
    }
    // abandoned targeted-delete staging dirs: journaled swaps were
    // replayed above, so any `_delete_tmp_*` older than the abandonment
    // cutoff is a crash-before-begin leftover (the original file is
    // intact in that window — the tmp is pure garbage). Age-gated so a
    // LIVE HTTP-triggered delete racing this recover keeps its staging.
    locally {
      val cutoff = System.currentTimeMillis() - 3600000L
      (catalog.listHourPartitions(db, m) ++ catalog.listDailyTierDays(db, m))
        .foreach { dir =>
          val fs = dir.getFileSystem(conf)
          fs.listStatus(dir)
            .filter(s => s.isDirectory &&
              s.getPath.getName.startsWith("_delete_tmp_") &&
              s.getModificationTime < cutoff)
            .foreach { s => fs.delete(s.getPath, true); actions += s.getPath.toString }
        }
    }
    // abandoned flush-tmp trees: a failed HourPartitionedWriter.write
    // leaves its tmp tree in place for the caller's retry (every ingest
    // path re-submits the batch: a CQ re-runs its window from the
    // watermark, bulk import surfaces the error). Nothing
    // ever re-reads the tree itself, so once it is clearly abandoned
    // (an hour old — in-flight flushes run seconds) it is swept here,
    // bounding the leak a persistently flaky store would otherwise grow.
    locally {
      val tableP = new Path(tablePath)
      val fs = tableP.getFileSystem(conf)
      val dbDir = tableP.getParent
      val cutoff = System.currentTimeMillis() - 3600000L
      if (fs.exists(dbDir))
        fs.listStatus(dbDir)
          .filter(s => s.isDirectory &&
            s.getPath.getName.startsWith(s"_flush_tmp_${m}_") &&
            s.getModificationTime < cutoff)
          .foreach { s => fs.delete(s.getPath, true); actions += s.getPath.toString }
    }
    // abandoned direct-flush files: DirectParquetWriter writes
    // `.{name}.inprogress` in the hour dir and renames on close — a
    // crash between create and rename strands the dotfile (invisible to
    // readers, but it accumulates bytes). Same one-hour abandonment
    // cutoff as the tmp trees above.
    locally {
      val cutoff = System.currentTimeMillis() - 3600000L
      catalog.listHourPartitions(db, m).foreach { hourDir =>
        val fs = hourDir.getFileSystem(conf)
        fs.listStatus(hourDir)
          .filter(s => s.isFile && s.getPath.getName.startsWith(".") &&
            s.getPath.getName.endsWith(".inprogress") &&
            s.getModificationTime < cutoff)
          .foreach { s => fs.delete(s.getPath, false); actions += s.getPath.toString }
      }
    }
    actions.toSeq
  }

  /** (year, month, day) of a .../year=Y/month=M/day=D path. */
  private[jobs] def partitionDayValues(p: Path): Option[(Int, Int, Int)] = {
    def v(seg: String): Option[Int] = {
      val i = seg.indexOf('=')
      if (i < 0) None else seg.substring(i + 1).toIntOption
    }
    for {
      d <- v(p.getName)
      mo <- v(p.getParent.getName)
      y <- v(p.getParent.getParent.getName)
    } yield (y, mo, d)
  }

  /** The parquet files directly in `dir`. */
  private[graft] def parquetFiles(fs: FileSystem, dir: Path): Seq[Path] =
    fs.listStatus(dir).toSeq.filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .map(_.getPath)

  /** Epoch hour of a .../year=Y/month=M/day=D/hour=H path. */
  private[jobs] def partitionHourEpoch(p: Path): Option[Long] = {
    def v(seg: String): Option[Int] = {
      val i = seg.indexOf('=')
      if (i < 0) None else seg.substring(i + 1).toIntOption
    }
    for {
      h <- v(p.getName)
      d <- v(p.getParent.getName)
      mo <- v(p.getParent.getParent.getName)
      y <- v(p.getParent.getParent.getParent.getName)
    } yield java.time.LocalDateTime.of(y, mo, d, h, 0)
      .toEpochSecond(java.time.ZoneOffset.UTC) / 3600L
  }

  /** The partitions of `db/m` wholly before `cutoffHour` — hour
    * partitions, and daily-tier days whose LAST hour is — and how many
    * partitions stay. Retention deletes them; tiering moves them. */
  private[jobs] def partitionsBefore(catalog: GraftCatalog, db: String, m: String,
      cutoffHour: Long): (Seq[Path], Seq[Path], Int) = {
    val (hours, keptHours) = catalog.listHourPartitions(db, m)
      .partition(partitionHourEpoch(_).exists(_ < cutoffHour))
    // a stray month=13 / day=32 directory is skipped, not fatal
    val (days, keptDays) = catalog.listDailyTierDays(db, m).partition(p =>
      partitionDayValues(p).flatMap { case (y, mo, d) =>
        scala.util.Try(java.time.LocalDate.of(y, mo, d).toEpochDay).toOption
      }.exists(_ * 24L + 23L < cutoffHour))
    (hours, days, keptHours.length + keptDays.length)
  }

  /** Delete the `year=/month=/day=` parents a removed partition left
    * empty: a hollow `year=*` chain passes a table's has-data glob and
    * fails its read. Concurrent ingest can repopulate a directory
    * between the empty check and the non-recursive delete ("Directory
    * is not empty"); that is a re-population, not an error, so the walk
    * stops there and the next run reconsiders. */
  private[jobs] def pruneEmptyParents(fs: FileSystem, removed: Path): Unit = {
    var parent = removed.getParent
    while (parent != null && parent.getName.contains("=") &&
      fs.exists(parent) && fs.listStatus(parent).isEmpty) {
      try {
        fs.delete(parent, false)
        parent = parent.getParent
      } catch {
        case _: java.io.IOException => parent = null
      }
    }
  }
}
