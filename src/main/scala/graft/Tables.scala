package graft

import graft.catalog.ParquetRead
import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}

/** Loads the driver-provided test tables (TESTDATA.md) and registers them
  * as temp views so queries can be written either with the DataFrame API
  * or `spark.sql`.
  *
  * Mirrors the reference's catalog behavior (Basekick-Labs/arc,
  * internal/api/query.go:2462-2596): where Arc regex-rewrites `FROM m` to
  * a read_parquet glob over the measurement directory, we register each
  * directory as a Spark table once and let the analyzer resolve names.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Read one table from an sf directory.
    *
    * `events.ts` has shipped under three Parquet encodings across testdata
    * generations: TIMESTAMP(NANOS) (read as raw int64 via `nanosAsLong`,
    * floored to µs), TIMESTAMP_MICROS isAdjustedToUTC=0 (Spark
    * TIMESTAMP_NTZ), and TIMESTAMP_MICROS UTC (Spark TimestampType). We
    * branch on the schema Spark actually read so a testdata regeneration
    * can never break registration again. All paths normalize to the
    * engine's canonical microsecond TimestampType (the reference stores
    * all time as int64 µs — arrow_writer.go:474-480 — so µs IS the
    * engine-native precision; DuckDB oracles use CAST(ts AS TIMESTAMP),
    * the same semantics under the UTC session timezone).
    */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") loadEvents(spark, s"$sfDir/$name.parquet")
    else ParquetRead(spark, Seq(s"$sfDir/$name.parquet"), merge = false)

  /** Read an events parquet (any path), normalizing `ts` from whichever of
    * the three historical encodings it carries to microsecond
    * TimestampType. */
  def loadEvents(spark: SparkSession, path: String): DataFrame = {
    // Spark reads a TIMESTAMP(NANOS) column only as a raw LONG, and only
    // with this setting, which holds for the whole session and must stay
    // set until the scan runs: set it only when the footer has one
    if (nanosTs(spark, path)) spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = ParquetRead(spark, Seq(path), merge = false)
    import org.apache.spark.sql.types.{LongType, TimestampType}
    df.schema("ts").dataType match {
      case LongType      => df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
      case TimestampType => df
      case _             => df.withColumn("ts", F.col("ts").cast("timestamp"))
    }
  }

  /** Whether the footer of the events file at `path` stores `ts` as
    * TIMESTAMP(NANOS). */
  private def nanosTs(spark: SparkSession, path: String): Boolean =
    ParquetRead.fileSchema(spark, path).filter(_.containsField("ts")).exists { schema =>
      schema.getType(schema.getFieldIndex("ts")).getLogicalTypeAnnotation match {
        case t: TimestampLogicalTypeAnnotation => t.getUnit == TimeUnit.NANOS
        case _ => false
      }
    }

  /** Register all tables for `sfDir` as temp views (idempotent). Each
    * table's schema comes from its footer on the driver
    * ([[graft.catalog.ParquetRead]]), so registering starts no Spark job;
    * data is scanned lazily per query. */
  def registerAll(spark: SparkSession, sfDir: String): Unit = synchronized {
    val already = spark.conf.getOption("graft.registered.sfDir")
    if (!already.contains(sfDir)) {
      names.foreach { n => load(spark, sfDir, n).createOrReplaceTempView(n) }
      GraftFunctions.registerAll(spark)
      spark.conf.set("graft.registered.sfDir", sfDir)
    }
  }
}
