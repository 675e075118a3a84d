package graft.examples

import graft.HarnessSession
import graft.catalog.{GraftCatalog, TableMeta}
import graft.jobs.Compaction
import graft.streaming.{IngestStream, StreamingCq}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Runnable end-to-end streaming pipeline against the engine layout
  * (VERDICT r3 #6; asserted variant: StreamingEndToEndSpec):
  *
  *   landing dir ──IngestStream──▶ raw measurement (hour partitions)
  *        raw files ──StreamingCq──▶ agg measurement (1h windows)
  *        agg ──Compaction dedup──▶ exactly one row per (host, window)
  *
  * Includes the worst-case replay: the CQ checkpoint is wiped, the
  * stream re-reads the raw table and re-emits the finalized window, and
  * compaction's (tags, time) dedup collapses the duplicates on disk.
  * Run: sbt "runMain graft.examples.StreamingCqDemo"
  */
object StreamingCqDemo {

  private val H = 3600L * 1000000L
  private val base = 1717200000000000L

  def main(args: Array[String]): Unit = {
    val spark = HarnessSession.builder("8").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val cat = new GraftCatalog(spark, tmp("cqdemo_cat"))
    val landing = tmp("cqdemo_landing")
    cat.writeMeta("default", "agg", TableMeta(
      sortKeys = Seq("host"), tagColumns = Seq("host"), dedupTime = true))
    val schema = StructType(Seq(
      StructField("time", TimestampType),
      StructField("host", StringType),
      StructField("v", DoubleType)))

    Seq((base + 10L, "a", 1.0), (base + 20L, "a", 2.0), (base + 30L, "b", 5.0),
        (base + H + 20L * 60L * 1000000L, "b", 9.0))
      .toDF("us", "host", "v")
      .select(timestamp_micros(col("us")).as("time"), col("host"), col("v"))
      .coalesce(1).write.mode("append").parquet(landing)

    val ingest = IngestStream.fromParquetLanding(cat, "default", "raw",
      landing, schema, tmp("cqdemo_ckpt_ingest"),
      Trigger.ProcessingTime("100 milliseconds"))
    try ingest.processAllAvailable() finally ingest.stop()
    println(s"raw rows ingested: ${cat.table("default", "raw").count()} in " +
      s"${cat.listHourPartitions("default", "raw").length} hour partitions")

    val rawGlob = s"${cat.tablePath("default", "raw")}/year=*/month=*/day=*/hour=*"
    def runCq(ckpt: String): Unit = {
      val cq = StreamingCq.start(cat, "default", "agg",
        spark.readStream.schema(schema).parquet(rawGlob),
        windowSpec = "1 hour", watermarkDelay = "10 minutes",
        aggs = Seq(count(lit(1)).as("n"), sum(col("v")).cast("double").as("sum_v")),
        groupCols = Seq("host"), checkpointDir = ckpt,
        trigger = Trigger.ProcessingTime("100 milliseconds"))
      try cq.processAllAvailable() finally cq.stop()
    }
    runCq(tmp("cqdemo_ckpt_cq"))
    println(s"agg rows after CQ: ${cat.table("default", "agg").count()}")

    runCq(tmp("cqdemo_ckpt_cq2")) // checkpoint lost -> full replay
    println(s"agg rows after replay (duplicated): ${cat.table("default", "agg").count()}")

    cat.listHourPartitions("default", "agg").foreach(p =>
      Compaction.compactHour(cat, "default", "agg", p, minFiles = 2))
    val rows = cat.table("default", "agg")
      .select("time", "host", "n", "sum_v").orderBy("host").collect()
    println("after compaction dedup (exactly once per window):")
    rows.foreach(r => println(s"  $r"))
    spark.stop()
  }
}
