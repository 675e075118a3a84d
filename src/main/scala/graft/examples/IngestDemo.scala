package graft.examples

import graft.HarnessSession
import graft.catalog.{GraftCatalog, TableMeta}
import graft.ingest.{ColumnarBatch, HourPartitionedWriter, LineProtocol}
import graft.jobs.{Compaction, ContinuousQuery}

/** End-to-end demo of the engine's write/lifecycle path (SURVEY §7.2):
  * Line Protocol ingest → sorted hour-partitioned ZSTD Parquet →
  * time_bucket query with partition pruning → compaction dedup → CQ.
  * Run: sbt "runMain graft.examples.IngestDemo /tmp/graft_demo"
  */
object IngestDemo {
  def main(args: Array[String]): Unit = {
    val root = args.headOption.getOrElse("/tmp/graft_demo")
    val spark = HarnessSession.builder("4").appName("graft-demo").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftFunctions.registerAll(spark)

    val cat = new GraftCatalog(spark, root)
    cat.writeMeta("default", "cpu", TableMeta(
      sortKeys = Seq("host"), tagColumns = Seq("host")))

    val base = 1717200000000000L // 2024-06-01T00:00:00Z µs
    val H = 3600L * 1000000L
    val lp = (0 until 1000).map { i =>
      s"cpu,host=server${i % 4} usage_idle=${90.0 + (i % 10)},usage_user=${i % 7} ${base + i * 7200000L}"
    }.mkString("\n") + s"\ncpu,host=server0 usage_idle=99.0 ${base + 10}" // dup key vs i=0? distinct time; plus:
    val (points, errs) = LineProtocol.parse(lp, "us")
    assert(errs.isEmpty, errs)
    ColumnarBatch.fromPoints(points).foreach(HourPartitionedWriter.ingest(cat, "default", _))
    // second flush with a duplicate (host,time) to exercise dedup
    val (dup, _) = LineProtocol.parse(s"cpu,host=server0 usage_idle=42.0 ${base + 10}", "us")
    ColumnarBatch.fromPoints(dup).foreach(HourPartitionedWriter.ingest(cat, "default", _))

    println(s"partitions: ${cat.listHourPartitions("default", "cpu").size}")
    cat.register("default", "cpu")
    val q = spark.sql(
      """SELECT host, time_bucket(INTERVAL '1' HOUR, time) AS bucket,
        |       round(avg(usage_idle), 3) AS avg_idle, count(*) AS n
        |FROM cpu WHERE time >= TIMESTAMP '2024-06-01 00:00:00'
        |GROUP BY host, bucket ORDER BY bucket, host LIMIT 5""".stripMargin)
    q.show(truncate = false)
    q.explain("formatted")

    val results = Compaction.runHourly(cat, "default", "cpu", minFiles = 2,
      minAgeHours = 1, nowMicros = () => base + 1000L * H)
    val merged = results.count(_.compacted)
    println(s"compaction: ${results.size} partitions scanned, $merged merged, " +
      s"rows ${results.map(_.rowsIn).sum} -> ${results.map(_.rowsOut).sum}")

    cat.register("default", "cpu") // refresh view after compaction
    val cq = ContinuousQuery("hourly_idle",
      """SELECT host, CAST(AVG(usage_idle) AS DOUBLE) AS avg_idle FROM cpu
        |WHERE time >= {start_time} AND time < {end_time} GROUP BY host""".stripMargin,
      "default", "cpu_hourly", tagColumns = Seq("host"))
    val exec = ContinuousQuery.execute(cat, cq, base, base + H)
    println(s"cq emitted ${exec.rows} rows")
    println("cpu_hourly rows: " + cat.table("default", "cpu_hourly").count())
    spark.stop()
    println("DEMO OK")
  }
}
