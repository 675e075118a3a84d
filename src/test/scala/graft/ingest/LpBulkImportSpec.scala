package graft.ingest

import graft.SparkSpec
import graft.catalog.GraftCatalog
import org.apache.spark.sql.functions._

/** Distributed Line Protocol bulk import (reference: internal/api/import.go
  * LP branch). The parse/pivot/write pipeline must never collect payload
  * data to the driver — covered here functionally: multi-measurement
  * files, mixed field types, bad lines with exact line numbers, tag
  * registration, first-non-null type resolution.
  */
class LpBulkImportSpec extends SparkSpec {

  private val base = 1717200000000000L // 2024-06-01T00:00:00Z µs

  private def newCatalog() = new GraftCatalog(spark, tmpDir("graft_lp_cat"))

  private def writeLp(contents: String): String = {
    val dir = tmpDir("lp_in")
    val p = new java.io.PrintWriter(s"$dir/points.lp")
    try p.write(contents) finally p.close()
    dir
  }

  test("multi-measurement file lands in per-measurement hour partitions") {
    val cat = newCatalog()
    val dir = writeLp(
      s"""# comment line
         |cpu,host=a usage=0.5,cores=8i ${base + 5}
         |cpu,host=b usage=0.7,cores=16i ${base + 3600L * 1000000L + 5}
         |mem,host=a used=123i,label="warm" ${base + 7}
         |
         |cpu,host=c usage=0.9 ${base + 9}""".stripMargin)
    val (n, errs) = CsvImport.lineProtocol(cat, "default", dir, "us")
    assert(n == 4 && errs.isEmpty, s"n=$n errs=$errs")

    val cpu = cat.table("default", "cpu")
    assert(cpu.count() == 3)
    assert(cpu.schema("usage").dataType.typeName == "double")
    assert(cpu.schema("cores").dataType.typeName == "long")
    assert(cat.listHourPartitions("default", "cpu").length == 2)
    // row without `cores` is null there
    assert(cpu.where(col("host") === "c" && col("cores").isNull).count() == 1)
    assert(cat.readMeta("default", "cpu").tagColumns == Seq("host"))

    val mem = cat.table("default", "mem")
    assert(mem.count() == 1)
    assert(mem.head().getAs[String]("label") == "warm")
    assert(mem.head().getAs[Long]("used") == 123L)
  }

  test("bad lines are skipped and reported with exact line numbers") {
    val cat = newCatalog()
    val dir = writeLp(
      s"""cpu,host=a v=1.0 ${base + 1}
         |this-is-not-line-protocol
         |cpu,host=b v=broken ${base + 2}
         |cpu,host=c v=3.0 ${base + 3}""".stripMargin)
    val (n, errs) = CsvImport.lineProtocol(cat, "default", dir, "us")
    assert(n == 2, s"n=$n")
    assert(errs.map(_.line).sorted == Seq(2, 3), errs.mkString(";"))
    assert(cat.table("default", "cpu").count() == 2)
  }

  test("field type follows earliest line; later conflicting type -> null") {
    val cat = newCatalog()
    val dir = writeLp(
      s"""m v=42i ${base + 1}
         |m v=4.5 ${base + 2}""".stripMargin)
    val (n, _) = CsvImport.lineProtocol(cat, "default", dir, "us")
    assert(n == 2)
    val df = cat.table("default", "m")
    assert(df.schema("v").dataType.typeName == "long")
    assert(df.where(col("v") === 42L).count() == 1)
    assert(df.where(col("v").isNull).count() == 1)
  }

  test("100-measurement payload: metadata jobs independent of measurement count") {
    val cat = newCatalog()
    val m = 100
    val lines = (0 until m).map { i =>
      s"meas_$i,host=h$i v=${i}i,w=${i}.5 ${base + i}"
    }.mkString("\n")
    val dir = writeLp(lines)

    // count Spark jobs over the whole import: the old per-measurement
    // metadata cascade ran ~3 jobs per measurement (tag-key distinct,
    // field-type agg, write) = 300+; the single-pass form runs a
    // constant number of metadata jobs plus exactly one write job per
    // measurement (writes are per-table by design — independent dirs)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val (n, errs) = try {
      val r = CsvImport.lineProtocol(cat, "default", dir, "us")
      // listener delivery is async: wait until the count stops moving
      var last = -1
      while (jobs.get() != last) { last = jobs.get(); Thread.sleep(300) }
      r
    } finally spark.sparkContext.removeSparkListener(listener)

    assert(n == m.toLong && errs.isEmpty, s"n=$n errs=${errs.take(3)}")
    // each write costs 2 jobs under AQE (shuffle-stage materialization +
    // final write); the old cascade added ~3 more METADATA jobs per
    // measurement on top (tag-key distinct, field-type agg) = 500+ here
    assert(jobs.get() <= 2 * m + 15,
      s"metadata jobs must be constant (~2 write jobs/measurement), got ${jobs.get()}")
    // counts stay exact per measurement, schema pivot intact
    val t37 = cat.table("default", "meas_37")
    assert(t37.count() == 1)
    assert(t37.head().getAs[Long]("v") == 37L)
    assert(t37.head().getAs[Double]("w") == 37.5)
    assert(cat.readMeta("default", "meas_37").tagColumns == Seq("host"))
  }

  test("missing timestamp is stamped at ingest (executor-side now)") {
    val cat = newCatalog()
    val before = System.currentTimeMillis() * 1000L
    val dir = writeLp("m,host=a v=1.0")
    val (n, errs) = CsvImport.lineProtocol(cat, "default", dir, "us")
    assert(n == 1 && errs.isEmpty)
    val after = System.currentTimeMillis() * 1000L
    val ts = cat.table("default", "m").head()
      .getAs[java.sql.Timestamp]("time").getTime * 1000L
    assert(ts >= before - 1000000L && ts <= after + 1000000L)
  }
}
