package graft.catalog

import graft.{SparkSpec, Tables}
import graft.ingest.{ColumnarBatch, HourPartitionedWriter, LineProtocol}
import graft.jobs.Compaction
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64
import org.apache.spark.{SparkException, TestListenerBus}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StructType, TimestampType}

import java.util.concurrent.atomic.AtomicInteger

/** `ParquetRead` gives every read shape of the engine the schema Spark's
  * own inference gives it (run here as the oracle) and starts no Spark
  * job doing so. */
class ParquetReadSpec extends SparkSpec {
  import ParquetReadSpec.{base, writeEvents}

  private val H = 3600L * 1000000L

  /** `f`'s result and the Spark jobs it started on this thread. */
  private def jobs[A](f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"parquet-read-${System.nanoTime()}"
    val n = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          n.incrementAndGet()
    }
    TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "parquet read census")
    val result =
      try f finally {
        sc.clearJobGroup()
        TestListenerBus.drain(sc)
        sc.removeSparkListener(listener)
      }
    (result, n.get)
  }

  /** `read` starts no job and has the oracle's schema. */
  private def assertParity(read: => DataFrame, oracle: => DataFrame): Unit = {
    val (df, n) = jobs(read)
    assert(n == 0, s"the read started $n Spark job(s)")
    assert(df.schema == oracle.schema)
  }

  private def dataFiles(dir: String): Seq[String] =
    new java.io.File(dir).listFiles().map(_.getPath).filter(_.endsWith(".parquet")).sorted.toSeq

  test("a single-file table") {
    val dir = tmpDir("pr_single")
    spark.range(5).selectExpr("id", "cast(id AS string) AS s", "id * 1.5 AS d")
      .coalesce(1).write.parquet(s"$dir/t")
    val file = dataFiles(s"$dir/t").head
    assertParity(ParquetRead(spark, Seq(file), merge = false), spark.read.parquet(file))
  }

  test("a directory of several part files, merge off and on") {
    val dir = tmpDir("pr_parts") + "/t"
    spark.range(100).repartition(4).selectExpr("id", "id % 7 AS k").write.parquet(dir)
    assert(dataFiles(dir).length == 4)
    assertParity(ParquetRead(spark, Seq(dir), merge = false), spark.read.parquet(dir))
    assertParity(ParquetRead(spark, Seq(dir), merge = true),
      spark.read.option("mergeSchema", "true").parquet(dir))
  }

  test("events with each of its three ts encodings (NANOS, NTZ, UTC)") {
    val dir = tmpDir("pr_events")
    for ((name, utc, unit) <- Seq(("nanos", true, TimeUnit.NANOS),
        ("ntz", false, TimeUnit.MICROS), ("utc", true, TimeUnit.MICROS))) {
      val path = s"$dir/$name.parquet"
      writeEvents(spark, path, utc, unit)
      val s = spark.newSession()
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      assertParity(ParquetRead(s, Seq(path), merge = false), s.read.parquet(path))
      val (events, n) = jobs(Tables.loadEvents(s, path))
      assert(n == 0, s"$name: loadEvents started $n job(s)")
      assert(events.schema("ts").dataType == TimestampType, name)
      assert(events.selectExpr("min(unix_micros(ts))").head.getLong(0) == base, name)
    }
  }

  private def lpIngest(cat: GraftCatalog, lines: String*): Unit = {
    val (pts, errs) = LineProtocol.parse(lines.mkString("\n"), "us")
    assert(errs.isEmpty, errs.mkString(";"))
    ColumnarBatch.fromPoints(pts).foreach(HourPartitionedWriter.ingest(cat, "default", _))
  }

  private def tierOracle(root: String): DataFrame =
    spark.read.option("mergeSchema", "true").option("basePath", root).parquet(root)

  test("an hourly tree: basePath partition columns, a column only later files have") {
    val cat = new GraftCatalog(spark, tmpDir("pr_hourly"))
    lpIngest(cat, s"cpu,host=a v=1 $base", s"cpu,host=b v=2 ${base + 1}")
    lpIngest(cat, s"cpu,host=a v=3,w=4i ${base + H}")
    lpIngest(cat, s"cpu,host=c,zone=z1 v=5 ${base + 2 * H}")
    val root = cat.tablePath("default", "cpu")
    val oracle = tierOracle(root)
    assert(Seq("w", "zone", "year", "hour").forall(oracle.columns.contains), oracle.schema)
    assertParity(cat.table("default", "cpu"), oracle)
  }

  test("the union of the hourly and daily tiers") {
    val cat = new GraftCatalog(spark, tmpDir("pr_tiers"))
    (0 until 3).foreach(h => lpIngest(cat, s"cpu,host=h$h v=$h ${base + h * H}"))
    val day = cat.listDayPartitions("default", "cpu").head
    assert(Compaction.compactDay(cat, "default", "cpu", day).compacted)
    lpIngest(cat, s"cpu,host=h9 v=9,extra=1i ${base + 30 * H}")
    val oracle = Seq(cat.tablePath("default", "cpu"), cat.dailyPath("default", "cpu"))
      .map(tierOracle).reduce(_.unionByName(_, allowMissingColumns = true))
    assert(oracle.columns.contains("extra"))
    assertParity(cat.table("default", "cpu"), oracle)
  }

  test("a file deleted between listing and footer read is skipped with ignoreMissingFiles") {
    val dir = tmpDir("pr_missing")
    spark.range(3).selectExpr("id").coalesce(1).write.parquet(s"$dir/a")
    spark.range(3).selectExpr("id", "id AS gone").coalesce(1).write.parquet(s"$dir/b")
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listed = (dataFiles(s"$dir/a") ++ dataFiles(s"$dir/b"))
      .map(f => fs.getFileStatus(new Path(f)))
    assert(new java.io.File(dataFiles(s"$dir/b").head).delete())
    val oracle = spark.read.option("mergeSchema", "true").parquet(s"$dir/a").schema
    def readAs(schema: Option[StructType]) =
      schema.map(spark.read.schema(_).parquet(s"$dir/a").schema)
    val ignoring: SparkSession = spark.newSession()
    ignoring.conf.set("spark.sql.files.ignoreMissingFiles", "true")
    assert(readAs(ParquetRead.schema(ignoring, listed, merge = true, Map.empty))
      .contains(oracle))
    // the per-read option works as the session setting does
    assert(readAs(ParquetRead.schema(spark, listed, merge = true,
      Map("ignoreMissingFiles" -> "true"))).contains(oracle))
    // without it the deleted file fails the read, as in Spark's inference
    intercept[SparkException](ParquetRead.schema(spark, listed, merge = true, Map.empty))
  }

  test("Tables.registerAll on a fresh session starts no Spark job") {
    val sf = tmpDir("pr_sf")
    Tables.names.foreach { n =>
      val df =
        if (n == "events") spark.range(3).selectExpr("id AS event_id", "timestamp_micros(id) AS ts")
        else spark.range(3).selectExpr(s"id AS ${n}_key")
      df.coalesce(1).write.parquet(s"$sf/$n.parquet")
    }
    val fresh = spark.newSession()
    val (_, n) = jobs(Tables.registerAll(fresh, sf))
    assert(n == 0, s"registerAll started $n Spark job(s)")
    Tables.names.foreach { t =>
      assert(fresh.table(t).count() == 3, t)
      if (t != "events") assert(fresh.table(t).schema == fresh.read.parquet(s"$sf/$t.parquet").schema)
    }
  }
}

object ParquetReadSpec {
  val base = 1717200000000000L // 2024-06-01T00:00:00Z in µs

  /** An `events` file of ten rows from `base` whose `ts` has the given
    * Parquet encoding, written without Spark's schema metadata so the
    * footer's types are converted. */
  def writeEvents(spark: SparkSession, path: String, utc: Boolean, unit: TimeUnit): Unit = {
    val schema: MessageType = Types.buildMessage()
      .required(INT64).named("event_id")
      .required(INT64).as(LogicalTypeAnnotation.timestampType(utc, unit)).named("ts")
      .named("events")
    val conf = spark.sparkContext.hadoopConfiguration
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(new Path(path), conf))
      .withType(schema).withConf(conf).build()
    val rows = new SimpleGroupFactory(schema)
    val perUs = if (unit == TimeUnit.NANOS) 1000L else 1L
    try (0 until 10).foreach { i =>
      w.write(rows.newGroup().append("event_id", i.toLong).append("ts", (base + i) * perUs))
    } finally w.close()
  }
}
