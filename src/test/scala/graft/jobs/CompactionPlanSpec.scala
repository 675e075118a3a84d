package graft.jobs

import graft.SparkSpec
import graft.catalog.{GraftCatalog, TableMeta}
import graft.ingest.{ColumnarBatch, DirectParquetWriter, HourPartitionedWriter, LineProtocol}
import org.apache.hadoop.fs.Path
import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** The job census of a single-file compaction. An hour small enough
  * for the driver arm starts no Spark job. Every other hour, and every
  * day, is read, deduped, sorted and written in one job with no
  * exchange, and that job is the only one: the read schema comes from
  * the input footers the driver opens anyway, and an input list longer
  * than Spark's parallel-listing threshold (32 paths) is listed on the
  * driver too. */
class CompactionPlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import CompactionPlanSpec.Census

  private val H = 3600L * 1000000L
  private val base = 1717200000000000L // 2024-06-01T00:00:00Z in µs

  private def newCatalog(): GraftCatalog = {
    val cat = new GraftCatalog(spark, tmpDir("graft_plan_cat"))
    // sort order differs from the dedup key, so the output sort is real
    cat.writeMeta("default", "cpu", TableMeta(sortKeys = Seq("region"),
      tagColumns = Seq("host", "region")))
    cat
  }

  private def lpIngest(cat: GraftCatalog, lines: Seq[String]): Unit = {
    val (pts, errs) = LineProtocol.parse(lines.mkString("\n"), "us")
    assert(errs.isEmpty, errs.mkString(";"))
    ColumnarBatch.fromPoints(pts).foreach(HourPartitionedWriter.ingest(cat, "default", _))
  }

  /** One flush of `n` rows starting `hourStart`, hosts and regions spread
    * so every file holds several keys. */
  private def flush(cat: GraftCatalog, hourStart: Long, file: Int, n: Int): Unit =
    lpIngest(cat, (0 until n).map { i =>
      s"cpu,host=h${(file + i) % 7},region=r${(file * 3 + i) % 4} " +
        s"v=$file.$i ${hourStart + (file * n + i) * 1000000L}"
    })

  /** Runs `f` and returns its result with the jobs, stages and tasks it
    * started on this thread and the executed plans of its writes. */
  private def census[A](f: => A): (A, Census) = {
    val sc = spark.sparkContext
    val group = s"compaction-plan-${System.nanoTime()}"
    val jobs, tasks = new AtomicInteger(0)
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    def ours(p: java.util.Properties) =
      p != null && p.getProperty("spark.jobGroup.id") == group
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (ours(e.properties)) jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (ours(e.properties)) stages.add(e.stageInfo.stageId)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId)) tasks.incrementAndGet()
    }
    val qeListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (find(qe.executedPlan)(_.isInstanceOf[DataWritingCommandExec]).isDefined)
          plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    sc.setJobGroup(group, "compaction plan census")
    val result =
      try f finally {
        sc.clearJobGroup()
        TestListenerBus.drain(sc)
        sc.removeSparkListener(listener)
        spark.listenerManager.unregister(qeListener)
      }
    (result, Census(jobs.get, stages.size, tasks.get, plans.asScala.toSeq))
  }

  private def assertOneJobNoExchange(c: Census): Unit = {
    info(s"${c.jobs} jobs / ${c.stages} stages / ${c.tasks} tasks")
    assert(c.jobs == 1, s"expected the write job alone: $c")
    assert(c.writes.length == 1, s"one write plan expected: ${c.writes.length}")
    val exchanges = collect(c.writes.head) { case e: Exchange => e }
    assert(exchanges.isEmpty, s"exchange in the write plan:\n${c.writes.head}")
  }

  /** The parquet files of an hour, in name order, with their footers. */
  private def footersOf(part: Path) = {
    val conf = spark.sparkContext.hadoopConfiguration
    Compaction.readFooters(conf,
      Compaction.parquetFiles(part.getFileSystem(conf), part).sortBy(_.getName))
  }

  /** Runs `f` with `spark.sql.files.openCostInBytes`, the driver arm's
    * cutover, set to `bytes`. */
  private def withCutover[A](bytes: Long)(f: => A): A = {
    val key = "spark.sql.files.openCostInBytes"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, bytes)
    try f finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** The dispatch sent `part` to the Spark arm: one job, one write. */
  private def assertSparkArm(part: Path)(implicit cat: GraftCatalog): Unit = {
    val (res, c) = census(Compaction.compactHour(cat, "default", "cpu", part))
    assert(res.compacted && res.arm == Compaction.SparkArm, res)
    info(s"${c.jobs} jobs / ${c.stages} stages / ${c.tasks} tasks")
    assert(c.jobs == 1 && c.writes.length == 1, s"the Spark arm's one job expected: $c")
  }

  /** Rows of the single output file in `dir`, in stored order. */
  private def storedRows(dir: Path): Seq[(String, String, Long, Double)] = {
    val files = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(dir).map(_.getPath).filter(_.getName.endsWith(".parquet"))
    assert(files.length == 1, s"one output file expected: ${files.mkString(", ")}")
    spark.read.parquet(files.head.toString)
      .selectExpr("host", "region", "unix_micros(time)", "v").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
  }

  private def assertSortedByRegionTime(rows: Seq[(String, String, Long, Double)]): Unit = {
    val keys = rows.map(r => (r._2, r._3))
    assert(keys == keys.sorted, "rows must be stored in (sortKeys, time) order")
  }

  test("compactHour: 30 flushes compact in one exchange-free job, later write wins") {
    val cat = newCatalog()
    (0 until 29).foreach(i => flush(cat, base, i, 20))
    // the 30th flush rewrites file 3's row 5 (host=h1, region=r2)
    val dupTime = base + (3 * 20 + 5) * 1000000L
    lpIngest(cat, Seq(s"cpu,host=h1,region=r2 v=-29.0 $dupTime"))
    val part = cat.listHourPartitions("default", "cpu").head
    val (res, c) = census(
      Compaction.compactHourInSpark(cat, "default", "cpu", part, footersOf(part)))
    assert(res.compacted && res.filesIn == 30 && res.rowsIn == 581 && res.rowsOut == 580, res)
    assert(res.arm == Compaction.SparkArm)
    assertOneJobNoExchange(c)
    val rows = storedRows(part)
    assert(rows.length == 580)
    assert(rows.filter(r => r._1 == "h1" && r._2 == "r2" && r._3 == dupTime).map(_._4) ==
      Seq(-29.0), "the later write must win")
    assertSortedByRegionTime(rows)
  }

  test("compactHour: 40 flushes, more than Spark lists without a job, still one job") {
    val cat = newCatalog()
    (0 until 40).foreach(i => flush(cat, base, i, 5))
    val part = cat.listHourPartitions("default", "cpu").head
    val (res, c) = census(
      Compaction.compactHourInSpark(cat, "default", "cpu", part, footersOf(part)))
    assert(res.compacted && res.filesIn == 40 && res.rowsIn == 200 && res.rowsOut == 200, res)
    assertOneJobNoExchange(c)
    assert(storedRows(part).length == 200)
  }

  test("compactHour: a small hour merges on the driver with no Spark job, later write wins") {
    val cat = newCatalog()
    // a Spark-written flush, a direct flush, and a later direct flush
    // that rewrites row 2 of the first (host=h2, region=r2)
    flush(cat, base, 0, 20)
    val (pts, _) = LineProtocol.parse((0 until 20).map { i =>
      s"cpu,host=h${(1 + i) % 7},region=r${(3 + i) % 4} v=1.$i ${base + (20 + i) * 1000000L}"
    }.mkString("\n"), "us")
    ColumnarBatch.fromPoints(pts).foreach(DirectParquetWriter.write(cat, "default", _))
    val dupTime = base + 2 * 1000000L
    val (dup, _) = LineProtocol.parse(s"cpu,host=h2,region=r2 v=-2.0 $dupTime", "us")
    ColumnarBatch.fromPoints(dup).foreach(DirectParquetWriter.write(cat, "default", _))
    val part = cat.listHourPartitions("default", "cpu").head
    val (res, c) = census(Compaction.compactHour(cat, "default", "cpu", part))
    assert(res.compacted && res.filesIn == 3 && res.rowsIn == 41 && res.rowsOut == 40, res)
    assert(res.arm == Compaction.DriverArm, res)
    assert(c.jobs == 0 && c.stages == 0 && c.tasks == 0, s"no Spark job expected: $c")
    val rows = storedRows(part)
    assert(rows.length == 40)
    assert(rows.filter(r => r._1 == "h2" && r._2 == "r2" && r._3 == dupTime).map(_._4) ==
      Seq(-2.0), "the later write must win")
    assertSortedByRegionTime(rows)
  }

  test("compactHour: an hour above the cutover runs the Spark arm") {
    implicit val cat: GraftCatalog = newCatalog()
    (0 until 30).foreach(i => flush(cat, base, i, 20))
    val part = cat.listHourPartitions("default", "cpu").head
    // 600 rows x 4 columns x 8 B = 19,200 B > 16 KB
    withCutover(16 * 1024)(assertSparkArm(part))
    assert(storedRows(part).length == 600)
  }

  test("compactHour: a file with mixed-type time runs the Spark arm") {
    implicit val cat: GraftCatalog = newCatalog()
    import spark.implicits._
    flush(cat, base, 0, 5)
    // time as string epoch seconds, the fixture normalizeTime repairs
    val part = cat.listHourPartitions("default", "cpu").head
    Seq(("h9", "r9", (base / 1000000L + 100).toString, 9.0)).toDF("host", "region", "time", "v")
      .coalesce(1).write.mode("append").parquet(part.toString)
    assertSparkArm(part)
    assert(storedRows(part).length == 6)
  }

  test("compactHour: an INT32 or decimal column runs the Spark arm") {
    import spark.implicits._
    for ((name, extra) <- Seq(
        "INT32" -> Seq((3, "h9", "r9", 9.0)).toDF("n", "host", "region", "v"),
        "decimal" -> Seq((BigDecimal("1.25"), "h9", "r9", 9.0)).toDF("d", "host", "region", "v"))) {
      implicit val cat: GraftCatalog = newCatalog()
      flush(cat, base, 0, 5)
      val part = cat.listHourPartitions("default", "cpu").head
      extra.withColumn("time", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.lit(base + 100L * 1000000L)))
        .coalesce(1).write.mode("append").parquet(part.toString)
      withClue(name)(assertSparkArm(part))
      assert(storedRows(part).length == 6, name)
    }
  }

  test("compactHour: inputs that disagree on a column's type run the Spark arm") {
    implicit val cat: GraftCatalog = newCatalog()
    // v is INT64 in the first file and DOUBLE in the second
    lpIngest(cat, Seq(s"cpu,host=h0,region=r0 v=1i ${base + 1000000L}"))
    lpIngest(cat, Seq(s"cpu,host=h1,region=r1 v=2.5 ${base + 2000000L}"))
    val part = cat.listHourPartitions("default", "cpu").head
    assertSparkArm(part)
    assert(storedRows(part).map(_._4).sorted == Seq(1.0, 2.5))
  }

  test("compactDay: a day of hour files compacts in one exchange-free job, later write wins") {
    val cat = newCatalog()
    (0 until 24).foreach(h => flush(cat, base + h * H, h, 10))
    // a second flush into hour 5 rewrites its row 2 (host=h0, region=r1)
    val dupTime = base + 5 * H + (5 * 10 + 2) * 1000000L
    lpIngest(cat, Seq(s"cpu,host=h0,region=r1 v=-5.0 $dupTime"))
    val dayDir = cat.listDayPartitions("default", "cpu").head
    val (res, c) = census(Compaction.compactDay(cat, "default", "cpu", dayDir))
    assert(res.compacted && res.filesIn == 25 && res.rowsIn == 241 && res.rowsOut == 240, res)
    assertOneJobNoExchange(c)
    val rows = storedRows(cat.listDailyTierDays("default", "cpu").head)
    assert(rows.length == 240)
    assert(rows.filter(r => r._1 == "h0" && r._2 == "r1" && r._3 == dupTime).map(_._4) ==
      Seq(-5.0), "the later write must win")
    assertSortedByRegionTime(rows)
  }
}

object CompactionPlanSpec {
  final case class Census(jobs: Int, stages: Int, tasks: Int, writes: Seq[SparkPlan])
}
