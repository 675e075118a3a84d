package graft.plans

import graft.{SparkEntry, SparkSpec}
import graft.catalog.GraftCatalog
import graft.ingest.{ColumnarBatch, HourPartitionedWriter, LineProtocol}
import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Repartition
import org.apache.spark.sql.execution.{CoalesceExec, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

/** Plan shapes of [[SmallScanCoalesce]]: a scan whose pruned files fit
  * in `spark.sql.files.openCostInBytes` reads as one partition, and the
  * dashboard poll over it is one job with no exchange; above the cutover,
  * and for bucketed and streaming relations, the plan is Spark's own. */
class SmallScanCoalesceSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val H = 3600L * 1000000L
  private val base = 1717200000000000L // 2024-06-01T00:00:00Z in µs

  private case class Census(jobs: Int, tasks: Int, plan: SparkPlan)

  /** Collect `df` under its own job group, counting its jobs and tasks. */
  private def census(df: DataFrame): Census = {
    val sc = spark.sparkContext
    val group = s"small_scan_${System.nanoTime()}"
    val jobs = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      private def ours(p: java.util.Properties) =
        p != null && p.getProperty("spark.jobGroup.id") == group
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (ours(e.properties)) jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (ours(e.properties)) stages.add(e.stageInfo.stageId)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId)) tasks.incrementAndGet()
    }
    TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "small scan census")
    try df.collect()
    finally {
      sc.clearJobGroup()
      TestListenerBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    Census(jobs.get, tasks.get, df.queryExecution.executedPlan)
  }

  private def exchanges(p: SparkPlan): Seq[Exchange] = collect(p) { case e: Exchange => e }
  private def scans(p: SparkPlan): Seq[FileSourceScanExec] =
    collect(p) { case s: FileSourceScanExec => s }

  /** The ts_ingest poll: per-host mean over the last hour, by host. */
  private def poll(df: DataFrame, fromUs: Long): DataFrame =
    df.where(col("time") >= timestamp_micros(lit(fromUs)))
      .groupBy("host").agg(avg("usage_user").as("mean"))
      .orderBy("host")

  /** An hourly tree of `hours` hours, a few hundred rows each. */
  private def smallTree(hours: Int): DataFrame = {
    OptimizerRules.install(spark)
    val cat = new GraftCatalog(spark, tmpDir("small_scan"))
    val lp = for (h <- 0 until hours; i <- 0 until 300)
      yield s"cpu,host=h${i % 5} usage_user=${(h * 300 + i) % 97}.5 ${base + h * H + i * 1000000L}"
    val (pts, errs) = LineProtocol.parse(lp.mkString("\n"), "us")
    assert(errs.isEmpty, errs)
    ColumnarBatch.fromPoints(pts).foreach(HourPartitionedWriter.ingest(cat, "default", _))
    cat.table("default", "cpu")
  }

  /** Hour 0 holds 700k rows of incompressible doubles, about 8 bytes
    * each, so above the 4 MB cutover; hour 1 holds 300 rows. */
  private lazy val lopsidedTree: DataFrame = {
    OptimizerRules.install(spark)
    val path = tmpDir("small_scan_big")
    def hour(h: Int, rows: Int): DataFrame =
      spark.range(rows).select(
        timestamp_micros(lit(base + h * H) + (col("id") % 3600) * 1000000L).as("time"),
        concat(lit("h"), (col("id") % 5).cast("string")).as("host"),
        rand(7 + h).as("usage_user"),
        lit(2024).as("year"), lit(6).as("month"), lit(1).as("day"), lit(h).as("hour"))
    hour(0, 700000).union(hour(1, 300))
      .write.mode("overwrite").partitionBy("year", "month", "day", "hour").parquet(path)
    spark.read.parquet(path)
  }

  test("the poll over a small hourly tree is one job with no exchange; the scan keeps its filters") {
    val cpu = smallTree(hours = 2)
    val c = census(poll(cpu, base + H))
    info(s"${c.jobs} jobs / ${c.tasks} tasks")
    assert(c.jobs == 1 && c.tasks == 1, c)
    assert(exchanges(c.plan).isEmpty, c.plan)
    assert(collect(c.plan) { case x: CoalesceExec => x }.size == 1, c.plan)
    val scan = scans(c.plan).head
    assert(scan.partitionFilters.exists(_.references.exists(_.name == "hour")), scan)
    assert(scan.metadata("PushedFilters").contains("GreaterThanOrEqual(time"), scan.metadata)
    assert(poll(cpu, base + H).collect().map(_.getString(0)).toSeq == (0 until 5).map(i => s"h$i"))
  }

  test("the cutover reads the pruned hour, not the whole table") {
    val t = lopsidedTree
    val whole = t.queryExecution.analyzed.collectLeaves().head
      .asInstanceOf[org.apache.spark.sql.execution.datasources.LogicalRelation]
      .relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
      .location.sizeInBytes
    assert(whole > spark.sessionState.conf.filesOpenCostInBytes, s"fixture too small: $whole B")
    val c = census(poll(t, base + H))
    info(s"one small hour of a $whole B table: ${c.jobs} jobs / ${c.tasks} tasks")
    assert(c.jobs == 1, c)
    assert(exchanges(c.plan).isEmpty, c.plan)
  }

  test("above the cutover the plan keeps its exchange and splits the scan") {
    val t = lopsidedTree
    val c = census(poll(t, base))
    info(s"whole table: ${c.jobs} jobs / ${c.tasks} tasks")
    assert(exchanges(c.plan).nonEmpty, c.plan)
    assert(c.tasks >= 2, c)
    assert(collect(c.plan) { case x: CoalesceExec => x }.isEmpty, c.plan)
  }

  test("bucketed and streaming relations keep their partitioning") {
    OptimizerRules.install(spark)
    val q19 = SparkEntry.queries("q19_join_bucketed")(spark, "/root/testdata/sf0.001")
    q19.collect()
    assert(q19.queryExecution.optimizedPlan.collect { case r: Repartition => r }.isEmpty,
      q19.queryExecution.optimizedPlan)
    assert(scans(q19.queryExecution.executedPlan).forall(_.bucketedScan),
      q19.queryExecution.executedPlan)

    val landing = tmpDir("small_scan_stream")
    spark.range(10).selectExpr("id", "id * 2 AS v").write.mode("append").parquet(landing)
    val q = spark.readStream.schema("id LONG, v LONG").parquet(landing)
      .where(col("v") > 2)
      .writeStream.format("memory").queryName("small_scan_stream")
      .trigger(Trigger.AvailableNow()).start()
    try {
      q.awaitTermination()
      val batch = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution
      assert(batch.optimizedPlan.collect { case r: Repartition => r }.isEmpty, batch.optimizedPlan)
      assert(spark.table("small_scan_stream").count() == 8)
    } finally q.stop()
  }

  test("a second pass of the rule leaves the plan as it is") {
    val cpu = smallTree(hours = 2)
    val optimized = poll(cpu, base + H).queryExecution.optimizedPlan
    assert(optimized.collect { case r @ Repartition(1, false, _) => r }.size == 1, optimized)
    assert(SmallScanCoalesce(optimized).fastEquals(optimized))
    assert(SmallScanCoalesce(SmallScanCoalesce(optimized)).fastEquals(optimized))
  }
}
