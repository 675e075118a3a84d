package graft.plans

import graft.SparkSpec
import graft.catalog.GraftCatalog
import graft.ingest.{ColumnarBatch, HourPartitionedWriter, LineProtocol}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

class TimePartitionPruningSpec extends SparkSpec {

  private val H = 3600L * 1000000L
  private val base = 1717200000000000L // 2024-06-01T00:00:00Z

  private def scanOf(df: org.apache.spark.sql.DataFrame): FileSourceScanExec = {
    df.collect() // materialize so AQE finalizes
    def find(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
      p match {
        case a: AdaptiveSparkPlanExec => find(a.executedPlan)
        case s: FileSourceScanExec => Seq(s)
        case other => other.children.flatMap(find)
      }
    find(df.queryExecution.executedPlan).head
  }

  test("time-range filter prunes hour partitions via inferred predicates") {
    OptimizerRules.install(spark)
    val cat = new GraftCatalog(spark, tmpDir("prune"))
    // 48 hourly rows = 48 hour partitions
    val lp = (0 until 48).map(h => s"m,host=a v=$h.0 ${base + h * H}").mkString("\n")
    val (pts, _) = LineProtocol.parse(lp, "us")
    ColumnarBatch.fromPoints(pts).foreach(HourPartitionedWriter.ingest(cat, "default", _))

    val df = cat.table("default", "m")
      .where(col("time") >= lit("2024-06-01 05:00:00").cast("timestamp") &&
             col("time") < lit("2024-06-01 08:00:00").cast("timestamp"))
    val scan = scanOf(df.select("v"))
    assert(scan.partitionFilters.nonEmpty,
      "expected inferred partition filters on year/month/day/hour")
    val partsRead = scan.selectedPartitions.partitionCount
    assert(partsRead == 3, s"expected 3 hour partitions read, got $partsRead")
    assert(df.count() == 3)
  }

  test("rule never pairs one table's time bound with another table's partition columns") {
    OptimizerRules.install(spark)
    import spark.implicits._
    // measurement: a real catalog table (leaf carries time + partition
    // coords as relation attributes — the shape the rule fires on)
    val cat = new GraftCatalog(spark, tmpDir("prunejoin"))
    val lp = (0 until 48).map(h => s"m,host=a v=$h.0 ${base + h * H}").mkString("\n")
    val (pts, _) = LineProtocol.parse(lp, "us")
    ColumnarBatch.fromPoints(pts).foreach(HourPartitionedWriter.ingest(cat, "default", _))
    val m = cat.table("default", "m")
    // rollup: partition-coord ints but NO time column — and coords from
    // a different era than the filter below. Parquet round-trip so its
    // leaf also exposes the ints as relation attributes.
    val rollupPath = tmpDir("rollup")
    Seq((2020, 1, 1, 0, "a", 10L))
      .toDF("year", "month", "day", "hour", "host", "cnt")
      .write.mode("overwrite").parquet(rollupPath)
    val rollup = spark.read.parquet(rollupPath)
    val joined = rollup.join(m, "host")
      .where(m("time") >= lit("2024-06-01 05:00:00").cast("timestamp") &&
             m("time") < lit("2024-06-01 08:00:00").cast("timestamp"))

    // apply the RULE DIRECTLY to the analyzed plan (before pushdown has
    // separated the conjuncts): a bound on m.time must not generate a
    // predicate over the rollup's year/month/day/hour
    import org.apache.spark.sql.catalyst.plans.logical.Filter
    val analyzed = joined.queryExecution.analyzed
    val rollupLeafAttrs = rollup.queryExecution.analyzed.output
      .filter(a => Seq("year", "month", "day", "hour").contains(a.name))
      .map(_.exprId).toSet
    assert(rollupLeafAttrs.size == 4, "fixture: rollup attrs not found")
    val rewritten = TimePartitionPruning(analyzed)
    val referenced = rewritten.collect {
      case Filter(c, _) => c.references.map(_.exprId).toSet
    }.foldLeft(Set.empty[org.apache.spark.sql.catalyst.expressions.ExprId])(_ ++ _)
    assert(referenced.intersect(rollupLeafAttrs).isEmpty,
      "rule constrained the rollup's partition columns from m's time bound")

    // and end-to-end: the 2020-era rollup row must still join the 3
    // in-range measurement rows
    assert(joined.count() == 3)
  }

  test("rule never derives predicates through a Union (positional exprId reuse)") {
    OptimizerRules.install(spark)
    import spark.implicits._
    // Union.output reuses the FIRST child's exprIds and is POSITIONAL,
    // so a conjunct derived from child A's leaf (honest hour-partition
    // coords) would, after pushdown remapping, constrain child B's
    // columns at those positions — which here are not partition coords
    // at all (version/room/floor/slot ints). The buggy rule silently
    // dropped B's rows when applied above the Union (r12 ADVICE).
    val ts = new java.sql.Timestamp((base + 6 * H) / 1000L) // 2024-06-01T06Z
    val pathA = tmpDir("unionA")
    Seq((ts, 2024, 6, 1, 6, 1L))
      .toDF("time", "year", "month", "day", "hour", "v")
      .write.mode("overwrite").parquet(pathA)
    val a = spark.read.parquet(pathA)
    val pathB = tmpDir("unionB")
    Seq((ts, 3, 0, 0, 0, 2L))
      .toDF("time", "version", "room", "floor", "slot", "v")
      .write.mode("overwrite").parquet(pathB)
    val b = spark.read.parquet(pathB)
    val unioned = a.union(b)
      .where(col("time") >= lit("2024-06-01 05:00:00").cast("timestamp") &&
             col("time") < lit("2024-06-01 08:00:00").cast("timestamp"))
    // end-to-end: both rows are in the time range, both must survive
    assert(unioned.count() == 2,
      "Union branch rows dropped by a predicate derived from the other branch")
    // and DIRECT application above the Union (pre-pushdown, where the
    // merged output pairs A's coord names with B's positional columns)
    // must add nothing
    val analyzed = unioned.queryExecution.analyzed
    assert(TimePartitionPruning(analyzed).fastEquals(analyzed),
      "rule must leave Filters above set operations untouched")
  }

  test("tiered union: derived partition bounds reach BOTH tiers' scans (r13 verdict #4)") {
    OptimizerRules.install(spark)
    val cat = new GraftCatalog(spark, tmpDir("prune_tier_hot"))
    val coldRoot = tmpDir("prune_tier_cold")
    // 48 hourly partitions across 2 days
    val lp = (0 until 48).map(h => s"m,host=a v=$h.0 ${base + h * H}").mkString("\n")
    val (pts, _) = LineProtocol.parse(lp, "us")
    ColumnarBatch.fromPoints(pts).foreach(HourPartitionedWriter.ingest(cat, "default", _))
    // migrate day 1 (hours 0-23) to the cold tier: cutoffHour =
    // now/3600s - 24 = baseHour + 24, so exactly hours < 24 move
    val mig = graft.jobs.Tiering.migrate(cat, coldRoot, "default", "m",
      afterDays = 1, nowMicros = () => base + 48 * H)
    assert(mig.migrated.length == 24 && mig.kept == 24, mig)

    // window straddles the tier boundary: day1 22:00 .. day2 02:00
    val df = graft.jobs.Tiering.table(cat, coldRoot, "default", "m")
      .where(col("time") >= lit("2024-06-01 22:00:00").cast("timestamp") &&
             col("time") < lit("2024-06-02 02:00:00").cast("timestamp"))
      .select("v")
    df.collect()
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
      p match {
        case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
        case s: FileSourceScanExec => Seq(s)
        case other => other.children.flatMap(scans)
      }
    val all = scans(df.queryExecution.executedPlan)
    assert(all.length == 2, s"expected hot+cold scans, got ${all.length}")
    // the r13 set-op stop is CONSERVATIVE (no derivation above the
    // Union); the pruning must still land because Catalyst pushes the
    // time filter through the Union first and the rule then derives per
    // child — if a future Spark rule reordering broke that, one tier
    // would silently full-scan (24 partitions instead of 2)
    all.foreach { s =>
      assert(s.partitionFilters.exists(_.references.exists(_.name == "hour")),
        s"scan of ${s.relation.location.rootPaths} carries no derived hour bound")
      val n = s.selectedPartitions.partitionCount
      assert(n == 2, s"expected 2 pruned hour partitions per tier, got $n " +
        s"for ${s.relation.location.rootPaths}")
    }
    assert(df.count() == 4)
  }

  test("rule leaves results identical and is idempotent") {
    OptimizerRules.install(spark)
    OptimizerRules.install(spark) // second install is a no-op
    assert(spark.experimental.extraOptimizations.count(_ eq TimePartitionPruning) == 1)
    val cat = new GraftCatalog(spark, tmpDir("prune2"))
    val lp = (0 until 5).map(h => s"m,host=a v=$h.0 ${base + h * H}").mkString("\n")
    val (pts, _) = LineProtocol.parse(lp, "us")
    ColumnarBatch.fromPoints(pts).foreach(HourPartitionedWriter.ingest(cat, "default", _))
    val n = cat.table("default", "m")
      .where(col("time") >= timestamp_micros(lit(base + 2 * H))).count()
    assert(n == 3)
  }
}
