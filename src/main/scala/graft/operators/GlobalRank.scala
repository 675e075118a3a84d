package graft.operators

import graft.Materialize._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Exact global ranking without a single-task sort.
  *
  * `ntile(k) OVER (ORDER BY ...)` — an empty PARTITION BY — executes as
  * ONE window task holding every row: the known global-sort anti-pattern
  * (SCALE.md). The scalable shape:
  *
  *   1. `repartitionByRange` on the sort key (sampled range exchange —
  *      partitions are globally ordered),
  *   2. sort within each partition (parallel),
  *   3. stamp exact global row numbers = partition offset + local index.
  *
  * Step 3 is fully columnar (VERDICT r2 #8 — the former
  * `RDD.zipWithIndex` round trip deserialized every row through a
  * RowEncoder and back): `monotonically_increasing_id()` already
  * encodes `partitionId << 33 | localRowIndex` in iteration order —
  * which IS the sorted order of the checkpointed partition — so the
  * local index is recovered arithmetically inside codegen. Partition
  * offsets come from ONE metadata-sized aggregation job (rows per
  * partition id, p rows total) and re-attach via a broadcast join.
  * Nothing leaves Tungsten; nothing gathers to one task.
  */
object GlobalRank {

  /** Exclusive offsets of `weight` across the partitions of a
    * [[rangeSorted]] frame, per `groupCols` value: one small job of
    * per-partition sums (p or p×G rows), a driver-side scan, and a
    * broadcast (`_pid`, groupCols..., `_offset`) frame to join, plus the
    * total weight. Shared by the distributed arms of [[withRowNumber]],
    * [[ShardPack.priors]] and [[BudgetSelect.select]]. */
  private[operators] def prefixOffsets(sorted: DataFrame, weight: Column,
      groupCols: Seq[String] = Nil): (DataFrame, Long) = {
    val spark = sorted.sparkSession
    val sums = sorted
      .groupBy(spark_partition_id().as("_pid") +: groupCols.map(col): _*)
      .agg(sum(weight).as("_s"))
      .collect()
    val acc = scala.collection.mutable.Map.empty[Seq[Any], Long]
    val offsetRows = sums.sortBy(_.getInt(0)).map { r =>
      val g = groupCols.indices.map(i => r.get(i + 1))
      val o = acc.getOrElse(g, 0L); acc(g) = o + r.getLong(groupCols.length + 1)
      Row.fromSeq((r.getInt(0) +: g) :+ o)
    }.toSeq
    val offsets = spark.createDataFrame(
      spark.sparkContext.parallelize(offsetRows, 1),
      StructType((StructField("_pid", IntegerType, nullable = false) +:
        groupCols.map(sorted.schema(_))) :+
        StructField("_offset", LongType, nullable = false)))
    (broadcast(offsets), acc.values.sum)
  }

  /** Per-partition offsets + columnar row-number stamp over an already
    * range-partitioned, partition-sorted, checkpointed input. Returns
    * the stamped frame and the total row count (free from the counts). */
  private def stamp(sorted: DataFrame, rnCol: String): (DataFrame, Long) = {
    val (offsets, n) = prefixOffsets(sorted, lit(1L))
    // local index = mid - (pid << 33); mid assignment follows iteration
    // order, which for the checkpointed sorted partition is sort order
    val out = sorted
      .withColumn("_pid", spark_partition_id())
      .withColumn("_lrn", monotonically_increasing_id() -
        shiftleft(spark_partition_id().cast("long"), 33))
      .join(offsets, "_pid")
      .withColumn(rnCol, col("_offset") + col("_lrn") + lit(1L))
      .select(sorted.columns.map(col) :+ col(rnCol): _*)
    (out, n)
  }

  /** Range partitioned on `sortCols`, sorted within partitions, and
    * pinned across the offsets job and the job that consumes them. */
  private[operators] def rangeSorted(df: DataFrame, sortCols: Seq[Column]): DataFrame =
    df.repartitionByRange(df.sparkSession.sparkContext.defaultParallelism,
        sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .materialize()

  /** `df` + a global row-number column (1-based, ordered by sortCols).
    *
    * Size-adaptive like [[ntile]] (r14): inputs whose plan-estimated
    * size fits one task use the plain window `row_number` — one sort,
    * zero extra jobs, where the distributed shape pays a range
    * exchange, a checkpoint barrier, and a per-partition counts job
    * (3+ jobs of fixed latency). Larger inputs keep the offset-stamping
    * shape, which never gathers the table into a single task. Identical
    * output both ways for any deterministic total order (callers
    * tie-break their sort keys; GlobalRankSpec pins parity). */
  def withRowNumber(df: DataFrame, sortCols: Seq[Column],
      rnCol: String = "rn"): DataFrame =
    if (fitsOneTask(df)) windowRowNumber(df, sortCols, rnCol)
    else stampedRowNumber(df, sortCols, rnCol)

  /** [[withRowNumber]]'s small arm: one window sort in one task. */
  private[graft] def windowRowNumber(df: DataFrame, sortCols: Seq[Column],
      rnCol: String): DataFrame =
    df.withColumn(rnCol, row_number().over(Window.orderBy(sortCols: _*)).cast("long"))

  /** [[withRowNumber]]'s large arm: range partition + offset stamp. */
  private[graft] def stampedRowNumber(df: DataFrame, sortCols: Seq[Column],
      rnCol: String): DataFrame =
    stamp(rangeSorted(df, sortCols), rnCol)._1

  /** Size cutover: below this the single-task window sort is cheaper
    * than the multi-pass distributed stamping.
    *
    * CAVEAT (ADVICE r14): `optimizedPlan.stats.sizeInBytes` reads
    * on-disk COMPRESSED bytes for parquet-scan-rooted plans, and wide
    * text columns commonly decompress 3-10x — a ~250 MB-compressed
    * corpus can route into the window arm and sort 1-2.5 GB in one
    * task (slow, spilling, but exact: Spark's sorts are external).
    * Ranking wide text directly off a scan therefore risks the window
    * arm; project the narrow key columns first. Non-scan-rooted
    * estimates (joins, unknown RDDs) err HUGE, so the misroute only
    * happens in this compressed-scan direction. Every dispatched
    * composition in this repo ranks narrow projections (ids, counts,
    * weights), where the factor is small. */
  val WindowCutoverBytes: Long = 256L * 1024 * 1024

  /** The size gate shared by every size-dispatched operator: true when
    * `df`'s plan-estimated size is known and below
    * [[WindowCutoverBytes]], i.e. the single-task arm is the cheaper
    * one. An unknown (negative) estimate takes the large, distributed
    * arm. */
  def fitsOneTask(df: DataFrame): Boolean = {
    val estBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    estBytes >= 0 && estBytes < BigInt(WindowCutoverBytes)
  }

  /** Exact NTILE(k) over a global ordering.
    *
    * Size-adaptive: inputs whose plan-estimated size fits comfortably in
    * one task ([[fitsOneTask]]) use the plain window (one sort, no
    * extra passes — faster at small scale); larger inputs switch to the
    * distributed offset-stamping shape, which never gathers the table
    * into a single task. Both produce identical results
    * (GlobalRankSpec). */
  def ntile(df: DataFrame, sortCols: Seq[Column], k: Int,
      bucketCol: String = "bucket"): DataFrame = {
    require(k > 0, "k must be positive")
    if (fitsOneTask(df)) windowNtile(df, sortCols, k, bucketCol)
    else stampedNtile(df, sortCols, k, bucketCol)
  }

  /** [[ntile]]'s small arm: the window NTILE in one task. */
  private[graft] def windowNtile(df: DataFrame, sortCols: Seq[Column], k: Int,
      bucketCol: String): DataFrame =
    df.withColumn(bucketCol,
      org.apache.spark.sql.functions.ntile(k).over(Window.orderBy(sortCols: _*)))

  /** [[ntile]]'s large arm: buckets derived from stamped row numbers. */
  private[graft] def stampedNtile(df: DataFrame, sortCols: Seq[Column], k: Int,
      bucketCol: String): DataFrame = {
    val (withRn, n) = stamp(rangeSorted(df, sortCols), "_grn")
    // NTILE semantics: first (n % k) buckets hold ceil(n/k) rows
    val base = n / k
    val rem = n % k
    val bigCut = (base + 1) * rem
    val grn = col("_grn")
    val bucket =
      if (base == 0) grn.cast("int") // fewer rows than buckets
      else when(grn <= bigCut, ((grn - 1) / (base + 1)).cast("int") + 1)
        .otherwise((lit(rem) + (grn - bigCut - 1) / base).cast("int") + 1)
    withRn.withColumn(bucketCol, bucket).drop("_grn")
  }
}
