package graft.operators

import graft.Materialize._

import org.apache.spark.sql.{Column, DataFrame, Row}
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

  /** Per-partition offsets + columnar row-number stamp over an already
    * range-partitioned, partition-sorted, checkpointed input. Returns
    * the stamped frame and the total row count (free from the counts). */
  private def stamp(sorted: DataFrame, rnCol: String): (DataFrame, Long) = {
    val spark = sorted.sparkSession
    // one small job: rows per partition id (p result rows)
    val counts: Map[Int, Long] = sorted
      .groupBy(spark_partition_id().as("_pid")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val nParts = sorted.queryExecution.toRdd.getNumPartitions
    var off = 0L
    val offsetRows = (0 until nParts).map { pid =>
      val o = off; off += counts.getOrElse(pid, 0L); Row(pid, o)
    }
    val offsetsDf = spark.createDataFrame(
      spark.sparkContext.parallelize(offsetRows, 1),
      StructType(Seq(StructField("_pid", IntegerType, nullable = false),
        StructField("_offset", LongType, nullable = false))))
    // local index = mid - (pid << 33); mid assignment follows iteration
    // order, which for the checkpointed sorted partition is sort order
    val out = sorted
      .withColumn("_pid", spark_partition_id())
      .withColumn("_lrn", monotonically_increasing_id() -
        shiftleft(spark_partition_id().cast("long"), 33))
      .join(broadcast(offsetsDf), "_pid")
      .withColumn(rnCol, col("_offset") + col("_lrn") + lit(1L))
      .select(sorted.columns.map(col) :+ col(rnCol): _*)
    (out, off)
  }

  private def rangeSorted(df: DataFrame, sortCols: Seq[Column],
      partitions: Int): DataFrame = {
    val p = if (partitions > 0) partitions
      else df.sparkSession.sparkContext.defaultParallelism
    df.repartitionByRange(p, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
      .materialize() // pins partition contents/order across the
                         // counts job and the stamp job
  }

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
      rnCol: String = "rn", partitions: Int = 0,
      cutoverBytes: Long = WindowCutoverBytes): DataFrame = {
    if (fitsOneTask(df, cutoverBytes)) {
      val w = org.apache.spark.sql.expressions.Window.orderBy(sortCols: _*)
      df.withColumn(rnCol, row_number().over(w).cast("long"))
    } else stamp(rangeSorted(df, sortCols, partitions), rnCol)._1
  }

  /** Default size cutover: below this the single-task window sort is
    * cheaper than the multi-pass distributed stamping.
    *
    * CAVEAT (ADVICE r14): `optimizedPlan.stats.sizeInBytes` reads
    * on-disk COMPRESSED bytes for parquet-scan-rooted plans, and wide
    * text columns commonly decompress 3-10x — a ~250 MB-compressed
    * corpus can route into the window arm and sort 1-2.5 GB in one
    * task (slow, spilling, but exact: Spark's sorts are external).
    * Callers ranking wide text should pass a lower `cutoverBytes`;
    * non-scan-rooted estimates (joins, unknown RDDs) err HUGE, so the
    * misroute only happens in this compressed-scan direction. Every
    * dispatched composition in this repo ranks narrow projections
    * (ids, counts, weights), where the factor is small. */
  val WindowCutoverBytes: Long = 256L * 1024 * 1024

  /** The size gate shared by every size-dispatched operator: true when
    * `df`'s plan-estimated size is known and below `cutoverBytes`, i.e.
    * the single-task arm is the cheaper one. An unknown (negative)
    * estimate takes the large, distributed arm. */
  def fitsOneTask(df: DataFrame, cutoverBytes: Long): Boolean = {
    val estBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    estBytes >= 0 && estBytes < BigInt(cutoverBytes)
  }

  /** Exact NTILE(k) over a global ordering.
    *
    * Size-adaptive: inputs whose plan-estimated size fits comfortably in
    * one task (< `cutoverBytes`) use the plain window (one sort, no
    * extra passes — faster at small scale); larger inputs switch to the
    * distributed offset-stamping shape, which never gathers the table
    * into a single task. Both produce identical results
    * (GlobalRankSpec). */
  def ntile(df: DataFrame, sortCols: Seq[Column], k: Int,
      bucketCol: String = "bucket", partitions: Int = 0,
      cutoverBytes: Long = WindowCutoverBytes): DataFrame = {
    require(k > 0, "k must be positive")
    if (fitsOneTask(df, cutoverBytes)) {
      val w = org.apache.spark.sql.expressions.Window.orderBy(sortCols: _*)
      df.withColumn(bucketCol, org.apache.spark.sql.functions.ntile(k).over(w))
    } else {
      val (withRn, n) = stamp(rangeSorted(df, sortCols, partitions), "_grn")
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
}
