package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-shard assignment: pack rows into fixed-weight shards.
  *
  * A training pipeline's last step writes the corpus as shards of a
  * target size (~N tokens each) in a deterministic document order, so a
  * run is reproducible and any shard can be rebuilt in isolation. The
  * assignment is token-offset sharding: order rows by a unique key,
  * take the EXCLUSIVE global prefix sum of the weight column (tokens),
  * and `shard_id = prior_weight div budget`. A row that straddles a
  * boundary belongs to the shard where its first token falls; an
  * oversized row (> budget) occupies its shard alone and the following
  * ids skip past it — ids are monotone, not necessarily dense.
  *
  * The naive form — `SUM(w) OVER (ORDER BY k)` with empty PARTITION BY —
  * is the same single-task global-sort anti-pattern GlobalRank exists
  * for (one window task holds every row). The scalable shape here never
  * moves the corpus at all:
  *
  *   1. project the NARROW (key, weight) pair — tens of bytes/row, the
  *      only data this operator shuffles;
  *   2. `repartitionByRange(key)` + sort within partitions (globally
  *      ordered partitions, parallel sort), pinned by `localCheckpoint`;
  *   3. ONE metadata-sized job sums each partition's weight (p rows) —
  *      exclusive per-partition offsets are a driver-side scan of p
  *      numbers;
  *   4. local exclusive running sums via a window PARTITIONED BY the
  *      physical partition id (hash exchange of the narrow pairs only —
  *      each window group is exactly one range partition, so
  *      parallelism = p, no global sort anywhere), plus the broadcast
  *      per-partition offset;
  *   5. the (key, shard_id) assignment joins back to the caller's frame
  *      on the key — at 100 TB that is the one corpus shuffle, the same
  *      join any assignment table implies; or skip the join and
  *      aggregate per shard directly from the narrow frame.
  *
  * Everything stays in the DataFrame API (columnar, AQE-planned); the
  * per-row arithmetic is codegen'd.
  */
object ShardPack {

  /** (key, shard_id) assignment for each input row.
    *
    * @param df      input frame
    * @param keyCol  unique, totally-ordered row key (the pack order)
    * @param weightCol non-negative weight per row (e.g. token count)
    * @param budget  target weight per shard, > 0
    */
  def assign(df: DataFrame, keyCol: Column, weightCol: Column, budget: Long,
      shardCol: String = "shard_id"): DataFrame =
    shardIds(priors(df, keyCol, weightCol), budget, shardCol)

  /** [[assign]] over a priors frame from either arm of [[priors]]. */
  private[graft] def shardIds(priors: DataFrame, budget: Long,
      shardCol: String = "shard_id"): DataFrame = {
    require(budget > 0, s"shard budget must be positive, got $budget")
    priors
      // exact integer division (double floor would wobble past 2^53)
      .withColumn(shardCol, expr(s"_prior div ${budget}L").cast("long"))
      .select(col("_k"), col("_w"), col(shardCol))
  }

  /** The EXCLUSIVE global prefix sum underneath [[assign]] (and
    * [[SequencePack]]): per row, (`_k` key, `_w` weight, `_prior` = sum
    * of all strictly-preceding weights in key order).
    *
    * Size-adaptive like GlobalRank (r14): below the cutover the plain
    * running-sum window wins — one sort in one task beats a range
    * exchange + checkpoint + per-partition sums job + broadcast join;
    * identical priors either way for a unique key (ShardPackSpec pins
    * both arms). */
  def priors(df: DataFrame, keyCol: Column, weightCol: Column): DataFrame =
    if (GlobalRank.fitsOneTask(df)) windowPriors(df, keyCol, weightCol)
    else distributedPriors(df, keyCol, weightCol)

  /** [[priors]]' small arm: one running-sum window in one task. */
  private[graft] def windowPriors(df: DataFrame, keyCol: Column,
      weightCol: Column): DataFrame = {
    val w = Window.orderBy(col("_k"))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.select(keyCol.as("_k"),
        coalesce(weightCol.cast("long"), lit(0L)).as("_w"))
      .withColumn("_prior", coalesce(sum(col("_w")).over(w), lit(0L)))
  }

  /** [[priors]]' large arm: never a global single-task window — range
    * partition + per-partition offsets; the only driver state is p
    * partition sums. */
  private[graft] def distributedPriors(df: DataFrame, keyCol: Column,
      weightCol: Column): DataFrame = {
    val narrow = GlobalRank.rangeSorted(df.select(keyCol.as("_k"),
      coalesce(weightCol.cast("long"), lit(0L)).as("_w")), Seq(col("_k")))
    val (offsets, _) = GlobalRank.prefixOffsets(narrow, col("_w"))
    // local EXCLUSIVE running sum: window over the partition id — the
    // exchange this window inserts carries only the narrow pairs, and
    // each window group is one already-sorted range partition
    val w = Window.partitionBy(col("_pid")).orderBy(col("_k"))
      .rowsBetween(Window.unboundedPreceding, -1)
    narrow
      .withColumn("_pid", spark_partition_id())
      .withColumn("_local", coalesce(sum(col("_w")).over(w), lit(0L)))
      .join(offsets, "_pid")
      .select(col("_k"), col("_w"),
        (col("_offset") + col("_local")).as("_prior"))
  }

  /** Per-shard manifest: doc count, total weight, key range — the
    * small frame a shard writer iterates to rebuild any shard. */
  def manifest(df: DataFrame, keyCol: Column, weightCol: Column,
      budget: Long): DataFrame =
    assign(df, keyCol, weightCol, budget)
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_w")).as("shard_tokens"),
        min(col("_k")).as("first_doc"),
        max(col("_k")).as("last_doc"))
      .orderBy(col("shard_id"))
}
