package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Budgeted corpus selection: within each group (source, language,
  * domain, ...) rank rows by a preference order and keep rows while the
  * running weight (tokens) stays within the group's budget — the
  * "take the best N tokens per source" step that fixes a training
  * mixture to a token recipe.
  *
  * The naive form — `SUM(w) OVER (PARTITION BY group ORDER BY pref)` —
  * puts each group's ENTIRE corpus slice through one window task: with
  * a handful of sources at 100 TB that is a few straggler tasks sorting
  * terabytes each (the q84/q85 global-sort anti-pattern, per-group).
  * The scalable shape reuses ShardPack's distributed prefix sum,
  * generalized to groups:
  *
  *   1. project the NARROW (group, pref, key, weight, budget) rows —
  *      the only data this operator shuffles;
  *   2. `repartitionByRange(group, pref...)` + sort within partitions:
  *      partitions are globally ordered, so each group occupies a
  *      contiguous partition span (parallelism is bounded by data size,
  *      not group count);
  *   3. ONE metadata-sized job sums weight per (partition, group) —
  *      p×G rows; exclusive per-(partition, group) offsets are a
  *      driver-side scan of those numbers in partition order;
  *   4. local exclusive running sums via a window PARTITIONED BY
  *      (partition id, group): each window group is one partition's
  *      slice of one group — already sorted, never a whole group;
  *   5. keep rows with offset + local_prior + weight <= budget; the
  *      (key, kept) assignment joins back to the caller's frame on the
  *      unique key (broadcastable when the kept set is small, else the
  *      one corpus shuffle any assignment table implies).
  *
  * Budgets ride as a per-row column (constant within each group, e.g.
  * joined from a per-group recipe or derived as a fraction of the
  * group's total) so one pass serves heterogeneous budgets.
  *
  * Preference columns are (expression, ascending) pairs: the direction
  * must survive the rename onto the narrow frame, and a Column cannot
  * be rebuilt from a foreign SortOrder without private Catalyst
  * constructors — carrying the flag as data keeps the public API only.
  *
  * Size-adaptive like GlobalRank.ntile: small inputs use the plain
  * window (one sort, no extra passes); both paths produce identical
  * rows (BudgetSelectSpec parity test).
  */
object BudgetSelect {

  /** Rows of `df` surviving the per-group budget, with the exclusive
    * running weight (`priorCol`) attached.
    *
    * @param df       input frame
    * @param groupCol grouping column (budget scope); must be non-null —
    *                 the distributed path re-attaches offsets via an
    *                 equi-join on the group value, which never matches
    *                 null (coalesce upstream if a null group is real)
    * @param prefCols preference order within the group as
    *                 (expression, ascending) pairs; (prefCols, key)
    *                 must totally order rows for determinism
    * @param keyName  name of a unique row key column in `df`
    * @param weightCol non-negative integral weight per row
    * @param budgetCol per-row budget, constant within each group
    */
  def select(df: DataFrame, groupCol: Column, prefCols: Seq[(Column, Boolean)],
      keyName: String, weightCol: Column, budgetCol: Column,
      priorCol: String = "sel_prior"): DataFrame =
    if (GlobalRank.fitsOneTask(df))
      windowSelect(df, groupCol, prefCols, keyName, weightCol, budgetCol, priorCol)
    else
      distributedSelect(df, groupCol, prefCols, keyName, weightCol, budgetCol, priorCol)

  private def dir(c: Column, asc: Boolean): Column = if (asc) c.asc else c.desc

  /** Single-window reference form (small inputs; parity oracle for the
    * distributed path). */
  private[graft] def windowSelect(df: DataFrame, groupCol: Column,
      prefCols: Seq[(Column, Boolean)], keyName: String, weightCol: Column,
      budgetCol: Column, priorCol: String = "sel_prior"): DataFrame = {
    val w = Window.partitionBy(groupCol)
      .orderBy(prefCols.map((dir _).tupled) :+ col(keyName).asc: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn(priorCol,
        coalesce(sum(weightCol.cast("long")).over(w), lit(0L)))
      .where(col(priorCol) + weightCol.cast("long") <= budgetCol.cast("long"))
  }

  /** ShardPack-shape distributed form: never sorts a whole group in one
    * task. */
  private[graft] def distributedSelect(df: DataFrame, groupCol: Column,
      prefCols: Seq[(Column, Boolean)], keyName: String, weightCol: Column,
      budgetCol: Column, priorCol: String = "sel_prior"): DataFrame = {
    val narrow = df.select(groupCol.as("_g") +:
      prefCols.zipWithIndex.map { case ((c, _), i) => c.as(s"_s$i") } ++:
      Seq(col(keyName).as("_k"),
        coalesce(weightCol.cast("long"), lit(0L)).as("_w"),
        budgetCol.cast("long").as("_b")): _*)
    // the preference order re-spelled against the narrow frame's names
    val nOrd = prefCols.zipWithIndex.map { case ((_, asc), i) =>
      dir(col(s"_s$i"), asc)
    } :+ col("_k").asc
    val sorted = GlobalRank.rangeSorted(narrow, col("_g") +: nOrd)
    // exclusive per-(partition, group) offsets — p×G rows
    val (offsets, _) = GlobalRank.prefixOffsets(sorted, col("_w"), Seq("_g"))
    // local EXCLUSIVE running sum: each window group is one partition's
    // already-sorted slice of one group — bounded by partition size
    val w = Window.partitionBy(col("_pid"), col("_g")).orderBy(nOrd: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val kept = sorted
      .withColumn("_pid", spark_partition_id())
      .withColumn("_lprior", coalesce(sum(col("_w")).over(w), lit(0L)))
      .join(offsets, Seq("_pid", "_g"))
      .withColumn(priorCol, col("_offset") + col("_lprior"))
      .where(col(priorCol) + col("_w") <= col("_b"))
      .select(col("_k"), col(priorCol))
    // assignment table joins back on the unique key — the one corpus
    // shuffle an assignment implies
    df.join(kept, df(keyName) === kept("_k")).drop("_k")
  }
}
