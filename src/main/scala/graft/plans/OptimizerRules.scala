package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule

/** The engine's Catalyst rules, installed into a session's
  * `experimental.extraOptimizations`, which runs after the built-in
  * optimizer batches (so after constant folding and predicate pushdown).
  *
  * Order matters: [[SmallScanCoalesce]] sizes a scan by the partitions
  * its filters leave, so [[TimePartitionPruning]] must derive the hour
  * bounds first. */
object OptimizerRules {

  val rules: Seq[Rule[LogicalPlan]] = Seq(TimePartitionPruning, SmallScanCoalesce)

  /** Idempotently install every rule into `spark`, in order. Synchronized:
    * concurrent sessions and suites would otherwise race the list update. */
  def install(spark: SparkSession): Unit = synchronized {
    val cur = spark.experimental.extraOptimizations
    val missing = rules.filterNot(r => cur.exists(_ eq r))
    if (missing.nonEmpty)
      spark.experimental.extraOptimizations = cur ++ missing
  }
}
