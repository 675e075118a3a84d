package graft.plans

import org.apache.spark.sql.catalyst.expressions.{AttributeSet, Expression, PredicateHelper, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Repartition}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.internal.SQLConf

import scala.util.control.NonFatal

/** Read a small file relation as one partition, so a query over it runs
  * as one Spark job.
  *
  * The reference answers a dashboard poll inside DuckDB's process: one
  * pipeline, no stage boundary. Spark plans the same `GROUP BY host
  * ORDER BY host` over two 75 KB files as a scan split across tasks, a
  * hash exchange for the aggregate and a range exchange for the sort:
  * four jobs and five tasks, each paying the scheduler's fixed cost for
  * a few kilobytes of work. Wrapping the scan in `Repartition(1, shuffle
  * = false)` plans as `CoalesceExec(1)`, which reports `SinglePartition`;
  * every aggregate, sort and window above it is then satisfied without an
  * `Exchange`, and the poll is one job of one task.
  *
  * The cutover is Spark's own cost of opening one file,
  * `spark.sql.files.openCostInBytes` (4 MB by default): the split planner
  * already treats a scan of that size as worth no more than one file's
  * open, so reading it in one task costs the scan nothing and saves
  * every exchange above it. The size is the relation's bytes after
  * partition pruning, listed from its file index with the chain's
  * partition predicates, including the hour bounds that
  * [[TimePartitionPruning]] derives (it runs first), so a one-hour poll
  * over a long history qualifies when its hour does.
  *
  * The wrap sits above the maximal Project/Filter chain over the
  * relation, not at the leaf, so the scan keeps its pushed and partition
  * filters. Streaming relations keep their micro-batch partitioning, and
  * bucketed relations keep the bucketing a join relies on. Above the
  * cutover, the plan is left as it is.
  */
object SmallScanCoalesce extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    // already one partition: keeps the rule idempotent in its fixed-point batch
    case r @ Repartition(1, false, child) if relationUnder(child).isDefined => r
    case _ =>
      relationUnder(plan) match {
        case Some((l, fs)) if prunedBytes(plan, l, fs) <= SQLConf.get.filesOpenCostInBytes =>
          Repartition(1, shuffle = false, plan)
        case Some(_) => plan
        case None => plan.mapChildren(apply)
      }
  }

  /** The relation at the bottom of a Project/Filter chain, when it is a
    * batch, unbucketed file relation. */
  private def relationUnder(p: LogicalPlan): Option[(LogicalRelation, HadoopFsRelation)] =
    p match {
      case Project(_, child) => relationUnder(child)
      case Filter(_, child) => relationUnder(child)
      case l @ LogicalRelation(fs: HadoopFsRelation, _, _, false, _) if fs.bucketSpec.isEmpty =>
        Some((l, fs))
      case _ => None
    }

  /** Bytes of the files the chain's partition predicates leave; the
    * relation's whole size when it has none. A listing that fails counts
    * as too large, which leaves the plan unchanged. */
  private def prunedBytes(chain: LogicalPlan, l: LogicalRelation, fs: HadoopFsRelation): Long = {
    val partCols = fs.partitionSchema.fieldNames.toSet
    val partAttrs = AttributeSet(l.output.filter(a => partCols(a.name)))
    val partFilters: Seq[Expression] = chain.collect { case Filter(cond, _) => cond }
      .flatMap(splitConjunctivePredicates)
      .filter(e => e.deterministic && !SubqueryExpression.hasSubquery(e) &&
        e.references.nonEmpty && e.references.subsetOf(partAttrs))
    if (partFilters.isEmpty) fs.location.sizeInBytes
    else
      try fs.location.listFiles(partFilters, Nil).iterator.flatMap(_.files).map(_.getLen).sum
      catch { case NonFatal(_) => Long.MaxValue }
  }
}
