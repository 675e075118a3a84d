package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, TimestampType}

import java.time.{LocalDateTime, ZoneOffset}

/** Partition-pruning inference: derive `year/month/day/hour` partition
  * predicates from `time`-range filters.
  *
  * The reference implements this as a regex SQL parser + filesystem path
  * enumerator (internal/pruning/partition_pruner.go:448-760 — extract the
  * WHERE time range, enumerate hour paths, glob-filter). In Spark, the
  * measurement layout is Hive-partitioned (`year=/month=/day=/hour=`), so
  * the same optimization is one Catalyst rule: find conjuncts bounding a
  * TimestampType `time` column whose relation also carries the int
  * partition columns, and conjoin the equivalent lexicographic bound over
  * (year, month, day, hour). Catalyst's FileSourceStrategy then evaluates
  * those partition-only predicates against the file index and skips whole
  * directories — no data files from out-of-range hours are ever listed
  * into tasks.
  *
  * This is the engine's only "text-level" optimization: everything else
  * the reference rewrites (predicate ordering, regex→string-funcs,
  * LIMIT preallocation, parallel partition fan-out) is already native in
  * Catalyst/Tungsten (SURVEY §4.1).
  *
  * Bounds must be literals by the time the rule runs; [[OptimizerRules]]
  * installs it in `experimental.extraOptimizations`, which runs after
  * constant folding and current_timestamp resolution, so
  * `now() - INTERVAL 7 DAYS` prunes too. The added conjunct is redundant
  * with the time filter (hour granularity ⊇ time range), so row-level
  * semantics are unchanged.
  */
object TimePartitionPruning extends Rule[LogicalPlan] {

  private val PartCols = Seq("year", "month", "day", "hour")

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, child) =>
      val conjuncts = splitAnd(cond)
      val visible = child.outputSet
      // candidate (time, partition-cols) groups are resolved PER LEAF
      // relation, never from the Filter child's merged output: above a
      // join, the merged output could pair one table's `time` with
      // another table's `year/month/day/hour` (e.g. a rollup table that
      // carries those ints but no time column), and a bound derived
      // from table A must never constrain table B's partitions — that
      // conjunct is not implied by the filter and silently drops rows.
      // Catalyst's pushdown usually separates the conjuncts first, but
      // the rule must be correct on any Filter it sees, not just
      // post-pushdown shapes.
      //
      // Set operations get the same treatment as joins but need an
      // explicit stop: Union (and logical Intersect/Except, which reuse
      // the left child's output exprIds POSITIONALLY) would let the
      // first child's leaf attributes pass the visible-output check
      // while the derived conjunct constrains rows from EVERY branch —
      // and another branch's columns at those positions need not be
      // partition coords of its time column (r12 ADVICE). The conjunct
      // is only an optimization, so leaves below a set op are skipped.
      val newPreds = leavesNotUnderSetOp(child).flatMap { leaf =>
        val out = leaf.output
        val partAttrs = PartCols.flatMap(n =>
          out.find(a => a.name.equalsIgnoreCase(n) && a.dataType == IntegerType))
        val timeAttr = out.find(a =>
          a.name.equalsIgnoreCase("time") && a.dataType == TimestampType)
        if (partAttrs.length != 4 || timeAttr.isEmpty ||
          !(timeAttr.get +: partAttrs).forall(visible.contains))
          Nil
        else {
          val (lo, hi) = bounds(conjuncts, timeAttr.get)
          Seq(
            lo.map(l => atLeast(partAttrs, hourCoords(l))),
            hi.map(h => atMost(partAttrs, hourCoords(h)))
          ).flatten
        }
      }.filterNot(p => conjuncts.exists(_.semanticEquals(p)))
      if (newPreds.isEmpty) f
      else Filter(newPreds.foldLeft(cond)(And), child)
  }

  /** Leaf relations reachable without crossing a set operation (Union /
    * Intersect / Except) — those reuse child exprIds positionally, so a
    * predicate derived from one branch's leaf would constrain all
    * branches. */
  private def leavesNotUnderSetOp(p: LogicalPlan): Seq[LogicalPlan] =
    p match {
      case _: Union => Nil
      case _: org.apache.spark.sql.catalyst.plans.logical.SetOperation => Nil
      case leaf if leaf.children.isEmpty => Seq(leaf)
      case other => other.children.flatMap(leavesNotUnderSetOp)
    }

  private def splitAnd(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitAnd(l) ++ splitAnd(r)
    case other => Seq(other)
  }

  /** (lower, upper) bound in µs implied by the conjuncts, if any. */
  private def bounds(conjuncts: Seq[Expression], time: Attribute)
      : (Option[Long], Option[Long]) = {
    var lo: Option[Long] = None
    var hi: Option[Long] = None
    def raiseLo(v: Long): Unit = lo = Some(lo.fold(v)(math.max(_, v)))
    def lowerHi(v: Long): Unit = hi = Some(hi.fold(v)(math.min(_, v)))
    conjuncts.foreach {
      case GreaterThanOrEqual(t: Attribute, Literal(v: Long, TimestampType))
        if t.semanticEquals(time) => raiseLo(v)
      case GreaterThan(t: Attribute, Literal(v: Long, TimestampType))
        if t.semanticEquals(time) => raiseLo(v + 1) // strict: tightest µs above
      case LessThanOrEqual(t: Attribute, Literal(v: Long, TimestampType))
        if t.semanticEquals(time) => lowerHi(v)
      case LessThan(t: Attribute, Literal(v: Long, TimestampType))
        if t.semanticEquals(time) => lowerHi(v - 1) // strict: tightest µs below
      case EqualTo(t: Attribute, Literal(v: Long, TimestampType))
        if t.semanticEquals(time) => raiseLo(v); lowerHi(v)
      case LessThanOrEqual(Literal(v: Long, TimestampType), t: Attribute)
        if t.semanticEquals(time) => raiseLo(v)
      case LessThan(Literal(v: Long, TimestampType), t: Attribute)
        if t.semanticEquals(time) => raiseLo(v + 1)
      case GreaterThanOrEqual(Literal(v: Long, TimestampType), t: Attribute)
        if t.semanticEquals(time) => lowerHi(v)
      case GreaterThan(Literal(v: Long, TimestampType), t: Attribute)
        if t.semanticEquals(time) => lowerHi(v - 1)
      case EqualTo(Literal(v: Long, TimestampType), t: Attribute)
        if t.semanticEquals(time) => raiseLo(v); lowerHi(v)
      case _ =>
    }
    (lo, hi)
  }

  private def hourCoords(us: Long): Seq[Int] = {
    val dt = LocalDateTime.ofEpochSecond(Math.floorDiv(us, 1000000L), 0, ZoneOffset.UTC)
    Seq(dt.getYear, dt.getMonthValue, dt.getDayOfMonth, dt.getHour)
  }

  /** Lexicographic (year,month,day,hour) >= coords, as int comparisons
    * over partition columns only (directly partition-prunable). */
  private def atLeast(attrs: Seq[Attribute], c: Seq[Int]): Expression =
    lexCompare(attrs, c, strictOp = GreaterThan, finalOp = GreaterThanOrEqual)

  private def atMost(attrs: Seq[Attribute], c: Seq[Int]): Expression =
    lexCompare(attrs, c, strictOp = LessThan, finalOp = LessThanOrEqual)

  private def lexCompare(attrs: Seq[Attribute], coords: Seq[Int],
      strictOp: (Expression, Expression) => Expression,
      finalOp: (Expression, Expression) => Expression): Expression = {
    // (a0 op c0) OR (a0 = c0 AND (a1 op c1 OR (a1 = c1 AND ... (an fop cn))))
    def build(i: Int): Expression = {
      val a = attrs(i)
      val c = Literal(coords(i), IntegerType)
      if (i == attrs.length - 1) finalOp(a, c)
      else Or(strictOp(a, c), And(EqualTo(a, c), build(i + 1)))
    }
    build(0)
  }
}
