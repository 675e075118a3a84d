package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

/** Degenerate-shingle skew guard (VERDICT r3 #2): a boilerplate shingle
  * present in MOST documents makes one hot key. The spec pins that
  * q99's collect_set groupBy carries map-side partial aggregation (the
  * hot shingle's source-set collapses to <=#sources per map task BEFORE
  * the shuffle — that shape needs no extra guard).
  */
class SkewGuardSpec extends SparkSpec {

  graft.GraftFunctions.registerAll(spark)

  test("q99's source-set groupBy partially aggregates map-side") {
    // q99 localCheckpoints this fragment (so its own plan starts at the
    // checkpoint); rebuild it un-checkpointed to pin the aggregate shape
    val docs = graft.queries.t(spark, "/root/testdata/sf0.001", "documents")
    val grouped = docs
      .select(col("source"),
        explode(MinHashDedup.shingleHashesFromTokens(col("text"), 3)).as("sh"))
      .groupBy(col("sh"))
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
    grouped.collect()
    val plan = grouped.queryExecution
      .explainString(ExplainMode.fromString("formatted"))
    assert(plan.contains("partial_collect_set"),
      s"hot shingles must collapse to <=#sources per map task before the shuffle:\n$plan")
  }
}
