package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ShardPack's distributed offset arithmetic must reproduce the
  * single-task `SUM() OVER (ORDER BY)` window form exactly — shard ids
  * are exclusive-prefix-sum div budget, whatever the partitioning.
  */
class ShardPackSpec extends SparkSpec {

  private def docs(n: Int) = {
    import spark.implicits._
    // unsorted keys, spiky weights (some rows far above the budget)
    (0 until n).map { i =>
      val k = f"d${(i * 7919) % n}%05d"
      val w = if (i % 97 == 0) 5000L else (i % 37).toLong
      (k, w)
    }.toDF("k", "w").repartition(7)
  }

  private def windowForm(n: Int) = {
    val d = docs(n)
    val w = Window.orderBy(col("k"))
      .rowsBetween(Window.unboundedPreceding, -1)
    d.withColumn("prior", coalesce(sum(col("w")).over(w), lit(0L)))
      .withColumn("shard_id", expr("prior div 1000").cast("long"))
      .select("k", "shard_id")
  }

  test("assignment equals the global-window form (both paths)") {
    // the distributed offset arm and the small-input window arm
    val arms = Seq[(String, (DataFrame, Column, Column) => DataFrame)](
      "distributed" -> ShardPack.distributedPriors, "window" -> ShardPack.windowPriors)
    for (n <- Seq(10, 1000); (arm, priors) <- arms) {
      val got = ShardPack.shardIds(priors(docs(n), col("k"), col("w")), 1000L)
        .select(col("_k").as("k"), col("shard_id"))
        .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val want = windowForm(n)
        .orderBy("k").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      assert(got == want, s"n=$n arm=$arm")
    }
  }

  test("shard ids are monotone in key order and shards respect the budget") {
    val a = ShardPack.assign(docs(500), col("k"), col("w"), 1000L)
      .orderBy("_k").collect()
    val ids = a.map(_.getLong(2))
    assert(ids.zip(ids.tail).forall { case (x, y) => x <= y })
    // every shard except those holding an oversized row stays <= budget
    // + one straddling row's weight
    val perShard = a.groupBy(_.getLong(2)).view.mapValues(_.map(_.getLong(1)).sum)
    perShard.foreach { case (_, tot) =>
      assert(tot <= 1000L + 5000L)
    }
  }

  test("oversized rows occupy their shard alone (ids skip, never collide)") {
    import spark.implicits._
    val d = Seq(("a", 100L), ("b", 3000L), ("c", 100L))
      .toDF("k", "w").repartition(2)
    val got = ShardPack.assign(d, col("k"), col("w"), 1000L)
      .orderBy("_k").collect().map(r => (r.getString(0), r.getLong(2))).toSeq
    // priors: a=0, b=100, c=3100 → shards 0, 0, 3
    assert(got == Seq(("a", 0L), ("b", 0L), ("c", 3L)))
  }

  test("manifest aggregates per shard with exact totals") {
    val m = ShardPack.manifest(docs(200), col("k"), col("w"), 1000L).collect()
    val total = m.map(_.getLong(2)).sum
    val nDocs = m.map(_.getLong(1)).sum
    assert(nDocs == 200L)
    val expected = docs(200).agg(sum("w")).collect()(0).getLong(0)
    assert(total == expected)
  }
}
