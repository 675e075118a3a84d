package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** GlobalRank must reproduce the window ntile/row_number results exactly
  * (same bucket boundaries, including the uneven-remainder buckets)
  * while never gathering the table into one task.
  */
class GlobalRankSpec extends SparkSpec {

  private def df(n: Int) = {
    import spark.implicits._
    // deliberately unsorted input with duplicate sort values
    (0 until n).map(i => ((i * 7919) % 100, i.toLong)).toDF("v", "id")
  }

  test("row numbers equal the window form's (both paths)") {
    val d = df(1000)
    val w = Window.orderBy(col("v"), col("id"))
    val want = d.withColumn("rn", row_number().over(w))
      .orderBy("rn").collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    // the distributed offset-stamping arm and the small-input window arm
    for ((arm, rank) <- Seq[(String, (DataFrame, Seq[Column], String) => DataFrame)](
        "stamped" -> GlobalRank.stampedRowNumber, "window" -> GlobalRank.windowRowNumber)) {
      val got = rank(d, Seq(col("v"), col("id")), "rn")
        .orderBy("rn").collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
      assert(got == want, s"arm=$arm")
    }
  }

  test("ntile matches the window form for uneven buckets (both paths)") {
    for (n <- Seq(10, 97, 1000); k <- Seq(3, 4, 7)) {
      val d = df(n)
      val w = Window.orderBy(col("v"), col("id"))
      val want = d.withColumn("bucket", ntile(k).over(w))
        .groupBy("bucket").count().orderBy("bucket")
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
      // the distributed offset-stamping arm and the small-input window arm
      for ((arm, tile) <- Seq[(String, (DataFrame, Seq[Column], Int, String) => DataFrame)](
          "stamped" -> GlobalRank.stampedNtile, "window" -> GlobalRank.windowNtile)) {
        val got = tile(d, Seq(col("v"), col("id")), k, "bucket")
          .groupBy("bucket").count().orderBy("bucket")
          .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
        assert(got == want, s"n=$n k=$k arm=$arm")
      }
    }
  }

  test("fewer rows than buckets: one bucket per row") {
    val got = GlobalRank.stampedNtile(df(3), Seq(col("v"), col("id")), 10, "bucket")
      .select("bucket").collect().map(_.getInt(0)).sorted.toSeq
    assert(got == Seq(1, 2, 3))
  }
}
