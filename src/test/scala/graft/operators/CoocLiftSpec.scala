package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** CoocLift's hash-dictionary pair mining pinned against an independent
  * driver-side fold, plus the two claims the operator's scaladoc makes:
  * the a-priori df≥support prune is lossless, and the collision fallback
  * (string keys) produces identical pairs. */
class CoocLiftSpec extends SparkSpec {
  import spark.implicits._

  // 8 docs over a vocab with head words (df high), mid words, and tail
  // words (df < support — prunable), including a doc of only tail words
  private val docs = Seq(
    (1L, Seq("the", "cat", "sat", "mat", "zz1")),
    (2L, Seq("the", "cat", "ran", "zz2")),
    (3L, Seq("the", "cat", "sat", "zz3")),
    (4L, Seq("the", "dog", "sat", "mat")),
    (5L, Seq("the", "cat", "sat", "dog")),
    (6L, Seq("the", "cat", "sat", "mat", "dog")),
    (7L, Seq("zz4", "zz5")),
    (8L, Seq("the", "cat", "sat", "ran", "mat"))
  ).toDF("doc_id", "tk")

  /** Driver-side exact reference: all unordered within-doc pairs over
    * the FULL (unpruned) token sets, counted, support-filtered. */
  private def reference(minSupport: Int): Map[(String, String), (Long, Long, Long)] = {
    val rows = docs.collect().map(r => r.getSeq[String](1))
    val df = rows.flatten.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val pairCounts = rows.flatMap { tk =>
      val s = tk.sorted
      for (i <- s.indices; j <- (i + 1) until s.length) yield (s(i), s(j))
    }.groupBy(identity).view.mapValues(_.length.toLong)
      .filter(_._2 >= minSupport).toMap
    pairCounts.map { case ((a, b), cab) => (a, b) -> (cab, df(a), df(b)) }
  }

  private def asMap(d: org.apache.spark.sql.DataFrame) =
    d.collect().map(r => (r.getString(0), r.getString(1)) ->
      (r.getLong(2), r.getLong(3), r.getLong(4))).toMap

  test("hash-dictionary pairs match the exact driver fold (prune lossless)") {
    for (support <- Seq(1, 2, 3, 5)) {
      val got = asMap(CoocLift.pairs(docs, "doc_id", "tk", support))
      assert(got === reference(support), s"support=$support")
    }
  }

  test("string-key fallback path produces identical pairs") {
    val arrs = docs.select(sort_array(col("tk")).as("tk"))
    val viaStrings = CoocLift.pairsStrings(arrs, "tk")
      .where(col("c_ab") >= 2)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    val viaHash = asMap(CoocLift.pairs(docs, "doc_id", "tk", 2))
      .map { case (k, (cab, _, _)) => k -> cab }
    // pairsStrings has no prune — restrict to pairs of df≥2 tokens,
    // which is what the pruned miner can ever emit
    val df = reference(1).keySet.flatMap(p => Seq(p._1, p._2))
      .map(w => w -> docs.collect().count(_.getSeq[String](1).contains(w)))
      .toMap
    val comparable = viaStrings.filter { case ((a, b), _) =>
      df(a) >= 2 && df(b) >= 2 }
    assert(viaHash === comparable)
  }

  test("forced collision fallback enforces the support floor and matches " +
    "the driver fold") {
    for (support <- Seq(2, 3)) {
      val got = asMap(
        CoocLift.stringFallbackPairs(docs, "doc_id", "tk", support))
      // the fixture has pairs of df≥support tokens whose co-count sits
      // BELOW the floor (e.g. mat+ran co-occur once, both df≥2) — the
      // r12 ADVICE bug returned those from this branch
      assert(got.values.forall(_._1 >= support), s"sub-floor pair leaked at support=$support")
      assert(got === reference(support), s"support=$support")
    }
  }

  test("empty and single-token docs contribute no pairs") {
    val d = Seq((1L, Seq.empty[String]), (2L, Seq("solo")),
      (3L, Seq("x", "y")), (4L, Seq("x", "y"))).toDF("doc_id", "tk")
    val got = asMap(CoocLift.pairs(d, "doc_id", "tk", 2))
    assert(got === Map(("x", "y") -> ((2L, 2L, 2L))))
  }

  test("minSupport below 1 is rejected") {
    intercept[IllegalArgumentException] {
      CoocLift.pairs(docs, "doc_id", "tk", 0)
    }
    intercept[IllegalArgumentException] {
      CoocLift.pairsAuto(docs, "doc_id", "tk", 0)
    }
  }

  test("pairsAuto (census picks the string arm here) matches the hash arm") {
    for (support <- Seq(1, 3)) {
      val auto = asMap(CoocLift.pairsAuto(docs, "doc_id", "tk", support))
      val hash = asMap(CoocLift.pairs(docs, "doc_id", "tk", support))
      assert(auto === hash, s"support=$support")
      assert(auto === reference(support), s"support=$support vs driver fold")
    }
  }
}
