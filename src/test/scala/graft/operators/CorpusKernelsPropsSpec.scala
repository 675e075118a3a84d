package graft.operators

import graft.TestSpark
import graft.functions.TextFunctions
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Model-based property tests for the corpus-prep kernels added with
  * q96–q98: plain-Scala reference implementations checked against the
  * Spark plans on adversarial random corpora (tiny vocabulary to force
  * segment/bigram collisions, token runs, single-token docs) — inputs
  * the synthetic parquet corpus never exercises.
  */
class CorpusKernelsPropsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def sample[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  // tiny vocabulary + short docs: collisions and runs are the norm
  private val token = Gen.oneOf("a", "b", "c", "dd", "ee")
  private val doc = Gen.choose(1, 24).flatMap(n => Gen.listOfN(n, token))

  test("collapseConsecutive matches the reference model and is idempotent") {
    val docs = sample(doc, 120)
    def model(ts: List[String]): List[String] =
      ts.foldLeft(List.empty[String]) {
        case (acc, t) if acc.headOption.contains(t) => acc
        case (acc, t) => t :: acc
      }.reverse

    val got = docs.zipWithIndex.map { case (ts, i) => (i.toLong, ts.mkString(" ")) }
      .toDF("id", "text")
      .select(col("id"), array_join(TextFunctions.collapseConsecutive(
        TextFunctions.tokens(col("text"))), " ").as("norm"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

    docs.zipWithIndex.foreach { case (ts, i) =>
      val expect = model(ts).mkString(" ")
      assert(got(i.toLong) == expect, s"doc $i: $ts")
      assert(model(model(ts)) == model(ts), s"not idempotent on $ts")
    }
  }

  test("SegmentDedup matches a full reference model on colliding corpora") {
    val n = 4 // short segments so cross-doc collisions actually happen
    val docs = sample(doc, 150).zipWithIndex.map { case (ts, i) => (i.toLong, ts) }

    // reference: segment every doc, df = distinct docs per segment,
    // keep df==1 segments, reassemble in order
    val segsOf = docs.map { case (id, ts) =>
      id -> ts.grouped(n).map(_.mkString(" ")).toVector
    }.toMap
    val df = segsOf.toSeq.flatMap { case (id, segs) => segs.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (seg, xs) => seg -> xs.map(_._2).distinct.size }
    val expect = segsOf.map { case (id, segs) =>
      val kept = segs.filter(df(_) == 1)
      id -> ((segs.size.toLong, kept.size.toLong, kept.mkString(" ")))
    }

    val got = SegmentDedup.annotate(
        docs.map { case (id, ts) => (id, ts.mkString(" ")) }.toDF("id", "text"),
        "id", "text", n)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap

    assert(got.keySet == expect.keySet)
    expect.foreach { case (id, e) =>
      assert(got(id) == e, s"doc $id: got ${got(id)}, want $e")
    }
  }

  test("bigram LM score matches an exact integer reference model") {
    val docs = sample(doc, 100).zipWithIndex.map { case (ts, i) => (i.toLong, ts) }

    // reference: add-one-smoothed bigram model, V = distinct contexts,
    // p = floor((c2+1)*1e6 / (c1+V)), score = round(mean, 6)
    val bgs = docs.flatMap { case (id, ts) => ts.sliding(2).collect {
      case List(w1, w2) => (id, w1, w2) } }
    val c2 = bgs.groupBy(b => (b._2, b._3)).map { case (k, xs) => k -> xs.size.toLong }
    val c1 = bgs.groupBy(_._2).map { case (k, xs) => k -> xs.size.toLong }
    val v = c1.size.toLong
    val expect = bgs.groupBy(_._1).map { case (id, xs) =>
      val ps = xs.map { case (_, w1, w2) => (c2((w1, w2)) + 1) * 1000000L / (c1(w1) + v) }
      id -> ((xs.size.toLong,
        BigDecimal(ps.sum.toDouble / ps.size)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    }

    // same plan as q97, over the generated corpus
    val dfIn = docs.map { case (id, ts) => (id, ts.mkString(" ")) }.toDF("doc_id", "text")
    val bg = dfIn.select(col("doc_id"), TextFunctions.tokens(col("text")).as("tk"))
      .select(col("doc_id"), explode(
        zip_with(slice(col("tk"), lit(1), size(col("tk")) - 1),
          slice(col("tk"), lit(2), size(col("tk")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("b"))
      .select(col("doc_id"), col("b.w1"), col("b.w2"))
    val c2df = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
      .localCheckpoint()
    val c1df = c2df.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val vdf = broadcast(c1df.agg(count(lit(1)).as("v")))
    val got = bg.join(c2df, Seq("w1", "w2")).join(c1df, Seq("w1")).crossJoin(vdf)
      .select(col("doc_id"), expr("(c2 + 1) * 1000000 div (c1 + v)").as("p"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum(col("p")).cast("double") / count(lit(1)), 6).as("lm_score"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap

    assert(got.keySet == expect.keySet) // docs with <2 tokens have no row
    expect.foreach { case (id, (nb, sc)) =>
      assert(got(id)._1 == nb, s"doc $id bigram count")
      assert(math.abs(got(id)._2 - sc) < 1e-9, s"doc $id: got ${got(id)._2}, want $sc")
    }
  }
}
