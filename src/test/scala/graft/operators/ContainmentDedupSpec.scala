package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins containment semantics (subset duplicates score 1.0 where Jaccard
  * dilutes), the maxDocFreq hot-key guard (parity when cold; bounded
  * evidence loss when hot), and layout determinism. */
class ContainmentDedupSpec extends SparkSpec {
  import spark.implicits._

  test("planted subset doc scores containment 1.0 where Jaccard dilutes") {
    val core = (0 until 12).map(i => s"core$i").mkString(" ")
    val extra = (0 until 60).map(i => s"extra$i").mkString(" ")
    val docs = Seq(
      (1L, core),                 // the subset
      (2L, s"$core $extra"),      // superset: core plus 5x more content
      (3L, (0 until 40).map(i => s"other$i").mkString(" "))
    ).toDF("doc_id", "text")
    val out = ContainmentDedup.pairs(docs, "doc_id", "text",
      shingleK = 2, minContainment = 0.9).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(r.getDouble(3) == 1.0, s"containment ${r.getDouble(3)}")
    // symmetric Jaccard on the same pair is ~ |A|/|B| — far below 0.9:
    // the case this operator exists for
    val inter = r.getLong(2).toDouble
    val jaccard = inter / (11 + 71 - inter)
    assert(jaccard < 0.2, s"jaccard $jaccard should dilute")
  }

  test("maxDocFreq cap: parity when no key is hot; hot key drops only its own evidence") {
    val rnd = new scala.util.Random(31)
    val base = (0 until 30).map { i =>
      (i.toLong, (0 until 20).map(_ => s"t${i}_${rnd.nextInt(500)}").mkString(" "))
    }
    // two true near-dups sharing many doc-specific shingles...
    val dup = (100L, base.head._2 + " tail100")
    // ...and a boilerplate sentence present in EVERY doc (the hot key)
    val boiler = "click here to subscribe now"
    val docs = (base :+ dup).map { case (id, t) => (id, s"$t $boiler") }
      .toDF("doc_id", "text")
    val uncapped = ContainmentDedup.pairs(docs, "doc_id", "text", 2, 0.5)
      .orderBy("doc1", "doc2").collect().toSeq
    val capHigh = ContainmentDedup.pairs(docs, "doc_id", "text", 2, 0.5,
      maxDocFreq = 1000).orderBy("doc1", "doc2").collect().toSeq
    assert(uncapped == capHigh, "a cap above every doc-frequency must be a no-op")
    // cap at 5: the every-doc boilerplate shingles stop generating pairs,
    // but the true near-dup pair (evidence: ~19 doc-specific shingles)
    // must survive with its containment intact
    val capped = ContainmentDedup.pairs(docs, "doc_id", "text", 2, 0.5,
      maxDocFreq = 5).collect()
    val kept = capped.filter(r => r.getLong(0) == 0L && r.getLong(1) == 100L)
    assert(kept.length == 1, "true near-dup must survive the cap")
    // capped shingles leave the denominator but exit the intersection,
    // so containment dips slightly below the uncapped value — bounded by
    // the boilerplate's shingle count, not by corpus size
    assert(kept.head.getDouble(3) >= 0.75)
  }

  test("prefix-filtered strategy equals the naive join exactly") {
    // dense closed-vocabulary corpus (the adversarial case for the
    // prefix filter: rarest shingles still co-occur widely) ...
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val naive = ContainmentDedup.pairs(docs, "doc_id", "text", 2, 0.8)
      .orderBy("doc1", "doc2").collect().toSeq
    val pf = ContainmentDedup.pairsPrefixFiltered(docs, "doc_id", "text", 2, 0.8)
      .orderBy("doc1", "doc2").collect().toSeq
    assert(naive == pf)
    assert(naive.nonEmpty, "fixture must exercise the comparison")
    // ...and a sparse-vocabulary one with planted near-dups (the case
    // the prefix filter exists for: doc-specific shingles never collide)
    val rnd = new scala.util.Random(7)
    val base = (0 until 25).map { i =>
      (i.toLong, (0 until 30).map(_ => s"w${i}_${rnd.nextInt(10000)}").mkString(" "))
    }
    val sparse = (base ++ Seq(
      (200L, base(3)._2 + " tail extra"),
      (201L, base(7)._2)
    )).toDF("doc_id", "text")
    val n2 = ContainmentDedup.pairs(sparse, "doc_id", "text", 2, 0.7)
      .orderBy("doc1", "doc2").collect().toSeq
    val p2 = ContainmentDedup.pairsPrefixFiltered(sparse, "doc_id", "text", 2, 0.7)
      .orderBy("doc1", "doc2").collect().toSeq
    assert(n2 == p2)
    assert(n2.exists(r => r.getLong(0) == 3L && r.getLong(1) == 200L))
    assert(n2.exists(r => r.getLong(0) == 7L && r.getLong(1) == 201L))
  }

  test("census estimate picks naive on dense vocab, prefix on sparse; pairsAuto parity") {
    // dense closed vocabulary: prefixes prune nothing, naive must win
    val dense = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val denseEst = ContainmentDedup.estimate(dense, "doc_id", "text", 2, 0.8)
    assert(!denseEst.usePrefix,
      s"dense corpus must choose naive: $denseEst")
    // sparse Zipfian corpus with planted superset twins (small): the
    // rare tail dominates, so the cardinality RATIO signals prefix...
    val sparse = SparseCorpus(spark, 1500L, 100000L)
      .localCheckpoint()
    val sparseEst = ContainmentDedup.estimate(sparse, "doc_id", "text", 2, 0.8)
    assert(sparseEst.prefixJoinRows < 0.25 * sparseEst.naiveJoinRows,
      s"sparse corpus must show the prefix cardinality win: $sparseEst")
    // ...but at this volume the magnitude floor holds it on naive (the
    // measured small-scale winner; SCALE.md round 5) — the same shape
    // above 1e8 naive join rows flips to prefix
    assert(!sparseEst.usePrefix, s"below the floor: $sparseEst")
    val atScale = sparseEst.copy(
      naiveJoinRows = sparseEst.naiveJoinRows * 1e3,
      prefixJoinRows = sparseEst.prefixJoinRows * 1e3)
    assert(atScale.usePrefix, s"same ratio above the floor must flip: $atScale")
    assert(!denseEst.copy(naiveJoinRows = denseEst.naiveJoinRows * 1e3,
      prefixJoinRows = denseEst.prefixJoinRows * 1e3).usePrefix,
      "dense ratio must stay naive at any scale")
    // the dispatcher's output is identical to the naive reference on both
    val autoDense = ContainmentDedup.pairsAuto(dense, "doc_id", "text", 2, 0.8)
      .orderBy("doc1", "doc2").collect().toSeq
    assert(autoDense == ContainmentDedup.pairs(dense, "doc_id", "text", 2, 0.8)
      .orderBy("doc1", "doc2").collect().toSeq)
    val autoSparse = ContainmentDedup.pairsAuto(sparse, "doc_id", "text", 2, 0.8)
      .orderBy("doc1", "doc2").collect().toSeq
    assert(autoSparse == ContainmentDedup.pairs(sparse, "doc_id", "text", 2, 0.8)
      .orderBy("doc1", "doc2").collect().toSeq)
    // every planted twin (doc+header) is found at containment 1.0
    val twins = autoSparse.filter(_.getDouble(3) == 1.0)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((0L until 1500L by 100L).forall(d => twins.contains((d, d + 1500L))),
      s"planted twins missing: $twins")
  }

  test("dense sf1-shaped census dispatches away from prefix at any magnitude") {
    // regression pin (r14 -> r15): the sf1 documents corpus is ~50k docs
    // over a ~1k-shingle closed vocabulary with near-uniform df ~ 2650.
    // r14's exact-census cumulation produced prefixJoinRows ~ (1-t) *
    // naive < 0.25 * naive on exactly this shape and flipped q113 onto
    // the prefix filter (which prunes NOTHING on a dense corpus):
    // 7.1 s -> 151.9 s at sf1. The dispatcher must cumulate the
    // LOG2-HISTOGRAM form — whose whole-bucket overshoot pushes dense
    // corpora to ratio ~ 1 — because that is the distribution the 0.25
    // threshold was calibrated against (SCALE.md round 5).
    def hist(rows: Seq[(Long, Long, Double, Long)]) =
      rows.toDF("b", "p", "j", "v").collect()
    val denseSf1 = hist(Seq(
      (10L, 150000L, 2.25e8, 100L),        // 100 shingles at df = 1500
      (11L, 2385000L, 6.32025e9, 900L)))   // 900 shingles at df = 2650
    val est = ContainmentDedup.estimateFromHistogram(denseSf1,
      nDocs = 50000L, minContainment = 0.8)
    assert(est.naiveJoinRows > 1e8, s"fixture must clear the magnitude floor: $est")
    assert(est.vocab == 1000L, s"vocab must be the exact sum(v): $est")
    assert(!est.usePrefix,
      s"dense closed-vocab census must never dispatch to prefix: $est")
    // the exact-cumulation failure mode this pin guards: taking only the
    // cheapest individual dfs up to the prefix mass reads ratio ~ (1-t)
    val exactStyleRatio = {
      val dfs = Array.fill(100)(1500L) ++ Array.fill(900)(2650L)
      val prefixMass = 0.2 * dfs.sum + 50000L
      var acc = 0.0; var pre = 0.0
      dfs.sorted.foreach { d =>
        if (acc < prefixMass) { acc += d; pre += d.toDouble * d } }
      pre / est.naiveJoinRows
    }
    assert(exactStyleRatio < 0.25,
      "fixture must reproduce the r14 mis-dispatch shape")
    // the exact-census probe path must bucket to log2 BEFORE cumulating:
    // fed the same raw dfs, its dispatch must match the histogram's,
    // never r14's direct cumulation
    val dfsEst = ContainmentDedup.estimateFromDfs(
      Array.fill(100)(1500L) ++ Array.fill(900)(2650L),
      nDocs = 50000L, minContainment = 0.8)
    assert(!dfsEst.usePrefix,
      s"exact-census estimate must dispatch like the histogram: $dfsEst")
    assert(dfsEst.vocab == 1000L && dfsEst.naiveJoinRows == est.naiveJoinRows,
      s"same census, same quantities: $dfsEst vs $est")
    // sparse web shape (huge rare tail, a few boilerplate shingles):
    // prefix must still fire above the floor
    val sparseWeb = hist(Seq(
      (0L, 5000000L, 5e6, 5000000L),    // df = 1 tail
      (1L, 2500000L, 6.25e6, 1000000L), // df ~ 2-3
      (5L, 320000L, 1.02e7, 10000L),    // df ~ 32
      (14L, 163840L, 2.68e9, 10L)))     // boilerplate df ~ 16k
    val sparseEst = ContainmentDedup.estimateFromHistogram(sparseWeb,
      nDocs = 300000L, minContainment = 0.8)
    assert(sparseEst.usePrefix,
      s"sparse web census must dispatch to prefix above the floor: $sparseEst")
  }

  test("bitmask all-pairs equals the naive join on dense and sparse fixtures") {
    val dense = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val naive = ContainmentDedup.pairs(dense, "doc_id", "text", 2, 0.8)
      .orderBy("doc1", "doc2").collect().toSeq
    val bm = ContainmentDedup.pairsBitmask(dense, "doc_id", "text", 2, 0.8)
      .orderBy("doc1", "doc2").collect().toSeq
    assert(naive == bm)
    assert(naive.nonEmpty)
    val rnd = new scala.util.Random(11)
    val sparse = ((0 until 20).map { i =>
      (i.toLong, (0 until 25).map(_ => s"v${i}_${rnd.nextInt(5000)}").mkString(" "))
    } ++ Seq((100L, "v3_1 v3_2"))).toDF("doc_id", "text")
    val n2 = ContainmentDedup.pairs(sparse, "doc_id", "text", 2, 0.6)
      .orderBy("doc1", "doc2").collect().toSeq
    val b2 = ContainmentDedup.pairsBitmask(sparse, "doc_id", "text", 2, 0.6)
      .orderBy("doc1", "doc2").collect().toSeq
    assert(n2 == b2)
    // result schema is strategy-independent: an int id stays int (the
    // kernel's internal long cast must not leak into the output)
    val intIds = sparse.withColumn("doc_id",
      org.apache.spark.sql.functions.col("doc_id").cast("int"))
    val bi = ContainmentDedup.pairsBitmask(intIds, "doc_id", "text", 2, 0.6)
    assert(bi.schema("doc1").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(bi.orderBy("doc1", "doc2").collect().toSeq ==
      ContainmentDedup.pairs(intIds, "doc_id", "text", 2, 0.6)
        .orderBy("doc1", "doc2").collect().toSeq)
  }

  test("sorted_intersect_count matches size(array_intersect) on sorted sets") {
    val df = spark.range(200).selectExpr(
      "sort_array(array_distinct(transform(sequence(1, 1 + CAST(id % 17 AS INT)), " +
        "j -> CAST((id * j * 2654435761) % 97 AS BIGINT)))) AS a",
      "sort_array(array_distinct(transform(sequence(1, 1 + CAST(id % 23 AS INT)), " +
        "j -> CAST((id + j * 40503) % 97 AS BIGINT)))) AS b")
    graft.GraftFunctions.registerAll(spark)
    val bad = df.selectExpr(
      "sorted_intersect_count(a, b) AS fast",
      "size(array_intersect(a, b)) AS slow")
      .where(col("fast") =!= col("slow")).count()
    assert(bad == 0)
  }

  test("deterministic across partition layouts") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def run(parts: Int) =
      ContainmentDedup.pairs(docs.repartition(parts), "doc_id", "text", 2, 0.8)
        .orderBy("doc1", "doc2").collect().toSeq
    assert(run(1) == run(6))
  }
}
