package graft.examples

import graft.HarnessSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Measure the recall curves that AnnRecallSpec pins (VERDICT r3 #1):
  * IVF recall@10 vs nProbe, PQ-ADC recall@10 vs m, IVF-PQ recall@10,
  * and the SemDeDup prune-rate at a few thresholds — on any fixture
  * (arg 1: sf dir, default sf0.01; arg 2: IVF nLists, default 16 —
  * use ~sqrt(N), e.g. 64 at the 8k-vector sf1). Exact top-k is computed
  * driver-side, independent of the Spark paths under test. Run:
  *   sbt "runMain graft.examples.RecallCurve [dir] [nLists]"
  */
object RecallCurve {

  private val K = 10
  private val NQ = 20 // queries: vec_id < 20; corpus: the rest

  def main(args: Array[String]): Unit = {
    val spark = HarnessSession.builder("8").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01"))
    val nLists = args.lift(1).map(_.toInt).getOrElse(16)
    println(s"[recall] dir=$dir nLists=$nLists")
    val emb = graft.queries.t(spark, dir, "embeddings")
    val all = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val queries = all.filter(_._1 < NQ)
    val corpus = all.filter(_._1 >= NQ)

    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      if (na == 0 || nb == 0) 0.0 else d / math.sqrt(na * nb)
    }
    def l2(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var i = 0
      while (i < a.length) { val x = a(i).toDouble - b(i); d += x * x; i += 1 }
      d
    }

    // exact top-k per query, driver-side
    def exactTop(metric: (Array[Float], Array[Float]) => Double, desc: Boolean)
        : Map[Long, Set[Long]] =
      queries.map { case (qid, qv) =>
        val ranked = corpus.map { case (cid, cv) => (cid, metric(qv, cv)) }
          .sortBy { case (cid, s) => (if (desc) -s else s, cid) }
        qid -> ranked.take(K).map(_._1).toSet
      }.toMap

    val exactCos = exactTop(cos, desc = true)
    val exactL2 = exactTop(l2, desc = false)

    var lastMs = 0.0
    def recall(got: DataFrame, exact: Map[Long, Set[Long]]): Double = {
      val t0 = System.nanoTime()
      val g = got.select(col("query_id"), col("cand_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      lastMs = (System.nanoTime() - t0) / 1e6
      exact.map { case (q, ex) =>
        ex.count(g.getOrElse(q, Set.empty).contains).toDouble / ex.size
      }.sum / exact.size
    }

    val corpusDf = emb.where(col("vec_id") >= NQ)
    val queriesDf = emb.where(col("vec_id") < NQ)
      .select(col("vec_id"), col("embedding"))

    // IVF: sweep nProbe up to nLists
    val ivf = graft.operators.IvfIndex.build(corpusDf, "vec_id", "embedding", nLists = nLists)
    for (nProbe <- Seq(1, 2, 4, 8, 16, 32, 64).filter(_ <= nLists)) {
      val r = recall(graft.operators.IvfIndex.search(
        ivf, queriesDf, "vec_id", "embedding", k = K, nProbe = nProbe), exactCos)
      println(f"IVF nLists=$nLists nProbe=$nProbe%2d recall@$K = $r%.4f (${lastMs}%.0f ms)")
    }

    // PQ: sweep m at ksub=16, pure ADC vs shortlist re-rank
    for (m <- Seq(4, 8, 16)) {
      val pq = graft.operators.PqIndex.build(
        corpusDf, "vec_id", "embedding", dim = 64, m = m, ksub = 16)
      val r = recall(graft.operators.PqIndex.search(
        pq, queriesDf, "vec_id", "embedding", k = K), exactL2)
      println(f"PQ m=$m%2d ksub=16 recall@$K = $r%.4f (${lastMs}%.0f ms)")
      for (l <- Seq(25, 50, 100)) {
        val rr = recall(graft.operators.PqIndex.searchRerank(
          pq, corpusDf, "vec_id", "embedding", queriesDf, "vec_id", "embedding",
          k = K, shortlist = l), exactL2)
        println(f"PQ m=$m%2d ksub=16 rerank L=$l%3d recall@$K = $rr%.4f (${lastMs}%.0f ms)")
      }
    }

    // IVF-PQ: m=8, sweep nProbe up to nLists
    val ivfpq = graft.operators.IvfPq.build(
      corpusDf, "vec_id", "embedding", dim = 64, nLists = nLists, m = 8, ksub = 16)
    for (nProbe <- Seq(2, 4, 8, 16, 32, 64).filter(_ <= nLists)) {
      val r = recall(graft.operators.IvfPq.search(
        ivfpq, queriesDf, "vec_id", "embedding", k = K, nProbe = nProbe), exactL2)
      println(f"IVF-PQ nLists=$nLists m=8 nProbe=$nProbe%2d recall@$K = $r%.4f (${lastMs}%.0f ms)")
      val rr = recall(graft.operators.IvfPq.searchRerank(
        ivfpq, queriesDf, "vec_id", "embedding", k = K, nProbe = nProbe,
        shortlist = 50), exactL2)
      println(f"IVF-PQ nLists=$nLists m=8 nProbe=$nProbe%2d rerank L=50 recall@$K = $rr%.4f (${lastMs}%.0f ms)")
    }

    // SemDeDup prune rate at a few thresholds (nLists=8, full table)
    for (tau <- Seq(0.30, 0.35, 0.40)) {
      val v = graft.operators.SemanticDedup
        .verdicts(emb, "vec_id", "embedding", nClusters = 8, threshold = tau)
      val n = v.count()
      val dropped = v.where(col("is_kept") === 0).count()
      println(f"SemDeDup tau=$tau%.2f prune_rate = ${dropped.toDouble / n}%.4f ($dropped/$n)")
    }

    spark.stop()
  }
}
