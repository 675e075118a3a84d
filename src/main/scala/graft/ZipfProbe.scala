package graft

import org.apache.spark.sql.functions._

/** Dedup-family scale probe on the realistic Zipf-vocabulary corpus
  * (round-12 verdict #1). The driver's 31-word-vocab documents table
  * makes dedup pair OUTPUT grow ~quadratically with corpus size, so the
  * standard bench cannot distinguish "output got bigger" from "the
  * candidate generator exploded". This main runs the dedup family on
  * `tools/gen_zipf_docs.py` fixtures (constant planted near-dup rate →
  * true pairs grow LINEARLY) and reports, per query: wall seconds,
  * output rows, and — for the census-dispatched operators — the census
  * numbers and which arm was picked.
  *
  * Usage: runMain graft.ZipfProbe <docsDir> [label]
  * Prints one JSON line (same contract as graft.Bench).
  */
object ZipfProbe {

  private val Family = Seq(
    "q65_dedup_jaccard", "q66_dedup_minhash", "q67_dedup_simhash",
    "q113_dedup_containment", "q114_dedup_editverify",
    "q127_dedup_sortneighbor", "q132_cooccurrence_lift")

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val label = if (args.length > 1) args(1) else dir
    val spark = HarnessSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftFunctions.registerAll(spark)
    spark.range(1000000).selectExpr("sum(id)").collect()

    val docs = graft.catalog.ParquetRead(spark, Seq(s"$dir/documents.parquet"), merge = false)
    val nDocs = docs.count()

    // ZIPF_ONLY: comma-separated substring filter for re-probing one
    // operator after a rewrite without paying the whole family (the
    // census diagnostics are skipped with their query)
    val only: String => Boolean = sys.env.get("ZIPF_ONLY") match {
      case Some(f) if f.nonEmpty =>
        val subs = f.split(',').map(_.trim).filter(_.nonEmpty)
        name => subs.exists(name.contains)
      case _ => _ => true
    }

    // --- census diagnostics (dispatch inputs, measured up front so the
    // probe's JSON is self-contained evidence of WHICH arm ran) -------
    val (q65naive, q65arm, q65cands) = if (!only("q65")) (0.0, "skipped", 0L)
    else {
      val q65docs = docs.select(col("doc_id"), col("lang"),
        functions.TextFunctions.tokenCount(col("text")).as("n_tokens"),
        array_distinct(functions.TextFunctions.tokens(col("text"))).as("toks"))
      val naive = operators.JaccardDedup.naiveJoinRows(
        q65docs, Seq("lang", "n_tokens"))
      val arm =
        if (naive > operators.JaccardDedup.cutover) "prefix" else "naive"
      val cands =
        if (arm == "prefix")
          operators.JaccardDedup.prefixCandidates(q65docs, "doc_id", "toks",
            Seq("lang", "n_tokens"), 0.5).count()
        else naive.toLong // the naive arm verifies the whole block join
      (naive, arm, cands)
    }

    // q114's census governor: the chosen cap, the admitted-vs-full band
    // pair volume, and — the recall evidence — how many of the q65
    // ground-truth pairs (exact Jaccard >= 0.5, the planted population)
    // survive in the governed candidates vs the uncapped candidates.
    val q114diag = if (!only("q114")) "" else {
      val sigs = operators.MinHashDedup.signatures(
        docs, "doc_id", "text", shingleK = 2,
        numHashes = queries.DedupQueries.MinHashK)
      val census = operators.MinHashDedup.bandCensus(
        sigs, queries.DedupQueries.MinHashK, queries.DedupQueries.Bands,
        queries.DedupQueries.EditVerifyBudget)
      val gov = operators.MinHashDedup.candidatePairsFromSignatures(
        sigs, "doc_id", queries.DedupQueries.MinHashK,
        queries.DedupQueries.Bands, census.cap)
      val unc = operators.MinHashDedup.candidatePairsFromSignatures(
        sigs, "doc_id", queries.DedupQueries.MinHashK,
        queries.DedupQueries.Bands, 0)
      val truth = SparkEntry.queries("q65_dedup_jaccard")(spark, dir)
        .select(col("doc1"), col("doc2"))
      val truthN = truth.count()
      val inGov = truth.join(gov, Seq("doc1", "doc2"), "left_semi").count()
      val inUnc = truth.join(unc, Seq("doc1", "doc2"), "left_semi").count()
      // capped-REGIME probe (r13 verdict #1): at 100k docs the default
      // budget (2/doc) exceeds the ~105k full band-pair volume, so the
      // census above runs cap=0 and the recall check never exercises
      // cap SELECTION. budgetPairsPerDoc=1 puts the same corpus over
      // budget — the prefix-volume rule must actually choose a cap —
      // and recall/admitted-volume are then measured in the regime
      // that governs at 200k+ docs and at sf1 (6.3 pairs/doc census).
      val censusC = operators.MinHashDedup.bandCensus(
        sigs, queries.DedupQueries.MinHashK, queries.DedupQueries.Bands,
        budgetPairsPerDoc = 1)
      val govC = operators.MinHashDedup.candidatePairsFromSignatures(
        sigs, "doc_id", queries.DedupQueries.MinHashK,
        queries.DedupQueries.Bands, censusC.cap)
      val inGovC = truth.join(govC, Seq("doc1", "doc2"), "left_semi").count()
      s""""q114_census":{"full_pairs":${census.fullPairs},""" +
        s""""budget":${census.budget},"cap":${census.cap},""" +
        s""""capped_pairs":${census.cappedPairs},""" +
        s""""governed_candidates":${gov.count()},""" +
        s""""uncapped_candidates":${unc.count()},""" +
        s""""truth_pairs":$truthN,"truth_in_governed":$inGov,""" +
        s""""truth_in_uncapped":$inUnc},""" +
      s""""q114_capped_census":{"full_pairs":${censusC.fullPairs},""" +
        s""""budget":${censusC.budget},"cap":${censusC.cap},""" +
        s""""capped_pairs":${censusC.cappedPairs},""" +
        s""""governed_candidates":${govC.count()},""" +
        s""""truth_in_governed":$inGovC,""" +
        s""""truth_in_uncapped":$inUnc},"""
    }

    val est =
      if (!only("q113"))
        operators.ContainmentDedup.StrategyEstimate(0L, 0L, 0.0, 0.0, 0L)
      else operators.ContainmentDedup.estimate(
        docs, "doc_id", "text", shingleK = 2, minContainment = 0.8)
    val q113arm =
      if (!only("q113")) "skipped" else if (est.usePrefix) "prefix" else "naive"

    // --- timed family runs ------------------------------------------
    val results = Family.filter(only).map { name =>
      val t0 = System.nanoTime()
      val rows = SparkEntry.queries(name)(spark, dir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      name -> (sec, rows)
    }

    // the weighted-fingerprint form of q67 (not a SparkEntry query —
    // the oracle fixture's closed vocabulary keeps the unweighted form
    // meaningful there; THIS corpus is where the weighting matters)
    val weighted =
      if (!only("q67_weighted_simhash")) Nil
      else {
        val tw = System.nanoTime()
        val wRows = operators.SimHashDedup.weightedCandidatePairs(
          docs, "doc_id", "text", maxHd = 2).count()
        Seq("q67_weighted_simhash" ->
          (((System.nanoTime() - tw) / 1e9, wRows)))
      }

    val qjson = (results ++ weighted).map { case (n, (s, r)) =>
      f""""$n":{"sec":$s%.3f,"rows":$r}"""
    }.mkString(",")
    println(
      s"""{"metric":"zipf_dedup_probe","label":"$label","docs":$nDocs,""" +
      f""""q65_census":{"naive_join_rows":$q65naive%.0f,"arm":"$q65arm","candidates":$q65cands},""" +
      f""""q113_census":{"naive_join_rows":${est.naiveJoinRows}%.0f,"prefix_join_rows":${est.prefixJoinRows}%.0f,"postings":${est.postings},"vocab":${est.vocab},"arm":"$q113arm"},""" +
      q114diag +
      s""""queries":{$qjson}}""")
    spark.stop()
  }
}
