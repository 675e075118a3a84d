package graft.operators

import graft.Materialize._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Doc-level token co-occurrence lift mining (q132's engine) —
  * lift(a,b) = P(a,b) / (P(a)·P(b)) = c_ab·N / (c_a·c_b), computed
  * int64-exact over doc-level co-occurrence with a support floor.
  *
  * The straightforward plan (kept as [[pairsStrings]], and the shape the
  * DuckDB oracle spells) generates every within-doc distinct-token pair
  * as a (string, string) struct and hash-aggregates it. Two costs
  * dominate at corpus scale, measured on the Zipf-vocabulary fixture
  * (SCALE.md round 12 — 170 s for a mere 25k docs / 55 M pairs):
  *
  *  1. ''Pair volume.'' Pairs per doc are quadratic in the doc's
  *     distinct-token count, and on an open-vocabulary corpus most of a
  *     doc's distinct tokens are tail words that can never reach the
  *     support floor. Lossless a-priori pruning fixes this:
  *     c_ab ≤ min(c_a, c_b), so a token with document frequency
  *     < minSupport cannot appear in ANY qualifying pair — filtering the
  *     per-doc token sets to df ≥ minSupport before pair generation
  *     changes nothing in the output while cutting the quadratic term.
  *
  *  2. ''Key width.'' A (string, string) pair key hashes, compares, and
  *     shuffles byte-wise; tens of millions of such keys make the
  *     partial/final aggregate memory- and CPU-bound. The mined pair
  *     stream here carries (long, long) instead: each kept token is
  *     dictionary-encoded as xxhash64(token), pairs are generated from
  *     the per-doc SORTED hash array, and only the support-qualified
  *     survivors (a tiny frame) are decoded back to strings. An
  *     unordered pair maps to the same (min,max) hash key either way, so
  *     counts are exact — PROVIDED the hash is injective on this vocab.
  *     That is checked, not assumed: one aggregate over the kept vocab
  *     compares count(token) to count(distinct hash); on a collision
  *     (possible in principle at billion-token vocabularies) the miner
  *     falls back to [[pairsStrings]], which is always exact.
  *     (A rank-based dictionary would avoid the fallback but needs a
  *     global sort of the vocab — a single-task window at 1e9 tokens;
  *     the hash dictionary is shuffle-free and the guard costs one
  *     vocab-sized aggregate.)
  *
  * Scale shape: explode (linear) → vocab aggregate (tokens are the hot
  * key, one row each) → per-doc array rebuild (groups are doc-sized) →
  * map-side pair generation (never a self-join) → one fixed-width
  * hash aggregate → decode join on the qualified survivors only. The
  * vocab side is broadcast when small and shuffle-joined when not —
  * dispatched on the measured kept-vocab count, same census idiom as
  * [[JaccardDedup.pairsAuto]].
  *
  * Reference analog: none (SURVEY §2.L82) — the oracle is the naive
  * doc-level self-join SQL.
  */
object CoocLift {

  /** Vocab row count under which the dictionary/decode sides are
    * broadcast. 2M rows ≈ tens of MB — safely under a 1 GiB driver
    * budget; past it the joins shuffle (both sides linear). */
  private val BroadcastVocabCutover = 2000000L

  /** Pair-volume census cutover between the direct string plan and the
    * dictionary plan. The census is Σ_doc k·(k−1)/2 — the EXACT pair
    * count the miner must aggregate. Measured on the Zipf fixture
    * (local[32]): at 1.4e6 pairs (sf0.1) the direct plan wins (0.9 s vs
    * 1.8 s — the dictionary path pays a guard job, a vocab checkpoint,
    * and the per-doc array rebuild); at 1e8 pairs it loses 6× (251 s vs
    * 41 s — string pair keys dominate the aggregate). Crossover sits
    * around 1e7 pairs where the dictionary path's ~1 s of fixed stages
    * equals the string aggregate's extra per-row cost (~1.5 µs/pair). */
  private val PairCensusCutover = 1e7

  /** Census-driven dispatch between the direct string-key plan (small
    * pair volume — skips the dictionary's fixed stages) and the
    * hash-dictionary plan (everything else). Identical output either
    * way; CoocLiftSpec pins parity on both regimes. The census is one
    * aggregate action over `docs` — callers should checkpoint the
    * tokenized frame first (q132 does) or the tokenize exprs run twice. */
  def pairsAuto(docs: DataFrame, idCol: String, tkCol: String,
      minSupport: Int): DataFrame = {
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    val k = size(col(tkCol)).cast("long")
    // SQL `/` is fractional even on longs — sum 2× the pair count and
    // halve on the driver to stay integral
    val census = docs
      .agg(coalesce(sum(k * (k - lit(1L))), lit(0L)))
      .head().getLong(0) / 2
    if (census > PairCensusCutover) pairs(docs, idCol, tkCol, minSupport)
    else {
      // small corpus: pairs straight off the sorted string arrays — one
      // aggregate, no dictionary, vocab sides broadcast by construction
      val ex = docs.select(explode(col(tkCol)).as("w"))
      val dfreq = ex.groupBy(col("w")).agg(count(lit(1)).as("c"))
      val arrs = docs.select(sort_array(col(tkCol)).as("tk"))
      pairsStrings(arrs, "tk")
        .where(col("c_ab") >= minSupport)
        .join(broadcast(dfreq.select(col("w").as("a"), col("c").as("c_a"))),
          Seq("a"))
        .join(broadcast(dfreq.select(col("w").as("b"), col("c").as("c_b"))),
          Seq("b"))
        .select(col("a"), col("b"), col("c_ab"), col("c_a"), col("c_b"))
    }
  }

  /** Qualified pairs with exact counts: (a, b, c_ab, c_a, c_b) with
    * a < b lexicographically, c_ab ≥ minSupport. `docs` must carry
    * `idCol` and `tkCol` — an already-distinct token array. */
  def pairs(docs: DataFrame, idCol: String, tkCol: String,
      minSupport: Int): DataFrame = {
    val (ex, keep, side, hashInjective) = prunedVocab(docs, idCol, tkCol, minSupport)
    if (!hashInjective) pairsFallback(ex, keep, side, minSupport)
    else {
      val exk = ex.join(side(keep.select(col("w"), col("h"))), Seq("w"))
      val arrs = exk.groupBy(col("doc"))
        .agg(sort_array(collect_list(col("h"))).as("hk"))
      val cab = arrs
        .select(explode(pairExpr("hk")).as("p"))
        .select(col("p.a").as("x"), col("p.b").as("y"))
        .groupBy(col("x"), col("y")).agg(count(lit(1)).as("c_ab"))
        .where(col("c_ab") >= minSupport)
      // decode the qualified survivors only; a/b order is lexicographic
      // on the STRINGS (hash order is meaningless), lift's denominator
      // is symmetric so c_a/c_b just follow the swap
      cab
        .join(side(keep.select(col("h").as("x"), col("w").as("wx"),
          col("c").as("cx"))), Seq("x"))
        .join(side(keep.select(col("h").as("y"), col("w").as("wy"),
          col("c").as("cy"))), Seq("y"))
        .select(
          least(col("wx"), col("wy")).as("a"),
          greatest(col("wx"), col("wy")).as("b"),
          col("c_ab"),
          when(col("wx") < col("wy"), col("cx")).otherwise(col("cy")).as("c_a"),
          when(col("wx") < col("wy"), col("cy")).otherwise(col("cx")).as("c_b"))
    }
  }

  /** The exploded (doc, w) stream, the a-priori-pruned vocab with its
    * hash dictionary (vocab-sized, reused three times), the
    * broadcast-or-shuffle dispatch for vocab-sized frames, and whether
    * xxhash64 is injective on the kept vocab. */
  private def prunedVocab(docs: DataFrame, idCol: String, tkCol: String,
      minSupport: Int): (DataFrame, DataFrame, DataFrame => DataFrame, Boolean) = {
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    val ex = docs.select(col(idCol).as("doc"), explode(col(tkCol)).as("w"))
    val dfreq = ex.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val keep = dfreq.where(col("c") >= minSupport)
      .withColumn("h", xxhash64(col("w")))
      .materialize()
    val Array(nKeep, nHash) = keep
      .agg(count(lit(1)), countDistinct(col("h"))).head()
      .toSeq.map(_.asInstanceOf[Long]).toArray
    val bcast = nKeep <= BroadcastVocabCutover
    (ex, keep, f => if (bcast) broadcast(f) else f, nKeep == nHash)
  }

  /** [[pairs]]' collision-fallback arm on any vocab. In [[pairs]] it is
    * reached only on an actual xxhash64 collision inside the kept vocab
    * (never seen on test-sized vocabs), so CoocLiftSpec pins its parity
    * and support floor here. */
  private[graft] def stringFallbackPairs(docs: DataFrame, idCol: String,
      tkCol: String, minSupport: Int): DataFrame = {
    val (ex, keep, side, _) = prunedVocab(docs, idCol, tkCol, minSupport)
    pairsFallback(ex, keep, side, minSupport)
  }

  /** The xxhash64-collision fallback: string pair keys — always exact.
    * The a-priori prune (`keep`) still applies, and so does the support
    * floor: without the c_ab filter a collision would silently return
    * sub-floor pairs, violating the documented c_ab ≥ minSupport
    * contract (r12 ADVICE). `ex` is the exploded (doc, w) frame; `side`
    * is the caller's broadcast-or-shuffle dispatch for vocab-sized
    * frames. */
  private def pairsFallback(ex: DataFrame, keep: DataFrame,
      side: DataFrame => DataFrame, minSupport: Int): DataFrame = {
    val exk = ex.join(side(keep.select(col("w"))), Seq("w"))
    val arrs = exk.groupBy(col("doc"))
      .agg(sort_array(collect_list(col("w"))).as("tk"))
    pairsStrings(arrs, "tk")
      .where(col("c_ab") >= minSupport)
      .join(side(keep.select(col("w").as("a"), col("c").as("c_a"))), Seq("a"))
      .join(side(keep.select(col("w").as("b"), col("c").as("c_b"))), Seq("b"))
      .select(col("a"), col("b"), col("c_ab"), col("c_a"), col("c_b"))
  }

  /** All unordered within-row pairs of a SORTED array column, as
    * (a, b, c_ab) counts — the always-exact string-key shape (and the
    * collision fallback). Input rows carry the array in `tkCol`. */
  private[graft] def pairsStrings(arrs: DataFrame, tkCol: String): DataFrame =
    arrs.select(explode(pairExpr(tkCol)).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab"))

  /** Map-side pair generation over a sorted array: every (earlier,
    * later) element pair, no self-join, no shuffle of raw tokens. */
  private def pairExpr(arrCol: String): Column = expr(
    s"""flatten(transform($arrCol, (x, i) ->
       |  transform(slice($arrCol, i + 2, size($arrCol)), y ->
       |    struct(x AS a, y AS b))))""".stripMargin)
}
