package graft.operators

import graft.Materialize._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Containment (subset-duplicate) detection: for candidate pairs,
  * C(A,B) = |S_A ∩ S_B| / min(|S_A|, |S_B|) over distinct shingle-hash
  * sets. Symmetric Jaccard misses the "doc B is doc A plus a header"
  * case (the union grows with the superset), which is exactly the shape
  * quote-heavy and templated web corpora produce; containment fires at
  * 1.0 whenever the smaller document's shingles are fully covered.
  *
  * THREE exact strategies, chosen by the corpus's shingle-frequency
  * distribution (ContainmentDedupSpec pins their parity):
  *
  *  - [[pairs]] — inverted-index self-join + count aggregation. Cost is
  *    Σ_sh df(sh)² join rows; optimal when posting lists are short OR
  *    (the degenerate opposite) when the vocabulary is so small that
  *    most pairs co-occur anyway and per-pair counting via map-side
  *    combine beats per-pair set intersection. The known hot spot is a
  *    boilerplate shingle whose posting list pairs quadratically in one
  *    task; the maxDocFreq cap bounds it at a documented accuracy cost.
  *  - [[pairsBitmaskFromSets]] — broadcast-bitmask all-pairs popcount
  *    sweep for the SMALL-CLOSED-VOCABULARY dense regime (the q113
  *    fixture's shape): when masks are a few words wide and D²/2 word
  *    ops fit a seconds budget, the sweep beats the join because the
  *    join must shuffle Σ df² rows through a pair-cardinality hash
  *    aggregate while the sweep shuffles nothing.
  *  - [[pairsPrefixFiltered]] — lossless PPJoin-style prefix filter, the
  *    100 TB web-corpus path: large vocabulary, rare shingles, near-dup
  *    rate ≪ pair count. Candidate generation touches only each doc's
  *    rarest (1−t)·n + 1 shingles, so the every-doc boilerplate shingle
  *    never pairs at all — no cap needed, no accuracy loss.
  *
  * Prefix-filter correctness: rank each doc's shingles rarest-first by
  * global document frequency (tie-break by hash). A pair with
  * containment ≥ t must share ≥ ⌈t·n_min⌉ shingles, so the MIN-side doc
  * must expose one of its first p = n − ⌊t·n⌋ + 1 rarest shingles to any
  * qualifying partner: had the partner missed the whole prefix, at most
  * n − p = ⌊t·n⌋ − 1 < ⌈t·n⌉ shingles remain to overlap. ⌊·⌋ (not ⌈·⌉)
  * guards double rounding: a one-longer prefix is safe, a one-shorter
  * prefix drops true pairs. Candidates are verified exactly with the
  * allocation-free sorted-merge kernel
  * ([[graft.functions.SortedIntersectCount]]) over the per-doc sorted
  * shingle arrays; the distinct pair list joins back through AQE (it
  * broadcasts dynamically when small — on sparse corpora pairs track
  * the true near-dup rate, not the corpus size).
  *
  * Reference has no analog; SURVEY §2.L59. The exact-SQL oracle (q113)
  * runs the naive join uncapped. At the oracle scale factors the corpus
  * is a ~1k-shingle closed vocabulary (every pair co-occurs — median
  * document frequency ≈ corpus/20), which is precisely the distribution
  * where [[pairs]] wins; q113 uses it, and the spec pins
  * [[pairsPrefixFiltered]] equal on the same data.
  */
object ContainmentDedup {

  /** Candidate pairs with containment >= minContainment, via the
    * inverted-index count-aggregation join.
    * Output: (doc1, doc2, n_common, containment), doc1 < doc2.
    *
    * @param maxDocFreq 0 = exact (no cap); > 0 drops shingles whose
    *        document frequency exceeds the cap before pair generation
    *        (they leave the intersection count but stay in the
    *        denominator).
    */
  /** Exploded shingle postings (idCol, n_sh, sh) — the shared first stage
    * of every strategy AND the census. [[pairsAuto]] materializes this
    * once so the tokenize+hash pass is paid a single time however many
    * consumers follow. */
  private def shingleSets(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int): DataFrame = {
    graft.GraftFunctions.registerAll(docs.sparkSession)
    val parallelism = docs.sparkSession.sparkContext.defaultParallelism
    docs.select(col(idCol), col(textCol))
      .repartition(parallelism)
      .select(col(idCol),
        MinHashDedup.shingleHashesFromTokens(col(textCol), shingleK).as("hs"))
      .select(col(idCol), size(col("hs")).as("n_sh"), explode(col("hs")).as("sh"))
  }

  def pairs(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int, minContainment: Double,
      maxDocFreq: Int = 0): DataFrame =
    pairsFromSets(shingleSets(docs, idCol, textCol, shingleK),
      idCol, minContainment, maxDocFreq)

  private def pairsFromSets(sets: DataFrame, idCol: String,
      minContainment: Double, maxDocFreq: Int): DataFrame = {
    val posting =
      if (maxDocFreq <= 0) sets
      else {
        // doc-frequency census is one partial+final count per shingle —
        // the hot key is an aggregate row, never a member list
        val df = sets.groupBy(col("sh")).agg(count(lit(1)).as("_df"))
        sets.join(df.where(col("_df") <= maxDocFreq), Seq("sh")).drop("_df")
      }
    val a = posting.select(col(idCol).as("doc1"), col("n_sh").as("n1"), col("sh"))
    val b = posting.select(col(idCol).as("doc2"), col("n_sh").as("n2"), col("sh"))
    a.join(b, Seq("sh"))
      .where(col("doc1") < col("doc2"))
      .groupBy(col("doc1"), col("doc2"), col("n1"), col("n2"))
      .agg(count(lit(1)).as("n_common"))
      .withColumn("containment",
        graft.queries.round6(col("n_common"), least(col("n1"), col("n2"))))
      .where(col("containment") >= minContainment)
      .select(col("doc1"), col("doc2"), col("n_common"), col("containment"))
  }

  /** Cost estimates for the two strategies, from the shingle
    * document-frequency census alone (no pair generation):
    *
    *  - `naiveJoinRows` = Σ_sh df(sh)² — the exact inverted-index join
    *    cardinality [[pairs]] would produce (uncapped).
    *  - `prefixJoinRows` — upper-bound proxy for [[pairsPrefixFiltered]]'s
    *    candidate join: prefix postings total (1−t)·P + D and concentrate
    *    on the globally rarest shingles, so cumulate the df-histogram
    *    ascending until that mass is covered and sum df² over it. A
    *    prefix shingle pairs with at most its full posting list, so the
    *    true candidate count is ≤ this.
    *
    * The census is one groupBy(sh) over the postings; the histogram is
    * log2-bucketed (≤64 rows to the driver) so no vocab-sized sort or
    * single-partition window exists on the path — scale-safe at any
    * vocabulary size. */
  final case class StrategyEstimate(
      docs: Long, postings: Long, naiveJoinRows: Double, prefixJoinRows: Double,
      vocab: Long = Long.MaxValue) {
    /** Prefix wins when BOTH hold (calibrated on the measured
      * dense/sparse fixtures, SCALE.md round 5):
      *
      *  - ratio: its candidate bound undercuts the naive join by 4× —
      *    dense corpus → ratio ≈ 1 (naive), sparse web-shape →
      *    ratio ≪ 0.1 (prefix);
      *  - magnitude: the naive join is big enough (>1e8 rows) that join
      *    cardinality, not stage count, is the cost. Measured at sf0.1:
      *    with naive at 6e6–7e7 rows, naive wins wall-clock on BOTH
      *    fixtures (2.4 s vs 6.1 s dense, 1.5 s vs 2.4 s sparse) because
      *    the prefix path's fixed overhead — census join, rarest-first
      *    rank window, per-pair verify, ~4 extra stages — dominates at
      *    small volume. Below the floor a mis-pick costs seconds; above
      *    it, picking naive on a sparse corpus costs quadratically. */
    def usePrefix: Boolean =
      naiveJoinRows > 1e8 && prefixJoinRows < 0.25 * naiveJoinRows
  }

  def estimate(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int, minContainment: Double): StrategyEstimate =
    estimateFromSets(shingleSets(docs, idCol, textCol, shingleK),
      nDocs = docs.select(col(idCol)).distinct().count(), minContainment)

  private def estimateFromSets(sets: DataFrame, nDocs: Long,
      minContainment: Double): StrategyEstimate =
    estimateFromHistogram(censusHistogram(sets), nDocs, minContainment)

  /** The census collect (one aggregate action) — split from the driver
    * math so [[pairsAuto]] can overlap it with the nDocs count. The
    * bucket ORDER is established driver-side (estimateFromBuckets), not
    * by an orderBy: sorting ≤64 rows does not merit an exchange. */
  private def censusHistogram(
      sets: DataFrame): Array[org.apache.spark.sql.Row] = {
    val census = sets.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    // log2 histogram: tiny driver result regardless of vocabulary size
    census
      .groupBy(floor(log2(col("df"))).as("b"))
      // df² summed in double: Σ df² over a billion-doc vocabulary
      // overflows long, and the estimate only needs magnitude
      .agg(sum(col("df")).as("p"),
        sum(col("df").cast("double") * col("df")).as("j"),
        count(lit(1)).as("v"))
      .collect()
  }

  private[operators] def estimateFromHistogram(
      hist: Array[org.apache.spark.sql.Row],
      nDocs: Long, minContainment: Double): StrategyEstimate =
    estimateFromBuckets(hist.map(r => (r.getAs[Long]("b"), r.getAs[Long]("p"),
      r.getAs[Double]("j"), r.getAs[Long]("v"))), nDocs, minContainment)

  /** The dispatch cumulation, ALWAYS over log2 buckets (b, p=Σdf,
    * j=Σdf², v=#shingles) — the distribution shape the usePrefix ratio
    * threshold was calibrated against (SCALE.md round 5). Exact per-
    * shingle censuses must be log2-BUCKETED before cumulation
    * ([[estimateFromDfs]]): r14 cumulated exact dfs directly, which
    * reads ratio ≈ (1−t) < 0.25 on dense near-uniform corpora and
    * mis-dispatched q113 onto the prefix filter at sf1 (7 s → 152 s). */
  private def estimateFromBuckets(buckets: Seq[(Long, Long, Double, Long)],
      nDocs: Long, minContainment: Double): StrategyEstimate = {
    val hist = buckets.sortBy(_._1)
    val postings = hist.map(_._2).sum
    val naive = hist.map(_._3).sum
    val vocab = hist.map(_._4).sum
    val prefixMass = (1.0 - minContainment) * postings + nDocs
    var acc = 0.0
    var pre = 0.0
    hist.foreach { case (_, p, j, _) =>
      if (acc < prefixMass) { acc += p; pre += j }
    }
    StrategyEstimate(nDocs, postings, naive, pre, vocab)
  }

  /** Driver-side log2 bucketing of an EXACT census (small vocabularies
    * only) — integer floor(log2(df)), then the same cumulation as
    * [[censusHistogram]]. Not bit-identical to that SQL
    * `floor(log2(df))`: its double log2 can round, so a boundary df may
    * land one bucket apart. */
  private[operators] def estimateFromDfs(dfs: Array[Long], nDocs: Long,
      minContainment: Double): StrategyEstimate = {
    val buckets = dfs.groupBy(d => 63L - java.lang.Long.numberOfLeadingZeros(d))
      .map { case (b, ds) =>
        (b, ds.sum, ds.map(d => d.toDouble * d).sum, ds.length.toLong) }
      .toSeq
    estimateFromBuckets(buckets, nDocs, minContainment)
  }

  /** Data-driven containment join: run the census-based [[estimate]] and
    * dispatch to whichever exact strategy it predicts cheaper (both
    * produce identical output — ContainmentDedupSpec pins parity on
    * dense AND sparse fixtures). The tokenize+shingle pass — the
    * dominant CPU cost at any scale — runs ONCE: the postings frame is
    * materialized (localCheckpoint) and shared by the census and the
    * chosen join, so the chooser's only marginal cost is the census
    * aggregation itself. */
  def pairsAuto(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int, minContainment: Double): DataFrame = {
    val sets = shingleSets(docs, idCol, textCol, shingleK).materialize()
    // nDocs from the RAW table (column-pruned scan): the exploded frame
    // silently drops zero-shingle docs, which would skew the estimate's
    // +D prefix-mass term on short-doc-heavy corpora. The count and the
    // census histogram are INDEPENDENT jobs — overlap them (guide §2.6:
    // actions are only sequential because the driver calls them
    // sequentially); the census only folds nDocs in after its collect.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val nDocsF = Future(docs.select(col(idCol)).distinct().count())
    // The corpus pays exactly ONE census shuffle (r15), and the DISPATCH
    // always cumulates the log2-histogram shape (the calibration's
    // distribution — see estimateFromBuckets; r14 cumulated exact dfs
    // directly and mis-dispatched dense corpora onto the prefix filter
    // at sf1, 7 s → 152 s). Which census job runs is decided by a
    // SHORT-READ regime probe first: collect 4×cap postings off the
    // checkpoint (CollectLimit stops at the first partitions that fill
    // it — no scan of the corpus, no shuffle) and count distinct
    // shingles on the driver. A sample's distinct count never exceeds
    // the true vocabulary, so:
    //
    //  - reads small (≤ cap): the vocabulary MIGHT be small — collect
    //    the EXACT census with a capped read. One census job serves the
    //    estimate AND the bitmask path's vocabulary keys (r14's fast
    //    path; the probe's own cap verifies, so a locally-closed sample
    //    of a genuinely huge vocabulary costs one bounded extra census,
    //    never wrongness).
    //  - reads large (the 100 TB sparse-web regime — doc-specific
    //    shingles saturate any sample immediately): the log2 histogram
    //    is the one census job. r14 ran the capped probe's full map
    //    side AND the histogram here, paying the postings shuffle
    //    twice; the r15.0 intermediate shape ran histogram + a vocab
    //    distinct on the SMALL side instead, two census-class shuffles,
    //    +0.5 s on q113's sf0.1 bench row.
    val sampleDistinct = sets.select(col("sh"))
      .limit(4 * SmallVocabCap).collect()
      .foldLeft(new java.util.HashSet[Long]()) { (s, r) =>
        s.add(r.getLong(0)); s }.size
    var vocabArr: Option[Array[Long]] = None
    val nDocsOf = () => Await.result(nDocsF, Duration.Inf)
    val est =
      if (sampleDistinct <= SmallVocabCap) {
        val probe = sets.groupBy(col("sh")).agg(count(lit(1)).as("df"))
          .limit(SmallVocabCap + 1).collect()
        if (probe.length <= SmallVocabCap) {
          vocabArr = Some(probe.map(_.getLong(0)).sorted)
          estimateFromDfs(probe.map(_.getLong(1)), nDocsOf(), minContainment)
        } else
          // the sample read closed-vocabulary but the full census
          // overflowed the cap; correctness is unaffected, this pass
          // just pays the double census r14 paid everywhere
          estimateFromHistogram(censusHistogram(sets), nDocsOf(),
            minContainment)
      } else estimateFromHistogram(censusHistogram(sets), nDocsOf(),
        minContainment)
    val nDocs = nDocsOf()
    val idIntegral = docs.schema(idCol).dataType match {
      case org.apache.spark.sql.types.LongType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.ByteType => true
      case _ => false
    }
    if (est.usePrefix) prefixFromSets(sets, idCol, minContainment)
    else if (idIntegral && bitmaskFits(nDocs, est.vocab)) {
      // vocabulary keys rode the census probe: sample distinct ≤ true
      // vocab, so a bitmask-eligible corpus (vocab ≤ cap) can never
      // read large at the sample and always took the probe. The
      // fallback is defensive only (bounded at 16384 rows by
      // bitmaskFits, driver-cheap, never on the scale paths).
      val va = vocabArr.getOrElse(sets.select(col("sh")).distinct()
        .collect().map(_.getLong(0)).sorted)
      pairsBitmaskFromSets(sets, idCol, minContainment, est.vocab.toInt,
        Some(va))
    }
    else pairsFromSets(sets, idCol, minContainment, maxDocFreq = 0)
  }

  /** Vocabulary count at or below which the census probe collects the
    * EXACT per-shingle df rows (16k rows ≈ a few hundred KB) — matches
    * [[bitmaskFits]]'s vocab bound so the bitmask path can reuse the
    * collected keys. */
  private val SmallVocabCap = 16384


  /** The dense-regime fast path fits when (a) the vocabulary is a small
    * closed set (masks stay a few words wide), (b) the mask table fits
    * comfortably in a broadcast, and (c) the D²/2 popcount sweep is a
    * few-second budget across the cluster. Outside these bounds the
    * inverted-index join remains the dense strategy. */
  private def bitmaskFits(nDocs: Long, vocab: Long): Boolean = {
    if (vocab > 16384 || nDocs > 200000L) return false
    val words = (vocab + 63) >> 6
    val maskBytes = nDocs * words * 8
    val pairWordOps = nDocs.toDouble * nDocs * words / 2
    maskBytes <= (256L << 20) && pairWordOps <= 4e10
  }

  /** Spec-facing wrapper: bitmask path from raw docs (parity pins). */
  private[operators] def pairsBitmask(docs: DataFrame, idCol: String,
      textCol: String, shingleK: Int, minContainment: Double): DataFrame = {
    val sets = shingleSets(docs, idCol, textCol, shingleK).materialize()
    val vocab = sets.select(col("sh")).distinct().count().toInt
    pairsBitmaskFromSets(sets, idCol, minContainment, vocab)
  }

  /** Exact all-pairs containment over broadcast bitmasks — the dense
    * regime's fastest shape (measured vs the inverted-index join, which
    * must shuffle Σ df(sh)² join rows through a pair-cardinality hash
    * aggregate; here each pair is ~`words` AND+popcounts with zero
    * shuffle). Shingles dense-rank into bit positions; per-doc masks
    * build distributed, broadcast once (bounded by [[bitmaskFits]]),
    * and striped index blocks sweep the triangle at full parallelism.
    * Same output as [[pairs]] — ContainmentDedupSpec pins three-way
    * parity. Containment rounds through the identical integer-exact
    * 6-dp formula (graft.queries.round6) so the doubles match the join
    * paths bit-for-bit. */
  private[operators] def pairsBitmaskFromSets(setsIn: DataFrame, idCol: String,
      minContainment: Double, vocab: Int,
      vocabIn: Option[Array[Long]] = None): DataFrame = {
    val spark = setsIn.sparkSession
    import spark.implicits._
    val words = (vocab + 63) >> 6
    // the caller's census probe already holds the vocabulary when it
    // chose this path — collecting it again would be a redundant job
    val vocabArr = vocabIn.getOrElse(
      setsIn.select(col("sh")).distinct().as[Long].collect().sorted)
    val idxB = spark.sparkContext.broadcast(
      vocabArr.zipWithIndex.toMap: Map[Long, Int])
    val masks: Array[(Long, Array[Long])] = setsIn
      .groupBy(col(idCol)).agg(collect_list(col("sh")).as("hs"))
      .select(col(idCol).cast("long"), col("hs"))
      .as[(Long, Seq[Long])]
      .mapPartitions { it =>
        val idx = idxB.value
        it.map { case (d, hs) =>
          val m = new Array[Long](words)
          hs.foreach { h => val i = idx(h); m(i >> 6) |= 1L << (i & 63) }
          (d, m)
        }
      }.collect().sortBy(_._1)
    val counts = masks.map(_._2.map(java.lang.Long.bitCount).sum)
    val mB = spark.sparkContext.broadcast(masks)
    val cB = spark.sparkContext.broadcast(counts)
    val d = masks.length
    val stripes = math.max(1, math.min(d,
      spark.sparkContext.defaultParallelism * 4))
    val rows = spark.sparkContext.parallelize(0 until stripes, stripes)
      .flatMap { s =>
        val ms = mB.value; val cs = cB.value
        Iterator.range(s, d, stripes).flatMap { i =>
          val (d1, m1) = ms(i)
          val n1 = cs(i)
          Iterator.range(i + 1, d).flatMap { j =>
            val (d2, m2) = ms(j)
            var c = 0L
            var w = 0
            while (w < words) { c += java.lang.Long.bitCount(m1(w) & m2(w)); w += 1 }
            val den = math.min(n1, cs(j)).toLong
            // graft.queries.round6 in scalar form: exact 6-dp half-up
            val containment = ((c * 2000000L + den) / (den * 2L)).toDouble / 1e6
            if (containment >= minContainment)
              Iterator.single((d1, d2, c, containment))
            else Iterator.empty
          }
        }
      }
    // doc ids travel as longs through the kernel; cast back to the
    // source id type so the result schema is strategy-independent
    // (pairsAuto's output must not change type with corpus statistics)
    val idType = setsIn.schema(idCol).dataType
    rows.toDF("doc1", "doc2", "n_common", "containment")
      .withColumn("doc1", col("doc1").cast(idType))
      .withColumn("doc2", col("doc2").cast(idType))
  }

  /** Same output as [[pairs]] (uncapped), via the lossless prefix filter
    * — the sparse-vocabulary scale path (see object scaladoc). */
  def pairsPrefixFiltered(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int, minContainment: Double): DataFrame =
    prefixFromSets(shingleSets(docs, idCol, textCol, shingleK),
      idCol, minContainment)

  private def prefixFromSets(setsIn: DataFrame, idCol: String,
      minContainment: Double): DataFrame = {
    val ex = setsIn.select(col(idCol).as("doc"), col("n_sh").as("n"), col("sh"))
    // document-frequency census: the hot key is one aggregate row here,
    // never a member list
    val dfc = ex.groupBy(col("sh")).agg(count(lit(1)).as("_df"))
    // rarest-first rank within each doc; window partitions are doc-sized.
    // ranked feeds THREE consumers (prefix postings, probe postings, the
    // verification arrays) — materialize once or the shingle scan +
    // census join + window recompute per consumer
    val byDoc = Window.partitionBy(col("doc"))
    val ranked = ex.join(dfc, Seq("sh"))
      .withColumn("pos", row_number().over(byDoc.orderBy(col("_df"), col("sh"))))
      .materialize()
    val prefixLen = col("n") - floor(col("n") * lit(minContainment)) + 1
    val pre = ranked.where(col("pos") <= prefixLen)
      .select(col("doc").as("d1"), col("n").as("m1"), col("sh"))
    val all = ranked.select(col("doc").as("d2"), col("n").as("m2"), col("sh"))
    val cands = pre.join(all, Seq("sh"))
      .where(col("m1") < col("m2") ||
        (col("m1") === col("m2") && col("d1") =!= col("d2")))
      .select(least(col("d1"), col("d2")).as("doc1"),
        greatest(col("d1"), col("d2")).as("doc2"))
      .distinct()
    // exact verification on the candidate list only; arrays reuse the
    // window's doc partitioning (no extra shuffle into the groupBy)
    val sets = ranked.groupBy(col("doc"))
      .agg(sort_array(collect_list(col("sh"))).as("hs"), first(col("n")).as("n"))
    val s1 = sets.select(col("doc").as("doc1"), col("hs").as("hs1"), col("n").as("n1"))
    val s2 = sets.select(col("doc").as("doc2"), col("hs").as("hs2"), col("n").as("n2"))
    // no broadcast hint: on sparse corpora AQE sees the post-shuffle
    // candidate size and broadcasts dynamically; on a dense corpus the
    // candidate list can be millions of rows and a forced broadcast
    // would pin it on the driver
    s1.join(cands, Seq("doc1"))
      .join(s2, Seq("doc2"))
      .withColumn("n_common",
        call_function("sorted_intersect_count", col("hs1"), col("hs2")).cast("long"))
      .withColumn("containment",
        graft.queries.round6(col("n_common"), least(col("n1"), col("n2"))))
      .where(col("containment") >= minContainment)
      .select(col("doc1"), col("doc2"), col("n_common"), col("containment"))
  }
}
