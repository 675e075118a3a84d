package graft.operators

import graft.Materialize._

import graft.functions.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact duplicated-span REMOVAL — the substring-level dedup step of
  * Lee et al. 2021 ("Deduplicating Training Data Makes Language Models
  * Better"): any k-token span occurring more than once in the corpus
  * keeps exactly ONE occurrence (the lexicographically first (doc, pos)
  * instance); every other occurrence's tokens are cut and the document
  * reassembles from the survivors. [[PassageCoverage]] measures this
  * duplication; this operator removes it.
  *
  * Semantics (deterministic, engine-exact):
  *  - spans are OVERLAPPING k-token windows at positions 1..n-k+1;
  *  - a position is removed iff its span hash has corpus frequency >= 2
  *    and the position is not the span's owner = min(doc, pos);
  *  - a token is cut iff ANY removed span covers it (the owner's copy
  *    can still lose tokens to a different overlapping duplicated span
  *    — the standard greedy approximation, applied identically in the
  *    oracle);
  *  - documents shorter than k tokens pass through untouched.
  *
  * Scale shape: the positioned span-hash stream shuffles once on the
  * hash (partial+final count is unnecessary — just the algebraic
  * min-owner, so map-side combine collapses hot hashes before the
  * wire), and the non-owner test needs NO join back on the hash: a
  * position holds exactly one span, so "this instance is not its
  * span's owner" is a LEFT ANTI join of the positioned stream against
  * the owner set, keyed on (doc, pos) — uniform by construction. A
  * viral boilerplate span never becomes a hot join key (the hot
  * window key PassageCoverage carries does not arise here at all).
  * An f==1 span's only instance IS its owner, so the f >= 2
  * condition is implied. Removals roll up per doc; the
  * reassembly is per-row HOF compute (no shuffle). Never pairwise in
  * documents; output linear in corpus size. The tokenizer runs twice
  * (span stream + reassembly) — at corpus scale re-reading beats
  * persisting an exploded stream larger than the corpus (same call as
  * PassageCoverage / q97).
  */
object SpanDedup {

  /** Per-document (idCol, n_tokens, n_removed, text_clean). */
  def clean(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val sh = spanHashes(docs, idCol, textCol, k)
    // one owner row per distinct span hash (algebraic min — map-side
    // combine collapses hot hashes before the wire)
    val owners = sh.groupBy(col("h"))
      .agg(min(struct(col("_id").as("doc"), col("pos").as("p"))).as("o"))
      .select(col("o.doc").as("_id"), col("o.p").as("pos"))
    reassemble(docs, idCol, textCol, k, nonOwners(sh, owners))
  }

  /** Incremental form — the daily-increment contract (the q91 shape for
    * spans): clean a NEW batch against the accumulated span-hash store
    * without re-reading any history text. A new span whose hash exists
    * in the store is cut (its owner lives in history — ids are
    * append-only monotone, so every history instance precedes every new
    * one); hashes first seen in this batch elect their owner within the
    * batch exactly as [[clean]] does. Per-increment cost is O(new
    * spans) + one hash-keyed semi/anti probe of the store — history is
    * never re-paired against itself.
    *
    * Returns (cleaned new batch, this batch's first-seen hashes) — the
    * caller appends the latter to the store; seeding an empty store
    * makes the first increment identical to a full [[clean]] run
    * (parity specced: history clean + incremental clean == full-corpus
    * clean when new ids follow history ids).
    *
    * @param seenHashes single-column (`h`) store of every span hash in
    *        history, ONE ROW PER HASH ([[hashStore]] and the returned
    *        first-seen set both guarantee this; a duplicated store row
    *        would duplicate flagged instances). First column is used,
    *        name-agnostic.
    */
  def cleanIncremental(newDocs: DataFrame, idCol: String, textCol: String,
      k: Int, seenHashes: DataFrame): (DataFrame, DataFrame) = {
    // ONE store probe (the q91 tag-before-join shape): a semi + anti
    // pair would re-probe the store per consumer — and the store is
    // history-sized, the expensive side. The flagged stream is
    // materialized once, batch-sized, and feeds all three consumers
    // (hits, batch owners, first-seen hashes).
    val seen = seenHashes.select(seenHashes.columns.head).toDF("h")
      .withColumn("_hit", lit(true))
    val flagged = spanHashes(newDocs, idCol, textCol, k)
      .join(seen, Seq("h"), "left")
      .withColumn("_hit", coalesce(col("_hit"), lit(false)))
      .materialize()
    val hits = flagged.where(col("_hit"))
    val misses = flagged.where(!col("_hit"))
    val owners = misses.groupBy(col("h"))
      .agg(min(struct(col("_id").as("doc"), col("pos").as("p"))).as("o"))
    val batchDups = nonOwners(misses,
      owners.select(col("o.doc").as("_id"), col("o.p").as("pos")))
    val dup = hits.select(col("_id"), col("pos"))
      .unionByName(batchDups)
    (reassemble(newDocs, idCol, textCol, k, dup), owners.select(col("h")))
  }

  /** Distinct span-hash store of a corpus slice — what an incremental
    * deployment persists between batches and feeds to
    * [[cleanIncremental]] (also how a store is bootstrapped from
    * existing history). */
  def hashStore(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame =
    spanHashes(docs, idCol, textCol, k).select(col("h")).distinct()

  /** Positioned span-hash stream: (_id, pos [1-based], h). */
  private def spanHashes(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    graft.GraftFunctions.registerAll(docs.sparkSession)
    val toks = TextFunctions.tokens(col(textCol))
    // positions are 1-based on both engines; Spark's sequence(1, 0)
    // DESCENDS instead of returning empty, so short docs need the guard
    val starts = when(size(toks) >= k, sequence(lit(1), size(toks) - (k - 1)))
      .otherwise(array().cast("array<int>"))
    docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as("_id"), posexplode(transform(starts,
        i => TextFunctions.tokenHash(concat_ws(" ", slice(toks, i, lit(k)))))))
      .select(col("_id"), (col("pos") + 1).cast("long").as("pos"), col("col").as("h"))
  }

  /** Non-owner instances of `stream`: anti-join keyed on (doc, pos) —
    * uniform by construction, never on the (possibly viral) span hash. */
  private def nonOwners(stream: DataFrame, owners: DataFrame): DataFrame =
    stream.join(owners, Seq("_id", "pos"), "left_anti")
      .select(col("_id"), col("pos"))

  /** Cut every token covered by a removal-position span; reassemble. */
  private def reassemble(docs: DataFrame, idCol: String, textCol: String,
      k: Int, removedPositions: DataFrame): DataFrame = {
    val toks = TextFunctions.tokens(col(textCol))
    val dup = removedPositions.groupBy(col("_id"))
      .agg(sort_array(collect_list(col("pos"))).as("_dup_starts"))
    docs
      .join(dup, docs(idCol) === dup("_id"), "left")
      .withColumn("_ds", coalesce(col("_dup_starts"), array().cast("array<long>")))
      .withColumn("_kept", filter(
        transform(toks, (t, i) => struct(t.as("t"), (i + 1).as("i"))),
        x => !exists(col("_ds"),
          s => s <= x.getField("i") && x.getField("i") < s + k)))
      .select(col(idCol),
        size(toks).cast("long").as("n_tokens"),
        (size(toks) - size(col("_kept"))).cast("long").as("n_removed"),
        concat_ws(" ", transform(col("_kept"), x => x.getField("t")))
          .as("text_clean"))
  }
}
