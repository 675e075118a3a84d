package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Context-window sequence packing — the step between a cleaned corpus
  * and a pretraining run: concatenate every document's token stream in
  * deterministic key order and split it into fixed-length training
  * sequences of exactly `seqLen` tokens, documents crossing sequence
  * boundaries (the standard GPT-style "pack then split" regime; the
  * reference stops at storage, but any consumer training on its corpus
  * needs exactly this map).
  *
  * The output is the SEGMENT MAP, one row per (sequence, document)
  * intersection — the lineage artifact a trainer needs to build each
  * sequence (which doc bytes, at which offset) and, inverted, the
  * provenance index ("which training sequences contain doc X" — the
  * memorization-audit query). Every token of every document appears in
  * exactly one segment; a trainer typically drops the final partial
  * sequence, which is the map's last seq_id.
  *
  * Semantics (engine-exact, all int64):
  *  - prior(doc) = exclusive prefix sum of weights in key order — a doc
  *    occupies the global token interval [prior, prior + w);
  *  - it intersects sequences prior div L .. (prior + w - 1) div L;
  *  - within sequence s the segment covers
  *    [max(prior, s*L), min(prior + w, (s+1)*L)), reported as the
  *    in-sequence offset, in-document offset, and length;
  *  - zero-weight docs occupy no tokens and emit no segments.
  *
  * Scale shape: the prefix sum is [[ShardPack.priors]] (one window below
  * the GlobalRank size cutover; above it range partition +
  * per-partition offsets, never a single-task global window, driver
  * state = p partition sums). The explode emits 1 + w/L rows per doc —
  * output is O(docs + total_tokens/L), linear in the corpus, and the
  * per-row `sequence()` array is bounded by the doc's own length. No
  * joins, no further shuffles after the priors frame.
  */
object SequencePack {

  /** Segment map (`seq_id`, `key`, `seq_off`, `doc_off`, `n_toks`). */
  def segments(docs: DataFrame, keyCol: Column, weightCol: Column,
      seqLen: Long): DataFrame = {
    require(seqLen > 0, s"sequence length must be positive, got $seqLen")
    val L = lit(seqLen)
    ShardPack.priors(docs, keyCol, weightCol)
      .where(col("_w") > 0L)
      .select(col("_k"), col("_w"), col("_prior"),
        explode(expr(
          s"sequence(_prior div ${seqLen}L, (_prior + _w - 1) div ${seqLen}L)"))
          .as("seq_id"))
      .select(
        col("seq_id"),
        col("_k").as("key"),
        (greatest(col("_prior"), col("seq_id") * L) - col("seq_id") * L)
          .as("seq_off"),
        (greatest(col("_prior"), col("seq_id") * L) - col("_prior"))
          .as("doc_off"),
        (least(col("_prior") + col("_w"), (col("seq_id") + lit(1L)) * L) -
          greatest(col("_prior"), col("seq_id") * L)).as("n_toks"))
  }
}
