package graft.operators

import graft.functions.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Paragraph-level boilerplate removal (the CCNet paragraph-dedup shape,
  * re-expressed for a corpus whose documents have no newlines): fixed
  * `segTokens`-token segments stand in for paragraphs; a segment
  * appearing in >= 2 DISTINCT documents is boilerplate and is dropped,
  * survivors reassemble in original order.
  *
  * Scale shape (100 TB): "appears in >= 2 distinct docs" is
  * min(id) != max(id) over ONE window on the segment key — COUNT
  * DISTINCT is not window-able but min/max are — so the exploded
  * segment stream shuffles once, then one per-doc rollup. Never
  * pairwise; output linear in corpus size. A distinct + count-distinct
  * + join-back does the same in 3 shuffles (q86's window-beats-join-back
  * lesson). Real corpora would window on a segment HASH to shrink
  * shuffle bytes; the string key keeps the DuckDB oracle exact.
  *
  * Used by q96_dedup_paragraphs and CorpusPipeline stage 0c.
  */
object SegmentDedup {

  /** Per-document segment-dedup annotations:
    * (idCol, carryCols..., n_segs, n_kept, text_clean). Documents whose
    * every segment is boilerplate come back with text_clean = "" (the
    * caller decides whether to drop them). `carryCols` must be constant
    * per document (they ride through the rollup as max()). Tokens are
    * bound to a column BEFORE the generator: slice inside the explode
    * lambda would re-tokenize per segment otherwise (no CSE through
    * generators).
    *
    * Skew: the window needs every copy of a segment in ONE task, so a
    * viral boilerplate segment (shared by millions of docs at corpus
    * scale) is a hot partition key that AQE cannot split. The
    * owner-attribution form that avoided it had no caller and was
    * retired (SCALE.md, "Retired arm switches"). */
  def annotate(docs: DataFrame, idCol: String, textCol: String,
      segTokens: Int, carryCols: Seq[String] = Nil): DataFrame = {
    val segs = docs
      .select((col(idCol) +: carryCols.map(col) :+
        TextFunctions.tokens(col(textCol)).as("_tk")): _*)
      .select((col(idCol) +: carryCols.map(col) :+ posexplode(
        transform(
          sequence(lit(0), floor((size(col("_tk")) - 1) / segTokens).cast("int")),
          i => array_join(slice(col("_tk"), i * segTokens + 1, lit(segTokens)), " "))
      )): _*)
      .withColumnRenamed("pos", "_i").withColumnRenamed("col", "_seg")
    val w = Window.partitionBy(col("_seg"))
    val aggs = carryCols.map(c => max(col(c)).as(c)) ++ Seq(
      count(lit(1)).as("n_segs"),
      count(when(!col("_multi"), lit(1))).as("n_kept"),
      // collect_list skips nulls -> kept segments only; array_sort on
      // (_i, _seg) structs restores original order
      coalesce(array_join(transform(array_sort(collect_list(
        when(!col("_multi"), struct(col("_i"), col("_seg"))))),
        x => x.getField("_seg")), " "), lit("")).as("text_clean"))
    segs.withColumn("_multi",
        min(col(idCol)).over(w) =!= max(col(idCol)).over(w))
      .groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }
}
