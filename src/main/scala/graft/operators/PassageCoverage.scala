package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Duplicated-passage coverage — the MEASURE step of substring-level
  * dedup (Lee et al. 2021): per document, how many of its k-token
  * shingles also occur in at least one OTHER document. Extracted from
  * q86 (VERDICT r3 #2).
  *
  * Shape: the distinct (doc, shingle-hash) stream shuffles once
  * on the hash and a count-over-window reads the doc frequency (the
  * stream is distinct per doc, so the partition count IS the doc
  * frequency), then one per-doc rollup. Linear, never pairwise.
  *
  * Skew: a degenerate shingle shared by millions of docs (viral
  * boilerplate) lands one giant window partition on ONE task — AQE
  * cannot split a window. The owner-attribution form that avoided the
  * hot key had no caller and was retired (SCALE.md, "Retired arm
  * switches").
  */
object PassageCoverage {

  /** Per-document (idCol, n_shingles, n_dup). Callers derive the
    * coverage ratio (q86 rounds it integer-exactly for its oracle). */
  def stats(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int): DataFrame = {
    graft.GraftFunctions.registerAll(docs.sparkSession)
    // spread to full parallelism first: shingle hashing is CPU-bound and
    // a few parquet splits would serialize it through a handful of tasks
    val sh = docs
      .repartition(docs.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol),
        explode(MinHashDedup.shingleHashesFromTokens(col(textCol), shingleK))
          .as("sh"))
    val w = Window.partitionBy(col("sh"))
    sh.withColumn("nd", count(lit(1)).over(w))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        count(when(col("nd") >= 2, lit(1))).as("n_dup"))
  }
}
