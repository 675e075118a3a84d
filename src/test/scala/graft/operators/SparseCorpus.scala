package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Sparse-vocabulary documents fixture: the web-corpus shape the
  * containment prefix filter is built for (ContainmentDedup scaladoc),
  * as opposed to the sf documents table's closed ~1k-shingle
  * vocabulary. */
object SparseCorpus {

  /** Deterministic sparse corpus: `nDocs` docs × 40 tokens drawn
    * log-uniformly from a `vocab`-sized id space (heavy head, long rare
    * tail — the Zipf-like shape), plus a superset twin (doc + 10
    * doc-specific header tokens) for every 100th doc. Pure column
    * expressions over spark.range: deterministic, distributed, no
    * driver-side data. */
  def apply(spark: SparkSession, nDocs: Long, vocab: Long): DataFrame = {
    def word(i: Column): Column = {
      val u = pmod(hash(col("id") * lit(101L) + i), lit(1000003)) / lit(1000003.0)
      concat(lit("w"), floor(pow(lit(vocab.toDouble), u)).cast("long"))
    }
    val base = spark.range(nDocs).select(col("id").as("doc_id"),
      array_join(transform(sequence(lit(0), lit(39)), i => word(i)), " ").as("text"))
    // twin = full original text + unique header: containment(smaller)=1.0
    val twins = base.where(col("doc_id") % 100 === 0)
      .select((col("doc_id") + nDocs).as("doc_id"),
        concat(col("text"), lit(" "),
          array_join(transform(sequence(lit(0), lit(9)), j =>
            concat(lit("h"), col("doc_id"), lit("_"), j)), " ")).as("text"))
    base.unionAll(twins)
  }
}
