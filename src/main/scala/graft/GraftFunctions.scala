package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression
import graft.functions.{MinHashArray, PolyHash, SimHashBits, TimeBucket}

/** SQL-function registration for graft's custom Catalyst expressions. */
object GraftFunctions {

  /** Parameter arguments (band counts, plane offsets, seeds) must be
    * literals — evaluating a non-foldable expression at registration
    * time would throw an opaque analysis-internal error. */
  private def foldableNum(e: Expression, fn: String, arg: String): Number = {
    require(e.foldable,
      s"$fn: argument '$arg' must be a literal, got ${e.sql}")
    e.eval() match {
      case n: Number => n
      case other => throw new IllegalArgumentException(
        s"$fn: argument '$arg' must be numeric, got $other")
    }
  }

  /** Registers graft's SQL functions in `spark`'s own function
    * registry, skipping names it already holds, so repeated calls (every
    * operator and query entry calls this) neither replace a builder nor
    * log Spark's "replaced a previously registered function" warning. A
    * new session starts from the built-in registry and registers afresh.
    * Installs the engine's optimizer rules ([[graft.plans.OptimizerRules]])
    * the same way. */
  def registerAll(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
      "time_bucket" -> (exprs => TimeBucket(exprs(0), exprs(1))),
      "poly_hash" -> (exprs => PolyHash(exprs(0))),
      "minhash_array" -> (exprs => MinHashArray(exprs(0),
        foldableNum(exprs(1), "minhash_array", "k").intValue())),
      "simhash_bits" -> (exprs => SimHashBits(exprs(0))),
      "term_counts" -> (exprs => graft.functions.TermCounts(exprs(0))),
      "vec_cosine" ->
        (exprs => graft.functions.CosineSimilarity(exprs(0), exprs(1))),
      "lsh_bucket" -> (exprs => graft.functions.HyperplaneBucket(exprs(0),
        foldableNum(exprs(1), "lsh_bucket", "planes").intValue(),
        foldableNum(exprs(2), "lsh_bucket", "offset").intValue())),
      "shingle_hashes" -> (exprs => graft.functions.ShingleHashes(exprs(0),
        foldableNum(exprs(1), "shingle_hashes", "n").intValue(),
        foldableNum(exprs(2), "shingle_hashes", "seed").longValue())),
      "shingle_hashes_pos" -> (exprs => graft.functions.ShingleHashes(exprs(0),
        foldableNum(exprs(1), "shingle_hashes_pos", "n").intValue(),
        foldableNum(exprs(2), "shingle_hashes_pos", "seed").longValue(),
        dedupe = false)),
      "winnow_select" -> (exprs => graft.functions.WinnowSelect(exprs(0),
        foldableNum(exprs(1), "winnow_select", "w").intValue())),
      "deflate_ratio" -> (exprs => graft.functions.DeflateRatio(exprs(0))),
      "sorted_intersect_count" ->
        (exprs => graft.functions.SortedIntersectCount(exprs(0), exprs(1))),
      "bloom_might_contain" -> (exprs => graft.functions.BloomMightContain(exprs(0), {
        require(exprs(1).foldable,
          "bloom_might_contain: filter bytes must be a literal")
        exprs(1).eval().asInstanceOf[Array[Byte]]
      })),
      "bpe_encode" -> (exprs => graft.operators.BpeEncode(exprs(0), {
        require(exprs(1).foldable, "bpe_encode: merge table must be a literal")
        graft.operators.Bpe.parseMerges(exprs(1).eval().toString)
      })),
      "rand_project" -> (exprs => graft.functions.RandProject(exprs(0),
        foldableNum(exprs(1), "rand_project", "k").intValue(),
        foldableNum(exprs(2), "rand_project", "offset").intValue()))
    )
    for ((name, build) <- builders
        if !reg.functionExists(FunctionIdentifier(name)))
      reg.createOrReplaceTempFunction(name, build, "built-in")
    graft.plans.OptimizerRules.install(spark)
  }
}
