package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry

/** `registerAll` is called on every operator and query invocation, so it
  * must leave an already-registered session untouched, and still give a
  * new session every function. */
class GraftFunctionsSpec extends SparkSpec {

  private val names = Seq("time_bucket", "poly_hash", "minhash_array",
    "simhash_bits", "term_counts", "vec_cosine", "lsh_bucket",
    "shingle_hashes", "shingle_hashes_pos", "winnow_select", "deflate_ratio",
    "sorted_intersect_count", "bloom_might_contain", "bpe_encode",
    "rand_project").map(FunctionIdentifier(_))

  test("no graft function name shadows a Spark built-in") {
    assert(names.filter(FunctionRegistry.builtin.functionExists).isEmpty)
  }

  test("a second registerAll keeps the registered builders") {
    GraftFunctions.registerAll(spark)
    val reg = spark.sessionState.functionRegistry
    val first = names.map(n => n -> reg.lookupFunctionBuilder(n).get)
    GraftFunctions.registerAll(spark)
    first.foreach { case (n, b) =>
      assert(reg.lookupFunctionBuilder(n).get eq b, s"$n was re-registered")
    }
  }

  test("a new session gets every function from its own registerAll") {
    val fresh = spark.newSession()
    val reg = fresh.sessionState.functionRegistry
    assert(names.forall(!reg.functionExists(_)))
    GraftFunctions.registerAll(fresh)
    assert(names.filterNot(reg.functionExists).isEmpty)
    assert(fresh.sql("SELECT poly_hash('a') = poly_hash('a')").head().getBoolean(0))
  }
}
