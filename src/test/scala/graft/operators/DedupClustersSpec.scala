package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

import scala.util.Random

/** Connected-components clustering over candidate pairs: the star
  * contraction must reach the same fixpoint as a driver-side union-find
  * on every graph shape that stresses it (chains force many rounds,
  * stars force skew, random graphs force both at once).
  */
class DedupClustersSpec extends SparkSpec {

  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    // reference union-find with path compression
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.foreach { case (a, b) => union(a, b) }
    parent.keys.map(k => k -> find(k)).toMap
  }

  // the DISTRIBUTED star contraction by name — the size cutover would
  // otherwise route every test-sized graph to the driver union-find,
  // and these tests exist to pin the contraction itself
  private def run(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    DedupClusters.starComponents(edges.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  private def runDriverPath(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    DedupClusters.components(edges.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("chain graph contracts to one component rooted at the minimum") {
    val chain = (1L until 20L).map(i => (i, i + 1))
    val got = run(chain)
    assert(got.keySet == (1L to 20L).toSet)
    assert(got.values.toSet == Set(1L))
  }

  test("disjoint components, duplicate + reversed + self edges") {
    val edges = Seq((5L, 3L), (3L, 5L), (5L, 5L), (3L, 9L),
      (20L, 21L), (21L, 22L), (40L, 40L))
    val got = run(edges)
    assert(got == Map(3L -> 3L, 5L -> 3L, 9L -> 3L,
      20L -> 20L, 21L -> 20L, 22L -> 20L)) // pure self-loop 40 drops out
  }

  test("random graph matches driver-side union-find") {
    val rnd = new Random(42)
    val edges = Seq.fill(500)((rnd.nextInt(200).toLong, rnd.nextInt(200).toLong))
      .filter { case (a, b) => a != b }
    assert(run(edges) == cc(edges))
  }

  test("size-cutover driver path equals the distributed contraction") {
    val rnd = new Random(7)
    val edges = Seq.fill(300)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter { case (a, b) => a != b }
    assert(runDriverPath(edges) == run(edges))
    assert(runDriverPath(edges) == cc(edges))
  }

  test("clusters() assigns singletons to themselves and flags keepers") {
    import spark.implicits._
    val docs = (1L to 10L).toDF("doc_id")
    val pairs = Seq((2L, 4L), (4L, 6L), (8L, 9L)).toDF("doc1", "doc2")
    val got = DedupClusters.clusters(docs, "doc_id", pairs, "doc1", "doc2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toList.sorted
    val exp = List((1L, 1L, 1), (2L, 2L, 1), (3L, 3L, 1), (4L, 2L, 0),
      (5L, 5L, 1), (6L, 2L, 0), (7L, 7L, 1), (8L, 8L, 1), (9L, 8L, 0),
      (10L, 10L, 1)).sorted
    assert(got == exp)
  }
}
