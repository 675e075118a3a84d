package graft.operators

import graft.Materialize._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a near-duplicate candidate-pair edge list —
  * the step a dedup pipeline runs AFTER pair generation
  * ([[MinHashDedup]]/[[SimHashDedup]]): transitively-linked documents form
  * one cluster, and exactly one keeper per cluster survives. Pairwise
  * output alone under-deletes (A~B, B~C but A!~C leaves two of three).
  *
  * Algorithm: alternating Large-Star / Small-Star contraction (Kiveris et
  * al., "Connected Components in MapReduce and Beyond", SoCC 2014 — public
  * literature), the standard shuffle-bounded CC for massive graphs:
  *
  *  - large-star: every node links its LARGER neighbors to the minimum of
  *    its neighborhood (incl. itself);
  *  - small-star: every node links its smaller-or-equal neighbors and
  *    itself to that minimum.
  *
  * Each round is two hash aggregations + two equi-joins (no collect_list —
  * a hot node's neighborhood is never materialized in one task's memory;
  * the per-node minimum is a partial+final `min` aggregate, so skew from a
  * 1e8-degree hub is absorbed map-side). Converges in O(log²  n) rounds
  * (in practice <5 for near-dup graphs, whose components are shallow);
  * every round `localCheckpoint`s to truncate lineage, the standard guard
  * against exponential plan growth in iterative DataFrame algorithms.
  *
  * Reference behavior anchor: the reference engine stops at pairwise
  * candidate output (no clustering operator); this extends the dedup
  * family to the full pipeline shape per the training-data mandate.
  */
object DedupClusters {

  /** Edge count strictly below which [[components]] union-finds the
    * edge list on the driver. */
  private val DriverCutoverEdges = 1 << 20

  /** Connected components of an undirected edge list.
    *
    * Size-adaptive like [[GlobalRank]]: strictly below
    * [[DriverCutoverEdges]] the edge list is union-found on the driver
    * (one short collect of the deduped edges — a near-dup graph that
    * small pays 4-5 rounds of job scheduling for nothing); at or above
    * it, [[starComponents]]' contraction runs fully distributed and the
    * driver never sees an edge. The dedup shuffle is pinned by ONE
    * checkpoint either way.
    *
    * @param edges  two numeric columns; self-loops ignored
    * @return (node LONG, component LONG) — component = min node id in the
    *         connected component; one row per non-isolated node
    */
  def components(edges: DataFrame, srcCol: String, dstCol: String,
      maxIterations: Int = 25): DataFrame = {
    val deduped = dedupEdges(edges, srcCol, dstCol)

    // Which side of the checkpoint the path probe runs on is gated by
    // the plan estimate (r15, ADVICE r14). r14 always probed the
    // UN-checkpointed frame: one action decided the path AND delivered
    // the small case, but on a LARGE graph the probe's limit only caps
    // the collect — the distinct's full map side still ran, and the
    // materialize then recomputed the whole distinct (shuffle reuse
    // does not span actions): the scale path paid its dedup shuffle
    // twice. Probing the checkpoint instead costs the small case an
    // extra job (+0.15 s on q75's bench row). So:
    //  - estimate reads small: probe direct (r14's one-action fast
    //    path). A lying under-estimate here wastes one bounded distinct
    //    map side on a mid-size graph — anything whose estimate fits
    //    under the cutover is nowhere near the 100 TB regime even at a
    //    10x parquet-compression lie.
    //  - estimate reads large: materialize FIRST (the dedup shuffle is
    //    pinned once — the checkpoint is the barrier the iterative
    //    contraction needs anyway), then probe the local checkpoint
    //    blocks, which also catches over-estimated tiny graphs cheaply
    //    (join-derived edge frames err huge).
    val estSmall = GlobalRank.fitsOneTask(deduped)
    val probed = if (estSmall) deduped else deduped.materialize()
    val probe = probed.limit(DriverCutoverEdges).collect()
    if (probe.length < DriverCutoverEdges)
      driverComponentsRows(deduped.sparkSession, probe)
    else contract(if (estSmall) deduped.materialize() else probed, maxIterations)
  }

  /** [[components]]' distributed arm: alternating star contraction on
    * the checkpointed, deduped edges, whatever their count. */
  private[graft] def starComponents(edges: DataFrame, srcCol: String,
      dstCol: String, maxIterations: Int = 25): DataFrame =
    contract(dedupEdges(edges, srcCol, dstCol).materialize(), maxIterations)

  /** (u, v) as longs, self-loops dropped, duplicates removed. */
  private def dedupEdges(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges
      .select(col(srcCol).cast("long").as("u"), col(dstCol).cast("long").as("v"))
      .where(col("u") =!= col("v"))
      .distinct()

  /** Star contraction to the fixpoint from checkpointed edges `e0`. */
  private def contract(e0: DataFrame, maxIterations: Int): DataFrame = {
    var e = e0
    var converged = false
    var iter = 0
    var fp = fingerprint(e)
    while (!converged && iter < maxIterations) {
      e = smallStar(largeStar(e)).materialize()
      val fp2 = fingerprint(e)
      converged = fp2 == fp
      fp = fp2
      iter += 1
    }
    require(converged, s"connected components did not converge in $maxIterations rounds")
    // fixpoint graph is a forest of stars: every non-root points at its
    // component minimum; roots are the mins themselves
    e.select(col("u").as("node"), col("v").as("component"))
      .union(e.select(col("v").as("node"), col("v").as("component")))
      .groupBy("node").agg(min("component").as("component"))
  }

  /** Path-compressed union-find with the smaller id as root, so each
    * root IS its component's minimum — the same contract as the star
    * contraction. Used below the size cutover only. */
  private def driverComponentsRows(spark: org.apache.spark.sql.SparkSession,
      rows: Array[org.apache.spark.sql.Row]): DataFrame = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    rows.foreach { r =>
      val (ru, rv) = (find(r.getLong(0)), find(r.getLong(1)))
      if (ru != rv) {
        if (ru < rv) parent(rv) = ru else parent(ru) = rv
      }
    }
    val nodes = rows.flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct
    import spark.implicits._
    nodes.map(nd => (nd, find(nd))).toSeq.toDF("node", "component")
  }

  /** (count, xor of row hashes) — order-independent edge-set fingerprint
    * used as the convergence test; collision odds ~2^-64 per round. */
  private def fingerprint(e: DataFrame): (Long, Long) = {
    val r = e.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Large-star: for each node, connect strictly-larger neighbors to the
    * minimum of its neighborhood (including itself). */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy("u").agg(min(least(col("v"), col("u"))).as("m"))
    // no distinct here: duplicate edges ride through one round and are
    // collapsed by small-star's round-ending distinct — one shuffle per
    // round instead of two
    sym.join(mins, "u")
      .where(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .where(col("u") =!= col("v"))
  }

  /** Small-star: orient edges large→small; each node connects its smaller
    * neighbors and itself to the minimum of those neighbors. */
  private def smallStar(e: DataFrame): DataFrame = {
    val or = e.select(greatest(col("u"), col("v")).as("u"),
      least(col("u"), col("v")).as("v"))
    val mins = or.groupBy("u").agg(min("v").as("m"))
    or.join(mins, "u")
      .select(col("v").as("u"), col("m").as("v"))
      .union(mins.select(col("u"), col("m").as("v")))
      .where(col("u") =!= col("v"))
      .distinct()
  }

  /** Cluster assignment for EVERY document: docs in no pair are singleton
    * clusters of themselves; keeper = the component minimum. */
  def clusters(docs: DataFrame, idCol: String, pairs: DataFrame,
      p1: String, p2: String): DataFrame = {
    val comp = components(pairs, p1, p2)
    docs.select(col(idCol).cast("long").as("doc_id"))
      .join(comp, col("doc_id") === col("node"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).as("cluster_id"))
      .withColumn("is_keeper", (col("doc_id") === col("cluster_id")).cast("int"))
  }
}
