package graft.examples

import graft.HarnessSession
import org.apache.spark.sql.functions._

import scala.sys.process._

/** Executor-loss resilience probe (round-13 multi-JVM gate, the
  * "measured, not argued" half): run a barrier-heavy operator under
  * `local-cluster[2,8,4096]`, SIGKILL one executor JVM mid-job, and
  * prove the job still completes with the exact no-kill result.
  *
  * The workload is the operator family's WORST case for executor loss:
  * `DedupClusters.starComponents`, the distributed star-contraction
  * arm of `components` — every round barriers the edge frame and the NEXT
  * round re-reads those blocks, so state lives only in the barrier (a
  * broadcast-shielded operator like CoocLift survives a kill even with
  * localCheckpoint, because its barrier is read once into a broadcast
  * before the kill can land — measured 2026-08-16, both control runs
  * completed; the iterative loop has no such shield). With
  * localCheckpoint, the kill destroys roughly half the current round's
  * blocks and the next round dies (lineage truncated — no recompute
  * path); with the reliable-checkpoint arm the blocks are files, the
  * standalone worker relaunches the executor, lost shuffle output is
  * recomputed, and the loop converges. The probe verifies the kill
  * landed INSIDE the job window (otherwise it retries with a later
  * fuse) and that the killed run's result row-set hash equals the
  * baseline's.
  *
  * Usage (local-cluster env exactly like the correctness gate):
  *   SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  *   SPARK_GRAFT_MASTER='local-cluster[2,8,4096]' \
  *   sbt "runMain graft.examples.ClusterKillProbe /tmp/zipf_25k"
  * Prints one JSON line (same contract as the other probe mains).
  */
object ClusterKillProbe {

  def main(args: Array[String]): Unit = {
    val docsDir = args.headOption.getOrElse("/tmp/zipf_25k")
    val spark = HarnessSession.builder("16").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    require(!spark.sparkContext.isLocal,
      "run under SPARK_GRAFT_MASTER=local-cluster[...] — a local master " +
        "has no executor JVM to kill")
    // negative control: SPARK_GRAFT_BARRIER_MODE=local forces the r12
    // localCheckpoint behavior — the killed run is then EXPECTED to die
    // with a lost-checkpoint-block failure (the probe crashes; the log
    // is the evidence that the reliable arm is what saves the job)
    sys.env.get("SPARK_GRAFT_BARRIER_MODE")
      .foreach(m => spark.conf.set("spark.graft.barrier.mode", m))
    graft.GraftFunctions.registerAll(spark)

    // pseudo-random functional graph (every node one out-edge): large
    // components, ~log n contraction rounds — deterministic, no fixture
    // needed beyond scale. docsDir is kept as arg 1 for CLI parity but
    // unused by this workload.
    val _ = docsDir
    val nEdges = 2000000L
    val edges = spark.range(nEdges)
      .select(col("id").as("a"),
        pmod(xxhash64(col("id")), lit(nEdges)).as("b"))

    def runOnce(): (Long, Long, Double) = {
      val t0 = System.nanoTime()
      val comps = graft.operators.DedupClusters.starComponents(edges, "a", "b")
      val Seq(c0, c1) = comps.columns.toSeq.take(2)
      // xxhash64 of every output row folded order-independently (XOR —
      // no ANSI overflow, commutative): a row-set fingerprint
      // comparable across runs
      val r = comps
        .agg(count(lit(1)), bit_xor(xxhash64(col(c0), col(c1))))
        .head()
      (r.getLong(0), r.getLong(1), (System.nanoTime() - t0) / 1e9)
    }

    // scoped to THIS application: the executor command line carries
    // --app-id <applicationId>, so the probe can never SIGKILL an
    // executor belonging to an unrelated Spark app on the host
    val appId = spark.sparkContext.applicationId
    def executorPids(): Seq[String] =
      Seq("bash", "-c",
        s"pgrep -f 'CoarseGrainedExecutorBackend.*$appId' || true")
        .!!.split("\n").map(_.trim).filter(_.nonEmpty).toSeq

    // baseline (also warms codegen + the fixture's file listing)
    val (baseRows, baseHash, baseSec) = runOnce()
    System.err.println(f"[kill_probe] baseline: $baseRows rows in $baseSec%.1f s")

    // killed run: SIGKILL one executor once the job is ~30% in; verify
    // the kill landed inside the job window, else retry with a longer
    // fuse (a too-early kill just makes Spark start late on 1 executor)
    var attempt = 0
    var result: Option[(Long, Long, Double, Double)] = None
    while (result.isEmpty && attempt < 4) {
      attempt += 1
      // default fuse 30%·attempt of baseline; arg 2 overrides the
      // fraction (the negative control wants the kill AFTER the barrier
      // materializes — a too-early kill is recovered by plain lineage
      // recompute and proves nothing about the checkpoint arm)
      val frac = args.drop(1).headOption.map(_.toDouble).getOrElse(0.3 * attempt)
      val fuseMs = (baseSec * 1000 * frac).toLong.max(2000L)
      val before = executorPids()
      @volatile var killedAtNs = 0L
      val killer = new Thread(() => {
        Thread.sleep(fuseMs)
        executorPids().headOption.foreach { pid =>
          System.err.println(s"[kill_probe] SIGKILL executor pid $pid")
          s"kill -9 $pid".!
          killedAtNs = System.nanoTime()
        }
      })
      val t0 = System.nanoTime()
      killer.setDaemon(true)
      killer.start()
      val (rows, hash, sec) = runOnce()
      val endNs = System.nanoTime()
      killer.join(1000)
      val killedInWindow = killedAtNs > t0 && killedAtNs < endNs
      System.err.println(f"[kill_probe] attempt $attempt: $rows rows in " +
        f"$sec%.1f s, executors before=${before.size}, killedInWindow=$killedInWindow")
      if (killedInWindow)
        result = Some((rows, hash, sec, (killedAtNs - t0) / 1e9))
    }

    val (rows, hash, sec, killAt) = result.getOrElse {
      System.err.println("[kill_probe] FAILED to land a kill inside the job window")
      sys.exit(1)
    }
    val ok = rows == baseRows && hash == baseHash
    println(
      s"""{"metric":"cluster_kill_probe","baseline_rows":$baseRows,""" +
      f""""baseline_sec":$baseSec%.1f,"killed_run_rows":$rows,""" +
      f""""killed_run_sec":$sec%.1f,"kill_at_sec":$killAt%.1f,""" +
      s""""rowset_hash_equal":$ok}""")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
