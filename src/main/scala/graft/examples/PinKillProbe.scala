package graft.examples

import graft.HarnessSession
import graft.operators.{BestFitPack, BudgetSelect, GlobalRank, ShardPack}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.sys.process._

/** Executor-loss probe for the PARTITION-PIN operator family (round-13
  * verdict next #3) — ShardPack / BudgetSelect / GlobalRank /
  * BestFitPack.
  *
  * These operators have a sharper failure mode than the iterative loop
  * `ClusterKillProbe` covers: each runs a small census job over a
  * materialized frame (per-partition sums/counts), computes driver-side
  * offsets, then a second job stamps every row with `offset + local
  * position`. The barrier PINS partition contents and order between the
  * two jobs; a post-kill recompute that reshuffled rows differently
  * would not fail — it would emit *silently different* shard/offset
  * assignments. That is exactly why `Materialize` dispatches to a
  * reliable checkpoint off-local (files are immutable across executor
  * loss) instead of `persist()` (recompute-tolerant but order-unstable).
  *
  * The probe SIGKILLs one executor JVM mid-run for each operator and
  * asserts the FULL placement map — every output column of every row,
  * XOR-folded xxhash64 — equals the unkilled baseline, not just the row
  * count. BestFitPack carries no barrier (single flatMapSortedGroups
  * pass) but is included for the family's completeness: its determinism
  * under task retry is the same user-facing contract.
  *
  * Usage (local-cluster env exactly like the correctness gate):
  *   SPARK_HOME=/opt/spark SPARK_SCALA_VERSION=2.13 \
  *   SPARK_GRAFT_MASTER='local-cluster[2,8,4096]' \
  *   sbt "runMain graft.examples.PinKillProbe"
  * Env: PIN_PROBE_ROWS (default 20,000,000), PIN_PROBE_OPS
  * (comma-filter). Prints one JSON line; exit 1 on any mismatch.
  */
object PinKillProbe {

  def main(args: Array[String]): Unit = {
    val spark = HarnessSession.builder("16").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    require(!spark.sparkContext.isLocal,
      "run under SPARK_GRAFT_MASTER=local-cluster[...] — a local master " +
        "has no executor JVM to kill")
    val n = sys.env.get("PIN_PROBE_ROWS").map(_.toLong).getOrElse(20000000L)
    val only: String => Boolean = sys.env.get("PIN_PROBE_OPS") match {
      case Some(f) if f.nonEmpty =>
        val subs = f.split(',').map(_.trim).filter(_.nonEmpty)
        name => subs.exists(name.contains)
      case _ => _ => true
    }

    // deterministic synthetic frame: unique key, skewless weights,
    // 4096 groups — big enough that each operator's two jobs give the
    // kill a window, no fixture needed
    def base: DataFrame = spark.range(n).select(
      col("id").as("k"),
      (pmod(xxhash64(col("id")), lit(997)) + 1).as("w"),
      pmod(xxhash64(col("id"), lit(1)), lit(4096)).as("g"))

    // total weight ≈ 499·n → budget for ~256 shards
    val shardBudget = math.max(1L, n * 499 / 256)

    val ops: Seq[(String, () => DataFrame)] = Seq(
      // each operator's distributed arm, called by name — the probe
      // tests exactly the pin machinery, never the small-input window
      "shardpack" -> (() =>
        ShardPack.shardIds(ShardPack.distributedPriors(base, col("k"), col("w")),
          shardBudget)),
      "budgetselect" -> (() =>
        BudgetSelect.distributedSelect(base, col("g"),
          Seq((col("w"), false)), "k", col("w"), lit(n * 499 / 8192))
          .select(col("k"), col("sel_prior"))),
      "globalrank" -> (() =>
        GlobalRank.stampedRowNumber(base, Seq(col("w"), col("k")), "rn")
          .select(col("k"), col("rn"))),
      "bestfitpack" -> (() =>
        BestFitPack.pack(base, col("g"), col("k"), col("w"),
          seqLen = 256, shards = 8)))

    val appId = spark.sparkContext.applicationId
    def executorPids(): Seq[String] =
      Seq("bash", "-c",
        s"pgrep -f 'CoarseGrainedExecutorBackend.*$appId' || true")
        .!!.split("\n").map(_.trim).filter(_.nonEmpty).toSeq

    def runOnce(mk: () => DataFrame): (Long, Long, Double) = {
      val t0 = System.nanoTime()
      val out = mk()
      val hashed = xxhash64(out.columns.map(col): _*)
      val r = out.agg(count(lit(1)), bit_xor(hashed)).head()
      (r.getLong(0), r.getLong(1), (System.nanoTime() - t0) / 1e9)
    }

    var anyFail = false
    val results = ops.filter(o => only(o._1)).map { case (name, mk) =>
      val (baseRows, baseHash, baseSec) = runOnce(mk)
      System.err.println(
        f"[pin_probe] $name baseline: $baseRows rows in $baseSec%.1f s")
      var attempt = 0
      var landed: Option[(Long, Long, Double, Double)] = None
      while (landed.isEmpty && attempt < 4) {
        attempt += 1
        // the census runs early and the stamp job late — aim the kill at
        // ~40% of baseline so it lands between/inside the two jobs
        val fuseMs = (baseSec * 1000 * 0.4 * attempt).toLong.max(2000L)
        @volatile var killedAtNs = 0L
        val killer = new Thread(() => {
          Thread.sleep(fuseMs)
          executorPids().headOption.foreach { pid =>
            System.err.println(s"[pin_probe] $name SIGKILL executor pid $pid")
            s"kill -9 $pid".!
            killedAtNs = System.nanoTime()
          }
        })
        killer.setDaemon(true)
        val t0 = System.nanoTime()
        killer.start()
        val (rows, hash, sec) = runOnce(mk)
        val endNs = System.nanoTime()
        killer.join(1000)
        val inWindow = killedAtNs > t0 && killedAtNs < endNs
        System.err.println(f"[pin_probe] $name attempt $attempt: $rows rows " +
          f"in $sec%.1f s, killedInWindow=$inWindow")
        if (inWindow) landed = Some((rows, hash, sec, (killedAtNs - t0) / 1e9))
      }
      landed match {
        case None =>
          System.err.println(s"[pin_probe] $name: no kill landed in-window")
          anyFail = true
          name -> s"""{"error":"kill never landed in job window"}"""
        case Some((rows, hash, sec, killAt)) =>
          val ok = rows == baseRows && hash == baseHash
          if (!ok) anyFail = true
          name -> (f"""{"baseline_rows":$baseRows,"baseline_sec":$baseSec%.1f,""" +
            f""""killed_run_rows":$rows,"killed_run_sec":$sec%.1f,""" +
            f""""kill_at_sec":$killAt%.1f,"placement_hash_equal":$ok}""")
      }
    }
    println(s"""{"metric":"pin_kill_probe","rows":$n,"ops":{""" +
      results.map { case (k, v) => s""""$k":$v""" }.mkString(",") + "}}")
    spark.stop()
    if (anyFail) sys.exit(1)
  }
}
