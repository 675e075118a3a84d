package perfbench

import org.apache.spark.sql.SparkSession

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicLongArray}
import scala.jdk.CollectionConverters._

/** ts_ingest: writes beside reads and compaction.
  *
  * Three closed-loop writer connections post seeded `cpu` batches of
  * 2,000 rows (two Line Protocol to /write, one columnar MessagePack);
  * event time advances 125 s per batch, so a run fills many hour
  * partitions. A fourth connection is a dashboard poller asking for the
  * last hour's per-host average of what has been acknowledged, in JSON,
  * Arrow and MessagePack in turn.
  *
  * The load runs in rounds: each writer posts `PerRound` batches, then
  * the poller polls once, while the writers go on with the next round
  * (never two ahead). Every `RoundsPerCycle` rounds the poller also
  * triggers hourly compaction, which the next round's writes overlap.
  * The run ends with the cycle in progress when the window is spent, so
  * every run does the same mix of work per write, and the engine's CPU
  * per acknowledged write is comparable across runs and machines. Every
  * write bumps the view version, so every poll pays a catalog
  * re-listing. Flush policy: the server's default, Parquet written
  * before the 204.
  */
object TsIngest {
  private val T0Us = 1709251200000000L // 2024-03-01T00:00:00Z
  private val StepUs = 1000000L
  private val Steps = 125 // x 16 hosts = 2000 rows per batch
  private val Writers = 3
  private val PerRound = 10 // batches per writer per round
  private val RoundsPerCycle = 4

  /** Lock-step of the writers and the poller. The writers may be one
    * round ahead of the poller, so each round's writes overlap the
    * previous round's poll (and compaction). A run is a whole number of
    * cycles: every run does the same mix of writes, polls and
    * compactions, and only the number of cycles varies. */
  private final class Rounds(writers: Int) {
    private val written = new Array[Long](writers) // rounds each writer has finished
    private var polledRounds = 0L
    private var lastRound = Long.MaxValue

    /** Writer side: wait until round `n` may start; false if the run ends before it. */
    def awaitStart(n: Long): Boolean = synchronized {
      while (n <= lastRound && polledRounds < n - 1) wait()
      n <= lastRound
    }
    def wrote(w: Int, n: Long): Unit = synchronized { written(w) = n + 1; notifyAll() }

    /** Poller side: wait until every writer has finished round `n`. */
    def awaitWritten(n: Long): Unit = synchronized { while (written.min < n + 1) wait() }

    /** Round `n` is polled. When `windowOver`, the cycle that round `n + 1`
      * finishes is the last; the decision comes before any writer may
      * start the round after it. */
    def polled(n: Long, windowOver: Boolean): Unit = synchronized {
      polledRounds = n + 1
      if (windowOver && (n + 2) % RoundsPerCycle == 0) lastRound = math.min(lastRound, n + 1)
      notifyAll()
    }
    def last: Long = synchronized(lastRound)
  }

  private final class Acked {
    val writes = new AtomicLong
    val rows = new AtomicLong
    val perHostRows = new AtomicLongArray(Cpu.Hosts)
    val perHostUserQ = new AtomicLongArray(Cpu.Hosts)
    val endUs = new AtomicLong(T0Us)
    /** Record an acknowledged batch; returns the acknowledged-write count. */
    def add(b: Cpu.Block): Long = {
      b.foreachRow { (t, h) =>
        perHostRows.incrementAndGet(h)
        perHostUserQ.addAndGet(h, Cpu.userQ(b.seed, t, h).toLong)
      }
      rows.addAndGet(b.rows)
      endUs.accumulateAndGet(b.endUs, math.max)
      writes.incrementAndGet()
    }
  }

  private def block(seed: Long, i: Long) =
    Cpu.Block(seed, T0Us + i * Steps * StepUs, StepUs, Steps)

  private def pollSql(endUs: Long): String =
    s"SELECT host, avg(usage_user) AS avg_user FROM cpu WHERE time >= ${Cpu.lit(endUs - Cpu.HourUs)} " +
      s"AND time < ${Cpu.lit(endUs)} GROUP BY host ORDER BY host"

  def run(spark: SparkSession, a: Main.Args, r: Main.Result): Unit = {
    val seed = a.seed
    val tableDir = (root: String) => new File(s"$root/default/cpu")

    // Set-up: a fresh server on an empty root takes a Line Protocol and
    // a MessagePack batch in one hour, compacts that hour and answers a
    // dashboard query. Three times (the first one also warms the JVM);
    // the last server serves the run. A set-up's cost is the engine's CPU
    // time: the JVM's, less this (client) thread's.
    var server: graft.server.HttpServer = null
    var root = ""
    val setupWallS = Seq.newBuilder[Double]
    val setups = (1 to 3).map { k =>
      if (server != null) { server.stop(); Serve.deleteTree(new File(root)) }
      root = s"${a.work}/ingest_root_$k"
      val t0 = System.nanoTime()
      val cpu0 = Main.processCpuNs() - Main.threadCpuNs()
      server = Serve.start(spark, root)
      val c = new Conn(server.boundPort)
      for ((lp, i) <- Seq((true, 0), (false, 1))) {
        val w = Serve.write(c, lp, if (lp) block(seed, i).lineProtocol else block(seed, i).msgPack)
        r.check(w.status == 204, s"setup write -> ${w.status} ${w.text.take(200)}")
      }
      r.check(Serve.compact(c, tableDir(root)).filesOut == 1, "setup compaction did not merge hour 0")
      val q = Serve.query(c, pollSql(block(seed, 1).endUs), "json")
      r.check(q.status == 200, s"setup query -> ${q.status} ${q.text.take(200)}")
      c.close()
      setupWallS += (System.nanoTime() - t0) / 1e9
      (Main.processCpuNs() - Main.threadCpuNs() - cpu0) / 1e9
    }
    val acked = new Acked
    acked.add(block(seed, 0)); acked.add(block(seed, 1))
    r.e2e("setup_s") = Stats.median(setups)
    r.info("setup_wall_s") = Json.num(Stats.median(setupWallS.result()))
    r.phase("setup")
    val port = server.boundPort

    val next = new AtomicLong(2)
    val windowNs = a.seconds * 1000000000L
    val writeMs = new Samples
    // payloads kept for the traced run's module replay
    val lpKept = new ConcurrentLinkedQueue[Array[Byte]]()
    val mpKept = new ConcurrentLinkedQueue[Array[Byte]]()
    val compactions = new ConcurrentLinkedQueue[Serve.Compacted]()
    val readMs = new Samples
    val polls = new ConcurrentLinkedQueue[(String, String, Long)]() // sql, format, bytes
    var regs = 0L // polls that followed a write (the view had to be re-registered)

    val c = new Conn(port)
    val ep0 = Serve.endpoints(c)
    val writes0 = acked.writes.get
    val rows0 = acked.rows.get
    val rounds = new Rounds(Writers)
    val clientCpuNs = new AtomicLong // the load generator's own threads
    val cpu0 = Main.processCpuNs()
    val jw0 = Main.jvmWork()
    val tStart = System.nanoTime()

    val writers = (0 until Writers).map { w =>
      val lp = w < 2
      new Thread(() => {
        val c = new Conn(port)
        var n = 0L
        try while (rounds.awaitStart(n)) {
          (0 until PerRound).foreach { _ =>
            val b = block(seed, next.getAndIncrement())
            val body = if (lp) b.lineProtocol else b.msgPack
            r.attempted.incrementAndGet()
            try {
              val resp = Serve.write(c, lp, body)
              if (resp.status == 204) {
                acked.add(b)
                writeMs.add(resp.ms)
                val kept = if (lp) lpKept else mpKept
                if (a.trace && kept.size < (if (lp) 32 else 16)) kept.add(body)
              } else r.fail(s"write -> ${resp.status} ${resp.text.take(200)}")
            } catch { case e: Exception => r.fail(s"write: $e") }
          }
          rounds.wrote(w, n)
          n += 1
        } finally { c.close(); clientCpuNs.addAndGet(Main.threadCpuNs()) }
      }, s"perfbench-writer-$w")
    }

    val poller = new Thread(() => {
      val c = new Conn(port)
      var lastWrites = -1L
      var n = 0L
      try while (n <= rounds.last) {
        rounds.awaitWritten(n)
        val writes = acked.writes.get
        val sql = pollSql(acked.endUs.get)
        val fmt = Serve.Formats((n % Serve.Formats.length).toInt)
        r.attempted.incrementAndGet()
        try {
          val resp = Serve.query(c, sql, fmt)
          if (resp.status != 200) r.fail(s"poll/$fmt -> ${resp.status} ${resp.text.take(200)}")
          else {
            val hosts = Serve.decode(fmt, resp.body).col("host").map(String.valueOf)
            if (hosts != (0 until Cpu.Hosts).map(Cpu.host)) r.fail(s"poll/$fmt returned hosts $hosts")
            else {
              readMs.add(resp.ms)
              polls.add((sql, fmt, resp.body.length.toLong))
              if (writes != lastWrites) regs += 1
            }
          }
        } catch { case e: Exception => r.fail(s"poll/$fmt: $e") }
        lastWrites = writes
        if ((n + 1) % RoundsPerCycle == 0) {
          r.attempted.incrementAndGet()
          val cp = Serve.compact(c, tableDir(root))
          if (cp.ok) compactions.add(cp) else r.fail("compaction trigger failed")
        }
        rounds.polled(n, windowOver = System.nanoTime() - tStart >= windowNs)
        n += 1
      } finally { c.close(); clientCpuNs.addAndGet(Main.threadCpuNs()) }
    }, "perfbench-poller")

    (writers :+ poller).foreach(_.start())
    (writers :+ poller).foreach(_.join())
    val elapsedS = (System.nanoTime() - tStart) / 1e9
    // engine CPU: the whole JVM's, less the load generator's threads
    val engineCpuMs = (Main.processCpuNs() - cpu0 - clientCpuNs.get) / 1e6
    val jw1 = Main.jvmWork()
    r.info("window_jvm") = Main.jvmWorkJson(jw0, jw1)
    r.info("client_cpu_ms") = Json.num(clientCpuNs.get / 1e6)
    r.phase("window")
    val ep1 = Serve.endpoints(c)
    val pool = Serve.queryPool(c)

    val storedBytes = Serve.parquetFiles(tableDir(root)).values.sum
    val (wp, wt) = Stats.tail(writeMs.values)
    val (rp, rt) = if (readMs.size > 0) Stats.tail(readMs.values) else (0.0, 0.0)
    // The gated figure is the engine's CPU per acknowledged write, with
    // the window's polls and compactions included. Wall times stay in
    // the record: on a shared host they move with the neighbours' load.
    r.e2e("cpu_ms_per_op") = engineCpuMs / (acked.writes.get - writes0)
    r.info("op_p50_ms") = Json.num(Stats.percentile(writeMs.values, 50))
    r.info("op_tail_ms") = Json.num(wt)
    r.info("read_p50_ms") = Json.num(if (readMs.size > 0) Stats.median(readMs.values) else 0.0)
    r.info("read_tail_ms") = Json.num(rt)
    r.info("ops_per_s") = Json.num((acked.writes.get - writes0) / elapsedS)
    r.e2e("heap_retained_mb") = Main.heapRetainedMb()
    val cs = compactions.asScala.toSeq
    r.info("write_rows_per_s") = Json.num((acked.rows.get - rows0) / elapsedS)
    r.info("op_tail_percentile") = Json.num(wp)
    r.info("op_samples") = writeMs.size.toString
    r.info("read_tail_percentile") = Json.num(rp)
    r.info("read_samples") = readMs.size.toString
    r.info("poll_ms") = Json.arr(readMs.values.map(Json.num))
    r.info("compaction_ms") = Json.arr(compactions.asScala.map(c => Json.num(c.ms)))
    r.info("compaction_s") = Json.num(if (cs.isEmpty) 0.0 else Stats.median(cs.map(_.ms / 1000)))
    r.info("compactions") = cs.size.toString
    r.info("rounds") = (rounds.last + 1).toString
    r.info("stored_bytes_per_row") = Json.num(storedBytes.toDouble / acked.rows.get)
    r.info("acked_rows") = acked.rows.get.toString

    c.close()
    server.stop()

    // Durability and compaction check: a fresh server on the same root
    // must answer exactly what the generator had acknowledged, after the
    // window's compactions rewrote most of the hours.
    val fresh = Serve.start(spark, root)
    val fc = new Conn(fresh.boundPort)
    val q = Serve.query(fc,
      "SELECT host, count(*) AS n, sum(usage_user) AS su FROM cpu GROUP BY host ORDER BY host", "json")
    r.check(q.status == 200, s"restart query -> ${q.status} ${q.text.take(200)}")
    if (q.status == 200) {
      val t = Serve.decode("json", q.body)
      val want = (0 until Cpu.Hosts).map(h =>
        (Cpu.host(h), acked.perHostRows.get(h), acked.perHostUserQ.get(h) / 4.0))
      val got = t.rows.indices.map(i =>
        (String.valueOf(t.col("host")(i)), t.longs("n")(i), t.doubles("su")(i)))
      r.check(got == want, s"after restart got $got, acknowledged $want")
    }
    fc.close()
    fresh.stop()
    r.phase("restart_check")

    if (a.trace) {
      val tracer = new Tracer
      val rw = Replay.writes(spark, tracer, s"${a.work}/replay_root",
        lpKept.asScala.toSeq, mpKept.asScala.toSeq, r)
      val ps = polls.asScala.toSeq
      // a sample of the polls, each format in proportion
      val queryModuleMs = Replay.queries(spark, tracer, root,
        ps.take(9).map { case (sql, fmt, _) => (sql, fmt, 1) }, registerEach = true, r)
      Serve.Formats.foreach { f =>
        val bytes = ps.filter(_._2 == f).map(_._3)
        r.layer(s"query.wire_bytes_$f") = if (bytes.isEmpty) 0.0 else bytes.sum.toDouble / bytes.size
      }
      def delta(key: String): (Long, Double) = {
        val (n1, _, s1) = ep1.getOrElse(key, (0L, 0L, 0.0))
        val (n0, _, s0) = ep0.getOrElse(key, (0L, 0L, 0.0))
        (n1 - n0, s1 - s0)
      }
      // request time = module time + server overhead + residual (socket
      // and client), over every request of the window
      val (nLp, sLp) = delta("POST /write")
      val (nMp, sMp) = delta("POST /api/v1/write/msgpack")
      val (nQ, sQ) = delta("POST /api/v1/query")
      val serverWriteMs = (sLp + sMp) / (nLp + nMp).max(1)
      val moduleWriteMs = (rw.lpMs * nLp + rw.msgpackMs * nMp) / (nLp + nMp).max(1)
      def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
      r.layer("server.write_overhead_ms") = serverWriteMs - moduleWriteMs
      r.layer("server.write_residual_ms") = mean(writeMs.values) - serverWriteMs
      val serverQueryMs = sQ / nQ.max(1)
      r.layer("server.query_overhead_ms") = serverQueryMs - queryModuleMs
      r.layer("server.query_residual_ms") = mean(readMs.values) - serverQueryMs
      r.layer("server.requests") = (ep1.values.map(_._1).sum - ep0.values.map(_._1).sum).toDouble
      r.layer("server.errors") = (ep1.values.map(_._2).sum - ep0.values.map(_._2).sum).toDouble
      r.layer("server.queries_shed") = pool.get("queries_shed_total").asDouble
      r.layer("ingest.batches") = acked.writes.get.toDouble
      r.layer("ingest.rows") = acked.rows.get.toDouble
      r.layer("catalog.registers") = regs.toDouble
      r.layer("jobs.compaction_ms") = cs.map(_.ms).sum
      r.layer("jobs.files_in") = cs.map(_.filesIn).sum.toDouble
      r.layer("jobs.files_out") = cs.map(_.filesOut).sum.toDouble
      r.layer("jobs.bytes_rewritten") = cs.map(_.bytesRewritten).sum.toDouble
      r.layer("jobs.stored_bytes_per_row") = storedBytes.toDouble / acked.rows.get
      r.layer("trace.cpu_ms_per_op") = r.e2e("cpu_ms_per_op")
    }
  }
}
