package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import java.io.File
import scala.jdk.CollectionConverters._

/** Cross-JVM checkpoint recovery for the two flatMapGroupsWithState
  * jobs a `StreamBench` row runs (near-dup and heavy hitters): a
  * FORKED child JVM runs the query, is `Runtime.halt`-killed with the
  * query live after the first two file-batches commit, and a second
  * fork resumes from the checkpoint to drain the rest of the input.
  * The in-process streaming specs prove batch parity and bounded state;
  * this one proves the durability contract a real deployment needs —
  * state carries across a process death, output is exactly-once (no
  * loss, no duplication) against an independently computed backstop.
  *
  * Reference analog: WAL replay (internal/wal/recovery.go) — a crash
  * between accept and flush must not lose or duplicate acknowledged
  * work. */
class StreamingRestartSpec extends SparkSpec {
  import spark.implicits._

  /** Fork RestartChild with the parent's own module flags + classpath. */
  private def fork(job: String, phase: String, inputDir: String,
      ckptDir: String, outDir: String): Int = {
    val javaBin = new File(new File(sys.props("java.home"), "bin"), "java")
      .getAbsolutePath
    // inherit the --add-opens set sbt gave THIS test JVM (Spark on
    // JDK 17 needs them; hardcoding would drift from build.sbt)
    val inherited = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    val opens = inherited.sliding(2).collect {
      case Seq("--add-opens", v) => Seq("--add-opens", v)
    }.toSeq.flatten
    val cmd = Seq(javaBin) ++ opens ++ Seq("-Xmx2g",
      "-Dspark.ui.enabled=false",
      "-cp", sys.props("java.class.path"),
      "graft.streaming.RestartChild", job, phase, inputDir, ckptDir, outDir)
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    val log = File.createTempFile(s"restart_${job}_$phase", ".log")
    pb.redirectOutput(log)
    val p = pb.start()
    val done = p.waitFor(300, java.util.concurrent.TimeUnit.SECONDS)
    if (!done) { p.destroyForcibly(); fail(s"$job/$phase fork timed out ($log)") }
    val code = p.exitValue()
    if (code != 0)
      fail(s"$job/$phase exited $code — tail:\n" + {
        val lines = java.nio.file.Files.readAllLines(log.toPath).asScala
        lines.takeRight(30).mkString("\n")
      })
    code
  }

  /** Write `df` as ONE parquet file named f<i>.parquet in `dir`, with a
    * controlled mtime so the file source's (timestamp, path) order is
    * deterministic. */
  private def writeFile(df: DataFrame, dir: String, i: Int): Unit = {
    val tmp = tmpDir("restart_stage")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(fail(s"no part file in $tmp"))
    val dst = new File(dir, f"f$i%02d.parquet")
    java.nio.file.Files.move(part.toPath, dst.toPath)
    assert(dst.setLastModified(1700000000000L + i * 60000L))
  }

  private def setup(job: String): (String, String, String) = {
    val base = tmpDir(s"restart_$job")
    val input = new File(base, "input"); input.mkdirs()
    val ckpt = new File(base, "ckpt")
    val out = new File(base, "out"); out.mkdirs()
    (input.getAbsolutePath, ckpt.getAbsolutePath, out.getAbsolutePath)
  }

  test("near-dup: halt mid-stream, resume, pair set equals single-run backstop") {
    val (input, ckpt, out) = setup("neardup")
    val rnd = new scala.util.Random(17)
    val uniq = (0 until 12).map(i =>
      (i.toLong, (0 until 10).map(_ => s"w${i}_${rnd.nextInt(400)}").mkString(" ")))
    // planted near-dups across the crash boundary: 100 ~ doc 1 (both
    // pre-crash), 101 ~ doc 2 (101 arrives AFTER the crash — pairing it
    // requires the bucket state recovered from the checkpoint)
    val d100 = (100L, uniq(1)._2 + " tailA")
    val d101 = (101L, uniq(2)._2 + " tailB")
    val all = uniq ++ Seq(d100, d101)
    writeFile(Seq(uniq(0), uniq(1), uniq(2), d100).toDF("id", "text"), input, 0)
    writeFile(uniq.slice(3, 7).toDF("id", "text"), input, 1)
    fork("neardup", "crash", input, ckpt, out)
    writeFile((uniq.slice(7, 10) :+ d101).toDF("id", "text"), input, 2)
    writeFile(uniq.slice(10, 12).toDF("id", "text"), input, 3)
    fork("neardup", "resume", input, ckpt, out)

    val got = spark.read.parquet(out)
      .select("doc1", "doc2", "band").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.length == got.distinct.length, "duplicate candidate emissions")
    // backstop: the SAME operator, one process, one batch, no restart
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val name = s"nd_backstop_${System.nanoTime()}"
    val q = StreamingNearDup.pairs(
        mem.toDF().toDF("id", "text"), "id", "text")
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try { mem.addData(all: _*); q.processAllAvailable() } finally q.stop()
    val backstop = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.toSet == backstop.toSet,
      s"restarted pair set ${got.length} != backstop ${backstop.length}")
    // the cross-crash planted pair must be present
    assert(got.exists(p => p._1 == 2L && p._2 == 101L),
      s"cross-crash near-dup (2,101) missing: ${got.mkString(",")}")
  }

  test("heavy hitters: halt mid-stream, resume, MG guarantees hold across the restart") {
    val (input, ckpt, out) = setup("hh")
    val rnd = new scala.util.Random(23)
    // 'viral' is heavy ONLY in aggregate: 30 occurrences per file, so a
    // tracker that lost pre-crash counters undercounts by half
    def batch(b: Int) = rnd.shuffle(
      Seq.fill(30)("viral") ++ (0 until 90).map(i => s"noise_${b}_$i"))
    val batches = (0 until 4).map(batch)
    writeFile(batches(0).toDF("token"), input, 0)
    writeFile(batches(1).toDF("token"), input, 1)
    fork("hh", "crash", input, ckpt, out)
    writeFile(batches(2).toDF("token"), input, 2)
    writeFile(batches(3).toDF("token"), input, 3)
    fork("hh", "resume", input, ckpt, out)

    // live view: last emission per shard = rows of the max batch dir
    // that contains the shard (idempotent overwrite per batchId)
    val batchDirs = new File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch_"))
      .sortBy(_.getName.stripPrefix("batch_").toLong)
    assert(batchDirs.length >= 3, s"expected >=3 batch dirs, got ${batchDirs.length}")
    val rows = batchDirs.flatMap { d =>
      val bid = d.getName.stripPrefix("batch_").toLong
      spark.read.parquet(d.getAbsolutePath).collect()
        .map(r => (bid, r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    }
    val latestByShard = rows.groupBy(_._2).view.mapValues(_.map(_._1).max).toMap
    val live = rows.filter(t => t._1 == latestByShard(t._2))
      .map(t => (t._2, t._3) -> ((t._4, t._5))).toMap
    val k = 9
    // state bound: <= k live candidates per shard
    live.keys.groupBy(_._1).foreach { case (shard, ks) =>
      assert(ks.size <= k, s"shard $shard holds ${ks.size} > k=$k")
    }
    // the aggregate-heavy token survives the restart with a valid bound
    val hit = live.collectFirst { case ((_, "viral"), v) => v }
    assert(hit.nonEmpty,
      s"viral evicted after restart — pre-crash counters lost? ${live.keys}")
    val (lower, shardTotal) = hit.get
    assert(lower <= 120L, s"counter $lower must lower-bound true count 120")
    assert(lower >= 120L - shardTotal / (k + 1),
      s"MG error bound violated across restart: lower=$lower total=$shardTotal")
  }
}
