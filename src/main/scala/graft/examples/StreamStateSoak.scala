package graft.examples

import graft.HarnessSession
import graft.streaming.{StreamingLineDedup, StreamingNearDup}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

/** State-store scale pin for the flatMapGroupsWithState family
  * (round-12 verdict #6). Every one of these operators DOCUMENTS
  * O(bounded) state — per-bucket caps plus processing-time TTL — but no
  * round had measured the state store under a long stream. This soak
  * drives micro-batches of fresh documents (monotone ids → ever-new LSH
  * buckets / line hashes, the worst case for state growth: nothing ever
  * repeats, so WITHOUT expiry state grows linearly forever) and records
  * the state store's own metrics (`numRowsTotal`, `memoryUsedBytes`
  * from StreamingQueryProgress) per batch.
  *
  * Pass criterion (printed, judged in SCALE.md): after the TTL horizon
  * (warm-up batches > idleTimeout), numRowsTotal stops growing — the
  * late-phase maximum stays within tolerance of the mid-phase maximum —
  * while the no-TTL CONTROL run of the same operator on the same data
  * grows monotonically. That pair of curves is the measured version of
  * the "state is bounded two ways" scaladoc contract.
  *
  * Run: sbt "runMain graft.examples.StreamStateSoak"
  * Env: SOAK_BATCHES (default 40), SOAK_DOCS_PER_BATCH (default 2000).
  */
object StreamStateSoak {

  private case class Sample(batch: Int, rows: Long, memBytes: Long)

  private def stateSamples(q: StreamingQuery): Option[(Long, Long)] = {
    val p = q.lastProgress
    if (p == null || p.stateOperators.isEmpty) None
    else Some((p.stateOperators.map(_.numRowsTotal).sum,
      p.stateOperators.map(_.memoryUsedBytes).sum))
  }

  def main(args: Array[String]): Unit = {
    val nBatches = sys.env.get("SOAK_BATCHES").flatMap(_.toIntOption).getOrElse(40)
    val perBatch = sys.env.get("SOAK_DOCS_PER_BATCH").flatMap(_.toIntOption).getOrElse(2000)
    val spark = HarnessSession.builder()
      .config("spark.sql.streaming.checkpointLocation",
        java.nio.file.Files.createTempDirectory("soak_ckpt").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // fresh pseudo-documents: 30 tokens from a 5,000-word vocabulary,
    // seeded per batch — ids never repeat, so every doc opens new
    // buckets/lines (state-growth worst case at sf1-like doc rates)
    def docs(batch: Int): Seq[(Long, String)] = {
      val rnd = new scala.util.Random(batch * 7919 + 13)
      (0 until perBatch).map { i =>
        val id = batch.toLong * perBatch + i
        (id, Seq.fill(30)("w" + rnd.nextInt(5000)).mkString(" "))
      }
    }

    /** Drive one operator over the same batch schedule; returns the
      * per-batch state samples. NOTE deliberately NOT
      * `processAllAvailable`: with ProcessingTimeTimeout the engine
      * schedules timeout-servicing batches continuously and
      * processAllAvailable never quiesces (measured: 1,900+ empty
      * commits, main parked forever). We instead wait until the
      * query's source offset reaches the addData watermark — data is
      * processed; empty timeout batches keep running in the
      * background, which is exactly the regime being measured. */
    def drive(label: String, ttl: String, interBatchMs: Long,
        build: org.apache.spark.sql.DataFrame => org.apache.spark.sql.Dataset[_])
        : Seq[Sample] = {
      val mem = MemoryStream[(Long, String)]
      val name = s"soak_${label.replace('-', '_')}_${System.nanoTime()}"
      val q = build(mem.toDF().toDF("doc_id", "text"))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      def waitFor(targetOffset: Long): Unit = {
        val deadline = System.currentTimeMillis() + 60000
        var done = false
        while (!done && System.currentTimeMillis() < deadline) {
          val p = q.lastProgress
          done = p != null && p.sources.nonEmpty &&
            Option(p.sources(0).endOffset)
              .flatMap(s => scala.util.Try(s.trim.toLong).toOption)
              .exists(_ >= targetOffset)
          if (!done) Thread.sleep(50)
        }
        require(done, s"$label: batch not processed within 60s")
      }
      val out = Seq.newBuilder[Sample]
      try {
        (0 until nBatches).foreach { b =>
          val off = mem.addData(docs(b): _*)
          waitFor(scala.util.Try(off.json.trim.toLong).getOrElse(b + 1L))
          stateSamples(q).foreach { case (r, m) => out += Sample(b, r, m) }
          if (interBatchMs > 0) Thread.sleep(interBatchMs)
        }
      } finally q.stop()
      val samples = out.result()
      val mid = samples.slice(nBatches / 4, nBatches / 2).map(_.rows)
      val late = samples.drop(3 * nBatches / 4).map(_.rows)
      val firstQ = samples.take(nBatches / 4).map(_.rows)
      println(f"[soak] $label%-28s ttl=$ttl%-6s batches=$nBatches x $perBatch " +
        f"rows(q1max=${firstQ.max}, midmax=${mid.max}, latemax=${late.max}) " +
        f"mem(latemax=${samples.drop(3 * nBatches / 4).map(_.memBytes).max / 1024}KiB) " +
        f"flat=${late.max <= (mid.max * 1.25).toLong}")
      samples
    }

    // TTL'd runs: 1 s idle timeout, ~300 ms between batches → horizon
    // at ~4 batches; state must plateau at (docs-in-TTL-window × bands)
    val nd = drive("neardup-ttl", "1s", 300, df =>
      StreamingNearDup.pairs(df, "doc_id", "text",
        shingleK = 2, numHashes = 16, bands = 4,
        maxBucketState = 50, idleTimeout = "1 second"))
    val ld = drive("linededup-ttl", "1s", 300, df =>
      StreamingLineDedup.kept(df, "doc_id", "text",
        lineWords = 3, dupDocs = 2, idleTimeout = "1 second"))
    // CONTROL: same operator/data, no TTL — must grow monotonically
    // (this is the failure mode the TTL exists to prevent)
    val ctl = drive("neardup-control-no-ttl", "none", 0, df =>
      StreamingNearDup.pairs(df, "doc_id", "text",
        shingleK = 2, numHashes = 16, bands = 4,
        maxBucketState = 50, idleTimeout = null))

    def curve(s: Seq[Sample]): String =
      s.grouped(math.max(1, s.length / 10)).map(_.last)
        .map(x => s"${x.batch}:${x.rows}").mkString(" ")
    println(s"[soak] neardup-ttl curve:   ${curve(nd)}")
    println(s"[soak] linededup-ttl curve: ${curve(ld)}")
    println(s"[soak] control curve:       ${curve(ctl)}")
    val ndLate = nd.drop(3 * nBatches / 4).map(_.rows).max
    val ndMid = nd.slice(nBatches / 4, nBatches / 2).map(_.rows).max
    val ctlGrew = ctl.last.rows > ctl(nBatches / 2).rows &&
      ctl(nBatches / 2).rows > ctl(nBatches / 4).rows
    println(s"[soak] VERDICT: ttl_flat=${ndLate <= (ndMid * 1.25).toLong} " +
      s"control_monotone=$ctlGrew")
    spark.stop()
  }
}
