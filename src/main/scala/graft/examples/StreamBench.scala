package graft.examples

import graft.HarnessSession
import graft.streaming.{StreamingCusum, StreamingHeavyHitters, StreamingNearDup}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming-operator throughput micro-bench (r15 — the first
  * performance evidence for the streaming family; every prior round
  * measured batch queries only). Drives deterministic MemoryStream
  * micro-batches through the three state-heaviest operators and
  * reports rows/s of processing time (warm-up batch excluded, input
  * rows / summed processAllAvailable wall):
  *
  *  - StreamingNearDup — per-bucket LSH membership state (the
  *    signature+banding expressions dominate; state ops per row are
  *    O(bands)).
  *  - StreamingHeavyHitters — 64 Misra–Gries shard summaries.
  *  - StreamingCusum — per-series (S⁺,S⁻) fold.
  *
  * Run: sbt "runMain graft.examples.StreamBench" — one line per
  * operator plus a summary line; STREAM_BENCH_ROWS scales the batch
  * size (default 20000 rows x 5 batches). The session comes from
  * [[graft.HarnessSession]]: `SPARK_GRAFT_CPUS` sets the `local[n]`
  * width and shuffle partitions (default every core, at least 4).
  */
object StreamBench {

  private def time(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val spark: SparkSession = HarnessSession.builder()
      .appName("graft-stream-bench").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val rowsPerBatch = sys.env.get("STREAM_BENCH_ROWS")
      .flatMap(_.toIntOption).getOrElse(20000)
    val nBatches = 5
    val rnd = new scala.util.Random(42)

    def report(name: String, rows: Long, secs: Double): Unit =
      println(f"[streambench] $name%-22s ${rows / secs / 1e3}%9.1f k rows/s  (${rows} rows, $secs%.2f s)")

    // --- StreamingNearDup: docs with a planted near-dup per 100
    locally {
      val vocab = (0 until 5000).map(i => s"w$i")
      def doc(i: Int): String =
        (0 until 30).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val batches = (0 until nBatches + 1).map { b =>
        (0 until rowsPerBatch / 10).map { i =>
          val id = (b.toLong << 32) | i
          (id, doc(i))
        }
      }
      val mem = MemoryStream[(Long, String)]
      val docs = mem.toDF().toDF("doc_id", "text")
      val q = StreamingNearDup.pairs(docs, "doc_id", "text",
          shingleK = 2, numHashes = 16, bands = 4,
          maxBucketState = 1000, idleTimeout = null)
        .writeStream.format("noop").outputMode("append").start()
      try {
        mem.addData(batches.head: _*); q.processAllAvailable() // warm
        val secs = batches.tail.map { b =>
          mem.addData(b: _*); time(q.processAllAvailable())
        }.sum
        report("neardup", nBatches.toLong * (rowsPerBatch / 10), secs)
      } finally q.stop()
    }

    // --- StreamingNearDup, saturated hot bucket: every doc shares the
    // same text, so all land in the same 4 band buckets; the warm-up
    // batch fills the maxBucketState cap, then steady-state batches are
    // pure membership-check overhead (no pairing, no new members) —
    // the hot-boilerplate regime the cap exists for
    locally {
      val text = (0 until 30).map(i => s"same$i").mkString(" ")
      val batches = (0 until nBatches + 1).map { b =>
        (0 until rowsPerBatch / 10).map { i =>
          (((b.toLong + 100) << 32) | i, text)
        }
      }
      val mem = MemoryStream[(Long, String)]
      val docs = mem.toDF().toDF("doc_id", "text")
      val q = StreamingNearDup.pairs(docs, "doc_id", "text",
          shingleK = 2, numHashes = 16, bands = 4,
          maxBucketState = 1000, idleTimeout = null)
        .writeStream.format("noop").outputMode("append").start()
      try {
        mem.addData(batches.head: _*); q.processAllAvailable() // fills cap
        val secs = batches.tail.map { b =>
          mem.addData(b: _*); time(q.processAllAvailable())
        }.sum
        report("neardup_hot_bucket", nBatches.toLong * (rowsPerBatch / 10), secs)
      } finally q.stop()
    }

    // --- StreamingHeavyHitters: Zipf-ish token stream
    locally {
      val batches = (0 until nBatches + 1).map { _ =>
        (0 until rowsPerBatch).map { _ =>
          // Zipf-ish: rank ~ 1/u, capped vocabulary 100k
          val u = math.max(rnd.nextDouble(), 1e-6)
          s"t${math.min((1.0 / u).toInt, 100000)}"
        }
      }
      val mem = MemoryStream[String]
      val items = mem.toDF().toDF("item")
      val q = StreamingHeavyHitters.track(items, "item", k = 128, nShards = 64)
        .writeStream.format("noop").outputMode("update").start()
      try {
        mem.addData(batches.head: _*); q.processAllAvailable()
        val secs = batches.tail.map { b =>
          mem.addData(b: _*); time(q.processAllAvailable())
        }.sum
        report("heavy_hitters", nBatches.toLong * rowsPerBatch, secs)
      } finally q.stop()
    }

    // --- StreamingCusum: 64 configured series, µs-distinct timestamps
    locally {
      val limits = (0 until 64).map(i =>
        s"s$i" -> StreamingCusum.Limits(target = 10000L, h = 2000L)).toMap
      val base = 1717200000000L
      val batches = (0 until nBatches + 1).map { b =>
        (0 until rowsPerBatch).map { i =>
          val ts = new java.sql.Timestamp(base + b.toLong * rowsPerBatch + i)
          (s"s${i % 64}", ts, 100.0 + (rnd.nextGaussian() * 5.0))
        }
      }
      val mem = MemoryStream[(String, java.sql.Timestamp, Double)]
      val ev = mem.toDF().toDF("series", "ts", "value")
      val q = StreamingCusum.alarms(ev, "series", "ts", "value",
          limits, watermarkDelay = "10 seconds")
        .writeStream.format("noop").outputMode("append").start()
      try {
        mem.addData(batches.head: _*); q.processAllAvailable()
        val secs = batches.tail.map { b =>
          mem.addData(b: _*); time(q.processAllAvailable())
        }.sum
        report("cusum", nBatches.toLong * rowsPerBatch, secs)
      } finally q.stop()
    }

    spark.stop()
  }
}
