package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}

import java.io.File

/** Forked-JVM worker for [[StreamingRestartSpec]]: runs one of the two
  * stateful streaming jobs (near-dup, heavy hitters) against a parquet
  * file source with a checkpoint, in one of two phases:
  *
  *  - `crash`: start the query, wait until the first two file-batches
  *    are fully committed, then `Runtime.halt` — no `stop()`, no
  *    shutdown hooks, no Spark teardown. The process dies the way a
  *    real executor/driver loss does, with the query live.
  *  - `resume`: start the SAME query from the SAME checkpoint, drain
  *    whatever input the crash left or the parent added since, stop
  *    gracefully, write a `_DONE` marker.
  *
  * The parent asserts exactly-once output across the two phases: the
  * Append-mode job (near-dup) writes through the transactional parquet
  * file sink (its `_spark_metadata` manifest excludes any orphan files
  * the crash left behind); the Update-mode job (heavy hitters) writes through an
  * IDEMPOTENT foreachBatch — `overwrite` into a per-batchId directory,
  * so a replayed batch lands on top of its own partial output.
  *
  * Reference analog: the WAL replay contract
  * (internal/wal/recovery.go) — acknowledged state must survive a
  * crash with no loss and no duplication.
  */
object RestartChild {

  def main(args: Array[String]): Unit = {
    val Array(job, phase, inputDir, ckptDir, outDir) = args
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName(s"graft-restart-$job-$phase")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("rc_wh").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val query = job match {
      case "neardup" =>
        val in = spark.readStream
          .schema("id long, text string")
          .option("maxFilesPerTrigger", "1").parquet(inputDir)
        StreamingNearDup.pairs(in, "id", "text")
          .writeStream.format("parquet")
          .option("path", outDir).option("checkpointLocation", ckptDir)
          .outputMode("append").start()
      case "hh" =>
        val in = spark.readStream
          .schema("token string")
          .option("maxFilesPerTrigger", "1").parquet(inputDir)
        StreamingHeavyHitters.track(in, "token", k = 9, nShards = 4)
          .writeStream.outputMode("update")
          .option("checkpointLocation", ckptDir)
          .foreachBatch {
            (df: Dataset[StreamingHeavyHitters.Hitter], batchId: Long) =>
              df.write.mode("overwrite").parquet(s"$outDir/batch_$batchId")
          }.start()
      case other => sys.error(s"unknown job: $other")
    }

    phase match {
      case "crash" =>
        // wait until BOTH seed files are ingested and their batches are
        // fully committed (offsets == commits catches an in-flight
        // batch; the sources/0 log counts the actual files each batch
        // picked up — a no-data batch can't fake it)
        val deadline = System.currentTimeMillis() + 180000
        def committed = Option(new File(ckptDir, "commits").list())
          .map(_.count(!_.endsWith(".tmp"))).getOrElse(0)
        def offsets = Option(new File(ckptDir, "offsets").list())
          .map(_.count(!_.endsWith(".tmp"))).getOrElse(0)
        def filesSeen: Int = {
          val d = new File(ckptDir, "sources/0")
          Option(d.listFiles()).getOrElse(Array.empty)
            .filterNot(_.getName.endsWith(".tmp")).map { f =>
              try new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
                .split('\n').count(_.contains("\"path\""))
              catch { case _: Throwable => 0 }
            }.sum
        }
        var ready = false
        while (!ready && System.currentTimeMillis() < deadline) {
          ready = filesSeen >= 2 && committed >= 2 && committed >= offsets
          if (!ready) Thread.sleep(25)
        }
        // genuine crash: skip stop(), skip Spark teardown, skip JVM
        // shutdown hooks. Exit 0 = crash point reached; 3 = setup hang.
        Runtime.getRuntime.halt(if (ready) 0 else 3)
      case "resume" =>
        query.processAllAvailable()
        query.stop()
        spark.stop()
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, "_DONE"), Array.emptyByteArray)
        sys.exit(0)
      case other => sys.error(s"unknown phase: $other")
    }
  }
}
