package graft

/** Optimization-round measurement harness (guide §1): for each selected
  * query, print the formatted physical plan to a file and time the
  * computation in isolation — both the bench's `.count()` action (the
  * cross-round comparable) and the noop sink (computes every column,
  * guide §1.4) so column-pruning artifacts of count() are visible.
  *
  * Usage: runMain graft.PlanProbe <sfDir> <outDir> [nameSubstr,...]
  * Writes <outDir>/<query>.txt (plan) and prints one timing line per
  * query. Iterations: SPARK_GRAFT_PROBE_ITERS (default 2; min is kept).
  */
object PlanProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val only: String => Boolean = args.drop(2).headOption match {
      case Some(f) => val pats = f.split(','); n => pats.exists(n.contains)
      case None => _ => true
    }
    val iters = sys.env.get("SPARK_GRAFT_PROBE_ITERS")
      .flatMap(_.toIntOption).getOrElse(2)
    val spark = HarnessSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // per-query job/stage/task census: a tiny-data query spending its
    // time in N sequential job round-trips is latency-bound, not
    // compute-bound — the counter tells the two apart (guide §1)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val stages = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet()
          stages.addAndGet(j.stageInfos.size)
          tasks.addAndGet(j.stageInfos.map(_.numTasks).sum)
        }
      })
    spark.range(1000000).selectExpr("sum(id)").collect()
    val named = SparkEntry.queries.toSeq.sortBy(_._1).filter(kv => only(kv._1))
    named.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/$name.txt"),
          plan.getBytes("UTF-8"))
        ModelCheckpoint.sweep(spark)
        spark.sparkContext.setJobDescription(s"probe:$name")
        var jn = 0; var sn = 0; var tn = 0
        val counts = (1 to iters).map { _ =>
          val j0 = jobs.get(); val s0 = stages.get(); val t0n = tasks.get()
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          val dt = (System.nanoTime() - t0) / 1e9
          ModelCheckpoint.sweep(spark)
          jn = jobs.get() - j0; sn = stages.get() - s0; tn = tasks.get() - t0n
          dt
        }
        val noops = (1 to iters).map { _ =>
          val t0 = System.nanoTime()
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          val dt = (System.nanoTime() - t0) / 1e9
          ModelCheckpoint.sweep(spark)
          dt
        }
        spark.sparkContext.setJobDescription(null)
        println(f"[probe] $name%-28s count_min=${counts.min}%7.3f s  " +
          f"noop_min=${noops.min}%7.3f s  counts=${counts.map(d => f"$d%.2f").mkString("/")}  " +
          f"noops=${noops.map(d => f"$d%.2f").mkString("/")}  " +
          s"jobs=$jn stages=$sn tasks=$tn")
      } catch {
        case e: Throwable =>
          println(s"[probe] $name ERROR: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
