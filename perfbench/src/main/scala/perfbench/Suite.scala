package perfbench

import graft.{ModelCheckpoint, SparkEntry, Tables}
import graft.queries._
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** analytics_suite: declared queries of `SparkEntry.queries` run
  * in-process on one thread over the generated tables, in sorted order.
  * No HTTP, ingest or catalog work: Catalyst phases and shuffle-heavy
  * operators do it. The seed changes nothing here: the inputs are the
  * fixed tables the recorded digests check, and a fixed order keeps
  * each query's neighbours the same in every run.
  *
  * All 180 queries take about 240 s cold and 90 s warm on four cores
  * (sf0.01, answers collected), which does not fit a run. The slice is
  * one query per query module: the second-cheapest of the module by
  * cold plus warm time in that same-box pass (the cheapest is often a
  * trivial one), except in retrieval, where the second costs three
  * times the first. Every module's operators and functions stay on the
  * measured path and no single query dominates the total.
  */
object Suite {

  val Slice: Seq[String] = Seq(
    "q28_agg_grouping_sets", "q66_dedup_minhash", "q36_setops_all",
    "q43_string_funcs", "q16_join_cross", "q80b_multimodal_fixture",
    "q38_unpivot", "q160_chunk_windows", "q76_sample_stratified",
    "q33_distinct", "q51_subquery_scalar", "q81_text_scrub",
    "q142_trigram_paths", "q111_embedding_project", "q24_window_ntile").sorted

  /** Query name -> its module (the `graft.queries` object declaring it). */
  lazy val moduleOf: Map[String, String] = Seq(
    "agg" -> AggQueries.queries.keys, "join" -> JoinQueries.queries.keys,
    "window" -> WindowQueries.queries.keys, "sortset" -> SortSetQueries.queries.keys,
    "function" -> FunctionQueries.queries.keys, "sql" -> SqlQueries.queries.keys,
    "text" -> TextQueries.queries.keys, "dedup" -> DedupQueries.queries.keys,
    "vector" -> (VectorQueries.queries.keys ++ VectorQueries.rowsOnlyQueries.keys ++
      VectorQueries.exactTwinQueries.keys),
    "misc" -> MiscQueries.queries.keys, "extra" -> ExtraQueries.queries.keys,
    "reshape" -> ReshapeQueries.queries.keys, "sample" -> SampleQueries.queries.keys,
    "timeseries" -> TimeseriesQueries.queries.keys,
    "retrieval" -> RetrievalQueries.queries.keys,
  ).flatMap { case (m, qs) => qs.map(_ -> m) }.toMap

  val Modules: Seq[String] = Seq("agg", "join", "window", "sortset", "function",
    "sql", "text", "dedup", "vector", "misc", "extra", "reshape", "sample",
    "timeseries", "retrieval")

  /** Rows as a deterministic fingerprint (every query ends in a total
    * ORDER BY, so row order is part of the answer). */
  private def fingerprint(rows: Array[org.apache.spark.sql.Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r.toString + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Write one query result for the runner's digest check (Spark's INT96
    * timestamps, as the engine's own correctness dump writes them). */
  private def dump(spark: SparkSession, rows: Array[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType, dir: String): Unit = {
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  def run(spark: SparkSession, a: Main.Args, r: Main.Result): Unit = {
    val dataDir = a.data
    val all = SparkEntry.queries
    val order = a.queries.getOrElse(Slice)
    val sc = spark.sparkContext

    // Set-up: register the tables and functions in a fresh session;
    // three times so setup_s is a median. Its cost is the JVM's CPU time.
    var session = spark
    val setupWallS = Seq.newBuilder[Double]
    val setups = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val cpu0 = Main.processCpuNs()
      session = spark.newSession()
      Tables.registerAll(session, dataDir)
      setupWallS += (System.nanoTime() - t0) / 1e9
      (Main.processCpuNs() - cpu0) / 1e9
    }
    r.e2e("setup_s") = Stats.median(setups)
    r.info("setup_wall_s") = Json.num(Stats.median(setupWallS.result()))
    r.phase("setup")

    // Warm-up pass, untimed: the first run of each query in this JVM
    // pays code generation and JIT compilation, which would otherwise
    // dominate and scatter the timings. Its answers are dumped for the
    // runner's digest check; the measured passes must match them.
    val expected = mutable.Map.empty[String, String]
    order.foreach { q =>
      r.attempted.incrementAndGet()
      try {
        val df = all(q)(session, dataDir)
        val rows = df.collect()
        expected(q) = fingerprint(rows)
        dump(session, rows, df.schema, s"${a.work}/results/$q")
      } catch { case e: Throwable => r.fail(s"$q: ${e.getMessage}") }
      ModelCheckpoint.sweep(session)
    }
    r.phase("warm_up")

    // One pass over the slice, each answer checked against the warm-up's.
    val times = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    def pass(): Unit = order.foreach { q =>
      r.attempted.incrementAndGet()
      val q0 = System.nanoTime()
      try {
        val rows = all(q)(session, dataDir).collect()
        times.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += (System.nanoTime() - q0) / 1e6
        if (!expected.get(q).contains(fingerprint(rows)))
          r.fail(s"$q: answer differs from the warm-up pass")
      } catch { case e: Throwable => r.fail(s"$q: ${e.getMessage}") }
      ModelCheckpoint.sweep(session)
    }
    // A second untimed pass: JIT compilation of the code the first one
    // ran is still under way, and the CPU it costs would otherwise fall
    // in the window.
    pass()
    times.clear()
    r.phase("warm_up_2")

    // Measured passes: the whole slice, repeated until the window is
    // spent (at least two passes). A traced run sums Spark's counters over
    // the same passes.
    var passes = 0
    val passCpuMs = mutable.ArrayBuffer.empty[Double]
    val windowNs = a.seconds * 1000000000L
    Counters.drain(sc)
    Counters.reset()
    Counters.enabled.set(a.trace)
    val t0 = System.nanoTime()
    val jw0 = Main.jvmWork()
    while (passes < 2 || System.nanoTime() - t0 < windowNs) {
      val cpu0 = Main.processCpuNs()
      pass()
      passCpuMs += (Main.processCpuNs() - cpu0) / 1e6
      passes += 1
    }
    val jw1 = Main.jvmWork()
    r.info("window_jvm") = Main.jvmWorkJson(jw0, jw1)
    Counters.drain(sc)
    Counters.enabled.set(false)
    r.phase("window")
    // A query's time is its best pass: on a shared host, CPU steal comes
    // in bursts, and the best of a few passes is the figure a burst
    // leaves alone.
    val perQuery = order.filter(times.contains).map(q => q -> times(q).min).toMap
    val samples = perQuery.values.toVector
    val (tp, tv) = Stats.tail(samples)
    // The gated figure is the CPU the engine spends per query: the CPU
    // time of the first two timed passes over their query count. A fixed
    // pair of passes, since each later pass of a short run still costs a
    // little less as JIT compilation goes on. Wall times stay in the
    // record: on a shared host they move with the neighbours' load by
    // more than any useful bound.
    r.e2e("cpu_ms_per_op") = passCpuMs.take(2).sum / (2 * order.size)
    r.info("pass_cpu_ms") = Json.arr(passCpuMs.map(Json.num))
    r.info("op_p50_ms") = Json.num(Stats.percentile(samples, 50))
    r.info("op_tail_ms") = Json.num(tv)
    r.info("ops_per_s") = Json.num(samples.length / (samples.sum / 1000.0))
    r.info("suite_s") = Json.num(perQuery.values.sum / 1000.0)
    r.info("suite_geomean_ms") = Json.num(Stats.geomean(perQuery.values.toSeq))
    r.info("op_tail_percentile") = Json.num(tp)
    r.info("op_samples") = samples.length.toString
    r.info("passes") = passes.toString
    r.info("queries") = Json.arr(order.map(Json.str))
    r.info("pass_ms") = Json.obj(times.toSeq.sortBy(_._1).map { case (q, v) => q -> Json.arr(v.map(Json.num)) })
    r.info("per_query_ms") = Json.obj(perQuery.toSeq.sortBy(_._1).map { case (q, ms) => q -> Json.num(ms) })

    if (a.trace) {
      val c = Counters.snapshot()
      def perPass(k: String): Double = c(k).toDouble / passes
      r.layer("suite.analysis_ms") = perPass("analysis_ns") / 1e6
      r.layer("suite.optimization_ms") = perPass("optimization_ns") / 1e6
      r.layer("suite.planning_ms") = perPass("planning_ns") / 1e6
      r.layer("suite.execution_ms") = perPass("execution_ns") / 1e6
      r.layer("suite.jobs") = perPass("jobs")
      r.layer("suite.stages") = perPass("stages")
      r.layer("suite.tasks") = perPass("tasks")
      r.layer("suite.input_bytes") = perPass("input_bytes")
      r.layer("suite.shuffle_read_bytes") = perPass("shuffle_read_bytes")
      r.layer("suite.shuffle_write_bytes") = perPass("shuffle_write_bytes")
      r.layer("suite.spill_bytes") = perPass("spill_bytes")
      r.layer("suite.gc_ms") = perPass("gc_ms")
      Modules.foreach { m =>
        r.layer(s"queries.${m}_ms") =
          perQuery.collect { case (q, ms) if moduleOf.get(q).contains(m) => ms }.sum
      }
      r.layer("trace.suite_ms") = perQuery.values.sum
      r.layer("trace.cpu_ms_per_op") = r.e2e("cpu_ms_per_op")
    }
  }
}
