package perfbench

import org.apache.spark.sql.SparkSession

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark harness entry point. Runs one workload in this JVM and
  * prints one line `PERFBENCH_RESULT {json}` for the runner (run.py):
  *
  *   --workload ts_ingest|analytics_suite  --seed N  --seconds S
  *   --trace 0|1  --work DIR  [--data DIR]  [--queries q1,q2,...]
  *
  * `--data` is the generated table directory (analytics_suite);
  * `--queries` replaces the suite's query slice (smoke runs).
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: String, data: String, queries: Option[Seq[String]])

  /** Everything a workload reports. */
  final class Result {
    val e2e = mutable.LinkedHashMap.empty[String, Double]
    val layer = mutable.LinkedHashMap.empty[String, Double]
    /** Extra JSON-valued details (not gated): names, counts, stamps. */
    val info = mutable.LinkedHashMap.empty[String, String]
    val attempted = new AtomicLong
    val failed = new AtomicLong
    val failures = new ConcurrentLinkedQueue[String]()
    private val born = System.nanoTime()
    private val phases = mutable.LinkedHashMap.empty[String, Double]

    /** Note when a phase of the run ended (seconds since start). */
    def phase(name: String): Unit = synchronized {
      phases(name) = (System.nanoTime() - born) / 1e9
      info("phases_s") = Json.obj(phases.map { case (k, v) => k -> Json.num(v) })
    }

    def fail(why: String): Unit = {
      failed.incrementAndGet()
      if (failures.size < 20) failures.add(why)
      System.err.println(s"[perfbench] FAILED: $why")
    }

    /** A correctness check: counts as one attempted op, failed if false. */
    def check(ok: Boolean, what: => String): Unit = {
      attempted.incrementAndGet()
      if (!ok) fail(what)
    }
  }

  /** Per-layer metric names, all reported on every workload (0 where a
    * layer does no work on that workload). */
  val LayerNames: Seq[String] = Seq(
    "ingest.lp_parse_ms", "ingest.msgpack_decode_ms", "ingest.pivot_ms",
    "ingest.parquet_write_ms", "ingest.batches", "ingest.rows",
    "ingest.files_written", "ingest.bytes_written",
    "server.requests", "server.errors", "server.queries_shed",
    "server.write_overhead_ms", "server.query_overhead_ms",
    "server.write_residual_ms", "server.query_residual_ms",
    "catalog.register_ms", "catalog.registers", "catalog.hour_partitions",
    "plans.partitions_total", "plans.partitions_read", "plans.partitions_read_ratio",
    "query.analysis_ms", "query.optimization_ms", "query.planning_ms",
    "query.execution_ms", "query.jobs", "query.tasks", "query.files_read",
    "query.bytes_read", "query.rows_scanned_per_row_returned",
    "query.encode_json_ms", "query.encode_arrow_ms", "query.encode_msgpack_ms",
    "query.wire_bytes_json", "query.wire_bytes_arrow", "query.wire_bytes_msgpack",
    "jobs.compaction_ms", "jobs.files_in", "jobs.files_out", "jobs.bytes_rewritten",
    "jobs.stored_bytes_per_row",
    "suite.analysis_ms", "suite.optimization_ms", "suite.planning_ms",
    "suite.execution_ms", "suite.jobs", "suite.stages", "suite.tasks",
    "suite.input_bytes", "suite.shuffle_read_bytes", "suite.shuffle_write_bytes",
    "suite.spill_bytes", "suite.gc_ms") ++
    Suite.Modules.map(m => s"queries.${m}_ms") ++
    Seq("trace.overhead_ms", "trace.suite_ms", "trace.cpu_ms_per_op")

  val E2eNames: Seq[String] = Seq("setup_s", "cpu_ms_per_op", "heap_retained_mb")

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(
      workload = m("workload"), seed = m("seed").toLong, seconds = m("seconds").toInt,
      trace = m.getOrElse("trace", "0") == "1", work = m("work"),
      data = m.getOrElse("data", ""),
      queries = m.get("queries").map(_.split(',').toSeq.filter(_.nonEmpty)))
  }

  private def loadAvg(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time this JVM has used on all its threads (GC and JIT included),
    * in ns. Time a thread spends waiting for a core, or stolen from the
    * VM by its host, is not in it. */
  def processCpuNs(): Long = osBean.getProcessCpuTime

  /** CPU time the calling thread has used, in ns. */
  def threadCpuNs(): Long =
    java.lang.management.ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime

  /** (GC count, GC ms, JIT compilation ms) so far. */
  def jvmWork(): (Long, Long, Long) = {
    val gcs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    (gcs.map(_.getCollectionCount).sum, gcs.map(_.getCollectionTime).sum,
      java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime)
  }

  /** What the JVM's own work was between two `jvmWork` readings. */
  def jvmWorkJson(w0: (Long, Long, Long), w1: (Long, Long, Long)): String = Json.obj(Seq(
    "gc_count" -> (w1._1 - w0._1).toString, "gc_ms" -> (w1._2 - w0._2).toString,
    "jit_ms" -> (w1._3 - w0._3).toString))

  /** Heap still in use after forced full collections, in MB: the least
    * of five, since Spark's cleaner frees some state only after a
    * collection has found it unreachable. */
  def heapRetainedMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 5).map { _ =>
      System.gc(); Thread.sleep(200)
      mx.getHeapMemoryUsage.getUsed / 1e6
    }.min
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val load0 = loadAvg()
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val b = graft.HarnessSession.builder(cpus)
      .config("spark.sql.queryExecutionListeners", classOf[Counters.Phases].getName)
    // the serving workload runs the deployment's scheduler (ServeMain)
    if (a.workload == "ts_ingest") b.config("spark.scheduler.mode", "FAIR")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Counters.attach(spark.sparkContext)

    val r = new Result
    r.phase("spark_up")
    a.workload match {
      case "ts_ingest" => TsIngest.run(spark, a, r)
      case "analytics_suite" => Suite.run(spark, a, r)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    r.phase("workload_done")
    if (!r.e2e.contains("heap_retained_mb")) r.e2e("heap_retained_mb") = heapRetainedMb()
    LayerNames.foreach(n => if (!r.layer.contains(n)) r.layer(n) = 0.0)
    val missing = E2eNames.filterNot(r.e2e.contains)
    require(missing.isEmpty, s"workload left metrics unset: $missing")

    r.info("nproc") = cpus
    r.info("spark_master") = Json.str(spark.sparkContext.master)
    r.info("load_avg_start") = Json.num(load0)
    r.info("load_avg_end") = Json.num(loadAvg())
    r.info("seed") = a.seed.toString
    r.info("jvm") = Json.str(System.getProperty("java.runtime.version"))
    r.info("spark") = Json.str(spark.version)
    val json = Json.obj(Seq(
      "attempted" -> r.attempted.get.toString,
      "failed" -> r.failed.get.toString,
      "failures" -> Json.arr(r.failures.asScala.map(Json.str)),
      "e2e" -> Json.obj(E2eNames.map(n => n -> Json.num(r.e2e(n)))),
      "layer" -> Json.obj(LayerNames.map(n => n -> Json.num(r.layer(n)))),
      "info" -> Json.obj(r.info)))
    spark.stop()
    println("PERFBENCH_RESULT " + json)
    System.out.flush()
    // Spark and the HTTP server leave non-daemon threads behind
    sys.exit(0)
  }
}
