package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. `parent` is the id of the
  * span that caused it (0 for a root); spans of one request share `req`. */
final case class Span(id: Long, parent: Long, req: Long, name: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder; spans are summarised when the run ends. */
final class Tracer {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)

  def nextId(): Long = ids.incrementAndGet()

  /** Time `f` as span `name`; `f` receives the new span's id so that
    * nested calls can name it as their parent. */
  def span[A](name: String, req: Long, parent: Long = 0L)(f: Long => A): A = {
    val id = nextId()
    val t0 = System.nanoTime()
    try f(id)
    finally spans.add(Span(id, parent, req, name, t0, System.nanoTime()))
  }

  def all: Vector[Span] = spans.asScala.toVector

  def totalMs(name: String): Double = all.filter(_.name == name).map(_.ms).sum
}

/** Spark-side counters, summed over every job, stage and task the
  * engine runs while `Counters.enabled` is set. Registered once per
  * context (`attach`) and, for the Catalyst phase times, once per
  * session through `spark.sql.queryExecutionListeners`. */
object Counters {
  val enabled = new AtomicBoolean(false)

  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val inputBytes = new AtomicLong
  val inputRecords = new AtomicLong
  val shuffleReadBytes = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val gcMs = new AtomicLong
  val queries = new AtomicLong
  val analysisNs = new AtomicLong
  val optimizationNs = new AtomicLong
  val planningNs = new AtomicLong
  val executionNs = new AtomicLong

  private val all = Seq(jobs, stages, tasks, inputBytes, inputRecords,
    shuffleReadBytes, shuffleWriteBytes, spillBytes, gcMs, queries,
    analysisNs, optimizationNs, planningNs, executionNs)

  def reset(): Unit = all.foreach(_.set(0))

  /** Snapshot of every counter, for before/after deltas. */
  def snapshot(): Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
    "input_bytes" -> inputBytes.get, "input_records" -> inputRecords.get,
    "shuffle_read_bytes" -> shuffleReadBytes.get,
    "shuffle_write_bytes" -> shuffleWriteBytes.get,
    "spill_bytes" -> spillBytes.get, "gc_ms" -> gcMs.get,
    "queries" -> queries.get, "analysis_ns" -> analysisNs.get,
    "optimization_ns" -> optimizationNs.get, "planning_ns" -> planningNs.get,
    "execution_ns" -> executionNs.get)

  final class Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (enabled.get) jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (enabled.get) stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (enabled.get && e.taskMetrics != null) {
        val m = e.taskMetrics
        tasks.incrementAndGet()
        inputBytes.addAndGet(m.inputMetrics.bytesRead)
        inputRecords.addAndGet(m.inputMetrics.recordsRead)
        shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        gcMs.addAndGet(m.jvmGCTime)
      }
  }

  /** Catalyst phase times per executed query (analysis, optimization,
    * planning from the tracker; execution from the listener callback). */
  final class Phases extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (enabled.get) {
        queries.incrementAndGet()
        val ph = qe.tracker.phases
        def add(phase: String, c: AtomicLong): Unit =
          ph.get(phase).foreach(s => c.addAndGet(s.durationMs * 1000000L))
        add("analysis", analysisNs)
        add("optimization", optimizationNs)
        add("planning", planningNs)
        executionNs.addAndGet(durationNs)
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def attach(sc: org.apache.spark.SparkContext): Unit = sc.addSparkListener(new Listener)

  /** Wait until every posted listener event has been handled. */
  def drain(sc: org.apache.spark.SparkContext): Unit =
    org.apache.spark.PerfbenchBus.drain(sc)
}
