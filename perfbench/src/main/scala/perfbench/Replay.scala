package perfbench

import graft.catalog.GraftCatalog
import graft.ingest.{ColumnarBatch, DirectParquetWriter, LineProtocol, MsgPack}
import graft.query.{ArrowEncoder, MsgPackEncoder, QueryFacade}
import org.apache.spark.sql.SparkSession

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import scala.jdk.CollectionConverters._

/** Replays of the payloads and SQL a traced window sent over HTTP,
  * through each module's public functions, with a span around every
  * call. The module time a request costs is then known without
  * instrumenting the program. */
object Replay {

  /** Mean module ms per LP and per msgpack batch (parse or decode,
    * pivot, Parquet write), written into a scratch catalog root. */
  final case class Writes(lpMs: Double, msgpackMs: Double)

  def writes(spark: SparkSession, t: Tracer, root: String,
      lp: Seq[Array[Byte]], mp: Seq[Array[Byte]], r: Main.Result): Writes = {
    val catalog = new GraftCatalog(spark, root)
    def write(batches: Seq[ColumnarBatch], req: Long, parent: Long): Unit =
      t.span("ingest.parquet_write", req, parent) { _ =>
        batches.foreach(b => DirectParquetWriter.write(catalog, "default", b))
      }
    val lpMs = lp.map { body =>
      val req = t.nextId()
      val t0 = System.nanoTime()
      t.span("replay.write", req) { id =>
        val (points, _) = t.span("ingest.lp_parse", req, id)(_ =>
          LineProtocol.parse(new String(body, UTF_8), "us"))
        write(t.span("ingest.pivot", req, id)(_ => ColumnarBatch.fromPoints(points)), req, id)
      }
      (System.nanoTime() - t0) / 1e6
    }
    val mpMs = mp.map { body =>
      val req = t.nextId()
      val t0 = System.nanoTime()
      t.span("replay.write", req) { id =>
        write(t.span("ingest.msgpack_decode", req, id)(_ => MsgPack.decodePayload(body)), req, id)
      }
      (System.nanoTime() - t0) / 1e6
    }
    val n = (lp.size + mp.size).max(1)
    r.layer("ingest.lp_parse_ms") = t.totalMs("ingest.lp_parse") / lp.size.max(1)
    r.layer("ingest.pivot_ms") = t.totalMs("ingest.pivot") / lp.size.max(1)
    r.layer("ingest.msgpack_decode_ms") = t.totalMs("ingest.msgpack_decode") / mp.size.max(1)
    r.layer("ingest.parquet_write_ms") = t.totalMs("ingest.parquet_write") / n
    val files = Serve.parquetFiles(new File(s"$root/default/cpu"))
    r.layer("ingest.files_written") = files.size.toDouble / n
    r.layer("ingest.bytes_written") = files.values.sum.toDouble / n
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    Writes(mean(lpMs), mean(mpMs))
  }

  /** Replay (sql, format, weight) requests against the served root in a
    * fresh session: view registration, planning and execution, then the
    * wire encoder over the collected rows. Returns the weighted mean
    * module ms per request; `registerEach` charges a view registration
    * to every request (when every request follows a write, the server
    * re-registers the view each time). */
  def queries(spark: SparkSession, t: Tracer, root: String,
      requests: Seq[(String, String, Int)], registerEach: Boolean, r: Main.Result): Double = {
    val session = spark.newSession()
    graft.GraftFunctions.registerAll(session)
    session.conf.set("spark.sql.files.ignoreMissingFiles", "true")
    val catalog = new GraftCatalog(session, root)
    val facade = new QueryFacade(session)
    val regMs = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      t.span("catalog.register", t.nextId())(_ => catalog.register("default", "cpu"))
      (System.nanoTime() - t0) / 1e6
    }
    val hours = catalog.listHourPartitions("default", "cpu").size
    r.layer("catalog.register_ms") = Stats.median(regMs)
    r.layer("catalog.hour_partitions") = hours

    Counters.drain(spark.sparkContext)
    val c0 = Counters.snapshot()
    var rowsOut = 0L
    var filesRead = 0L
    var partsRead = 0L
    val encodeMs = scala.collection.mutable.Map.empty[String, Seq[Double]]
    val ms = requests.map { case (sql, fmt, weight) =>
      val req = t.nextId()
      val t0 = System.nanoTime()
      t.span("replay.query", req) { id =>
        val df = t.span("query.plan", req, id)(_ => facade.sql(sql))
        Counters.enabled.set(true)
        val rows = t.span("query.execute", req, id)(_ => df.collect())
        Counters.drain(spark.sparkContext)
        Counters.enabled.set(false)
        rowsOut += rows.length
        val scans = ScanMetrics.of(df)
        filesRead += scans.map(_._1).sum
        partsRead += scans.map(_._2).sum
        val local = session.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
        val e0 = System.nanoTime()
        t.span(s"query.encode_$fmt", req, id) { _ =>
          fmt match {
            case "json" => facade.toJsonEnvelope(local).length.toLong
            case "arrow" => ArrowEncoder.encode(local).length.toLong
            case _ => MsgPackEncoder.encode(local).length.toLong
          }
        }
        encodeMs(fmt) = encodeMs.getOrElse(fmt, Nil) :+ (System.nanoTime() - e0) / 1e6
      }
      ((System.nanoTime() - t0) / 1e6 + (if (registerEach) Stats.median(regMs) else 0.0), weight)
    }
    val c1 = Counters.snapshot()
    def d(k: String): Double = (c1(k) - c0(k)).toDouble
    val n = requests.size.max(1)
    r.layer("query.analysis_ms") = d("analysis_ns") / 1e6 / n
    r.layer("query.optimization_ms") = d("optimization_ns") / 1e6 / n
    r.layer("query.planning_ms") = d("planning_ns") / 1e6 / n
    r.layer("query.execution_ms") = d("execution_ns") / 1e6 / n
    r.layer("query.jobs") = d("jobs") / n
    r.layer("query.tasks") = d("tasks") / n
    r.layer("query.files_read") = filesRead.toDouble / n
    r.layer("query.bytes_read") = d("input_bytes") / n
    r.layer("query.rows_scanned_per_row_returned") = d("input_records") / rowsOut.max(1)
    Serve.Formats.foreach { f =>
      val xs = encodeMs.getOrElse(f, Nil)
      r.layer(s"query.encode_${f}_ms") = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    r.layer("plans.partitions_total") = hours
    r.layer("plans.partitions_read") = partsRead.toDouble / n
    r.layer("plans.partitions_read_ratio") = partsRead.toDouble / (hours.toDouble * n).max(1)
    val w = ms.map(_._2).sum
    if (w == 0) 0.0 else ms.map { case (m, k) => m * k }.sum / w
  }
}

/** Files and partitions the executed plan's Parquet scans read. */
object ScanMetrics extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import org.apache.spark.sql.execution.FileSourceScanExec

  /** (files read, partitions read) per file scan of an executed query. */
  def of(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    collectWithSubqueries(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
      .map { s =>
        def m(k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
        (m("numFiles"), m("numPartitions"))
      }
}
