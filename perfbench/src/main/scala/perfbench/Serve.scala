package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.server.HttpServer
import org.apache.spark.sql.SparkSession

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import scala.jdk.CollectionConverters._

/** A decoded query result: column names and rows (doubles, longs and
  * strings; timestamps as epoch µs). */
final case class Table(columns: IndexedSeq[String], rows: IndexedSeq[IndexedSeq[Any]]) {
  def col(name: String): IndexedSeq[Any] = {
    val i = columns.indexOf(name)
    require(i >= 0, s"no column $name in ${columns.mkString(",")}")
    rows.map(_(i))
  }
  def doubles(name: String): IndexedSeq[Double] = col(name).map {
    case n: java.lang.Number => n.doubleValue
    case other => String.valueOf(other).toDouble
  }
  def longs(name: String): IndexedSeq[Long] = col(name).map {
    case n: java.lang.Number => n.longValue
    case other => String.valueOf(other).toLong
  }
}

/** The engine's HTTP surface as the benchmark drives it. */
object Serve {
  private val mapper = new ObjectMapper()

  val Formats: IndexedSeq[String] = IndexedSeq("json", "arrow", "msgpack")

  private val Accept = Map(
    "json" -> "application/json",
    "arrow" -> "application/vnd.apache.arrow.stream",
    "msgpack" -> "application/x-msgpack")

  def start(spark: SparkSession, root: String): HttpServer = {
    val s = new HttpServer(spark, root)
    s.start()
    s
  }

  def write(c: Conn, lp: Boolean, body: Array[Byte]): Resp =
    if (lp) c.post("/write?db=default&precision=us", body)
    else c.post("/api/v1/write/msgpack", body, Seq("Content-Type" -> "application/msgpack"))

  def query(c: Conn, sql: String, format: String): Resp =
    c.post("/api/v1/query", mapper.writeValueAsBytes(Map("sql" -> sql).asJava),
      Seq("Content-Type" -> "application/json", "Accept" -> Accept(format)))

  def json(r: Resp): JsonNode = mapper.readTree(r.body)

  /** Decode a query response body in any of the three wire formats. */
  def decode(format: String, body: Array[Byte]): Table = format match {
    case "json" =>
      val n = mapper.readTree(body)
      val cols = n.get("columns").elements().asScala.map(_.asText).toIndexedSeq
      val rows = n.get("data").elements().asScala.map { r =>
        r.elements().asScala.map { v =>
          if (v.isIntegralNumber) v.asLong: Any
          else if (v.isNumber) v.asDouble: Any
          else if (v.isNull) null
          else v.asText: Any
        }.toIndexedSeq
      }.toIndexedSeq
      Table(cols, rows)
    case "arrow" =>
      import org.apache.arrow.memory.RootAllocator
      import org.apache.arrow.vector.ipc.ArrowStreamReader
      val alloc = new RootAllocator()
      try {
        val reader = new ArrowStreamReader(new java.io.ByteArrayInputStream(body), alloc)
        try {
          val root = reader.getVectorSchemaRoot
          val cols = root.getSchema.getFields.asScala.map(_.getName).toIndexedSeq
          val rows = IndexedSeq.newBuilder[IndexedSeq[Any]]
          while (reader.loadNextBatch()) {
            val vs = root.getFieldVectors.asScala.toIndexedSeq
            (0 until root.getRowCount).foreach { i =>
              rows += vs.map { v =>
                v.getObject(i) match {
                  case t: org.apache.arrow.vector.util.Text => t.toString
                  case d: java.time.LocalDateTime =>
                    d.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + d.getNano / 1000
                  case other => other
                }
              }
            }
          }
          Table(cols, rows.result())
        } finally reader.close()
      } finally alloc.close()
    case "msgpack" =>
      val m = graft.ingest.MsgPack.decode(body).asInstanceOf[Map[String, Any]]
      val cols = m("columns").asInstanceOf[Seq[Any]].map(String.valueOf).toIndexedSeq
      val data = m("data").asInstanceOf[Map[String, Any]]
      val colData = cols.map(c => data(c).asInstanceOf[Seq[Any]].toIndexedSeq)
      val n = colData.headOption.map(_.length).getOrElse(0)
      Table(cols, (0 until n).map(i => colData.map(_(i))))
  }

  /** Server-side endpoint stats: key -> (requests, errors, latency sum ms). */
  def endpoints(c: Conn): Map[String, (Long, Long, Double)] = {
    val n = json(c.get("/api/v1/metrics/endpoints"))
    n.get("endpoints").elements().asScala.map { e =>
      val req = e.get("requests_total").asLong
      e.get("endpoint").asText ->
        (req, e.get("errors_total").asLong, e.get("latency_avg_ms").asDouble * req)
    }.toMap
  }

  def queryPool(c: Conn): JsonNode = json(c.get("/api/v1/metrics/query-pool")).get("pool")

  /** Every Parquet file under a table directory: path -> bytes. */
  def parquetFiles(dir: File): Map[String, Long] =
    if (!dir.exists) Map.empty
    else {
      val out = Map.newBuilder[String, Long]
      def walk(f: File): Unit =
        if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(walk)
        else if (f.getName.endsWith(".parquet") && !f.getPath.contains("/_"))
          out += f.getPath -> f.length
      walk(dir)
      out.result()
    }

  /** Outcome of one `POST /api/v1/compaction/trigger`. */
  final case class Compacted(ms: Double, ok: Boolean, filesIn: Long, filesOut: Long,
      bytesRewritten: Long)

  /** Trigger hourly compaction of default/cpu and account its work from
    * the response and from the files it removed. */
  def compact(c: Conn, tableDir: File): Compacted = {
    val before = parquetFiles(tableDir)
    val r = c.post("/api/v1/compaction/trigger",
      """{"tier":"hourly","database":"default","measurement":"cpu"}""".getBytes(UTF_8),
      Seq("Content-Type" -> "application/json"))
    if (!r.ok) return Compacted(r.ms, ok = false, 0, 0, 0)
    val after = parquetFiles(tableDir)
    val done = json(r).get("compacted").elements().asScala.toSeq
    Compacted(r.ms, ok = true,
      filesIn = done.map(_.get("files_in").asLong).sum,
      filesOut = done.size.toLong,
      bytesRewritten = before.collect { case (p, b) if !after.contains(p) => b }.sum)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
