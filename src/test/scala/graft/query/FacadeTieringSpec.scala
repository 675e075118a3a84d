package graft.query

import graft.SparkSpec
import graft.catalog.GraftCatalog
import graft.ingest.{ColumnarBatch, HourPartitionedWriter, LineProtocol}
import graft.jobs.Tiering

class QueryFacadeSpec extends SparkSpec {

  private def facade = new QueryFacade(spark)

  test("JSON envelope matches the reference wire shape") {
    val f = facade
    val df = spark.sql("SELECT 1 AS a, 'x\"y' AS b, CAST(2.5 AS DOUBLE) AS c")
    val json = f.toJsonEnvelope(df)
    assert(json.startsWith("""{"columns":["a","b","c"],"data":[[1,"x\"y",2.5]],"row_count":1"""))
    assert(json.contains("\"execution_time_ms\":"))
    // must be valid JSON for any client
    assert(json.count(_ == '{') == json.count(_ == '}'))
  }

  private def stripTime(j: String) = j.replaceAll("\"execution_time_ms\":[0-9.]+", "")

  test("driver JSON envelope matches the streamed one") {
    val f = facade
    val df = spark.sql(
      "SELECT id AS k, CONCAT('v', id) AS s FROM range(50) ORDER BY k")
    val a = f.toJsonEnvelope(df)
    val b = new java.io.ByteArrayOutputStream()
    assert(f.writeJsonEnvelope(df, b) == 50)
    assert(stripTime(a) == stripTime(b.toString("UTF-8")))
    val capped = new java.io.ByteArrayOutputStream()
    assert(f.writeJsonEnvelope(df, capped, maxRows = 5) == 5)
    assert(capped.toString("UTF-8").contains("\"row_count\":5"))
  }

  test("row cap truncates the stream") {
    val f = facade
    val json = f.toJsonEnvelope(spark.range(100).toDF("id"), maxRows = 7)
    assert(json.contains("\"row_count\":7"))
  }

  test("streamed JSON envelope: wave-bounded, same bytes as the driver encode") {
    val f = facade
    StreamWaves.check(
      spark.sql("SELECT id AS k, CONCAT('v', id) AS s FROM range(2000)"), rows = 2000)(
      f.writeJsonEnvelope(_, _)) { (frame, streamed) =>
      assert(stripTime(new String(streamed, "UTF-8")) == stripTime(f.toJsonEnvelope(frame)))
    }
  }

  test("estimate wraps the query in COUNT(*), reference warning ladder") {
    val f = facade
    val (n, warn, msg) = f.estimate("SELECT * FROM range(1234)")
    assert(n == 1234 && warn == "none" && msg.contains("1234"))
    val (n2, warn2, _) = f.estimate("SELECT * FROM range(20000)")
    assert(n2 == 20000 && warn2 == "low")
    val (n3, warn3, _) = f.estimate("SELECT * FROM range(2000000)")
    assert(n3 == 2000000 && warn3 == "high")
  }

  test("SHOW DATABASES / SHOW TABLES intercepted as storage listings") {
    val cat = new graft.catalog.GraftCatalog(spark, tmpDir("show"))
    val (pts, _) = graft.ingest.LineProtocol.parse("m1,host=a v=1.0 1717200000000000", "us")
    graft.ingest.ColumnarBatch.fromPoints(pts)
      .foreach(graft.ingest.HourPartitionedWriter.ingest(cat, "default", _))
    val f = facade
    assert(f.sqlWithShow("SHOW DATABASES", cat)
      .collect().map(_.getString(0)).toSeq == Seq("default"))
    assert(f.sqlWithShow("show tables from default", cat)
      .collect().map(_.getString(0)).toSeq == Seq("m1"))
    assert(f.sqlWithShow("SELECT 41 + 1 AS v", cat).head().getInt(0) == 42)
  }

  test("decimal table config casts columns at write time") {
    val cat = new graft.catalog.GraftCatalog(spark, tmpDir("dec"))
    cat.writeMeta("default", "trades", graft.catalog.TableMeta(
      decimals = Map("price" -> (18, 8))))
    val (pts, _) = graft.ingest.LineProtocol.parse(
      "trades,sym=X price=123.456 1717200000000000", "us")
    graft.ingest.ColumnarBatch.fromPoints(pts)
      .foreach(graft.ingest.HourPartitionedWriter.ingest(cat, "default", _))
    val schema = cat.table("default", "trades").schema
    assert(schema("price").dataType.simpleString == "decimal(18,8)")
  }

  test("submit/cancel registry tracks job groups") {
    val f = facade
    val (id, _) = f.submit("SELECT 1")
    assert(f.activeQueries.contains(id))
    assert(f.cancel(id))
    assert(!f.cancel(id)) // already gone
  }

  test("slow-query ledger: threshold gates, ring records sql+ms+rows, count grows") {
    val f = facade
    // disabled (default 0): nothing records
    val (id0, df0) = f.submit("SELECT 1 AS a")
    df0.collect()
    f.complete(id0, rows = 1)
    assert(f.slowQueryCount == 0 && f.slowQueries.isEmpty)
    // default-off is reference parity (config.go:1467); the documented
    // enable path is the recommended constant from its example config
    assert(f.slowQueryThresholdMs == 0L)
    assert(QueryFacade.RecommendedSlowQueryThresholdMs == 1000L)
    // 1ns-equivalent threshold: any completed query is slow
    f.slowQueryThresholdMs = 1
    val (id1, df1) = f.submit("SELECT COUNT(*) AS n FROM range(1000000)")
    val n = df1.head.getLong(0)
    f.complete(id1, rows = 1)
    assert(n == 1000000L)
    assert(f.slowQueryCount == 1)
    val sq = f.slowQueries.last
    assert(sq.sql.contains("range(1000000)") && sq.ms >= 1 && sq.rows == 1)
    // a fast completion under a high threshold does not record
    f.slowQueryThresholdMs = 60000
    val (id2, _) = f.submit("SELECT 2")
    f.complete(id2)
    assert(f.slowQueryCount == 1)
    f.slowQueryThresholdMs = 0
  }
}

class MsgPackEncoderSpec extends SparkSpec {
  test("columnar envelope round-trips through the ingest decoder") {
    val df = spark.sql(
      "SELECT id AS k, CAST(id * 1.5 AS DOUBLE) AS v, CONCAT('s', id) AS s FROM range(5)")
    val bytes = MsgPackEncoder.encode(df)
    val decoded = graft.ingest.MsgPack.decode(bytes)
      .asInstanceOf[Map[String, Any]]
    assert(decoded("columns") == Vector("k", "v", "s"))
    assert(decoded("row_count") == 5L)
    val data = decoded("data").asInstanceOf[Map[String, Any]]
    assert(data("k") == Vector(0L, 1L, 2L, 3L, 4L))
    assert(data("v") == Vector(0.0, 1.5, 3.0, 4.5, 6.0))
    assert(data("s") == Vector("s0", "s1", "s2", "s3", "s4"))
  }

  test("row cap limits encoded rows") {
    val bytes = MsgPackEncoder.encode(spark.range(100).toDF("id"), maxRows = 3)
    val decoded = graft.ingest.MsgPack.decode(bytes).asInstanceOf[Map[String, Any]]
    assert(decoded("row_count") == 3L)
  }

  test("spool-streamed encode is byte-identical to the driver-side encode") {
    val df = spark.sql(
      """SELECT id AS k, CAST(id * 1.5 AS DOUBLE) AS v, CONCAT('s', id) AS s,
        |  CASE WHEN id % 3 = 0 THEN NULL ELSE id END AS n
        |FROM range(1000)""".stripMargin)
    StreamWaves.check(df, rows = 1000)(MsgPackEncoder.writeStream(_, _)) {
      (frame, streamed) =>
        assert(java.util.Arrays.equals(MsgPackEncoder.encode(frame), streamed))
    }
  }

  test("spool-streamed encode honors the row cap and cleans its spool") {
    val before = listSpools()
    val out = new java.io.ByteArrayOutputStream()
    MsgPackEncoder.writeStream(spark.range(100).toDF("id"), out, maxRows = 9)
    val decoded = graft.ingest.MsgPack.decode(out.toByteArray)
      .asInstanceOf[Map[String, Any]]
    assert(decoded("row_count") == 9L)
    assert(listSpools() == before, "spool dir leaked")
  }

  private def listSpools(): Set[String] = {
    import scala.jdk.CollectionConverters._
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val s = java.nio.file.Files.list(tmp)
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("graft_msgpack_spool")).toSet
    finally s.close()
  }
}

class ArrowEncoderSpec extends SparkSpec {
  import org.apache.arrow.memory.RootAllocator
  import org.apache.arrow.vector.ipc.ArrowStreamReader
  import scala.jdk.CollectionConverters._

  /** Decodes an IPC stream; `onBatch` sees each loaded batch's root. */
  private def readBatches(bytes: Array[Byte])(
      onBatch: org.apache.arrow.vector.VectorSchemaRoot => Unit): Unit = {
    val alloc = new RootAllocator(Long.MaxValue)
    val reader = new ArrowStreamReader(new java.io.ByteArrayInputStream(bytes), alloc)
    try {
      val root = reader.getVectorSchemaRoot
      while (reader.loadNextBatch()) onBatch(root)
    } finally { reader.close(); alloc.close() }
  }

  private def decodedRows(bytes: Array[Byte]): Seq[Seq[AnyRef]] = {
    val rows = Seq.newBuilder[Seq[AnyRef]]
    readBatches(bytes) { root =>
      val vs = root.getFieldVectors.asScala.toSeq
      for (i <- 0 until root.getRowCount) rows += vs.map(_.getObject(i))
    }
    rows.result()
  }

  test("arrow IPC stream round-trips rows and types") {
    import org.apache.arrow.vector.types.TimeUnit
    import org.apache.arrow.vector.types.pojo.ArrowType
    val df = spark.sql(
      """SELECT id AS k, CAST(id * 0.5 AS DOUBLE) AS v, CONCAT('n', id) AS s,
        |  id % 2 = 0 AS flag, TIMESTAMP '2024-06-01 00:00:00' + make_interval(0,0,0,0,0,0,id) AS t,
        |  IF(id = 3, NULL,
        |    TIMESTAMP_NTZ '2024-06-01 00:00:00' + make_interval(0,0,0,0,0,0,id)) AS tn
        |FROM range(5000)""".stripMargin)
    var rows = 0L
    var sumK = 0L
    var batches = 0
    readBatches(ArrowEncoder.encode(df)) { root =>
      assert(root.getSchema.getFields.size() == 6)
      // TIMESTAMP_NTZ is a zone-less µs timestamp, like JSON's ISO render
      // and msgpack's epoch-µs int64 — not a digit string
      assert(root.getSchema.findField("tn").getType ==
        new ArrowType.Timestamp(TimeUnit.MICROSECOND, null))
      val kVec = root.getVector("k").asInstanceOf[org.apache.arrow.vector.BigIntVector]
      val tnVec = root.getVector("tn").asInstanceOf[org.apache.arrow.vector.TimeStampMicroVector]
      for (i <- 0 until root.getRowCount) {
        val k = kVec.get(i)
        sumK += k
        if (k == 3) assert(tnVec.isNull(i))
        else assert(tnVec.get(i) == 1717200000000000L + k * 1000000L)
      }
      rows += root.getRowCount
      batches += 1
    }
    // 5000 rows span two 4096-row record batches
    assert(rows == 5000 && sumK == 12497500L && batches == 2)
  }

  test("streamed arrow write: same rows as the driver encode, wave-bounded") {
    StreamWaves.check(spark.range(1000).toDF("id"), rows = 1000)(
      ArrowEncoder.writeStream(_, _)) { (frame, streamed) =>
      // record batches end at partition boundaries, so compare rows
      val driver = decodedRows(ArrowEncoder.encode(frame))
      assert(driver.length == 1000)
      assert(decodedRows(streamed) == driver)
    }
  }

  test("row cap limits arrow rows") {
    val df = spark.range(100).toDF("id")
    val streamed = new java.io.ByteArrayOutputStream()
    assert(ArrowEncoder.writeStream(df, streamed, maxRows = 5) == 5)
    for (bytes <- Seq(ArrowEncoder.encode(df, maxRows = 5), streamed.toByteArray))
      assert(decodedRows(bytes).length == 5)
  }
}

/** The wave check shared by the three streamed writers: `df` spread over
  * 2 × defaultParallelism + 1 persisted partitions must stream in three
  * jobs, one per wave of defaultParallelism partitions, so the driver
  * never holds more than one wave of chunks. `compare` gets the
  * persisted frame and the streamed bytes. */
object StreamWaves extends org.scalatest.Assertions {
  def check(df: org.apache.spark.sql.DataFrame, rows: Long)(
      write: (org.apache.spark.sql.DataFrame, java.io.OutputStream) => Long)(
      compare: (org.apache.spark.sql.DataFrame, Array[Byte]) => Unit): Unit = {
    val sc = df.sparkSession.sparkContext
    val frame = df.repartition(2 * sc.defaultParallelism + 1).persist()
    try {
      frame.count()
      org.apache.spark.TestListenerBus.drain(sc)
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      sc.addSparkListener(listener)
      val out = new java.io.ByteArrayOutputStream()
      val written =
        try write(frame, out)
        finally {
          org.apache.spark.TestListenerBus.drain(sc)
          sc.removeSparkListener(listener)
        }
      assert(written == rows)
      assert(jobs.get() == 3, s"expected 3 wave jobs, saw ${jobs.get()}")
      compare(frame, out.toByteArray)
    } finally frame.unpersist()
  }
}

class TieringSpec extends SparkSpec {

  private val H = 3600L * 1000000L
  private val base = 1717200000000000L

  test("old partitions migrate to cold root; union read sees both tiers") {
    val cat = new GraftCatalog(spark, tmpDir("hot"))
    val cold = tmpDir("cold")
    val now = base + 10L * 24 * H
    val lp = s"""m,host=a v=1.0 $base
                |m,host=b v=2.0 ${now - H}""".stripMargin
    val (pts, _) = LineProtocol.parse(lp, "us")
    ColumnarBatch.fromPoints(pts).foreach(HourPartitionedWriter.ingest(cat, "default", _))

    val res = Tiering.migrate(cat, cold, "default", "m", afterDays = 7,
      nowMicros = () => now)
    assert(res.migrated.length == 1 && res.kept == 1)
    // hot tier lost the old partition, cold gained it
    assert(cat.listHourPartitions("default", "m").length == 1)
    val both = Tiering.table(cat, cold, "default", "m")
    assert(both.count() == 2)
    assert(both.select("v").collect().map(_.getDouble(0)).sorted.toSeq == Seq(1.0, 2.0))
  }
}
