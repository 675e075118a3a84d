package graft.server

import graft.SparkSpec
import graft.ingest.MsgPack
import graft.query.MsgPackEncoder

import java.io.ByteArrayOutputStream
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.TimeUnit

/** End-to-end socket tests for the HTTP serving binding: a real server
  * on an ephemeral port, writes via MessagePack + Line Protocol, queries
  * via all three wire formats, envelope parity, row caps, cancellation.
  */
class HttpServerSpec extends SparkSpec {

  private lazy val root = tmpDir("graft_http")
  private lazy val server = new HttpServer(spark, root)
  private lazy val base: String = s"http://127.0.0.1:${server.start()}"
  private val client = HttpClient.newHttpClient()
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def post(path: String, body: Array[Byte],
      headers: Map[String, String] = Map.empty): HttpResponse[Array[Byte]] = {
    var b = HttpRequest.newBuilder(URI.create(base + path))
      .POST(HttpRequest.BodyPublishers.ofByteArray(body))
    headers.foreach { case (k, v) => b = b.header(k, v) }
    client.send(b.build(), HttpResponse.BodyHandlers.ofByteArray())
  }

  private def get(path: String): HttpResponse[Array[Byte]] =
    client.send(HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
      HttpResponse.BodyHandlers.ofByteArray())

  private def sqlBody(sql: String): Array[Byte] =
    mapper.writeValueAsBytes(
      java.util.Collections.singletonMap("sql", sql))

  private def json(r: HttpResponse[Array[Byte]]) = mapper.readTree(r.body())

  /** Columnar msgpack write payload {"m":…, "columns":{…}, "tags":[…]}. */
  private def cpuPayload(n: Int, m: String = "cpu"): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val p = new MsgPackEncoder.Packer(out)
    p.packMapHeader(3)
    p.packString("m"); p.packString(m)
    p.packString("columns"); p.packMapHeader(3)
    p.packString("time"); p.packArrayHeader(n)
    (0 until n).foreach(i => p.packLong(1700000000000000L + i * 1000000L))
    p.packString("host"); p.packArrayHeader(n)
    (0 until n).foreach(i => p.packString(s"h${i % 2}"))
    p.packString("usage"); p.packArrayHeader(n)
    (0 until n).foreach(i => p.packDouble(i * 0.5))
    p.packString("tags"); p.packArrayHeader(1); p.packString("host")
    out.toByteArray
  }

  test("msgpack write returns 204 and the data queries back (JSON envelope)") {
    assert(post("/api/v1/write/msgpack", cpuPayload(8, "cpuj")).statusCode() == 204)
    val r = post("/api/v1/query",
      sqlBody("SELECT host, count(*) AS n, sum(usage) AS total FROM cpuj GROUP BY host ORDER BY host"))
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("X-Graft-Query-Id").isPresent)
    val env = json(r)
    assert(env.get("success").asBoolean())
    assert(env.get("timestamp").asText().nonEmpty)
    assert(env.get("row_count").asInt() == 2)
    assert(env.get("execution_time_ms").asDouble() >= 0)
    assert(env.get("columns").toString == """["host","n","total"]""")
    val data = env.get("data")
    assert(data.get(0).get(0).asText() == "h0" && data.get(0).get(1).asInt() == 4)
    assert(data.get(1).get(0).asText() == "h1" && data.get(1).get(1).asInt() == 4)
    assert(math.abs(data.get(0).get(2).asDouble() - (0 + 1 + 2 + 3)) < 1e-9)
  }

  test("msgpack wire format returns the columnar envelope") {
    post("/api/v1/write/msgpack", cpuPayload(8))
    val r = post("/api/v1/query/msgpack",
      sqlBody("SELECT host, usage FROM cpu ORDER BY time, host LIMIT 3"))
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("Content-Type").get == "application/x-msgpack")
    val env = MsgPack.decode(r.body()).asInstanceOf[Map[String, Any]]
    assert(env("columns") == Vector("host", "usage"))
    assert(env("row_count") == 3L)
    val data = env("data").asInstanceOf[Map[String, Any]]
    assert(data("host").asInstanceOf[Vector[Any]].length == 3)
    assert(data("usage").asInstanceOf[Vector[Any]].head == 0.0)
  }

  test("arrow wire format returns a readable IPC stream") {
    post("/api/v1/write/msgpack", cpuPayload(8, "cpua"))
    val r = post("/api/v1/query",
      sqlBody("SELECT host, usage FROM cpua ORDER BY time, host"),
      Map("Accept" -> "application/vnd.apache.arrow.stream"))
    assert(r.statusCode() == 200)
    assert(r.headers().firstValue("Content-Type").get ==
      "application/vnd.apache.arrow.stream")
    val alloc = new org.apache.arrow.memory.RootAllocator(Long.MaxValue)
    val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
      new java.io.ByteArrayInputStream(r.body()), alloc)
    var rows = 0
    try {
      val root = reader.getVectorSchemaRoot
      assert(root.getSchema.getFields.get(0).getName == "host")
      while (reader.loadNextBatch()) rows += root.getRowCount
    } finally { reader.close(); alloc.close() }
    assert(rows == 8)
  }

  test("line protocol write (v1 + gzip) lands and queries back") {
    val lp = (0 until 6).map(i =>
      s"mem,host=h${i % 3} used=${i}i ${1700000000000000000L + i * 1000000000L}")
      .mkString("\n")
    assert(post("/write?db=default&precision=ns", lp.getBytes(UTF_8))
      .statusCode() == 204)
    // gzip body, sniffed by magic bytes
    val gz = new ByteArrayOutputStream()
    val z = new java.util.zip.GZIPOutputStream(gz)
    z.write(lp.replace("mem,", "memgz,").getBytes(UTF_8)); z.close()
    assert(post("/write", gz.toByteArray).statusCode() == 204)
    val r = json(post("/api/v1/query",
      sqlBody("SELECT count(*) AS n, sum(used) AS s FROM memgz")))
    assert(r.get("data").get(0).get(0).asLong() == 6)
    assert(r.get("data").get(0).get(1).asLong() == 15)
  }

  test("estimate returns the reference warning ladder") {
    post("/api/v1/write/msgpack", cpuPayload(8, "cpue"))
    val r = json(post("/api/v1/query/estimate", sqlBody("SELECT * FROM cpue")))
    assert(r.get("success").asBoolean())
    assert(r.get("estimated_rows").asLong() == 8)
    assert(r.get("warning_level").asText() == "none")
    // EXECUTION failure is HTTP 200 with success:false (the reference's
    // c.JSON default, query.go:3701); shape errors stay 400
    val bad = post("/api/v1/query/estimate", sqlBody("SELECT * FROM nope_missing"))
    assert(bad.statusCode() == 200)
    val badJ = json(bad)
    assert(!badJ.get("success").asBoolean())
    assert(badJ.get("warning_level").asText() == "error")
    assert(post("/api/v1/query/estimate", "{}".getBytes(UTF_8)).statusCode() == 400)
  }

  test("row cap truncates the JSON envelope") {
    post("/api/v1/write/msgpack", cpuPayload(8))
    server.maxRows = 3
    try {
      val r = json(post("/api/v1/query", sqlBody("SELECT * FROM cpu")))
      assert(r.get("row_count").asInt() == 3)
      assert(r.get("data").size() == 3)
    } finally server.maxRows = Long.MaxValue
  }

  test("SHOW DATABASES / SHOW TABLES intercept through the query endpoint") {
    post("/api/v1/write/msgpack", cpuPayload(2))
    val dbs = json(post("/api/v1/query", sqlBody("SHOW DATABASES")))
    assert(dbs.get("columns").get(0).asText() == "database_name")
    val names = (0 until dbs.get("data").size())
      .map(i => dbs.get("data").get(i).get(0).asText())
    assert(names.contains("default"))
    val tbl = json(post("/api/v1/query", sqlBody("SHOW TABLES FROM default")))
    val tables = (0 until tbl.get("data").size())
      .map(i => tbl.get("data").get(i).get(0).asText())
    assert(tables.contains("cpu"))
  }

  test("bad SQL yields a 400 error envelope; missing field 400s") {
    val r = post("/api/v1/query", sqlBody("SELECT FROM WHERE"))
    assert(r.statusCode() == 400)
    val env = json(r)
    assert(!env.get("success").asBoolean())
    assert(env.get("error").asText().nonEmpty)
    assert(post("/api/v1/query", """{"nope":1}""".getBytes(UTF_8))
      .statusCode() == 400)
    // planning failure must unwind the registry: no phantom entry left
    // behind to mis-route a later cancel
    assert(json(get("/api/v1/queries")).get("queries").size() == 0)
    // traversal-shaped database names rejected on the read paths
    assert(post("/api/v1/query", sqlBody("SELECT 1"),
      Map("x-arc-database" -> "../..")).statusCode() == 400)
    assert(get("/api/v1/measurements?database=..%2F..").statusCode() == 400)
  }

  test("measurements, databases lifecycle, health, ready") {
    post("/api/v1/write/msgpack", cpuPayload(2))
    val ms = json(get("/api/v1/measurements?database=default"))
    assert(ms.get("success").asBoolean())
    val found = (0 until ms.get("measurements").size()).map(i =>
      ms.get("measurements").get(i))
    assert(found.exists(m => m.get("measurement").asText() == "cpu" &&
      m.get("file_count").asInt() > 0 && m.get("total_size_mb").asDouble() > 0))
    assert(post("/api/v1/databases",
      """{"name":"httpdb"}""".getBytes(UTF_8)).statusCode() == 201)
    val ls = json(get("/api/v1/databases"))
    val names = (0 until ls.get("databases").size())
      .map(i => ls.get("databases").get(i).get("name").asText())
    assert(names.contains("httpdb"))
    val del = client.send(HttpRequest.newBuilder(
      URI.create(base + "/api/v1/databases/httpdb")).DELETE().build(),
      HttpResponse.BodyHandlers.ofByteArray())
    assert(del.statusCode() == 200)
    assert(json(get("/health")).get("status").asText() == "ok")
    assert(json(get("/ready")).get("ready").asBoolean())
  }

  test("writes invalidate the cached view (new files visible to next query)") {
    post("/api/v1/write/msgpack", cpuPayload(4, "cpuv"))
    val n1 = json(post("/api/v1/query", sqlBody("SELECT count(*) AS n FROM cpuv")))
      .get("data").get(0).get(0).asLong()
    post("/api/v1/write/msgpack", cpuPayload(4, "cpuv")) // same timestamps, new files
    val n2 = json(post("/api/v1/query", sqlBody("SELECT count(*) AS n FROM cpuv")))
      .get("data").get(0).get(0).asLong()
    assert(n2 > n1, s"expected the second write to be visible: $n1 -> $n2")
  }

  test("cancellation kills a running query well before it would finish") {
    post("/api/v1/write/msgpack", cpuPayload(2))
    val t0 = System.nanoTime()
    // counting 400G generated rows over 4 partitions runs minutes
    // uncancelled (reflect-based sleeps are blocked by the read-only
    // gate now; range's codegen loop polls the task kill flag per batch)
    val fut = client.sendAsync(
      HttpRequest.newBuilder(URI.create(base + "/api/v1/query"))
        .POST(HttpRequest.BodyPublishers.ofByteArray(sqlBody(
          "SELECT count(*) AS z FROM range(0, 400000000000, 1, 4)")))
        .build(),
      HttpResponse.BodyHandlers.ofString())
    // wait until the registry lists it, then cancel
    var id: Option[String] = None
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (id.isEmpty && System.nanoTime() < deadline) {
      val act = json(get("/api/v1/queries"))
      if (act.get("queries").size() > 0)
        id = Some(act.get("queries").get(0).get("query_id").asText())
      else Thread.sleep(50)
    }
    assert(id.nonEmpty, "query never appeared in the active registry")
    val cancel = post(s"/api/v1/query/${id.get}/cancel", Array.emptyByteArray)
    assert(cancel.statusCode() == 200)
    // the stream must terminate promptly — truncated body or error, never
    // a complete success envelope, and far sooner than the 25 s runtime
    val outcome = scala.util.Try(fut.get(15, TimeUnit.SECONDS))
    val elapsed = (System.nanoTime() - t0) / 1e9
    assert(elapsed < 20, s"cancel did not interrupt the stream: $elapsed s")
    outcome.foreach { resp =>
      assert(!resp.body().contains("\"row_count\":1"),
        "cancelled query must not deliver the full result")
    }
    // the cancelled handler must end and give back its overload-gate
    // slot; a cancel that lands before the count's job starts must still
    // stop it, or the slot stays held for minutes into later tests
    val drainBy = System.nanoTime() + 10L * 1000000000L
    while (server.overloadGate.inFlight > 0 && System.nanoTime() < drainBy)
      Thread.sleep(20)
    assert(server.overloadGate.inFlight == 0,
      s"${server.overloadGate.inFlight} query handler(s) still hold a gate slot after cancel")
  }

  test("TLE write lands typed orbital elements; GET measurement query reads back") {
    val tle =
      """ISS (ZARYA)
        |1 25544U 98067A   24001.50000000  .00016717  00000-0  10270-3 0  9005
        |2 25544  51.6400 208.9163 0006317  69.9862 290.2553 15.49815308 25000""".stripMargin
    val r = post("/api/v1/write/tle", tle.getBytes(UTF_8))
    assert(r.statusCode() == 204)
    val env = json(get("/api/v1/query/satellite_tle?limit=10&order_by=time"))
    assert(env.get("success").asBoolean())
    assert(env.get("row_count").asInt() == 1)
    val cols = (0 until env.get("columns").size())
      .map(i => env.get("columns").get(i).asText())
    assert(cols.contains("objectName") && cols.contains("periodMin") &&
      cols.contains("time"))
    val noradIdx = cols.indexOf("noradId")
    assert(env.get("data").get(0).get(noradIdx).asInt() == 25544)
  }

  test("CSV import via multipart lands rows; LP import filters by measurement") {
    val csv = "time,host,temp\n2024-03-01T00:00:00Z,a,1.5\n2024-03-01T01:00:00Z,b,2.5\n"
    val boundary = "graftspecboundary"
    val part = (s"--$boundary\r\n" +
      "Content-Disposition: form-data; name=\"file\"; filename=\"d.csv\"\r\n" +
      "Content-Type: text/csv\r\n\r\n" + csv + s"\r\n--$boundary--\r\n").getBytes(UTF_8)
    val r = post("/api/v1/import/csv?measurement=imported_csv", part,
      Map("Content-Type" -> s"multipart/form-data; boundary=$boundary"))
    assert(r.statusCode() == 200, new String(r.body(), UTF_8))
    assert(json(r).get("rows_imported").asLong() == 2)
    val env = json(post("/api/v1/query",
      sqlBody("SELECT count(*) AS n, sum(temp) AS s FROM imported_csv")))
    assert(env.get("data").get(0).get(0).asLong() == 2)
    assert(math.abs(env.get("data").get(0).get(1).asDouble() - 4.0) < 1e-9)
    // LP import (raw body, measurement filter)
    val lp = "impa v=1i 1700000000000000000\nimpb v=2i 1700000000000000000\n"
    val li = json(post("/api/v1/import/lp?measurement=impa", lp.getBytes(UTF_8)))
    assert(li.get("rows_imported").asLong() == 1)
    val n = json(post("/api/v1/query", sqlBody("SELECT count(*) AS n FROM impa")))
    assert(n.get("data").get(0).get(0).asLong() == 1)
  }

  test("GET measurement query validates limit/order_by/where") {
    post("/api/v1/write/msgpack", cpuPayload(4, "cpug"))
    val ok = json(get("/api/v1/query/cpug?limit=2&order_by=time%20DESC&where=usage%20%3E%3D%200"))
    assert(ok.get("row_count").asInt() == 2)
    assert(get("/api/v1/query/cpug?limit=-1").statusCode() == 400)
    assert(get("/api/v1/query/cpug?order_by=time;DROP").statusCode() == 400)
    assert(get("/api/v1/query/cpug?where=1%3D1;DELETE").statusCode() == 400)
  }

  test("malformed percent-encoding in params is a 400, not a silent fallback") {
    // a write with ?db=%zz must be rejected — the previous lenient
    // parse dropped the pair and acknowledged the rows into 'default'.
    // The JDK HttpClient validates URIs client-side, so drive a raw
    // socket (the malformed escape is exactly what a buggy or hostile
    // client would put on the wire).
    val body = "cpu_pctenc usage=1.5 1700000000000000000\n".getBytes(UTF_8)
    val port = base.substring(base.lastIndexOf(':') + 1).toInt
    val sock = new java.net.Socket("127.0.0.1", port)
    try {
      val out = sock.getOutputStream
      out.write(("POST /api/v1/write/line-protocol?db=%zz HTTP/1.1\r\n" +
        "Host: 127.0.0.1\r\nContent-Type: text/plain\r\n" +
        s"Content-Length: ${body.length}\r\nConnection: close\r\n\r\n")
        .getBytes(UTF_8))
      out.write(body)
      out.flush()
      val resp = new String(sock.getInputStream.readAllBytes(), UTF_8)
      assert(resp.startsWith("HTTP/1.1 400"), resp.linesIterator.next())
    } finally sock.close()
    // the rows must NOT have been acknowledged into 'default'
    val probe = post("/api/v1/query",
      sqlBody("SELECT count(*) AS n FROM cpu_pctenc"))
    assert(probe.statusCode() == 400) // table never created
  }

  test("GET measurement query: offset pages, full where denylist, identifier caps") {
    post("/api/v1/write/msgpack", cpuPayload(6, "cpuo"))
    val all = json(get("/api/v1/query/cpuo?limit=10&order_by=time%20ASC"))
    assert(all.get("row_count").asInt() == 6)
    val page = json(get("/api/v1/query/cpuo?limit=2&offset=2&order_by=time%20ASC"))
    assert(page.get("row_count").asInt() == 2)
    assert(page.get("data").get(0).toString == all.get("data").get(2).toString,
      "offset must skip exactly `offset` rows of the same ordering")
    assert(get("/api/v1/query/cpuo?offset=-5").statusCode() == 400)
    assert(get("/api/v1/query/cpuo?offset=abc").statusCode() == 400)
    // reference validateWhereClauseQuery denylist (query.go:753)
    assert(get("/api/v1/query/cpuo?where=1%3D1%20UNION%20SELECT%201").statusCode() == 400)
    assert(get("/api/v1/query/cpuo?where=usage%3D1%20/*x*/").statusCode() == 400)
    assert(get("/api/v1/query/cpuo?where=host%3D%27x").statusCode() == 400) // odd quotes
    assert(get("/api/v1/query/cpuo?where=(usage%3E0").statusCode() == 400) // unbalanced parens
    // identifier/order_by caps (reference validateIdentifier max 128)
    assert(get("/api/v1/query/" + "m" * 129 + "?limit=1").statusCode() == 400)
    assert(get("/api/v1/query/cpuo?order_by=1col").statusCode() == 400)
  }

  test("correlated subquery in the same database passes denylist + RBAC (documented residual)") {
    // THREAT-MODEL PIN (r11 watch item #5, HttpServer simple-read): a
    // where clause that is valid single-statement SQL and references a
    // SECOND measurement the token can already read is NOT blocked —
    // the denylist stops statement injection (`;`, comments, UNION,
    // DML), and the parsed-plan RBAC re-check only fails relations the
    // token can't read. The cross-table read here exceeds no privilege;
    // it is a semantic surprise only, and this pin makes any future
    // tightening a deliberate contract change.
    post("/api/v1/write/msgpack", cpuPayload(4, "subq_a"))
    post("/api/v1/write/msgpack", cpuPayload(4, "subq_b"))
    val where = java.net.URLEncoder.encode(
      "usage >= (SELECT min(usage) FROM subq_b)", "UTF-8")
    val r = json(get(s"/api/v1/query/subq_a?limit=10&where=$where"))
    assert(r.get("success").asBoolean(), r.toString)
    assert(r.get("row_count").asInt() == 4, r.toString)
  }

  test("query history records completed and failed queries, newest first, limit capped") {
    post("/api/v1/write/msgpack", cpuPayload(2, "cpuhist"))
    assert(post("/api/v1/query",
      sqlBody("SELECT count(*) AS n FROM cpuhist")).statusCode() == 200)
    assert(post("/api/v1/query",
      sqlBody("SELECT nope_col FROM cpuhist")).statusCode() == 400)
    val h = json(get("/api/v1/queries/history"))
    assert(h.get("success").asBoolean())
    val qs = h.get("queries")
    assert(h.get("count").asInt() == qs.size() && qs.size() >= 2)
    // newest first: the failed query came last
    val newest = qs.get(0)
    assert(newest.get("status").asText() == "failed")
    assert(newest.get("sql").asText().contains("nope_col"))
    assert(newest.get("error").asText().nonEmpty)
    val completed = (0 until qs.size()).map(qs.get)
      .find(_.get("sql").asText().contains("count(*) AS n FROM cpuhist"))
    assert(completed.exists(_.get("status").asText() == "completed"))
    assert(completed.exists(_.get("row_count").asLong() == 1L))
    assert(completed.exists(_.get("duration_ms").asDouble() >= 0))
    val lim = json(get("/api/v1/queries/history?limit=1"))
    assert(lim.get("queries").size() == 1 && lim.get("count").asInt() == 1)
    // non-numeric limit falls back to the default instead of failing
    assert(get("/api/v1/queries/history?limit=abc").statusCode() == 200)
  }

  test("overload gate sheds queries with 503 + Retry-After and recovers after drain") {
    post("/api/v1/write/msgpack", cpuPayload(2, "cpushed"))
    val gate = server.overloadGate
    val before = gate.maxInFlight
    try {
      gate.maxInFlight = 1
      assert(gate.tryAcquire().isEmpty, "hold the only slot")
      val shed = post("/api/v1/query", sqlBody("SELECT count(*) AS n FROM cpushed"))
      assert(shed.statusCode() == 503, new String(shed.body(), UTF_8))
      assert(shed.headers().firstValue("Retry-After").orElse("") == "5")
      val env = json(shed)
      assert(!env.get("success").asBoolean())
      assert(env.get("error").asText().contains("overloaded"))
      assert(gate.shedTotal.get() >= 1)
      // GET measurement + estimate ride the same gate
      assert(get("/api/v1/query/cpushed?limit=1").statusCode() == 503)
      assert(post("/api/v1/query/estimate",
        sqlBody("SELECT * FROM cpushed")).statusCode() == 503)
      gate.release() // drain
      val ok = post("/api/v1/query", sqlBody("SELECT count(*) AS n FROM cpushed"))
      assert(ok.statusCode() == 200, "gate must recover immediately after drain")
    } finally { gate.maxInFlight = before }
  }

  test("metrics surface counts queries and ingest; Prometheus + JSON forms") {
    post("/api/v1/write/msgpack", cpuPayload(3, "cpum"))
    post("/api/v1/query", sqlBody("SELECT count(*) AS n FROM cpum"))
    val prom = new String(get("/metrics").body(), UTF_8)
    assert(prom.contains("# TYPE graft_queries_total counter"))
    assert(prom.linesIterator.exists(l => l.startsWith("graft_queries_total ") &&
      l.split(" ")(1).toLong >= 1))
    val j = json(get("/api/v1/metrics"))
    assert(j.get("graft_ingest_records_total").asLong() >= 3)
    val st = json(get("/api/v1/write/msgpack/stats"))
    assert(st.get("success").asBoolean() &&
      st.get("stats").get("total_records").asLong() >= 3)
  }

  test("bearer auth: 401 without the token, 200 with it") {
    val s2 = new HttpServer(spark, tmpDir("graft_http_auth"),
      authToken = Some("sekrit"))
    val port = s2.start()
    try {
      val b2 = s"http://127.0.0.1:$port"
      val no = client.send(HttpRequest.newBuilder(URI.create(b2 + "/api/v1/query"))
        .POST(HttpRequest.BodyPublishers.ofByteArray(sqlBody("SELECT 1 AS one")))
        .build(), HttpResponse.BodyHandlers.ofString())
      assert(no.statusCode() == 401)
      val ok = client.send(HttpRequest.newBuilder(URI.create(b2 + "/api/v1/query"))
        .header("Authorization", "Bearer sekrit")
        .POST(HttpRequest.BodyPublishers.ofByteArray(sqlBody("SELECT 1 AS one")))
        .build(), HttpResponse.BodyHandlers.ofString())
      assert(ok.statusCode() == 200)
      assert(mapper.readTree(ok.body()).get("data").get(0).get(0).asInt() == 1)
    } finally s2.stop()
  }

  test("concurrent writers and readers: no errors, all writes visible at quiesce") {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val errors = new java.util.concurrent.atomic.AtomicInteger
    val writes = 12
    val futs = (0 until writes).map { _ =>
      pool.submit(new Runnable {
        def run(): Unit = {
          // interleave writes to one measurement with queries over it
          val w = post("/api/v1/write/msgpack", cpuPayload(4, "cpuc"))
          if (w.statusCode() != 204) errors.incrementAndGet()
          // this task's own write already returned 204, so the table
          // exists — the query must succeed whatever the interleaving
          val r = post("/api/v1/query",
            sqlBody("SELECT count(*) AS n FROM cpuc"))
          if (r.statusCode() != 200) errors.incrementAndGet()
        }
      })
    }
    futs.foreach(_.get())
    pool.shutdown()
    assert(errors.get() == 0, s"${errors.get()} concurrent requests failed")
    // quiesce: the final count must see every write (no lost
    // invalidation pinning a stale view)
    val n = json(post("/api/v1/query", sqlBody("SELECT count(*) AS n FROM cpuc")))
      .get("data").get(0).get(0).asLong()
    assert(n == writes * 4L, s"expected ${writes * 4} rows visible, got $n")
  }

  test("two databases sharing a measurement name resolve independently") {
    // same measurement name, different row counts per database — each
    // query must see ITS database's data (per-db child sessions)
    assert(post("/api/v1/write/msgpack", cpuPayload(3, "shared"),
      Map("x-arc-database" -> "dbx")).statusCode() == 204)
    assert(post("/api/v1/write/msgpack", cpuPayload(5, "shared"),
      Map("x-arc-database" -> "dby")).statusCode() == 204)
    def countIn(db: String): Long =
      json(post("/api/v1/query", sqlBody("SELECT count(*) AS n FROM shared"),
        Map("x-arc-database" -> db))).get("data").get(0).get(0).asLong()
    assert(countIn("dbx") == 3)
    assert(countIn("dby") == 5)
    assert(countIn("dbx") == 3) // and back again — no view-slot theft
  }

  test("GET single-database detail: 200 with measurement count, 404 when absent") {
    post("/api/v1/write/msgpack", cpuPayload(2, "det_a"),
      Map("x-arc-database" -> "dbdetail"))
    post("/api/v1/write/msgpack", cpuPayload(2, "det_b"),
      Map("x-arc-database" -> "dbdetail"))
    val r = json(get("/api/v1/databases/dbdetail"))
    assert(r.get("name").asText() == "dbdetail")
    assert(r.get("measurement_count").asInt() == 2)
    assert(get("/api/v1/databases/db_never_created").statusCode() == 404)
  }

  test("unregisterable measurement doesn't poison its database; unknown db 404s") {
    // dash name: MeasName allows it on the write path, but Spark's view
    // identifier parser rejects it at registration — the failure must
    // stay scoped to that one measurement
    assert(post("/write?db=default",
      "bad-meas v=1i 1700000000000000000".getBytes(UTF_8)).statusCode() == 204)
    post("/api/v1/write/msgpack", cpuPayload(2, "goodm"))
    val r = json(post("/api/v1/query", sqlBody("SELECT count(*) AS n FROM goodm")))
    assert(r.get("data").get(0).get(0).asLong() == 2)
    // unknown database: 404 before any child session is allocated
    assert(post("/api/v1/query", sqlBody("SELECT 1"),
      Map("x-arc-database" -> "nosuchdb")).statusCode() == 404)
    assert(get("/api/v1/query/cpu?database=nosuchdb").statusCode() == 400)
  }

  test("an all-null msgpack column does not hide a later write's rows") {
    def payload(v: Seq[Any]): Array[Byte] = {
      val out = new ByteArrayOutputStream()
      val p = new MsgPackEncoder.Packer(out)
      p.packMapHeader(2)
      p.packString("m"); p.packString("nullcol")
      p.packString("columns"); p.packMapHeader(2)
      p.packString("time"); p.packArrayHeader(v.length)
      v.indices.foreach(i => p.packLong(1700000000000000L + i * 1000000L))
      p.packString("v"); p.packArrayHeader(v.length)
      v.foreach {
        case null => p.packNil()
        case d: Double => p.packDouble(d)
      }
      out.toByteArray
    }
    assert(post("/api/v1/write/msgpack", payload(Seq(null, null))).statusCode() == 204)
    assert(post("/api/v1/write/msgpack", payload(Seq(1.5, 2.5))).statusCode() == 204)
    val r = json(post("/api/v1/query",
      sqlBody("SELECT count(*) AS n, sum(v) AS s, count(v) AS nv FROM nullcol")))
    assert(r.get("data").get(0).get(0).asLong() == 4, r.toString)
    assert(r.get("data").get(0).get(1).asDouble() == 4.0 &&
      r.get("data").get(0).get(2).asLong() == 2, r.toString)
  }

  test("a view whose files no longer merge fails its queries instead of serving stale rows") {
    // v is a string in the first file and a double in the second: the
    // refresh after the second write cannot merge the two schemas
    assert(post("/write?db=default&precision=us",
      "vconflict,host=a v=\"x\" 1700000000000000".getBytes(UTF_8)).statusCode() == 204)
    val before = post("/api/v1/query", sqlBody("SELECT count(*) AS n FROM vconflict"))
    assert(before.statusCode() == 200 && json(before).get("data").get(0).get(0).asLong() == 1)
    assert(post("/write?db=default&precision=us",
      "vconflict,host=a v=1.5 1700000001000000".getBytes(UTF_8)).statusCode() == 204)
    val after = post("/api/v1/query", sqlBody("SELECT count(*) AS n FROM vconflict"))
    assert(after.statusCode() != 200, new String(after.body(), UTF_8))
  }

  test("query API is read-only: DDL/SET/INSERT blocked by AST, SELECT passes") {
    post("/api/v1/write/msgpack", cpuPayload(2, "rom"))
    // register the view, then try to drop it through the query API
    assert(post("/api/v1/query", sqlBody("SELECT count(*) n FROM rom"))
      .statusCode() == 200)
    for (stmt <- Seq(
        "DROP VIEW rom",
        "DROP /* sneaky */ VIEW rom", // comment evasion: AST doesn't care
        "SET spark.sql.shuffle.partitions=1",
        "CREATE TABLE x (a INT) USING parquet",
        "INSERT INTO rom VALUES (1)",
        // CTE-wrapped DML parses to UnresolvedWith with the command as a
        // CHILD — a root-only check misses all of these
        "WITH c AS (SELECT 1) INSERT INTO rom SELECT * FROM c",
        "WITH c AS (SELECT 1) DELETE FROM rom",
        "WITH c AS (SELECT 1) INSERT OVERWRITE DIRECTORY '/tmp/x' USING parquet SELECT * FROM c",
        // exfiltration class: direct file-format relations read arbitrary
        // server files; reflect invokes arbitrary public static methods
        "SELECT * FROM text.`/etc/passwd`",
        "SELECT * FROM parquet.`/root/testdata/sf0.001/lineitem.parquet`",
        "SELECT (SELECT * FROM text.`/etc/hostname`) AS h", // inside a subquery
        "SELECT java_method('java.lang.System','getenv','HOME') AS v",
        "SELECT reflect('java.lang.Thread','sleep',1000L) AS z")) {
      val r = post("/api/v1/query", sqlBody(stmt))
      assert(r.statusCode() == 403 || r.statusCode() == 400,
        s"$stmt -> ${r.statusCode()}")
    }
    // the view survived every attempt
    assert(post("/api/v1/query", sqlBody("SELECT count(*) n FROM rom"))
      .statusCode() == 200)
  }

  test("CORS: allow-origin on every response, OPTIONS preflight 204") {
    val r = get("/health")
    assert(r.headers().firstValue("Access-Control-Allow-Origin").orElse("") == "*")
    val opt = client.send(HttpRequest.newBuilder(URI.create(base + "/api/v1/query"))
      .method("OPTIONS", HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofByteArray())
    assert(opt.statusCode() == 204)
    assert(opt.headers().firstValue("Access-Control-Allow-Methods").isPresent)
  }

  test("oversized payload is rejected before decode") {
    server.maxPayloadBytes = 64
    try {
      val r = post("/api/v1/write/msgpack", cpuPayload(1000))
      assert(r.statusCode() == 400 || r.statusCode() == 413)
    } finally server.maxPayloadBytes = 512L << 20
  }
}
