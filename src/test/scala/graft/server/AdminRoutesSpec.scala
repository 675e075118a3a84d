package graft.server

import graft.SparkSpec
import graft.ingest.MqttCodec
import graft.query.MsgPackEncoder

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.net.{ServerSocket, URI}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{CountDownLatch, TimeUnit}

/** Socket e2e tests for the lifecycle/admin HTTP plane: targeted delete
  * with dry-run/confirm/caps, retention policy CRUD + execute,
  * continuous query CRUD + execute into a destination measurement,
  * compaction candidates/trigger/history, tiering migrate with
  * transparent hot∪cold queries, and MQTT subscription CRUD + a live
  * broker round-trip.
  */
class AdminRoutesSpec extends SparkSpec {

  private lazy val root = tmpDir("graft_admin")
  private lazy val server = new HttpServer(spark, root)
  private lazy val base: String = s"http://127.0.0.1:${server.start()}"
  private val client = HttpClient.newHttpClient()
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def send(method: String, path: String, body: Array[Byte],
      at: String = base): HttpResponse[Array[Byte]] =
    client.send(HttpRequest.newBuilder(URI.create(at + path))
      .method(method, HttpRequest.BodyPublishers.ofByteArray(body)).build(),
      HttpResponse.BodyHandlers.ofByteArray())

  private def post(path: String, body: Array[Byte], at: String = base): HttpResponse[Array[Byte]] =
    send("POST", path, body, at)
  private def put(path: String, body: Array[Byte]): HttpResponse[Array[Byte]] =
    send("PUT", path, body)
  private def delete(path: String): HttpResponse[Array[Byte]] =
    send("DELETE", path, Array.emptyByteArray)
  private def get(path: String, at: String = base): HttpResponse[Array[Byte]] =
    client.send(HttpRequest.newBuilder(URI.create(at + path)).GET().build(),
      HttpResponse.BodyHandlers.ofByteArray())

  private def json(r: HttpResponse[Array[Byte]]) = mapper.readTree(r.body())
  private def j(kv: (String, Any)*): Array[Byte] = {
    val n = mapper.createObjectNode()
    kv.foreach {
      case (k, v: String) => n.put(k, v)
      case (k, v: Int) => n.put(k, v)
      case (k, v: Long) => n.put(k, v)
      case (k, v: Boolean) => n.put(k, v)
      case (k, v: Seq[_]) =>
        val a = n.putArray(k); v.foreach(x => a.add(x.toString))
      case (k, v) => n.put(k, v.toString)
    }
    mapper.writeValueAsBytes(n)
  }

  private def queryCount(sql: String): Long = {
    val r = post("/api/v1/query",
      mapper.writeValueAsBytes(java.util.Collections.singletonMap("sql", sql)))
    assert(r.statusCode() == 200, s"$sql -> ${new String(r.body(), UTF_8)}")
    val env = json(r)
    assert(env.has("data") && env.get("data").size() > 0,
      s"$sql -> ${new String(r.body(), UTF_8).take(500)}")
    env.get("data").get(0).get(0).asLong()
  }

  /** Columnar msgpack write payload with explicit µs timestamps. */
  private def payload(m: String, timesUs: Seq[Long]): Array[Byte] = {
    val n = timesUs.length
    val out = new ByteArrayOutputStream()
    val p = new MsgPackEncoder.Packer(out)
    p.packMapHeader(3)
    p.packString("m"); p.packString(m)
    p.packString("columns"); p.packMapHeader(3)
    p.packString("time"); p.packArrayHeader(n)
    timesUs.foreach(p.packLong)
    p.packString("host"); p.packArrayHeader(n)
    (0 until n).foreach(i => p.packString(s"h${i % 2}"))
    p.packString("usage"); p.packArrayHeader(n)
    (0 until n).foreach(i => p.packDouble(i * 1.0))
    p.packString("tags"); p.packArrayHeader(1); p.packString("host")
    out.toByteArray
  }

  private val OldUs = 1700000000000000L // 2023-11-14
  private def nowUs: Long = System.currentTimeMillis() * 1000L

  // ---- targeted delete ------------------------------------------------

  test("delete is disabled by default and /delete/config reports it") {
    assert(post("/api/v1/write/msgpack",
      payload("del0", (0 until 4).map(OldUs + _ * 1000000L))).statusCode() == 204)
    val r = post("/api/v1/delete",
      j("database" -> "default", "measurement" -> "del0",
        "where" -> "usage > 1", "confirm" -> true))
    assert(r.statusCode() == 403)
    val cfg = json(get("/api/v1/delete/config"))
    assert(!cfg.get("enabled").asBoolean())
    assert(cfg.get("confirmation_threshold").asLong() == 10000L)
    assert(cfg.get("max_rows_per_delete").asLong() == 1000000L)
  }

  test("delete: dry-run previews, confirm deletes, WHERE is AST-validated") {
    server.admin.deleteEnabled = true
    try {
      assert(post("/api/v1/write/msgpack",
        payload("delm", (0 until 8).map(OldUs + _ * 1000000L))).statusCode() == 204)
      assert(queryCount("SELECT count(*) FROM delm") == 8)

      // dry-run: counts without removing
      val dry = json(post("/api/v1/delete",
        j("database" -> "default", "measurement" -> "delm",
          "where" -> "usage >= 6", "dry_run" -> true)))
      assert(dry.get("success").asBoolean() && dry.get("dry_run").asBoolean())
      assert(dry.get("deleted_count").asLong() == 2)
      assert(queryCount("SELECT count(*) FROM delm") == 8)

      // real delete requires confirm
      assert(post("/api/v1/delete",
        j("database" -> "default", "measurement" -> "delm",
          "where" -> "usage >= 6")).statusCode() == 400)
      val res = json(post("/api/v1/delete",
        j("database" -> "default", "measurement" -> "delm",
          "where" -> "usage >= 6", "confirm" -> true)))
      assert(res.get("success").asBoolean())
      assert(res.get("deleted_count").asLong() == 2)
      assert(queryCount("SELECT count(*) FROM delm") == 6)
      assert(queryCount("SELECT count(*) FROM delm WHERE usage >= 6") == 0)

      // full-table delete (no WHERE / constant WHERE) needs confirm
      assert(json(post("/api/v1/delete",
        j("database" -> "default", "measurement" -> "delm")))
        .get("error").asText().contains("Full table"))
      assert(json(post("/api/v1/delete",
        j("database" -> "default", "measurement" -> "delm", "where" -> "1=1")))
        .get("error").asText().contains("Full table"))

      // dangerous WHEREs rejected by the expression AST, not regexes
      for (w <- Seq(
          "usage IN (SELECT usage FROM delm)", // subquery
          "reflect('java.lang.System','getenv','HOME') IS NOT NULL",
          "usage > 1; DROP VIEW delm")) { // two statements can't parse
        val r = post("/api/v1/delete",
          j("database" -> "default", "measurement" -> "delm",
            "where" -> w, "confirm" -> true))
        assert(r.statusCode() == 400, s"$w -> ${r.statusCode()}")
      }
      assert(queryCount("SELECT count(*) FROM delm") == 6)

      // unknown targets
      assert(post("/api/v1/delete",
        j("database" -> "nodb", "measurement" -> "delm", "confirm" -> true))
        .statusCode() == 404)
      assert(post("/api/v1/delete",
        j("database" -> "default", "measurement" -> "nom", "confirm" -> true))
        .statusCode() == 404)
    } finally server.admin.deleteEnabled = false
  }

  test("delete: max-rows cap rejects oversized deletes") {
    server.admin.deleteEnabled = true
    val oldCap = server.admin.deleteMaxRows
    server.admin.deleteMaxRows = 3
    try {
      post("/api/v1/write/msgpack",
        payload("delcap", (0 until 6).map(OldUs + _ * 1000000L)))
      val r = post("/api/v1/delete",
        j("database" -> "default", "measurement" -> "delcap",
          "where" -> "usage >= 0", "confirm" -> true))
      assert(r.statusCode() == 400)
      assert(json(r).get("error").asText().contains("max_rows_per_delete"))
      assert(queryCount("SELECT count(*) FROM delcap") == 6)
    } finally {
      server.admin.deleteMaxRows = oldCap
      server.admin.deleteEnabled = false
    }
  }

  // ---- retention -------------------------------------------------------

  test("retention: CRUD + execute deletes only expired partitions") {
    // one old hour (2023) + one fresh hour (now)
    post("/api/v1/write/msgpack", payload("ret", (0 until 4).map(OldUs + _ * 1000000L)))
    post("/api/v1/write/msgpack", payload("ret", (0 until 3).map(nowUs + _ * 1000000L)))
    assert(queryCount("SELECT count(*) FROM ret") == 7)

    val created = json(post("/api/v1/retention",
      j("name" -> "ret-30d", "database" -> "default", "measurement" -> "ret",
        "retention_days" -> 30)))
    val id = created.get("id").asLong()
    assert(created.get("is_active").asBoolean())

    // duplicate name rejected; bad payloads rejected
    assert(post("/api/v1/retention",
      j("name" -> "ret-30d", "database" -> "default", "retention_days" -> 30))
      .statusCode() == 400)
    assert(post("/api/v1/retention",
      j("name" -> "x", "database" -> "default")).statusCode() == 400)

    // list + get
    assert(get("/api/v1/retention").statusCode() == 200)
    assert(json(get(s"/api/v1/retention/$id")).get("name").asText() == "ret-30d")
    assert(get("/api/v1/retention/9999").statusCode() == 404)

    // execute requires confirm or dry_run
    assert(post(s"/api/v1/retention/$id/execute", j()).statusCode() == 400)

    // dry-run: reports the old rows, removes nothing
    val dry = json(post(s"/api/v1/retention/$id/execute", j("dry_run" -> true)))
    assert(dry.get("dry_run").asBoolean())
    assert(dry.get("deleted_count").asLong() == 4)
    assert(queryCount("SELECT count(*) FROM ret") == 7)

    // real run: old partition gone, fresh kept
    val res = json(post(s"/api/v1/retention/$id/execute", j("confirm" -> true)))
    assert(res.get("deleted_count").asLong() == 4)
    assert(res.get("affected_measurements").get(0).asText() == "ret")
    assert(queryCount("SELECT count(*) FROM ret") == 3)

    // execution recorded; last_* fields updated on the policy
    val execs = json(get(s"/api/v1/retention/$id/executions"))
    assert(execs.size() == 1 && execs.get(0).get("deleted_count").asLong() == 4)
    val pol = json(get(s"/api/v1/retention/$id"))
    assert(pol.get("last_execution_status").asText() == "success")
    assert(pol.get("last_deleted_count").asLong() == 4)

    // update + delete
    val upd = json(put(s"/api/v1/retention/$id",
      j("name" -> "ret-30d", "database" -> "default", "measurement" -> "ret",
        "retention_days" -> 60)))
    assert(upd.get("retention_days").asInt() == 60)
    assert(delete(s"/api/v1/retention/$id").statusCode() == 200)
    assert(get(s"/api/v1/retention/$id").statusCode() == 404)
  }

  // ---- continuous queries ----------------------------------------------

  test("continuous query: CRUD + execute writes the destination measurement") {
    post("/api/v1/write/msgpack", payload("cqsrc", (0 until 8).map(OldUs + _ * 1000000L)))

    // placeholders are mandatory
    assert(post("/api/v1/continuous_queries",
      j("name" -> "bad", "database" -> "default", "source_measurement" -> "cqsrc",
        "destination_measurement" -> "cq_out", "query" -> "SELECT 1",
        "interval" -> "1h")).statusCode() == 400)
    // the CQ body must be read-only
    assert(post("/api/v1/continuous_queries",
      j("name" -> "bad2", "database" -> "default", "source_measurement" -> "cqsrc",
        "destination_measurement" -> "cq_out",
        "query" -> "INSERT INTO cqsrc SELECT * FROM range({start_time}, {end_time})",
        "interval" -> "1h")).statusCode() == 400)

    val created = json(post("/api/v1/continuous_queries",
      j("name" -> "hourly-by-host", "database" -> "default",
        "source_measurement" -> "cqsrc", "destination_measurement" -> "cq_out",
        "query" -> ("SELECT host, count(*) AS n FROM cqsrc " +
          "WHERE time >= {start_time} AND time < {end_time} GROUP BY host"),
        "interval" -> "1h", "tag_columns" -> Seq("host"))))
    val id = created.get("id").asLong()
    assert(created.get("interval").asText() == "1h")

    // dry-run: counts the window without writing
    val dry = json(post(s"/api/v1/continuous_queries/$id/execute",
      j("dry_run" -> true,
        "start_time" -> "2023-11-14T00:00:00Z", "end_time" -> "2023-11-15T00:00:00Z")))
    assert(dry.get("dry_run").asBoolean() && dry.get("window_rows").asLong() == 2)

    // explicit window execute: aggregated rows land in cq_out
    val res = json(post(s"/api/v1/continuous_queries/$id/execute",
      j("start_time" -> "2023-11-14T00:00:00Z", "end_time" -> "2023-11-15T00:00:00Z")))
    assert(res.get("success").asBoolean())
    assert(res.get("records_written").asLong() == 2) // h0 + h1
    assert(queryCount("SELECT count(*) FROM cq_out") == 2)
    assert(queryCount("SELECT sum(n) FROM cq_out") == 8)

    // execution record + last_* fields
    assert(json(get(s"/api/v1/continuous_queries/$id/executions")).size() == 1)
    val rec = json(get(s"/api/v1/continuous_queries/$id"))
    assert(rec.get("last_execution_status").asText() == "success")
    assert(rec.get("last_records_written").asLong() == 2)

    // list filter + delete
    assert(json(get("/api/v1/continuous_queries?database=default")).size() >= 1)
    assert(delete(s"/api/v1/continuous_queries/$id").statusCode() == 200)
    assert(get(s"/api/v1/continuous_queries/$id").statusCode() == 404)
  }

  test("continuous query: a deleted CQ's watermark goes with it") {
    val hourUs = 3600L * 1000000L
    val lookback = nowUs - Math.floorMod(nowUs, hourUs) - hourUs
    post("/api/v1/write/msgpack",
      payload("wmsrc", (0 until 4).map(lookback + 60000000L + _ * 1000000L)))
    def create(): Long = json(post("/api/v1/continuous_queries",
      j("name" -> "wm-cq", "database" -> "default",
        "source_measurement" -> "wmsrc", "destination_measurement" -> "wm_out",
        "query" -> ("SELECT host, count(*) AS n FROM wmsrc " +
          "WHERE time >= {start_time} AND time < {end_time} GROUP BY host"),
        "interval" -> "1h"))).get("id").asLong()
    def catchUp(id: Long) = json(post(s"/api/v1/continuous_queries/$id/execute", j()))

    // first run: the 1-hour lookback is one window, and it stores a watermark
    val first = create()
    assert(catchUp(first).get("windows").asInt() == 1)
    assert(delete(s"/api/v1/continuous_queries/$first").statusCode() == 200)
    // a new CQ of the same name starts at the lookback again, not at the
    // deleted CQ's watermark (which would leave no window due)
    val second = create()
    assert(catchUp(second).get("windows").asInt() == 1)
    assert(delete(s"/api/v1/continuous_queries/$second").statusCode() == 200)
  }

  // ---- compaction ---------------------------------------------------------

  test("compaction: candidates surface small files; trigger merges them") {
    // 3 writes into the same hour = 3 small files
    for (k <- 0 until 3)
      post("/api/v1/write/msgpack",
        payload("cmp", (0 until 4).map(i => OldUs + (k * 4 + i) * 1000000L)))
    assert(queryCount("SELECT count(*) FROM cmp") == 12)

    val cands = json(get("/api/v1/compaction/candidates?database=default&min_files=3"))
    val found = (0 until cands.get("candidates").size()).exists(i =>
      cands.get("candidates").get(i).get("measurement").asText() == "cmp")
    assert(found, s"cmp not in candidates: ${cands.toString.take(400)}")

    val trig = json(post("/api/v1/compaction/trigger",
      j("database" -> "default", "measurement" -> "cmp", "tier" -> "hourly",
        "min_files" -> 2, "min_age_hours" -> 0)))
    assert(trig.get("success").asBoolean())
    assert(trig.get("count").asInt() >= 1)
    // a small hour merges on the driver, and the response says so
    val arms = (0 until trig.get("compacted").size())
      .map(i => trig.get("compacted").get(i).get("arm").asText())
    assert(arms.nonEmpty && arms.forall(_ == "driver"), trig.toString)

    // data intact, file count collapsed below the candidate bar
    assert(queryCount("SELECT count(*) FROM cmp") == 12)
    val after = json(get("/api/v1/compaction/candidates?database=default&min_files=3"))
    val still = (0 until after.get("candidates").size()).exists(i =>
      after.get("candidates").get(i).get("measurement").asText() == "cmp")
    assert(!still, "cmp still a candidate after trigger")

    val status = json(get("/api/v1/compaction/status"))
    assert(status.get("manager").get("total_completed").asLong() >= 1)
    assert(status.get("manager").get("active_jobs").asInt() == 0)
    val history = json(get("/api/v1/compaction/history"))
    assert(history.size() >= 1)
    assert(history.get(history.size() - 1).get("compacted").get(0).get("arm").asText() == "driver")
    assert(json(get("/api/v1/compaction/jobs")).get("count").asInt() == 0)
  }

  // ---- tiering ---------------------------------------------------------------

  test("tiering: migrate moves old partitions; queries still see both tiers") {
    post("/api/v1/write/msgpack", payload("tm", (0 until 5).map(OldUs + _ * 1000000L)))
    post("/api/v1/write/msgpack", payload("tm", (0 until 3).map(nowUs + _ * 1000000L)))
    assert(queryCount("SELECT count(*) FROM tm") == 8)

    val mig = json(post("/api/v1/tiering/migrate",
      j("database" -> "default", "measurement" -> "tm", "after_days" -> 30)))
    assert(mig.get("success").asBoolean())
    assert(mig.get("results").get(0).get("migrated").asInt() >= 1)

    // the union view keeps every row queryable over HTTP
    assert(queryCount("SELECT count(*) FROM tm") == 8)
    assert(queryCount(
      "SELECT count(*) FROM tm WHERE time < TIMESTAMP '2024-01-01'") == 5)

    val status = json(get("/api/v1/tiering/status"))
    assert(status.get("tiers").get("cold").get("files").asInt() >= 1)
    val files = json(get("/api/v1/tiering/files?tier=cold&database=default"))
    assert(files.get("count").asInt() >= 1)
    assert(files.get("files").get(0).get("measurement").asText() == "tm")
    val scan = json(post("/api/v1/tiering/scan", j()))
    val tmRow = (0 until scan.get("measurements").size())
      .map(scan.get("measurements").get(_))
      .find(_.get("measurement").asText() == "tm")
    assert(tmRow.exists(_.get("cold_files").asInt() >= 1))
    assert(tmRow.exists(_.get("hot_files").asInt() >= 1))
  }

  test("tiering: a migrated daily-compacted day stays queryable") {
    // two flushes into one old day, so daily compaction merges them into
    // the daily tier; migration then moves that day to the cold daily tier
    post("/api/v1/write/msgpack", payload("tmd", (0 until 3).map(OldUs + _ * 1000000L)))
    post("/api/v1/write/msgpack", payload("tmd", (3 until 5).map(OldUs + _ * 1000000L)))
    post("/api/v1/write/msgpack", payload("tmd", (0 until 3).map(nowUs + _ * 1000000L)))
    assert(queryCount("SELECT count(*) FROM tmd") == 8)

    val trig = json(post("/api/v1/compaction/trigger",
      j("database" -> "default", "measurement" -> "tmd", "tier" -> "daily",
        "min_files" -> 2, "min_age_hours" -> 0)))
    assert(trig.get("count").asInt() == 1, trig.toString)
    assert(queryCount("SELECT count(*) FROM tmd") == 8)

    val mig = json(post("/api/v1/tiering/migrate",
      j("database" -> "default", "measurement" -> "tmd", "after_days" -> 30)))
    assert(mig.get("results").get(0).get("migrated").asInt() == 1, mig.toString)
    assert(queryCount("SELECT count(*) FROM tmd") == 8)
  }

  test("tiering policies: CRUD + effective fallback") {
    assert(json(get("/api/v1/tiering/policies/somedb/effective"))
      .get("source").asText() == "default")
    val setp = json(put("/api/v1/tiering/policies/somedb",
      j("cold_after_days" -> 7, "enabled" -> true)))
    assert(setp.get("cold_after_days").asInt() == 7)
    val eff = json(get("/api/v1/tiering/policies/somedb/effective"))
    assert(eff.get("cold_after_days").asInt() == 7 && eff.get("source").asText() == "policy")
    assert(json(get("/api/v1/tiering/policies")).size() >= 1)
    assert(delete("/api/v1/tiering/policies/somedb").statusCode() == 200)
    assert(json(get("/api/v1/tiering/policies/somedb/effective"))
      .get("source").asText() == "default")
  }

  // ---- MQTT -------------------------------------------------------------------

  /** Minimal broker stub: answers the handshake, relays test PUBLISHes,
    * records the packet ids it sees PUBACK'd and when the client closes. */
  private final class BrokerStub {
    val server = new ServerSocket(0)
    def port: Int = server.getLocalPort
    val subscribed = new CountDownLatch(1)
    val closed = new CountDownLatch(1)
    private val acked = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
    def ackedIds: Seq[Int] = acked.toArray(Array.empty[Integer]).toSeq.map(_.intValue)
    @volatile private var out: DataOutputStream = _
    private val t = new Thread(() => {
      try {
        val sock = server.accept()
        val in = new DataInputStream(sock.getInputStream)
        out = new DataOutputStream(sock.getOutputStream)
        while (!sock.isClosed) {
          val p = MqttCodec.readPacket(in)
          p.ptype match {
            case MqttCodec.CONNECT => MqttCodec.writePacket(out, MqttCodec.connack(0))
            case MqttCodec.SUBSCRIBE =>
              val pid = ((p.body(0) & 0xff) << 8) | (p.body(1) & 0xff)
              MqttCodec.writePacket(out, MqttCodec.suback(pid, Seq(1)))
              subscribed.countDown()
            case MqttCodec.PINGREQ => MqttCodec.writePacket(out, MqttCodec.pingresp)
            case MqttCodec.PUBACK => acked.add(((p.body(0) & 0xff) << 8) | (p.body(1) & 0xff))
            case _ => ()
          }
        }
      } catch { case _: Exception => () }
      finally closed.countDown()
    }, "admin-mqtt-broker-stub")
    t.setDaemon(true); t.start()
    def publish(topic: String, payloadBytes: Array[Byte], pid: Int = 7): Unit = synchronized {
      MqttCodec.writePacket(out, MqttCodec.publish(topic, payloadBytes, 1, pid))
    }
    def close(): Unit = server.close()
  }

  private def awaitTrue(cond: => Boolean): Boolean = {
    val deadline = System.nanoTime() + 5000000000L
    while (!cond && System.nanoTime() < deadline) Thread.sleep(20)
    cond
  }

  /** Creates and starts a subscription on `broker`; returns its id. */
  private def startSub(name: String, broker: BrokerStub, at: String = base): Long = {
    val id = json(post("/api/v1/mqtt/subscriptions",
      j("name" -> name, "broker_host" -> "127.0.0.1", "broker_port" -> broker.port,
        "topics" -> Seq("t/#"), "database" -> "default", "qos" -> 1), at)).get("id").asLong()
    assert(json(post(s"/api/v1/mqtt/subscriptions/$id/start", j(), at))
      .get("status").asText() == "running")
    assert(broker.subscribed.await(5, TimeUnit.SECONDS), "no SUBSCRIBE seen")
    id
  }

  private def subStat(id: Long, field: String, at: String = base): Long =
    json(get(s"/api/v1/mqtt/subscriptions/$id/stats", at)).get(field).asLong()

  test("mqtt subscriptions: CRUD + live broker round-trip into parquet") {
    val broker = new BrokerStub
    try {
      // validation
      assert(post("/api/v1/mqtt/subscriptions",
        j("name" -> "nosub")).statusCode() == 400)

      val created = json(post("/api/v1/mqtt/subscriptions",
        j("name" -> "iot", "broker_host" -> "127.0.0.1",
          "broker_port" -> broker.port, "topics" -> Seq("t/#"),
          "database" -> "default", "qos" -> 1)))
      val id = created.get("id").asLong()
      assert(created.get("status").asText() == "stopped")
      // duplicate name -> 409
      assert(post("/api/v1/mqtt/subscriptions",
        j("name" -> "iot", "broker_host" -> "127.0.0.1",
          "broker_port" -> broker.port, "topics" -> Seq("t/#")))
        .statusCode() == 409)

      // start connects; the stub sees the SUBSCRIBE
      assert(json(post(s"/api/v1/mqtt/subscriptions/$id/start", j()))
        .get("status").asText() == "running")
      assert(broker.subscribed.await(5, TimeUnit.SECONDS), "no SUBSCRIBE seen")
      assert(post(s"/api/v1/mqtt/subscriptions/$id/start", j()).statusCode() == 409)

      // a published payload is decoded and counted
      broker.publish("t/cpu", payload("mqm", Seq(OldUs, OldUs + 1000000L)))
      val deadline = System.nanoTime() + 5000000000L
      var got = false
      while (!got && System.nanoTime() < deadline) {
        got = json(get(s"/api/v1/mqtt/subscriptions/$id/stats"))
          .get("messages_received").asLong() == 1
        if (!got) Thread.sleep(50)
      }
      assert(got, "message never counted")

      // health + aggregate stats see the running subscription
      val health = json(get("/api/v1/mqtt/health"))
      assert(health.get("healthy").asBoolean() && health.get("running").asInt() == 1)
      val stats = json(get("/api/v1/mqtt/stats"))
      assert(stats.get("stats").get("summary").get("total_messages").asLong() >= 1)

      // stop flushes the buffer to parquet; rows are queryable
      assert(json(post(s"/api/v1/mqtt/subscriptions/$id/stop", j()))
        .get("status").asText() == "stopped")
      assert(queryCount("SELECT count(*) FROM mqm") == 2)

      // pause/update/delete lifecycle
      assert(json(post(s"/api/v1/mqtt/subscriptions/$id/pause", j()))
        .get("status").asText() == "paused")
      val upd = json(put(s"/api/v1/mqtt/subscriptions/$id",
        j("name" -> "iot", "broker_host" -> "127.0.0.1",
          "broker_port" -> broker.port, "topics" -> Seq("t/#", "u/#"))))
      assert(upd.get("topics").size() == 2)
      assert(delete(s"/api/v1/mqtt/subscriptions/$id").statusCode() == 200)
      assert(get(s"/api/v1/mqtt/subscriptions/$id").statusCode() == 404)
    } finally broker.close()
  }

  test("mqtt: a PUBACK'd payload is queryable at once, and so is the next one") {
    val broker = new BrokerStub
    var id = -1L
    try {
      id = startSub("mq-visible", broker)
      broker.publish("t/a", payload("mqvis", Seq(OldUs, OldUs + 1000000L)), pid = 1)
      assert(awaitTrue(broker.ackedIds == Seq(1)), "no PUBACK")
      assert(queryCount("SELECT count(*) FROM mqvis") == 2)
      // the registered view must see a later delivery, not its old listing
      broker.publish("t/a", payload("mqvis", Seq(OldUs + 2000000L, OldUs + 3000000L)), pid = 2)
      assert(awaitTrue(broker.ackedIds == Seq(1, 2)), "no second PUBACK")
      assert(queryCount("SELECT count(*) FROM mqvis") == 4)
      assert(subStat(id, "messages_received") == 2)
    } finally { if (id >= 0) delete(s"/api/v1/mqtt/subscriptions/$id"); broker.close() }
  }

  test("mqtt: a payload naming ../escape is refused and acknowledged; valid ones still land") {
    val broker = new BrokerStub
    var id = -1L
    try {
      id = startSub("mq-escape", broker)
      broker.publish("t/a", payload("../escape", Seq(OldUs)), pid = 1)
      assert(awaitTrue(broker.ackedIds == Seq(1)), "a refused payload is still acknowledged")
      assert(subStat(id, "messages_failed") == 1)
      assert(subStat(id, "messages_received") == 0)
      broker.publish("t/a", payload("mqesc", Seq(OldUs, OldUs + 1000000L)), pid = 2)
      assert(awaitTrue(broker.ackedIds == Seq(1, 2)))
      assert(queryCount("SELECT count(*) FROM mqesc") == 2)
      assert(!new java.io.File(root, "escape").exists(), "a write left the database directory")
      assert(subStat(id, "messages_failed") == 1)
    } finally { if (id >= 0) delete(s"/api/v1/mqtt/subscriptions/$id"); broker.close() }
  }

  test("mqtt: a storage failure is counted and not acknowledged") {
    val root2 = tmpDir("graft_admin_mqfail")
    // a plain file where the measurement's directory would go
    new java.io.File(root2, "default").mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(root2, "default", "mqblocked"), Array[Byte](1))
    val srv = new HttpServer(spark, root2)
    val at = s"http://127.0.0.1:${srv.start()}"
    val broker = new BrokerStub
    try {
      val id = startSub("mq-fail", broker, at)
      broker.publish("t/a", payload("mqblocked", Seq(OldUs)), pid = 1)
      assert(awaitTrue(subStat(id, "messages_failed", at) == 1), "storage failure not counted")
      broker.publish("t/a", payload("mqok", Seq(OldUs)), pid = 2)
      assert(awaitTrue(broker.ackedIds == Seq(2)), s"acked ${broker.ackedIds}")
      assert(subStat(id, "messages_received", at) == 1)
    } finally { srv.stop(); broker.close() }
  }

  test("mqtt with buffered ingest: the server's ingester holds the rows before PUBACK") {
    val root2 = tmpDir("graft_admin_mqbuf")
    val srv = new HttpServer(spark, root2)
    srv.enableBufferedIngest(new java.io.File(tmpDir("graft_admin_mqbufwal")),
      flushRows = Int.MaxValue, flushMillis = 3600000L)
    val at = s"http://127.0.0.1:${srv.start()}"
    val broker = new BrokerStub
    try {
      startSub("mq-buffered", broker, at)
      broker.publish("t/a", payload("mqbuf", Seq(OldUs, OldUs + 1000000L)), pid = 1)
      assert(awaitTrue(broker.ackedIds == Seq(1)), "no PUBACK")
      assert(srv.bufferedIngest.get.pendingRows == 2,
        "PUBACK'd rows must already be journaled in the server's ingester")
      val f = json(post("/api/v1/write/line-protocol/flush", j(), at))
      assert(f.get("rows_flushed").asLong() == 2L)
    } finally { srv.stop(); broker.close() }
    assert(spark.read.parquet(s"$root2/default/mqbuf").count() == 2L)
  }

  test("stop() disconnects every MQTT subscription") {
    val srv = new HttpServer(spark, tmpDir("graft_admin_mqstop"))
    val at = s"http://127.0.0.1:${srv.start()}"
    val broker = new BrokerStub
    try {
      startSub("mq-stop", broker, at)
      srv.stop()
      assert(broker.closed.await(5, TimeUnit.SECONDS), "the broker connection outlived the server")
      def mqttThreads = Thread.getAllStackTraces.keySet.toArray(Array.empty[Thread])
        .filter(t => t.isAlive && t.getName.startsWith("graft-mqtt-"))
      assert(awaitTrue(mqttThreads.isEmpty), s"left alive: ${mqttThreads.map(_.getName).mkString(", ")}")
    } finally broker.close()
  }

  test("schedulers: status census, CQ reload, retention trigger-all") {
    // one old hour that a triggered retention policy will reap
    post("/api/v1/write/msgpack", payload("sched", (0 until 5).map(OldUs + _ * 1000000L)))
    post("/api/v1/write/msgpack", payload("sched", (0 until 2).map(nowUs + _ * 1000000L)))
    val pol = json(post("/api/v1/retention",
      j("name" -> "sched-30d", "database" -> "default",
        "measurement" -> "sched", "retention_days" -> 30)))
    val polId = pol.get("id").asLong()
    try {
      val st = json(get("/api/v1/schedulers"))
      assert(st.get("retention_scheduler").get("enabled").asBoolean())
      assert(st.get("retention_scheduler").get("policy_count").asInt() >= 1)
      assert(st.has("cq_scheduler") && st.has("compaction_scheduler"))

      val reload = json(post("/api/v1/schedulers/cq/reload", j()))
      assert(reload.get("message").asText().contains("reloaded"))
      assert(reload.get("job_count").asInt() >= 0)

      // trigger-all runs every active policy NOW: old hour reaped
      val trig = json(post("/api/v1/schedulers/retention/trigger", j()))
      assert(trig.get("policies_executed").asInt() >= 1)
      assert(trig.get("deleted_count").asLong() >= 5)
      assert(queryCount("SELECT count(*) FROM sched") == 2)
      // the policy record carries the execution outcome
      assert(json(get(s"/api/v1/retention/$polId"))
        .get("last_execution_status").asText() == "success")
    } finally delete(s"/api/v1/retention/$polId")
  }

  test("LP flush/health, msgpack spec, and header-over-query db precedence") {
    assert(json(post("/api/v1/write/line-protocol/flush", j()))
      .get("status").asText() == "success")
    assert(json(get("/api/v1/write/line-protocol/health"))
      .get("service").asText() == "line_protocol_writer")
    val spec = json(get("/api/v1/write/msgpack/spec"))
    assert(spec.get("protocol").asText() == "MessagePack")
    assert(spec.get("format").has("batch"))

    // reference precedence: x-arc-database OVERRIDES ?db=/?bucket=
    post("/api/v1/databases", j("name" -> "lpheader"))
    val r = client.send(HttpRequest.newBuilder(
      URI.create(s"$base/write?db=ignored_db"))
      .header("x-arc-database", "lpheader")
      .POST(HttpRequest.BodyPublishers.ofString(
        s"prec,tag=a v=1.0 ${nowUs * 1000L}")).build(),
      HttpResponse.BodyHandlers.ofByteArray())
    assert(r.statusCode() == 204)
    val shown = json(get("/api/v1/databases")).toString
    assert(shown.contains("lpheader"))
    assert(!shown.contains("ignored_db"), "query param must not win")
  }

  test("admin stores persist across server instances (file-backed)") {
    val created = json(post("/api/v1/retention",
      j("name" -> "persist-check", "database" -> "default", "retention_days" -> 14)))
    val id = created.get("id").asLong()
    // a second server over the same root sees the policy
    val server2 = new HttpServer(spark, root)
    val base2 = s"http://127.0.0.1:${server2.start()}"
    try {
      val r = client.send(HttpRequest.newBuilder(
        URI.create(s"$base2/api/v1/retention/$id")).GET().build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(r.statusCode() == 200)
      assert(mapper.readTree(r.body()).get("name").asText() == "persist-check")
    } finally server2.stop()
  }

  test("backup: create -> status -> list -> get -> restore(confirm) -> delete") {
    val base0 = 1717300000000000L
    assert(post("/api/v1/write/msgpack",
      payload("bkm", (0 until 6).map(base0 + _ * 1000000L))).statusCode() == 204)
    val nBefore = queryCount("SELECT count(*) AS n FROM bkm")

    def waitDone(): com.fasterxml.jackson.databind.JsonNode = {
      var st = json(get("/api/v1/backup/status"))
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (st.get("status").asText() == "running" &&
          System.nanoTime() < deadline) {
        Thread.sleep(100); st = json(get("/api/v1/backup/status"))
      }
      assert(st.get("status").asText() == "completed", st.toString)
      st
    }

    val created = post("/api/v1/backup", Array.emptyByteArray)
    assert(created.statusCode() == 202, new String(created.body(), UTF_8))
    val id = json(created).get("backup_id").asText()
    waitDone()

    val listing = json(get("/api/v1/backup"))
    assert(listing.get("count").asInt() >= 1)
    val man = json(get(s"/api/v1/backup/$id"))
    assert(man.get("backup_id").asText() == id)
    assert(man.get("total_files").asLong() > 0)

    // restore without confirm is refused
    assert(post("/api/v1/backup/restore",
      j("backup_id" -> id)).statusCode() == 400)
    // traversal ids are refused before any path resolution
    assert(post("/api/v1/backup/restore",
      j("backup_id" -> "../../etc", "confirm" -> true)).statusCode() == 400)

    // destroy the measurement, restore, and the count comes back
    server.admin.deleteEnabled = true
    try {
      assert(post("/api/v1/delete",
        j("database" -> "default", "measurement" -> "bkm",
          "confirm" -> true)).statusCode() == 200)
    } finally server.admin.deleteEnabled = false
    val restored = post("/api/v1/backup/restore",
      j("backup_id" -> id, "confirm" -> true))
    assert(restored.statusCode() == 202, new String(restored.body(), UTF_8))
    waitDone()
    assert(queryCount("SELECT count(*) AS n FROM bkm") == nBefore)

    assert(delete(s"/api/v1/backup/$id").statusCode() == 200)
    assert(get(s"/api/v1/backup/$id").statusCode() == 404)
  }
}
