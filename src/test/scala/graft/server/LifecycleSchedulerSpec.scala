package graft.server

import graft.SparkSpec
import graft.query.MsgPackEncoder

import java.io.ByteArrayOutputStream
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8

/** The server's lifecycle tick: continuous queries, retention and
  * compaction run on `tick(nowUs)` with no HTTP trigger, through the
  * same job bodies and single-flight guards as their routes. Every case
  * but the loop's own drives the tick with an injected clock. */
class LifecycleSchedulerSpec extends SparkSpec {

  private val H = 3600L * 1000000L
  private val S = 1000000L
  private val OldUs = 1700000000000000L // 2023-11-14T22:13:20Z
  private val OldHour = OldUs - Math.floorMod(OldUs, H)
  private val client = HttpClient.newHttpClient()
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** A started server and the HTTP calls the cases make against it. */
  private final class Api(val server: HttpServer) {
    private val base = s"http://127.0.0.1:${server.start()}"
    def lifecycle: Lifecycle = server.admin.lifecycle

    def send(method: String, path: String, body: String): HttpResponse[Array[Byte]] =
      client.send(HttpRequest.newBuilder(URI.create(base + path))
        .method(method, HttpRequest.BodyPublishers.ofString(body)).build(),
        HttpResponse.BodyHandlers.ofByteArray())
    def post(path: String, body: String): HttpResponse[Array[Byte]] = send("POST", path, body)
    def get(path: String): com.fasterxml.jackson.databind.JsonNode =
      mapper.readTree(send("GET", path, "").body())

    def count(sql: String): Long = {
      val r = post("/api/v1/query",
        mapper.writeValueAsString(java.util.Collections.singletonMap("sql", sql)))
      assert(r.statusCode() == 200, s"$sql -> ${new String(r.body(), UTF_8)}")
      mapper.readTree(r.body()).get("data").get(0).get(0).asLong()
    }

    /** One msgpack write of `m`: a row per time, hosts h0/h1 alternating. */
    def write(m: String, timesUs: Seq[Long]): Unit = {
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
      val r = client.send(HttpRequest.newBuilder(URI.create(base + "/api/v1/write/msgpack"))
        .POST(HttpRequest.BodyPublishers.ofByteArray(out.toByteArray)).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(r.statusCode() == 204, new String(r.body(), UTF_8))
    }

    /** Create an hourly CQ counting `src` rows per host into `cq_out`. */
    def createCq(active: Boolean = true): Long = {
      val r = post("/api/v1/continuous_queries",
        s"""{"name":"by-host","database":"default","source_measurement":"src",
           |"destination_measurement":"cq_out","interval":"1h","tag_columns":["host"],
           |"query":"SELECT host, count(*) AS n FROM src WHERE time >= {start_time} AND time < {end_time} GROUP BY host",
           |"is_active":$active}""".stripMargin)
      assert(r.statusCode() == 201, new String(r.body(), UTF_8))
      mapper.readTree(r.body()).get("id").asLong()
    }

    /** Create a 30-day retention policy on `m`. */
    def createPolicy(m: String, active: Boolean = true): Long = {
      val r = post("/api/v1/retention",
        s"""{"name":"$m-30d","database":"default","measurement":"$m",
           |"retention_days":30,"is_active":$active}""".stripMargin)
      assert(r.statusCode() == 201, new String(r.body(), UTF_8))
      mapper.readTree(r.body()).get("id").asLong()
    }
  }

  private def withServer(root: String = tmpDir("graft_lifecycle"))(f: Api => Unit): Unit = {
    val server = new HttpServer(spark, root)
    try f(new Api(server)) finally server.stop()
  }

  test("a compaction tick leaves the merged rows visible to HTTP queries") {
    withServer() { api =>
      api.write("bgc", (0 until 4).map(OldUs + _ * S))
      api.write("bgc", (4 until 8).map(OldUs + _ * S))
      assert(api.count("SELECT count(*) FROM bgc") == 8)
      val tick = api.lifecycle.tick(OldHour + 2 * H)
      assert(tick.compaction.flatMap(_.hourly).count(_.compacted) == 1)
      // the tick's merge deleted both files the view had listed
      assert(api.count("SELECT count(*) FROM bgc") == 8)
    }
  }

  test("a CQ created over HTTP writes its destination rows on a tick, with no trigger") {
    withServer() { api =>
      api.write("src", (0 until 6).map(OldHour + 60 * S + _ * S))
      val id = api.createCq()
      // first run: the 1-hour lookback is the one window [OldHour, +1h)
      val tick = api.lifecycle.tick(OldHour + H + 30 * 60 * S)
      assert(tick.cq("by-host").map(e => (e.windowStartMicros, e.windowEndMicros)) ==
        Seq((OldHour, OldHour + H)))
      assert(api.count("SELECT count(*) FROM cq_out") == 2)
      assert(api.count("SELECT sum(n) FROM cq_out") == 6)
      assert(api.get(s"/api/v1/continuous_queries/$id")
        .get("last_execution_status").asText() == "success")
      assert(api.get(s"/api/v1/continuous_queries/$id/executions").size() == 1)
    }
  }

  test("a server restarted after missed intervals runs each missed window exactly once") {
    val root = tmpDir("graft_lifecycle")
    withServer(root) { api =>
      (0 until 4).foreach(h => api.write("src", Seq(OldHour + h * H + 60 * S)))
      api.createCq()
      assert(api.lifecycle.tick(OldHour + H + S).cq("by-host").map(_.windowStartMicros) ==
        Seq(OldHour))
    }
    // down for three intervals; the restarted server's first tick runs
    // the three missed windows in order, and the next tick none
    withServer(root) { api =>
      assert(api.lifecycle.tick(OldHour + 4 * H + S).cq("by-host").map(_.windowStartMicros) ==
        Seq(OldHour + H, OldHour + 2 * H, OldHour + 3 * H))
      assert(api.lifecycle.tick(OldHour + 4 * H + 2 * S).cq("by-host").isEmpty)
      assert(api.count("SELECT count(*) FROM cq_out") == 4)
      assert(api.count("SELECT count(DISTINCT time) FROM cq_out") == 4)
    }
  }

  test("an active retention policy deletes its expired hours on a tick") {
    withServer() { api =>
      val fresh = OldUs + 40L * 24 * H
      api.write("ret", (0 until 4).map(OldUs + _ * S))
      api.write("ret", (0 until 3).map(fresh + _ * S))
      val id = api.createPolicy("ret")
      val tick = api.lifecycle.tick(fresh + H)
      assert(tick.retention.map(r => (r.measurements, r.files, r.rows)) ==
        Seq((Seq("ret"), 1, 4L)))
      assert(api.count("SELECT count(*) FROM ret") == 3)
      val pol = api.get(s"/api/v1/retention/$id")
      assert(pol.get("last_execution_status").asText() == "success")
      assert(pol.get("last_deleted_count").asLong() == 4)
      // nothing left to expire: the next tick records no execution
      assert(api.lifecycle.tick(fresh + 2 * H).retention.isEmpty)
      assert(api.get(s"/api/v1/retention/$id/executions").size() == 1)
    }
  }

  test("an inactive CQ or retention policy does not run on a tick") {
    withServer() { api =>
      api.write("src", (0 until 4).map(OldHour + 60 * S + _ * S))
      api.write("old", (0 until 4).map(OldUs + _ * S))
      api.createCq(active = false)
      api.createPolicy("old", active = false)
      val tick = api.lifecycle.tick(OldHour + 40L * 24 * H)
      assert(tick.cq.isEmpty && tick.retention.isEmpty)
      assert(api.count("SELECT count(*) FROM old") == 4)
      assert(!api.server.catalog.listTables("default").contains("cq_out"))
    }
  }

  test("a tick skips a kind an HTTP call is running, and the call skips a running tick") {
    withServer() { api =>
      api.write("src", Seq(OldUs))
      val cq = api.createCq()
      val admin = api.server.admin
      val now = OldHour + 2 * H
      Seq(
        (admin.cqBusy, "cq", s"/api/v1/continuous_queries/$cq/execute"),
        (admin.retentionBusy, "retention", "/api/v1/schedulers/retention/trigger"),
        (admin.compBusy, "compaction", "/api/v1/compaction/trigger")
      ).foreach { case (busy, kind, route) =>
        // `exclusive` holds the guard as a running tick or call would
        admin.exclusive(busy) {
          assert(api.post(route, "{}").statusCode() == 409, route)
          assert(api.lifecycle.tick(now).skipped == Set(kind))
        }
        assert(api.get("/api/v1/schedulers").get(s"${kind}_scheduler")
          .get("last_tick").get("status").asText() == "skipped")
      }
      assert(api.lifecycle.tick(now).skipped.isEmpty)
    }
  }

  test("start ticks on the loop's thread; after stop() no tick runs") {
    withServer() { api =>
      val lc = api.lifecycle
      assert(!lc.running && api.get("/api/v1/schedulers").get("last_tick_time").isNull)
      lc.start(20L)
      val deadline = System.currentTimeMillis() + 60000
      while (lc.tickCount < 2 && System.currentTimeMillis() < deadline) Thread.sleep(10)
      assert(lc.tickCount >= 2)
      val st = api.get("/api/v1/schedulers")
      assert(st.get("running").asBoolean() && st.get("last_tick_time").isTextual)
      assert(st.get("compaction_scheduler").get("last_tick").get("status").asText() == "ok")
      // the compaction route reports the same lifecycle state
      val sched = api.get("/api/v1/compaction/status").get("schedulers").get("lifecycle")
      assert(sched.get("running").asBoolean() &&
        sched.get("last_tick").get("status").asText() == "ok")
      lc.stop()
      val stopped = lc.tickCount
      Thread.sleep(200) // ten intervals
      assert(lc.tickCount == stopped && !lc.running)
      assert(!api.get("/api/v1/schedulers").get("running").asBoolean())
    }
  }
}
