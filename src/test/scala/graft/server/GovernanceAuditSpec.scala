package graft.server

import graft.SparkSpec

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8

/** Governance quotas (rate limits, query quotas, per-query caps) and the
  * audit trail, end-to-end over a live socket (r8 verdict "What's
  * missing" #4/#5). */
class GovernanceAuditSpec extends SparkSpec {

  private lazy val root = tmpDir("graft_gov")
  private lazy val server = new HttpServer(spark, root,
    authToken = Some("govroot"))
  private lazy val base: String = s"http://127.0.0.1:${server.start()}"
  private val client = HttpClient.newHttpClient()
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def req(method: String, path: String, token: Option[String],
      body: Array[Byte] = Array.emptyByteArray): HttpResponse[String] = {
    var b = HttpRequest.newBuilder(URI.create(base + path))
    b = method match {
      case "GET" => b.GET()
      case "DELETE" => b.DELETE()
      case m => b.method(m, HttpRequest.BodyPublishers.ofByteArray(body))
    }
    token.foreach(t => b = b.header("Authorization", s"Bearer $t"))
    client.send(b.build(), HttpResponse.BodyHandlers.ofString())
  }
  private def jsonOf(r: HttpResponse[String]) = mapper.readTree(r.body())
  private def jb(kv: (String, Any)*): Array[Byte] = {
    val n = mapper.createObjectNode()
    kv.foreach {
      case (k, v: String) => n.put(k, v)
      case (k, v: Int) => n.put(k, v)
      case (k, v: Seq[_]) => val a = n.putArray(k); v.foreach(x => a.add(x.toString))
      case (k, v) => n.put(k, v.toString)
    }
    mapper.writeValueAsBytes(n)
  }
  private val Root = Some("govroot")

  // a limited token + some data
  private lazy val fixture: (String, Long) = {
    val lp = "gvm,host=a usage=1 1700000000000000000\n" +
      (1 to 19).map(i =>
        s"gvm,host=h$i usage=$i ${1700000000000000000L + i * 1000000000L}")
        .mkString("\n")
    assert(req("POST", "/write?db=default", Root,
      lp.getBytes(UTF_8)).statusCode() == 204)
    val r = req("POST", "/api/v1/auth/tokens", Root,
      jb("name" -> "limited", "permissions" -> Seq("read", "write")))
    val tok = jsonOf(r).get("token").asText()
    val all = jsonOf(req("GET", "/api/v1/auth/tokens", Root)).get("tokens")
    val id = (0 until all.size()).map(all.get)
      .find(_.get("name").asText() == "limited").get.get("id").asLong()
    (tok, id)
  }

  private def query(tok: String, sql: String): HttpResponse[String] =
    req("POST", "/api/v1/query", Some(tok),
      mapper.writeValueAsBytes(java.util.Collections.singletonMap("sql", sql)))

  test("sliding window: limit inside the window, admits after it slides") {
    var now = 1000000L
    val w = new Governance.SlidingWindow(60000L, 60, 3, () => now)
    assert(w.allow() && w.allow() && w.allow())
    assert(!w.allow(), "4th call inside the window must be denied")
    assert(w.retryAfterSec() >= 1)
    now += 61000L
    assert(w.allow(), "window slid past all hits")
  }

  test("quota tracker: hour cap, resets on the hour roll") {
    var now = 5000000L
    val t = new Governance.QuotaTracker(2, 0, () => now)
    assert(t.allowQuery()._1 && t.allowQuery()._1)
    val (ok3, reason) = t.allowQuery()
    assert(!ok3 && reason.contains("2 queries per hour"))
    now += 3600001L
    assert(t.allowQuery()._1, "hour window rolled")
  }

  test("rate limit enforced on the query surface: 429 with Retry-After") {
    val (tok, id) = fixture
    assert(req("PUT", s"/api/v1/governance/policies/$id", Root,
      jb("rate_limit_per_minute" -> 2)).statusCode() == 200)
    assert(query(tok, "SELECT 1 AS one").statusCode() == 200)
    assert(query(tok, "SELECT 1 AS one").statusCode() == 200)
    val third = query(tok, "SELECT 1 AS one")
    assert(third.statusCode() == 429, third.body())
    assert(third.headers().firstValue("Retry-After").isPresent)
    assert(jsonOf(third).get("error").asText().contains("Rate limit exceeded"))
    // the static root token has no policy — unaffected
    assert(query("govroot", "SELECT 1 AS one").statusCode() == 200)
    // drop the policy: token flows again
    assert(req("DELETE", s"/api/v1/governance/policies/$id", Root)
      .statusCode() == 200)
    assert(query(tok, "SELECT 1 AS one").statusCode() == 200)
  }

  test("per-query row cap from the policy bounds the envelope") {
    val (tok, id) = fixture
    assert(req("PUT", s"/api/v1/governance/policies/$id", Root,
      jb("max_rows_per_query" -> 5)).statusCode() == 200)
    try {
      val r = query(tok, "SELECT host FROM gvm ORDER BY host")
      assert(r.statusCode() == 200)
      assert(jsonOf(r).get("row_count").asInt() == 5,
        s"row cap must bound the result: ${r.body().take(300)}")
      // root token is uncapped
      val rr = query("govroot", "SELECT host FROM gvm ORDER BY host")
      assert(jsonOf(rr).get("row_count").asInt() == 20)
    } finally req("DELETE", s"/api/v1/governance/policies/$id", Root)
  }

  test("simple read: the policy's max scan duration cancels a slow read") {
    val (tok, id) = fixture
    assert(req("PUT", s"/api/v1/governance/policies/$id", Root,
      jb("max_scan_duration_sec" -> 1)).statusCode() == 200)
    // the subquery counts 400G generated rows: minutes uncancelled
    val slow = "SELECT count(*) FROM range(0, 400000000000, 1, 4)"
    val path = "/api/v1/query/gvm?where=" +
      java.net.URLEncoder.encode(s"usage > ($slow)", UTF_8)
    try {
      val t0 = System.nanoTime()
      val fut = client.sendAsync(
        HttpRequest.newBuilder(URI.create(base + path))
          .header("Authorization", s"Bearer $tok").GET().build(),
        HttpResponse.BodyHandlers.ofString())
      val outcome = scala.util.Try(fut.get(30, java.util.concurrent.TimeUnit.SECONDS))
      val elapsed = (System.nanoTime() - t0) / 1e9
      assert(elapsed < 30, s"the read ran past its 1 s cap: $elapsed s")
      outcome.foreach(r => assert(!r.body().contains("\"row_count\""),
        s"a cancelled read must not deliver a complete envelope: ${r.body().take(300)}"))
      val history = jsonOf(req("GET", "/api/v1/queries/history", Root)).get("queries")
      val entry = (0 until history.size()).map(history.get)
        .find(_.get("sql").asText().contains(slow))
      assert(entry.map(_.get("status").asText()).contains("cancelled"), history.toString)
    } finally {
      req("DELETE", s"/api/v1/governance/policies/$id", Root)
      // a read the cap missed must not run on into later tests
      val active = jsonOf(req("GET", "/api/v1/queries", Root)).get("queries")
      (0 until active.size()).map(active.get(_).get("query_id").asText())
        .foreach(q => req("POST", s"/api/v1/query/$q/cancel", Root))
    }
  }

  test("partial policy PUT merges over the existing caps (no silent wipe)") {
    val (_, id) = fixture
    assert(req("PUT", s"/api/v1/governance/policies/$id", Root,
      jb("max_rows_per_query" -> 5, "max_queries_per_day" -> 500))
      .statusCode() == 200)
    try {
      // adding a rate limit must not reset the other caps to unlimited
      assert(req("PUT", s"/api/v1/governance/policies/$id", Root,
        jb("rate_limit_per_minute" -> 100)).statusCode() == 200)
      val p = jsonOf(req("GET", s"/api/v1/governance/policies/$id", Root))
        .get("policy")
      assert(p.get("rate_limit_per_minute").asInt() == 100)
      assert(p.get("max_rows_per_query").asInt() == 5, p.toString)
      assert(p.get("max_queries_per_day").asInt() == 500, p.toString)
    } finally req("DELETE", s"/api/v1/governance/policies/$id", Root)
  }

  test("query quota enforced and visible in usage") {
    val (tok, id) = fixture
    assert(req("PUT", s"/api/v1/governance/policies/$id", Root,
      jb("max_queries_per_hour" -> 2)).statusCode() == 200)
    try {
      assert(query(tok, "SELECT 1 AS one").statusCode() == 200)
      assert(query(tok, "SELECT 1 AS one").statusCode() == 200)
      val over = query(tok, "SELECT 1 AS one")
      assert(over.statusCode() == 429)
      assert(jsonOf(over).get("error").asText().contains("quota"))
      val usage = jsonOf(req("GET", s"/api/v1/governance/usage/$id", Root))
      assert(usage.get("usage").get("queries_this_hour").asInt() == 2)
    } finally req("DELETE", s"/api/v1/governance/policies/$id", Root)
  }

  test("audit trail records writes, queries, token lifecycle, and auth failures") {
    val (tok, _) = fixture
    query(tok, "SELECT 1 AS one")
    req("POST", "/api/v1/query", Some("bogus-token"),
      mapper.writeValueAsBytes(java.util.Collections.singletonMap("sql", "SELECT 1")))
    // the audit enqueue happens after the response hits the wire —
    // poll briefly so the last request's event has landed
    def events = {
      val logs = jsonOf(req("GET", "/api/v1/audit/logs?limit=1000", Root))
      assert(logs.get("success").asBoolean())
      (0 until logs.get("logs").size()).map(logs.get("logs").get)
    }
    def has(tpe: String, actor: String): Boolean = {
      val deadline = System.nanoTime() + 5L * 1000000000L
      var found = false
      while (!found && System.nanoTime() < deadline) {
        found = events.exists(e =>
          e.get("event_type").asText() == tpe && e.get("actor").asText() == actor)
        if (!found) Thread.sleep(50)
      }
      found
    }
    assert(has("data.write", "static-root"), events.map(_.toString).mkString("\n"))
    assert(has("data.query", "limited"))
    assert(has("token.created", "static-root"))
    assert(has("auth.failed", "anonymous"),
      events.map(_.toString).mkString("\n"))
    // filters narrow
    val only = jsonOf(req("GET",
      "/api/v1/audit/logs?event_type=data.query&actor=limited&limit=1000", Root))
    val oe = (0 until only.get("logs").size()).map(only.get("logs").get)
    assert(oe.nonEmpty && oe.forall(e =>
      e.get("event_type").asText() == "data.query" &&
        e.get("actor").asText() == "limited"))
    // stats aggregate
    val stats = jsonOf(req("GET", "/api/v1/audit/stats", Root))
    assert(stats.get("stats").get("data.query").asLong() >= 1)
    // GET requests are not audited by default (include_reads off)
    assert(!events.exists(e => e.get("method").asText() == "GET"))
  }

  test("governance policies persist across instances") {
    val (_, id) = fixture
    assert(req("PUT", s"/api/v1/governance/policies/$id", Root,
      jb("max_rows_per_query" -> 7)).statusCode() == 200)
    try {
      val g2 = new Governance(root, spark.sparkContext.hadoopConfiguration)
      assert(g2.get(id).exists(_.maxRowsPerQuery == 7),
        "a fresh instance must load the persisted policy")
    } finally req("DELETE", s"/api/v1/governance/policies/$id", Root)
  }

  test("audit segments age out past the retention window") {
    val aroot = tmpDir("graft_audit_ret")
    val audit = new Audit(aroot, spark.sparkContext.hadoopConfiguration)
    audit.flushBatchSize = 1
    audit.record("POST", "/api/v1/query", 200, 1, "a", "", "")
    audit.flush() // one young segment
    val dir = new java.io.File(aroot, "_admin/audit")
    val seg = dir.listFiles().filter(_.getName.endsWith(".jsonl")).head
    // forge an expired sibling: same format, 40-day-old embedded millis
    val oldMs = System.currentTimeMillis() - 40L * 86400000L
    val old = new java.io.File(dir, f"audit-$oldMs%013d-000001.jsonl")
    java.nio.file.Files.copy(seg.toPath, old.toPath)
    audit.record("POST", "/api/v1/query", 200, 1, "a", "", "")
    audit.flush() // write triggers the 30-day sweep
    val names = dir.listFiles().map(_.getName).filter(_.endsWith(".jsonl"))
    assert(!names.contains(old.getName), "expired segment must be deleted")
    assert(names.length == 2, names.mkString(","))
  }

  test("age-based flush: a lone event becomes durable without further traffic") {
    val aroot = tmpDir("graft_audit_age")
    val audit = new Audit(aroot, spark.sparkContext.hadoopConfiguration)
    audit.flushMaxAgeMs = 500L // default 5 s, shortened for the spec
    audit.record("POST", "/api/v1/query", 200, 1, "solo", "", "")
    audit.flush() // enqueue -> pending; far below flushBatchSize (256)
    val dir = new java.io.File(aroot, "_admin/audit")
    assert(dir.listFiles() == null ||
      !dir.listFiles().exists(_.getName.endsWith(".jsonl")),
      "young single event must still be pending")
    // NO further record/flush calls: the background age flusher must
    // write the partial segment on its own (r9 verdict #4)
    val deadline = System.currentTimeMillis() + 10000L
    while (System.currentTimeMillis() < deadline &&
      (dir.listFiles() == null ||
        !dir.listFiles().exists(_.getName.endsWith(".jsonl"))))
      Thread.sleep(100)
    val segs = Option(dir.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".jsonl"))
    assert(segs.length == 1, "aged partial segment must be durable")
    // crash-replay: a FRESH instance reads the segment back
    val replay = new Audit(aroot, spark.sparkContext.hadoopConfiguration)
    val lines = replay.query(actor = Some("solo"))
    assert(lines.size == 1 && lines.head.contains("data.query"))
    audit.close(); replay.close()
  }

  test("governance and audit routes are admin-gated") {
    val (tok, id) = fixture
    assert(req("GET", "/api/v1/governance/policies", Some(tok)).statusCode() == 403)
    assert(req("GET", "/api/v1/audit/logs", Some(tok)).statusCode() == 403)
    assert(req("PUT", s"/api/v1/governance/policies/$id", Some(tok),
      jb("rate_limit_per_minute" -> 1)).statusCode() == 403)
  }

  test("audit measurement is the route's :measurement capture, not a path segment") {
    fixture
    def event(path: String): Option[com.fasterxml.jackson.databind.JsonNode] = {
      val deadline = System.nanoTime() + 5L * 1000000000L
      var found: Option[com.fasterxml.jackson.databind.JsonNode] = None
      while (found.isEmpty && System.nanoTime() < deadline) {
        val logs = jsonOf(req("GET", "/api/v1/audit/logs?limit=1000", Root)).get("logs")
        found = (0 until logs.size()).map(logs.get).find(_.get("path").asText() == path)
        if (found.isEmpty) Thread.sleep(50)
      }
      found
    }
    val sql = mapper.writeValueAsBytes(java.util.Collections.singletonMap("sql", "SELECT 1 AS one"))
    for (wire <- Seq("arrow", "msgpack", "estimate")) {
      assert(req("POST", s"/api/v1/query/$wire", Root, sql).statusCode() == 200)
      val e = event(s"/api/v1/query/$wire")
      assert(e.nonEmpty, s"no audit event for $wire")
      assert(!e.get.has("measurement"), e.get.toString)
    }
    server.audit.includeReads = true
    try {
      assert(req("GET", "/api/v1/query/gvm?limit=1", Root).statusCode() == 200)
      assert(event("/api/v1/query/gvm").map(_.get("measurement").asText()).contains("gvm"))
    } finally server.audit.includeReads = false
  }

  test("token sub-routes are audited by their own action") {
    assert(Audit.classify("POST", "/api/v1/auth/tokens/7/revoke", 200) == "token.revoked")
    assert(Audit.classify("POST", "/api/v1/auth/tokens/7/teams", 201) == "token.team_added")
    assert(Audit.classify("DELETE", "/api/v1/auth/tokens/7/teams/3", 200) == "token.team_removed")
    assert(Audit.classify("POST", "/api/v1/auth/tokens", 201) == "token.created")
    assert(Audit.classify("POST", "/api/v1/auth/tokens/7/rotate", 200) == "token.rotated")
    assert(Audit.classify("DELETE", "/api/v1/auth/tokens/7", 200) == "token.deleted")
  }
}
