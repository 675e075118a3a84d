package graft.server

import graft.SparkSpec

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

/** Socket e2e tests for the observability subroutes: memory snapshot,
  * query-pool gauges, per-endpoint stats, sampled time-series, and the
  * application log ring.
  */
class ObservabilitySpec extends SparkSpec {

  private lazy val root = tmpDir("graft_obs")
  private lazy val server = new HttpServer(spark, root)
  private lazy val base: String = s"http://127.0.0.1:${server.start()}"
  private val client = HttpClient.newHttpClient()
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def get(path: String): HttpResponse[Array[Byte]] =
    client.send(HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
      HttpResponse.BodyHandlers.ofByteArray())

  private def post(path: String, body: Array[Byte]): HttpResponse[Array[Byte]] =
    client.send(HttpRequest.newBuilder(URI.create(base + path))
      .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
      HttpResponse.BodyHandlers.ofByteArray())

  private def json(r: HttpResponse[Array[Byte]]) = mapper.readTree(r.body())

  test("memory metrics expose JVM heap, GC, and runtime gauges") {
    val m = json(get("/api/v1/metrics/memory"))
    assert(m.get("memory").get("heap_used_bytes").asLong() > 0)
    assert(m.get("memory").get("heap_committed_bytes").asLong() > 0)
    assert(m.get("memory").get("gc_collectors").size() >= 1)
    assert(m.get("runtime").get("threads").asInt() > 0)
    assert(m.get("runtime").get("num_cpu").asInt() >= 1)
  }

  test("query-pool metrics track the registry and Spark scheduler") {
    val before = json(get("/api/v1/metrics/query-pool"))
    assert(before.get("pool").get("active_queries").asInt() == 0)
    assert(before.get("pool").get("default_parallelism").asInt() >= 1)
    post("/api/v1/query", mapper.writeValueAsBytes(
      java.util.Collections.singletonMap("sql", "SELECT 1 AS x")))
    val after = json(get("/api/v1/metrics/query-pool"))
    assert(after.get("pool").get("queries_total").asLong() >
      before.get("pool").get("queries_total").asLong())
  }

  test("endpoint metrics aggregate per-route counts with id-normalization") {
    get("/health"); get("/health")
    post("/api/v1/query/12345/cancel", Array.emptyByteArray) // 404, counted
    val m = json(get("/api/v1/metrics/endpoints"))
    assert(m.get("http").get("requests_total").asLong() >= 3)
    val eps = m.get("endpoints")
    val keys = (0 until eps.size()).map(eps.get(_).get("endpoint").asText())
    assert(keys.contains("GET /health"))
    // the numeric query id collapses to :id — bounded route cardinality
    assert(keys.contains("POST /api/v1/query/:id/cancel"))
    assert(keys.forall(!_.matches(".*/[0-9]+.*")))
    val health = (0 until eps.size()).map(eps.get(_))
      .find(_.get("endpoint").asText() == "GET /health").get
    assert(health.get("requests_total").asLong() >= 2)
    assert(health.get("latency_avg_ms").asDouble() >= 0)
  }

  test("endpoint keys are route templates: names share a key, unknown paths one") {
    def keys = {
      val eps = json(get("/api/v1/metrics/endpoints")).get("endpoints")
      (0 until eps.size()).map(eps.get(_).get("endpoint").asText()).toSet
    }
    get("/api/v1/query/cpu"); get("/api/v1/query/mem")
    val named = keys
    assert(named.contains("GET /api/v1/query/:measurement"))
    assert(!named.exists(k => k.endsWith("/cpu") || k.endsWith("/mem")), named)
    (1 to 300).foreach(i => get(s"/no/such/path/n$i"))
    val after = keys
    assert(after -- named == Set("UNMATCHED"), after -- named)
  }

  test("time-series rings sample system/application/api; bad type is 400") {
    server.obs.sampleNow()
    val sys = json(get("/api/v1/metrics/timeseries/system?duration_minutes=5"))
    assert(sys.get("points_count").asInt() >= 1)
    val p = sys.get("data").get(sys.get("data").size() - 1)
    assert(p.get("heap_used_bytes").asDouble() > 0)
    assert(p.get("threads").asDouble() > 0)
    val app = json(get("/api/v1/metrics/timeseries/application"))
    assert(app.get("type").asText() == "application")
    val api = json(get("/api/v1/metrics/timeseries/api"))
    assert(api.get("points_count").asInt() >= 1)
    assert(get("/api/v1/metrics/timeseries/bogus").statusCode() == 400)
  }

  test("log ring captures real application log events with filters") {
    get("/health") // ensure server (and the log appender) is up
    val logger = org.slf4j.LoggerFactory.getLogger("graft.obs.ringtest")
    logger.warn("obs-ring-test-warn")
    logger.error("obs-ring-test-error")
    val all = json(get("/api/v1/logs?limit=200"))
    val msgs = (0 until all.get("logs").size()).map(all.get("logs").get(_))
    assert(msgs.exists(_.get("message").asText() == "obs-ring-test-warn"),
      s"warn not captured (${all.get("count").asInt()} entries)")
    // level filter
    val errs = json(get("/api/v1/logs?level=error&limit=200"))
    val errMsgs = (0 until errs.get("logs").size()).map(errs.get("logs").get(_))
    assert(errMsgs.exists(_.get("message").asText() == "obs-ring-test-error"))
    assert(errMsgs.forall(_.get("level").asText() == "ERROR"))
    // limit honored
    assert(json(get("/api/v1/logs?limit=1")).get("logs").size() <= 1)
  }
}
