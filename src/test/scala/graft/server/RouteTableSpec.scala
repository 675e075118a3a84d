package graft.server

import graft.SparkSpec

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import scala.jdk.CollectionConverters._

/** Walks every row of the server's route table over a live socket: each
  * route answers 401 without a token, 403 to a token without its
  * declared permission, neither to a token with it, sheds under the
  * overload gate exactly when it is declared gated, and counts its
  * requests under its own template in `/api/v1/metrics/endpoints`. */
class RouteTableSpec extends SparkSpec {

  private lazy val root = tmpDir("graft_routes")
  private lazy val server = {
    val s = new HttpServer(spark, root, authToken = Some("tablesekrit"))
    s.rbac.enabled = true
    s.admin.deleteEnabled = true // else POST /api/v1/delete answers its own 403
    s
  }
  private lazy val base: String = s"http://127.0.0.1:${server.start()}"
  private val client = HttpClient.newHttpClient()
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def req(method: String, path: String, token: Option[String]): HttpResponse[String] = {
    var b = HttpRequest.newBuilder(URI.create(base + path))
    b = method match {
      case "GET" => b.GET()
      case "DELETE" => b.DELETE()
      case m => b.method(m, HttpRequest.BodyPublishers.noBody())
    }
    token.foreach(t => b = b.header("Authorization", s"Bearer $t"))
    client.send(b.build(), HttpResponse.BodyHandlers.ofString())
  }

  /** One token per permission set; ids in sample paths name no record,
    * so no walk request changes these tokens. */
  private lazy val tokens: Map[String, String] =
    Map("none" -> Nil, "read" -> Seq("read"), "write" -> Seq("write"),
      "rw" -> Seq("read", "write"), "admin" -> Seq("admin")).map { case (name, perms) =>
      val n = mapper.createObjectNode()
      n.put("name", s"table_$name")
      val a = n.putArray("permissions"); perms.foreach(a.add)
      val r = client.send(HttpRequest.newBuilder(URI.create(base + "/api/v1/auth/tokens"))
        .header("Authorization", "Bearer tablesekrit")
        .POST(HttpRequest.BodyPublishers.ofByteArray(mapper.writeValueAsBytes(n))).build(),
        HttpResponse.BodyHandlers.ofString())
      assert(r.statusCode() == 201, r.body())
      name -> mapper.readTree(r.body()).get("token").asText()
    }

  private def holding(p: Perm): String = tokens(p match {
    case Perm.Authenticated => "none"
    case Perm.Read => "read"
    case Perm.Write => "write"
    case Perm.Admin | Perm.RbacAdmin => "admin"
  })

  private def lacking(p: Perm): Seq[String] = (p match {
    case Perm.Authenticated => Nil
    case Perm.Read => Seq("none", "write")
    case Perm.Write => Seq("none", "read")
    case Perm.Admin | Perm.RbacAdmin => Seq("none", "rw")
  }).map(tokens)

  /** A concrete path for a template; ids and names match no record. */
  private def sample(template: String): String =
    template.split('/').map {
      case ":id" | ":teamId" => "999999"
      case ":type" => "system"
      case s if s.startsWith(":") => "nosuch"
      case s => s
    }.mkString("/")

  private def endpointKeys(): Set[String] = {
    val eps = mapper.readTree(req("GET", "/api/v1/metrics/endpoints",
      Some(tokens("none"))).body()).get("endpoints")
    (0 until eps.size()).map(eps.get(_).get("endpoint").asText()).toSet
  }

  test("every route: 401 without a token, 403 without its permission, through with it") {
    val routes = server.routes
    assert(routes.map(_.key).distinct.size == routes.size, "duplicate route rows")
    for (r <- routes) {
      val path = sample(r.template)
      assert(req(r.method, path, None).statusCode() == 401, r.key)
      lacking(r.perm).foreach { t =>
        val res = req(r.method, path, Some(t))
        assert(res.statusCode() == 403 &&
          res.body().contains(s"Permission denied: ${r.perm.name} required"), s"${r.key}: ${res.body()}")
      }
      val res = req(r.method, path, Some(holding(r.perm)))
      assert(res.statusCode() != 401 && res.statusCode() != 403, s"${r.key}: ${res.body()}")
    }
    // each route's requests land under its own template: no sample path
    // was taken by an earlier row, and no other key appears
    val keys = endpointKeys()
    assert(routes.map(_.key).toSet -- keys == Set.empty)
    assert(keys -- routes.map(_.key) -- Set("UNMATCHED", "OPTIONS *") == Set.empty)
  }

  test("the RBAC feature gate follows the admin check on its routes only") {
    val rbacRoutes = server.routes.filter(_.perm == Perm.RbacAdmin)
    assert(rbacRoutes.size == 20)
    server.rbac.enabled = false
    try server.routes.foreach { r =>
      val res = req(r.method, sample(r.template), Some(tokens("admin")))
      val gate = res.statusCode() == 403 && res.body().contains("RBAC is not enabled")
      assert(gate == (r.perm == Perm.RbacAdmin), s"${r.key}: ${res.body()}")
      if (r.perm == Perm.RbacAdmin)
        assert(req(r.method, sample(r.template), Some(tokens("rw"))).body()
          .contains("Permission denied: admin required"), r.key)
    } finally server.rbac.enabled = true
  }

  test("the overload gate sheds exactly the routes declared gated") {
    assert(server.routes.filter(_.gated).map(_.key).toSet == Set(
      "POST /api/v1/query", "POST /api/v1/query/arrow", "POST /api/v1/query/msgpack",
      "POST /api/v1/query/estimate", "GET /api/v1/query/:measurement"))
    val gate = server.overloadGate
    val cap = gate.maxInFlight
    gate.maxInFlight = 1
    assert(gate.tryAcquire().isEmpty) // hold the one slot
    try server.routes.foreach { r =>
      val res = req(r.method, sample(r.template), Some(tokens("admin")))
      assert((res.statusCode() == 503) == r.gated, s"${r.key}: ${res.body()}")
    } finally { gate.release(); gate.maxInFlight = cap }
  }

  test("an unmatched path is 401 without a token and 404 with any token") {
    for (path <- Seq("/api/v1/retention/x/y", "/api/v1/auth/nowhere", "/nowhere")) {
      assert(req("GET", path, None).statusCode() == 401)
      val res = req("GET", path, Some(tokens("none")))
      assert(res.statusCode() == 404, res.body())
      val body = mapper.readTree(res.body())
      assert(body.get("error").asText() == s"no route: GET $path")
      assert(body.get("timestamp").asText().nonEmpty)
    }
    assert(endpointKeys().contains("UNMATCHED"))
  }

  test("the auth and admin planes answer errors in the dispatcher's envelope") {
    def envelope(r: HttpResponse[String]): (Int, Seq[String], String) = {
      val b = mapper.readTree(r.body())
      assert(!b.get("success").asBoolean() && b.get("timestamp").asText().nonEmpty, r.body())
      (r.statusCode(), b.fieldNames().asScala.toSeq.sorted, b.get("error").asText())
    }
    val fields = Seq("error", "success", "timestamp")
    assert(envelope(req("GET", "/nowhere", Some(tokens("none")))) ==
      ((404, fields, "no route: GET /nowhere")))
    assert(envelope(req("GET", "/api/v1/auth/tokens", Some(tokens("read")))) ==
      ((403, fields, "Permission denied: admin required")))
    assert(envelope(req("GET", "/api/v1/auth/tokens/999999", Some(tokens("admin")))) ==
      ((404, fields, "Token not found")))
    assert(envelope(req("POST", "/api/v1/retention/9/execute", Some(tokens("admin")))) ==
      ((404, fields, "retention policy not found: 9")))
  }
}
