package graft.server

import com.fasterxml.jackson.databind.JsonNode
import com.sun.net.httpserver.HttpExchange

/** Token + RBAC HTTP plane — the reference's auth_routes.go /
  * rbac_routes.go surface over [[AuthStore]]/[[Rbac]]:
  *
  *  - `GET /api/v1/auth/verify` — self-check for any valid token;
  *  - `/api/v1/auth/tokens` CRUD + rotate/revoke (admin-gated, like
  *    auth_routes.go:41-47);
  *  - `/api/v1/auth/tokens/{id}/teams` membership CRUD +
  *    `/{id}/permissions` effective view (auth_routes.go:446-458);
  *  - `/api/v1/rbac/...` organizations/teams/roles/measurement
  *    permissions CRUD (rbac_routes.go:79-116), 403 when RBAC is off
  *    (the reference's license gate).
  *
  * Envelope shapes mirror the reference handlers (`{"success":…}`,
  * created = 201, missing = 404, validation = 400). */
final class AuthApi(srv: HttpServer) {

  import srv.{body, fail, oText, q, sendJson => ok}

  private def oBool(n: JsonNode, f: String): Option[Boolean] =
    Option(n.get(f)).filterNot(_.isNull).map(_.asBoolean)
  private def oLong(n: JsonNode, f: String): Option[Long] =
    Option(n.get(f)).filterNot(_.isNull).map(_.asLong)
  private def oArr(n: JsonNode, f: String): Option[Seq[String]] =
    Option(n.get(f)).filterNot(_.isNull).filter(_.isArray)
      .map(a => (0 until a.size()).map(a.get(_).asText))

  // ---- JSON renderers -----------------------------------------------------

  private def orgJson(o: srv.rbac.Org): String =
    s"""{"id":${o.id},"name":${q(o.name)},"description":${q(o.description)},""" +
      s""""enabled":${o.enabled},"created_at":${q(o.createdAt)}}"""
  private def teamJson(t: srv.rbac.Team): String =
    s"""{"id":${t.id},"organization_id":${t.orgId},"name":${q(t.name)},""" +
      s""""description":${q(t.description)},"enabled":${t.enabled},""" +
      s""""created_at":${q(t.createdAt)}}"""
  private def roleJson(r: srv.rbac.Role): String =
    s"""{"id":${r.id},"team_id":${r.teamId},""" +
      s""""database_pattern":${q(r.databasePattern)},""" +
      s""""permissions":${r.permissions.map(q).mkString("[", ",", "]")},""" +
      s""""created_at":${q(r.createdAt)}}"""
  private def measJson(m: srv.rbac.MeasPerm): String =
    s"""{"id":${m.id},"role_id":${m.roleId},""" +
      s""""measurement_pattern":${q(m.measurementPattern)},""" +
      s""""permissions":${m.permissions.map(q).mkString("[", ",", "]")},""" +
      s""""created_at":${q(m.createdAt)}}"""

  // ---- routes -------------------------------------------------------------

  /** This plane's slice of the server's route table: all but `verify`
    * admin-only, as RBAC grants never confer admin (auth_routes.go:41-47). */
  private[server] val routes: Seq[Route] = {
    import Perm._
    Seq(
      Route("GET", "/api/v1/auth/verify", Authenticated)((ex, _) => handleVerify(ex)),

      // ---- governance (internal/api/governance.go) -----------------------
      Route("GET", "/api/v1/governance/policies", Admin) { (ex, _) =>
        val ps = srv.governance.list().map(_.json)
        ok(ex, 200, s"""{"success":true,"policies":${ps.mkString("[", ",", "]")},"count":${ps.size}}""")
      },
      Route("POST", "/api/v1/governance/policies", Admin)((ex, _) => handleGovSet(ex, None)),
      Route("PUT", "/api/v1/governance/policies/:id", Admin)((ex, p) => handleGovSet(ex, Some(p("id").toLong))),
      Route("GET", "/api/v1/governance/policies/:id", Admin) { (ex, p) =>
        srv.governance.get(p("id").toLong) match {
          case Some(pol) => ok(ex, 200, s"""{"success":true,"policy":${pol.json}}""")
          case None => fail(ex, 404, "Policy not found")
        }
      },
      Route("DELETE", "/api/v1/governance/policies/:id", Admin) { (ex, p) =>
        if (srv.governance.delete(p("id").toLong))
          ok(ex, 200, """{"success":true,"message":"Policy deleted"}""")
        else fail(ex, 404, "Policy not found")
      },
      Route("GET", "/api/v1/governance/usage/:id", Admin)((ex, p) =>
        ok(ex, 200, s"""{"success":true,"usage":${srv.governance.usageJson(p("id").toLong)}}""")),

      // ---- audit (internal/api/audit_routes.go) --------------------------
      Route("GET", "/api/v1/audit/logs", Admin) { (ex, _) =>
        val params = srv.queryParams(ex)
        val logs = srv.audit.query(
          eventType = params.get("event_type"),
          actor = params.get("actor"),
          database = params.get("database"),
          limit = params.get("limit").flatMap(_.toIntOption).getOrElse(100))
        ok(ex, 200,
          s"""{"success":true,"logs":${logs.mkString("[", ",", "]")},"count":${logs.size}}""")
      },
      Route("GET", "/api/v1/audit/stats", Admin) { (ex, _) =>
        val st = srv.audit.stats().toSeq.sortBy(_._1)
          .map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
        ok(ex, 200, s"""{"success":true,"stats":$st}""")
      },

      Route("GET", "/api/v1/auth/tokens", Admin) { (ex, _) =>
        val ts = srv.tokens.list().map(_.json)
        ok(ex, 200, s"""{"success":true,"tokens":${ts.mkString("[", ",", "]")},"count":${ts.size}}""")
      },
      Route("POST", "/api/v1/auth/tokens", Admin)((ex, _) => handleCreate(ex)),
      Route("GET", "/api/v1/auth/tokens/:id", Admin) { (ex, p) =>
        srv.tokens.get(p("id").toLong) match {
          case Some(t) => ok(ex, 200, s"""{"success":true,"token":${t.json}}""")
          case None => fail(ex, 404, "Token not found")
        }
      },
      Route("PATCH", "/api/v1/auth/tokens/:id", Admin)((ex, p) => handleUpdate(ex, p("id").toLong)),
      Route("DELETE", "/api/v1/auth/tokens/:id", Admin) { (ex, p) =>
        val id = p("id").toLong
        if (srv.tokens.delete(id)) {
          // cascade: RBAC memberships and the governance policy are
          // keyed by token id — left behind they'd transfer to any
          // future token reusing the id
          srv.rbac.removeAllMemberships(id)
          srv.governance.delete(id)
          ok(ex, 200, """{"success":true,"message":"Token deleted"}""")
        } else fail(ex, 404, "Token not found")
      },
      Route("POST", "/api/v1/auth/tokens/:id/rotate", Admin) { (ex, p) =>
        srv.tokens.rotate(p("id").toLong) match {
          case Some(v) => ok(ex, 200,
            s"""{"success":true,"token":${q(v)},"message":"Token rotated successfully. Store this token securely - it cannot be retrieved again."}""")
          case None => fail(ex, 404, "Token not found")
        }
      },
      Route("POST", "/api/v1/auth/tokens/:id/revoke", Admin) { (ex, p) =>
        if (srv.tokens.revoke(p("id").toLong))
          ok(ex, 200, """{"success":true,"message":"Token revoked"}""")
        else fail(ex, 404, "Token not found")
      },
      Route("GET", "/api/v1/auth/tokens/:id/teams", Admin) { (ex, p) =>
        val ts = srv.rbac.tokenTeams(p("id").toLong).map(teamJson)
        ok(ex, 200, s"""{"success":true,"teams":${ts.mkString("[", ",", "]")},"count":${ts.size}}""")
      },
      Route("POST", "/api/v1/auth/tokens/:id/teams", RbacAdmin) { (ex, p) =>
        val id = p("id").toLong
        val n = body(ex)
        oLong(n, "team_id") match {
          case None => fail(ex, 400, "team_id is required")
          case Some(teamId) =>
            if (srv.tokens.get(id).isEmpty) fail(ex, 404, "Token not found")
            else {
              val m = srv.rbac.addMembership(id, teamId)
              ok(ex, 201,
                s"""{"success":true,"membership":{"id":${m.id},"token_id":${m.tokenId},"team_id":${m.teamId},"created_at":${q(m.createdAt)}}}""")
            }
        }
      },
      Route("DELETE", "/api/v1/auth/tokens/:id/teams/:teamId", RbacAdmin) { (ex, p) =>
        if (srv.rbac.removeMembership(p("id").toLong, p("teamId").toLong))
          ok(ex, 200, """{"success":true,"message":"Token removed from team"}""")
        else fail(ex, 404, "Membership not found")
      },
      Route("GET", "/api/v1/auth/tokens/:id/permissions", Admin) { (ex, p) =>
        srv.tokens.get(p("id").toLong) match {
          case None => fail(ex, 404, "Token not found")
          case Some(t) =>
            val ps = srv.rbac.effectivePermissions(t).map {
              case (db, meas, perms, source) =>
                val m = if (meas.isEmpty) "" else s""""measurement":${q(meas)},"""
                s"""{"database":${q(db)},$m"permissions":${perms.map(q).mkString("[", ",", "]")},"source":${q(source)}}"""
            }
            ok(ex, 200,
              s"""{"success":true,"permissions":${ps.mkString("[", ",", "]")},"rbac_enabled":${srv.rbac.enabled}}""")
        }
      },

      // ---- RBAC resources (rbac_routes.go) --------------------------------
      Route("GET", "/api/v1/rbac/organizations", RbacAdmin) { (ex, _) =>
        val os = srv.rbac.listOrgs().map(orgJson)
        ok(ex, 200, s"""{"success":true,"organizations":${os.mkString("[", ",", "]")},"count":${os.size}}""")
      },
      Route("POST", "/api/v1/rbac/organizations", RbacAdmin) { (ex, _) =>
        val n = body(ex)
        oText(n, "name") match {
          case None => fail(ex, 400, "Organization name is required")
          case Some(name) =>
            val o = srv.rbac.createOrg(name, oText(n, "description").getOrElse(""))
            ok(ex, 201, s"""{"success":true,"organization":${orgJson(o)}}""")
        }
      },
      Route("GET", "/api/v1/rbac/organizations/:id", RbacAdmin) { (ex, p) =>
        srv.rbac.getOrg(p("id").toLong) match {
          case Some(o) => ok(ex, 200, s"""{"success":true,"organization":${orgJson(o)}}""")
          case None => fail(ex, 404, "Organization not found")
        }
      },
      Route("PATCH", "/api/v1/rbac/organizations/:id", RbacAdmin) { (ex, p) =>
        val n = body(ex)
        srv.rbac.updateOrg(p("id").toLong, oText(n, "name"),
          oText(n, "description"), oBool(n, "enabled")) match {
          case Some(o) => ok(ex, 200, s"""{"success":true,"organization":${orgJson(o)}}""")
          case None => fail(ex, 404, "Organization not found")
        }
      },
      Route("DELETE", "/api/v1/rbac/organizations/:id", RbacAdmin) { (ex, p) =>
        if (srv.rbac.deleteOrg(p("id").toLong))
          ok(ex, 200, """{"success":true,"message":"Organization deleted"}""")
        else fail(ex, 404, "Organization not found")
      },

      Route("GET", "/api/v1/rbac/organizations/:id/teams", RbacAdmin) { (ex, p) =>
        val ts = srv.rbac.listTeams(p("id").toLong).map(teamJson)
        ok(ex, 200, s"""{"success":true,"teams":${ts.mkString("[", ",", "]")},"count":${ts.size}}""")
      },
      Route("POST", "/api/v1/rbac/organizations/:id/teams", RbacAdmin) { (ex, p) =>
        val n = body(ex)
        oText(n, "name") match {
          case None => fail(ex, 400, "Team name is required")
          case Some(name) =>
            val t = srv.rbac.createTeam(p("id").toLong, name,
              oText(n, "description").getOrElse(""))
            ok(ex, 201, s"""{"success":true,"team":${teamJson(t)}}""")
        }
      },
      Route("GET", "/api/v1/rbac/teams/:id", RbacAdmin) { (ex, p) =>
        srv.rbac.getTeam(p("id").toLong) match {
          case Some(t) => ok(ex, 200, s"""{"success":true,"team":${teamJson(t)}}""")
          case None => fail(ex, 404, "Team not found")
        }
      },
      Route("PATCH", "/api/v1/rbac/teams/:id", RbacAdmin) { (ex, p) =>
        val n = body(ex)
        srv.rbac.updateTeam(p("id").toLong, oText(n, "name"),
          oText(n, "description"), oBool(n, "enabled")) match {
          case Some(t) => ok(ex, 200, s"""{"success":true,"team":${teamJson(t)}}""")
          case None => fail(ex, 404, "Team not found")
        }
      },
      Route("DELETE", "/api/v1/rbac/teams/:id", RbacAdmin) { (ex, p) =>
        if (srv.rbac.deleteTeam(p("id").toLong))
          ok(ex, 200, """{"success":true,"message":"Team deleted"}""")
        else fail(ex, 404, "Team not found")
      },

      Route("GET", "/api/v1/rbac/teams/:id/roles", RbacAdmin) { (ex, p) =>
        val rs = srv.rbac.listRoles(p("id").toLong).map(roleJson)
        ok(ex, 200, s"""{"success":true,"roles":${rs.mkString("[", ",", "]")},"count":${rs.size}}""")
      },
      Route("POST", "/api/v1/rbac/teams/:id/roles", RbacAdmin) { (ex, p) =>
        val n = body(ex)
        (oText(n, "database_pattern"), oArr(n, "permissions")) match {
          case (Some(pat), Some(perms)) =>
            val r = srv.rbac.createRole(p("id").toLong, pat, perms)
            ok(ex, 201, s"""{"success":true,"role":${roleJson(r)}}""")
          case _ => fail(ex, 400, "database_pattern and permissions are required")
        }
      },
      Route("GET", "/api/v1/rbac/roles/:id", RbacAdmin) { (ex, p) =>
        srv.rbac.getRole(p("id").toLong) match {
          case Some(r) => ok(ex, 200, s"""{"success":true,"role":${roleJson(r)}}""")
          case None => fail(ex, 404, "Role not found")
        }
      },
      Route("PATCH", "/api/v1/rbac/roles/:id", RbacAdmin) { (ex, p) =>
        val n = body(ex)
        srv.rbac.updateRole(p("id").toLong, oText(n, "database_pattern"),
          oArr(n, "permissions")) match {
          case Some(r) => ok(ex, 200, s"""{"success":true,"role":${roleJson(r)}}""")
          case None => fail(ex, 404, "Role not found")
        }
      },
      Route("DELETE", "/api/v1/rbac/roles/:id", RbacAdmin) { (ex, p) =>
        if (srv.rbac.deleteRole(p("id").toLong))
          ok(ex, 200, """{"success":true,"message":"Role deleted"}""")
        else fail(ex, 404, "Role not found")
      },

      Route("GET", "/api/v1/rbac/roles/:id/measurements", RbacAdmin) { (ex, p) =>
        val ms = srv.rbac.listMeasPerms(p("id").toLong).map(measJson)
        ok(ex, 200, s"""{"success":true,"measurement_permissions":${ms.mkString("[", ",", "]")},"count":${ms.size}}""")
      },
      Route("POST", "/api/v1/rbac/roles/:id/measurements", RbacAdmin) { (ex, p) =>
        val n = body(ex)
        (oText(n, "measurement_pattern"), oArr(n, "permissions")) match {
          case (Some(pat), Some(perms)) =>
            val m = srv.rbac.createMeasPerm(p("id").toLong, pat, perms)
            ok(ex, 201, s"""{"success":true,"measurement_permission":${measJson(m)}}""")
          case _ => fail(ex, 400, "measurement_pattern and permissions are required")
        }
      },
      Route("DELETE", "/api/v1/rbac/measurement-permissions/:id", RbacAdmin) { (ex, p) =>
        if (srv.rbac.deleteMeasPerm(p("id").toLong))
          ok(ex, 200, """{"success":true,"message":"Measurement permission deleted"}""")
        else fail(ex, 404, "Measurement permission not found")
      })
  }

  /** reference auth_routes.go:55 verifyToken: identity echo for the
    * presented credential. */
  private def handleVerify(ex: HttpExchange): Unit =
    srv.tokenOf(ex) match {
      case Some(t) =>
        ok(ex, 200, s"""{"valid":true,"token_info":${t.json},""" +
          s""""permissions":${t.permissions.map(q).mkString("[", ",", "]")}}""")
      case None => // auth disabled: the dispatcher answered 401 otherwise
        ok(ex, 200, """{"valid":true,"token_info":null,"permissions":[]}""")
    }

  /** reference auth_routes.go:91 createToken, incl. the permissions
    * overload (absent = default read,write; explicit [] = RBAC-only)
    * and `expires_in` durations ("24h", "7d"). */
  private def handleCreate(ex: HttpExchange): Unit = {
    val n = body(ex)
    oText(n, "name") match {
      case None => fail(ex, 400, "Token name is required")
      case Some(name) =>
        val expiresAt = oText(n, "expires_in") match {
          case None => None
          case Some(s) =>
            val m = "^([0-9]+)([smhd])$".r.findFirstMatchIn(s)
            m match {
              case None =>
                fail(ex, 400, "Invalid expires_in format. Use duration like '24h' or '7d'")
                return
              case Some(g) =>
                val unit = g.group(2) match {
                  case "s" => 1L case "m" => 60L case "h" => 3600L
                  case _ => 86400L
                }
                Some(java.time.Instant.now()
                  .plusSeconds(g.group(1).toLong * unit).toString)
            }
        }
        try {
          val (value, _) = srv.tokens.create(name,
            oText(n, "description").getOrElse(""), oArr(n, "permissions"),
            expiresAt)
          ok(ex, 201, s"""{"success":true,"token":${q(value)},""" +
            """"message":"Token created successfully. Store this token securely - it cannot be retrieved again."}""")
        } catch {
          case e: IllegalArgumentException => fail(ex, 400, e.getMessage)
        }
    }
  }

  /** Create (POST, token_id in the body) or update (PUT /:token_id) a
    * governance policy — same upsert semantics as the reference's
    * keyed-by-token store. */
  private def handleGovSet(ex: HttpExchange, pathId: Option[Long]): Unit = {
    val n = body(ex)
    val tokenId = pathId.orElse(oLong(n, "token_id")).getOrElse {
      fail(ex, 400, "token_id is required"); return
    }
    // PUT merges over the existing policy (reference UpdatePolicy reads
    // the existing record first, governance.go:178): an omitted field
    // keeps its current value — defaulting it to 0 (= unlimited) would
    // let a partial update silently wipe every other cap
    val existing = srv.governance.get(tokenId)
    def i(f: String, cur: Governance.Policy => Int): Int =
      Option(n.get(f)).filterNot(_.isNull).map(_.asInt)
        .orElse(existing.map(cur)).getOrElse(0)
    try {
      val p = srv.governance.set(tokenId,
        oText(n, "token_name").orElse(existing.map(_.tokenName).filter(_.nonEmpty))
          .orElse(srv.tokens.get(tokenId).map(_.name)).getOrElse(""),
        i("rate_limit_per_minute", _.rateLimitPerMinute),
        i("rate_limit_per_hour", _.rateLimitPerHour),
        i("max_queries_per_hour", _.maxQueriesPerHour),
        i("max_queries_per_day", _.maxQueriesPerDay),
        i("max_rows_per_query", _.maxRowsPerQuery),
        i("max_scan_duration_sec", _.maxScanDurationSec))
      ok(ex, if (pathId.isEmpty) 201 else 200,
        s"""{"success":true,"policy":${p.json}}""")
    } catch {
      case e: IllegalArgumentException => fail(ex, 400, e.getMessage)
    }
  }

  private def handleUpdate(ex: HttpExchange, id: Long): Unit = {
    val n = body(ex)
    try srv.tokens.update(id, oText(n, "name"), oText(n, "description"),
      oArr(n, "permissions"), oBool(n, "enabled")) match {
      case Some(t) => ok(ex, 200, s"""{"success":true,"token":${t.json}}""")
      case None => fail(ex, 404, "Token not found")
    } catch {
      case e: IllegalArgumentException => fail(ex, 400, e.getMessage)
    }
  }
}
