package graft.server

import com.sun.net.httpserver.HttpExchange

import scala.util.matching.Regex

/** The coarse permission a route requires (the reference's RequireRead /
  * RequireWrite / RequireAdmin). [[Route]] takes one with no default, so
  * no route is open by omission. */
sealed abstract class Perm(val name: String)

object Perm {
  /** Any authenticated caller (health, metrics, catalog listings). */
  case object Authenticated extends Perm("any")
  case object Read extends Perm("read")
  case object Write extends Perm("write")
  case object Admin extends Perm("admin")
  /** Admin, and then 403 unless RBAC is enabled (the reference's
    * requireRBACLicense, rbac_routes.go). */
  case object RbacAdmin extends Perm("admin")
}

/** One HTTP route. Each `:name` in the template captures one path segment
  * of the character class `Route.Placeholders` gives it; the handler gets
  * the captures by name. `gated` runs the handler under the overload gate. */
final case class Route(method: String, template: String, perm: Perm, gated: Boolean = false)(
    val handler: (HttpExchange, Map[String, String]) => Unit) {

  /** The endpoint-stats key, so stats are bounded by the table. */
  val key: String = s"$method $template"

  private val names = Route.Placeholder.findAllMatchIn(template).map(_.group(1)).toSeq
  private val pattern = Route.Placeholder.replaceAllIn(template,
    m => Regex.quoteReplacement(s"(${Route.Placeholders(m.group(1))})")).r

  /** The named captures when `method` and the whole `path` match. */
  def captures(method: String, path: String): Option[Map[String, String]] =
    if (method != this.method) None
    else pattern.unapplySeq(path).map(names.zip(_).toMap)
}

object Route {
  private val Placeholder = ":(\\w+)".r

  /** Character class of each placeholder name; an unknown name fails
    * when its route is built. */
  private val Placeholders: Map[String, String] = Map("id" -> "[0-9]+", "teamId" -> "[0-9]+",
    "name" -> "[A-Za-z0-9_-]+", "measurement" -> "[A-Za-z][A-Za-z0-9_-]*", "type" -> "[a-z]+")
}
