package graft.crawl

import graft.spark.BodyCodegen
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Deterministic URL canonicalization for the crawl frontier (north_rule:
 * "xxHash64-based canonicalizer" — hashing itself uses Spark's built-in
 * `xxhash64` over this canonical string; no custom hash code needed).
 *
 * Rules (fixed, documented, order matters):
 *  1. resolve relative references against the document base URI (RFC 3986)
 *  2. lowercase scheme and host
 *  3. strip the fragment
 *  4. drop default ports (http:80, https:443)
 *  5. normalize dot segments in the path; empty path → "/"
 *  6. drop a trailing "?" (empty query)
 *
 * Non-http(s) schemes (mailto:, javascript:, data:) → null (not crawlable).
 */
object UrlCanon {

  def canonicalize(raw: String, base: String): String = {
    if (raw == null) return null
    val trimmed = raw.trim
    if (trimmed.isEmpty) return null
    val lower = trimmed.toLowerCase
    if (lower.startsWith("javascript:") || lower.startsWith("mailto:") ||
        lower.startsWith("data:") || lower.startsWith("tel:") || lower.startsWith("#"))
      return null
    try {
      val resolved =
        if (hasScheme(trimmed)) new java.net.URI(trimmed)
        else if (base != null && base.nonEmpty) parsedBase(base).resolve(trimmed)
        else return null
      val scheme = if (resolved.getScheme == null) null else resolved.getScheme.toLowerCase
      if (scheme != "http" && scheme != "https") return null
      val host = if (resolved.getHost == null) return null else resolved.getHost.toLowerCase
      val port = resolved.getPort match {
        case -1 => -1
        case 80 if scheme == "http" => -1
        case 443 if scheme == "https" => -1
        case p => p
      }
      val normalized = resolved.normalize()
      var path = Option(normalized.getRawPath).getOrElse("")
      if (path.isEmpty) path = "/"
      val query = Option(resolved.getRawQuery).filter(_.nonEmpty).map("?" + _).getOrElse("")
      val portStr = if (port == -1) "" else s":$port"
      s"$scheme://$host$portStr$path$query"
    } catch {
      case _: Exception => null
    }
  }

  /** The last base this thread parsed: the links of one page share their
    * base, so a page's links parse it once instead of once per link.
    * `java.net.URI` is immutable; an invalid base throws on every call and
    * is never cached. */
  private final class LastBase(var base: String, var uri: java.net.URI)
  private val lastBase = ThreadLocal.withInitial[LastBase](() => new LastBase(null, null))

  private def parsedBase(base: String): java.net.URI = {
    val last = lastBase.get
    if (base == last.base) last.uri
    else {
      val uri = new java.net.URI(base)
      last.base = base
      last.uri = uri
      uri
    }
  }

  private def hasScheme(s: String): Boolean = {
    val i = s.indexOf(':')
    if (i <= 0) return false
    // scheme = ALPHA *( ALPHA / DIGIT / "+" / "-" / "." ) before any / ? #
    val j = s.indexWhere(c => c == '/' || c == '?' || c == '#')
    (j == -1 || i < j) && s.substring(0, i).forall(c =>
      Character.isLetterOrDigit(c) || c == '+' || c == '-' || c == '.') &&
      Character.isLetter(s.charAt(0))
  }

  def host(canonicalUrl: String): String = {
    if (canonicalUrl == null) return null
    try {
      val h = new java.net.URI(canonicalUrl).getHost
      if (h == null) null else h.toLowerCase
    } catch { case _: Exception => null }
  }
}

/** `canonicalize_url(url, base)` → canonical URL or NULL if not crawlable.
  * A null base means none, so this is not a binary null-safe form. */
case class CanonicalizeUrl(left: Expression, right: Expression) extends BodyCodegen {
  override def children: Seq[Expression] = Seq(left, right)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def eval(input: InternalRow): Any = evalValues(Array(left.eval(input), right.eval(input)))
  override def evalValues(vs: Array[Any]): Any = {
    val (u, b) = (vs(0), vs(1))
    if (u == null) return null
    val r = UrlCanon.canonicalize(u.toString, if (b == null) null else b.toString)
    if (r == null) null else UTF8String.fromString(r)
  }
  override def prettyName: String = "canonicalize_url"
  override protected def withNewChildrenInternal(cs: IndexedSeq[Expression]) =
    copy(left = cs(0), right = cs(1))
}

/** `url_host(url)` → lowercased host or NULL. */
case class UrlHostExpr(child: Expression)
    extends UnaryExpression with BodyCodegen {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def nullSafeEval(u: Any): Any = {
    val h = UrlCanon.host(u.toString)
    if (h == null) null else UTF8String.fromString(h)
  }
  override def prettyName: String = "url_host"
  override protected def withNewChildInternal(c: Expression): UrlHostExpr = copy(child = c)
}
