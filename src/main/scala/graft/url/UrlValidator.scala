package graft.url

import scala.util.control.NonFatal

/** Pure (network-free) validation predicates with the semantics of the
  * reference's 5-stage verifier (`/root/reference/src/utils/url_verifier.py`).
  *
  * Stages that perform live I/O in the reference (DNS at
  * `url_verifier.py:128-132`, HTTP protocol/operational probes at
  * `:158-233`) are effectful and handled at the fetch layer against the
  * synthetic pages table; everything here is a deterministic predicate
  * usable both driver-side (seed verification) and as a column expression
  * over frontier rows.
  */
object UrlValidator {

  /** syntactic_checks (`url_verifier.py:9-56`), minus nothing — fully pure. */
  def syntacticOk(url: String): Boolean = {
    try {
      if (url == null || url.trim.isEmpty) return false
      if (url != url.trim) return false
      if (!(url.startsWith("http://") || url.startsWith("https://"))) return false
      val p = PyUrl.urlparse(url)
      if (p.netloc.isEmpty) return false
      val domain = p.netloc.split(":", -1)(0)
      if (!isValidDomain(domain)) return false
      if (p.netloc.contains(":")) {
        val portStr = p.netloc.split(":", -1)(1)
        val port =
          try portStr.toInt
          catch { case _: NumberFormatException => return false }
        if (port < 1 || port > 65535) return false
      }
      isValidPathQuery(p.path, p.query)
    } catch { case NonFatal(_) => false }
  }

  /** is_valid_domain (`url_verifier.py:59-83`): IP allowed; ≤253 chars;
    * labels of alnum/hyphen, no leading/trailing hyphen, each ≤63. */
  def isValidDomain(domain: String): Boolean = {
    if (isValidIp(domain)) return true
    if (domain.length > 253) return false
    if (!DomainRe.pattern.matcher(domain).matches()) return false
    domain.split("\\.", -1).forall(_.length <= 63)
  }

  private val DomainRe =
    "^[a-zA-Z0-9]([a-zA-Z0-9\\-]{0,61}[a-zA-Z0-9])?(\\.[a-zA-Z0-9]([a-zA-Z0-9\\-]{0,61}[a-zA-Z0-9])?)*$".r

  /** is_valid_ip (`url_verifier.py:86-92`) — IPv4 dotted-quad or IPv6,
    * format-only (no resolution), matching `ipaddress.ip_address` accept set
    * closely enough for the reference's test matrix. */
  def isValidIp(s: String): Boolean = isIpv4(s) || isIpv6(s)

  def isIpv4(s: String): Boolean = {
    val parts = s.split("\\.", -1)
    parts.length == 4 && parts.forall { p =>
      p.nonEmpty && p.length <= 3 && p.forall(_.isDigit) &&
        !(p.length > 1 && p.startsWith("0")) && p.toInt <= 255
    }
  }

  def isIpv6(s0: String): Boolean = {
    // CPython ipaddress (3.9+) accepts a scoped address `addr%zone`: the
    // zone id must be non-empty and contain no further '%'
    val pct = s0.indexOf('%')
    val s = if (pct < 0) s0 else {
      val zone = s0.substring(pct + 1)
      if (zone.isEmpty || zone.contains('%')) return false
      s0.substring(0, pct)
    }
    if (!s.contains(":")) return false
    val dbl = s.indexOf("::")
    if (dbl >= 0 && s.indexOf("::", dbl + 1) >= 0) return false // one '::' max
    def groupsOf(part: String): Array[String] =
      if (part.isEmpty) Array.empty else part.split(":", -1)
    def validGroup(g: String): Boolean =
      g.nonEmpty && g.length <= 4 && g.forall(c => isHexChar(c))
    def validTail(gs: Array[String]): Boolean = {
      if (gs.isEmpty) return true
      val last = gs.last
      val init = gs.dropRight(1)
      val lastOk = validGroup(last) || (isIpv4(last) && last.contains("."))
      init.forall(validGroup) && lastOk
    }
    if (dbl >= 0) {
      val left = groupsOf(s.substring(0, dbl))
      val right = groupsOf(s.substring(dbl + 2))
      if (!left.forall(validGroup) || !validTail(right)) return false
      val rightUnits = right.map(g => if (g.contains(".")) 2 else 1).sum
      left.length + rightUnits <= 7
    } else {
      val gs = s.split(":", -1)
      if (gs.exists(_.isEmpty)) return false
      val units = gs.map(g => if (g.contains(".")) 2 else 1).sum
      units == 8 && validTail(gs)
    }
  }
  private def isHexChar(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')

  /** is_valid_path_query (`url_verifier.py:95-118`). */
  def isValidPathQuery(path: String, query: String): Boolean = {
    val dangerous = "<>\"'\\\u0000\u0001\u0002\u0003\u0004\u0005\u0006\u0007"
    !dangerous.exists(c => path.indexOf(c) >= 0 || query.indexOf(c) >= 0)
  }

  /** Pure parts of semantic_checks (`url_verifier.py:121-155`): reserved
    * TLDs and private-IP hosts. DNS resolution is external I/O — modeled by
    * the caller (seed pre-flight treats unresolvable hosts via the pages
    * table instead). */
  def semanticOkPure(url: String): Boolean = {
    try {
      val p = PyUrl.urlparse(url)
      val domain = p.netloc.split(":", -1)(0)
      val reserved = Seq(".invalid", ".example", ".test", ".localhost")
      if (reserved.exists(domain.endsWith)) return false
      if (isValidIp(domain) && isPrivateIp(domain)) return false
      true
    } catch { case NonFatal(_) => false }
  }

  /** `ipaddress.ip_address(x).is_private` for the IPv4 ranges the tests use. */
  def isPrivateIp(s: String): Boolean = {
    if (isIpv4(s)) {
      val o = s.split("\\.").map(_.toInt)
      (o(0) == 10) ||
      (o(0) == 172 && o(1) >= 16 && o(1) <= 31) ||
      (o(0) == 192 && o(1) == 168) ||
      (o(0) == 127) ||
      (o(0) == 169 && o(1) == 254) ||
      (o(0) == 0)
    } else if (isIpv6(s)) {
      val l = s.toLowerCase
      l == "::1" || l == "::" || l.startsWith("fc") || l.startsWith("fd") || l.startsWith("fe80")
    } else false
  }

  /** security_checks (`url_verifier.py:236-286`) — fully pure. */
  def securityOk(url: String): Boolean = {
    try {
      val lower = url.toLowerCase
      val dangerousSchemes =
        Seq("javascript:", "data:", "file:", "ftp:", "mailto:", "tel:")
      if (dangerousSchemes.exists(lower.startsWith)) return false
      val p = PyUrl.urlparse(url)
      val domain = p.netloc.split(":", -1)(0).toLowerCase
      val localhostPatterns = Seq("localhost", "127.0.0.1", "::1", "0.0.0.0")
      if (localhostPatterns.exists(domain.contains)) return false
      val privatePrefixes = Seq("192.168.", "10.") ++ (16 to 31).map(i => s"172.$i.")
      if (privatePrefixes.exists(domain.startsWith)) return false
      true
    } catch { case NonFatal(_) => false }
  }
}
