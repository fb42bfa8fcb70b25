package graft.url

import scala.collection.mutable.ArrayBuffer

/** Six-component URL, mirroring the shape Python's `urllib.parse.urlparse`
  * returns (scheme, netloc, path, params, query, fragment).
  *
  * The crawler reference (`/root/reference`, see SURVEY.md §2.3) leans on
  * CPython 3.11 `urllib.parse` semantics for every URL operation
  * (`src/utils/url_normalizer.py:31`, `src/web_crawler.py:170,177`), so this
  * is a from-scratch Scala implementation of those *observable* semantics —
  * validated against golden vectors generated from the Python stdlib
  * (src/test/resources, `..._vectors.tsv`). No JDK `java.net.URI` involved: its
  * resolution rules diverge from Python `urljoin` on empty refs, `?`-only
  * refs and `..`-overflow.
  */
final case class UrlParts(
    scheme: String,
    netloc: String,
    path: String,
    params: String,
    query: String,
    fragment: String)

/** CPython-3.11-compatible URL parsing / joining / quoting primitives. */
object PyUrl {

  private val SchemeFirst = ((c: Char) => c.isLetter && c < 128)
  private def isSchemeChar(c: Char): Boolean =
    (c.isLetterOrDigit && c < 128) || c == '+' || c == '-' || c == '.'

  /** Schemes that participate in relative resolution / carry a netloc
    * (subset of CPython's uses_relative/uses_netloc relevant to http(s)). */
  private val usesRelative = Set("", "ftp", "http", "gopher", "nntp", "imap",
    "wais", "file", "https", "shttp", "mms", "prospero", "rtsp", "rtspu",
    "sftp", "svn", "svn+ssh", "ws", "wss")
  private val usesNetloc = Set("", "ftp", "http", "gopher", "nntp", "telnet",
    "imap", "wais", "file", "mms", "https", "shttp", "snews", "prospero",
    "rtsp", "rtspu", "rsync", "svn", "svn+ssh", "sftp", "nfs", "git",
    "git+ssh", "ws", "wss", "itms-services")

  /** urlsplit: (scheme, netloc, path, query, fragment). CPython removes
    * tab/CR/LF anywhere and strips leading/trailing C0-control-or-space. */
  def urlsplit(urlIn: String, defaultScheme: String = ""): (String, String, String, String, String) = {
    var url = stripUnsafe(urlIn)
    var scheme = defaultScheme
    val i = url.indexOf(':')
    if (i > 0 && SchemeFirst(url.charAt(0)) && url.substring(0, i).forall(isSchemeChar)) {
      scheme = url.substring(0, i).toLowerCase
      url = url.substring(i + 1)
    }
    var netloc = ""
    if (url.startsWith("//")) {
      var end = url.length
      var j = 2
      var found = false
      while (j < url.length && !found) {
        val c = url.charAt(j)
        if (c == '/' || c == '?' || c == '#') { end = j; found = true }
        j += 1
      }
      netloc = url.substring(2, end)
      url = url.substring(end)
    }
    var fragment = ""
    val h = url.indexOf('#')
    if (h >= 0) { fragment = url.substring(h + 1); url = url.substring(0, h) }
    var query = ""
    val q = url.indexOf('?')
    if (q >= 0) { query = url.substring(q + 1); url = url.substring(0, q) }
    (scheme, netloc, url, query, fragment)
  }

  private def stripUnsafe(s: String): String = {
    // CPython urlsplit: lstrip C0-control-or-space ONLY (trailing space is
    // deliberately preserved), then remove \t \r \n anywhere.
    var a = 0
    while (a < s.length && s.charAt(a) <= ' ') a += 1
    val t = s.substring(a)
    if (t.indexOf('\t') < 0 && t.indexOf('\n') < 0 && t.indexOf('\r') < 0) t
    else t.filterNot(c => c == '\t' || c == '\n' || c == '\r')
  }

  /** urlparse: urlsplit + `;params` split off the last path segment. */
  def urlparse(url: String, defaultScheme: String = ""): UrlParts = {
    val (scheme, netloc, rawPath, query, fragment) = urlsplit(url, defaultScheme)
    val (path, params) =
      if (scheme.nonEmpty && usesParams(scheme) && rawPath.contains(';')) splitParams(rawPath)
      else if (scheme.isEmpty && rawPath.contains(';')) splitParams(rawPath)
      else (rawPath, "")
    UrlParts(scheme, netloc, path, params, query, fragment)
  }

  // CPython uses_params: most schemes; http/https included.
  private val usesParamsSet = Set("", "ftp", "hdl", "prospero", "http", "imap",
    "https", "shttp", "rtsp", "rtspu", "sip", "sips", "mms", "sftp", "tel")
  private def usesParams(scheme: String): Boolean = usesParamsSet.contains(scheme)

  private def splitParams(path: String): (String, String) = {
    val slash = path.lastIndexOf('/')
    val i = if (slash >= 0) path.indexOf(';', slash) else path.indexOf(';')
    if (i < 0) (path, "") else (path.substring(0, i), path.substring(i + 1))
  }

  /** urlunsplit. */
  def urlunsplit(scheme: String, netloc: String, pathIn: String, query: String, fragment: String): String = {
    var url = pathIn
    if (netloc.nonEmpty ||
        (scheme.nonEmpty && usesNetloc.contains(scheme) && !url.startsWith("//"))) {
      if (url.nonEmpty && !url.startsWith("/")) url = "/" + url
      url = "//" + netloc + url
    }
    if (scheme.nonEmpty) url = scheme + ":" + url
    if (query.nonEmpty) url = url + "?" + query
    if (fragment.nonEmpty) url = url + "#" + fragment
    url
  }

  /** urlunparse: reattach `;params` to the path, then urlunsplit. */
  def urlunparse(p: UrlParts): String = {
    val path = if (p.params.nonEmpty) p.path + ";" + p.params else p.path
    urlunsplit(p.scheme, p.netloc, path, p.query, p.fragment)
  }

  /** urljoin — CPython 3.11 algorithm (urlparse-based, params-aware). */
  def urljoin(base: String, url: String): String = {
    if (base.isEmpty) return url
    if (url.isEmpty) return base
    val b = urlparse(base)
    val (bscheme, bnetloc, bpath, bquery) = (b.scheme, b.netloc, b.path, b.query)
    val u = urlparse(url, bscheme)
    var (scheme, netloc, path, params, query, fragment) =
      (u.scheme, u.netloc, u.path, u.params, u.query, u.fragment)
    if (scheme != bscheme || !usesRelative.contains(scheme)) return url
    if (usesNetloc.contains(scheme)) {
      if (netloc.nonEmpty)
        return urlunparse(UrlParts(scheme, netloc, path, params, query, fragment))
      netloc = bnetloc
    }
    if (path.isEmpty && params.isEmpty) {
      path = bpath
      params = b.params
      if (query.isEmpty) query = bquery
      return urlunparse(UrlParts(scheme, netloc, path, params, query, fragment))
    }
    val baseParts0 = bpath.split("/", -1)
    val baseParts =
      if (baseParts0.nonEmpty && baseParts0.last != "") baseParts0.dropRight(1) else baseParts0
    val segments: Array[String] =
      if (path.startsWith("/")) path.split("/", -1)
      else {
        val all = baseParts ++ path.split("/", -1)
        if (all.length > 2)
          Array(all.head) ++ all.slice(1, all.length - 1).filter(_.nonEmpty) ++ Array(all.last)
        else all
      }
    val resolved = new ArrayBuffer[String]()
    segments.foreach {
      case ".." => if (resolved.nonEmpty) resolved.remove(resolved.length - 1)
      case "."  => ()
      case seg  => resolved += seg
    }
    if (segments.nonEmpty && (segments.last == "." || segments.last == ".."))
      resolved += ""
    val joined = resolved.mkString("/")
    urlunparse(UrlParts(scheme, netloc, if (joined.isEmpty) "/" else joined, params, query, fragment))
  }

  // ---- query-string handling (parse_qs / urlencode with quote_plus) ----

  /** unquote: %XX sequences → UTF-8 bytes → string (malformed kept as-is,
    * invalid UTF-8 → U+FFFD like Python's errors='replace'). */
  def unquote(s: String): String = {
    if (s.indexOf('%') < 0) return s
    val out = new StringBuilder(s.length)
    val bytes = new ArrayBuffer[Byte]()
    def flush(): Unit = if (bytes.nonEmpty) {
      out.append(new String(bytes.toArray, java.nio.charset.StandardCharsets.UTF_8))
      bytes.clear()
    }
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length && isHex(s.charAt(i + 1)) && isHex(s.charAt(i + 2))) {
        bytes += java.lang.Integer.parseInt(s.substring(i + 1, i + 3), 16).toByte
        i += 3
      } else {
        flush(); out.append(c); i += 1
      }
    }
    flush()
    out.toString
  }
  private def isHex(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')

  def unquotePlus(s: String): String = unquote(s.replace('+', ' '))

  /** parse_qsl(query, keep_blank_values=true), separator '&' (CPython ≥3.10). */
  def parseQsl(query: String, keepBlank: Boolean = true): Seq[(String, String)] = {
    if (query.isEmpty) return Nil
    query.split("&", -1).iterator.filter(_.nonEmpty).flatMap { field =>
      val eq = field.indexOf('=')
      if (eq >= 0) Some((unquotePlus(field.substring(0, eq)), unquotePlus(field.substring(eq + 1))))
      else if (keepBlank) Some((unquotePlus(field), ""))
      else None
    }.toSeq
  }

  private val alwaysSafe: Array[Boolean] = {
    val a = new Array[Boolean](128)
    for (c <- 'a' to 'z') a(c) = true
    for (c <- 'A' to 'Z') a(c) = true
    for (c <- '0' to '9') a(c) = true
    "_.-~".foreach(c => a(c) = true)
    a
  }

  /** quote_plus(s, safe='') — spaces → '+', everything non-alnum/_.-~ → %XX. */
  def quotePlus(s: String): String = {
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = new StringBuilder(bytes.length)
    bytes.foreach { b =>
      val ub = b & 0xff
      if (ub == ' ') out.append('+')
      else if (ub < 128 && alwaysSafe(ub)) out.append(ub.toChar)
      else out.append('%').append(f"${ub}%02X")
    }
    out.toString
  }

  /** urlencode(pairs, doseq-style, quote_via=quote_plus). */
  def urlencode(pairs: Seq[(String, String)]): String =
    pairs.iterator.map { case (k, v) => quotePlus(k) + "=" + quotePlus(v) }.mkString("&")
}
