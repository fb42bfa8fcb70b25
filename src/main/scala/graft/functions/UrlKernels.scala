package graft.functions

import org.apache.spark.unsafe.types.UTF8String
import graft.url.{PyUrl, UrlNormalizer, UrlValidator}

/** Static, allocation-lean kernels invoked from generated code.
  *
  * These are the codegen targets of the URL expressions in
  * [[graft.functions.UrlExpressions]]: whole-stage codegen emits a direct
  * static call (`graft.functions.UrlKernels.normalizeUrl(x)`), keeping the
  * URL operators inside the WholeStageCodegen span instead of falling back
  * to interpreted eval. All operate on UTF8String to avoid extra copies at
  * the Tungsten row boundary (one UTF-8 decode/encode per call is the
  * unavoidable cost — the parsing itself is Java-String based).
  */
object UrlKernels {

  def normalizeUrl(url: UTF8String): UTF8String =
    UTF8String.fromString(UrlNormalizer.normalize(url.toString))

  def urlJoin(base: UTF8String, ref: UTF8String): UTF8String =
    UTF8String.fromString(PyUrl.urljoin(base.toString, ref.toString))

  /** netloc (host[:port]) — reference semantics `urlparse(url).netloc`
    * (`/root/reference/src/web_crawler.py:177,223`): includes the port, so
    * same-domain comparison distinguishes host:8080 from host. */
  def urlHost(url: UTF8String): UTF8String =
    UTF8String.fromString(PyUrl.urlparse(url.toString).netloc)

  def urlPath(url: UTF8String): UTF8String =
    UTF8String.fromString(PyUrl.urlparse(url.toString).path)

  def urlSyntacticOk(url: UTF8String): Boolean =
    UrlValidator.syntacticOk(url.toString)

  def urlSecurityOk(url: UTF8String): Boolean =
    UrlValidator.securityOk(url.toString)

  private val HrefRe = java.util.regex.Pattern.compile(
    "(?is)<a\\b[^>]*?\\bhref\\s*=\\s*(?:\"([^\"]*)\"|'([^']*)'|([^\\s>]+))")

  /** Codegen entry: href extraction returning Catalyst array data directly
    * (keeps [[graft.functions.ExtractHrefs]] inside WholeStageCodegen). */
  def extractHrefsArray(html: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val hrefs = extractHrefs(html.toString)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      hrefs.map(UTF8String.fromString(_)).asInstanceOf[Array[Any]])
  }

  /** Document-order href extraction from an HTML payload — the regex subset
    * of the reference's BeautifulSoup `find_all("a", href=True)` projection
    * (`/root/reference/src/web_crawler.py:163-167`). Used when pages carry
    * raw HTML; the primary crawl path stores pre-extracted link arrays. */
  def extractHrefs(html: String): Array[String] = {
    val m = HrefRe.matcher(html)
    val out = scala.collection.mutable.ArrayBuffer[String]()
    while (m.find()) {
      val href =
        if (m.group(1) != null) m.group(1)
        else if (m.group(2) != null) m.group(2)
        else m.group(3)
      out += href
    }
    out.toArray
  }

  /** Minimum length for a mixed hex run (letters+digits) to be treated as a
    * generated identifier and collapsed — long enough that real words
    * ("deadbeef" is 8) survive, short enough to catch md5/uuid/session ids. */
  private final val HexRunMin = 16

  /** Crawl-trap pattern key: collapses the unbounded parts of a URL into a
    * bounded signature, so a per-pattern admission budget can stop infinite
    * URL spaces (calendar pages, session-id echoes, faceted-search
    * explosions) from flooding a 10^10-row frontier. The reference crawler
    * has no defense here — its BFS loop (`/root/reference/src/web_crawler.py:245`)
    * will walk a calendar trap forever; at fleet scale this guard is what
    * keeps one adversarial host from owning the frontier.
    *
    * Key = netloc + canonicalized path + ('?' + query KEYS in document
    * order, values dropped). Path canonicalization lowercases and collapses
    * to `#` every maximal `[0-9a-f]` run (post-lowercase) that is either all
    * digits, or ≥ [[HexRunMin]] chars containing at least one digit (hashes,
    * uuids with dashes collapse per hex segment). The scheme is dropped —
    * http/https mirrors share one pattern space by design.
    */
  def urlPatternKeyJ(url: String): String = {
    val p = PyUrl.urlparse(url)
    val path = p.path
    val sb = new java.lang.StringBuilder(p.netloc.length + path.length + 8)
    sb.append(p.netloc)
    var i = 0
    val n = path.length
    while (i < n) {
      val c0 = path.charAt(i)
      val c = if (c0 >= 'A' && c0 <= 'Z') (c0 + 32).toChar else c0
      val isHex = (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f')
      if (!isHex) { sb.append(c); i += 1 }
      else {
        var j = i
        var digits = 0
        var letters = 0
        var continue = true
        while (j < n && continue) {
          val d0 = path.charAt(j)
          val d = if (d0 >= 'A' && d0 <= 'Z') (d0 + 32).toChar else d0
          if (d >= '0' && d <= '9') { digits += 1; j += 1 }
          else if (d >= 'a' && d <= 'f') { letters += 1; j += 1 }
          else continue = false
        }
        val len = j - i
        val collapse = digits > 0 && (letters == 0 || len >= HexRunMin)
        if (collapse) sb.append('#')
        else { var k = i; while (k < j) { val e0 = path.charAt(k)
          sb.append(if (e0 >= 'A' && e0 <= 'Z') (e0 + 32).toChar else e0); k += 1 } }
        i = j
      }
    }
    val q = p.query
    if (q.nonEmpty) {
      sb.append('?')
      var first = true
      q.split("&", -1).foreach { kv =>
        if (!first) sb.append('&')
        first = false
        val eq = kv.indexOf('=')
        sb.append(if (eq >= 0) kv.substring(0, eq) else kv)
      }
    }
    sb.toString
  }

  def urlPatternKey(url: UTF8String): UTF8String =
    UTF8String.fromString(urlPatternKeyJ(url.toString))

  /** Order-insensitive 64-bit digest of a page's RESOLVED, NORMALIZED link
    * set — the mirror-page suppression key
    * ([[graft.operators.FrontierCrawler]]'s content dedup): two pages whose
    * links resolve to the same URL set digest equal regardless of href
    * spelling or document order. Equivalent to
    * `xxhash64(sort_array(transform(links, h => normalize_url(url_resolve(
    * base, h)))))` but a single static codegen call — the lambda form
    * evaluates the HOF interpreted, outside WholeStageCodegen (same
    * motivation as [[graft.functions.RobotsKernels]]' longest-match fold).
    * Digest VALUES differ from the lambda form's (element hashes chain
    * through XXH64 directly, no array header) — only set-sensitivity and
    * determinism matter to the consumer, which compares digests it wrote
    * itself. Null elements are skipped, matching `normalize_url`'s
    * null-intolerant per-element result under the array hash. Codegen
    * entry for [[graft.functions.ResolvedLinkDigest]]. */
  def resolvedLinkDigest(base: UTF8String,
      links: org.apache.spark.sql.catalyst.util.ArrayData): Long = {
    val n = links.numElements()
    val b = base.toString
    val arr = new java.util.ArrayList[UTF8String](n)
    var i = 0
    while (i < n) {
      if (!links.isNullAt(i)) {
        val resolved = UrlNormalizer.normalize(
          PyUrl.urljoin(b, links.getUTF8String(i).toString))
        arr.add(UTF8String.fromString(resolved))
      }
      i += 1
    }
    // UTF8String's binary comparator — the same total order sort_array uses;
    // any total order canonicalizes the set, this one is allocation-free
    java.util.Collections.sort(arr)
    var h = 42L
    var j = 0
    while (j < arr.size()) {
      val u = arr.get(j)
      h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        u.getBaseObject, u.getBaseOffset, u.numBytes, h)
      j += 1
    }
    h
  }

  /** A fetched page's admissible links, each canonicalized ONCE: element
    * `i` is `normalize(urljoin(base, links[i]))` when that URL passes
    * admission, else null, so positions (the FIFO `(parent, pos)` order)
    * survive the caller's explode. Admission is the reference's same-domain
    * filter (`src/web_crawler.py:176-177`) when `sameHost` is non-null,
    * else the syntactic and security validators. Codegen entry for
    * [[graft.functions.AdmittedLinks]]. */
  def admittedLinks(base: UTF8String,
      links: org.apache.spark.sql.catalyst.util.ArrayData,
      sameHost: String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = links.numElements()
    val b = base.toString
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!links.isNullAt(i)) {
        val abs = PyUrl.urljoin(b, links.getUTF8String(i).toString)
        val url = if (abs == null) null else UrlNormalizer.normalize(abs)
        val ok = url != null && (
          if (sameHost != null) PyUrl.urlparse(url).netloc == sameHost
          else UrlValidator.syntacticOk(url) && UrlValidator.securityOk(url))
        if (ok) out(i) = UTF8String.fromString(url)
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  private val LocRe = java.util.regex.Pattern.compile(
    "(?is)<loc\\s*>\\s*(?:<!\\[CDATA\\[(.*?)\\]\\]>|(.*?))\\s*</loc\\s*>")

  /** Document-order `<loc>` extraction from a sitemap XML body — the
    * sitemaps.org subset a crawler needs: `<urlset>` page locations and
    * `<sitemapindex>` child-sitemap locations both ride `<loc>` elements
    * (plain text or CDATA). The regex subset mirrors [[extractHrefs]]'s
    * approach to HTML: no full XML parse on the hot path. */
  def sitemapLocs(xml: String): Array[String] = {
    val m = LocRe.matcher(xml)
    val out = scala.collection.mutable.ArrayBuffer[String]()
    while (m.find()) {
      val v = if (m.group(1) != null) m.group(1) else m.group(2)
      val t = v.trim
      if (t.nonEmpty) out += t
    }
    out.toArray
  }

  /** Codegen entry for [[graft.functions.ExtractSitemapLocs]]. */
  def sitemapLocsArray(xml: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      sitemapLocs(xml.toString).map(UTF8String.fromString(_)).asInstanceOf[Array[Any]])

  private val EntryBlockRe = java.util.regex.Pattern.compile(
    "(?is)<(url|sitemap)\\s*>(.*?)</\\1\\s*>")
  private val LastmodRe = java.util.regex.Pattern.compile(
    "(?is)<lastmod\\s*>\\s*(?:<!\\[CDATA\\[(.*?)\\]\\]>|(.*?))\\s*</lastmod\\s*>")

  /** Document-order (loc, lastmod) extraction from a sitemap XML body —
    * the `<url>` / `<sitemap>` BLOCK view of [[sitemapLocs]]: each block's
    * required `<loc>` pairs with its optional `<lastmod>` (W3C datetime,
    * plain text or CDATA; missing/empty → NULL lastmod — the string is
    * NOT parsed here, callers convert with `try_to_timestamp` so a
    * malformed date degrades to "recency unknown" instead of failing the
    * scan). Blocks without a non-empty loc are dropped. The lastmod is
    * what connects sitemap ingestion to the TTL re-crawl machinery:
    * fresher-lastmod URLs requeue ahead (see
    * [[graft.operators.CheckpointStore]]'s `expireAndRequeue` recency
    * relation). Codegen entry for
    * [[graft.functions.ExtractSitemapEntries]]. */
  def sitemapEntriesArray(xml: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val b = EntryBlockRe.matcher(xml.toString)
    val out = scala.collection.mutable.ArrayBuffer[Any]()
    while (b.find()) {
      val block = b.group(2)
      val lm = LocRe.matcher(block)
      if (lm.find()) {
        val lv = (if (lm.group(1) != null) lm.group(1) else lm.group(2)).trim
        if (lv.nonEmpty) {
          val mm = LastmodRe.matcher(block)
          val mod =
            if (mm.find()) {
              val mv = (if (mm.group(1) != null) mm.group(1) else mm.group(2)).trim
              if (mv.isEmpty) null else UTF8String.fromString(mv)
            } else null
          out += new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](UTF8String.fromString(lv), mod))
        }
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }

  private val ImageBlockRe = java.util.regex.Pattern.compile(
    "(?is)<image:image\\s*>(.*?)</image:image\\s*>")
  private val ImageLocRe = java.util.regex.Pattern.compile(
    "(?is)<image:loc\\s*>\\s*(?:<!\\[CDATA\\[(.*?)\\]\\]>|(.*?))\\s*</image:loc\\s*>")
  private val ImageCaptionRe = java.util.regex.Pattern.compile(
    "(?is)<image:caption\\s*>\\s*(?:<!\\[CDATA\\[(.*?)\\]\\]>|(.*?))\\s*</image:caption\\s*>")

  /** Document-order (loc, caption) extraction from the image-sitemap
    * extension (the public sitemaps image namespace): each `<image:image>`
    * block carries a required `<image:loc>` and an optional
    * `<image:caption>`, plain text or CDATA. Blocks without a non-empty
    * loc are dropped; a missing/empty caption yields a NULL caption —
    * exactly the image+caption pair shape the payload table ingests, so a
    * sitemap-seeded crawl can enqueue image fetches with their captions
    * already attached. Codegen entry for
    * [[graft.functions.ExtractSitemapImages]]. */
  def sitemapImagesArray(xml: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val b = ImageBlockRe.matcher(xml.toString)
    val out = scala.collection.mutable.ArrayBuffer[Any]()
    while (b.find()) {
      val block = b.group(1)
      val lm = ImageLocRe.matcher(block)
      if (lm.find()) {
        val lv = (if (lm.group(1) != null) lm.group(1) else lm.group(2)).trim
        if (lv.nonEmpty) {
          val cm = ImageCaptionRe.matcher(block)
          val cap =
            if (cm.find()) {
              val cv = (if (cm.group(1) != null) cm.group(1) else cm.group(2)).trim
              if (cv.isEmpty) null else UTF8String.fromString(cv)
            } else null
          out += new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
            Array[Any](UTF8String.fromString(lv), cap))
        }
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out.toArray)
  }
}
