package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.{ColumnBridge => CB}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for URL canonicalization — the operators the
  * built-in function library cannot express (SURVEY.md §2.10):
  *
  *  - [[NormalizeUrl]] — keep-last-duplicate + key-sorted query re-encoding
  *    (`parse_url`/`regexp_replace` compositions can't do stateful re-encode)
  *  - [[UrlResolve]]  — RFC-3986 resolution with CPython-`urljoin` parity
  *  - [[UrlHost]]     — netloc incl. non-default port (built-in
  *    `parse_url(url, 'HOST')` strips the port, which breaks the reference's
  *    same-domain filter for host:port sites)
  *
  * All implement `doGenCode` as a single static call so they stay inside
  * whole-stage codegen; all are null-intolerant and foldable-when-child-
  * foldable so constant folding / filter pushdown apply.
  */
/** Analysis-time input check: every URL expression takes STRING children. */
trait StringInputCheck { self: Expression =>
  override def checkInputDataTypes(): TypeCheckResult = {
    val bad = self.children.filterNot(_.dataType.isInstanceOf[StringType])
    if (bad.isEmpty) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${self.prettyName} requires STRING arguments, got " +
        bad.map(_.dataType.catalogString).mkString(", "))
  }
}

case class NormalizeUrl(child: Expression)
    extends UnaryExpression with StringInputCheck {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "normalize_url"
  override protected def nullSafeEval(input: Any): Any =
    UrlKernels.normalizeUrl(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.UrlKernels.normalizeUrl($c)")
  override protected def withNewChildInternal(newChild: Expression): NormalizeUrl =
    copy(child = newChild)
}

case class UrlResolve(left: Expression, right: Expression)
    extends BinaryExpression with StringInputCheck {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "url_resolve"
  override protected def nullSafeEval(base: Any, ref: Any): Any =
    UrlKernels.urlJoin(base.asInstanceOf[UTF8String], ref.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (b, r) => s"graft.functions.UrlKernels.urlJoin($b, $r)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): UrlResolve =
    copy(left = l, right = r)
}

case class UrlHost(child: Expression)
    extends UnaryExpression with StringInputCheck {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "url_host"
  override protected def nullSafeEval(input: Any): Any =
    UrlKernels.urlHost(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.UrlKernels.urlHost($c)")
  override protected def withNewChildInternal(newChild: Expression): UrlHost =
    copy(child = newChild)
}

case class UrlSyntacticValid(child: Expression)
    extends UnaryExpression with StringInputCheck {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "url_syntactic_valid"
  override protected def nullSafeEval(input: Any): Any =
    UrlKernels.urlSyntacticOk(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.UrlKernels.urlSyntacticOk($c)")
  override protected def withNewChildInternal(newChild: Expression): UrlSyntacticValid =
    copy(child = newChild)
}

case class UrlSecurityValid(child: Expression)
    extends UnaryExpression with StringInputCheck {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "url_security_valid"
  override protected def nullSafeEval(input: Any): Any =
    UrlKernels.urlSecurityOk(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.UrlKernels.urlSecurityOk($c)")
  override protected def withNewChildInternal(newChild: Expression): UrlSecurityValid =
    copy(child = newChild)
}

/** URL path component — Python `urlparse(url).path` semantics; feeds the
  * scheduler's robots Disallow-prefix filter (F14/J4). */
case class UrlPath(child: Expression)
    extends UnaryExpression with StringInputCheck {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "url_path"
  override protected def nullSafeEval(input: Any): Any =
    UrlKernels.urlPath(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.UrlKernels.urlPath($c)")
  override protected def withNewChildInternal(newChild: Expression): UrlPath =
    copy(child = newChild)
}

/** Crawl-trap pattern signature (see [[UrlKernels.urlPatternKeyJ]]): the
  * bounded key a per-pattern admission budget groups on to stop infinite
  * URL spaces (calendars, session ids) from flooding the frontier. */
case class UrlPatternKey(child: Expression)
    extends UnaryExpression with StringInputCheck {
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "url_pattern_key"
  override protected def nullSafeEval(input: Any): Any =
    UrlKernels.urlPatternKey(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.UrlKernels.urlPatternKey($c)")
  override protected def withNewChildInternal(newChild: Expression): UrlPatternKey =
    copy(child = newChild)
}

/** 1→N href generator over a raw-HTML column (G1 in SURVEY.md §2.6). */
case class ExtractHrefs(child: Expression)
    extends UnaryExpression with StringInputCheck {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "extract_hrefs"
  override protected def nullSafeEval(input: Any): Any =
    UrlKernels.extractHrefsArray(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.UrlKernels.extractHrefsArray($c)")
  override protected def withNewChildInternal(newChild: Expression): ExtractHrefs =
    copy(child = newChild)
}

/** 1→N `<loc>` generator over a sitemap-XML column — the source-side twin
  * of [[ExtractHrefs]] for sitemaps.org documents (urlset + sitemapindex). */
case class ExtractSitemapLocs(child: Expression)
    extends UnaryExpression with StringInputCheck {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "extract_sitemap_locs"
  override protected def nullSafeEval(input: Any): Any =
    UrlKernels.sitemapLocsArray(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.UrlKernels.sitemapLocsArray($c)")
  override protected def withNewChildInternal(newChild: Expression): ExtractSitemapLocs =
    copy(child = newChild)
}

/** 1→N (loc, lastmod) generator over a sitemap-XML column — the block view
  * of [[ExtractSitemapLocs]]: each `<url>`/`<sitemap>` block's loc pairs
  * with its optional W3C-datetime `<lastmod>` (NULL when absent), the
  * recency signal the TTL re-crawl machinery prioritizes by. */
case class ExtractSitemapEntries(child: Expression)
    extends UnaryExpression with StringInputCheck {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("loc", StringType, nullable = false),
    StructField("lastmod", StringType, nullable = true))), containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "extract_sitemap_entries"
  override protected def nullSafeEval(input: Any): Any =
    UrlKernels.sitemapEntriesArray(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.UrlKernels.sitemapEntriesArray($c)")
  override protected def withNewChildInternal(newChild: Expression): ExtractSitemapEntries =
    copy(child = newChild)
}

/** 1→N image-pair generator over a sitemap-XML column — the image-sitemap
  * extension's `<image:image>` blocks as `array<struct<loc, caption>>`
  * (caption NULL when the block carries none). The source-side origin of
  * the payload table's (url, caption) pairs. */
case class ExtractSitemapImages(child: Expression)
    extends UnaryExpression with StringInputCheck {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("loc", StringType, nullable = false),
    StructField("caption", StringType, nullable = true))), containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "extract_sitemap_images"
  override protected def nullSafeEval(input: Any): Any =
    UrlKernels.sitemapImagesArray(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.UrlKernels.sitemapImagesArray($c)")
  override protected def withNewChildInternal(newChild: Expression): ExtractSitemapImages =
    copy(child = newChild)
}

/** Analysis-time input check of the per-page link expressions: a STRING
  * base URL and an ARRAY<STRING> of hrefs. */
trait BaseAndLinksInputCheck { self: BinaryExpression =>
  override def checkInputDataTypes(): TypeCheckResult = {
    val okBase = left.dataType.isInstanceOf[StringType]
    val okLinks = right.dataType match {
      case ArrayType(_: StringType, _) => true
      case _ => false
    }
    if (okBase && okLinks) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (STRING, ARRAY<STRING>) arguments, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }
}

/** Order-insensitive digest of a page's resolved+normalized link set —
  * `resolved_link_digest(base, links)` over (string, array<string>). The
  * mirror-page suppression key as ONE codegen call; see
  * [[UrlKernels.resolvedLinkDigest]] for the set semantics. */
case class ResolvedLinkDigest(left: Expression, right: Expression)
    extends BinaryExpression with BaseAndLinksInputCheck {
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "resolved_link_digest"
  override protected def nullSafeEval(base: Any, links: Any): Any =
    UrlKernels.resolvedLinkDigest(base.asInstanceOf[UTF8String],
      links.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (b, l) => s"graft.functions.UrlKernels.resolvedLinkDigest($b, $l)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : ResolvedLinkDigest = copy(left = l, right = r)
}

/** A page's links resolved against `base`, normalized and admitted in one
  * codegen call — `admitted_links(base, links)` over (string,
  * array<string>), null at each rejected position (see
  * [[UrlKernels.admittedLinks]]). The crawl explodes it once, so the link
  * admission filter is a plain `isnotnull` and no URL validator is copied
  * onto the relations the admitted links are joined against. */
case class AdmittedLinks(left: Expression, right: Expression, sameHost: Option[String])
    extends BinaryExpression with BaseAndLinksInputCheck {
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "admitted_links"
  override protected def nullSafeEval(base: Any, links: Any): Any =
    UrlKernels.admittedLinks(base.asInstanceOf[UTF8String],
      links.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], sameHost.orNull)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val host = ctx.addReferenceObj("sameHost", sameHost.orNull, "java.lang.String")
    defineCodeGen(ctx, ev,
      (b, l) => s"graft.functions.UrlKernels.admittedLinks($b, $l, $host)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : AdmittedLinks = copy(left = l, right = r)
}

/** Column-DSL facade + SQL registration for the URL expression family. */
object UrlFunctions {
  def normalize_url(c: Column): Column = CB.column(NormalizeUrl(CB.expression(c)))
  def url_resolve(base: Column, ref: Column): Column = CB.column(UrlResolve(CB.expression(base), CB.expression(ref)))
  def url_host(c: Column): Column = CB.column(UrlHost(CB.expression(c)))
  def url_path(c: Column): Column = CB.column(UrlPath(CB.expression(c)))
  def url_pattern_key(c: Column): Column = CB.column(UrlPatternKey(CB.expression(c)))
  def url_syntactic_valid(c: Column): Column = CB.column(UrlSyntacticValid(CB.expression(c)))
  def url_security_valid(c: Column): Column = CB.column(UrlSecurityValid(CB.expression(c)))
  def extract_hrefs(c: Column): Column = CB.column(ExtractHrefs(CB.expression(c)))
  def extract_sitemap_locs(c: Column): Column = CB.column(ExtractSitemapLocs(CB.expression(c)))
  def extract_sitemap_entries(c: Column): Column = CB.column(ExtractSitemapEntries(CB.expression(c)))
  def extract_sitemap_images(c: Column): Column = CB.column(ExtractSitemapImages(CB.expression(c)))
  def resolved_link_digest(base: Column, links: Column): Column =
    CB.column(ResolvedLinkDigest(CB.expression(base), CB.expression(links)))
  def admitted_links(base: Column, links: Column, sameHost: Option[String]): Column =
    CB.column(AdmittedLinks(CB.expression(base), CB.expression(links), sameHost))

  /** 64-bit canonical URL key: xxhash64 over the normalized URL (C4). */
  def url_seen_key(c: Column): Column =
    org.apache.spark.sql.functions.xxhash64(normalize_url(c))

  def registerAll(spark: SparkSession): Unit =
    FunctionTable.register(spark, FunctionTable.byName("normalize_url", "url_resolve",
      "url_host", "url_path", "url_syntactic_valid", "url_security_valid", "extract_hrefs"))
}
