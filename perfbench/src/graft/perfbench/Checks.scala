package graft.perfbench

import graft.oracle.ReferenceCrawler

/** Output checks, one per workload family. Each returns the list of
  * violations (empty = the pass is correct) and takes its oracle as an
  * argument, so the self-test can hand it a deliberately wrong one. */
object Checks {

  /** What a crawl left behind, collected into memory. */
  final case class CrawlView(
      found: Set[String],
      order: Seq[(Int, Int, String)], // (round, batchIdx, url)
      errorUrls: Set[String],
      redirectUrls: Set[String],
      errorCount: Long,
      redirectCount: Long,
      visitedCount: Long,
      scheduledTotal: Long)

  /** FIFO parity: the engine's crawl equals the reference replay exactly. */
  def fifo(got: CrawlView, want: ReferenceCrawler.Outcome): Seq[String] = Seq(
    Option.when(got.found != want.found)(
      s"found set differs from the reference (${got.found.size} vs ${want.found.size})"),
    Option.when(got.order != want.visitOrder)("visit order differs from the reference"),
    Option.when(got.errorUrls != want.errorUrls)("error URL set differs from the reference"),
    Option.when(got.redirectUrls != want.redirectUrls)(
      "redirect URL set differs from the reference"),
    Option.when(got.errorCount != want.errorCount)(
      s"error count ${got.errorCount} != reference ${want.errorCount}"),
    Option.when(got.redirectCount != want.redirectCount)(
      s"redirect count ${got.redirectCount} != reference ${want.redirectCount}"),
    Option.when(got.visitedCount != want.found.size)(
      s"visited count ${got.visitedCount} != reference ${want.found.size}"),
    Option.when(got.scheduledTotal != got.order.size)(
      s"scheduled total ${got.scheduledTotal} != visit log rows ${got.order.size}")
  ).flatten

  /** Robots and budget rules per host, as the polite scheduler must obey
    * them: at most `budget(host)` URLs of a host per round, nothing from a
    * killed host, nothing whose path (plus "/") starts with a disallowed
    * prefix. */
  final case class PoliteRules(
      budget: Map[String, Int],
      killed: Set[String],
      disallow: Map[String, Seq[String]])

  def hostAndPath(url: String): (String, String) = {
    val u = new java.net.URI(url)
    (u.getHost, Option(u.getRawPath).getOrElse(""))
  }

  /** Polite crawl over rounds `> fromRound` of the visit log. */
  def polite(log: Seq[(Int, String)], found: Set[String], rules: PoliteRules,
      scheduledDelta: Long, fromRound: Int): Seq[String] = {
    val urls = log.map(_._2)
    val twice = urls.size - urls.distinct.size
    val perRound = log.groupBy { case (r, u) => (r, hostAndPath(u)._1) }
    val overBudget = perRound.collect {
      case ((r, h), rows) if rows.size > rules.budget.getOrElse(h, Int.MaxValue) =>
        s"round $r host $h"
    }
    val disallowed = urls.filter { u =>
      val (h, p) = hostAndPath(u)
      rules.killed(h) || rules.disallow.getOrElse(h, Nil).exists((p + "/").startsWith)
    }
    val newRows = log.count(_._1 > fromRound)
    Seq(
      Option.when(twice > 0)(s"$twice URLs scheduled more than once"),
      Option.when(found != urls.toSet)(
        s"found set (${found.size}) != distinct visit-log URLs (${urls.distinct.size})"),
      Option.when(overBudget.nonEmpty)(
        s"per-round host budget exceeded: ${overBudget.take(3).mkString(", ")}"),
      Option.when(disallowed.nonEmpty)(
        s"${disallowed.size} robots-disallowed URLs scheduled, e.g. ${disallowed.head}"),
      Option.when(scheduledDelta != newRows)(
        s"scheduled count $scheduledDelta != visit-log rows of the pass $newRows")
    ).flatten
  }

  /** Order-independent checksum of a URL set. */
  def checksum(urls: Iterable[String]): Long =
    urls.foldLeft(0L)((acc, u) => acc + graft.sources.SiteGraph.mix(17L, u.hashCode.toLong))

  def repeats(label: String, got: Long, first: Long): Seq[String] =
    Option.when(got != first)(s"$label $got differs from the first pass's $first").toSeq

  /** Row conservation of a curation run: input = kept + the summary's
    * drop counts, and every drop audit holds exactly the rows its summary
    * count names. `drops` maps summary name -> count; `audited` names the
    * drops that have an audit of the same name. */
  def conservation(input: Long, kept: Long, drops: Map[String, Long],
      audits: Map[String, Long], audited: Seq[String]): Seq[String] = {
    val total = kept + drops.values.sum
    Option.when(total != input)(
      s"rows not conserved: input $input != kept $kept + drops ${drops.values.sum}").toSeq ++
      audited.flatMap { k =>
        val n = audits.getOrElse(k, -1L)
        Option.when(n != drops.getOrElse(k, -2L))(
          s"audit $k holds $n rows but the summary counts ${drops.getOrElse(k, -2L)}")
      }
  }

  def equal(label: String, got: Long, want: Long): Seq[String] =
    Option.when(got != want)(s"$label: $got != $want").toSeq
}
