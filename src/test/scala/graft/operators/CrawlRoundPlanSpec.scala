package graft.operators

import graft.functions.{TestSpark, UrlSecurityValid, UrlSyntacticValid}
import graft.model.CrawlConfig
import graft.sources.SiteGraph
import org.apache.spark.TestListenerBus
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec,
  ShuffledHashJoinExec, SortMergeJoinExec}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Plan shape of one polite crawl round, read from the final AQE plans of
  * every execution the round runs (each relation of the round must be
  * read and computed once):
  *  - the redirect closure is streamed through the fetch join, never a
  *    broadcast build side, and scanned once;
  *  - link admission explodes one resolve+normalize+admit kernel, so its
  *    execution runs exactly one `Generate`;
  *  - no URL validator is copied onto a visit-log or visited scan;
  *  - batch selection runs two shuffles (the two top-k windows).
  * Plus the seen filter's equivalence: a crawl with the filter on equals
  * one with it off, across snapshots that lag the visited rounds.
  */
class CrawlRoundPlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val params = SiteGraph.GraphParams(nHosts = 4, pagesPerHost = 40, linksPerPage = 4,
    redirectFrac = 0.15, errorFrac = 0.05, deadLinkFrac = 0.05, crossHostFrac = 0.3,
    seed = 41L)

  /** Every node that ran: through AQE wrappers, query stages and the
    * cached plans behind in-memory scans. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case m: InMemoryTableScanExec => m +: nodes(m.relation.cacheBuilder.cachedPlan)
    case o => o +: o.children.flatMap(nodes)
  }

  private def scans(p: SparkPlan, dir: String): Seq[FileSourceScanExec] = nodes(p).collect {
    case s: FileSourceScanExec if s.relation.location.rootPaths.exists(_.toString.contains(dir)) => s
  }

  /** Output path of a write execution. */
  private def writesTo(p: SparkPlan): Option[String] = nodes(p).collectFirst {
    case DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _) => c.outputPath.toString
  }

  private def isJoin(p: SparkPlan): Boolean = p match {
    case _: BroadcastHashJoinExec | _: BroadcastNestedLoopJoinExec | _: ShuffledHashJoinExec |
        _: SortMergeJoinExec => true
    case _ => false
  }

  /** Scans `p` reaches without passing through a join or an exchange. */
  private def directScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case s: FileSourceScanExec => Seq(s)
    case a: AdaptiveSparkPlanExec => directScans(a.executedPlan)
    case q: QueryStageExec => directScans(q.plan)
    case o if isJoin(o) => Nil
    case _: BroadcastExchangeExec | _: ShuffleExchangeExec => Nil
    case o => o.children.flatMap(directScans)
  }

  private def polite(dir: String, rounds: Int) = CrawlConfig(fifoParity = false,
    sameDomainOnly = false, perHostBudget = 6, saltBuckets = 4, bloomEnabled = true,
    bloomMinFrontierRows = 0L, bloomUpdateEvery = 1, closureBuckets = 4,
    maxRounds = rounds, checkpointDir = Some(dir))

  test("a polite round reads the closure once, explodes links once, keeps validators " +
    "off the visited scans and selects its batch in two shuffles") {
    val pages = SiteGraph.localPages(params).toDS()
    val seeds = (0 until params.nHosts).map(h => SiteGraph.pageUrl(h, 0)).toDF("url")
    val dir = Files.createTempDirectory("graft-roundplan-").toString
    // two warm rounds: the timed round then has a visited set, a seen-filter
    // snapshot to probe, and a frontier of earlier segments
    new FrontierCrawler(spark, pages, polite(dir, 2)).crawlSeeds(seeds)
    val (out, plans) = TestListenerBus.executedPlans(spark)(
      new FrontierCrawler(spark, pages, polite(dir, 3)).crawlSeeds(seeds))
    assert(out.stats.rounds == 3)
    val m = new CheckpointStore(spark, dir).latestManifest().get
    assert(m.round == 2 && m.bloomRound >= 0, s"round 2 ran without a snapshot to probe: $m")

    // the closure: scanned once (the cached fetch result is shared by
    // every consumer; dedupe by identity), and never a broadcast's input
    val closureScans = plans.flatMap(scans(_, "fetchclosure"))
      .foldLeft(List.empty[FileSourceScanExec])((acc, s) => if (acc.exists(_ eq s)) acc else s :: acc)
    assert(closureScans.size == 1, s"closure scanned ${closureScans.size} times")
    val broadcastInputs = plans.flatMap(nodes).collect { case b: BroadcastExchangeExec => b }
      .flatMap(b => directScans(b.child))
    assert(!broadcastInputs.exists(_.relation.location.rootPaths.exists(
      _.toString.contains("fetchclosure"))), "the closure is a broadcast build side")

    val segWrite = plans.filter(writesTo(_).exists(_.contains("frontier/seg=3")))
    assert(segWrite.size == 1, s"${segWrite.size} admission writes")
    val generates = nodes(segWrite.head).count(_.isInstanceOf[GenerateExec])
    assert(generates == 1, s"admission ran $generates Generate operators")

    // no validator in any filter or scan whose input is only a visit-log /
    // visited scan (constraint inference used to copy the admission
    // predicate onto them)
    def visitScan(s: FileSourceScanExec) = s.relation.location.rootPaths.exists { r =>
      val t = r.toString; t.contains("/visitlog/") || t.contains("/visited/")
    }
    val overVisits = plans.flatMap(nodes).filter { n =>
      val ds = directScans(n); ds.nonEmpty && ds.forall(visitScan)
    }
    assert(overVisits.nonEmpty)
    val validated = overVisits.filter(_.expressions.exists(_.exists(e =>
      e.isInstanceOf[UrlSyntacticValid] || e.isInstanceOf[UrlSecurityValid])))
    assert(validated.isEmpty, s"validators over visited scans:\n${validated.mkString("\n")}")

    val batchWrite = plans.filter(writesTo(_).exists(_.contains("visitlog/round=2")))
    assert(batchWrite.size == 1, s"${batchWrite.size} batch writes")
    val shuffles = nodes(batchWrite.head).count(_.isInstanceOf[ShuffleExchangeExec])
    assert(shuffles == 2, s"batch selection ran $shuffles shuffles")
  }

  test("seen filter on ≡ off across lagging snapshots and a URL queued in two segments") {
    val pages = SiteGraph.localPages(params).toDS()
    val seeds = (0 until params.nHosts).map(h => SiteGraph.pageUrl(h, 0)).toDF("url")
    def run(fifo: Boolean, bloom: Boolean) = {
      val dir = Files.createTempDirectory("graft-seenequiv-").toString
      val cfg = CrawlConfig(fifoParity = fifo, sameDomainOnly = false, perHostBudget = 4,
        maxConcurrent = 6, saltBuckets = 4, bloomEnabled = bloom, bloomMinFrontierRows = 0L,
        bloomUpdateEvery = 3, compactEvery = 1000, maxRounds = 8, checkpointDir = Some(dir))
      val out = new FrontierCrawler(spark, pages, cfg).crawlSeeds(seeds)
      val store = new CheckpointStore(spark, dir, visitedFromLog = !fifo)
      val m = store.latestManifest().get
      (out, m, store)
    }
    for (fifo <- Seq(false, true)) {
      val (on, mOn, store) = run(fifo, bloom = true)
      val (off, _, _) = run(fifo, bloom = false)
      val mode = if (fifo) "fifo" else "polite"
      // a snapshot every 3 rounds: most rounds probe one that lags the
      // visited rounds they must still exclude
      assert(mOn.bloomRound >= 0 && on.stats.rounds >= 6,
        s"$mode: too few rounds ran against a snapshot (${on.stats.rounds})")
      // some URL sits in two frontier segments at once
      val segs = store.readSegsRaw(mOn.liveSegs.map(_.seg))
      assert(segs.groupBy("url").count().filter($"count" > 1).count() > 0,
        s"$mode: no URL queued twice")
      assert(on.sortedFound == off.sortedFound, mode)
      assert(on.stats == off.stats, mode)
      def log(o: CrawlOutcome) =
        o.visitLog.select("round", "batchIdx", "url").as[(Int, Long, String)].collect().sorted.toSeq
      assert(log(on) == log(off), mode)
      def sides(o: CrawlOutcome) = new CheckpointStore(spark, o.checkpointDir)
        .readSides(0 until o.stats.rounds).get.as[(String, String)].collect().sorted.toSeq
      assert(sides(on) == sides(off), mode)
    }
  }
}
