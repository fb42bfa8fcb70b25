package graft.operators

import graft.functions.TestSpark
import graft.model.{CrawlConfig, PageRow}
import graft.sources.SiteGraph
import graft.url.{PyUrl, UrlNormalizer, UrlValidator}
import org.scalatest.funsuite.AnyFunSuite

/** The scale scheduler (north rule): per-host politeness budgets, robots
  * cache, Retry-After backoff, skew-safe salted top-k, multi-host frontier.
  */
class PoliteSchedulerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import org.apache.spark.sql.functions._
  import graft.functions.UrlFunctions.url_host

  /** Order-independent reachability closure for redirect-free graphs:
    * the polite scheduler's found set must equal it exactly. */
  private def closure(pages: Map[String, PageRow], seeds: Seq[String]): Set[String] = {
    val seen = scala.collection.mutable.Set[String]()
    val q = scala.collection.mutable.Queue[String]()
    seeds.map(UrlNormalizer.normalize).foreach { s => if (seen.add(s)) q += s }
    while (q.nonEmpty) {
      val u = q.dequeue()
      pages.get(u).filter(p => p.status == 200).foreach { p =>
        p.links.foreach { href =>
          val n = UrlNormalizer.normalize(PyUrl.urljoin(u, href))
          if (UrlValidator.syntacticOk(n) && UrlValidator.securityOk(n) && seen.add(n)) q += n
        }
      }
    }
    seen.toSet
  }

  test("multi-host crawl: found = reachability closure; per-host budget enforced; no re-visits") {
    val p = SiteGraph.GraphParams(nHosts = 4, pagesPerHost = 30, linksPerPage = 4,
      redirectFrac = 0.0, errorFrac = 0.1, deadLinkFrac = 0.05, crossHostFrac = 0.3,
      heavyHostFrac = 0.5, seed = 13L)
    val pages = SiteGraph.localPages(p)
    val seeds = (0 until 4).flatMap(h =>
      pages.find(r => r.status == 200 && r.url.startsWith(s"http://site$h.com")).map(_.url))
    val budget = 3
    val cfg = CrawlConfig(fifoParity = false, sameDomainOnly = false,
      perHostBudget = budget, saltBuckets = 4, bloomEnabled = true,
      bloomMinFrontierRows = 0L, // force the probe path on this small fixture
      bloomExpectedItems = 100000L)
    val out = new FrontierCrawler(spark, pages.toDS(), cfg)
      .crawlSeeds(seeds.toDF("url"))

    val expected = closure(pages.map(r => r.url -> r).toMap, seeds)
    assert(out.sortedFound.toSet == expected, "polite found set != reachability closure")

    // each URL scheduled exactly once (set semantics, no duplicate fetches)
    val log = out.visitLog.cache()
    assert(log.count() == log.select("url").distinct().count(), "URL scheduled twice")

    // politeness: ≤ budget fetches per host per round, every round
    val over = log.withColumn("host", url_host($"url"))
      .groupBy("round", "host").count().filter($"count" > budget).count()
    assert(over == 0, "per-host politeness budget exceeded")
    log.unpersist()
  }

  test("robots: disallowed host never fetched; crawl-delay host gets a reduced budget") {
    val p = SiteGraph.GraphParams(nHosts = 3, pagesPerHost = 20, linksPerPage = 3,
      redirectFrac = 0.0, errorFrac = 0.0, deadLinkFrac = 0.0, crossHostFrac = 0.3, seed = 21L)
    val pages = SiteGraph.localPages(p)
    val seeds = (0 until 3).flatMap(h =>
      pages.find(r => r.status == 200 && r.url.startsWith(s"http://site$h.com")).map(_.url))
    val robots = Seq(
      ("site1.com", true, null.asInstanceOf[java.lang.Double]),  // Disallow: /
      ("site2.com", false, java.lang.Double.valueOf(0.2))        // Crawl-delay: 0.2
    ).toDF("host", "disallow", "crawlDelay")
    val cfg = CrawlConfig(fifoParity = false, sameDomainOnly = false,
      delay = 0.1, perHostBudget = 4, bloomEnabled = false)
    val out = new FrontierCrawler(spark, pages.toDS(), cfg, robots = Some(robots))
      .crawlSeeds(seeds.toDF("url"))

    val log = out.visitLog.withColumn("host", url_host($"url")).cache()
    assert(log.filter($"host" === "site1.com").count() == 0, "disallowed host was fetched")
    // crawl-delay 0.2 with budget 4 × delay 0.1 → at most 2 fetches/round
    val over = log.filter($"host" === "site2.com")
      .groupBy("round").count().filter($"count" > 2).count()
    assert(over == 0, "crawl-delay budget not honored")
    assert(log.filter($"host" === "site0.com").count() > 0)
    log.unpersist()
  }

  test("frontier compaction: periodic visited-pruning preserves results") {
    val p = SiteGraph.GraphParams(nHosts = 3, pagesPerHost = 25, linksPerPage = 4,
      redirectFrac = 0.05, errorFrac = 0.05, crossHostFrac = 0.25, seed = 41L)
    val pages = SiteGraph.localPages(p)
    val seeds = (0 until 3).flatMap(h =>
      pages.find(r => r.status == 200 && r.url.startsWith(s"http://site$h.com")).map(_.url))
    def run(every: Int) = new FrontierCrawler(spark, pages.toDS(),
      CrawlConfig(fifoParity = false, sameDomainOnly = false, perHostBudget = 4,
        bloomEnabled = false, compactEvery = every)).crawlSeeds(seeds.toDF("url"))
    val compacted = run(2)
    val plain = run(1000000)
    assert(compacted.sortedFound == plain.sortedFound)
    assert(compacted.stats == plain.stats)
  }

  test("Retry-After: throttled host backs off and the crawl resumes it later") {
    def pg(url: String, links: Seq[String]): PageRow =
      PageRow(url, 200, None, links, None, Some("text/html"), None, None)
    val pages = Seq(
      pg("http://a.com/root", Seq("/throttle", "/x1")),
      PageRow("http://a.com/throttle", 503, None, Nil, None, Some("text/html"), Some(1), None),
      pg("http://a.com/x1", Seq("/x2")),
      pg("http://a.com/x2", Seq("/x3")),
      pg("http://a.com/x3", Nil))
    val cfg = CrawlConfig(fifoParity = false, sameDomainOnly = false,
      delay = 0.1, perHostBudget = 2, bloomEnabled = false, maxRounds = 40)
    val out = new FrontierCrawler(spark, pages.toDS(), cfg)
      .crawlSeeds(Seq("http://a.com/root").toDF("url"))

    // all pages still crawled eventually (backoff is a pause, not a stop)
    assert(out.sortedFound.toSet ==
      Set("http://a.com/root", "http://a.com/throttle", "http://a.com/x1",
        "http://a.com/x2", "http://a.com/x3"))
    // rounds after the 503 are idle until the backoff expires: with
    // retry-after 1s and span perHostBudget×delay = 0.2s, ≥5 idle rounds
    val throttleRound = out.visitLog.filter($"url" === "http://a.com/throttle")
      .select("round").as[Int].head()
    val laterRounds = out.visitLog.filter($"round" > throttleRound)
      .select("round").as[Int].collect()
    assert(laterRounds.forall(_ > throttleRound + 4),
      s"host resumed too early: ${laterRounds.toSeq.sorted} after throttle at $throttleRound")
    assert(out.stats.errorCount >= 1) // the 503 itself is an error event
  }

  test("seed priorities drive the schedule; LinkRank authority maps onto the priority queue") {
    import org.apache.spark.sql.expressions.Window
    // 12 linkless pages on one host — scheduling order is purely the
    // priority queue (no discovery traffic can jump the line)
    val pages = (0 until 12).map(i => PageRow(s"http://prio.com/p/$i", 200,
      None, Seq.empty, Some("<html></html>"), Some("text/html"), None, None))
    // authority graph over the page ids: 0 is the hub every page cites,
    // 1→2→…→11 a citation chain — LinkRank must send the crawler to the
    // hub first (north-rule wiring: rank DESC becomes priority ASC)
    val edges = ((1L until 12L).map(i => (i, 0L)) ++
      (1L until 11L).map(i => (i, i + 1))).toDF("src", "dst")
    val rank = graft.ops.LinkRank.pageRank(edges, "src", "dst")
    val prio = rank.withColumn("priority",
      row_number().over(Window.orderBy(desc("rank"), $"id")).cast("int"))
    val seeds = prio.select(
      concat(lit("http://prio.com/p/"), $"id").as("url"), $"priority")

    val budget = 3
    val out = new FrontierCrawler(spark, pages.toDS(),
      CrawlConfig(fifoParity = false, sameDomainOnly = false,
        perHostBudget = budget, saltBuckets = 4, bloomEnabled = false))
      .crawlSeeds(seeds)

    // fetch round of every page = its authority position ÷ budget, exactly
    val pos = prio.select($"id", $"priority").collect()
      .map(r => s"http://prio.com/p/${r.getLong(0)}" -> r.getInt(1)).toMap
    val rounds = out.visitLog.select($"url", $"round").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(rounds.size == 12)
    pos.foreach { case (url, p) =>
      assert(rounds(url) == (p - 1) / budget,
        s"$url with priority $p fetched in round ${rounds(url)}")
    }
    // and the hub (max in-degree) is in the very first batch
    assert(rounds("http://prio.com/p/0") == 0)
  }

  test("roundBudget + hostPriority: authority decides which host gets crawl capacity") {
    // two hosts, each a seed page linking to 6 more; authority says b.com
    // (priority 1) over a.com (priority 9). With a global round budget of 4
    // the b.com links must fully drain before any a.com link is fetched.
    def site(h: String) = PageRow(s"http://$h/root", 200, None,
      (1 to 6).map(i => s"/p$i"), Some("<html></html>"), Some("text/html"), None, None) +:
      (1 to 6).map(i => PageRow(s"http://$h/p$i", 200, None, Seq.empty,
        Some("<html></html>"), Some("text/html"), None, None))
    val pages = site("a.com") ++ site("b.com")
    val hp = Seq(("a.com", 9), ("b.com", 1)).toDF("host", "priority")
    val out = new FrontierCrawler(spark, pages.toDS(),
      CrawlConfig(fifoParity = false, sameDomainOnly = false,
        perHostBudget = 4, saltBuckets = 4, bloomEnabled = false,
        roundBudget = 4),
      hostPriority = Some(hp))
      .crawlSeeds(Seq(("http://a.com/root", 0), ("http://b.com/root", 0))
        .toDF("url", "priority"))

    val rounds = out.visitLog.select($"url", $"round").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(rounds.size == 14) // everything crawled eventually
    val bLinkRounds = (1 to 6).map(i => rounds(s"http://b.com/p$i"))
    val aLinkRounds = (1 to 6).map(i => rounds(s"http://a.com/p$i"))
    // authority-first drain: the ration never grants a.com a slot while a
    // b.com link could have taken it — every b link round precedes or ties
    // the earliest a round (ties = b's leftovers didn't fill the budget),
    // and b completes strictly before a does
    assert(bLinkRounds.max <= aLinkRounds.min && bLinkRounds.max < aLinkRounds.max,
      s"authority host not drained first: b=$bLinkRounds a=$aLinkRounds")
    // the global cap held every round
    val perRound = rounds.values.groupBy(identity).view.mapValues(_.size)
    assert(perRound.forall(_._2 <= 4), s"round budget exceeded: ${perRound.toMap}")
  }

  test("hand-built robots cache: allowPrefixes without a disallowPrefixes column") {
    // a deny-all host with an Allow carve-out, in a cache that has the
    // allowPrefixes column but NOT disallowPrefixes — the longest-match
    // filter must still run (Disallow:/ synthesized as the "/" rule), so
    // only the carved-out path is fetched, never the whole host
    val pages = Seq(
      PageRow("http://x.com/public", 200, None, Seq("/public/a", "/secret"),
        Some("<html></html>"), Some("text/html"), None, None),
      PageRow("http://x.com/public/a", 200, None, Seq.empty,
        Some("<html></html>"), Some("text/html"), None, None),
      PageRow("http://x.com/secret", 200, None, Seq.empty,
        Some("<html></html>"), Some("text/html"), None, None))
    val robots = Seq(("x.com", true, Seq("/public"),
        null.asInstanceOf[java.lang.Double]))
      .toDF("host", "disallow", "allowPrefixes", "crawlDelay")
    val out = new FrontierCrawler(spark, pages.toDS(),
      CrawlConfig(fifoParity = false, sameDomainOnly = false,
        perHostBudget = 4, bloomEnabled = false), robots = Some(robots))
      .crawlSeeds(Seq("http://x.com/public", "http://x.com/secret").toDF("url"))
    val got = out.visitLog.select("url").as[String].collect().toSet
    assert(got == Set("http://x.com/public", "http://x.com/public/a"),
      s"Allow carve-out mis-scoped: $got")
  }

  test("epoch loop: crawl → hostRank from the observed link graph → rationed re-crawl") {
    import graft.functions.UrlFunctions.url_resolve
    // cite.com is the web's hub: every other host links to it
    def host(h: String, extra: Seq[String]) =
      PageRow(s"http://$h/root", 200, None, (1 to 5).map(i => s"/p$i") ++ extra,
        Some("<html></html>"), Some("text/html"), None, None) +:
        (1 to 5).map(i => PageRow(s"http://$h/p$i", 200, None, Seq.empty,
          Some("<html></html>"), Some("text/html"), None, None))
    val pages = host("cite.com", Seq.empty) ++
      host("m1.com", Seq("http://cite.com/root")) ++
      host("m2.com", Seq("http://cite.com/root"))
    val seeds = Seq("http://cite.com/root", "http://m1.com/root", "http://m2.com/root")

    // epoch 1: flat crawl, no authority — this OBSERVES the link graph
    val e1 = new FrontierCrawler(spark, pages.toDS(),
      CrawlConfig(fifoParity = false, sameDomainOnly = false,
        perHostBudget = 8, saltBuckets = 4, bloomEnabled = false))
      .crawlSeeds(seeds.toDF("url"))
    assert(e1.sortedFound.size == 18)

    // authority from the crawled pages' own link relation
    val linkRel = pages.toDS().toDF()
      .select($"url", explode($"links").as("href"))
      .select($"url".as("src"), url_resolve($"url", $"href").as("dst"))
    val hp = graft.ops.LinkRank.hostRank(linkRel, "src", "dst")
    val prio = hp.collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(prio("cite.com") == 1, s"hub not ranked first: $prio")

    // epoch 2 (fresh state): the ration sends the budget to the hub first
    val e2 = new FrontierCrawler(spark, pages.toDS(),
      CrawlConfig(fifoParity = false, sameDomainOnly = false,
        perHostBudget = 5, saltBuckets = 4, bloomEnabled = false, roundBudget = 5),
      hostPriority = Some(hp.select("host", "priority")))
      .crawlSeeds(seeds.toDF("url"))
    val rounds = e2.visitLog.select($"url", $"round").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    def linkRounds(h: String) = (1 to 5).map(i => rounds(s"http://$h/p$i"))
    val hub = linkRounds("cite.com"); val rest = linkRounds("m1.com") ++ linkRounds("m2.com")
    assert(hub.max <= rest.min && hub.max < rest.max,
      s"hub not crawled first under the ration: hub=$hub rest=$rest")
  }

  test("a URL found by parents at two depths in one round is admitted at the least depth") {
    // per trio, budget 1 a host: round 0 fetches the seeds <p>/s and
    // <q>/first (depth 0); round 1 fetches <p>/x (depth 1, found in round 0)
    // next to the lower-ranked seed <q>/late (depth 0). Both link to <t>/t.
    // Three trios, so the parents meet the dedup in more than one order.
    def page(url: String, links: String*) =
      PageRow(url, 200, None, links, None, Some("text/html"), None, None)
    val trios = Seq(("a", "b", "c"), ("d", "f", "e"), ("g", "0", "h"))
      .map { case (p, q, t) => (s"http://$p.com", s"http://$q.com", s"http://$t.com/t") }
    val pages = trios.flatMap { case (p, q, t) =>
      Seq(page(s"$p/s", "/x"), page(s"$p/x", t), page(s"$q/first"), page(s"$q/late", t), page(t))
    }
    val seeds = trios.flatMap { case (p, q, _) =>
      Seq(s"$p/s" -> 0, s"$q/first" -> 0, s"$q/late" -> 9)
    }.toDF("url", "priority")
    val dir = java.nio.file.Files.createTempDirectory("graft-mindepth-").toString
    val out = new FrontierCrawler(spark, pages.toDS(), CrawlConfig(fifoParity = false,
      sameDomainOnly = false, perHostBudget = 1, bloomEnabled = false, maxRounds = 2,
      checkpointDir = Some(dir))).crawlSeeds(seeds)
    val log = out.visitLog.select("round", "url").as[(Int, String)].collect().toSet
    assert(log == trios.flatMap { case (p, q, _) =>
      Seq(0 -> s"$p/s", 0 -> s"$q/first", 1 -> s"$p/x", 1 -> s"$q/late")
    }.toSet)
    // round 1 admits into segment 2: every <t>/t at depth 1, priority 1 —
    // the depth-0 parent's discovery, never the depth-1 parent's
    val admitted = new CheckpointStore(spark, dir).readSegsRaw(Seq(2))
      .select("url", "depth", "priority").as[(String, Int, Int)].collect().toSet
    assert(admitted == trios.map { case (_, _, t) => (t, 1, 1) }.toSet)
  }
}
