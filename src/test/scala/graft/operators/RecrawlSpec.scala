package graft.operators

import graft.functions.TestSpark
import graft.model.CrawlConfig
import graft.sources.SiteGraph
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** TTL / re-crawl expiry (`CheckpointStore.expireAndRequeue`): retiring
  * visited rounds re-queues their URLs and the resumed crawl re-fetches
  * EXACTLY those URLs. A Bloom filter cannot delete, so expiry drops the
  * seen-filter snapshot pointer and the next round rebuilds it. The
  * reference has no re-crawl; this is the operational story a production
  * crawl needs (pages go stale).
  */
class RecrawlSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val params = SiteGraph.GraphParams(nHosts = 4, pagesPerHost = 40,
    linksPerPage = 4, redirectFrac = 0.05, errorFrac = 0.1, deadLinkFrac = 0.05,
    crossHostFrac = 0.3, heavyHostFrac = 0.5, seed = 31L)

  private def seedsOf(pages: Seq[graft.model.PageRow]) =
    (0 until params.nHosts).flatMap(h =>
      pages.find(r => r.status == 200 && r.url.startsWith(s"http://site$h.com")).map(_.url))

  private def politeCfg(dir: String) =
    CrawlConfig(fifoParity = false, sameDomainOnly = false, perHostBudget = 4,
      saltBuckets = 4, bloomEnabled = true, bloomMinFrontierRows = 0L,
      bloomExpectedItems = 100000L, bloomUpdateEvery = 1,
      checkpointDir = Some(dir), maxRounds = 1000)

  private def crawlPolite(dir: String) = {
    val pages = SiteGraph.localPages(params)
    new FrontierCrawler(spark, pages.toDS(), politeCfg(dir))
      .crawlSeeds(seedsOf(pages).toDF("url"))
  }

  test("authority requeue: requeued rows take host rank priority, not depth") {
    val dir = Files.createTempDirectory("graft-recrawl-auth-").toString
    crawlPolite(dir)
    val store = new CheckpointStore(spark, dir, visitedFromLog = true)
    val m1 = store.latestManifest().get
    val hp = Seq(("site0.com", 5), ("site1.com", 7)).toDF("host", "priority")
    val m2 = store.expireAndRequeue(m1.visitedRounds.takeRight(2), hostPriority = Some(hp))
    val seg = store.readSegsRaw(Seq(m2.liveSegs.last.seg))
      .select("host", "priority", "depth").collect()
    assert(seg.nonEmpty)
    seg.foreach { r =>
      val expect = r.getString(0) match {
        case "site0.com" => 5
        case "site1.com" => 7
        case _ => Int.MaxValue // authority unknown = schedule last
      }
      assert(r.getInt(1) == expect,
        s"host ${r.getString(0)}: priority ${r.getInt(1)} != $expect " +
          "(depth-scale priorities must never enter a rank-scale frontier)")
    }
  }

  test("recency requeue: fresher lastmod is re-fetched first within the same priority class") {
    val dir = Files.createTempDirectory("graft-recrawl-rec-").toString
    crawlPolite(dir)
    val store = new CheckpointStore(spark, dir, visitedFromLog = true)
    val m1 = store.latestManifest().get
    val expireRounds = m1.visitedRounds.takeRight(2)
    val expired = store.readVisited(expireRounds).get
      .select("url").as[String].collect().sorted.toSeq
    val s0 = expired.filter(_.startsWith("http://site0.com")).sorted
    assert(s0.length >= 2, s"fixture drift: ${s0.length} site0 urls expired")
    // freshness CONTRADICTS the url tie-break: the lexicographically
    // LARGEST url claims the freshest lastmod — only the recency idx can
    // produce fresher-first order
    val base = java.time.Instant.parse("2026-01-01T00:00:00Z").getEpochSecond
    // the relation is deliberately UN-deduped: every url also carries a
    // staler duplicate row (a url listed by two sitemaps). The requeue
    // must collapse to one row per url (freshest wins) — an un-deduped
    // left join would MULTIPLY requeued frontier entries
    val rec = s0.zipWithIndex.flatMap { case (u, i) =>
      Seq((u, new java.sql.Timestamp((base + i * 86400L) * 1000L)),
        (u, new java.sql.Timestamp((base - 86400L) * 1000L)))
    }.toDF("url", "lastmod")
    // one shared authority class per host, so discoveryIdx (not priority)
    // decides intra-host order — the contract's "same authority scale"
    val hp = (0 until params.nHosts).map(h => (s"site$h.com", 1)).toDF("host", "priority")
    val m2 = store.expireAndRequeue(expireRounds, hostPriority = Some(hp),
      recency = Some(rec))

    // segment-level: lastmod rows sit in the recency band in freshness
    // order; unknown-recency rows (every other host) land after the band
    val segRows = store.readSegsRaw(Seq(m2.liveSegs.last.seg))
      .select("url", "discoveryIdx").as[(String, Long)].collect()
    // exactly one frontier row per expired url despite the duplicate
    // recency rows (the Map below would silently hide a multiplication)
    assert(segRows.length == expired.length,
      s"${segRows.length} requeued rows for ${expired.length} expired urls")
    val seg = segRows.toMap
    val segBase = (m2.round.toLong + 1) * CheckpointStore.IdxSpan
    val bandEnd = segBase + CheckpointStore.RecencyBand
    s0.foreach(u => assert(seg(u) >= segBase && seg(u) < bandEnd,
      s"$u idx ${seg(u)} outside the recency band"))
    val idxOrder = s0.sortBy(seg) // ascending idx = scheduled order
    assert(idxOrder == s0.reverse,
      s"recency band order $idxOrder != fresher-first ${s0.reverse}")
    (seg.keySet -- s0).foreach(u => assert(seg(u) >= bandEnd,
      s"unknown-recency $u idx ${seg(u)} inside the band"))

    // end-to-end: resume with budget 1 — site0 drains one URL per round,
    // so visited-round numbers are the fetch order; the freshest must come
    // back before every staler one
    val pages = SiteGraph.localPages(params)
    new FrontierCrawler(spark, pages.toDS(),
      politeCfg(dir).copy(perHostBudget = 1),
      hostPriority = Some(hp)).crawlSeeds(seedsOf(pages).toDF("url"))
    val m3 = store.latestManifest().get
    val newRounds = (m3.visitedRounds.toSet -- m2.visitedRounds.toSet).toSeq.sorted
    val roundOf = newRounds.flatMap { r =>
      store.readVisited(Seq(r)).get.select("url").as[String].collect()
        .filter(s0.contains).map(_ -> r)
    }.toMap
    assert(roundOf.keySet == s0.toSet, s"resume missed ${s0.toSet -- roundOf.keySet}")
    val fetchOrder = s0.sortBy(roundOf)
    assert(fetchOrder == s0.reverse,
      s"fetch order $fetchOrder != fresher-first ${s0.reverse}")
  }

  test("bloom expiry: pointer dropped (no delete), resume rebuilds and re-fetches exactly") {
    val dir = Files.createTempDirectory("graft-recrawl-bloom-").toString
    val out1 = crawlPolite(dir)
    val store = new CheckpointStore(spark, dir, visitedFromLog = true)
    val m1 = store.latestManifest().get
    assert(m1.bloomRound >= 0 &&
      m1.seen == graft.functions.BloomBucketStore.sizing(100000L, 0.01))
    val expireRounds = Seq(m1.visitedRounds.last)
    val expired = store.readVisited(expireRounds).get
      .select("url").collect().map(_.getString(0)).toSet

    val m2 = store.expireAndRequeue(expireRounds)
    assert(m2.bloomRound == -1, "a Bloom snapshot cannot delete — pointer must drop")

    val out2 = crawlPolite(dir)
    assert(out2.sortedFound == out1.sortedFound)
    val m3 = store.latestManifest().get
    assert(m3.bloomRound >= 0, "resume did not rebuild the filter snapshot")
    val newRounds = (m3.visitedRounds.toSet -- m2.visitedRounds.toSet).toSeq
    val revisited = store.readVisited(newRounds).get
      .select("url").collect().map(_.getString(0)).toSet
    assert(revisited == expired)
  }

  test("ExpireCli: flag parsing and end-to-end expiry") {
    import graft.ExpireCli
    val dir = Files.createTempDirectory("graft-recrawl-cli-").toString
    val out1 = crawlPolite(dir)
    intercept[ExpireCli.CliUsageError](ExpireCli.run(spark, Array.empty))
    intercept[ExpireCli.CliUsageError](ExpireCli.run(spark, Array(dir)))
    intercept[ExpireCli.CliUsageError](
      ExpireCli.run(spark, Array(dir, "--rounds", "1", "--last", "1")))
    intercept[ExpireCli.CliUsageError](ExpireCli.run(spark, Array(dir, "--rounds", "x")))
    intercept[ExpireCli.CliUsageError](ExpireCli.run(spark, Array(dir, "--last")))
    intercept[ExpireCli.CliUsageError](ExpireCli.run(spark, Array(dir, "--bogus")))
    intercept[ExpireCli.CliUsageError](
      ExpireCli.run(spark, Array(dir, "--last", "1", "--fifo", "--recency", "/x")))

    val store = new CheckpointStore(spark, dir, visitedFromLog = true)
    val m1 = store.latestManifest().get
    val expected = Seq(m1.visitedRounds.last)
    // --recency routes through expireAndRequeue's recency join: expired
    // URLs with a lastmod land in the recency band of the requeue segment
    val recDir = Files.createTempDirectory("graft-recrawl-clirec-").toString + "/rec"
    val someExpired = store.readVisited(expected).get.select("url")
      .as[String].head(2).toSeq
    someExpired.map((_, new java.sql.Timestamp(1767225600000L)))
      .toDF("url", "lastmod").write.parquet(recDir)
    assert(ExpireCli.run(spark,
      Array(dir, "--last", "1", "--recency", recDir)) == expected)
    val m1b = store.latestManifest().get
    val segIdx = store.readSegsRaw(Seq(m1b.liveSegs.last.seg))
      .select("url", "discoveryIdx").as[(String, Long)].collect().toMap
    val segBase = (m1b.round.toLong + 1) * CheckpointStore.IdxSpan
    someExpired.foreach(u => assert(
      segIdx(u) >= segBase && segIdx(u) < segBase + CheckpointStore.RecencyBand,
      s"$u idx ${segIdx(u)} outside the recency band"))
    // and the re-crawl still re-fetches exactly (found set invariant below)
    val out1b = crawlPolite(dir)
    assert(out1b.sortedFound == out1.sortedFound)
    val expected2 = Seq(store.latestManifest().get.visitedRounds.last)
    assert(ExpireCli.run(spark, Array(dir, "--last", "1")) == expected2)
    val out2 = crawlPolite(dir)
    assert(out2.sortedFound == out1.sortedFound)
  }

  test("FIFO requeue: sequential idx block, resume re-fetches exactly") {
    val dir = Files.createTempDirectory("graft-recrawl-fifo-").toString
    val pages = SiteGraph.localPages(params)
    val cfg = CrawlConfig(fifoParity = true, sameDomainOnly = false,
      bloomEnabled = false, checkpointDir = Some(dir), maxRounds = 10000)
    val out1 = new FrontierCrawler(spark, pages.toDS(), cfg)
      .crawlSeeds(seedsOf(pages).toDF("url"))
    val store = new CheckpointStore(spark, dir) // FIFO: visitedFromLog = false
    val m1 = store.latestManifest().get
    val expireRounds = Seq(m1.visitedRounds.head)
    val expired = store.readVisited(expireRounds).get
      .select("url").collect().map(_.getString(0)).toSet

    val m2 = store.expireAndRequeue(expireRounds, fifoIdx = true)
    assert(m2.nextIdx > m1.nextIdx, "requeued segment must claim a fresh sequential idx block")
    val seg = m2.liveSegs.last
    assert(seg.minIdx == m1.nextIdx && seg.rows > 0)

    val out2 = new FrontierCrawler(spark, pages.toDS(), cfg)
      .crawlSeeds(seedsOf(pages).toDF("url"))
    assert(out2.sortedFound == out1.sortedFound)
    val m3 = store.latestManifest().get
    val newRounds = (m3.visitedRounds.toSet -- m2.visitedRounds.toSet).toSeq
    val revisited = store.readVisited(newRounds).get
      .select("url").collect().map(_.getString(0)).toSet
    assert(revisited == expired)
  }
}
