package graft.operators

import graft.functions.{BloomBucketHandle, BloomBucketStore, TestSpark}
import graft.functions.BloomBucketStore.Sizing
import graft.model.CrawlConfig
import graft.sources.SiteGraph
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** The partitioned seen-filter store (SCALE.md §2.1): per-urlHash-bucket
  * Bloom snapshots built distributively and probed lazily per task, with
  * the bucket count derived from the crawl's design load — the crawl's one
  * URL-seen filter.
  */
class BloomBucketSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** 1 bucket at 100k expected URLs, 4 at 4M. */
  private val OneBucket = 100000L
  private val FourBuckets = 4L * 1000 * 1000

  private def crawlPages(nHosts: Int, pagesPerHost: Int, seed: Long) = {
    val p = SiteGraph.GraphParams(nHosts = nHosts, pagesPerHost = pagesPerHost,
      linksPerPage = 4, redirectFrac = 0.05, errorFrac = 0.05, crossHostFrac = 0.25,
      seed = seed)
    val pages = SiteGraph.localPages(p)
    val seeds = (0 until nHosts).flatMap(h =>
      pages.find(r => r.status == 200 && r.url.startsWith(s"http://site$h.com")).map(_.url))
    (pages, seeds)
  }

  private def resumeCfg(expected: Long, dir: Option[String], rounds: Int) =
    CrawlConfig(fifoParity = false, sameDomainOnly = false, perHostBudget = 3,
      bloomEnabled = true, bloomMinFrontierRows = 0L, bloomExpectedItems = expected,
      bloomUpdateEvery = 1, maxRounds = rounds, checkpointDir = dir)

  test("bucket count is derived from the design load") {
    assert(BloomBucketStore.sizing(1L, 0.01) == Sizing(1, 1L, 0.01))
    assert(BloomBucketStore.sizing(512000L, 0.01) == Sizing(1, 512000L, 0.01))
    assert(BloomBucketStore.sizing(1L << 20, 0.01).buckets == 1)
    assert(BloomBucketStore.sizing((1L << 20) + 1, 0.01).buckets == 2)
    assert(BloomBucketStore.sizing(FourBuckets, 0.01) == Sizing(4, 1000000L, 0.01))
    assert(BloomBucketStore.sizing(16L * 1000 * 1000, 0.01).buckets == 16)
    val s = BloomBucketStore.sizing(10L * 1000 * 1000 * 1000, 0.01)
    assert(s.buckets == 9537 && s.buckets.toLong * s.itemsPerBucket >= 10L * 1000 * 1000 * 1000)
  }

  test("bucket store: build, cross-round merge, no false negatives, missing bucket = false") {
    val dir = Files.createTempDirectory("graft-bloombucket-").toString
    val store = new CheckpointStore(spark, dir)
    val n = 8
    val sizing = Sizing(n, 1024L, 0.01)

    // round 0: hashes 0..499; round 2 merges the round-1..2 delta on top
    val r0 = (0L until 500L).map(i => i * 2654435761L).toDF("urlHash")
    store.saveBloomBuckets(0, -1, r0, sizing)
    val r2 = (500L until 900L).map(i => i * 2654435761L).toDF("urlHash")
    store.saveBloomBuckets(2, 0, r2, sizing)

    val h2 = new BloomBucketHandle(dir, 2, n)
    // no false negatives across both deltas after the merge
    (0L until 900L).map(_ * 2654435761L).foreach(h => assert(h2.probe(h), s"false negative $h"))
    // the old snapshot answers only its own delta
    val h0 = new BloomBucketHandle(dir, 0, n)
    (0L until 500L).map(_ * 2654435761L).foreach(h => assert(h0.probe(h)))

    // a round with no snapshot: every bucket file is missing → all false
    val hNone = new BloomBucketHandle(dir, 7, n)
    assert((0L until 100L).forall(h => !hNone.probe(h)))
  }

  test("store at 1 and at ≥ 2 derived buckets ≡ no filter") {
    val p = SiteGraph.GraphParams(nHosts = 4, pagesPerHost = 30, linksPerPage = 4,
      redirectFrac = 0.05, errorFrac = 0.1, deadLinkFrac = 0.05, crossHostFrac = 0.3,
      heavyHostFrac = 0.5, seed = 97L)
    val pages = SiteGraph.localPages(p)
    val seeds = (0 until 4).flatMap(h =>
      pages.find(r => r.status == 200 && r.url.startsWith(s"http://site$h.com")).map(_.url))
    def run(expected: Long, enabled: Boolean) = new FrontierCrawler(spark, pages.toDS(),
      CrawlConfig(fifoParity = false, sameDomainOnly = false, perHostBudget = 3,
        saltBuckets = 4, bloomEnabled = enabled, bloomMinFrontierRows = 0L,
        bloomExpectedItems = expected, bloomUpdateEvery = 1))
      .crawlSeeds(seeds.toDF("url"))
    val one = run(OneBucket, enabled = true)
    val four = run(FourBuckets, enabled = true)
    val plain = run(OneBucket, enabled = false)
    assert(one.sortedFound == plain.sortedFound)
    assert(four.sortedFound == plain.sortedFound)
    assert(one.stats == plain.stats)
    assert(four.stats == plain.stats)
    for ((out, n) <- Seq(one -> 1, four -> 4)) {
      val m = new CheckpointStore(spark, out.checkpointDir).latestManifest().get
      assert(m.bloomRound >= 0 && m.seen.buckets == n)
      // the snapshot is the bucket store, never a single broadcast file
      val snap = Paths.get(out.checkpointDir, "bloombuckets", s"round=${m.bloomRound}")
      assert(Files.list(snap).count() == n, s"$n-bucket snapshot not written")
      assert(!Files.exists(Paths.get(out.checkpointDir, "bloom")))
    }
  }

  test("bucket-mode crawl resumes exactly from checkpoint") {
    val (pages, seeds) = crawlPages(3, 25, 53L)
    val full = new FrontierCrawler(spark, pages.toDS(), resumeCfg(FourBuckets, None, Int.MaxValue))
      .crawlSeeds(seeds.toDF("url"))
    val dir = Files.createTempDirectory("graft-bucketresume-").toString
    new FrontierCrawler(spark, pages.toDS(), resumeCfg(FourBuckets, Some(dir), 2))
      .crawlSeeds(seeds.toDF("url"))
    val resumed = new FrontierCrawler(spark, pages.toDS(),
      resumeCfg(FourBuckets, Some(dir), Int.MaxValue)).crawlSeeds(seeds.toDF("url"))
    assert(resumed.sortedFound == full.sortedFound)
    assert(resumed.stats == full.stats)
  }

  test("resume with a resized seen filter rebuilds, never merges") {
    // a snapshot sized for one design load cannot merge with (or answer
    // probes routed for) another: the resumed crawl must rebuild it from
    // the visited deltas — within one bucket (100k → 200k) and across a
    // bucket-count change (1 → 4)
    val (pages, seeds) = crawlPages(3, 25, 67L)
    for ((before, after) <- Seq(OneBucket -> 2 * OneBucket, OneBucket -> FourBuckets)) {
      val full = new FrontierCrawler(spark, pages.toDS(), resumeCfg(after, None, Int.MaxValue))
        .crawlSeeds(seeds.toDF("url"))
      val dir = Files.createTempDirectory("graft-bloomresize-").toString
      new FrontierCrawler(spark, pages.toDS(), resumeCfg(before, Some(dir), 2))
        .crawlSeeds(seeds.toDF("url"))
      val store = new CheckpointStore(spark, dir, visitedFromLog = true)
      val m1 = store.latestManifest().get
      assert(m1.bloomRound >= 0 && m1.seen == BloomBucketStore.sizing(before, 0.01))
      val resumed = new FrontierCrawler(spark, pages.toDS(),
        resumeCfg(after, Some(dir), Int.MaxValue)).crawlSeeds(seeds.toDF("url"))
      assert(resumed.sortedFound == full.sortedFound, s"$before -> $after")
      assert(resumed.stats == full.stats, s"$before -> $after")
      val m2 = store.latestManifest().get
      assert(m2.seen == BloomBucketStore.sizing(after, 0.01) && m2.bloomRound > m1.bloomRound,
        s"$before -> $after: snapshot not rebuilt under the new sizing")
    }
  }
}
