package graft.perfbench

import graft.functions.{BloomFunctions, RobotsFunctions, UrlFunctions}
import graft.model.{CrawlConfig, PageRow}
import graft.operators.{CheckpointStore, CrawlOutcome, FrontierCrawler}
import graft.oracle.ReferenceCrawler
import graft.sources.SiteGraph
import java.nio.file.Path
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One crawl scheduler mode of the `crawl` workload. Warm rounds on the
  * part's own seeded graph build a checkpoint once, in set-up; every pass
  * resumes a fresh copy of it and runs the same rounds.
  * Per-layer names carry the mode: `FrontierCrawler.<mode>.*`. */
abstract class CrawlPart(spark: SparkSession, root: Path, val mode: String) extends Workload {
  import spark.implicits._

  protected val work: Path = root.resolve(mode)
  protected val passDir: Path = work.resolve("pass")
  private val base = work.resolve("base")
  protected var pages: Dataset[PageRow] = _
  protected var last: CrawlOutcome = _
  protected var items = 0L
  protected var baseTotals = (0L, 0L)
  private var usageBefore = (0L, 0L)
  private val samples = scala.collection.mutable.ArrayBuffer[Map[String, Double]]()

  protected def writePages(p: SiteGraph.GraphParams, name: String): Dataset[PageRow] = {
    val path = work.resolve("inputs").resolve(name).toString
    SiteGraph.generate(spark, p).write.mode("overwrite").parquet(path)
    spark.read.parquet(path).as[PageRow]
  }

  /** A crawl call over the part's graph with this checkpoint and round cap. */
  protected def crawlTo(dir: Path, maxRounds: Int): CrawlOutcome
  protected val crawlSpan: String
  protected def warmRounds: Int
  /** Round cap of a timed pass. */
  protected def endRound: Int

  def prepareOnce(): Unit = {
    Dirs.delete(base)
    val o = crawlTo(base, warmRounds)
    require(o.stats.rounds == warmRounds, s"$mode warm crawl ended after ${o.stats.rounds} rounds")
    baseTotals = (o.stats.scheduledTotal, o.stats.fetchedTotal)
  }

  def reset(pass: Int): Unit = { Dirs.copy(base, passDir); usageBefore = Dirs.usage(passDir) }

  def pass(pass: Int, led: Option[Ledger]): Long = {
    last = led.fold(crawlTo(passDir, endRound))(_.span(crawlSpan)(crawlTo(passDir, endRound)))
    items = last.stats.scheduledTotal + last.stats.fetchedTotal - baseTotals._1 - baseTotals._2
    items
  }

  /** Per-layer samples of one traced pass; ends with a crawl call that
    * resumes the finished checkpoint and runs no further round (what a
    * restart costs). */
  protected def sample(led: Ledger): Unit = {
    led.settle()
    val sp = led.last(crawlSpan)
    val js = led.jobsIn(sp)
    val rounds = warmRounds until last.stats.rounds
    val n = rounds.size.toDouble
    val store = new CheckpointStore(spark, passDir.toString)
    val roundMs = rounds.map(r => store.loadMetrics(r)("wallMs").toDouble)
    def busy(group: String) = led.busyMs(js.filter(_.group == group), sp) / n
    val (bytesAfter, filesAfter) = Dirs.usage(passDir)
    led.span("CheckpointStore.resume")(crawlTo(passDir, last.stats.rounds))
    val fc = s"FrontierCrawler.$mode"
    val cs = s"CheckpointStore.$mode"
    samples += Map(
      s"$fc.round_ms_p50" -> Stats.median(roundMs),
      s"$fc.jobs_per_round" -> js.size / n,
      s"$fc.driver_gap_ms" -> (sp.durMs - led.busyMs(js, sp)) / n,
      s"$fc.t_batch.busy_ms" -> busy("t_batch"),
      s"$fc.t_wseg.busy_ms" -> busy("t_wseg"),
      s"$fc.t_wsides.busy_ms" -> busy("t_wsides"),
      s"$fc.t_bloom.busy_ms" -> busy("t_bloom"),
      s"$fc.shuffle_bytes_per_url" -> led.shuffleBytes(js).toDouble / items,
      s"$fc.spill_bytes" -> led.spillBytes(js).toDouble,
      s"$fc.task_skew" -> led.taskSkew(js),
      s"$cs.bytes_per_round" -> (bytesAfter - usageBefore._1) / n,
      s"$cs.files_per_round" -> (filesAfter - usageBefore._2) / n,
      s"$cs.resume_ms" -> led.last("CheckpointStore.resume").durMs)
  }

  def layers(led: Ledger): Map[String, Double] = Workload.medians(samples.toSeq)

  /** Each crawl-path expression in isolation over the part's own links
    * (resolved against their page, cached so the scan is cheap): ns per
    * row of the expression's projection, plus the measured false-positive
    * rate of a seen-filter sized like the crawl's and filled to its design
    * load. */
  protected def functionProbes(led: Ledger, robots: DataFrame, cfg: CrawlConfig)
      : Map[String, Double] = {
    val links = pages.select($"url".as("base"), explode($"links").as("href"))
      .select(UrlFunctions.url_resolve($"base", $"href").as("abs"))
      .filter($"abs".isNotNull)
    // at least ~200k rows (repeated if fewer), so per-row cost outweighs
    // per-query overhead
    val copies = math.max(1L, 200000L / math.max(1L, links.count()))
    val abs = links.crossJoin(spark.range(copies).toDF("copy")).drop("copy").cache()
    val n = abs.count().toDouble
    def nsPerRow(name: String, df: DataFrame, e: Column): Double = {
      val q = df.select(e.as("x")).agg(sum(hash($"x")))
      q.collect() // compile and warm
      led.span(name) {
        Stats.median((0 until 3).map { _ =>
          val t = System.nanoTime(); q.collect(); (System.nanoTime() - t).toDouble
        })
      } / n
    }
    val canon = nsPerRow("functions.url_canon", abs, UrlFunctions.normalize_url($"abs"))
    val emptyArr = array().cast("array<string>")
    val withRules = abs.withColumn("host", UrlFunctions.url_host($"abs"))
      .join(broadcast(robots), Seq("host"), "left_outer")
      .select(concat(UrlFunctions.url_path($"abs"), lit("/")).as("path"),
        coalesce($"disallowPrefixes", emptyArr).as("dis")).cache()
    withRules.count()
    val robotsNs = nsPerRow("functions.robots_allowed", withRules,
      RobotsFunctions.robots_allowed($"path", $"dis", emptyArr))
    val hashes = abs.select(UrlFunctions.url_seen_key($"abs").as("urlHash")).cache()
    hashes.count()
    // filled to its design load with keys of URLs outside the graph, so
    // every probe of a graph link that answers true is a false positive
    val fill = spark.range(cfg.bloomExpectedItems).select(UrlFunctions.url_seen_key(
      concat(lit("http://fill.invalid/p/"), $"id".cast("string"))).as("urlHash"))
    val bc = spark.sparkContext.broadcast(
      fill.stat.bloomFilter("urlHash", cfg.bloomExpectedItems, cfg.bloomFpp))
    val probe = nsPerRow("functions.seen_probe", hashes,
      BloomFunctions.bloom_might_contain($"urlHash", bc))
    val fpp = hashes.agg(avg(BloomFunctions.bloom_might_contain($"urlHash", bc).cast("double")))
      .head().getDouble(0)
    Seq(abs, withRules, hashes).foreach(_.unpersist())
    bc.destroy()
    Map("functions.url_canon_ns" -> canon, "functions.robots_allowed_ns" -> robotsNs,
      "functions.seen_probe_ns" -> probe, "functions.seen_fpp" -> fpp)
  }
}

/** The `crawl` workload. Timed passes are polite-mode rounds; the FIFO
  * reference-parity crawl (CrawlCli's default path) runs once per traced
  * run as a probe: one whole crawl from the seed, checked against the
  * reference replay, where a mismatch fails the run. */
final class Crawl(spark: SparkSession, work: Path, seed: Long, tiny: Boolean) extends Workload {
  val polite = new PoliteCrawl(spark, work, seed, tiny)
  val fifo = new FifoCrawl(spark, work, seed, tiny)

  def prepare(): Unit = { polite.prepare(); fifo.prepare() }
  def prepareOnce(): Unit = polite.prepareOnce()
  def warmPasses: Int = polite.warmPasses
  def minTimed: Int = polite.minTimed
  def reset(pass: Int): Unit = polite.reset(pass)
  def pass(pass: Int, led: Option[Ledger]): Long = polite.pass(pass, led)
  def check(pass: Int, led: Option[Ledger]): Seq[String] = polite.check(pass, led)

  /** The FIFO crawl from the seed to its end; returns its check failures. */
  def runFifo(led: Option[Ledger]): Seq[String] = {
    fifo.prepareOnce(); fifo.reset(0); fifo.pass(0, led); fifo.check(0, led)
  }

  def layers(led: Ledger): Map[String, Double] = {
    val errs = runFifo(Some(led))
    if (errs.nonEmpty) throw new IllegalStateException(s"fifo crawl: ${errs.mkString("; ")}")
    polite.layers(led) ++ fifo.layers(led)
  }
}

/** Polite part: `crawlSeeds` in polite mode at the scale of the repo's
  * crawl bench (`graft.Bench.crawlBench`): a skewed 32-host graph of 4,000
  * pages a host (one host holds 30% of the pages; redirects, errors, dead
  * and cross-host links everywhere), per-host budget 256, a robots cache,
  * and every host seeded with a full budget of pages, so each round is a
  * full round from the first one on. The checkpoint holds one warm round;
  * each pass resumes it for one more. The frontier is past
  * `bloomMinFrontierRows` by then, so the round runs the seen-filter
  * probe; with a snapshot every round it also launches (and, being the
  * last round of the call, awaits) one seen-filter build. */
final class PoliteCrawl(spark: SparkSession, root: Path, seed: Long, tiny: Boolean)
    extends CrawlPart(spark, root, "polite") {
  import spark.implicits._

  private val hosts = if (tiny) 4 else 32
  private val perHost = if (tiny) 60 else 4000
  private val budget = if (tiny) 8 else 256
  protected val warmRounds = 1
  protected val endRound = warmRounds + 1
  protected val crawlSpan = "FrontierCrawler.crawlSeeds"
  val warmPasses = 1
  val minTimed = 3

  private def params = SiteGraph.GraphParams(nHosts = hosts,
    pagesPerHost = perHost, linksPerPage = 6, seed = seed, redirectFrac = 0.08,
    errorFrac = 0.06, deadLinkFrac = 0.04, crossHostFrac = 0.2, heavyHostFrac = 0.3)

  /** Robots cache: the last host disallows everything, every third host
    * disallows a seeded two-digit path prefix (the same share of pages for
    * every seed), every fourth asks for a crawl delay that cuts its
    * per-round budget to a quarter. */
  private val robotsRows: Seq[(String, Boolean, Option[Double], Seq[String])] =
    (0 until hosts).map { h =>
      val prefix = s"/p/${10 + java.lang.Math.floorMod(SiteGraph.mix(seed, h.toLong), 30L)}"
      (SiteGraph.hostName(h), h == hosts - 1,
        Option.when(h % 4 == 2)(0.4),
        if (h % 3 == 1) Seq(prefix, "/dead") else Nil)
    }

  private def robots: DataFrame =
    robotsRows.toDF("host", "disallow", "crawlDelay", "disallowPrefixes")

  /** The crawl bench's polite configuration (no same-domain filter,
    * bucketed redirect closure), with the robots cache on top. */
  private def config(maxRounds: Int, dir: Option[Path]) = CrawlConfig(
    fifoParity = false, sameDomainOnly = false, perHostBudget = budget, saltBuckets = 16,
    bloomEnabled = true, bloomExpectedItems = 4L * hosts * perHost, bloomUpdateEvery = 1,
    bloomMinFrontierRows = if (tiny) 0L else 4096L, closureBuckets = if (tiny) 0 else 32,
    maxRounds = maxRounds, checkpointDir = dir.map(_.toString))

  val rules: Checks.PoliteRules = {
    val cfg = config(0, None)
    Checks.PoliteRules(
      budget = robotsRows.map { case (h, _, delay, _) =>
        h -> delay.filter(_ > cfg.delay)
          .map(d => math.max(1.0, cfg.perHostBudget * cfg.delay / d).toInt)
          .getOrElse(cfg.perHostBudget)
      }.toMap,
      killed = robotsRows.collect { case (h, true, _, _) => h }.toSet,
      disallow = robotsRows.map { case (h, _, _, p) => h -> p }.toMap)
  }

  /** A full budget of evenly spaced seed pages per host: every host's
    * frontier holds more than its budget from the first round on, so a
    * round's work is nearly the same for every seed. */
  private def seeds: DataFrame = (0 until hosts).flatMap { h =>
    val n = SiteGraph.pagesOnHost(h, params)
    (0 until budget).map(k => SiteGraph.pageUrl(h, k * n / budget))
  }.toDF("url")

  protected def crawlTo(dir: Path, maxRounds: Int): CrawlOutcome =
    new FrontierCrawler(spark, pages, config(maxRounds, Some(dir)), Some(robots)).crawlSeeds(seeds)

  def prepare(): Unit = pages = writePages(params, "pages")

  private var firstChecksum: Option[Long] = None

  /** (round, url) rows of the last pass's visit log, and its found set. */
  def observed: (Seq[(Int, String)], Set[String]) =
    (last.visitLog.select("round", "url").as[(Int, String)].collect().toSeq,
      last.found.select("url").as[String].collect().toSet)

  def check(pass: Int, led: Option[Ledger]): Seq[String] = {
    val (log, found) = observed
    val sum = Checks.checksum(found)
    val first = firstChecksum.getOrElse { firstChecksum = Some(sum); sum }
    val errs = Checks.polite(log, found, rules,
      last.stats.scheduledTotal - baseTotals._1, warmRounds - 1) ++
      Checks.equal("rounds run", last.stats.rounds, endRound) ++
      Checks.repeats("found-set checksum", sum, first)
    led.foreach(sample)
    errs
  }

  override def layers(led: Ledger): Map[String, Double] =
    super.layers(led) ++ functionProbes(led, robots, config(0, None))
}

/** FIFO part: `crawl(seed)` with reference parity on one host of a
  * two-host graph, ten URLs a round, from an empty checkpoint to the end;
  * the frontier never reaches `bloomMinFrontierRows`, so the seen-filter
  * probe is bypassed. */
final class FifoCrawl(spark: SparkSession, root: Path, seed: Long, tiny: Boolean)
    extends CrawlPart(spark, root, "fifo") {
  import spark.implicits._

  private val params = SiteGraph.GraphParams(nHosts = 2, pagesPerHost = if (tiny) 30 else 40,
    linksPerPage = 4, seed = seed, redirectFrac = 0.1, errorFrac = 0.08,
    deadLinkFrac = 0.04, crossHostFrac = 0.1)
  private val cfg = CrawlConfig(maxConcurrent = 10)
  protected val crawlSpan = "FrontierCrawler.crawl"

  /** First page of host 0 that answers 200 — the crawl's seed URL. */
  private val seedUrl: String =
    (0L until params.pagesPerHost).map(SiteGraph.pageFor(_, params)).find(_.status == 200)
      .getOrElse(throw new IllegalStateException("seeded graph has no live page")).url

  val oracle: ReferenceCrawler.Outcome =
    ReferenceCrawler.crawl(SiteGraph.localPages(params).map(r => r.url -> r).toMap, seedUrl, cfg)

  protected val warmRounds = 0
  protected val endRound = Int.MaxValue
  val warmPasses = 0
  val minTimed = 1

  protected def crawlTo(dir: Path, maxRounds: Int): CrawlOutcome =
    new FrontierCrawler(spark, pages,
      cfg.copy(maxRounds = maxRounds, checkpointDir = Some(dir.toString))).crawl(seedUrl)

  def prepare(): Unit = pages = writePages(params, "pages")

  /** The last crawl's outcome, collected into memory. */
  def lastView: Checks.CrawlView = Checks.CrawlView(
    found = last.found.select("url").as[String].collect().toSet,
    order = last.visitLog.orderBy("round", "batchIdx").as[(Int, Long, String)].collect()
      .map { case (r, b, u) => (r, b.toInt, u) }.toSeq,
    errorUrls = last.errorUrls.as[String].collect().toSet,
    redirectUrls = last.redirectUrls.as[String].collect().toSet,
    errorCount = last.stats.errorCount, redirectCount = last.stats.redirectCount,
    visitedCount = last.stats.visitedCount, scheduledTotal = last.stats.scheduledTotal)

  def check(pass: Int, led: Option[Ledger]): Seq[String] = {
    val errs = Checks.fifo(lastView, oracle)
    led.foreach(sample)
    errs
  }
}
