package graft.operators

import graft.functions.UrlFunctions._
import graft.model._
import graft.url.{PyUrl, RedirectLoop, UrlNormalizer, UrlValidator}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Result of a crawl — URL relations stay distributed (Datasets), scalars in
  * [[graft.model.CrawlStats]]. Mirrors `CrawlResult`
  * (`/root/reference/src/web_crawler.py:33-44`).
  */
final case class CrawlOutcome(
    found: DataFrame,        // url, urlHash — the found/visited set (a true set)
    errorUrls: DataFrame,    // url (distinct)
    redirectUrls: DataFrame, // url (distinct)
    visitLog: DataFrame,     // round, batchIdx, url — crawl-ordering lineage
    stats: CrawlStats,
    checkpointDir: String,
    closurePath: String) {

  /** stdout contract: all found URLs sorted ascending
    * (`src/web_crawler.py:308-309`). */
  def sortedFound: Seq[String] = {
    import found.sparkSession.implicits._
    found.select("url").orderBy("url").as[String].collect().toSeq
  }

  /** G2 (SURVEY.md §2.6): redirect-chain lineage — one row per hop of every
    * redirecting URL, exploded from the persisted fetch closure. */
  def redirectChains: DataFrame = {
    import org.apache.spark.sql.functions._
    val ss = found.sparkSession
    if (graft.io.StateFs(ss).exists(closurePath))
      ss.read.parquet(closurePath).filter(size(col("chain")) > 1)
        .select(col("url"), posexplode(col("chain")).as(Seq("hop", "chainUrl")))
    else ss.emptyDataFrame
  }
}

/** Redirect-walk state — one row per in-flight batch URL. The walk re-creates
  * `follow_redirects` (`/root/reference/src/utils/redirect_handler.py:76-156`)
  * as ≤ maxRedirects iterated equi-joins against the pages relation; after
  * the first hop only still-redirecting rows remain in flight, so the
  * common case costs a single join per round.
  */
final case class Hop(
    origUrl: String,
    batchIdx: Long,
    depth: Int,
    currentUrl: String,
    chain: Seq[String],
    phase: Int,
    status: Int,
    links: Seq[String],
    retryAfter: Option[Int])

/** One redirect-subgraph node: the only page fields a chain hop can use. */
private[operators] final case class RPage(url: String, location: String)

object Hop {
  final val Walking = 0
  final val Done = 1
  final val NetworkErr = 2 // GET failed → `response_data is None` path
  final val LoopErr = 3    // RedirectLoopError
  final val NeedsFinal = 4 // left the redirect subgraph → one terminal GET

  private val RedirectStatuses = Set(301, 302, 303, 307, 308)

  /** One GET of `currentUrl` (`redirect_handler.py:99-149`). */
  def transition(h: Hop, page: Option[PageRow], maxRedirects: Int): Hop = page match {
    case None => h.copy(phase = NetworkErr) // ClientError path (`:151-153`)
    case Some(p) if RedirectStatuses.contains(p.status) =>
      p.location match {
        case None | Some("") => // no Location header → body is the answer (`:109-117`)
          h.copy(phase = Done, status = p.status, links = p.links, retryAfter = p.retryAfter)
        case Some(loc) =>
          val target = PyUrl.urljoin(h.currentUrl, loc) // `:119-120`
          if (RedirectLoop.detect(h.chain, target, maxRedirects).isLoop) h.copy(phase = LoopErr)
          else h.copy(chain = h.chain :+ target, currentUrl = target)
      }
    case Some(p) =>
      h.copy(phase = Done, status = p.status, links = p.links, retryAfter = p.retryAfter)
  }
}

/** Spark-native URL-frontier + fetch scheduler (SURVEY.md §3.1 "Spark
  * lifecycle equivalent"; north rule in BASELINE.json).
  *
  * Driver-side round loop; each round:
  *   frontier →(Bloom-prefiltered anti-join visited)→ eligible
  *           →(FIFO top-K | per-host polite top-k over (priority,
  *             nextFetchTime) with salted skew-safe windows)→ batch
  *           →(iterated equi-join against pages = redirect-following fetch)→
  *           →(explode links → resolve → normalize → domain filter →
  *             anti-join)→ new frontier segment; state deltas checkpointed.
  *
  * Two scheduler modes:
  *  - `cfg.fifoParity = true`: bit-exact reference semantics — global FIFO by
  *    discoveryIdx, batches of maxConcurrent, sequential merge-order visited
  *    marking (`src/web_crawler.py:245-295`), duplicates allowed in queue.
  *  - `cfg.fifoParity = false`: the north rule's scale scheduler — per-host
  *    politeness budgets, priority queue as sort-within-partition, two-phase
  *    (salted) top-k so a skewed host cannot overload one window partition,
  *    robots.txt cache via broadcast join, Retry-After host backoff.
  */
final class FrontierCrawler(
    spark: SparkSession,
    pages: Dataset[PageRow],
    cfg: CrawlConfig = CrawlConfig(),
    robots: Option[DataFrame] = None, // host, disallow: boolean, crawlDelay: double
    // optional (host, priority:int) authority relation — e.g. LinkRank
    // output mapped to per-host priorities. Applied at link ADMISSION in
    // polite mode: a discovered URL inherits its host's priority; hosts
    // ABSENT from the table get Int.MaxValue (authority unknown = schedule
    // last), never the BFS depth fallback — rank scales (1..N) and depth
    // scales (1..diameter) are incomparable, and mixing them would let
    // every newly discovered zero-authority host outrank the 2nd..Nth most
    // authoritative ones under a `roundBudget` ration. Seed rows keep
    // their own priority column. Joined without a broadcast hint: at 10^7
    // hosts AQE picks the right side.
    hostPriority: Option[DataFrame] = None) {

  import spark.implicits._

  private val ckptDir = cfg.checkpointDir.getOrElse(
    java.nio.file.Files.createTempDirectory("graft-crawl-").toString)
  private val store = new CheckpointStore(spark, ckptDir, visitedFromLog = !cfg.fifoParity)
  private val sfs = store.sfs

  /** The closure depends on every config field that shapes a fetch
    * (timeout trims pages out of `fetchPages`, maxRedirects bounds the
    * walk), so those are part of its identity: a resume — or a re-run over
    * the same checkpoint dir — with a different --timeout builds a fresh
    * closure instead of silently reusing one computed under the old
    * setting. */
  private val closurePath =
    s"$ckptDir/fetchclosure/t${cfg.timeout}_r${cfg.maxRedirects}"

  private val ContentTypes = Seq("text/html", "text/plain", "application/xhtml+xml")

  /** The authority relation evaluated ONCE: callers typically hand in an
    * unmaterialized plan (hostRank = a join + global window over the host
    * relation) which would otherwise re-execute inside every round's
    * admission join. */
  private lazy val hostPriorityRel: Option[DataFrame] =
    hostPriority.map(hp =>
      hp.select(hp("host"), hp("priority")).localCheckpoint(true))

  /** The fetch-boundary view of the web: a page whose synthetic latency
    * exceeds the total fetch timeout is indistinguishable from a network
    * error — exactly the reference's `ClientTimeout(total=timeout)` path
    * (`src/web_crawler.py:27`, `:126-130`), where a timed-out GET yields
    * `response_data is None`. A live HTTP fetcher replacing this scan
    * consumes `cfg.timeout` at the same boundary. */
  private val fetchPages: Dataset[PageRow] = {
    val tMs = cfg.timeout * 1000
    pages.filter(p => !p.latencyMs.exists(_ > tMs))
  }

  /** Seed pre-flight — the reference's 5-stage `verify`
    * (`/root/reference/src/utils/url_verifier.py:289-327`): pure stages
    * (syntactic/semantic/security) via [[UrlValidator]]; effectful stages
    * (DNS + protocol + operational probes) resolved against the pages
    * relation (a URL absent from it ≡ DNS/connection failure).
    */
  def verifySeed(url: String): Unit = {
    def fail(msg: String) = throw new IllegalArgumentException(s"Invalid base URL: $url ($msg)")
    if (!UrlValidator.syntacticOk(url)) fail("syntactic checks failed")
    if (!UrlValidator.semanticOkPure(url)) fail("semantic checks failed")
    if (!UrlValidator.securityOk(url)) fail("security checks failed")
    val hit = fetchPages.filter(col("url") === lit(url)).take(1).headOption
    hit match {
      case None => fail("semantic checks failed (unresolvable)")
      case Some(p) =>
        if (p.status < 200 || p.status >= 400) fail(s"protocol checks failed (HTTP ${p.status})")
        if (!p.contentType.exists(ct => ContentTypes.exists(ct.startsWith))) fail("protocol checks failed (content type)")
        if (p.retryAfter.isDefined) fail("operational checks failed (Retry-After)")
        // operational-stage robots probe: fetched and recorded but — exactly
        // like the reference (`url_verifier.py:200-211`) — never gates the
        // verdict; exposed via [[seedRobotsProbe]] for stage-trace parity
        val parts = PyUrl.urlparse(url)
        val robotsUrl = s"${parts.scheme}://${parts.netloc}/robots.txt"
        lastRobotsProbe =
          Some(robotsUrl -> fetchPages.filter(col("url") === lit(robotsUrl)).take(1).nonEmpty)
    }
  }

  @volatile private var lastRobotsProbe: Option[(String, Boolean)] = None
  /** (robots.txt URL, reachable) recorded by the last [[verifySeed]]. */
  def seedRobotsProbe: Option[(String, Boolean)] = lastRobotsProbe

  /** Flagship entry: single-seed crawl with reference semantics
    * (`src/web_crawler.py:190-332`). */
  def crawl(seedUrl: String): CrawlOutcome = {
    verifySeed(seedUrl)
    val seed = UrlNormalizer.normalize(seedUrl)
    val baseDomain = PyUrl.urlparse(seed).netloc
    val seedDf = Seq(FrontierEntry(seed, 0L, baseDomain, 0, 0, 0L, 0L)).toDS().toDF()
      .withColumn("urlHash", xxhash64($"url"))
    run(seedDf, seedCount = 1L, if (cfg.sameDomainOnly) Some(baseDomain) else None)
  }

  /** Scale entry: a seed-list relation (columns `url`, optional `priority`)
    * — the north rule's 10^10-URL frontier path. Invalid/unsafe seeds are
    * filtered (F8+F15 applied as column predicates), not raised. */
  def crawlSeeds(seeds: DataFrame): CrawlOutcome = {
    val hasPriority = seeds.columns.contains("priority")
    val base = seeds
      .withColumn("url", normalize_url($"url"))
      .filter(url_syntactic_valid($"url") && url_security_valid($"url"))
      .dropDuplicates("url")
      .withColumn("urlHash", xxhash64($"url"))
      .withColumn("host", url_host($"url"))
      .withColumn("depth", lit(0))
      .withColumn("priority", if (hasPriority) coalesce($"priority", lit(0)) else lit(0))
      .withColumn("nextFetchTime", lit(0L))
    val seedDf =
      if (cfg.fifoParity)
        base.withColumn("discoveryIdx", row_number().over(Window.orderBy($"url")).cast("long") - 1)
      else // deterministic, shuffle-free idx for huge seed lists
        base.withColumn("discoveryIdx", pmod(xxhash64($"url"), lit(IdxSpan)))
    val cols = Seq("url", "urlHash", "host", "depth", "priority", "discoveryIdx", "nextFetchTime")
    run(seedDf.select(cols.map(col): _*), seedCount = -1L, None)
  }

  private val IdxSpan: Long = CheckpointStore.IdxSpan

  /** Redirect-resolved fetch relation, computed ONCE per crawl: the pages
    * table is static, so the chain walk (`redirect_handler.py:76-156`) is a
    * function of the page alone — precomputing its transitive closure turns
    * the per-round fetch from ≤ maxRedirects iterated joins into a single
    * equi-join. Only the 3xx subset is walked; hops shrink geometrically.
    */
  private var closureHops: Int = 0

  /** Materialized to parquet under the checkpoint dir: every round's fetch
    * plan then references ONE flat scan instead of re-analyzing the typed
    * walk's union-of-maps over the whole pages relation — driver-side
    * Catalyst planning time was the round bottleneck, not execution. */
  private lazy val fetchResolved: DataFrame = {
    val path = closurePath
    if (!sfs.exists(s"$path/_SUCCESS")) {
      val maxRedirects = cfg.maxRedirects
      val redirectStatuses = Set(301, 302, 303, 307, 308)
      val direct = fetchPages
        .filter(p => !redirectStatuses.contains(p.status) || p.location.forall(_.isEmpty))
        .map(p => Hop(p.url, 0L, 0, p.url, Seq(p.url), Hop.Done, p.status, p.links, p.retryAfter))
      // Intermediate hops can only land on redirect pages, so the walk runs
      // entirely inside the (tiny) redirect subgraph — maxRedirects chained
      // BROADCAST joins against the ~redirectFrac-sized relation (one
      // broadcast, reused across hops; all hops fuse into one narrow stage)
      // instead of re-shuffling the whole pages relation once per hop. At
      // 10^10 the subgraph outgrows a broadcast and becomes a bucketed
      // relation — the join structure is unchanged.
      val rpages = fetchPages
        .filter(p => redirectStatuses.contains(p.status) && p.location.exists(_.nonEmpty))
        .map(p => RPage(p.url, p.location.get))
      var cur: Dataset[Hop] = rpages
        .map(p => Hop(p.url, 0L, 0, p.url, Seq(p.url), Hop.Walking, -1, Nil, None))
      var hops = 0
      while (hops < maxRedirects) {
        val c = cur
        cur = c.joinWith(broadcast(rpages), c("currentUrl") === rpages("url"), "left_outer")
          .map { case (h, rp) =>
            if (h.phase != Hop.Walking) h
            else Option(rp) match {
              case Some(r) => // one redirect GET (`redirect_handler.py:119-120`)
                val target = PyUrl.urljoin(h.currentUrl, r.location)
                if (RedirectLoop.detect(h.chain, target, maxRedirects).isLoop)
                  h.copy(phase = Hop.LoopErr)
                else h.copy(chain = h.chain :+ target, currentUrl = target)
              case None => h.copy(phase = Hop.NeedsFinal)
            }
          }
        hops += 1
      }
      closureHops = hops
      // loop-bound exhaustion ⇒ RedirectLoopError (`redirect_handler.py:156`);
      // NeedsFinal rows take their terminal GET as a semi-extract + broadcast
      // join — the full relation is scanned once and never shuffled
      val exhausted = cur
        .map(h => if (h.phase == Hop.Walking) h.copy(phase = Hop.LoopErr) else h)
        .persist()
      val finalKeys = exhausted.filter(_.phase == Hop.NeedsFinal)
        .map(_.currentUrl).distinct().toDF("__curl")
      // projected to the fields Hop.transition reads (status, location,
      // links, retryAfter) — html bodies must NOT ride the broadcast: at
      // redirectFrac≈3% of a large corpus, full PageRows here would blow
      // the broadcast limit long before the rpages side does. Bounded by
      // |redirect landings| × (url + ~linksPerPage hrefs) per row; when
      // that outgrows a broadcast (10^10 pages), drop the hint — the join
      // structure is unchanged.
      val targets = fetchPages
        .join(broadcast(finalKeys), $"url" === $"__curl", "left_semi").as[PageRow]
        .map(p => p.copy(html = None, contentType = None, imageId = None))
      val walked = exhausted
        .joinWith(broadcast(targets), exhausted("currentUrl") === targets("url"), "left_outer")
        .map { case (h, pg) =>
          if (h.phase == Hop.NeedsFinal)
            Hop.transition(h.copy(phase = Hop.Walking), Option(pg), maxRedirects)
          else h
        }
      val resolved = direct.union(walked).toDF()
        .select($"origUrl".as("url"), $"currentUrl", $"chain", $"phase",
          $"status", $"links", $"retryAfter")
      if (cfg.closureBuckets > 0) {
        // bucket by the join key: at 10^10 pages the closure is the BIG side
        // of every round's fetch join — bucketing means only the batch side
        // ever shuffles (SCALE.md §2.3)
        resolved.write.mode("overwrite")
          .bucketBy(cfg.closureBuckets, "url").sortBy("url")
          .option("path", path).format("parquet")
          .saveAsTable(closureTableName)
      } else resolved.write.mode("overwrite").parquet(path)
      exhausted.unpersist()
    }
    if (cfg.closureBuckets > 0) {
      // a resumed session has the files but not the catalog entry
      if (!spark.catalog.tableExists(closureTableName))
        spark.sql(
          s"""CREATE TABLE $closureTableName (
             |  url STRING, currentUrl STRING, chain ARRAY<STRING>, phase INT,
             |  status INT, links ARRAY<STRING>, retryAfter INT)
             |USING parquet OPTIONS (path '$path')
             |CLUSTERED BY (url) SORTED BY (url) INTO ${cfg.closureBuckets} BUCKETS
             |""".stripMargin)
      spark.table(closureTableName)
    } else spark.read.parquet(path)
  }

  private lazy val closureTableName =
    s"graft_closure_${Integer.toHexString(closurePath.hashCode).replace("-", "n")}"

  // ----------------------------------------------------------------------

  /** Bloom-prefiltered anti-join `df ∖ visited` (J1): rows the seen-filter
    * has definitely never seen skip the join entirely; they only re-check
    * the (small) visited deltas the lazily-merged filter has not absorbed
    * yet. `df` must carry `url` and `urlHash`. */
  private def bloomSplitAntiJoin(df: DataFrame, visited: DataFrame,
      mightContain: org.apache.spark.sql.Column => org.apache.spark.sql.Column,
      recentRounds: Seq[Int]): DataFrame = {
    val defNew0 = df.filter(!mightContain($"urlHash"))
    val defNew =
      if (recentRounds.isEmpty) defNew0
      else defNew0.join(
        store.readVisited(recentRounds).get.select("url"),
        Seq("url"), "left_anti")
    defNew.unionByName(
      df.filter(mightContain($"urlHash"))
        .join(visited.select("url"), Seq("url"), "left_anti"))
  }

  private def run(seedDf: DataFrame, seedCount: Long, baseDomain: Option[String]): CrawlOutcome = {
    val t0 = System.nanoTime()
    var m: CheckpointStore.Manifest = store.latestManifest() match {
      case Some(mm) => mm
      case None =>
        // write first, count from the written files — the seed relation
        // (normalize + validate + dedup over a possibly-10^10 list) is
        // evaluated once, not once for the count and again for the write
        seedDf.write.mode("overwrite").parquet(store.segPath(0))
        val sc = if (seedCount >= 0) seedCount
          else store.readSegsRaw(Seq(0)).count()
        val nextIdx = if (cfg.fifoParity) sc else IdxSpan
        val mm = CheckpointStore.Manifest(-1, nextIdx, -1L, 0L, 0L, 0L, 0L, Nil,
          Seq(CheckpointStore.SegInfo(0, 0L, nextIdx - 1, sc)))
        if (sc > 0) store.saveManifest(mm) // commit round -1 (seed load)
        mm
    }
    // the seen filter lives per urlHash bucket on disk, probed lazily per
    // task. A snapshot written under another sizing (bucket count or
    // per-bucket Bloom parameters) is rebuilt, never probed or merged:
    // another bucket count routes keys to the wrong files (false
    // negatives), and Bloom bit arrays merge only at equal size
    val sizing = graft.functions.BloomBucketStore.sizing(cfg.bloomExpectedItems, cfg.bloomFpp)
    var bloomRound: Int = if (cfg.bloomEnabled && m.seen == sizing) m.bloomRound else -1
    loadHostBackoff(if (m.round >= 0) m.hostStateRound else -1)
    // crawl-trap guard state pointer (lifetime per-pattern admission counts)
    var patternStateRound: Int = if (m.round >= 0) m.patternStateRound else -1
    // latency-adaptive politeness pointer (smoothed per-host fetch latency)
    latencyStateRound = if (m.round >= 0) m.latencyStateRound else -1

    var round = m.round + 1
    var done = false
    val phaseTimes = scala.collection.mutable.LinkedHashMap[String, Long]()
    def timed[T](name: String)(body: => T): T = {
      val t = System.nanoTime()
      // job-group tag (thread-local) so listeners/UI can attribute each
      // round phase's jobs; also how the phase-vs-driver gap is profiled
      spark.sparkContext.setJobGroup(name, name)
      val r = try body finally spark.sparkContext.clearJobGroup()
      phaseTimes.synchronized {
        phaseTimes(name) = phaseTimes.getOrElse(name, 0L) + (System.nanoTime() - t) / 1000000
      }
      r
    }
    // Seen-filter snapshot builds run ASYNC, overlapping the NEXT round's
    // scheduling job (the per-round driver floor the strong-scaling profile
    // pins): the build's write jobs share the executor pool with t_batch,
    // and `bloomRound` — which every probe handle and delta-range is keyed
    // on — only advances when the finished build is ADOPTED on the main
    // thread at a round boundary. Until adoption the uncovered visited
    // rounds ride the existing delta anti-join, exactly like a round
    // between bloomUpdateEvery cadences; the manifest keeps pointing at the
    // old snapshot, so a crash mid-build resumes correctly (the new
    // snapshot's files are unreferenced orphans).
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    var pendingSnapshot: Option[(Int, Future[Unit])] = None
    def adoptSnapshot(block: Boolean): Unit = pendingSnapshot match {
      case Some((r, fut)) if block || fut.isCompleted =>
        timed("t_bloom_adopt") {
          Await.result(fut, Duration.Inf)
          bloomRound = r
          pendingSnapshot = None
        }
      case _ => ()
    }
    while (!done && round < cfg.maxRounds) {
      val roundT0 = System.nanoTime()
      phaseTimes.clear()
      // adopt a finished build before planning eligibility (fresh probes);
      // BLOCK only if the filter has fallen two cadences behind — unbounded
      // staleness would grow the per-round delta anti-join without bound
      adoptSnapshot(block = round - math.max(bloomRound, 0) >= 2 * cfg.bloomUpdateEvery + 2)
      store.readFrontier(m.liveSegs, m.watermark) match {
        case None => done = true
        case Some(frontier0) =>
          val visitedOpt = store.readVisited(m.visitedRounds)

          // dequeue-time re-checks (`src/web_crawler.py:254-263`): frontier
          // rows are already normalized, so re-normalization is a no-op; the
          // domain re-check stays as a cheap filter.
          val frontier = baseDomain.fold(frontier0)(bd => frontier0.filter($"host" === lit(bd)))

          // J1: anti-join frontier ∖ visited, Bloom-prefiltered — rows the
          // filter has definitely never seen skip the join entirely
          // (SURVEY.md §2.4 J1; the 10^10-scale path).
          // native codegen'd probe — keeps the eligibility filter fused
          // (a UDF here would break WholeStageCodegen on the hot path)
          // tiny frontiers (exact size known from segment metadata) skip the
          // probe/union machinery — the plain anti-join is cheaper until the
          // frontier outgrows cfg.bloomMinFrontierRows
          val frontierRows = m.liveSegs.map(_.rows).sum
          val probe: Option[org.apache.spark.sql.Column => org.apache.spark.sql.Column] =
            if (frontierRows < cfg.bloomMinFrontierRows || bloomRound < 0) None
            else {
              val handle =
                new graft.functions.BloomBucketHandle(ckptDir, bloomRound, sizing.buckets, sfs)
              Some(h => graft.functions.BloomFunctions.bloom_bucket_might_contain(h, handle))
            }
          val eligible = (visitedOpt, probe) match {
            case (None, _) => frontier
            case (Some(v), None) => frontier.join(v.select("url"), Seq("url"), "left_anti")
            case (Some(v), Some(mightContain)) =>
              bloomSplitAntiJoin(frontier, v, mightContain,
                m.visitedRounds.filter(_ > bloomRound))
          }

          // O1: batch selection.
          val batch0 =
            if (cfg.fifoParity) {
              // reference FIFO: pop ≤ maxConcurrent in deque order (`:247-265`)
              eligible.orderBy($"discoveryIdx").limit(cfg.maxConcurrent)
                .withColumn("batchIdx",
                  row_number().over(Window.orderBy($"discoveryIdx")).cast("long") - 1)
            } else politeBatch(eligible, round)
          // materialize the batch through its lineage sink (one write) and
          // re-read it: downstream plans then reference a flat parquet scan
          // instead of re-analyzing the whole scheduler tree per action
          // urlHash rides along so the polite store can serve visited reads
          // straight from this one write (visitedFromLog).
          // Count and max ride the write job as observed metrics — the
          // driver's per-round serial floor is one job here, not two.
          val batchObs = org.apache.spark.sql.Observation()
          timed("t_batch") {
            batch0.select(lit(round).as("round"), $"batchIdx", $"url", $"urlHash",
                $"depth", $"discoveryIdx")
              .observe(batchObs, count(lit(1)).as("n"), max($"discoveryIdx").as("mx"))
              .write.mode("overwrite").parquet(store.visitLogPath(round))
          }
          val batch = store.readBatch(round)
          val batchMetrics = batchObs.get
          val batchCnt = batchMetrics("n").asInstanceOf[Long]
          // polite mode never moves the watermark — only FIFO needs maxIdx
          val maxIdxAny: Any = batchMetrics.getOrElse("mx", null)

          if (batchCnt == 0L) {
            // polite mode: an empty batch while hosts sit under Retry-After
            // backoff is an idle tick, not termination — their frontier rows
            // become eligible again once the backoff round passes
            if (!cfg.fifoParity && hostMaxNotBefore > round) {
              m = m.copy(round = round, hostStateRound = hostStateRound,
                latencyStateRound = latencyStateRound)
              store.saveManifest(m)
              round += 1
            } else done = true
          }
          else {
            val maxBatchIdx = if (cfg.fifoParity) maxIdxAny.asInstanceOf[Long] else -1L

            // J2 + J5: fetch = one equi-join against the precomputed
            // redirect-resolved pages relation; a miss is a network error
            // (`response_data is None`, `src/web_crawler.py:126-130`).
            val fetched = batch.select($"url", $"batchIdx", $"depth")
              .join(fetchResolved, Seq("url"), "left_outer")
              .select(
                $"url".as("origUrl"), $"batchIdx", $"depth",
                coalesce($"currentUrl", $"url").as("currentUrl"),
                coalesce($"chain", array($"url")).as("chain"),
                coalesce($"phase", lit(Hop.NetworkErr)).as("phase"),
                coalesce($"status", lit(-1)).as("status"),
                coalesce($"links", typedLit(Seq.empty[String])).as("links"),
                $"retryAfter")
            val hops = closureHops

            // post-fetch classification (`src/web_crawler.py:104-188`)
            val withFlags = fetched
              .withColumn("moved", $"currentUrl" =!= $"origUrl")
              .withColumn("redirected", (size($"chain") > 1) && $"phase" =!= Hop.LoopErr)
              .withColumn("external", baseDomain match {
                case Some(bd) => $"moved" && url_host($"currentUrl") =!= lit(bd) // `:111-114`
                case None => lit(false)
              })
            val flagged = visitedOpt match {
              case Some(v) => // F5: redirect landing already visited (`:117-119`)
                // only moved, non-external rows (≈ redirectFrac of the batch)
                // can trip F5 — join that slice, pass the rest through
                val movedRows = withFlags.filter($"moved" && !$"external")
                val rest = withFlags.filter(!($"moved" && !$"external"))
                  .withColumn("finalVisited", lit(false))
                movedRows.join(v.select($"url".as("__vu")),
                    $"currentUrl" === $"__vu", "left_outer")
                  .withColumn("finalVisited", $"__vu".isNotNull).drop("__vu")
                  .unionByName(rest)
              case None => withFlags.withColumn("finalVisited", lit(false))
            }
            val f = flagged
              .withColumn("dropped", $"external" || $"finalVisited")
              // the `url = final_url` rebinding (`:122`) — applies only when
              // not dropped; error attribution uses the rebound URL
              .withColumn("urlPrime",
                when($"moved" && !$"dropped", $"currentUrl").otherwise($"origUrl"))
              .withColumn("errUrl",
                when($"phase" === Hop.LoopErr, $"origUrl")                              // `:142-146`
                  .when(!$"dropped" && $"phase" === Hop.NetworkErr, $"urlPrime")        // `:126-130`
                  .when(!$"dropped" && $"phase" === Hop.Done && $"status" >= 400, $"urlPrime")) // `:136-140`
              .persist()

            // S-sinks: lineage + state deltas, submitted as concurrent Spark
            // jobs so their latency overlaps the link work below (the bloom
            // update awaits the visited write it reads). The error/redirect/
            // retry counters are NOT a separate aggregation job: the sides
            // delta carries one row per counted event and the per-kind
            // counts ride its write as observed metrics. Polite mode skips
            // the visited write entirely — the batch lineage write above
            // doubles as the visited delta.
            import scala.concurrent.{Await, Future}
            import scala.concurrent.duration.Duration
            import scala.concurrent.ExecutionContext.Implicits.global
            val wVis =
              if (store.visitedFromLog) Future.successful(())
              else Future { timed("t_wvis") {
                batch.select($"url").dropDuplicates("url").withColumn("urlHash", xxhash64($"url"))
                  .write.mode("overwrite").parquet(store.visitedPath(round)) } }
            val sidesObs = org.apache.spark.sql.Observation()
            val wSides = Future { timed("t_wsides") {
              f.filter($"errUrl".isNotNull).select($"errUrl".as("url"), lit("error").as("kind"))
                .unionByName(f.filter($"redirected").select($"origUrl".as("url"), lit("redirect").as("kind")))
                .unionByName(f.filter($"retryAfter".isNotNull).select($"origUrl".as("url"), lit("retry").as("kind")))
                .observe(sidesObs,
                  count(when($"kind" === "error", 1)).as("err"),
                  count(when($"kind" === "redirect", 1)).as("redir"),
                  count(when($"kind" === "retry", 1)).as("retry"))
                .write.mode("overwrite").parquet(store.sidesPath(round)) } }

            // G1 + C1/C2/C3 + F1 + F4/U3: link explosion and admission
            val okRows0 = f.filter($"phase" === Hop.Done && !$"dropped" && $"status" < 400 &&
              size($"links") > 0)
            // mirror-page suppression: digest = hash of the SORTED, resolved,
            // normalized link set — exactly the relation admission consumes,
            // so dropping a repeat digest cannot change the found set (the
            // kept copy already contributed the identical URL set; the
            // ContentDedupSpec asserts on≡off). Within-round repeats keep the
            // first by batchIdx; cross-round repeats anti-join the last
            // `contentDedupWindow` digest deltas (bounded per-round cost).
            // The digest is ONE codegen'd expression (resolve → normalize →
            // sort → chained XXH64 in a static kernel) — the earlier
            // sort_array(transform(...)) form evaluated the HOF lambda
            // interpreted, outside WholeStageCodegen.
            var contentFresh = -1L
            val okRows =
              if (cfg.fifoParity || !cfg.contentDedup) okRows0
              else {
                val hashed = okRows0.withColumn("__chash",
                  graft.functions.UrlFunctions.resolved_link_digest(
                    $"urlPrime", $"links"))
                val wc = Window.partitionBy($"__chash").orderBy($"batchIdx")
                val firsts = hashed.withColumn("__crk", row_number().over(wc))
                  .filter($"__crk" === 1).drop("__crk")
                val seen = store.readContentDigests(
                  m.contentRounds.takeRight(cfg.contentDedupWindow))
                val fresh = seen.fold(firsts)(s =>
                  firsts.join(s, Seq("__chash"), "left_anti"))
                // persist this round's fresh digests (f is persisted, so this
                // extra action is one cheap job); the count rides the write
                val cObs = org.apache.spark.sql.Observation()
                timed("t_content") {
                  fresh.select($"__chash").observe(cObs, count(lit(1)).as("n"))
                    .write.mode("overwrite").parquet(store.contentPath(round))
                }
                contentFresh = cObs.get("n").asInstanceOf[Long]
                fresh.drop("__chash")
              }
            val exploded = okRows
              .select($"batchIdx".as("parentIdx"), $"depth", $"urlPrime".as("base"),
                posexplode($"links").as(Seq("pos", "href")))
              .withColumn("absUrl", url_resolve($"base", $"href"))   // `:170`
              .withColumn("url", normalize_url($"absUrl"))           // `:173`
            val domained = baseDomain match {
              case Some(bd) => exploded.filter(url_host($"url") === lit(bd)) // `:176-177`
              case None => // multi-host mode: F8+F15 column predicates instead
                exploded.filter(url_syntactic_valid($"url") && url_security_valid($"url"))
            }
            val batchKeys = batch.select($"url".as("bUrl"), $"batchIdx".as("bIdx"))
            val newEntries = (if (cfg.fifoParity) {
              // reference merge-loop semantics (`:275-291`): duplicates kept,
              // link of batch row i checked against batch rows 0..i, FIFO
              // idx assigned in (parent, position) order
              val unseen = visitedOpt
                .fold(domained)(v => domained.join(v.select("url"), Seq("url"), "left_anti"))
                .join(broadcast(batchKeys),
                  $"url" === $"bUrl" && $"bIdx" <= $"parentIdx", "left_anti")
              unseen.withColumn("discoveryIdx",
                  lit(m.nextIdx) + row_number().over(Window.orderBy($"parentIdx", $"pos")).cast("long") - 1)
                .select($"url", xxhash64($"url").as("urlHash"), url_host($"url").as("host"),
                  ($"depth" + 1).as("depth"), ($"depth" + 1).as("priority"),
                  $"discoveryIdx", lit(0L).as("nextFetchTime"))
            } else {
              // polite admission is set-semantics: dedup FIRST so every
              // downstream join moves one row per URL, not one per link
              // occurrence (~6× fewer rows); then drop links to this round's
              // batch; then the same Bloom-split anti-join as eligibility —
              // definitely-new links (the common case on a growing crawl)
              // skip the visited join entirely
              val dedup = domained.dropDuplicates("url")
                .withColumn("urlHash", xxhash64($"url"))
              val notBatch = dedup.join(batchKeys, $"url" === $"bUrl", "left_anti")
              val unseen = (visitedOpt, probe) match {
                case (None, _) => notBatch
                case (Some(v), None) => notBatch.join(v.select("url"), Seq("url"), "left_anti")
                case (Some(v), Some(mc)) =>
                  bloomSplitAntiJoin(notBatch, v, mc, m.visitedRounds.filter(_ > bloomRound))
              }
              // deterministic window-free idx: post-dedup there is one row
              // per URL, so hash(url) alone is stable across reruns
              val hosted = unseen.withColumn("host", url_host($"url"))
              val prioed = hostPriorityRel match {
                case None => hosted.withColumn("__prio", ($"depth" + 1).cast("int"))
                case Some(hp) =>
                  hosted.join(hp.select($"host", $"priority".as("__hostPrio")),
                      Seq("host"), "left_outer")
                    .withColumn("__prio",
                      coalesce($"__hostPrio", lit(Int.MaxValue)).cast("int"))
              }
              val entries = prioed.select($"url", $"urlHash", $"host",
                ($"depth" + 1).as("depth"), $"__prio".as("priority"),
                (lit((round.toLong + 1) * IdxSpan) + pmod(xxhash64($"url"), lit(IdxSpan)))
                  .as("discoveryIdx"),
                lit(0L).as("nextFetchTime"))
              // crawl-trap guard: ration admissions per URL pattern so an
              // infinite URL space (calendar, session ids) saturates at the
              // cap instead of flooding the frontier. Prior lifetime counts
              // come from the persisted relation; this round's candidates
              // rank deterministically within their pattern (urlHash, url —
              // hash first keeps the sort key compact) and only rows that
              // fit under cap − priorCount are admitted. Two-phase salted
              // top-k (the polite scheduler's construction at the budget
              // windows below): a hot trap pattern is BY DEFINITION the one
              // emitting millions of distinct URLs in a round, so a plain
              // per-pattern window would funnel exactly the hot case
              // through one task. Phase 1 ranks within (pattern, salt) and
              // keeps at most cap − priorCount rows per salt bucket — a
              // superset of the global per-pattern survivors, since the
              // phase-2 order is identical — then phase 2 ranks the
              // ≤ saltBuckets × cap remainder per pattern. The admitted set
              // is bit-identical to the unsalted window's.
              if (cfg.trapPatternCap <= 0) entries
              else {
                val withPat = entries
                  .withColumn("__pat", xxhash64(url_pattern_key($"url")))
                val scored =
                  if (patternStateRound < 0) withPat.withColumn("__cnt", lit(0L))
                  else withPat.join(
                      store.readPatternState(patternStateRound)
                        .select($"pat".as("__pat"), $"cnt".as("__cnt")),
                      Seq("__pat"), "left_outer")
                    .withColumn("__cnt", coalesce($"__cnt", lit(0L)))
                FrontierCrawler.trapGuardAdmit(scored, cfg.trapPatternCap,
                  cfg.saltBuckets)
              }
            })

            // ONE evaluation of the link-admission subtree: the segment
            // write is the only action over it, with count/min/max riding
            // as observed metrics (no persist, no separate aggregation job
            // — the polite idx bounds are analytic anyway, FIFO's min/max
            // come from the same metrics). Runs on the main thread while
            // the wVis/wSides futures overlap it. A 0-row round leaves an
            // empty segment dir no manifest ever references.
            val seg = round + 1
            val segObs = org.apache.spark.sql.Observation()
            timed("t_wseg") {
              newEntries.observe(segObs, count(lit(1)).as("n"),
                  min($"discoveryIdx").as("mn"), max($"discoveryIdx").as("mx"))
                .write.mode("overwrite").parquet(store.segPath(seg))
            }
            val segMetrics = segObs.get
            val nlCnt = segMetrics("n").asInstanceOf[Long]
            val (nlMin, nlMax) =
              if (cfg.fifoParity)
                (Option(segMetrics("mn")).fold(0L)(_.asInstanceOf[Long]),
                  Option(segMetrics("mx")).fold(-1L)(_.asInstanceOf[Long]))
              else ((round.toLong + 1) * IdxSpan, (round.toLong + 2) * IdxSpan - 1)
            // trap-guard state: fold this round's admissions (read back from
            // the durable segment — a flat scan, so the admission subtree is
            // never re-executed) into the lifetime per-pattern counts. The
            // relation grows with distinct URL SHAPES, not URLs, so the
            // per-round merge stays orders of magnitude under the frontier.
            // Runs as a concurrent sink like wVis/wSides; the Await below
            // makes the new pointer durable (and visible) before the next
            // round's admission plans against it.
            val wPat =
              if (cfg.fifoParity || cfg.trapPatternCap <= 0 || nlCnt == 0)
                Future.successful(())
              else Future { timed("t_patstate") {
                val delta = store.readSegsRaw(Seq(seg))
                  .select(xxhash64(url_pattern_key($"url")).as("pat"))
                  .groupBy("pat").agg(count(lit(1)).as("cnt"))
                val merged =
                  if (patternStateRound < 0) delta
                  else store.readPatternState(patternStateRound)
                    .unionByName(delta)
                    .groupBy("pat").agg(sum($"cnt").as("cnt"))
                store.savePatternState(round, merged)
                patternStateRound = round
              } }
            Await.result(Future.sequence(Seq(wVis, wSides, wPat)), Duration.Inf)
            val sideMetrics = sidesObs.get
            val errCnt = sideMetrics("err").asInstanceOf[Long]
            val redirCnt = sideMetrics("redir").asInstanceOf[Long]
            val retryCnt = sideMetrics("retry").asInstanceOf[Long]

            // Bloom seen-filter: merged lazily — absorbing every round would
            // rewrite every bucket per round; instead the filter absorbs
            // visited deltas every bloomUpdateEvery rounds and the uncovered
            // tail is handled by a small delta anti-join at eligibility
            // time. Snapshot persisted for exact resume.
            val bloomStale = pendingSnapshot.isEmpty &&
              (bloomRound < 0 || round - bloomRound >= cfg.bloomUpdateEvery)
            if (cfg.bloomEnabled && bloomStale) timed("t_bloom_launch") {
              // plan resolution (schema/footer reads) happens HERE on the
              // main thread against durable inputs; the build's Spark jobs
              // run in the future, overlapping the next round's scheduling
              val deltaRounds = (m.visitedRounds :+ round).filter(_ > bloomRound)
              val deltas = store.readVisited(deltaRounds).get
              val launchRound = round
              val prevRound = bloomRound
              pendingSnapshot = Some((launchRound, Future {
                spark.sparkContext.setJobGroup("t_bloom", "t_bloom")
                try store.saveBloomBuckets(launchRound, prevRound, deltas, sizing)
                finally spark.sparkContext.clearJobGroup()
              }))
            }

            // Retry-After → per-host backoff (F14; polite mode only): merge
            // this round's bumps into the persisted relation with a
            // groupBy-max — pure dataflow, so 10^6 throttled hosts cost one
            // small shuffle, not driver memory. Rounds without a Retry-After
            // (the overwhelming majority) do no host-state work at all; the
            // manifest carries the last written round forward.
            if (!cfg.fifoParity) {
              val retryBumps =
                if (retryCnt == 0) None
                else {
                  val span = math.max(cfg.perHostBudget * cfg.delay, 1e-9)
                  Some(f.filter($"retryAfter".isNotNull)
                    .groupBy(url_host($"origUrl").as("host")).agg(max($"retryAfter").as("ra"))
                    .select($"host",
                      (lit(round + 1) + ceil($"ra" / lit(span)).cast("int")).as("notBefore")))
                }
              // implicit error-driven demotion: a host whose round shows a
              // persistent failure pattern (≥ min errors AND ≥ threshold
              // error fraction among ITS scheduled rows) pauses for
              // errorBackoffRounds — protecting fetch budget from dead or
              // melting hosts that never send an explicit Retry-After.
              // Keyed by the SCHEDULED host (origUrl): that is what
              // politeness budgets and eligibility key on. The whole-round
              // errCnt gate keeps rounds without failure clusters at zero
              // extra jobs.
              val errBumps =
                if (cfg.errorBackoffThreshold <= 0 || errCnt < cfg.errorBackoffMin) None
                else Some(f
                  .groupBy(url_host($"origUrl").as("host"))
                  .agg(count(lit(1)).as("n"), count($"errUrl").as("ne"))
                  .filter($"ne" >= cfg.errorBackoffMin &&
                    $"ne" >= lit(cfg.errorBackoffThreshold) * $"n")
                  .select($"host",
                    lit(round + 1 + cfg.errorBackoffRounds).cast("int").as("notBefore")))
              val bumps = (retryBumps.toSeq ++ errBumps.toSeq).reduceOption(_ unionByName _)
              bumps.foreach { b =>
                val merged =
                  if (hostStateRound < 0) b.groupBy("host").agg(max($"notBefore").as("notBefore"))
                  else store.readHostState(hostStateRound).unionByName(b)
                    .groupBy("host").agg(max($"notBefore").as("notBefore"))
                store.saveHostState(round, merged)
                hostStateRound = round
                refreshHostBackoffScalars()
              }

              // latency-adaptive politeness (CrawlConfig.latencyTargetMs):
              // fold this round's per-host mean fetch latency into the
              // persisted EWMA relation — one small host-keyed shuffle per
              // round while the feature is on, relation-resident like
              // hoststate (never a driver map). The scheduler's budget
              // clamp reads the pointer next round (politeBatch).
              if (cfg.latencyTargetMs > 0) {
                val a = cfg.latencyEwmaAlpha
                // latency lives on the raw pages relation (PageRow.latencyMs
                // — the closure strips it); keyed by the SCHEDULED url (the
                // first GET), the same key politeness budgets use
                val roundLat = f.select($"origUrl")
                  .join(pages.toDF().select($"url".as("origUrl"), $"latencyMs"),
                    Seq("origUrl"))
                  .filter($"latencyMs".isNotNull)
                  .groupBy(url_host($"origUrl").as("host"))
                  .agg(avg($"latencyMs").cast("double").as("__lm"))
                val mergedLat =
                  if (latencyStateRound < 0)
                    roundLat.select($"host", $"__lm".as("ewmaMs"))
                  else store.readLatencyState(latencyStateRound)
                    .join(roundLat, Seq("host"), "full_outer")
                    .select($"host", coalesce(
                      lit(a) * $"__lm" + lit(1 - a) * $"ewmaMs", // both sides
                      $"__lm",     // first observation of this host
                      $"ewmaMs")   // no fetches this round — hold the signal
                      .as("ewmaMs"))
                store.saveLatencyState(round, mergedLat)
                latencyStateRound = round
              }
            }

            val newWatermark =
              if (cfg.fifoParity) {
                if (batchCnt == cfg.maxConcurrent) maxBatchIdx else m.nextIdx - 1
              } else m.watermark
            val newNextIdx =
              if (cfg.fifoParity) m.nextIdx + nlCnt else (round.toLong + 2) * IdxSpan
            var liveSegs = (m.liveSegs ++
              (if (nlCnt > 0) Seq(CheckpointStore.SegInfo(seg, nlMin, nlMax, nlCnt)) else Nil))
              .filter(_.maxIdx > newWatermark)

            // polite-mode compaction: drop already-visited rows from the
            // frontier every compactEvery rounds (consumed rows are filtered
            // by the anti-join either way; this bounds storage)
            if (!cfg.fifoParity && round > 0 && round % cfg.compactEvery == 0 && liveSegs.nonEmpty) {
              val liveDf = store.readSegsRaw(liveSegs.map(_.seg))
              val compacted = store.readVisited(m.visitedRounds :+ round)
                .fold(liveDf)(v => liveDf.join(v.select("url"), Seq("url"), "left_anti"))
              val cSeg = 1000000 + round
              compacted.write.mode("overwrite").parquet(store.segPath(cSeg))
              val Row(cCnt, cMin, cMax) =
                store.readSegsRaw(Seq(cSeg)).agg(count(lit(1)), min($"discoveryIdx"), max($"discoveryIdx")).head()
              liveSegs =
                if (cCnt.asInstanceOf[Long] == 0) Nil
                else Seq(CheckpointStore.SegInfo(cSeg, cMin.asInstanceOf[Long], cMax.asInstanceOf[Long],
                  cCnt.asInstanceOf[Long]))
            }

            store.saveMetrics(round, Map(
              "scheduled" -> batchCnt, "errors" -> errCnt, "redirects" -> redirCnt,
              "newLinks" -> nlCnt, "hops" -> hops.toLong,
              "wallMs" -> (System.nanoTime() - roundT0) / 1000000) ++
              (if (contentFresh >= 0) Map("contentFresh" -> contentFresh) else Map.empty) ++
              phaseTimes)

            m = CheckpointStore.Manifest(round, newNextIdx, newWatermark,
              m.errorCount + errCnt, m.redirectCount + redirCnt,
              m.scheduledTotal + batchCnt, m.fetchedTotal + batchCnt,
              m.visitedRounds :+ round, liveSegs, bloomRound,
              hostStateRound, sizing, patternStateRound,
              if (contentFresh >= 0) m.contentRounds :+ round else m.contentRounds,
              latencyStateRound)
            store.saveManifest(m)

            f.unpersist()
            round += 1
          }
      }
    }
    // a build still in flight at loop exit: finish and commit it, so resume
    // (and the next crawl epoch over this checkpoint) starts from the
    // freshest snapshot instead of re-deriving the tail deltas. The
    // re-save also covers a build ADOPTED at the start of the crawl's
    // terminating round (empty frontier ⇒ that round writes no manifest):
    // compare persisted vs in-memory pointer, not just the pending future.
    adoptSnapshot(block = true)
    if (m.round >= 0 && m.bloomRound != bloomRound) {
      m = m.copy(bloomRound = bloomRound)
      store.saveManifest(m)
    }

    // final relations (S4-S7 read side)
    val empty = Seq.empty[(String, Long)].toDF("url", "urlHash")
    val visited = store.readVisited(m.visitedRounds).getOrElse(empty)
    val sides = store.readSides(0 to math.max(m.round, 0))
      .getOrElse(Seq.empty[(String, String)].toDF("url", "kind"))
    val visitLog = store.readVisitLog(0 to math.max(m.round, 0))
      .map(_.select("round", "batchIdx", "url"))
      .getOrElse(Seq.empty[(Int, Long, String)].toDF("round", "batchIdx", "url"))
    val visitedCount = visited.count()
    CrawlOutcome(
      found = visited,
      errorUrls = sides.filter($"kind" === "error").select("url").distinct(),
      redirectUrls = sides.filter($"kind" === "redirect").select("url").distinct(),
      visitLog = visitLog,
      stats = CrawlStats(visitedCount, m.errorCount, m.redirectCount, m.round + 1,
        m.scheduledTotal, m.fetchedTotal),
      checkpointDir = ckptDir,
      closurePath = closurePath)
  }

  /** Polite scheduler (north rule): per-host budget with the priority queue
    * realized as a sort-within-partition over (priority, nextFetchTime);
    * two-phase top-k — phase 1 partitions by (host, salt) so one skewed host
    * is split across `saltBuckets` bounded windows, phase 2 sees at most
    * saltBuckets×budget rows per host. Robots cache joined broadcast (J4);
    * hosts under Retry-After backoff excluded.
    */
  private def politeBatch(eligible: DataFrame, round: Int): DataFrame = {
    val el0 = applyHostBackoff(eligible, round)
    val (el, budgetCol) = robots match {
      case Some(r) =>
        val rSide = if (cfg.robotsBroadcast) broadcast(r) else r
        val hasDis = r.columns.contains("disallowPrefixes")
        val hasAllow = r.columns.contains("allowPrefixes")
        val emptyArr = array().cast("array<string>")
        // `Disallow: /` kills the host outright UNLESS Allow rules exist for
        // it — RFC 9309 longest-match can re-admit specific paths below
        val hostKill =
          if (!hasAllow) !coalesce($"disallow", lit(false))
          else !coalesce($"disallow", lit(false)) ||
            size(coalesce($"allowPrefixes", emptyArr)) > 0
        val joined = el0.join(rSide, Seq("host"), "left_outer").filter(hostKill)
        // Prefix rules, RFC 9309 §2.2.2: among the rules whose prefix
        // matches the URL path, the LONGEST wins; Allow wins length ties.
        // `Disallow: /` participates as the "/" prefix when Allow rules
        // exist. Path computed once per row; the per-host rule arrays are
        // tiny, so the fold is register work inside codegen. Optional
        // columns — hand-built caches without them skip the filter.
        // run whenever EITHER rule column exists: a hand-built cache with
        // allowPrefixes but no disallowPrefixes column still needs the
        // longest-match pass (its `Disallow: /` hosts were exempted from
        // hostKill above precisely so Allow carve-outs could re-admit
        // paths — skipping the filter would admit the whole host)
        val prefixed =
          if (!hasDis && !hasAllow) joined
          else {
            val dis0 =
              if (hasDis) coalesce($"disallowPrefixes", emptyArr) else emptyArr
            val dis =
              if (!hasAllow) dis0
              else when(coalesce($"disallow", lit(false)),
                array_union(dis0, array(lit("/")))).otherwise(dis0)
            val allows = if (hasAllow) coalesce($"allowPrefixes", emptyArr) else emptyArr
            // Frontier URLs are canonicalized (empty path for the bare
            // host, trailing slash stripped), so the path is re-expanded
            // for rule matching: "" ≡ "/" (RFC 9309 treats an empty path
            // as root) and a rule `/a/` must match the URL whose original
            // `/a/` normalized to `/a` — matching against path + "/" covers
            // both without ever un-matching a plain prefix (appending to
            // the subject cannot break an existing prefix match).
            // The longest-match fold itself is a codegen'd native
            // expression (RobotsAllowed) — the HOF formulation ran two
            // interpreted lambdas per rule element on the scheduling hot
            // path, outside WholeStageCodegen.
            joined.filter(graft.functions.RobotsFunctions.robots_allowed(
              concat(graft.functions.UrlFunctions.url_path($"url"), lit("/")),
              dis, allows))
          }
        val b = when($"crawlDelay".isNotNull && $"crawlDelay" > lit(cfg.delay),
          greatest(lit(1.0), lit(cfg.perHostBudget.toDouble) * lit(cfg.delay) / $"crawlDelay").cast("int"))
          .otherwise(lit(cfg.perHostBudget))
        (prefixed, b)
      case None => (el0, lit(cfg.perHostBudget))
    }
    // latency-adaptive clamp (CrawlConfig.latencyTargetMs): hosts whose
    // smoothed fetch latency exceeds the target get budget × target/ewma
    // (floor 1 slot) — composed with the robots crawl-delay budget by
    // taking the smaller. Host-keyed equi-join against the persisted
    // latstate relation; hosts without a signal keep their full budget.
    val (el1, budget1) =
      if (cfg.latencyTargetMs <= 0 || latencyStateRound < 0) (el, budgetCol)
      else {
        val lat = store.readLatencyState(latencyStateRound)
        val clamped = when($"ewmaMs".isNotNull && $"ewmaMs" > lit(cfg.latencyTargetMs),
          greatest(lit(1.0),
            budgetCol.cast("double") * lit(cfg.latencyTargetMs) / $"ewmaMs").cast("int"))
          .otherwise(budgetCol)
        (el.join(lat, Seq("host"), "left_outer"), clamped)
      }
    val salt = pmod(xxhash64($"url"), lit(cfg.saltBuckets))
    val ord = Seq($"priority", $"nextFetchTime", $"discoveryIdx", $"url")
    val w1 = Window.partitionBy($"host", salt).orderBy(ord: _*)
    val w2 = Window.partitionBy($"host").orderBy(ord: _*)
    val delayMs = (cfg.delay * 1000).toLong
    // global authority ration (cfg.roundBudget): keep the N best eligible
    // rows by priority BEFORE per-host budgeting, so when the frontier
    // outgrows the round, authority (not host arrival order) decides which
    // hosts fetch. Physical plan is TakeOrderedAndProject — O(n log N),
    // no full sort materialization.
    val rationed =
      if (cfg.roundBudget == Int.MaxValue) el1
      else el1.orderBy(ord: _*).limit(cfg.roundBudget)
    rationed.withColumn("__budget", budget1)
      .withColumn("rn1", row_number().over(w1)).filter($"rn1" <= $"__budget")
      .withColumn("rn2", row_number().over(w2)).filter($"rn2" <= $"__budget")
      .dropDuplicates("url")
      .withColumn("batchIdx", $"rn2".cast("long") - 1)
      .withColumn("nextFetchTime",
        lit(round.toLong * math.max(cfg.perHostBudget, 1) * delayMs) + ($"rn2" - 1) * delayMs)
      .drop("rn1", "rn2", "__budget", "disallow", "disallowPrefixes", "allowPrefixes",
        "crawlDelay", "ewmaMs")
  }

  // Retry-After backoff state: persisted as a `(host, notBefore)` relation
  // (CheckpointStore.saveHostState) — never a driver-resident map above
  // cfg.hostBlockInlineMax rows, so an adversarial workload with millions of
  // backing-off hosts neither exhausts driver memory nor inlines a
  // million-literal isInCollection into the plan. Small states (the common
  // case — Retry-After is sparse by construction) stay as an inlined filter,
  // which is cheaper than an extra join per round.
  private var hostStateRound: Int = -1
  private var hostStateRows: Long = 0L
  private var hostMaxNotBefore: Int = -1
  private var hostStateSmall: Option[Map[String, Int]] = Some(Map.empty)

  // latency-adaptive politeness state pointer (CrawlConfig.latencyTargetMs):
  // round whose latstate/ relation holds the current per-host latency EWMA.
  // Relation-resident like hoststate — never a driver map.
  private var latencyStateRound: Int = -1

  private[operators] def loadHostBackoff(round: Int): Unit = {
    hostStateRound = round
    if (round < 0) {
      hostStateRows = 0L; hostMaxNotBefore = -1; hostStateSmall = Some(Map.empty)
    } else refreshHostBackoffScalars()
  }

  /** One bounded aggregation over the persisted relation refreshes the
    * driver's scalars (row count, max notBefore) and — only while the state
    * is small — the inlined map. */
  private def refreshHostBackoffScalars(): Unit = {
    val st = store.readHostState(hostStateRound)
    val Row(cnt, mx) = st.agg(count(lit(1)), max($"notBefore")).head()
    hostStateRows = cnt.asInstanceOf[Long]
    hostMaxNotBefore = Option(mx).fold(-1)(_.asInstanceOf[Int])
    hostStateSmall =
      if (hostStateRows <= cfg.hostBlockInlineMax)
        Some(st.collect().map(r => r.getString(0) -> r.getInt(1)).toMap)
      else None
  }

  /** Drop frontier rows of hosts still under Retry-After backoff: inlined
    * literal filter while the state is small, anti-join against the
    * persisted relation once it is not (bounded plan at any cardinality). */
  private[operators] def applyHostBackoff(eligible: DataFrame, round: Int): DataFrame =
    if (hostStateRound < 0 || hostMaxNotBefore <= round) eligible
    else hostStateSmall match {
      case Some(mm) =>
        val blocked = mm.collect { case (h, nb) if nb > round => h }.toSeq
        if (blocked.isEmpty) eligible else eligible.filter(!$"host".isInCollection(blocked))
      case None =>
        eligible.join(
          store.readHostState(hostStateRound).filter($"notBefore" > round).select("host"),
          Seq("host"), "left_anti")
    }
}

object FrontierCrawler {
  /** The trap guard's admission ration as a two-phase SALTED top-k — the
    * polite scheduler's skew-safe construction applied to URL patterns.
    * `scored` carries `__pat` (pattern hash), `__cnt` (prior lifetime
    * admissions for the pattern — constant within a pattern), `urlHash`
    * and `url`; at most `cap − __cnt` rows per pattern survive, ranked by
    * (urlHash, url). Phase 1 ranks within (pattern, salt) and applies the
    * cap per salt bucket — each bucket's survivors are a superset of the
    * global per-pattern survivors under the SAME order, so phase 2 (the
    * exact per-pattern rank over ≤ saltBuckets × cap rows) admits a set
    * bit-identical to an unsalted single window's, without ever moving a
    * hot pattern's full row set through one task. */
  private[operators] def trapGuardAdmit(scored: DataFrame, cap: Int,
      saltBuckets: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val patSalt = pmod(col("urlHash"), lit(math.max(saltBuckets, 1).toLong))
    val wp1 = Window.partitionBy(col("__pat"), patSalt)
      .orderBy(col("urlHash"), col("url"))
    val wp2 = Window.partitionBy(col("__pat")).orderBy(col("urlHash"), col("url"))
    scored
      .withColumn("__rk1", row_number().over(wp1).cast("long"))
      .filter(col("__cnt") + col("__rk1") <= cap)
      .withColumn("__rk", row_number().over(wp2).cast("long"))
      .filter(col("__cnt") + col("__rk") <= cap)
      .drop("__pat", "__cnt", "__rk1", "__rk")
  }
}
