package graft.model

/** Shared data model for the crawl engine, the reference-replay oracle and
  * the synthetic site-graph generator.
  *
  * Mirrors the observable records of the reference
  * (`/root/reference/src/web_crawler.py:20-44`) plus the scale-out fields the
  * north rule adds (priority, politeness, salted partitioning).
  */

/** One row of the synthetic "web": what an HTTP GET of `url` returns.
  *
  * Replaces the live fetch at `/root/reference/src/utils/redirect_handler.py:101-103`.
  * `links` carries hrefs pre-extracted **in document order** (parity with the
  * BeautifulSoup projection, `src/web_crawler.py:163-167`); `html` is only set
  * for raw-HTML extraction tests. A URL absent from the table models a
  * network error (`response_data is None`, `src/web_crawler.py:126-130`).
  */
final case class PageRow(
    url: String,
    status: Int,
    location: Option[String],
    links: Seq[String],
    html: Option[String],
    contentType: Option[String],
    retryAfter: Option[Int],
    imageId: Option[String],
    // synthetic response latency: a GET slower than CrawlConfig.timeout
    // behaves exactly like a network error (the reference's aiohttp
    // ClientTimeout(total=timeout) path, src/web_crawler.py:27,126-130)
    latencyMs: Option[Int] = None)

/** Crawl configuration — reference defaults (`src/web_crawler.py:20-30`) plus
  * the scheduler/scale knobs of the north rule (BASELINE.json `north_star`).
  */
final case class CrawlConfig(
    // reference fields (src/web_crawler.py:24-30)
    delay: Double = 0.1,
    maxRedirects: Int = 10,
    maxConcurrent: Int = 10,
    timeout: Int = 10,
    userAgent: String = "Mozilla/5.0 (compatible; MyCrawler/1.0; +https://example.com/bot)",
    // scheduler mode: true  = exact reference FIFO semantics (parity path);
    //                 false = per-host politeness + priority top-k (scale path)
    fifoParity: Boolean = true,
    sameDomainOnly: Boolean = true,
    // scale knobs (north rule: salted partitioning, Bloom seen-set, budgets)
    perHostBudget: Int = 10,
    saltBuckets: Int = 16,
    bloomEnabled: Boolean = true,
    // design load of the URL-seen filter; it also fixes the filter's
    // partitioning into urlHash buckets (BloomBucketStore.sizing: one
    // bucket per 2^20 expected URLs, SCALE.md §2.1)
    bloomExpectedItems: Long = 4L * 1000 * 1000,
    bloomFpp: Double = 0.01,
    bloomUpdateEvery: Int = 4,
    // below this many live frontier rows (known exactly from segment
    // metadata) the Bloom prefilter is skipped for the round — the plain
    // anti-join is cheaper than the probe/union machinery at small scale
    bloomMinFrontierRows: Long = 1L << 16,
    // bucket the redirect-resolved pages closure by url (0 = off): the big
    // side of the per-round fetch join then never shuffles
    closureBuckets: Int = 0,
    maxRounds: Int = Int.MaxValue,
    compactEvery: Int = 8,
    // Retry-After backoff state up to this many hosts is applied as an
    // inlined literal filter (cheapest plan); above it, as an anti-join
    // against the persisted hoststate relation — bounded plan + driver
    // memory at any cardinality
    hostBlockInlineMax: Long = 1024L,
    // robots cache join strategy: broadcast (right for caches that fit an
    // executor, the common case) vs shuffle-side on `host` (a 10^7-host /
    // ~500 MB cache must not be broadcast; it shuffles on the same key the
    // scheduler windows partition by, so the join composes cleanly)
    robotsBroadcast: Boolean = true,
    // global per-round fetch cap (polite mode): when the eligible frontier
    // exceeds it, the round keeps the `roundBudget` best rows by
    // (priority, nextFetchTime, discoveryIdx) BEFORE per-host budgeting —
    // this is where authority-derived priorities (LinkRank → hostPriority)
    // decide WHICH hosts get crawl budget, mirroring how production
    // frontiers ration fetch capacity. Int.MaxValue = uncapped (every
    // eligible host gets its per-host budget each round)
    roundBudget: Int = Int.MaxValue,
    // crawl-trap guard (polite mode only; 0 = off): at most this many URLs
    // per (host, URL-pattern) are EVER admitted to the frontier, where the
    // pattern key collapses digit/hex runs and query values
    // (url_pattern_key) — calendar pages, session-id echoes and
    // faceted-search explosions stop at the cap instead of flooding a
    // 10^10-row frontier. Counts persist in the checkpoint (lifetime
    // admissions), so resume and re-crawl keep honoring the cap. Seeds
    // bypass the guard — only discovered links are rationed.
    trapPatternCap: Int = 0,
    // implicit error-driven host demotion (polite mode only; 0.0 = off): a
    // host whose round shows ≥ errorBackoffMin errors AND an error fraction
    // ≥ this value among its scheduled rows is paused for
    // errorBackoffRounds rounds, merged into the same (host, notBefore)
    // relation Retry-After uses — dead or melting hosts stop consuming
    // fetch budget even when they never send an explicit Retry-After.
    // Their REMAINING frontier rows become eligible again after the
    // penalty (errored URLs themselves are visited and never refetched).
    errorBackoffThreshold: Double = 0.0,
    errorBackoffMin: Int = 8,
    errorBackoffRounds: Int = 4,
    // mirror-page suppression (polite mode only): pages whose RESOLVED,
    // normalized link set was already extracted — same site served under
    // two URL shapes, scraped copies, boilerplate hubs — skip link
    // extraction entirely. A pure optimization: the digest covers exactly
    // what admission would see, so the found set is identical with the
    // flag on or off; what changes is the per-round explode/normalize/
    // anti-join volume on mirror-heavy crawls. Digests persist as
    // per-round deltas; only the last `contentDedupWindow` rounds are
    // anti-joined (bounded cost at any crawl age — a mirror beyond the
    // window is re-extracted, wasting work but never correctness).
    contentDedup: Boolean = false,
    contentDedupWindow: Int = 16,
    // latency-adaptive politeness (polite mode only; 0 = off): hosts whose
    // smoothed fetch latency exceeds this target get their per-round slot
    // budget scaled DOWN by target/ewma (floor 1 slot) — an overloaded or
    // far-away origin is crawled more gently without an explicit
    // Retry-After, and recovers its full budget as its latency does. The
    // per-host EWMA lives in the checkpoint (`latstate/`, hoststate
    // protocol), so resume keeps the learned pacing. Never raises a budget
    // above the robots/crawl-delay-derived one — the two clamps compose by
    // taking the smaller.
    latencyTargetMs: Double = 0.0,
    latencyEwmaAlpha: Double = 0.3,
    checkpointDir: Option[String] = None) {

  /** The request headers a live HTTP fetcher sends at the fetch boundary
    * (`src/web_crawler.py:68-75`). */
  def requestHeaders: Map[String, String] = Map(
    "User-Agent" -> userAgent,
    "Accept" -> "text/html,application/xhtml+xml,application/xml;q=0.9,*/*;q=0.8",
    "Accept-Encoding" -> "gzip, deflate",
    "Accept-Language" -> "en-US,en;q=0.5")
}

/** Frontier entry — the typed Dataset row of the URL frontier.
  *
  * `discoveryIdx` is the FIFO position (reference deque order,
  * `src/web_crawler.py:222,286`); `priority`/`nextFetchTime` drive the
  * polite scheduler's sort-within-partition (north rule "priority queue").
  */
final case class FrontierEntry(
    url: String,
    urlHash: Long,
    host: String,
    depth: Int,
    priority: Int,
    discoveryIdx: Long,
    nextFetchTime: Long)

/** Scalar result of a crawl — counts mirror `CrawlResult`
  * (`src/web_crawler.py:33-44`); URL relations stay distributed and are
  * exposed as Datasets on [[graft.operators.CrawlOutcome]].
  */
final case class CrawlStats(
    visitedCount: Long,
    errorCount: Long,
    redirectCount: Long,
    rounds: Int,
    scheduledTotal: Long,
    fetchedTotal: Long)
