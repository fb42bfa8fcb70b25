package graft.operators

import graft.functions.BloomBucketStore
import graft.functions.BloomBucketStore.Sizing
import graft.io.StateFs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.util.sketch.BloomFilter
import java.io.{BufferedInputStream, BufferedOutputStream}
import java.util.Properties
import scala.jdk.CollectionConverters._

/** Per-round crawl state on disk — the north rule's "checkpoints
  * per-partition frontier state (seen-filter snapshots, queue offsets,
  * lineage + fetch metrics) for exact resume" (BASELINE.json `north_rule`).
  *
  * Every byte goes through [[graft.io.StateFs]] (the Hadoop FileSystem API),
  * so `dir` may be a `file:`, `hdfs:`, `s3a:` or any registered-scheme URI —
  * the layout below works unchanged on the distributed storage a
  * 1000-executor deployment requires (executors do not share the driver's
  * local disk; see StateFs for the commit protocol).
  *
  * Layout under `dir`:
  *  - `visited/round=K/`   parquet delta: the URLs first visited in round K
  *    (globally disjoint across rounds → their union IS the visited set,
  *    no distinct needed on read)
  *  - `frontier/seg=K/`    parquet frontier segment appended in round K;
  *    FIFO consumption never rewrites segments — the manifest's `watermark`
  *    (max consumed discoveryIdx, i.e. the queue offset) plus each segment's
  *    [minIdx,maxIdx] range prune fully-consumed files without reading them
  *  - `sides/round=K/`     error/redirect side-output delta (tagged `kind`)
  *  - `visitlog/round=K/`  (round, batchIdx, url) crawl-ordering lineage
  *  - `bloombuckets/round=K/bucket=B.bin`  the URL-seen filter snapshot,
  *    one Bloom filter per urlHash bucket ([[graft.functions.BloomBucketStore]])
  *  - `hoststate/round=K/` parquet (host, notBefore) Retry-After backoff
  *    relation — a relation, not a driver map, so millions of backing-off
  *    hosts neither blow up driver memory nor inline into the plan
  *  - `manifest/round=K.properties` atomic commit record (written last;
  *    resume reads the highest round with a manifest — partially written
  *    rounds are invisible). It carries the layout version
  *    ([[CheckpointStore.Layout]]); a manifest of another layout is refused
  *    on load, never migrated.
  */
/** Routes a pre-computed bucket id to that partition (key IS the partition). */
private[operators] final class IdentityPartitioner(n: Int) extends org.apache.spark.Partitioner {
  override def numPartitions: Int = n
  override def getPartition(key: Any): Int = key.asInstanceOf[Int]
}

object CheckpointStore {
  /** Per-round discoveryIdx block width in polite mode: round r's new links
    * get indexes in `[(r+1)*IdxSpan, (r+2)*IdxSpan)` (hash-based within the
    * block — no global window), so later rounds always sort after earlier
    * ones and a requeued segment can claim the next block. */
  val IdxSpan: Long = 1L << 40

  /** First slots of a requeue round's idx block reserved for
    * lastmod-known rows (epoch seconds fit until ~2514); the hash-spread
    * band for unknown-recency rows starts after it. See
    * `expireAndRequeue`'s `recency` parameter. */
  val RecencyBand: Long = 1L << 34

  /** Version of the on-disk layout above. Bump it whenever a file or a
    * manifest property changes meaning; readers refuse every other value. */
  val Layout: Int = 2

  final case class SegInfo(seg: Int, minIdx: Long, maxIdx: Long, rows: Long)

  final case class Manifest(
      round: Int,
      nextIdx: Long,
      watermark: Long,
      errorCount: Long,
      redirectCount: Long,
      scheduledTotal: Long,
      fetchedTotal: Long,
      visitedRounds: Seq[Int],
      liveSegs: Seq[SegInfo],
      // round of the current seen-filter snapshot; -1 = none (never built,
      // or dropped by expiry — the next crawl round rebuilds it)
      bloomRound: Int = -1,
      // round whose hoststate/ dir holds the current backoff relation
      hostStateRound: Int = -1,
      // bucket layout and per-bucket Bloom parameters of the snapshot.
      // Key→bucket routing is floorMod(urlHash, buckets) and Bloom bit
      // arrays merge only at equal size, so a resume whose derived sizing
      // differs must rebuild the snapshot, never probe or merge it.
      seen: Sizing = Sizing(0, 0L, 0.0),
      // round whose patstate/ dir holds the current (patternHash, admitted
      // count) relation of the crawl-trap guard (CrawlConfig.trapPatternCap);
      // -1 = guard never ran. Counts are LIFETIME admissions per pattern, so
      // expiry/requeue leaves them untouched by design.
      patternStateRound: Int = -1,
      // rounds holding content-digest deltas (mirror-page suppression,
      // CrawlConfig.contentDedup) — the read side anti-joins only the last
      // `contentDedupWindow` of these, so the per-round cost is bounded
      // regardless of crawl age. Suppression is a pure optimization (the
      // digest covers the page's RESOLVED link set, so a suppressed mirror
      // contributes nothing the kept copy didn't), so expiry ignores this.
      contentRounds: Seq[Int] = Nil,
      // round whose latstate/ dir holds the current (host, ewmaMs) smoothed
      // fetch-latency relation (CrawlConfig.latencyTargetMs); -1 = adaptive
      // politeness never ran. Same write-on-change protocol as hoststate.
      latencyStateRound: Int = -1)
}

final class CheckpointStore(spark: SparkSession, val dir: String,
    // polite mode schedules each URL at most once per round, so the round's
    // visit-log delta IS the visited delta — the store then serves visited
    // reads straight from the visit-log files (one write per round instead
    // of two); FIFO parity keeps the separate deduplicated visited write
    // because its batches may legally contain duplicate URLs
    val visitedFromLog: Boolean = false) {
  import CheckpointStore._
  import org.apache.spark.sql.types._

  val sfs: StateFs = StateFs(spark)
  private def p(parts: String*): String = sfs.child(dir, parts: _*)
  sfs.mkdirs(p("manifest"))

  // Explicit layout schemas: every state read skips driver-side parquet
  // footer inference — at one crawl round per few seconds, the per-read
  // schema job is a measurable serial cost that does not scale with cores.
  private val frontierSchema = StructType(Seq(
    StructField("url", StringType), StructField("urlHash", LongType),
    StructField("host", StringType), StructField("depth", IntegerType),
    StructField("priority", IntegerType), StructField("discoveryIdx", LongType),
    StructField("nextFetchTime", LongType)))
  private val visitLogSchema = StructType(Seq(
    StructField("round", IntegerType), StructField("batchIdx", LongType),
    StructField("url", StringType), StructField("urlHash", LongType),
    StructField("depth", IntegerType), StructField("discoveryIdx", LongType)))
  private val visitedSchema = StructType(Seq(
    StructField("url", StringType), StructField("urlHash", LongType)))
  private val sidesSchema = StructType(Seq(
    StructField("url", StringType), StructField("kind", StringType)))
  private val hostStateSchema = StructType(Seq(
    StructField("host", StringType), StructField("notBefore", IntegerType)))
  private val patternStateSchema = StructType(Seq(
    StructField("pat", LongType), StructField("cnt", LongType)))
  private val latencyStateSchema = StructType(Seq(
    StructField("host", StringType), StructField("ewmaMs", DoubleType)))
  private val contentSchema = StructType(Seq(StructField("__chash", LongType)))

  def visitedPath(round: Int): String =
    if (visitedFromLog) visitLogPath(round) else p("visited", s"round=$round")
  def segPath(seg: Int): String = p("frontier", s"seg=$seg")
  def sidesPath(round: Int): String = p("sides", s"round=$round")
  def visitLogPath(round: Int): String = p("visitlog", s"round=$round")
  def hostStatePath(round: Int): String = p("hoststate", s"round=$round")
  def patternStatePath(round: Int): String = p("patstate", s"round=$round")
  def latencyStatePath(round: Int): String = p("latstate", s"round=$round")

  def saveManifest(m: Manifest): Unit = {
    val props = new Properties()
    props.setProperty("layout", Layout.toString)
    props.setProperty("round", m.round.toString)
    props.setProperty("nextIdx", m.nextIdx.toString)
    props.setProperty("watermark", m.watermark.toString)
    props.setProperty("errorCount", m.errorCount.toString)
    props.setProperty("redirectCount", m.redirectCount.toString)
    props.setProperty("scheduledTotal", m.scheduledTotal.toString)
    props.setProperty("fetchedTotal", m.fetchedTotal.toString)
    props.setProperty("visitedRounds", m.visitedRounds.mkString(","))
    props.setProperty("liveSegs",
      m.liveSegs.map(s => s"${s.seg}:${s.minIdx}:${s.maxIdx}:${s.rows}").mkString(","))
    props.setProperty("bloomRound", m.bloomRound.toString)
    props.setProperty("hostStateRound", m.hostStateRound.toString)
    props.setProperty("seenBuckets", m.seen.buckets.toString)
    props.setProperty("seenBucketItems", m.seen.itemsPerBucket.toString)
    props.setProperty("seenFpp", m.seen.fpp.toString)
    props.setProperty("patternStateRound", m.patternStateRound.toString)
    props.setProperty("contentRounds", m.contentRounds.mkString(","))
    props.setProperty("latencyStateRound", m.latencyStateRound.toString)
    sfs.writeAtomic(p("manifest", s"round=${m.round}.properties")) { out =>
      props.store(out, null)
    }
  }

  def latestManifest(): Option[Manifest] = {
    val rounds = sfs.listNames(p("manifest"))
      .collect { case s if s.startsWith("round=") && s.endsWith(".properties") =>
        s.stripPrefix("round=").stripSuffix(".properties").toInt }
    if (rounds.isEmpty) None else Some(loadManifest(rounds.max))
  }

  /** Reads one manifest. A manifest of another layout (or of the
    * unversioned layout before it) throws before anything is written. */
  def loadManifest(round: Int): Manifest = {
    val path = p("manifest", s"round=$round.properties")
    val props = new Properties()
    val in = sfs.open(path)
    try props.load(in) finally in.close()
    val layout = props.getProperty("layout")
    if (layout != Layout.toString)
      throw new IllegalStateException(
        s"checkpoint manifest $path has layout " +
          Option(layout).getOrElse("1 (no layout property)") +
          s"; this build reads layout $Layout only. Checkpoints are not " +
          "migrated: crawl into a new checkpoint directory.")
    def seq(key: String): Seq[String] = {
      val v = props.getProperty(key, "")
      if (v.isEmpty) Nil else v.split(",").toSeq
    }
    Manifest(
      props.getProperty("round").toInt,
      props.getProperty("nextIdx").toLong,
      props.getProperty("watermark").toLong,
      props.getProperty("errorCount").toLong,
      props.getProperty("redirectCount").toLong,
      props.getProperty("scheduledTotal").toLong,
      props.getProperty("fetchedTotal").toLong,
      seq("visitedRounds").map(_.toInt),
      seq("liveSegs").map { s =>
        val Array(a, b, c, d) = s.split(":")
        SegInfo(a.toInt, b.toLong, c.toLong, d.toLong)
      },
      props.getProperty("bloomRound").toInt,
      props.getProperty("hostStateRound").toInt,
      Sizing(props.getProperty("seenBuckets").toInt,
        props.getProperty("seenBucketItems").toLong,
        props.getProperty("seenFpp").toDouble),
      props.getProperty("patternStateRound").toInt,
      seq("contentRounds").map(_.toInt),
      props.getProperty("latencyStateRound").toInt)
  }

  /** The visited set: union of disjoint per-round deltas (no distinct).
    * Projected to (url, urlHash) — the visit-log-backed layout carries
    * extra lineage columns that visited readers must not see. */
  def readVisited(visitedRounds: Seq[Int]): Option[DataFrame] =
    if (visitedRounds.isEmpty) None
    else Some(spark.read
      .schema(if (visitedFromLog) visitLogSchema else visitedSchema)
      .parquet(visitedRounds.map(visitedPath): _*)
      .select("url", "urlHash"))

  /** One round's scheduled batch (the visit-log delta), schema pinned. */
  def readBatch(round: Int): DataFrame =
    spark.read.schema(visitLogSchema).parquet(visitLogPath(round))

  /** Raw frontier segments (no watermark filter), schema pinned. */
  def readSegsRaw(segs: Seq[Int]): DataFrame =
    spark.read.schema(frontierSchema).parquet(segs.map(segPath): _*)

  /** Live frontier: segment files pruned by the queue-offset watermark
    * (a fully consumed segment is never opened), residual consumed rows in
    * the boundary segment removed by a parquet-stat-prunable predicate. */
  def readFrontier(liveSegs: Seq[SegInfo], watermark: Long): Option[DataFrame] = {
    val live = liveSegs.filter(_.maxIdx > watermark)
    if (live.isEmpty) None
    else Some(readSegsRaw(live.map(_.seg))
      .filter(org.apache.spark.sql.functions.col("discoveryIdx") > watermark))
  }

  def readSides(rounds: Seq[Int]): Option[DataFrame] = {
    val existing = rounds.map(sidesPath).filter(sfs.exists)
    if (existing.isEmpty) None else Some(spark.read.schema(sidesSchema).parquet(existing: _*))
  }

  def readVisitLog(rounds: Seq[Int]): Option[DataFrame] = {
    val existing = rounds.map(visitLogPath).filter(sfs.exists)
    if (existing.isEmpty) None
    else Some(spark.read.schema(visitLogSchema).parquet(existing: _*))
  }

  /** Distributed build of the seen-filter snapshot (SCALE.md §2.1):
    * `deltas.urlHash` is identity-partitioned into `sizing.buckets` by
    * `floorMod(urlHash, buckets)`; each task builds its bucket's delta
    * filter, merges the previous snapshot's bucket file (same sizing, so
    * the bit layouts are merge-compatible — the caller guarantees it), and
    * publishes `bloombuckets/round=K/bucket=B.bin` through StateFs's
    * attempt-unique atomic write — task retries / speculative attempts of
    * one bucket never interleave on a shared tmp file, and both attempts
    * write identical content, so either rename winning is correct. The
    * driver never holds a filter — per-round driver cost is O(#buckets)
    * task scheduling, not O(rows).
    */
  def saveBloomBuckets(round: Int, prevRound: Int, deltas: DataFrame,
      sizing: Sizing): Unit = {
    val dirStr = dir
    val fsRef = sfs // serializable; do not capture `this` in the task closure
    val Sizing(nBuckets, perBucket, fpp) = sizing
    deltas.select("urlHash").rdd
      .map(r => (Math.floorMod(r.getLong(0), nBuckets.toLong).toInt, r.getLong(0)))
      .partitionBy(new IdentityPartitioner(nBuckets))
      .mapPartitionsWithIndex { (bucket, it) =>
        val f = BloomFilter.create(perBucket, fpp)
        var n = 0L
        it.foreach { kv => f.putLong(kv._2); n += 1 }
        val prevPath = BloomBucketStore.path(dirStr, prevRound, bucket)
        val hasPrev = prevRound >= 0 && fsRef.exists(prevPath)
        if (hasPrev) {
          val in = new BufferedInputStream(fsRef.open(prevPath))
          try f.mergeInPlace(BloomFilter.readFrom(in)) finally in.close()
        }
        if (n > 0 || hasPrev) {
          fsRef.writeAtomic(BloomBucketStore.path(dirStr, round, bucket)) { out =>
            val b = new BufferedOutputStream(out)
            f.writeTo(b); b.flush()
          }
        }
        Iterator.single(n)
      }.count()
  }

  /** TTL / re-crawl expiry: retire whole visited ROUNDS from the seen set
    * and (by default) re-queue their URLs for a fresh fetch. Offline op:
    * run it between crawl sessions on the same checkpoint dir, then resume
    * with a higher `maxRounds`; the resumed crawl re-fetches exactly the
    * expired URLs (they are gone from the visited relation and live again
    * in the frontier).
    *
    * A Bloom filter cannot delete, so the seen-filter snapshot pointer is
    * dropped and the next crawl round rebuilds the filter from the
    * remaining visited deltas. Until that rebuild the crawl runs the plain
    * anti-join: exact, merely unprefiltered.
    *
    * Requeued rows land in a fresh frontier segment under a synthetic round
    * (`m.round + 1`, so the segment number and polite-mode discoveryIdx
    * block can never collide with a future crawl round's); depth is
    * preserved from the visit log, `nextFetchTime = 0`. The requeue
    * PRIORITY follows the same scale rule as the crawler's admission path
    * ([[FrontierCrawler]]'s `hostPriority` contract): pass the SAME
    * authority relation the resumed crawl will run with and each requeued
    * row takes its host's rank priority (absent host → Int.MaxValue);
    * without one, `priority = depth`. Never mix the two — depth values
    * (1..diameter) are tiny on the rank scale (1..N hosts), so
    * depth-priority requeued rows would outrank nearly every
    * authority-ranked host and capture the whole `roundBudget` ration.
    * Totals in the manifest stay cumulative across expiry epochs.
    *
    * Construct this store with `visitedFromLog` matching the crawl that
    * wrote the checkpoint (`!cfg.fifoParity`) — the visited-delta layout
    * differs between the two modes and the requeue reads the expired
    * rounds' deltas.
    *
    * `requeue = false` removes the rounds from the seen set without
    * queueing an explicit re-fetch segment — but it does NOT guarantee the
    * URLs are forgotten: in polite mode their original frontier rows may
    * still be live (the watermark never moves; only compaction removes
    * consumed rows), and once no longer filtered by the visited anti-join
    * they re-schedule anyway. Use the default for deterministic re-crawl
    * semantics; `requeue = false` only to retire rounds from the seen set.
    *
    * `recency` — optional `(url, lastmod:timestamp)` relation (e.g.
    * [[graft.sources.Sitemaps]]'s `recencyRelation` over sitemap
    * `<lastmod>` claims; urls must be in the crawl's normalized space):
    * requeued rows with a known lastmod take a discoveryIdx that DECREASES
    * with freshness, ahead of the hash-spread block for unknown-recency
    * rows — so within the same priority class (the scheduler orders by
    * (priority, nextFetchTime, discoveryIdx, url)) fresher URLs re-fetch
    * first, WITHOUT touching the authority scale the contract above pins.
    * One broadcast-sized left join; no window, no extra shuffle beyond the
    * join. Polite (hash-idx) mode only — fifoIdx assigns arrival order by
    * construction. */
  def expireAndRequeue(rounds: Seq[Int], requeue: Boolean = true,
      fifoIdx: Boolean = false,
      hostPriority: Option[DataFrame] = None,
      recency: Option[DataFrame] = None): CheckpointStore.Manifest = {
    import org.apache.spark.sql.functions._
    require(recency.isEmpty || !fifoIdx,
      "recency-prioritized requeue requires the hash-idx (polite) mode")
    val m = latestManifest().getOrElse(
      throw new IllegalStateException(s"no checkpoint manifest under $dir"))
    val expireSet = rounds.toSet
    require(rounds.nonEmpty && expireSet.subsetOf(m.visitedRounds.toSet),
      s"expire rounds $rounds must be visited rounds ${m.visitedRounds}")

    val (newRound, newNextIdx, newSegs) =
      if (!requeue) (m.round, m.nextIdx, m.liveSegs)
      else {
        val src = readVisitLog(rounds)
          .map(_.select(col("url"), col("urlHash"), col("depth")))
          .orElse(readVisited(rounds).map(_.withColumn("depth", lit(0))))
          .getOrElse(throw new IllegalStateException(
            s"no visit log or visited delta for rounds $rounds under $dir"))
        val r = m.round + 1
        val seg = r + 1
        val hosted = src
          .withColumn("host", graft.functions.UrlFunctions.url_host(col("url")))
        // requeue priority on the SAME scale the resumed crawl schedules on:
        // authority rank when the caller crawls with an authority table
        // (absent host → Int.MaxValue, matching the admission path), BFS
        // depth otherwise — never depth mixed into a rank-scale frontier
        val prioed = hostPriority match {
          case None => hosted.withColumn("__prio", col("depth").cast("int"))
          case Some(hp) =>
            hosted.join(
                hp.select(hp("host"), hp("priority").as("__hostPrio")),
                Seq("host"), "left_outer")
              .withColumn("__prio",
                coalesce(col("__hostPrio"), lit(Int.MaxValue)).cast("int"))
        }
        // recency-aware idx (polite mode): the synthetic round's idx block
        // [(r+1)·IdxSpan, (r+2)·IdxSpan) splits into a LASTMOD band (first
        // RecencyBand slots — idx = band_end − clamped epoch seconds, so
        // fresher ⇒ smaller ⇒ scheduled earlier) followed by the
        // hash-spread band for unknown-recency rows. Epoch seconds fit the
        // 2^34 band until ~year 2514; clamping keeps adversarial lastmod
        // claims inside the band instead of colliding into other rounds'.
        val recencied = recency match {
          case None => prioed
          case Some(rel) =>
            // defensively collapse the caller-supplied relation to one row
            // per url (freshest lastmod wins): a left join against an
            // un-deduped relation would MULTIPLY requeued frontier rows,
            // and ExpireCli --recency accepts arbitrary parquet
            val one = rel.select(rel("url"), rel("lastmod").as("__lm"))
              .groupBy(col("url")).agg(max(col("__lm")).as("__lm"))
            prioed.join(one, Seq("url"), "left_outer")
        }
        val band = CheckpointStore.RecencyBand
        val idxCol =
          if (fifoIdx)
            lit(m.nextIdx) +
              row_number().over(org.apache.spark.sql.expressions.Window
                .orderBy(col("url"))).cast("long") - 1
          else if (recency.isEmpty)
            lit((r.toLong + 1) * CheckpointStore.IdxSpan) +
              pmod(xxhash64(col("url")), lit(CheckpointStore.IdxSpan))
          else {
            val epoch = greatest(lit(0L),
              least(col("__lm").cast("long"), lit(band - 1)))
            when(col("__lm").isNotNull,
              lit((r.toLong + 1) * CheckpointStore.IdxSpan) + (lit(band - 1) - epoch))
              .otherwise(
                lit((r.toLong + 1) * CheckpointStore.IdxSpan + band) +
                  pmod(xxhash64(col("url")),
                    lit(CheckpointStore.IdxSpan - band)))
          }
        val entries = recencied
          .withColumn("discoveryIdx", idxCol)
          .select(col("url"), col("urlHash"), col("host"), col("depth"),
            col("__prio").as("priority"), col("discoveryIdx"),
            lit(0L).as("nextFetchTime"))
        val obs = org.apache.spark.sql.Observation()
        entries.observe(obs, count(lit(1)).as("n"))
          .write.mode("overwrite").parquet(segPath(seg))
        val n = obs.get("n").asInstanceOf[Long]
        val (mn, mx) =
          if (fifoIdx) (m.nextIdx, m.nextIdx + n - 1)
          else ((r.toLong + 1) * CheckpointStore.IdxSpan,
            (r.toLong + 2) * CheckpointStore.IdxSpan - 1)
        val nx = if (fifoIdx) m.nextIdx + n else (r.toLong + 2) * CheckpointStore.IdxSpan
        (r, nx, m.liveSegs :+ CheckpointStore.SegInfo(seg, mn, mx, n))
      }

    val m2 = m.copy(round = newRound, nextIdx = newNextIdx,
      visitedRounds = m.visitedRounds.filterNot(expireSet),
      liveSegs = newSegs, bloomRound = -1)
    saveManifest(m2)
    m2
  }

  /** Round-local fetch metrics (lineage + fetch metrics per north rule). */
  def saveMetrics(round: Int, kv: Map[String, Long]): Unit = {
    val props = new Properties()
    kv.foreach { case (k, v) => props.setProperty(k, v.toString) }
    sfs.writeAtomic(p("metrics", s"round=$round.properties"))(out => props.store(out, null))
  }

  def loadMetrics(round: Int): Map[String, Long] = {
    val props = new Properties()
    val in = sfs.open(p("metrics", s"round=$round.properties"))
    try props.load(in) finally in.close()
    props.stringPropertyNames().asScala.map(k => k -> props.getProperty(k).toLong).toMap
  }

  /** Retry-After backoff state as a relation `(host, notBefore)` — written
    * only on rounds where it changes; the manifest's `hostStateRound` points
    * at the latest version. */
  def saveHostState(round: Int, state: DataFrame): Unit =
    state.write.mode("overwrite").parquet(hostStatePath(round))

  def readHostState(round: Int): DataFrame =
    spark.read.schema(hostStateSchema).parquet(hostStatePath(round))

  /** Crawl-trap guard state: one (pattern-key hash, lifetime admitted count)
    * row per URL pattern ever admitted. Written on rounds that admit links
    * while the guard is on; the manifest's `patternStateRound` points at the
    * current relation (same write-on-change protocol as hoststate). Bounded
    * by construction — the pattern key collapses exactly the unbounded URL
    * parts, so this relation grows with DISTINCT shapes, not URLs. */
  def savePatternState(round: Int, state: DataFrame): Unit =
    state.write.mode("overwrite").parquet(patternStatePath(round))

  def readPatternState(round: Int): DataFrame =
    spark.read.schema(patternStateSchema).parquet(patternStatePath(round))

  /** Latency-adaptive politeness state: one (host, ewmaMs) row per host with
    * observed fetch latency — the smoothed signal the polite scheduler's
    * budget clamp reads (CrawlConfig.latencyTargetMs). Written on rounds
    * that observed any latency; the manifest's `latencyStateRound` points at
    * the current relation (hoststate protocol). */
  def saveLatencyState(round: Int, state: DataFrame): Unit =
    state.write.mode("overwrite").parquet(latencyStatePath(round))

  def readLatencyState(round: Int): DataFrame =
    spark.read.schema(latencyStateSchema).parquet(latencyStatePath(round))

  /** Content-digest deltas (mirror-page suppression): one 64-bit digest per
    * page whose resolved link set was first seen that round. Per-round
    * deltas like visited/; the crawler anti-joins only a bounded recent
    * window of them (mirrors co-occur temporally, and a missed distant
    * mirror costs wasted extraction work, never correctness). */
  def contentPath(round: Int): String = p("contentseen", s"round=$round")

  def readContentDigests(rounds: Seq[Int]): Option[DataFrame] =
    if (rounds.isEmpty) None
    else Some(spark.read.schema(contentSchema)
      .parquet(rounds.map(contentPath): _*))
}
