package graft.operators

import graft.model.PageRow
import graft.sources.{IceLite, ImageRow}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** S8 (SURVEY.md §2.1): image/caption writeback — join the crawl's visited
  * set to the pages' payload pointers, pull the image rows, and MERGE them
  * into the Iceberg-style snapshot table deduplicating on `phash`
  * (`MERGE INTO t USING s ON t.phash = s.phash WHEN NOT MATCHED THEN
  * INSERT`, J3 in SURVEY.md §2.4). The fetch→payload join is an equi-join
  * on image_id; at scale both sides shuffle on that key and AQE picks the
  * strategy — the visited side is usually the small one and broadcasts.
  */
object ImageWriteback {

  def payloadRows(found: DataFrame, pages: Dataset[PageRow], images: Dataset[ImageRow]): DataFrame = {
    val withImage = found.select("url")
      .join(pages.toDF().select(col("url"), col("imageId")), Seq("url"))
      .filter(col("imageId").isNotNull)
      .select(col("imageId").as("image_id")).distinct()
    images.toDF().join(withImage, Seq("image_id"))
      .select("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
  }

  /** Returns the number of newly inserted rows (duplicates by phash skipped). */
  def ingest(outcome: CrawlOutcome, pages: Dataset[PageRow], images: Dataset[ImageRow],
      table: IceLite): Long =
    table.mergeInsert(payloadRows(outcome.found, pages, images), "phash")

  /** Quality-gated writeback: the fetched payload passes
    * [[graft.ops.Multimodal.curateImages]] before the MERGE, so
    * undecodable, too-small, extreme-aspect and near-constant images never
    * enter the snapshot table. Returns (inserted count, audit relation —
    * one row per rejected image with its reason). The gate decodes each
    * candidate once; the keep side joins back by image_id so the MERGE
    * still consumes the original payload columns. */
  def ingestCurated(outcome: CrawlOutcome, pages: Dataset[PageRow],
      images: Dataset[ImageRow], table: IceLite,
      minW: Int = 32, minH: Int = 32, maxAspect: Double = 4.0,
      minEntropyBits: Double = 1.0): (Long, DataFrame) = {
    val spark = pages.sparkSession
    import spark.implicits._
    val payload = payloadRows(outcome.found, pages, images)
    val media = payload.select(col("image_id").as("media_id"),
        lit("image").as("kind"), col("bytes"),
        typedLit(Map.empty[String, String]).as("meta"))
      .as[graft.ops.MediaRow]
    val (kept, audit) = graft.ops.Multimodal.curateImages(
      media, minW, minH, maxAspect, minEntropyBits)
    val inserted = table.mergeInsert(
      payload.join(kept.select(col("media_id").as("image_id")),
        Seq("image_id"), "left_semi"), "phash")
    (inserted, audit)
  }

  /** Re-crawl writeback: keep-BEST-quality MERGE upsert on phash
    * ([[graft.sources.IceLite.mergeUpsertBest]]) — a re-fetched copy of a
    * known phash with more pixels (default quality `w*h`; pass any
    * expression over the payload columns) REPLACES the stored row
    * copy-on-write at partition granularity, a new phash inserts, a worse
    * or equal copy is a no-op. This is what the TTL/expiry cycle wants:
    * `expireAndRequeue` re-fetches aged URLs and the upgraded payloads
    * land without growing the table or losing the better copy already
    * stored. Returns (inserted, upgraded). */
  def ingestBest(outcome: CrawlOutcome, pages: Dataset[PageRow],
      images: Dataset[ImageRow], table: IceLite,
      quality: org.apache.spark.sql.Column =
        col("w").cast("long") * col("h")): (Long, Long) =
    table.mergeUpsertBest(payloadRows(outcome.found, pages, images), "phash", quality)

  /** Pair-gated writeback — the batch twin of the streaming
    * `curatePairs` path: the fetched payload passes the FULL
    * image+caption ladder ([[graft.ops.Multimodal.pairReasons]] — caption
    * gates, container-trust sniff against the claimed `fmt`, decoded
    * quality stats) before the MERGE, so pairs with bad captions, lying
    * content types, or degenerate pixels never enter the snapshot table.
    * Returns (inserted count, audit — one row per rejected pair with its
    * first failing reason). Single relation pass: the annotation and both
    * splits come from one projection, no join-back needed. */
  /** `foreachBatch` MERGE sink with incremental NEAR-dup suppression — the
    * piece that closes the streaming gap: `curatePairs`' keyed state only
    * dedups EXACT phashes inside the watermark, so a hamming-1..6
    * re-encode of an image already in the snapshot table (same picture,
    * different bytes — the common crawl case) passes the stream and, with
    * a plain `mergeInsert` sink, lands as a new row until the next batch
    * sweep. This sink runs [[graft.ops.Multimodal.verifiedPhashDupIncremental]]
    * (delta = the micro-batch with its ALREADY-COMPUTED phash — no
    * re-decode; corpus = the table with its STORED phash — never
    * re-decoded) and drops batch rows whose PSNR-verified duplicate
    * already sits in the table, then MERGEs the rest. Within-batch
    * near-dups are NOT collapsed here (exact dups are, by the MERGE key) —
    * the batch sweep owns intra-delta collapse; this sink's contract is
    * only "never insert what the table already holds a verified copy of".
    * Cost per micro-batch: candidates on (id, phash) signatures only,
    * corpus bytes touched for candidate pairs alone.
    *
    * `corpusWindow` bounds the near-dup corpus to the table's newest K
    * commits ([[graft.sources.IceLite.readRecent]]) — the knob for tables
    * too large to scan per trigger (SCALE.md §7d: a persisted block index
    * measured SLOWER than the scan, so the affordable check is a bounded
    * one). Windowed contract: re-encodes of the last K commits are
    * suppressed here; older duplicates land and the periodic incremental
    * batch sweep collapses them. EXACT-dup suppression (the MERGE key)
    * always covers the full table — the window only bounds the
    * hamming-radius check. The window counts COMMITS, so `IceLite.compact`
    * (which consolidates history into one batch) widens it to the full
    * table until new commits accumulate — compact on a coarser cadence
    * than the trigger, or sweep-and-archive (see `readRecent`). Returns
    * rows inserted.
    *
    * `orientation = true` upgrades the suppression to the orientation
    * rung: candidates hamming-join the 8-element `phash_orients` arrays
    * (the table MUST carry the column — seed it with
    * `ingestCuratedPairs(storeOrientations = true)` or a prior run of
    * this sink, which appends it to every insert so the table stays
    * self-sustaining), verification is the orientation-aware PSNR, and a
    * mirrored/rotated re-encode of a stored image is suppressed like any
    * other near-dup. Costs one extra decode per ADMITTED batch row (the
    * batch's own arrays); the corpus side still never re-decodes. */
  def mergeInsertNearDup(table: IceLite, batch: DataFrame,
      maxHamming: Int = 6, minPsnrDb: Double = 40.0,
      corpusWindow: Int = Int.MaxValue,
      orientation: Boolean = false): Long = {
    // Truncate the micro-batch's lineage ONCE per trigger (eager
    // localCheckpoint): a foreachBatch DataFrame is a PLAN, not data — the
    // DAG below references the batch in three places (delta signatures,
    // bytes-attach union, MERGE staging) and triggers several actions, and
    // with the raw plan EVERY TASK of EVERY downstream stage carries the
    // serialized streaming subtree (state-store RDD chain + decode
    // expressions) in its task binary: jstack during a slow sink showed
    // all executor threads inside ObjectInputStream.readObject, and a
    // persist()+count (which caches the DATA but keeps the recompute
    // lineage in every task) left the sink 3-10× slower than the identical
    // batch-mode merge. After the checkpoint the sink's stages see a flat
    // LogicalRDD. A micro-batch is bounded by the trigger, so the
    // checkpointed blocks are bounded at any corpus scale (the TABLE is
    // never cached here); the ContextCleaner reclaims them once the batch
    // DataFrame is unreachable, and a lost block fails-and-retries the
    // trigger (foreachBatch sinks are at-least-once either way).
    // orientation mode: the batch's 8-hash arrays are computed here, once
    // per admitted row, INSIDE the checkpointed relation — both the dup
    // sweep and the MERGE below consume the same materialized arrays, and
    // every inserted row carries its array into the table (self-sustaining)
    val b = (if (!orientation) batch
      else batch.withColumn("phash_orients",
        graft.functions.ImageFunctions.phash_orientations(col("bytes"))))
      .localCheckpoint()
    if (table.isEmpty) return table.mergeInsert(b, "phash")
    if (orientation)
      require(table.read().columns.contains("phash_orients"),
        "mergeInsertNearDup(orientation): table has no phash_orients column — " +
          "seed it with ingestCuratedPairs(storeOrientations = true)")
    val corpus = (if (corpusWindow == Int.MaxValue) table.read()
      else table.readRecent(corpusWindow))
      .select(col("image_id") +: col("bytes") +:
        (if (orientation) Seq(col("phash_orients")) else Seq(col("phash"))): _*)
    val dup = (if (!orientation)
        graft.ops.Multimodal.verifiedPhashDupIncremental(
          corpus, b, "image_id", "bytes",
          maxHamming = maxHamming, minPsnrDb = minPsnrDb, deltaPhashCol = "phash",
          // per-trigger shape: candidates checkpoint eagerly so the corpus
          // bytes attach is ONE semi-join-pruned scan (see the scaladoc there)
          materializeCandidates = true)
      else
        graft.ops.Multimodal.verifiedOrientationDupIncremental(
          corpus, b, "image_id", "bytes", orientsCol = "phash_orients",
          maxHamming = maxHamming, minPsnrDb = minPsnrDb,
          deltaOrientsCol = "phash_orients",
          materializeCandidates = true))
      .persist()
    try {
      // `dup` is scanned twice below (both pair orientations); without the
      // persist each scan re-runs the whole candidate join + PSNR decode
      // subtree. Verified pairs touching one micro-batch are O(batch), so
      // the cache is trigger-bounded like `b` itself.
      dup.count()
      // batch ids whose verified pair partner is a CORPUS id: ids are
      // distinct across corpus and delta (the function's contract), so the
      // partner is in the corpus iff it is NOT a batch id — resolved
      // against the checkpointed batch's own id column, no table scan
      val batchIds = b.select(col("image_id").as("__bid"))
      val dupOfCorpus = dup.select(col("d1").as("image_id"), col("d2").as("__p"))
        .unionByName(dup.select(col("d2").as("image_id"), col("d1").as("__p")))
        .join(batchIds, col("image_id") === col("__bid"), "left_semi")
        .join(batchIds, col("__p") === col("__bid"), "left_anti")
        .select("image_id").distinct()
      table.mergeInsert(b.join(dupOfCorpus, Seq("image_id"), "left_anti"), "phash")
    } finally dup.unpersist()
  }

  def ingestCuratedPairs(outcome: CrawlOutcome, pages: Dataset[PageRow],
      images: Dataset[ImageRow], table: IceLite,
      minTokens: Int = 3, maxTokens: Int = 128, minAlphaRatio: Double = 0.5,
      minW: Int = 32, minH: Int = 32, maxAspect: Double = 4.0,
      minEntropyBits: Double = 1.0,
      // privacy-by-default at INGEST: scrub EXIF/XMP/comment/text-chunk
      // provenance from the admitted bytes before they ever hit storage
      // (strip_image_metadata — pixel stream verbatim, so the phash and
      // every gate verdict computed above still describe the stored bytes)
      stripMetadata: Boolean = false,
      // opt-in orientation-dedup enablement: append the 8-element
      // `phash_orients` array (64 bytes/row, ONE extra decode per
      // ADMITTED row) so later orientation sweeps — batch or incremental
      // (Multimodal.verifiedOrientationDupIncremental) — run in signature
      // space with zero corpus re-decodes. Off by default: the table
      // keeps the exact `input_hint` 7-column shape unless asked.
      storeOrientations: Boolean = false): (Long, DataFrame) = {
    val annotated = graft.ops.Multimodal.pairReasons(
        payloadRows(outcome.found, pages, images),
        minTokens, maxTokens, minAlphaRatio, minW, minH, maxAspect,
        minEntropyBits)
      .cache() // two consumers (audit + merge); the gate decode runs once
    try {
      val audit = annotated.filter(col("reason").isNotNull)
        .select("image_id", "reason")
      val storedBytes =
        if (stripMetadata)
          graft.functions.ImageFunctions.strip_image_metadata(col("bytes"))
        else col("bytes")
      val baseCols = Seq(col("image_id"), storedBytes.as("bytes"), col("w"),
        col("h"), col("fmt"), col("caption"), col("phash"))
      val outCols =
        if (!storeOrientations) baseCols
        // hashed over the bytes actually stored (the strip preserves the
        // pixel stream, so this equals the pre-strip hashes either way)
        else baseCols :+ graft.functions.ImageFunctions
          .phash_orientations(storedBytes).as("phash_orients")
      val inserted = table.mergeInsert(
        annotated.filter(col("reason").isNull).select(outCols: _*),
        "phash")
      (inserted, audit.localCheckpoint(true))
    } finally annotated.unpersist()
  }
}
