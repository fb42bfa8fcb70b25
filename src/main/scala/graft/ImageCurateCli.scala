package graft

import graft.ops.{Dedup, Multimodal}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** spark-submit entry for image+caption pair curation — the payload-side
  * counterpart of `CurateCli`: one command takes a payload table (parquet,
  * the `input_hint` shape `image_id, bytes, w, h, fmt, caption, phash`)
  * through
  *
  *   optional byte-exact dedup (sha-256 content identity, pre-decode) →
  *   pair gates (caption → container trust → decoded stats) →
  *   optional CLIP-score alignment gate (inference-output embeddings) →
  *   exact phash dedup (keep best quality) →
  *   optional near-dup clustering (hamming radius, optional PSNR verify)
  *
  * and writes the curated pairs plus per-stage audit relations. Every
  * stage is one of the engine's spec/oracle-verified operators; this entry
  * composes them and records what each stage dropped.
  *
  * Scale shape: the gates are stateless column programs (one decode per
  * row via `image_stats`); exact dedup is one hash agg on phash; the
  * near-dup pass runs components over DISTINCT PHASHES (longs — one row
  * per phash survives the exact pass), so the clustering relation is the
  * signature space, not the row space, and the optional PSNR verification
  * joins bytes onto candidate pairs only.
  *
  * Exit codes follow the CrawlCli convention: 0 success, 2 bad usage,
  * 1 runtime failure.
  */
object ImageCurateCli {

  private val Usage =
    """usage: ImageCurateCli <input-parquet> <output-dir>
      |       [--byte-exact]
      |       [--min-tokens 3] [--max-tokens 128] [--min-alpha 0.5]
      |       [--min-w 32] [--min-h 32] [--max-aspect 4.0] [--min-entropy 1.0]
      |       [--align PARQUET] [--align-min 0.3]
      |       [--near-dup HAMMING] [--psnr DB]
      |
      |  <input-parquet>  Payload table: image_id, bytes, w, h, fmt,
      |                   caption, phash (any FS scheme)
      |  <output-dir>     Writes curated/ plus audit/ relations
      |  --byte-exact     Collapse byte-identical payloads first (sha-256
      |                   content identity, min image_id wins) — the
      |                   cheapest dedup rung; every copy collapsed here
      |                   skips the decode the gates would pay
      |  --align P        CLIP-score alignment gate: P is an inference-output
      |                   parquet (image_id, image_emb, caption_emb); pairs
      |                   scoring below --align-min — or missing from P —
      |                   are dropped (audit: dropped_alignment)
      |  --align-min S    Minimum alignment cosine (default 0.3)
      |  --near-dup H     Also collapse phash clusters within hamming H
      |                   (components over distinct phashes, keep best
      |                   DECODED pixel count — recorded w/h are untrusted)
      |  --psnr DB        With --near-dup: verify candidate pairs on
      |                   decoded pixels, keep only pairs >= DB (0 = off)
      |  --decontam P     Benchmark decontamination: P is a parquet with a
      |                   phash column (the eval benchmark's signatures);
      |                   pairs whose STORED phash sits within
      |                   --decontam-radius of any eval signature drop
      |                   (audit: dropped_decontam with hit counts) — an
      |                   eval image re-posted into the crawl must never
      |                   reach training. To also catch MIRRORED/ROTATED
      |                   benchmark re-posts, emit all 8 orientation
      |                   hashes per eval image into P (one row each,
      |                   explode(phash_orientations(bytes))): a re-post's
      |                   stored phash IS one of the original's
      |                   orientation hashes, so the same join catches it
      |  --decontam-radius H  Hamming radius for --decontam (default 4)
      |  --semantic P     Semantic dedup rung (SemDeDup): P is an
      |                   inference-output parquet (image_id, image_emb);
      |                   images whose embeddings cosine >= --semantic-min
      |                   (LSH-bucketed candidates, exact-cosine verified)
      |                   cluster, keep-best-DECODED-quality per cluster —
      |                   collapses same-content different-pixel re-posts
      |                   (crops, re-renders) that no pixel rung can see.
      |                   Pairs missing from P pass through unclustered
      |                   (audit: dropped_semantic); every non-empty
      |                   image_emb in P must have the same width
      |  --semantic-min T Cosine threshold for --semantic (default 0.95)
      |  --semantic-planes N  LSH hyperplanes PER BAND, 1..63 (default 8)
      |  --semantic-bands B   LSH bands (default 8; 8x8 catches ~99% of
      |                   cos-0.95 pairs — the amplified AND-OR
      |                   construction, precision owned by the
      |                   exact-cosine verify)
      |  --caption-cap N  After dedup, keep at most N pairs per caption
      |                   (templated alt text boilerplate control; salted
      |                   two-phase top-k, deterministic ascending-id
      |                   order; audit: dropped_caption_cap)
      |  --caption-salts K  Salt buckets for --caption-cap (default 64)
      |  --split SPEC     Add a leakage-safe train/val/test column to the
      |                   curated output, keyed on the DEDUP GROUP label
      |                   (the near-dup component under --near-dup, else
      |                   the exact-dedup signature) so near-duplicates
      |                   can never straddle an eval boundary. SPEC is
      |                   name:weight[,name:weight...], weights sum to 1,
      |                   e.g. train:0.8,val:0.1,test:0.1
      |  --orientation    Dedup in orientation signature space: the exact
      |                   stage keys on phash_canonical64 (min phash over
      |                   the 8 dihedral orientations — exact for lossless
      |                   re-posts) and the near-dup stage hamming-joins
      |                   the FULL 8-hash sets (lossy-robust), so
      |                   mirrored/rotated re-posts collapse too; --psnr
      |                   verification uses the orientation-aware PSNR.
      |                   One extra decode per gated row; the
      |                   dropped_near_dup audit column is phash_canonical
      |  --batches N      Also materialize training batches of N images to
      |                   batches/: header-dims aspect banding, resample to
      |                   each band's target resolution, complete batches
      |                   only (columns: image_id, band, shard, batch_ix,
      |                   slot, width, height, bytes, caption)
      |  --batch-side S   Band target scale (default 512): tall 3S/4 x S,
      |                   square S x S, wide S x 3S/4, ultrawide 3S/2 x 3S/4
      |  --batch-mode M   Resample mode: area (default) | nearest
      |  --batch-shards K Per-band shards for distributed numbering (dflt 1)
      |  --strip-metadata Scrub EXIF/XMP/comment/text-chunk provenance from
      |                   the curated bytes (decode-free byte surgery; the
      |                   pixel stream — and therefore phash and every
      |                   decoded stat — is unchanged; unstrippable
      |                   containers pass through verbatim)""".stripMargin

  final case class ImageCurateSummary(
      input: Long,
      droppedGates: Long,
      droppedExact: Long,
      droppedNearDup: Long,
      kept: Long,
      batchRows: Long = -1,        // -1: --batches not requested
      droppedAlignment: Long = -1, // -1: --align not requested
      droppedByteExact: Long = -1, // -1: --byte-exact not requested
      droppedCaptionCap: Long = -1, // -1: --caption-cap not requested
      splitCounts: Map[String, Long] = Map.empty, // empty: --split not requested
      droppedDecontam: Long = -1,  // -1: --decontam not requested
      droppedSemantic: Long = -1)  // -1: --semantic not requested

  private[graft] def run(spark: SparkSession, args: Array[String]): ImageCurateSummary = {
    var pos = Vector.empty[String]
    var minTokens = 3; var maxTokens = 128; var minAlpha = 0.5
    var minW = 32; var minH = 32; var maxAspect = 4.0; var minEntropy = 1.0
    var nearDup: Option[Int] = None; var psnrDb = 0.0
    var align: Option[String] = None; var alignMin = 0.3
    var batches: Option[Int] = None; var batchSide = 512
    var batchMode = "area"; var batchShards = 1
    var stripMetadata = false; var byteExact = false; var orientation = false
    var captionCap: Option[Int] = None; var captionSalts = 64
    var splitSpec: Option[Seq[(String, Double)]] = None
    var decontam: Option[String] = None; var decontamRadius = 4
    var semantic: Option[String] = None
    var semanticMin = 0.95; var semanticPlanes = 8; var semanticBands = 8
    var i = 0
    def value(flag: String): String = {
      i += 1
      if (i >= args.length) throw CurateCli.CliUsageError(s"$flag requires a value")
      args(i)
    }
    def num[T](flag: String, parse: String => T): T = {
      val v = value(flag)
      try parse(v)
      catch { case _: NumberFormatException =>
        throw CurateCli.CliUsageError(s"$flag: not a number: '$v'") }
    }
    while (i < args.length) {
      args(i) match {
        case "--min-tokens" => minTokens = num("--min-tokens", _.toInt)
        case "--max-tokens" => maxTokens = num("--max-tokens", _.toInt)
        case "--min-alpha" => minAlpha = num("--min-alpha", _.toDouble)
        case "--min-w" => minW = num("--min-w", _.toInt)
        case "--min-h" => minH = num("--min-h", _.toInt)
        case "--max-aspect" => maxAspect = num("--max-aspect", _.toDouble)
        case "--min-entropy" => minEntropy = num("--min-entropy", _.toDouble)
        case "--align" => align = Some(value("--align"))
        case "--align-min" => alignMin = num("--align-min", _.toDouble)
        case "--near-dup" => nearDup = Some(num("--near-dup", _.toInt))
        case "--psnr" => psnrDb = num("--psnr", _.toDouble)
        case "--batches" => batches = Some(num("--batches", _.toInt))
        case "--batch-side" => batchSide = num("--batch-side", _.toInt)
        case "--batch-mode" =>
          batchMode = value("--batch-mode")
          if (batchMode != "area" && batchMode != "nearest")
            throw CurateCli.CliUsageError(s"--batch-mode: area or nearest, got '$batchMode'")
        case "--batch-shards" => batchShards = num("--batch-shards", _.toInt)
        case "--strip-metadata" => stripMetadata = true
        case "--byte-exact" => byteExact = true
        case "--orientation" => orientation = true
        case "--decontam" => decontam = Some(value("--decontam"))
        case "--decontam-radius" =>
          decontamRadius = num("--decontam-radius", _.toInt)
        case "--semantic" => semantic = Some(value("--semantic"))
        case "--semantic-min" => semanticMin = num("--semantic-min", _.toDouble)
        case "--semantic-planes" =>
          semanticPlanes = num("--semantic-planes", _.toInt)
        case "--semantic-bands" =>
          semanticBands = num("--semantic-bands", _.toInt)
        case "--caption-cap" => captionCap = Some(num("--caption-cap", _.toInt))
        case "--caption-salts" => captionSalts = num("--caption-salts", _.toInt)
        case "--split" =>
          splitSpec = Some(CurateCli.parseSplitSpec(value("--split")))
        case flag if flag.startsWith("--") =>
          throw CurateCli.CliUsageError(s"unknown flag: $flag")
        case p => pos :+= p
      }
      i += 1
    }
    if (pos.length != 2)
      throw CurateCli.CliUsageError("input-parquet and output-dir are required")
    if (semanticPlanes < 1 || semanticPlanes > graft.ops.Similarity.MaxPlanes)
      throw CurateCli.CliUsageError(
        s"--semantic-planes must be in [1, ${graft.ops.Similarity.MaxPlanes}]")
    val Seq(in, outDir) = pos.toSeq
    // the LSH planes are `dims` wide, so one run hashes one embedding
    // width: the distinct positive widths of the whole --semantic input,
    // checked before any audit is written (empty or null vectors have no
    // width and pass through the rung unclustered)
    val semanticDims = semantic.flatMap { path =>
      val widths = spark.read.parquet(path)
        .select(size(col("image_emb")).as("d")).filter(col("d") > 0)
        .agg(sort_array(collect_set(col("d")))).head().getSeq[Int](0)
      if (widths.length > 1)
        throw CurateCli.CliUsageError(
          s"--semantic: mixed embedding widths ${widths.mkString(", ")}")
      widths.headOption
    }
    def audit(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/audit/$name")

    val pairs = spark.read.parquet(in)
    val cols = pairs.columns.toSeq
    val nInput = pairs.count()
    // each stage's survivors are bound as a flat relation (see StageBindings)
    val bind = new StageBindings

    // 0. optional byte-exact dedup — sha-256 content identity BEFORE any
    // decode: byte-identical copies (the same CDN asset crawled from many
    // pages) carry identical content, so the minimum image_id wins with
    // no quality ranking, and every copy collapsed here skips the decode
    // the gate ladder below pays per row. Only (digest, id) rides the
    // dedup shuffle; NULL-bytes rows pass through to the undecodable gate.
    val preDeduped = if (!byteExact) pairs else {
      // semantics ≡ Multimodal.byteExactDedup (kept set spec-pinned); the
      // inline form exists because the CLI also owes the drop AUDIT: one
      // winners pass (slim (digest, id) shuffle), then ONE left join whose
      // bound keep verdict feeds both the audit and the survivors
      val winners = Multimodal.byteExactWinners(pairs, "bytes", "image_id")
        .select(col("image_id"), lit(true).as("__w"))
      val flagged = bind(pairs.join(winners, Seq("image_id"), "left")
        .withColumn("__keep", col("bytes").isNull || coalesce(col("__w"), lit(false))))
      audit(flagged.filter(!col("__keep")).select(col("image_id")),
        "dropped_byte_exact")
      flagged.filter(col("__keep")).drop("__w", "__keep")
    }
    val nByte = if (byteExact) preDeduped.count() else nInput

    // 1. pair gates — stateless ladder, audit carries the first failing
    // reason per dropped pair. The stats-retaining variant: the gate pass
    // decodes every row anyway, and the DECODED dimensions (not the
    // recorded w/h, which are untrusted server metadata — a row lying
    // about its resolution must not win its phash group) are the quality
    // the dedup stages below rank on. Bound once, so the audit and the
    // survivors share one decode per row.
    val annotated = bind(Multimodal.pairReasonsWithStats(preDeduped, minTokens,
      maxTokens, minAlpha, minW, minH, maxAspect, minEntropy))
    audit(annotated.filter(col("reason").isNotNull)
      .select(col("image_id"), col("reason")), "dropped_gates")
    val gated = annotated.filter(col("reason").isNull)
      .withColumn("__dq",
        col("__s.width").cast("long") * col("__s.height").cast("long"))
      .drop("reason", "__s")
    val nGates = gated.count()

    // 1b. optional CLIP-score alignment gate: scores come from an
    // inference-output parquet keyed by image_id — only the slim
    // (image_id, embeddings) columns ride the scoring join; the payload
    // bytes re-attach to the surviving ids by semi-join, the same
    // bytes-off-the-shuffle discipline as every other stage. A pair
    // MISSING from the inference output is unscorable → dropped with a
    // null alignment in the audit (the gate's null-fails-the-filter
    // contract, Multimodal.alignmentGate).
    val aligned = align match {
      case None => gated
      case Some(path) =>
        val emb = spark.read.parquet(path)
          .select(col("image_id"), col("image_emb"), col("caption_emb"))
        val scoredIds = gated.select(col("image_id"))
          .join(emb, Seq("image_id"), "left")
        val (keptIds, dropped) = Multimodal.alignmentGate(
          scoredIds, "image_emb", "caption_emb", alignMin)
        audit(dropped.select(col("image_id"), col("alignment")),
          "dropped_alignment")
        bind(gated.join(keptIds.select("image_id"), Seq("image_id"), "left_semi"))
    }
    val nAlign = aligned.count()

    // 1c. optional benchmark decontamination — runs BEFORE dedup so a
    // contaminated row can never become its phash group's keep-best
    // winner. Signature space only: the corpus side contributes its slim
    // (image_id, stored-phash) projection, the eval side is the cheap
    // probe of the pigeonhole join (benchmarks are tiny vs a crawl), and
    // the drop re-attaches by anti-join — payload bytes ride nothing.
    // Eval ids are synthesized under the reserved `__eval:` prefix.
    val decontamed = decontam match {
      case None => aligned
      case Some(path) =>
        val evalSigs = spark.read.parquet(path)
          .select(col("phash").cast("long").as("phash")).distinct()
          .select(concat(lit("__eval:"), col("phash")).as("image_id"),
            col("phash"))
        // bound: the pigeonhole candidate join feeds BOTH the audit
        // write and the anti-join — unbound it runs twice
        val flagged = bind(Multimodal.imageDecontaminate(
          aligned.select(col("image_id"), col("phash")), evalSigs,
          "image_id", "phash", decontamRadius))
        audit(flagged, "dropped_decontam")
        bind(aligned.join(flagged.select("image_id"), Seq("image_id"), "left_anti"))
    }
    val nDecontam = if (decontam.isDefined) decontamed.count() else nAlign

    // signature space for the dedup stages: the stored phash, or
    // (--orientation) the orientation hash set computed from the bytes —
    // mirrored/rotated re-posts share the canonical value (array min), so
    // they collapse in the exact stage, and their FULL 8-hash sets feed
    // the near-dup candidate join (lossy-robust — the canonical min alone
    // is unstable under re-encode perturbation). One extra decode per
    // gated row, flag-gated; only the slim (id, 8×long) relation is
    // bound — the payload bytes are never pinned twice.
    val sigMap =
      if (!orientation) null
      else bind(decontamed.select(col("image_id"),
        graft.functions.ImageFunctions.phash_orientations(col("bytes"))
          .as("__orients")))
    val sigd =
      if (!orientation) decontamed.withColumn("__dsig", col("phash"))
      else decontamed.join(
        sigMap.select(col("image_id"), array_min(col("__orients")).as("__dsig")),
        Seq("image_id"))

    // 2. exact signature dedup: keep the best-quality row per signature
    // (quality = DECODED pixel count; ties → max image_id, deterministic)
    val q = col("__dq")
    val winners = sigd.groupBy(col("__dsig").as("__ph"))
      .agg(max(struct(q.as("__q"), col("image_id").as("__id"))).as("__w"))
      .select(col("__w.__id").as("image_id"))
    val exact = bind(sigd.join(winners, Seq("image_id"), "left_semi"))
    audit(sigd.join(winners, Seq("image_id"), "left_anti")
      .select(col("image_id"), col("phash")), "dropped_exact")
    val nExact = exact.count()

    // 3. near-dup clustering over DISTINCT signatures. The stage also
    // yields the dedup-group LABEL each survivor represents (`__lbl`: its
    // near-dup component, or its own signature when clustering is off) —
    // the key --split assigns eval membership on, so near-duplicates the
    // configured radius can see never straddle a train/eval boundary.
    val kept0 = nearDup match {
      case None => exact.withColumn("__lbl", col("__dsig"))
      case Some(h) =>
        val sigs = exact.select(col("__dsig"))
        // candidate generation: single-hash hamming join in default mode;
        // in orientation mode each surviving signature contributes its
        // FULL 8-orientation hash set (8 slim rows), so a lossy rotated
        // re-post meets its partner through the aligned orientation
        val cand0 =
          if (!orientation) Dedup.hammingPairs(sigs, "__dsig", "__dsig", h)
          else {
            val sigRel = exact.select(col("image_id"), col("__dsig"))
              .join(sigMap, Seq("image_id"))
              .select(col("__dsig"), explode(col("__orients")).as("__oh"))
            Multimodal.closestOrientation(Dedup.hammingPairs(sigRel, "__dsig", "__oh", h))
          }
        val cand =
          if (psnrDb <= 0) cand0.select("d1", "d2")
          else Multimodal.psnrVerified(cand0, exact, "__dsig", "bytes", psnrDb, orientation)
            .select("d1", "d2")
        // bound: the candidate-join + components subtree feeds the audit
        // write, the keep join, and (with --caption-cap or --split)
        // further passes over kept0 — one execution of the slim
        // (signature, component) relation, not one per consumer
        val groups = bind(Dedup.canonicalByQuality(sigs, "__dsig", cand,
          exact.select(col("__dsig"), q.as("__q")), "__q"))
        // audit column named for what the value IS: the stored phash in
        // default mode, the canonical hash under --orientation (naming it
        // "phash" there would invite a join back against the input
        // table's phash column that can never match)
        val auditSigName = if (orientation) "phash_canonical" else "phash"
        audit(groups.filter(col("is_kept") === 0)
          .select(col("__dsig").as(auditSigName), col("component")),
          "dropped_near_dup")
        exact.join(groups.filter(col("is_kept") === 1)
          .select(col("__dsig"), col("component").as("__lbl")), Seq("__dsig"))
    }

    // 3a-bis. optional semantic dedup rung (SemDeDup) — the identity no
    // pixel rung can see: the same CONTENT re-rendered with different
    // pixels (crops, scaled re-renders, different encoders) clusters by
    // embedding cosine. LSH-bucketed candidates verified by exact cosine
    // (ids-first: embeddings re-attach to candidates only), components in
    // 64-bit surrogate-id space (string image_ids surrogate through
    // xxhash64 — the repo-wide signature-identity convention — because
    // the components engine labels in int64 space), keep-best by DECODED
    // pixels like every other rung. Rows missing from the inference
    // output pass through unclustered: absence of an embedding is not
    // evidence of uniqueness, and dedup must not silently drop them.
    val nAfterNear = if (semantic.isDefined) kept0.count() else -1L
    val semDeduped = semantic match {
      case None => kept0
      case Some(path) =>
        // duplicate inference rows would duplicate component rows and
        // audit output — restore the operator's distinct-id contract at
        // the boundary. The pick is DETERMINISTIC (max over the array
        // ordering), not dropDuplicates' partition-order roulette: two
        // inference passes appended with conflicting embeddings must
        // yield the same clustering on every run
        val emb = spark.read.parquet(path)
          .select(col("image_id"), col("image_emb"))
          .groupBy("image_id").agg(max("image_emb").as("image_emb"))
        // bound: this slim (id, surrogate, embedding) relation appears in
        // the LSH signature build, both candidate re-attach joins, the
        // components corpus — one shuffle join, not 4
        val scored = bind(kept0.select(col("image_id"))
          .withColumn("__sid", xxhash64(col("image_id")))
          .join(emb, Seq("image_id")))
        semanticDims match {
          case None =>
            // nothing scorable — still write the (empty) audit: a
            // governance consumer must be able to distinguish "stage ran,
            // found nothing" from "stage never ran"
            import spark.implicits._
            audit(Seq.empty[(String, Long)].toDF("image_id", "component"),
              "dropped_semantic")
            kept0
          case Some(dims) =>
            // banded LSH: a SINGLE 16-plane band catches a cos-0.95 pair
            // with probability ~0.18 — amplification is what makes the
            // recall the help text promises (8 planes × 8 bands ≈ 0.99)
            val pairs = graft.ops.Similarity.lshBandedNearDupPairs(
              scored.select(col("__sid"), col("image_emb")),
              "__sid", "image_emb", semanticPlanes, semanticBands, dims,
              semanticMin)
            val quality = kept0.select(col("image_id"), col("__dq"))
              .withColumn("__sid", xxhash64(col("image_id")))
              .select(col("__sid"), col("__dq").cast("double").as("__q"))
            val groups = bind(Dedup.canonicalByQuality(
              scored.select(col("__sid")), "__sid", pairs, quality, "__q",
              "v1", "v2"))
            val droppedIds = scored.select(col("image_id"), col("__sid"))
              .join(groups.filter(col("is_kept") === 0), Seq("__sid"))
            audit(droppedIds.select(col("image_id"), col("component")),
              "dropped_semantic")
            kept0.join(droppedIds.select("image_id"), Seq("image_id"),
              "left_anti")
        }
    }
    val nSem = if (semantic.isDefined) semDeduped.count() else -1L

    // 3b. optional caption-frequency cap — AFTER dedup on purpose: the cap
    // rations DISTINCT surviving images per caption; letting byte- or
    // phash-copies consume the budget would re-admit the boilerplate the
    // dedup stages exist to collapse. The cap runs on the slim
    // (image_id, caption) projection and survivors re-attach by semi-join
    // — payload bytes never ride the caption shuffle.
    val (capped, nNear) = captionCap match {
      case None => (semDeduped, -1L)
      case Some(n) =>
        val before = if (nSem >= 0) nSem else semDeduped.count()
        val cc = Multimodal.captionCap(
          semDeduped.select(col("image_id"), col("caption")),
          "image_id", "caption", n, captionSalts)
        audit(cc.filter(!col("kept"))
          .select(col("image_id"), col("caption_freq")), "dropped_caption_cap")
        (semDeduped.join(cc.filter(col("kept")).select("image_id"),
          Seq("image_id"), "left_semi"), before)
    }
    val kept = capped.drop("__dsig")
    // optional privacy scrub at the write: strip_image_metadata preserves
    // the pixel stream byte-for-byte, so it commutes with every gate,
    // phash, and quality stat above — applying it here (once, on the
    // survivors) is both the cheapest and the provably-equivalent placement
    // optional leakage-safe split column: the assignment hashes the dedup-
    // group label (never the row id — id-hash splits are exactly the leak
    // Dedup.leakageSafeSplit documents), so whatever near-dup evidence the
    // run had is structurally incapable of straddling an eval boundary
    val curated0 = splitSpec match {
      case None => kept.select(cols.map(col): _*)
      case Some(spec) => kept.select(cols.map(col) :+
        Dedup.splitAssign(col("__lbl"), spec).as("split"): _*)
    }
    val curated =
      if (!stripMetadata) curated0
      else curated0.withColumn("bytes",
        graft.functions.ImageFunctions.strip_image_metadata(col("bytes")))
    // with --split, lay the table out by split (split=train/ ...): a
    // training consumer reads exactly one side and the partition column
    // prunes at the path level — no job ever scans the other side's files
    val curatedWriter = curated.write.mode("overwrite")
    (if (splitSpec.isDefined) curatedWriter.partitionBy("split")
     else curatedWriter).parquet(s"$outDir/curated")
    val nKept = curated.count()
    bind.release()

    // 4. optional training-batch materialization over the CURATED pairs:
    // header-dims banding + pinned resample + complete batches only (see
    // Multimodal.trainingBatches for the shuffle discipline). Captions ride
    // the final id-join so each batch row is a complete training pair.
    val nBatchRows = batches match {
      case None => -1L
      case Some(bs) =>
        val s = batchSide
        val targets = Map(
          "tall" -> ((s * 3 / 4, s)), "square" -> ((s, s)),
          "wide" -> ((s, s * 3 / 4)), "ultrawide" -> ((s * 3 / 2, s * 3 / 4)))
        val curatedBack = spark.read.parquet(s"$outDir/curated")
        val b = Multimodal.trainingBatches(curatedBack, "image_id", "bytes",
          targets, bs, shards = batchShards, resampleMode = batchMode)
          .join(curatedBack.select(col("image_id"), col("caption")), Seq("image_id"))
        // directory per band: a training loader consumes one fixed-shape
        // band at a time, and the band column prunes at the path level
        b.write.mode("overwrite").partitionBy("band")
          .parquet(s"$outDir/batches")
        spark.read.parquet(s"$outDir/batches").count()
    }

    // split receipt: bounded by the number of named splits, read off the
    // written table's slim split column
    // nKept guard: an everything-filtered corpus under partitionBy writes
    // only _SUCCESS (no schema-bearing file), so the read-back would fail
    // — the receipt instead says zero for every named split (still
    // distinguishable from "--split never requested")
    val splitCounts = splitSpec match {
      case None => Map.empty[String, Long]
      case Some(spec) if nKept == 0 => spec.map(_._1 -> 0L).toMap
      case Some(_) => CurateCli.splitCountsOf(spark, s"$outDir/curated")
    }

    val afterNear =
      if (nAfterNear >= 0) nAfterNear else if (nNear >= 0) nNear else nKept
    val s = ImageCurateSummary(nInput, nByte - nGates, nDecontam - nExact,
      nExact - afterNear, nKept, nBatchRows,
      if (align.isDefined) nGates - nAlign else -1L,
      if (byteExact) nInput - nByte else -1L,
      if (nNear >= 0) nNear - nKept else -1L,
      splitCounts,
      if (decontam.isDefined) nAlign - nDecontam else -1L,
      if (semantic.isDefined) nAfterNear - nSem else -1L)
    val batchJson = if (s.batchRows >= 0) s""","batch_rows":${s.batchRows}""" else ""
    val alignJson =
      if (s.droppedAlignment >= 0) s""","dropped_alignment":${s.droppedAlignment}"""
      else ""
    val byteJson =
      if (s.droppedByteExact >= 0) s""","dropped_byte_exact":${s.droppedByteExact}"""
      else ""
    val capJson =
      if (s.droppedCaptionCap >= 0) s""","dropped_caption_cap":${s.droppedCaptionCap}"""
      else ""
    val deconJson =
      if (s.droppedDecontam >= 0) s""","dropped_decontam":${s.droppedDecontam}"""
      else ""
    val semJson =
      if (s.droppedSemantic >= 0) s""","dropped_semantic":${s.droppedSemantic}"""
      else ""
    val splitJson = CurateCli.splitsJson(s.splitCounts)
    println(s"""{"input":${s.input}$byteJson,"dropped_gates":${s.droppedGates}$alignJson$deconJson,""" +
      s""""dropped_exact":${s.droppedExact},"dropped_near_dup":${s.droppedNearDup}$semJson$capJson,""" +
      s""""kept":${s.kept}$batchJson$splitJson}""")
    s
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .appName("graft-image-curate")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32"))
      // image bytes are KB-scale payload columns — cap the vectorized
      // reader's column batch (see BENCH.md round 4 / SCALE.md §7a-bis)
      .config("spark.sql.parquet.columnarReaderBatchSize",
        sys.env.getOrElse("SPARK_GRAFT_PARQUET_BATCH", "256"))
      .getOrCreate()
    try {
      run(spark, args)
      ()
    } catch {
      case e: CurateCli.CliUsageError =>
        System.err.println(e.getMessage); System.err.println(Usage); sys.exit(2)
      case e: Exception =>
        System.err.println(s"image-curate failed: $e"); sys.exit(1)
    } finally spark.stop()
  }
}
