package graft.ops

import graft.functions.ImageKernels
import graft.sources.SiteGraph
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window

/** Multimodal payload row: media as an opaque binary column plus typed
  * metadata — the pattern the engine uses for any non-text modality at
  * 100 TB (images here; audio/video identically shaped). */
final case class MediaRow(
    media_id: String,
    kind: String, // image | audio | video
    bytes: Array[Byte],
    meta: Map[String, String])

final case class MediaMeta(
    media_id: String,
    kind: String,
    n_bytes: Long,
    width: Int,     // -1 when not applicable / undecodable
    height: Int,
    durationMs: Long, // -1 for images
    decoder: String)

final case class MediaFeature(
    media_id: String,
    feature: Array[Float])

/** Per-image quality statistics (real `javax.imageio` decode): the
  * image-side analog of the text quality gates. Luma is the integer
  * BT.601 approximation `(299r + 587g + 114b) / 1000` (0..255);
  * `entropy_bits` is Shannon entropy over the 256-bin luma histogram —
  * 0 for a constant image, 1 for an exact two-tone split, ~8 for noise.
  * Undecodable payloads report `decodable = false` with -1 dimensions. */
final case class ImageQuality(
    media_id: String,
    decodable: Boolean,
    width: Int,
    height: Int,
    n_bytes: Long,
    aspect: Double, // max(w,h)/min(w,h); 0 when undecodable
    mean_luma: Double,
    stddev_luma: Double,
    entropy_bits: Double)

/** Batch operators over binary media columns, as `mapPartitions` programs
  * (the Scala analog of `mapInPandas`): the partition iterator is the batch
  * boundary, decode state is per-partition, and nothing ever collects to the
  * driver.
  *
  * Decoders: images are REAL (JDK `javax.imageio` — png/jpg/bmp). Audio and
  * video codecs do not ship in this environment, so their decode is a
  * clearly-marked deterministic STUB (seeded from the bytes) — the
  * Spark-side plumbing (schema, partitioning, batch shape, feature
  * dimensionality) is real and tested, and a codec-backed decoder can be
  * dropped into [[stubProbe]] without touching the dataflow.
  */
object Multimodal {

  /** STUB: deterministic fake probe for audio/video payloads (no codecs in
    * the sandbox). Replace with a real demuxer probe in production. */
  private def stubProbe(kind: String, bytes: Array[Byte]): (Int, Int, Long) = {
    val h = SiteGraph.mix(0x5eedL, bytes.length.toLong,
      if (bytes.isEmpty) 0L else bytes(0).toLong)
    kind match {
      case "audio" => (-1, -1, 1000L + (h >>> 33) % 60000L)
      case "video" =>
        (320 + ((h >>> 20) % 4L).toInt * 160, 240 + ((h >>> 30) % 4L).toInt * 120,
          2000L + (h >>> 33) % 120000L)
      case _ => (-1, -1, -1L)
    }
  }

  /** Decode / probe metadata per row — images decoded for real. */
  def decodeMeta(media: Dataset[MediaRow]): Dataset[MediaMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        m.kind match {
          case "image" =>
            val img = try ImageKernels.decode(m.bytes) catch { case _: Exception => null }
            if (img == null) MediaMeta(m.media_id, m.kind, m.bytes.length, -1, -1, -1L, "imageio:failed")
            else MediaMeta(m.media_id, m.kind, m.bytes.length, img.getWidth, img.getHeight, -1L, "imageio")
          case k =>
            val (w, h, d) = stubProbe(k, m.bytes)
            MediaMeta(m.media_id, m.kind, m.bytes.length, w, h, d, s"stub:$k")
        }
      }
    }
  }

  /** Resize images to fit within (maxW, maxH); non-images pass through
    * untouched. Real for images (Graphics2D bilinear). */
  def resizeImages(media: Dataset[MediaRow], maxW: Int, maxH: Int): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        if (m.kind != "image") m
        else {
          val img = try ImageKernels.decode(m.bytes) catch { case _: Exception => null }
          if (img == null || (img.getWidth <= maxW && img.getHeight <= maxH)) m
          else {
            val scale = math.min(maxW.toDouble / img.getWidth, maxH.toDouble / img.getHeight)
            val (nw, nh) = (math.max(1, (img.getWidth * scale).toInt),
              math.max(1, (img.getHeight * scale).toInt))
            val out = new java.awt.image.BufferedImage(nw, nh,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            val g = out.createGraphics()
            g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(img, 0, 0, nw, nh, null)
            g.dispose()
            m.copy(bytes = ImageKernels.encode(out, "png"),
              meta = m.meta + ("resized" -> s"${nw}x$nh"))
          }
        }
      }
    }
  }

  private val FeatureDim = 64

  /** Fixed-dimension feature vector per row: images get a REAL 8×8 grayscale
    * thumbnail embedding; audio/video get a deterministic stub embedding of
    * the same shape (so downstream ANN plumbing is exercised end to end). */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeature] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        val vec: Array[Float] = m.kind match {
          case "image" =>
            val img = try ImageKernels.decode(m.bytes) catch { case _: Exception => null }
            if (img == null) Array.fill(FeatureDim)(0f)
            else {
              val out = new Array[Float](FeatureDim)
              var gy = 0
              while (gy < 8) {
                var gx = 0
                while (gx < 8) {
                  val x = math.min(img.getWidth - 1, gx * img.getWidth / 8)
                  val y = math.min(img.getHeight - 1, gy * img.getHeight / 8)
                  val rgb = img.getRGB(x, y)
                  out(gy * 8 + gx) = (0.299f * ((rgb >> 16) & 0xff) +
                    0.587f * ((rgb >> 8) & 0xff) + 0.114f * (rgb & 0xff)) / 255f
                  gx += 1
                }
                gy += 1
              }
              out
            }
          case k =>
            Array.tabulate(FeatureDim) { i =>
              (SiteGraph.unit(SiteGraph.mix(0xfea7L, m.bytes.length.toLong, i.toLong)) * 2 - 1).toFloat
            }
        }
        MediaFeature(m.media_id, vec)
      }
    }
  }

  /** Deterministic image MediaRow for id (the q25 corpus binding). */
  def mediaRowFor(id: Long): MediaRow = {
    val im = graft.sources.ImageGen.imageFor(id, seed = 42L, dupEvery = 8)
    MediaRow(id.toString, "image", im.bytes, Map("fmt" -> im.fmt))
  }

  /** Winners of byte-exact payload dedup: one row per distinct byte
    * content, `(idCol, copies)`. Content identity is `sha2(bytes, 256)` —
    * a cryptographic digest, so hash-group = byte-group with no verify
    * pass (the collision probability is below hardware-error rates; the
    * LAION-class pipelines dedup on exactly this identity before anything
    * decodes). The winner per group is the MINIMUM id: byte-identical
    * copies are indistinguishable in content, so no quality ranking
    * applies and the minimum is deterministic under any partitioning.
    *
    * Scale shape: the digest is computed in the map-side projection
    * (codegen'd built-in), so only `(64-char digest, id)` rides the ONE
    * hash-aggregation shuffle — payload bytes never move. This is the
    * cheapest rung of the image dedup ladder: in a real crawl the most
    * common duplicate class is the same CDN asset referenced from many
    * pages, and every copy collapsed here skips the decode the gate /
    * phash stages would have paid. Rows with NULL bytes are excluded —
    * "no payload" rows are not byte-identical content and belong to the
    * undecodable gate, not the dedup. */
  def byteExactWinners(df: DataFrame, bytesCol: String, idCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    df.filter(col(bytesCol).isNotNull)
      .groupBy(sha2(col(bytesCol), 256).as("__digest"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("copies"))
      .drop("__digest")
  }

  /** [[byteExactWinners]] applied as a filter: the input rows minus the
    * non-winner byte-identical copies. NULL-bytes rows pass through
    * unchanged (they carry no content to be a copy OF; downstream gates
    * own them). */
  def byteExactDedup(df: DataFrame, bytesCol: String, idCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val winners = byteExactWinners(df, bytesCol, idCol).select(col(idCol))
    df.filter(col(bytesCol).isNull)
      .unionByName(df.filter(col(bytesCol).isNotNull)
        .join(winners, Seq(idCol), "left_semi"))
  }

  /** Near-duplicate image pairs by perceptual-hash hamming distance: the
    * 64-bit phash column fed through [[Dedup.hammingPairs]]' pigeonhole
    * join — identical images collapse at hamming 0 (the MERGE dedup key),
    * re-encoded / lightly edited variants within the radius. Feed the
    * result to [[Dedup.dedupComponents]] for canonical-image selection. */
  def phashNearDup(images: DataFrame, idCol: String, maxHamming: Int = 3,
      maxBlockPopulation: Long = Long.MaxValue): DataFrame =
    Dedup.hammingPairs(images, idCol, "phash", maxHamming, bits = 64,
      maxBlockPopulation = maxBlockPopulation)

  /** PSNR-verified near-duplicate image pairs: phash pigeonhole candidates
    * ([[phashNearDup]]) re-checked against the DECODED PIXELS — a pair
    * survives only if PSNR ≥ `minPsnrDb` (the payload contract's ≥ 40 dB
    * allclose invariant as an operator). The candidate stage is the
    * bucketed hamming join over (id, phash) ONLY; payload bytes re-attach
    * to the surviving candidate pairs by two id equi-joins afterwards, so
    * bytes never ride the bucket shuffle and each decode pays off against
    * a real candidate (the LSH→verified-cosine pattern, applied to
    * pixels). Size-mismatched or undecodable candidates PSNR to NaN and
    * drop. A wider `maxHamming` only costs more verification decodes,
    * never false positives — the pixel check owns precision. Feed the
    * verified pairs to [[graft.ops.Dedup.dedupComponents]] /
    * [[graft.ops.Dedup.canonicalByQuality]] for canonical selection.
    *
    * `dhashMaxHamming ≥ 0` adds a conjunctive SECOND-signature gate: the
    * projection computes phash + dhash from ONE decode (`image_hashes`),
    * and phash candidates whose dhash hamming exceeds the gate drop in
    * SIGNATURE space — before payload bytes attach and before any decode
    * is paid on the pair. Smooth distinct gradients that collide in the
    * phash's low-frequency DCT block (they enter the candidate set and
    * today cost a full PSNR verification each) have near-random gradient
    * signs, so the dhash gate removes them for the price of a 64-bit XOR.
    * Precision is still owned by the pixel check; the dhash gate, like the
    * phash radius, only trades recall for verification cost — a true
    * re-encode/light edit preserves gradient directions (spec-pinned). */
  def verifiedPhashDup(images: DataFrame, idCol: String, bytesCol: String,
      maxHamming: Int = 6, minPsnrDb: Double = 40.0,
      maxBlockPopulation: Long = Long.MaxValue,
      dhashMaxHamming: Int = -1): DataFrame = {
    import org.apache.spark.sql.functions._
    val ph =
      if (dhashMaxHamming < 0)
        images.select(col(idCol),
          graft.functions.ImageFunctions.phash64(col(bytesCol)).as("phash"))
      else images
        .select(col(idCol),
          graft.functions.ImageFunctions.image_hashes(col(bytesCol)).as("__hs"))
        .select(col(idCol), col("__hs.phash").as("phash"),
          col("__hs.dhash").as("dhash"))
        // the signature relation feeds THREE consumers (phash candidate
        // blocks + the two dhash sides); eager localCheckpoint pays the
        // one decode pass exactly once for a slim (id, 2×long) relation
        .localCheckpoint(true)
    val cand0 = phashNearDup(
      ph.select(col(idCol), col("phash")), idCol, maxHamming, maxBlockPopulation)
    val cand =
      if (dhashMaxHamming < 0) cand0
      else CandidatePairs.attach(cand0, ph, idCol, "dhash")
        .filter(bit_count(col("dhash1").bitwiseXOR(col("dhash2"))) <= dhashMaxHamming)
        .drop("dhash1", "dhash2")
    psnrVerified(cand, images, idCol, bytesCol, minPsnrDb, oriented = false)
  }

  /** Orientation-dup pairs: the [[verifiedPhashDup]] construction with
    * the signature set replaced by ALL 8 dihedral orientation phashes
    * (`phash_orientations` — ONE decode per image) and the verifier by
    * the orientation-aware PSNR (`image_psnr_oriented` — max over the 8
    * orientations of the right image). Catches the re-post class plain
    * phash dedup is blind to: the same image mirrored or rotated, stored
    * under different bytes.
    *
    * Candidates come from hamming-joining the EXPLODED orientation
    * hashes, not a single canonical value: a LOSSY rotated re-post
    * perturbs each orientation hash by a few bits, so the pair meets
    * through its aligned orientation — whereas min-canonicalization is
    * unstable under perturbation (the re-encode can flip WHICH
    * orientation is the numeric min, landing the two images on
    * uncorrelated hashes and silently losing the pair). Because element 0
    * of the set is the plain phash, the candidate set — and, since
    * oriented PSNR ≥ plain PSNR (identity is one of the 8) — the verified
    * result is a strict superset of [[verifiedPhashDup]] (without the
    * dhash gate) at equal radius: run it INSTEAD of, not after, the plain
    * pass when orientation dups matter.
    *
    * Same scale shape: candidates are a bucketed hamming join over
    * (id, hash) rows — 8 slim rows per image instead of 1, still 16
    * bytes each; bytes re-attach to candidate pairs by id equi-joins;
    * undecodable/odd-dimensioned candidates PSNR to NaN and drop;
    * precision is owned by the pixel check. */
  def verifiedOrientationDup(images: DataFrame, idCol: String, bytesCol: String,
      maxHamming: Int = 6, minPsnrDb: Double = 40.0,
      maxBlockPopulation: Long = Long.MaxValue): DataFrame = {
    import org.apache.spark.sql.functions._
    val sig = images.select(col(idCol),
      explode(graft.functions.ImageFunctions.phash_orientations(col(bytesCol)))
        .as("__oh"))
    psnrVerified(closestOrientation(Dedup.hammingPairs(sig, idCol, "__oh", maxHamming,
        maxBlockPopulation = maxBlockPopulation)),
      images, idCol, bytesCol, minPsnrDb, oriented = true)
  }

  /** Incremental [[verifiedPhashDup]]: the verified pairs of
    * `corpus ∪ delta` that TOUCH the delta (a new image batch against the
    * standing snapshot table), candidate generation via
    * [[graft.ops.Dedup.hammingPairsIncremental]] — cost ∝ delta × posting
    * lists, never corpus². Delta phashes are computed here; the standing
    * corpus should supply its stored `phash` column (`phashCol`) so the
    * daily increment never re-decodes the corpus — corpus bytes are read
    * only for the candidate pairs' PSNR checks. Equals the batch
    * [[verifiedPhashDup]] restricted to delta-touching pairs (spec-pinned).
    * Ids must be distinct across the inputs. A delta that ALREADY carries
    * a phash column (the streaming curation path computed one via
    * `image_sig`) passes its name as `deltaPhashCol` to skip the
    * per-batch re-decode. */
  def verifiedPhashDupIncremental(corpus: DataFrame, delta: DataFrame,
      idCol: String, bytesCol: String, phashCol: String = "phash",
      maxHamming: Int = 6, minPsnrDb: Double = 40.0,
      maxBlockPopulation: Long = Long.MaxValue,
      deltaPhashCol: String = ""): DataFrame = {
    import org.apache.spark.sql.functions._
    val deltaSig =
      if (deltaPhashCol.nonEmpty) col(deltaPhashCol)
      else graft.functions.ImageFunctions.phash64(col(bytesCol))
    verifiedDupIncremental(corpus, delta, corpus.select(col(idCol), col(phashCol).as("__h")),
      delta.select(col(idCol), deltaSig.as("__h")), idCol, bytesCol, maxHamming,
      minPsnrDb, maxBlockPopulation, oriented = false)
  }

  /** [[verifiedOrientationDup]], incrementally: delta vs a standing corpus
    * whose 8-element ORIENTATION hash arrays are already stored
    * (`orientsCol` — the corpus never re-decodes; persist
    * `phash_orientations` at ingest the way the snapshot table persists
    * `phash`, 64 bytes/row). The delta's array is computed from its bytes
    * unless `deltaOrientsCol` names a precomputed column. Candidates
    * hamming-join the EXPLODED arrays (the lossy-robust signature set —
    * see [[verifiedOrientationDup]] for why the canonical min alone loses
    * perturbed pairs); verification is the orientation-aware PSNR. Same
    * scale shape as the plain incremental path. */
  def verifiedOrientationDupIncremental(corpus: DataFrame, delta: DataFrame,
      idCol: String, bytesCol: String, orientsCol: String = "phash_orients",
      maxHamming: Int = 6, minPsnrDb: Double = 40.0,
      maxBlockPopulation: Long = Long.MaxValue,
      deltaOrientsCol: String = ""): DataFrame = {
    import org.apache.spark.sql.functions._
    val deltaOrients =
      if (deltaOrientsCol.nonEmpty) col(deltaOrientsCol)
      else graft.functions.ImageFunctions.phash_orientations(col(bytesCol))
    verifiedDupIncremental(corpus, delta,
      corpus.select(col(idCol), explode(col(orientsCol)).as("__h")),
      delta.select(col(idCol), explode(deltaOrients).as("__h")), idCol, bytesCol,
      maxHamming, minPsnrDb, maxBlockPopulation, oriented = true)
  }

  /** Both incremental verified forms over `(idCol, __h)` signature rows
    * (one per image, or one per orientation when `oriented`). The
    * candidate relation is signature-space SMALL by construction (bounded
    * by the duplicate density × delta size, and capped by
    * maxBlockPopulation), so it is bound eagerly and the bytes attach
    * semi-join-prunes the payload scan to candidate ids — ONE pruned pass
    * over the payload column instead of two full ones. */
  private def verifiedDupIncremental(corpus: DataFrame, delta: DataFrame,
      corpusSig: DataFrame, deltaSig: DataFrame, idCol: String, bytesCol: String,
      maxHamming: Int, minPsnrDb: Double, maxBlockPopulation: Long,
      oriented: Boolean): DataFrame = {
    import org.apache.spark.sql.functions._
    val hp = Dedup.hammingPairsIncremental(corpusSig, deltaSig, idCol, "__h",
      maxHamming, bits = 64, maxBlockPopulation = maxBlockPopulation)
    val cand = (if (oriented) closestOrientation(hp) else hp).localCheckpoint()
    val candIds = cand.select(col("d1").as(idCol))
      .unionByName(cand.select(col("d2").as(idCol))).distinct()
    val bytes = corpus.select(col(idCol), col(bytesCol))
      .unionByName(delta.select(col(idCol), col(bytesCol)))
      .join(candIds, Seq(idCol), "left_semi")
    psnrVerified(cand, bytes, idCol, bytesCol, minPsnrDb, oriented)
  }

  /** One candidate per image pair of orientation-hash pairs: different
    * orientation pairs can meet at different distances — keep the closest
    * (same-id pairs are already excluded by the kernel). */
  private[graft] def closestOrientation(hammingPairs: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    hammingPairs.groupBy("d1", "d2").agg(min(col("hamming")).as("hamming"))
  }

  /** The pixel verifier of every phash-family generator: payload bytes
    * attach to the `(d1, d2, hamming)` candidates by id, and a pair
    * survives iff its PSNR (orientation-aware when `oriented`) is
    * `>= minPsnrDb`. Output `(d1, d2, hamming, psnr_db)`. */
  private[graft] def psnrVerified(cand: DataFrame, bytes: DataFrame, idCol: String,
      bytesCol: String, minPsnrDb: Double, oriented: Boolean): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.functions.ImageFunctions.{image_psnr, image_psnr_oriented}
    val (b1, b2) = (col(bytesCol + "1"), col(bytesCol + "2"))
    CandidatePairs.attach(cand, bytes, idCol, bytesCol)
      .withColumn("psnr_db", if (oriented) image_psnr_oriented(b1, b2) else image_psnr(b1, b2))
      // Spark SQL orders NaN ABOVE every number, so `psnr_db >= min` alone
      // would admit size-mismatched/undecodable pairs — exclude explicitly
      .filter(!isnan(col("psnr_db")) && col("psnr_db") >= minPsnrDb)
      .select("d1", "d2", "hamming", "psnr_db")
  }

  /** Per-image quality stats — one decode + one histogram pass per row,
    * delegating to the shared [[ImageKernels.lumaStats]] kernel (also the
    * body of the codegen'd `image_stats` expression, so the typed and
    * column paths cannot diverge). See [[graft.ops.ImageQuality]] for the
    * exact luma/entropy definitions (pinned there because the q47 oracle
    * states them in closed form). */
  def imageQuality(media: Dataset[MediaRow]): Dataset[ImageQuality] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        val s =
          if (m.kind != "image")
            ImageKernels.LumaStats(decodable = false, -1, -1, 0.0, 0.0, 0.0, 0.0)
          else ImageKernels.lumaStats(m.bytes)
        ImageQuality(m.media_id, s.decodable, s.width, s.height, m.bytes.length,
          s.aspect, s.meanLuma, s.stddevLuma, s.entropyBits)
      }
    }
  }

  /** Image curation gate: drop undecodable, too-small, extreme-aspect and
    * near-constant (low-entropy) images — the standard pre-training image
    * filters. Returns (kept media, audit) where the audit carries one row
    * per dropped image with the FIRST failing reason (checked in the order
    * undecodable → too_small → extreme_aspect → low_entropy), mirroring
    * the text pipeline's per-stage audit relations. One decode per image;
    * the keep side is an anti-join on media_id, so payload bytes never
    * ride the quality shuffle. */
  def curateImages(media: Dataset[MediaRow], minW: Int = 32, minH: Int = 32,
      maxAspect: Double = 4.0, minEntropyBits: Double = 1.0)
      : (Dataset[MediaRow], DataFrame) = {
    import media.sparkSession.implicits._
    import org.apache.spark.sql.functions._
    // the gate audits IMAGE rows only; other modalities pass through
    val q = imageQuality(media.filter(_.kind == "image"))
    val audit = q.toDF().withColumn("reason",
        when(!org.apache.spark.sql.functions.col("decodable"), "undecodable")
          .when(col("width") < minW || col("height") < minH, "too_small")
          .when(col("aspect") > maxAspect, "extreme_aspect")
          .when(col("entropy_bits") < minEntropyBits, "low_entropy"))
      .filter(col("reason").isNotNull)
      .select("media_id", "reason", "width", "height", "aspect", "entropy_bits")
    val kept = media.join(audit.select("media_id"), Seq("media_id"), "left_anti")
      .as[MediaRow]
    (kept, audit)
  }

  /** Whitespace token count of a caption column (0 for null/blank) — the
    * unit the caption gates below are stated in. Pure column program. */
  def captionTokens(caption: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val trimmed = trim(caption)
    when(caption.isNull || length(trimmed) === 0, lit(0L))
      .otherwise(size(split(trimmed, "\\s+")).cast("long"))
  }

  /** Caption-side curation gate for image+caption training pairs (the
    * text half of LAION-style pair filtering): first failing reason or
    * null when the caption passes. Checked in order
    * missing → too_short → too_long → low_alpha, where `low_alpha` is
    * letters / non-whitespace-chars below `minAlphaRatio` (drops
    * digit/punctuation-soup captions). A pure column program — at 100 TB
    * this runs INSIDE the scan before any image byte is decoded, so pairs
    * with bad captions never pay the decoder. */
  def captionReason(caption: org.apache.spark.sql.Column, minTokens: Int = 3,
      maxTokens: Int = 128, minAlphaRatio: Double = 0.5)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val toks = captionTokens(caption)
    val letters = length(regexp_replace(caption, "[^A-Za-z]", ""))
    val nonspace = length(regexp_replace(caption, "\\s", ""))
    when(caption.isNull || length(trim(caption)) === 0, "caption_missing")
      .when(toks < minTokens, "caption_too_short")
      .when(toks > maxTokens, "caption_too_long")
      .when(letters.cast("double") / nonspace < minAlphaRatio, "caption_low_alpha")
  }

  /** Benchmark-image decontamination — the image counterpart of
    * [[TextOps.contamination]]: corpus rows whose perceptual signature
    * sits within `maxHamming` of ANY eval-set signature are flagged
    * (training on them turns the benchmark into training data — the
    * held-out score measures memorization, the exact failure eval-image
    * leakage audits keep finding in web-scraped pair corpora). Works over
    * any int64 signature column: stored phash, dhash, or the orientation
    * canonical hash (which also catches mirrored/rotated benchmark
    * re-posts).
    *
    * Candidates come from the kernel's eval mode over pigeonhole blocks
    * (eval signatures probe the corpus's; no eval–eval pair), so the join
    * cost is ∝ eval-set size — benchmarks are tiny relative to a training
    * corpus, exactly the asymmetry [[TextOps.contamination]] exploits —
    * and the corpus is never self-joined. Corpus and eval ids may overlap.
    * Returns one row per CONTAMINATED corpus id: (idCol, n_eval_hits,
    * min_hamming). */
  def imageDecontaminate(corpus: DataFrame, evalSet: DataFrame, idCol: String,
      sigCol: String, maxHamming: Int = 3,
      maxBlockPopulation: Long = Long.MaxValue): DataFrame = {
    import org.apache.spark.sql.functions._
    def blocks(sig: DataFrame) = Dedup.sigBlocks(sig, idCol, sigCol, maxHamming, bits = 64)
    Dedup.hammingVerified(CandidatePairs.tag(blocks(corpus), blocks(evalSet)), idCol,
        maxHamming, maxBlockPopulation, CandidatePairs.Eval)
      .groupBy(col("d1").as(idCol))
      .agg(count(lit(1)).as("n_eval_hits"),
        min("hamming").cast("long").as("min_hamming"))
  }

  /** Caption-frequency boilerplate control: identical captions are a
    * signature failure of web image+caption corpora — templated alt text
    * ("stock photo", a CMS's default caption) attaches one string to
    * millions of images, and a model trained on the raw pairs overfits
    * the template. Annotates every pair with its caption's corpus-wide
    * frequency and a `kept` flag that admits at most `cap` rows per
    * caption (deterministic ascending-`idCol` order, so re-runs and
    * engines agree). The hot caption IS the expected case, so the kept
    * set uses the two-phase salted top-k (the trap-guard / polite-
    * scheduler construction): phase 1 ranks within (caption, salt-of-id)
    * and keeps ≤ `cap` per salt bucket — a superset of the global
    * survivors since phase 2's order is identical — then phase 2 ranks
    * the ≤ `saltBuckets`×`cap` remainder per caption. The admitted set is
    * bit-identical to a global per-caption window's without ever
    * funneling a boilerplate caption's rows through one task; dropped
    * rows are never ranked at all (the flag re-attaches by id join).
    * Captions shuffle as 8-byte `xxhash64` keys, not strings — the
    * repo-wide 64-bit signature-identity convention (collision odds
    * ~n²/2⁶⁴). Output: input columns + `caption_freq` + `kept`. */
  def captionCap(pairs: DataFrame, idCol: String, captionCol: String,
      cap: Int, saltBuckets: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    require(cap >= 1, s"captionCap: cap=$cap must be >= 1")
    val keyed = pairs.withColumn("__ck", xxhash64(col(captionCol)))
    val freq = keyed.groupBy("__ck").agg(count(lit(1)).as("caption_freq"))
    val salt = pmod(xxhash64(col(idCol)), lit(math.max(saltBuckets, 1).toLong))
    val w1 = Window.partitionBy(col("__ck"), salt).orderBy(col(idCol))
    val w2 = Window.partitionBy(col("__ck")).orderBy(col(idCol))
    val kept = keyed.select(col(idCol), col("__ck"))
      .withColumn("__rk1", row_number().over(w1))
      .filter(col("__rk1") <= cap)
      .withColumn("__rk", row_number().over(w2))
      .filter(col("__rk") <= cap)
      .select(col(idCol), lit(true).as("kept"))
    keyed.join(freq, Seq("__ck"))
      .join(kept, Seq(idCol), "left")
      .withColumn("kept", coalesce(col("kept"), lit(false)))
      .drop("__ck")
  }

  /** Container-consistency gate for the payload table's untrusted
    * `fmt:string` column: first failing reason or null when the claim is
    * consistent. `unknown_container` — the payload's magic bytes match no
    * known image container (truncated/corrupt/not-an-image responses);
    * `format_mismatch` — a known container that differs from the claim
    * (servers lie about content types at a measurable rate at crawl
    * scale). The claim is normalized (trim/lower, `jpg` → `jpeg`); a NULL
    * or empty claim with a known container passes — the sniff is the
    * authority, the claim only has to not contradict it. Pure codegen'd
    * column program reading ≤ 12 bytes per row, no decode — at 100 TB this
    * runs inside the scan and prunes the decoder's input like
    * [[captionReason]] does. */
  def formatReason(bytes: org.apache.spark.sql.Column,
      claimedFmt: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val sniffed = graft.functions.ImageFunctions.sniff_image_format(bytes)
    val claim = lower(trim(claimedFmt))
    val normClaim = when(claim === "jpg", "jpeg").otherwise(claim)
    when(sniffed === "unknown", "unknown_container")
      .when(normClaim.isNotNull && normClaim =!= "" && sniffed =!= normClaim,
        "format_mismatch")
  }

  /** The full image+caption pair gate ladder as a stateless annotation:
    * adds `reason` (null = kept; else the FIRST failing gate — caption
    * reasons, then container-trust reasons, then decoded-stats reasons,
    * the order a 100 TB run wants: each rung is strictly more expensive).
    * The decode cannot be staged away here — an audit row must state WHICH
    * gate failed, and rows passing the cheap gates need the stats to
    * decide — so this costs one decode per row. Consumers that only need
    * the kept side should filter the cheap gates first and use `image_sig`
    * (see [[graft.streaming.CurationStream.curatePairs]]). Requires
    * `bytes`, `fmt`, `caption` columns; batch and stream alike. */
  def pairReasons(pairs: DataFrame,
      minTokens: Int = 3, maxTokens: Int = 128, minAlphaRatio: Double = 0.5,
      minW: Int = 32, minH: Int = 32, maxAspect: Double = 4.0,
      minEntropyBits: Double = 1.0): DataFrame =
    pairReasonsWithStats(pairs, minTokens, maxTokens, minAlphaRatio,
      minW, minH, maxAspect, minEntropyBits).drop("__s")

  /** [[pairReasons]] retaining the DECODED stats struct as column `__s`
    * (decodable, width, height, aspect, mean_luma, stddev_luma,
    * entropy_bits) — for consumers that rank survivors by decoded quality
    * (ImageCurateCli's keep-best): the gate pass already paid the decode,
    * so carrying the result through costs nothing, and the decoded
    * dimensions are the TRUSTED ones — the recorded w/h columns are
    * server-supplied metadata the ladder itself treats as untrustworthy
    * (that is what `formatReason` exists for). */
  def pairReasonsWithStats(pairs: DataFrame,
      minTokens: Int = 3, maxTokens: Int = 128, minAlphaRatio: Double = 0.5,
      minW: Int = 32, minH: Int = 32, maxAspect: Double = 4.0,
      minEntropyBits: Double = 1.0): DataFrame = {
    import org.apache.spark.sql.functions._
    pairs
      .withColumn("__s", graft.functions.ImageFunctions.image_stats(col("bytes")))
      .withColumn("reason", coalesce(
        captionReason(col("caption"), minTokens, maxTokens, minAlphaRatio),
        formatReason(col("bytes"), col("fmt")),
        // NULL bytes: sniff/image_stats are null-intolerant, so without an
        // explicit branch every gate above and below evaluates to NULL and
        // the row would be KEPT — while the stream drops it at the
        // `__sig.decodable` filter. Same verdict, same rung: undecodable.
        when(col("bytes").isNull, "undecodable"),
        when(!col("__s.decodable"), "undecodable")
          .when(col("__s.width") < minW || col("__s.height") < minH, "too_small")
          .when(col("__s.aspect") > maxAspect, "extreme_aspect")
          .when(col("__s.entropy_bits") < minEntropyBits, "low_entropy")))
  }

  /** CLIP-score-style image–caption alignment: cosine between the pair's
    * image embedding and its caption embedding — the central semantic gate
    * of LAION-style pair curation (a pair whose caption does not describe
    * the image scores low no matter how good each half looks alone). The
    * embeddings come from an upstream inference stage (the encoder model
    * does not ship in this environment); this operator owns the Spark
    * side: the score is a pure codegen'd column program (three
    * [[graft.functions.ArrayDot]] folds in double precision — same
    * deterministic sequential fold as every other cosine surface in the
    * engine), no shuffle, rounded to 6 places for engine-portable
    * comparison. NULL — not NaN — when either embedding is null, lengths
    * mismatch (ArrayDot nulls), or either norm is zero (undefined
    * direction): a null score fails any `>=` gate, so broken pairs drop
    * instead of riding Spark's NaN-sorts-above-everything ordering
    * through a threshold filter. */
  def alignmentScore(imgEmb: org.apache.spark.sql.Column,
      capEmb: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val ie = imgEmb.cast("array<double>")
    val ce = capEmb.cast("array<double>")
    val d = graft.functions.VectorFunctions.array_dot(ie, ce)
    val ni = graft.functions.VectorFunctions.array_dot(ie, ie)
    val nc = graft.functions.VectorFunctions.array_dot(ce, ce)
    val s = round(d / (sqrt(ni) * sqrt(nc)), 6)
    // the norm guard alone is not enough: an embedding carrying ±Infinity
    // passes `ni > 0` yet scores NaN (∞/∞) — and Spark orders NaN ABOVE
    // every real value, so a NaN score would sail through a `>=` gate
    // into the kept side. Fold NaN into the documented NULL contract.
    when(ni > 0 && nc > 0 && !isnan(s), s)
  }

  /** Alignment gate over a pair relation carrying per-pair embedding
    * columns: returns (kept, audit) where kept rows score `>= minScore`
    * and the audit holds every other row (below threshold OR unscorable —
    * null/mismatched/zero-norm embeddings) with its score column attached.
    * The two sides partition the input exactly. Scale shape: scoring adds
    * NO shuffle (column program inside whatever scan delivers the rows);
    * when embeddings live in a separate inference-output table, join them
    * on the pair id BEFORE this gate — slim (id, embedding) columns, the
    * payload bytes never ride that join (see ImageCurateCli `--align`). */
  def alignmentGate(pairs: DataFrame, imgEmbCol: String, capEmbCol: String,
      minScore: Double, scoreCol: String = "alignment")
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.functions._
    val scored = pairs.withColumn(scoreCol,
      alignmentScore(col(imgEmbCol), col(capEmbCol)))
    (scored.filter(col(scoreCol) >= minScore),
      scored.filter(col(scoreCol).isNull || col(scoreCol) < minScore))
  }

  /** Aspect-ratio bucketing for training-batch assembly (the standard
    * variable-resolution batching scheme: every batch holds images of one
    * aspect band). Bands are integer-exact — `floor(w*1000/h)` against the
    * ascending `bands` thresholds (engine-independent, so an external
    * system can reproduce the assignment). Within each (band, shard) the
    * rows are numbered by id and chunked into batches of `batchSize`;
    * `shards` > 1 keeps the per-band sequence assignment distributed at
    * corpus scale (a per-band global row_number would funnel every row of
    * a band through one task — the exact single-task sort this engine
    * forbids elsewhere). `dropIncomplete` removes each (band, shard)'s
    * trailing partial batch, which training loaders usually cannot use. */
  def aspectBatches(meta: DataFrame, idCol: String, wCol: String, hCol: String,
      batchSize: Int, shards: Int = 1,
      bands: Seq[(Int, String)] = Seq(800 -> "tall", 1250 -> "square", 2000 -> "wide"),
      topBand: String = "ultrawide", dropIncomplete: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions._
    require(batchSize > 0 && shards > 0)
    val mil = floor(col(wCol).cast("long") * 1000 / col(hCol)).cast("long")
    val band = bands.foldRight(lit(topBand)) { case ((thr, name), acc) =>
      when(mil < thr, lit(name)).otherwise(acc)
    }
    val w = Window.partitionBy("band", "shard").orderBy(col(idCol))
    val assigned = meta
      .withColumn("band", band)
      .withColumn("shard", pmod(xxhash64(col(idCol)), lit(shards.toLong)).cast("int"))
      .withColumn("__rn", row_number().over(w).cast("long") - 1)
      .withColumn("batch_ix", floor(col("__rn") / batchSize).cast("long"))
      .withColumn("slot", col("__rn") % batchSize)
    val out =
      if (!dropIncomplete) assigned
      else {
        val cw = Window.partitionBy("band", "shard")
        assigned
          .withColumn("__n", count(lit(1)).over(cw))
          .filter(col("__rn") < col("__n") - (col("__n") % batchSize))
          .drop("__n")
      }
    out.select(col(idCol), col("band"), col("shard"), col("batch_ix"), col("slot"))
  }

  /** Training-batch materialization: band every image by its HEADER
    * dimensions (`image_dims` — container-header parse, no pixel decode),
    * number rows into batches of `batchSize` per (band, shard) over the
    * slim (id, band) projection, then decode ONCE in the post-join
    * projection and resample to the band's exact target resolution
    * ([[ImageKernels.resampleOf]]'s pinned sampling, `area` by default).
    *
    * Banding uses the same integer milli-aspect rule as [[aspectBatches]]
    * (`floor(w·1000/h)` against ascending `bands`) but over dims parsed
    * from the payload container itself — trustworthy where the table's
    * recorded `w`/`h` are not, and what the decoder will actually produce.
    *
    * Shuffle discipline at 100 TB: the header probe is a scan projection
    * (tens of bytes per row); batch numbering shuffles only (id, band) —
    * the per-(band, shard) window sorts slim rows, never payloads; the
    * original bytes cross exactly ONE equi-join shuffle to meet their
    * (batch_ix, slot), and the single decode+resample runs after that
    * join, so only rows that made a complete batch ever decode. Rows with
    * unparseable headers drop at banding; the rare header-ok/body-corrupt
    * row surfaces as NULL bytes in its slot (visible to the loader) rather
    * than silently renumbering — run the curation gate ladder upstream to
    * keep those out. */
  def trainingBatches(pairs: DataFrame, idCol: String, bytesCol: String,
      targets: Map[String, (Int, Int)],
      batchSize: Int, shards: Int = 1,
      bands: Seq[(Int, String)] = Seq(800 -> "tall", 1250 -> "square", 2000 -> "wide"),
      topBand: String = "ultrawide", resampleMode: String = "area",
      dropIncomplete: Boolean = true): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.functions.ImageFunctions.{image_dims, image_resample}
    require(batchSize > 0 && shards > 0)
    require((bands.map(_._2) :+ topBand).forall(targets.contains),
      s"targets must cover every band: ${(bands.map(_._2) :+ topBand).mkString(", ")}")
    val mil = floor(col("__d.width").cast("long") * 1000 / col("__d.height")).cast("long")
    val band = bands.foldRight(lit(topBand)) { case ((thr, name), acc) =>
      when(mil < thr, lit(name)).otherwise(acc)
    }
    // slim pass: header dims -> band; no pixel ever decodes here
    val slim = pairs
      .withColumn("__d", image_dims(col(bytesCol)))
      .filter(col("__d.width") > 0 && col("__d.height") > 0)
      .select(col(idCol), band.as("band"))
      .withColumn("shard", pmod(xxhash64(col(idCol)), lit(shards.toLong)).cast("int"))
    val w = Window.partitionBy("band", "shard").orderBy(col(idCol))
    val assigned0 = slim
      .withColumn("__rn", row_number().over(w).cast("long") - 1)
      .withColumn("batch_ix", floor(col("__rn") / batchSize).cast("long"))
      .withColumn("slot", col("__rn") % batchSize)
    val assigned =
      if (!dropIncomplete) assigned0
      else {
        val cw = Window.partitionBy("band", "shard")
        assigned0.withColumn("__n", count(lit(1)).over(cw))
          .filter(col("__rn") < col("__n") - (col("__n") % batchSize))
          .drop("__n")
      }
    // per-band target dims as a when-chain (engine-independent constants)
    val allBands = bands.map(_._2) :+ topBand
    def tgt(pick: ((Int, Int)) => Int) = allBands.tail.foldLeft(
      when(col("band") === allBands.head, lit(pick(targets(allBands.head))))) {
      (acc, b) => acc.when(col("band") === b, lit(pick(targets(b))))
    }
    assigned.select(col(idCol), col("band"), col("shard"), col("batch_ix"), col("slot"))
      .join(pairs.select(col(idCol), col(bytesCol)), Seq(idCol))
      .withColumn("width", tgt(_._1).cast("int"))
      .withColumn("height", tgt(_._2).cast("int"))
      .select(col(idCol), col("band"), col("shard"), col("batch_ix"), col("slot"),
        col("width"), col("height"),
        image_resample(col(bytesCol), col("width"), col("height"), lit(resampleMode)).as("bytes"))
  }
}
