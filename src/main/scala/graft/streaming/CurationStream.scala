package graft.streaming

import graft.ops.TextOps
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Streaming document-ingest event (a crawled page's extracted text). */
final case class DocEvent(
    doc_id: Long,
    text: String,
    source: String,
    eventTime: java.sql.Timestamp)

/** Streaming image+caption pair event (a fetched image with its claimed
  * metadata — the payload-table row before curation proves w/h/fmt). */
final case class PairEvent(
    image_id: String,
    bytes: Array[Byte],
    fmt: String,
    caption: String,
    eventTime: java.sql.Timestamp)

/** A pair that PASSED [[CurationStream.curatePairs]] — the payload-table
  * row shape plus event time (w/h decoded, fmt sniffed, phash computed). */
final case class CuratedPair(
    image_id: String,
    bytes: Array[Byte],
    w: Int,
    h: Int,
    fmt: String,
    caption: String,
    phash: Long,
    eventTime: java.sql.Timestamp)

/** Keyed state for [[CurationStream.captionBudget]]: how many pairs this
  * caption has ever been admitted for. */
final case class CaptionBudgetState(admitted: Long)

/** Streaming counterpart of the batch curation stages — the shape that
  * runs against a Kafka ingest topic: content dedup with BOUNDED keyed
  * state (`dropDuplicatesWithinWatermark` on the md5 content fingerprint —
  * re-crawls and mirror copies inside the watermark horizon are dropped;
  * the batch exact-dedup pass owns anything older), then per-row quality
  * gates — including the Gopher repetition gate — and PII redaction.
  *
  * Per-caption state is UNBOUNDED: [[CurationStream.captionBudget]] keeps
  * one lifetime admitted count per distinct caption and never expires it,
  * so its state grows with the number of distinct captions ever seen.
  *
  * Everything after the dedup is STATELESS on purpose: all gates are
  * per-row column programs (token counts, distinct ratio, stopword ratio,
  * repetition stats, regex redaction), append-mode-safe and shuffle-free.
  * The batch engine's `repetitionMetrics` is two grouped aggregations —
  * which in a stream would hold per-document aggregation state — so the
  * streaming gate instead computes the same per-document fractions through
  * the codegen'd [[graft.functions.RepetitionStats]] expression (one linear
  * pass over the row's own tokens; field-for-field equal to the batch
  * relational program, see RepetitionStatsSpec).
  */
object CurationStream {

  def curate(docs: Dataset[DocEvent],
      watermarkDelay: String = "1 hour",
      minTokens: Int = 5,
      minDistinctRatio: Double = 0.3,
      maxTopTokenFrac: Double = 0.12,
      maxTopBigramFrac: Double = 0.08): DataFrame = {
    val deduped = docs.toDF()
      .withWatermark("eventTime", watermarkDelay)
      .withColumn("fingerprint", md5(col("text")))
      .dropDuplicatesWithinWatermark("fingerprint")
    val toks = split(col("text"), " ")
    val gated = deduped
      .withColumn("n_tokens", size(toks).cast("long"))
      .withColumn("distinct_ratio",
        size(array_distinct(toks)).cast("double") / size(toks).cast("double"))
      .withColumn("__rep", graft.functions.TextFunctions.repetition_stats(col("text")))
      .withColumn("top_token_frac", col("__rep.top_token_frac"))
      .withColumn("top_bigram_frac", col("__rep.top_bigram_frac"))
      .filter(col("n_tokens") >= minTokens &&
        col("distinct_ratio") >= minDistinctRatio &&
        // same verdict as the batch repetition_ok: sub-2-token docs have
        // no bigrams and pass the bigram gate (they fail minTokens anyway)
        col("top_token_frac") <= maxTopTokenFrac &&
        (col("top_bigram_frac").isNull || col("top_bigram_frac") <= maxTopBigramFrac))
      .drop("__rep")
    TextOps.piiRedact(gated, "text")
      .select("doc_id", "source", "eventTime", "fingerprint",
        "n_tokens", "distinct_ratio", "top_token_frac", "top_bigram_frac",
        "n_emails", "n_phones", "n_ips", "redacted")
  }

  /** Streaming image+caption pair curation — the fetch pipeline's
    * writeback path as a stream. Two STAGED stateless gate filters
    * (cheapest first: caption gates read only the string and the container
    * sniff reads 12 bytes — rows failing those are dropped BEFORE any
    * decode exists in the plan; survivors then pay the one `image_stats`
    * decode for the dimension/entropy gates), THEN phash dedup with
    * BOUNDED keyed state (`dropDuplicatesWithinWatermark`) over the
    * admitted rows only — rejected pairs never enter the state store,
    * which at crawl scale is most of the stream. Emits exactly the
    * payload-table shape `(image_id, bytes, w, h, fmt, caption, phash)` —
    * w/h are the DECODED dimensions and fmt the SNIFFED canonical
    * container (the claimed metadata is untrusted; the gates proved
    * these) — plus `eventTime`, so a `foreachBatch` sink can
    * `IceLite.mergeInsert` each micro-batch straight into the snapshot
    * table (the MERGE re-checks phash against the standing corpus; the
    * stream's state only owns the watermark horizon) — or
    * `ImageWriteback.mergeInsertNearDup` to additionally suppress
    * hamming-radius re-encodes whose PSNR-verified duplicate already sits
    * in the table (exact-dup semantics unchanged, no extra keyed state;
    * with `orientation = true`, mirrored/rotated re-posts of stored
    * images are suppressed too). Rows surviving the
    * cheap gates pay exactly ONE decode — `image_sig` computes the quality
    * stats and the phash dedup key together — and every stage stays a
    * stateless codegen'd column program. Audit tap: [[pairReasons]] is the
    * same ladder as a stateless annotation for a side sink. */
  def curatePairs(pairs: Dataset[PairEvent],
      watermarkDelay: String = "1 hour",
      minTokens: Int = 3, maxTokens: Int = 128, minAlphaRatio: Double = 0.5,
      minW: Int = 32, minH: Int = 32, maxAspect: Double = 4.0,
      minEntropyBits: Double = 1.0,
      // privacy-by-default at INGEST: scrub provenance metadata from the
      // ADMITTED rows' bytes in the final stateless projection — after the
      // dedup, so only rows headed for the sink pay the byte surgery; the
      // strip preserves the pixel stream, so the phash key and the stats
      // gates above still describe the emitted bytes exactly
      stripMetadata: Boolean = false): DataFrame = {
    import graft.ops.Multimodal
    val outBytes =
      if (stripMetadata)
        graft.functions.ImageFunctions.strip_image_metadata(col("bytes")).as("bytes")
      else col("bytes")
    pairs.toDF()
      // stage 1: no-decode gates (string + 12-byte sniff)
      .filter(coalesce(
        Multimodal.captionReason(col("caption"), minTokens, maxTokens, minAlphaRatio),
        Multimodal.formatReason(col("bytes"), col("fmt"))).isNull)
      // stage 2: ONE decode per surviving row — image_sig yields the
      // quality-gate stats AND the phash dedup key from the same decode
      .withColumn("__sig", graft.functions.ImageFunctions.image_sig(col("bytes")))
      .filter(col("__sig.decodable") &&
        col("__sig.width") >= minW && col("__sig.height") >= minH &&
        col("__sig.aspect") <= maxAspect &&
        col("__sig.entropy_bits") >= minEntropyBits)
      .withWatermark("eventTime", watermarkDelay)
      .withColumn("phash", col("__sig.phash"))
      .dropDuplicatesWithinWatermark("phash")
      .select(col("image_id"), outBytes,
        col("__sig.width").as("w"), col("__sig.height").as("h"),
        graft.functions.ImageFunctions.sniff_image_format(col("bytes")).as("fmt"),
        col("caption"), col("phash"), col("eventTime"))
  }

  /** Streaming per-caption admission budget — the batch caption cap's
    * (q64 / `Multimodal.captionCap`) continuous form, for the templated
    * alt-text failure ("stock photo" on millions of images) arriving as a
    * stream. Keyed state holds one LIFETIME admitted count per distinct
    * caption (boilerplate control wants a lifetime budget, so no state
    * timeout — the same growth class as any seen-filter: one small entry
    * per distinct caption ever admitted-from, and rejected rows never
    * grow it past the cap). Admission is by id, not arrival: each
    * micro-batch admits the smallest `image_id`s of the caption, up to
    * the room left in its budget, wherever in the batch they arrived (a
    * later row with a smaller id displaces an earlier larger one) — the
    * streaming analog of the batch cap's ascending-id order, per
    * micro-batch; the batch re-run over the landed table remains the
    * reproducible artifact. Apply AFTER [[curatePairs]] (its output
    * shape), so gated and deduped rows never consume budget. */
  def captionBudget(curated: DataFrame, cap: Int): DataFrame = {
    require(cap >= 1, s"captionBudget: cap=$cap must be >= 1")
    import curated.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    curated.select("image_id", "bytes", "w", "h", "fmt", "caption",
        "phash", "eventTime")
      .as[CuratedPair]
      .groupByKey(_.caption)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[CuratedPair],
            state: org.apache.spark.sql.streaming.GroupState[CaptionBudgetState]) =>
          val used = state.getOption.map(_.admitted).getOrElse(0L)
          val room = math.max(0L, cap.toLong - used).toInt
          if (room == 0) {
            // budget spent: drain without buffering — a backlogged hot
            // caption can deliver millions of byte-carrying rows in one
            // micro-batch, and holding them to sort would OOM on exactly
            // the workload this operator exists for
            rows.foreach(_ => ())
            Iterator.empty
          } else {
            // bounded smallest-`room`-ids selection: a max-heap of size
            // ≤ room (≤ cap) is the most this task ever holds
            val byId: Ordering[CuratedPair] = Ordering.by(_.image_id)
            val heap =
              scala.collection.mutable.PriorityQueue.empty[CuratedPair](byId)
            rows.foreach { r =>
              if (heap.size < room) heap.enqueue(r)
              else if (byId.lt(r, heap.head)) { heap.dequeue(); heap.enqueue(r) }
            }
            val out = heap.toSeq.sortBy(_.image_id)
            if (out.nonEmpty) state.update(CaptionBudgetState(used + out.size))
            out.iterator
          }
      }
      .toDF()
  }

  /** The pair gate ladder as a stateless annotation (see
    * [[graft.ops.Multimodal.pairReasons]] — shared with the batch
    * writeback so stream and batch verdicts cannot diverge). Works on
    * batch and stream alike; costs one decode per row, so keep it on a
    * sampled or rejected-only side sink at scale. */
  def pairReasons(pairs: DataFrame,
      minTokens: Int = 3, maxTokens: Int = 128, minAlphaRatio: Double = 0.5,
      minW: Int = 32, minH: Int = 32, maxAspect: Double = 4.0,
      minEntropyBits: Double = 1.0): DataFrame =
    graft.ops.Multimodal.pairReasons(pairs, minTokens, maxTokens, minAlphaRatio,
      minW, minH, maxAspect, minEntropyBits)
}
