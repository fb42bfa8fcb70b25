package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver-contract queries over `/root/testdata/sf*` (TESTDATA.md): each is a
  * named DataFrame program whose result must hash-match the DuckDB oracle SQL
  * in [[graft.SparkEntry.oracleSql]] (driver correctness gate).
  *
  * Two families:
  *  - crawl-operator analogs (SURVEY.md §2 shapes — anti-join dedup, per-key
  *    top-k scheduling, politeness windows, explode, sort, agg, union) over
  *    the relational tables;
  *  - training-data pipeline ops (dedup exact/MinHash/SimHash/Jaccard,
  *    similarity search, text analysis) over `documents`/`embeddings`.
  *
  * Parity rules that make exact hash-matching possible against DuckDB:
  *  - integer arithmetic everywhere hashes are involved (md5-hex → BIGINT);
  *  - double sums only over index-ordered sequential folds (`aggregate` /
  *    `list_dot_product` both fold left in element order → bit-equal);
  *  - every output deterministically ordered and rounded where FP appears.
  */
object ContractQueries {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  // ---- crawl-operator analogs -----------------------------------------

  /** A1/A4-style aggregate block (hash-agg with partial aggregation). */
  def q1PricingAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum("l_quantity").as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_price"),
        round(avg("l_discount"), 6).as("avg_disc"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag", "l_linestatus")

  /** J1 frontier∖visited analog: anti-join. */
  def q2AntiJoin(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders").select("o_orderkey")
      .join(t(spark, dir, "lineitem").select(col("l_orderkey").as("o_orderkey")),
        Seq("o_orderkey"), "left_anti")
      .orderBy("o_orderkey")

  /** O1 per-host batch top-k analog: row_number ≤ k per group. */
  def q3TopkPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(desc("o_totalprice"), col("o_orderkey"))
    t(spark, dir, "orders")
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select("o_custkey", "o_orderkey", "rk")
      .orderBy("o_custkey", "rk")
  }

  /** O4 politeness schedule analog: per-user slot numbering × delay. */
  def q4PolitenessSchedule(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t(spark, dir, "events")
      .withColumn("slot", row_number().over(w).cast("long"))
      .withColumn("fetch_offset_ms", (col("slot") - 1).cast("long") * 100L)
      .select("user_id", "event_id", "slot", "fetch_offset_ms")
      .orderBy("user_id", "slot")
  }

  /** G1 link-explosion analog: token explode + frequency top-50. */
  def q5ExplodeTokens(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("token"))
      .limit(50)

  /** J2/J4 star join (broadcast dims) + rollup-style agg. */
  def q6StarJoin(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .join(t(spark, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(spark, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(spark, dir, "region")), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("revenue"))
      .orderBy("r_name")

  /** A2/A3 side-output counters analog: per-event-type conditional counts. */
  def q7Counters(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("value") < 0, 1L).otherwise(0L)).as("n_neg"),
        round(sum("value"), 4).as("total_value"))
      .orderBy("event_type")

  /** U1 visited-union analog: union + distinct. */
  def q8UnionDistinct(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer").select(col("c_nationkey").as("nationkey"))
      .unionByName(t(spark, dir, "supplier").select(col("s_nationkey").as("nationkey")))
      .distinct()
      .orderBy("nationkey")

  /** Stateful stream analog: gap-based sessionization (lag + running sum). */
  def q9Sessionize(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t(spark, dir, "events")
      .withColumn("prev_ts", lag("ts", 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          (unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts"))) > 3600L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum("new_session").over(
        Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id")
      .agg(max("session_id").as("n_sessions"), count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  // ---- training-data pipeline ops (documents/embeddings) --------------
  // Thin bindings of the reusable operators in graft.ops onto the testdata
  // tables — the library surface is Dedup/TextOps/Similarity; these named
  // queries pin each operator to its DuckDB oracle.

  import graft.ops.{Dedup, LinkRank, Multimodal, Similarity, TextOps}

  /** Exact dedup: group documents by content hash, keep min doc_id. */
  def q10DedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exact(t(spark, dir, "documents"), "doc_id", "text").orderBy("fingerprint")

  /** MinHash signatures (4 permutations) + 2 LSH band ids per document. */
  def q11MinhashSig(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashSignatures(t(spark, dir, "documents"), "doc_id", "text").orderBy("doc_id")

  /** LSH candidate pairs: documents sharing a MinHash band bucket. Bounded
    * to doc_id < 1000: this synthetic corpus draws from a ~31-token
    * vocabulary, so bucket collisions are near-quadratic by construction —
    * the bound keeps the demo pair set O(10^5) at every scale factor. */
  def q12MinhashPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashCandidatePairs(t(spark, dir, "documents").filter(col("doc_id") < 1000),
      "doc_id", "text")
      .orderBy("d1", "d2")

  /** 16-bit SimHash per document over its distinct-token hash bits. */
  def q13Simhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhash(t(spark, dir, "documents"), "doc_id", "text").orderBy("doc_id")

  /** N-gram (token-set) Jaccard similarity for near-dup pairs (doc_id<40). */
  def q14NgramJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(t(spark, dir, "documents").filter(col("doc_id") < 40),
      "doc_id", "text", threshold = 0.2).orderBy("d1", "d2")

  /** Language-ID heuristic: stopword-ratio scoring per document. */
  def q15LangId(spark: SparkSession, dir: String): DataFrame =
    TextOps.langIdEn(t(spark, dir, "documents"), "text")
      .select("doc_id", "lang", "n_tokens", "n_stop", "stop_ratio", "pred_en")
      .orderBy("doc_id")

  /** Quality scoring: length/token statistics per document. */
  def q16Quality(spark: SparkSession, dir: String): DataFrame =
    TextOps.qualityMetrics(t(spark, dir, "documents"), "text", "n_chars")
      .select("doc_id", "n_tokens", "n_distinct", "distinct_ratio", "avg_token_len", "quality_ok")
      .orderBy("doc_id")

  /** Token counting rollup by language + source. */
  def q17TokenCount(spark: SparkSession, dir: String): DataFrame =
    TextOps.tokenRollup(t(spark, dir, "documents"), "text", "n_chars", "lang", "source")
      .orderBy("lang", "source")

  /** Document fingerprint: min polynomial hash over character 8-grams
    * (winnowing-style rolling fingerprint, integer math only). */
  def q18Fingerprint(spark: SparkSession, dir: String): DataFrame =
    TextOps.fingerprint(t(spark, dir, "documents"), "text")
      .select("doc_id", "fp").orderBy("doc_id")

  // ---- similarity search (embeddings) ---------------------------------

  /** Brute-force cosine top-k vs a query vector (ANN baseline). */
  def q19CosineTopk(spark: SparkSession, dir: String): DataFrame =
    Similarity.cosineTopK(t(spark, dir, "embeddings"), "vec_id", "embedding",
      queryId = 0L, k = 10)

  /** Random-hyperplane LSH bucketing (integer plane weights → exact parity):
    * 8-bit signature per vector + bucket population. */
  def q20LshBuckets(spark: SparkSession, dir: String): DataFrame = {
    val withSig = Similarity.lshSignature(t(spark, dir, "embeddings"),
      "vec_id", "embedding", planes = 8, dims = 64).drop("e")
    val buckets = withSig.groupBy("sig").agg(count(lit(1)).as("bucket_n"))
    // ≤ 2^planes bucket rows — broadcast so the vector side never shuffles
    withSig.join(broadcast(buckets), Seq("sig"))
      .select("vec_id", "sig", "bucket_n")
      .orderBy("vec_id")
  }

  /** q14's pair generator with the document-frequency skew cap: tokens in
    * more than maxDf documents (stopword-like hot posting lists, the
    * quadratic blowup at 100 TB) leave the token universe before sizes and
    * pairs are computed. */
  def q26JaccardCapped(spark: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(t(spark, dir, "documents").filter(col("doc_id") < 40),
      "doc_id", "text", threshold = 0.2, maxDf = 20L).orderBy("d1", "d2")

  /** q12's pair generator with the band-population skew cap: buckets holding
    * more than maxBandPopulation documents (adversarial boilerplate
    * signatures) are dropped whole before the pair join. */
  def q27MinhashCapped(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashCandidatePairs(t(spark, dir, "documents").filter(col("doc_id") < 1000),
      "doc_id", "text", maxBandPopulation = 50L).orderBy("d1", "d2")

  /** Word-bigram Jaccard near-dup pairs: order-sensitive shingle sets
    * (unigram sets are near-degenerate on a small vocabulary; bigrams make
    * similarity mean shared word ORDER, the form used on text corpora). */
  def q30BigramJaccard(spark: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(t(spark, dir, "documents").filter(col("doc_id") < 120),
      "doc_id", "text", threshold = 0.05, ngram = 2).orderBy("d1", "d2")

  /** SimHash near-dup pairs within hamming radius 3, pigeonhole-bucketed
    * (4 blocks of 4 bits; candidates join on exact block equality). */
  def q29SimhashNearDup(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDup(t(spark, dir, "documents").filter(col("doc_id") < 300),
      "doc_id", "text", maxHamming = 3).orderBy("d1", "d2")

  /** Audit relation of q26's cap: the dropped hot tokens + frequencies. */
  def q28HotTokens(spark: SparkSession, dir: String): DataFrame =
    Dedup.hotTokens(t(spark, dir, "documents").filter(col("doc_id") < 40),
      "doc_id", "text", maxDf = 20L).orderBy("token")

  /** q28's audit in the BIGRAM universe — `hotTokens(ngram = 2)` must count
    * document frequencies over the same shingled vocabulary that
    * `jaccardPairs(ngram = 2)` caps (q30's universe), not over unigrams. */
  def q31HotBigrams(spark: SparkSession, dir: String): DataFrame =
    Dedup.hotTokens(t(spark, dir, "documents").filter(col("doc_id") < 120),
      "doc_id", "text", maxDf = 2L, ngram = 2).orderBy("token")

  /** Embedding-cosine near-duplicate pairs within a bounded id range. */
  def q21NearDupCosine(spark: SparkSession, dir: String): DataFrame =
    Similarity.nearDupPairs(t(spark, dir, "embeddings").filter(col("vec_id") < 200),
      "vec_id", "embedding", threshold = 0.35).orderBy("v1", "v2")

  /** q25: image-payload roundtrip invariants over a deterministic corpus
    * keyed by doc_id. The REAL image path runs in Spark — imageio decode,
    * PSNR against the losslessly re-encoded source pixels, phash, and the
    * 64-dim `Multimodal.extractFeatures` embedding — while the oracle states
    * each invariant's expected value in closed form: the planted duplicate
    * structure (every 8th image repeats content 7 → equal phash → dup_of
    * collapses to 7), decoded dimensions matching metadata, the input_hint
    * PSNR ≥ 40 dB bound (exact for lossless formats), and the feature
    * shape. A broken decoder/phash/psnr/feature stage flips a boolean or
    * the dup grouping and fails the hash gate. */
  def q25ImageRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.ImageKernels
    import graft.sources.ImageGen
    val ids = t(spark, dir, "documents")
      .filter(col("doc_id") < 24).select(col("doc_id")).as[Long]
      // the parquet is one file → one input partition; spread the
      // render/encode/decode work (the query's entire cost) across cores
      .repartition(8)
    val rows = ids.mapPartitions { it =>
      it.map { id =>
        val im = ImageGen.imageFor(id, seed = 42L, dupEvery = 8)
        val img = ImageKernels.decode(im.bytes)
        val wOk = img.getWidth == im.w && img.getHeight == im.h
        val ck = im.caption.split("#").last.toLong
        val ref = ImageKernels.encode(ImageGen.render(ck, 42L, im.w, im.h), "png")
        val p = ImageKernels.psnr(im.bytes, ref)
        val psnrOk = if (im.fmt == "jpg") p >= 40.0 else p.isPosInfinity
        (id, im.phash, wOk, psnrOk)
      }
    }.toDF("doc_id", "phash", "w_ok", "psnr_ok")
    val media = ids.map(id => Multimodal.mediaRowFor(id))
    val feats = Multimodal.extractFeatures(media)
      .map(f => (f.media_id.toLong, f.feature.length, f.feature.exists(_ != 0f)))
      .toDF("doc_id", "feat_dim", "feat_nonzero")
    rows
      .withColumn("dup_of", min("doc_id").over(Window.partitionBy("phash")))
      .join(feats, Seq("doc_id"))
      .select("doc_id", "dup_of", "w_ok", "psnr_ok", "feat_dim", "feat_nonzero")
      .orderBy("doc_id")
  }

  /** BPE-ish token budgeting: whitespace vs word-level-pre-split counts
    * per doc + corpus totals by language. */
  def q24BpeTokens(spark: SparkSession, dir: String): DataFrame =
    TextOps.bpeTokenCount(TextOps.tokenCount(t(spark, dir, "documents"), "text"), "text")
      .groupBy("lang")
      .agg(sum("n_tokens").as("ws_tokens"), sum("n_bpe_tokens").as("bpe_tokens"),
        count(lit(1)).as("docs"))
      .orderBy("lang")

  /** Dimension-join rollup over the one remaining unused table: revenue by
    * part brand (scan-heavy fact side, broadcast dim). */
  def q23BrandRevenue(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .join(broadcast(t(spark, dir, "part")), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
      .orderBy("p_brand")

  // ---- URL expressions over constructed columns -----------------------

  /** C1 canonicalization exercised against an independently constructed
    * oracle: messy URL (uppercase scheme/host, default port, unsorted dup
    * query keys, fragment) must normalize to the clean form. */
  def q22UrlNormalize(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.UrlFunctions
    t(spark, dir, "documents")
      .select(col("doc_id"),
        concat(lit("HTTP://"), upper(col("source")), lit(".COM:80/p/"), col("doc_id"),
          lit("?b=2&a=1&a=9#frag")).as("messy"))
      .withColumn("url", UrlFunctions.normalize_url(col("messy")))
      .withColumn("host", UrlFunctions.url_host(col("url")))
      .select("doc_id", "url", "host")
      .orderBy("doc_id")
  }

  // ---- dedup clustering / curation (round 3) --------------------------

  /** Near-dup pairs → dedup GROUPS: bigram-Jaccard pairs clustered by
    * [[Dedup.connectedComponents]] (alternating large/small-star), then
    * canonical-document selection — transitive chains (a↔b, b↔c) must
    * collapse into one component even though (a,c) was never a pair. Every
    * corpus doc appears; isolated docs keep themselves. Bounded to
    * doc_id < 1000 for the same reason as q12: the synthetic corpus's
    * ~31-token vocabulary makes bigram co-occurrence near-quadratic by
    * construction, and the bound keeps the demo's candidate join O(10^5)
    * at every scale factor (at the sf0.001/sf0.01 gate the bound is the
    * whole corpus). */
  def q32DedupComponents(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").filter(col("doc_id") < 1000)
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text",
      threshold = 0.2, ngram = 2)
    Dedup.dedupComponents(docs, "doc_id", pairs).orderBy("doc_id")
  }

  /** Gopher-style repetition quality gates: top-token and top-bigram
    * document fractions with curation thresholds. */
  def q33Repetition(spark: SparkSession, dir: String): DataFrame =
    TextOps.repetitionMetrics(t(spark, dir, "documents"), "doc_id", "text",
      maxTopTokenFrac = 0.12, maxTopBigramFrac = 0.08)
      .orderBy("doc_id")

  /** PII scrub over a deterministically PII-seeded corpus: the query plants
    * an email (two for every third doc), a fictional phone number, and an
    * IPv4 per document, then counts and redacts them; the oracle replays
    * the construction and the same regex pipeline, and the md5 of the
    * redacted text pins replacement order and completeness. */
  def q34PiiRedact(spark: SparkSession, dir: String): DataFrame = {
    val planted = t(spark, dir, "documents").select(col("doc_id"),
      concat(col("text"),
        lit(" contact "), col("source"), col("doc_id"), lit("@mail.example"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" cc bot"), col("doc_id"), lit("@spam.example")))
          .otherwise(lit("")),
        lit(" call 555-01"), (col("doc_id") % 90 + 10),
        lit(" host 10.0."), (col("doc_id") % 256), lit(".7")).as("ptext"))
    TextOps.piiRedact(planted, "ptext")
      .select(col("doc_id"), col("n_emails"), col("n_phones"), col("n_ips"),
        md5(col("redacted")).as("redacted_md5"))
      .orderBy("doc_id")
  }

  /** Image near-dup clustering on the payload axis: 64-bit perceptual
    * hashes of the deterministic image corpus fed through the pigeonhole
    * hamming join ([[Multimodal.phashNearDup]]) and clustered — planted
    * byte-identical duplicates (every 8th image repeats content 7) collapse
    * at hamming 0, while the nearest DISTINCT gradient pair sits at
    * hamming 2 (asserted in PhashNearDupSpec), so at radius 1 the expected
    * grouping is closed-form: exactly the planted dup groups. */
  def q35PhashComponents(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.sources.ImageGen
    val ids = t(spark, dir, "documents")
      .filter(col("doc_id") < 48).select(col("doc_id")).as[Long]
      .repartition(8) // parallelize image generation (single-file input)
    val imgs = ids.mapPartitions(_.map { id =>
      (id, ImageGen.imageFor(id, seed = 42L, dupEvery = 8).phash)
    }).toDF("doc_id", "phash")
    val pairs = Multimodal.phashNearDup(imgs, "doc_id", maxHamming = 1)
    Dedup.dedupComponents(imgs, "doc_id", pairs).orderBy("doc_id")
  }

  /** Deterministic mixture sampling: per-source keep rates applied by
    * salted hash bucket — the same rows are kept on every engine (the
    * oracle replays the md5 bucketing exactly). */
  def q37MixtureSample(spark: SparkSession, dir: String): DataFrame =
    TextOps.hashSample(t(spark, dir, "documents"), "doc_id", "source",
      rates = Map("src0" -> 0.2, "src1" -> 0.8), defaultRate = 0.5, salt = "mix")
      .select("doc_id", "source", "bucket", "keep_rate")
      .orderBy("doc_id")

  /** Benchmark decontamination: corpus docs sharing ≥2 distinct trigrams
    * with the pseudo-benchmark (every 50th doc). */
  def q38Decontamination(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    TextOps.contamination(
      docs.filter(col("doc_id") % 50 =!= 0),
      docs.filter(col("doc_id") % 50 === 0),
      "doc_id", "text", ngram = 3, minShared = 2)
      .orderBy("doc_id")
  }

  /** Sequence packing: contiguous fixed-budget (512-token) packs per
    * language in doc order. */
  def q39SequencePacking(spark: SparkSession, dir: String): DataFrame =
    TextOps.packSequences(t(spark, dir, "documents"), "doc_id", "text",
      "lang", budget = 512L)
      .orderBy("doc_id")

  /** Crawl-priority authority: fixed-point integer PageRank over a
    * deterministic synthetic link graph (3 out-links per doc, modular
    * targets — both engines construct it identically). Integer ranks are
    * bit-exact under any aggregation order, which is what lets an
    * iterative graph computation hash-match a different engine at all. */
  def q40LinkRank(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").select(col("doc_id"))
    val n = docs.count()
    val edges = docs
      .withColumn("j", explode(sequence(lit(0), lit(2))))
      .select(col("doc_id").as("src"),
        ((col("doc_id") * 7 + col("j") * 13 + 1) % n).as("dst"))
    LinkRank.pageRank(edges, "src", "dst", iterations = 5).orderBy("id")
  }

  /** Incremental dedup: bigram-Jaccard pairs of the daily delta
    * (doc_id < 100) against the standing corpus — the Spark side never
    * joins corpus×corpus, while the oracle computes the FULL bounded pair
    * relation and filters to delta-touching pairs; equality proves the
    * incremental path returns exactly the batch answer. */
  def q41IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").filter(col("doc_id") < 1000)
    Dedup.jaccardPairsIncremental(
      docs.filter(col("doc_id") >= 100), docs.filter(col("doc_id") < 100),
      "doc_id", "text", threshold = 0.2, ngram = 2)
      .orderBy("d1", "d2")
  }

  /** Incremental MinHash candidates: delta band buckets joined against the
    * full band relation (same Spark-vs-oracle path split as q41). */
  def q42IncrementalMinhash(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").filter(col("doc_id") < 1000)
    Dedup.minhashCandidatePairsIncremental(
      docs.filter(col("doc_id") >= 100), docs.filter(col("doc_id") < 100),
      "doc_id", "text")
      .orderBy("d1", "d2")
  }

  /** SemDeDup-style semantic dedup over embeddings (bounded exact-pair
    * variant): cosine near-dup pairs clustered into components, one vector
    * kept per cluster. The LSH-bucketed scale path is
    * [[Similarity.lshBandedNearDupPairs]], which `ImageCurateCli
    * --semantic` clusters the same way (SimilaritySpec). */
  def q36SemanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings").filter(col("vec_id") < 200)
    val pairs = Similarity.nearDupPairs(emb, "vec_id", "embedding", threshold = 0.35)
    Dedup.dedupComponents(emb, "vec_id", pairs, "v1", "v2").orderBy("vec_id")
  }

  /** RFC 9309 longest-match verdict through the codegen'd
    * [[graft.functions.RobotsAllowed]] expression (the polite scheduler's
    * per-row robots filter) over a deterministic rule matrix derived from
    * doc_id residues: exercises longer-disallow-wins, allow-wins-ties, and
    * no-match-admits; the oracle replays the fold with DuckDB list lambdas. */
  def q43RobotsAllowed(spark: SparkSession, dir: String): DataFrame = {
    val a = (col("doc_id") % 7).cast("string")
    val b = (col("doc_id") % 3).cast("string")
    val c = (col("doc_id") % 5).cast("string")
    val e = (col("doc_id") % 4).cast("string")
    t(spark, dir, "documents")
      .select(col("doc_id"),
        concat(lit("/p"), a, lit("/"), b, lit("/")).as("path"),
        array(concat(lit("/p"), c, lit("/")),
          concat(lit("/p"), a, lit("/"), e),
          concat(lit("/q"), b)).as("dis"),
        array(concat(lit("/p"), a),
          concat(lit("/p"), c, lit("/"), b)).as("allow"))
      .select(col("doc_id"),
        graft.functions.RobotsFunctions
          .robots_allowed(col("path"), col("dis"), col("allow"))
          .cast("int").as("allowed"))
      .orderBy("doc_id")
  }

  /** Crawl-trap pattern grouping: synthesize one URL per document carrying
    * every unbounded URL part (numeric item id, 32-hex session segment,
    * query values) inside a bounded shape, key each with the codegen'd
    * `url_pattern_key`, and count URLs per pattern — the exact relation the
    * trap guard's admission budget is enforced against
    * (CrawlConfig.trapPatternCap). The oracle reconstructs every pattern in
    * closed form from doc_id arithmetic, so a kernel deviation on ANY row
    * lands that row in the wrong group and breaks the counts. */
  def q45TrapPatterns(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(concat(
        lit("http://h"), expr("cast(doc_id % 5 as string)"),
        lit(".com/"), expr("char(97 + cast(doc_id % 7 as int))"),
        lit("/item"), col("doc_id").cast("string"),
        lit("/"), md5(col("text")),
        lit("?session="), col("doc_id").cast("string"),
        lit("&page="), expr("cast(doc_id % 13 as string)")).as("url"))
      .select(graft.functions.UrlFunctions.url_pattern_key(col("url")).as("pattern"))
      .groupBy("pattern").agg(count(lit(1)).as("n_urls"))
      .orderBy("pattern")

  /** Per-row repetition stats through the codegen'd
    * [[graft.functions.RepetitionStats]] expression — the streaming
    * curation gate's kernel — checked against the same relational oracle
    * q33 uses (the expression must agree with the grouped-aggregation
    * formulation on every document, nulls included). */
  /** Sitemap `<loc>` extraction: synthesize a two-entry sitemaps.org
    * `<urlset>` per document (one plain loc with an unbounded id, one
    * CDATA loc), explode through the codegen'd `extract_sitemap_locs`,
    * and count URLs per location. The oracle reconstructs the loc values
    * from doc_id arithmetic, so a missed/extra/mis-trimmed loc on any row
    * breaks the counts. */
  def q46SitemapLocs(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(concat(
        lit("<urlset><url><loc> http://s.com/p"), col("doc_id").cast("string"),
        lit(" </loc></url><url><loc><![CDATA[http://s.com/q"),
        expr("cast(doc_id % 7 as string)"),
        lit("]]></loc></url></urlset>")).as("xml"))
      .select(explode(
        graft.functions.UrlFunctions.extract_sitemap_locs(col("xml"))).as("loc"))
      .groupBy("loc").agg(count(lit(1)).as("n"))
      .orderBy("loc")

  /** Image quality statistics with a closed-form oracle: even doc_ids
    * render a constant-gray PNG (entropy 0 bits, stddev 0, mean = the gray
    * level — the BT.601 integer luma of (v,v,v) is exactly v), odd doc_ids
    * an exact two-tone checkerboard on an even width (entropy exactly
    * 1 bit, mean and stddev exactly 127.5). PNG is lossless, so the decode
    * returns the constructed pixels bit-exactly and every statistic is an
    * exact double — this pins [[graft.ops.Multimodal.imageQuality]]'s
    * luma/entropy/stat definitions against doc_id arithmetic. */
  def q47ImageQuality(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.ImageKernels
    val ids = t(spark, dir, "documents").filter(col("doc_id") < 192)
      .select(col("doc_id")).as[Long].repartition(8)
    val media = ids.map { id =>
      val (w, h) =
        if (id % 2 == 0) (16 + (id % 8).toInt, 12 + (id % 5).toInt) else (16, 12)
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb =
            if (id % 2 == 0) { val v = ((id * 37) % 256).toInt; (v << 16) | (v << 8) | v }
            else if ((x + y) % 2 == 0) 0x000000 else 0xFFFFFF
          img.setRGB(x, y, rgb)
          x += 1
        }
        y += 1
      }
      graft.ops.MediaRow(id.toString, "image", ImageKernels.encode(img, "png"), Map.empty)
    }
    Multimodal.imageQuality(media).toDF()
      .select(col("media_id").cast("long").as("doc_id"),
        col("width"), col("height"),
        col("mean_luma"), col("stddev_luma"), col("entropy_bits"))
      .orderBy("doc_id")
  }

  /** Caption-side curation gates ([[Multimodal.captionReason]]) over a
    * caption column BUILT with engine string functions from doc_id, so the
    * DuckDB oracle reconstructs the identical captions with its own string
    * functions and re-derives every gate in SQL — an independent
    * re-computation, not a restated plant. Gate ladder exercised across the
    * id space: missing / too_long (130 tokens) / too_short / low_alpha
    * (digit soup) / kept. */
  def q48CaptionGates(spark: SparkSession, dir: String): DataFrame = {
    val cap = when(col("doc_id") % 10 === 0, lit(""))
      .when(col("doc_id") % 10 === 1, repeat(lit("spam "), 130))
      .when(col("doc_id") % 10 === 2, lit("x"))
      .when(col("doc_id") % 10 === 3, lit("1 2 3 4 5 6"))
      .otherwise(concat(lit("a photo of item "), col("doc_id")))
    t(spark, dir, "documents").filter(col("doc_id") < 500)
      .select(col("doc_id"), cap.as("caption"))
      .select(col("doc_id"),
        Multimodal.captionTokens(col("caption")).as("n_tokens"),
        coalesce(Multimodal.captionReason(col("caption")), lit("kept")).as("reason"))
      .orderBy("doc_id")
  }

  /** Aspect-ratio training-batch assembly ([[Multimodal.aspectBatches]])
    * over REAL decoded dimensions: constant-color PNGs rendered at
    * id-derived sizes, decoded with `javax.imageio` via
    * [[Multimodal.decodeMeta]], banded by integer milli-aspect and chunked
    * into batches of 8 per band. The oracle re-derives the sizes in closed
    * form and replays the banding + window arithmetic in SQL. */
  def q49AspectBatches(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.ImageKernels
    val ids = t(spark, dir, "documents").filter(col("doc_id") < 192)
      .select(col("doc_id")).as[Long].repartition(8)
    val media = ids.map { id =>
      val w = 16 + (id % 48).toInt
      val h = 12 + ((id * 7) % 36).toInt
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      val v = ((id * 31) % 256).toInt
      g.setColor(new java.awt.Color(v, v, v)); g.fillRect(0, 0, w, h); g.dispose()
      graft.ops.MediaRow(id.toString, "image", ImageKernels.encode(img, "png"), Map.empty)
    }
    val meta = Multimodal.decodeMeta(media).toDF()
      .select(col("media_id").cast("long").as("doc_id"), col("width"), col("height"))
    Multimodal.aspectBatches(meta, "doc_id", "width", "height", batchSize = 8)
      .orderBy("doc_id")
  }

  /** Keep-BEST-quality canonical selection ([[Dedup.canonicalByQuality]])
    * over planted duplicate chains: ids group in fours (consecutive pairs
    * link each chain), members rendered at strictly growing sizes, quality
    * = decoded pixel count — so the kept member of every component is the
    * largest-resolution copy (id%4 == 3), which the oracle states in
    * closed form. Exercises components + argmax-by-quality end to end on
    * real decoded images. */
  def q50KeepBestDup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.ImageKernels
    val ids = t(spark, dir, "documents").filter(col("doc_id") < 200)
      .select(col("doc_id")).as[Long].repartition(8)
    val media = ids.map { id =>
      val w = 16 + (id % 4).toInt * 8
      val h = 12 + (id % 4).toInt * 2
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      val v = ((id * 29) % 256).toInt
      g.setColor(new java.awt.Color(v, v, v)); g.fillRect(0, 0, w, h); g.dispose()
      graft.ops.MediaRow(id.toString, "image", ImageKernels.encode(img, "png"), Map.empty)
    }
    val quality = Multimodal.decodeMeta(media).toDF()
      .select(col("media_id").cast("long").as("doc_id"),
        (col("width").cast("long") * col("height")).as("q"))
    val pairs = ids.toDF("doc_id").filter(col("doc_id") % 4 < 3)
      .select(col("doc_id").as("d1"), (col("doc_id") + 1).as("d2"))
    Dedup.canonicalByQuality(ids.toDF("doc_id"), "doc_id", pairs, quality, "q")
      .orderBy("doc_id")
  }

  /** Container-consistency audit ([[Multimodal.formatReason]]) over REAL
    * encoder outputs: doc_id % 7 selects both the actual container written
    * (javax.imageio png/jpeg/gif/bmp, a hand-built RIFF/WEBP header, or
    * deterministic non-matching garbage bytes) and the CLAIMED `fmt`
    * string, so the oracle re-derives sniffed container + verdict from id
    * arithmetic alone while the Spark side sniffs real magic bytes.
    * Exercises the `jpg`→`jpeg` claim normalization (id%7==1), case
    * normalization (`GIF`, id%7==3), the mismatch path (jpeg bytes
    * claimed png, id%7==2) and the unknown-container path (id%7==6). */
  def q51FormatAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.ImageKernels
    val ids = t(spark, dir, "documents").filter(col("doc_id") < 210)
      .select(col("doc_id")).as[Long].repartition(8)
    val rows = ids.map { id =>
      val m = (id % 7).toInt
      def enc(fmt: String): Array[Byte] = {
        val img = new java.awt.image.BufferedImage(8, 6,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = img.createGraphics()
        val v = ((id * 23) % 256).toInt
        g.setColor(new java.awt.Color(v, v, v)); g.fillRect(0, 0, 8, 6); g.dispose()
        ImageKernels.encode(img, fmt)
      }
      val bytes: Array[Byte] = m match {
        case 0 => enc("png")
        case 1 | 2 => enc("jpg")
        case 3 => enc("gif")
        case 4 => enc("bmp")
        case 5 => "RIFF\u0000\u0000\u0000\u0000WEBPVP8 ".getBytes("ISO-8859-1")
        // consecutive byte values mod 251 can never spell a magic prefix
        case _ => Array.tabulate(16)(i => ((id + i) % 251).toByte)
      }
      val claim = m match {
        case 0 => "png"
        case 1 => "jpg"
        case 2 => "png"
        case 3 => "GIF"
        case 4 => "bmp"
        case 5 => "webp"
        case _ => "jpeg"
      }
      (id, bytes, claim)
    }.toDF("doc_id", "bytes", "fmt")
    rows.select(col("doc_id"),
        graft.functions.ImageFunctions.sniff_image_format(col("bytes")).as("sniffed"),
        coalesce(Multimodal.formatReason(col("bytes"), col("fmt")), lit("kept"))
          .as("reason"))
      .orderBy("doc_id")
  }

  /** Image-sitemap pair expansion ([[graft.sources.Sitemaps.expandImages]])
    * over per-doc urlset bodies BUILT with engine string functions: each
    * sitemap carries a captioned jpg block (CDATA caption, padded loc), an
    * uncaptioned png block, a loc-less block (dropped), and — every 50th
    * doc — a SHARED image URL under a doc-dependent caption, so the
    * min-non-null-caption determinism rule is exercised. The oracle
    * rebuilds the pair relation with its own string functions and replays
    * the grouping in SQL. */
  def q52SitemapImages(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").filter(col("doc_id") < 300)
      .select(col("doc_id").cast("string").as("id"))
    val xml = concat(
      lit("<urlset><url><loc>http://s.com/p"), col("id"), lit("</loc>"),
      lit("<image:image><image:loc> http://img.com/i"), col("id"),
      lit(".jpg </image:loc><image:caption><![CDATA[cap "),
      expr("cast(cast(id as bigint) % 9 as string)"),
      lit("]]></image:caption></image:image>"),
      lit("<image:image><image:loc>http://img.com/j"), col("id"),
      lit(".png</image:loc></image:image>"),
      lit("<image:image><image:caption>orphan</image:caption></image:image>"),
      when(expr("cast(id as bigint) % 50 = 0"),
        concat(lit("<image:image><image:loc>http://img.com/shared.jpg" +
          "</image:loc><image:caption>cap "),
          expr("cast(cast(id as bigint) % 9 as string)"),
          lit("</image:caption></image:image>")))
        .otherwise(lit("")),
      lit("</url></urlset>"))
    val pages = docs.select(
      concat(lit("http://s.com/sm"), col("id"), lit(".xml")).as("url"),
      xml.as("html"))
    val roots = docs.select(
      concat(lit("http://s.com/sm"), col("id"), lit(".xml")).as("url"))
    graft.sources.Sitemaps.expandImages(pages, roots).orderBy("url")
  }

  /** PSNR-verified phash near-dup ([[Multimodal.verifiedPhashDup]]):
    * consecutive ids share pixel content (ck = id/2); the odd id carries a
    * 1-pixel perturbation (+1 on one green value) — a lightly-edited true
    * duplicate: phash stays within the hamming radius (measured ≤ 6 over
    * this corpus; radius 8 leaves margin) and decoded-pixel PSNR is ~84 dB
    * ≥ the 40 dB contract bar. Distinct contents either differ in size
    * (PSNR = NaN — exercising the Spark NaN-orders-above-everything
    * guard) or in pixels (max same-size cross-content PSNR measured
    * 31.4 dB, an 8.6 dB margin below the bar), even though some distinct
    * GRADIENTS collide at phash hamming 0 and DO enter the candidate set —
    * the pixel verification alone removes them. The verified pair set is
    * therefore exactly the consecutive pairs, stated in closed form by the
    * oracle. */
  def q53VerifiedPhashDup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ids = t(spark, dir, "documents").filter(col("doc_id") < 200)
      .select(col("doc_id")).as[Long].repartition(8)
    val media = ids.map { id =>
      val ck = id / 2
      val w = 40 + (ck % 16).toInt
      val h = 30 + (ck % 8).toInt
      val img = graft.sources.ImageGen.render(ck, seed = 19L, w = w, h = h)
      if (id % 2 == 1) {
        val rgb = img.getRGB(1, 1)
        val g = (rgb >> 8) & 0xff
        val g2 = if (g == 255) g - 1 else g + 1
        img.setRGB(1, 1, (rgb & 0xffff00ff) | (g2 << 8))
      }
      (id, graft.functions.ImageKernels.encode(img, "png"))
    }.toDF("doc_id", "bytes")
    Multimodal.verifiedPhashDup(media, "doc_id", "bytes", maxHamming = 8)
      .select(col("d1"), col("d2")).orderBy("d1")
  }

  /** Copy-on-write keep-best MERGE upsert
    * ([[graft.sources.IceLite.mergeUpsertBest]]) under the hash-exact
    * gate: a base snapshot (keys < 200, quality 50) takes a staged batch
    * where every key 0..249 arrives TWICE (doc_id and doc_id+250, distinct
    * qualities (doc_id*17)%100 — the staged dedup must keep the max) and
    * the merge upgrades exactly the keys whose winning quality beats 50,
    * inserts keys 200..249, and leaves the rest untouched. The oracle
    * replays the dedup + merge relationally (window + full outer join) —
    * an independent recomputation of the upsert semantics, read back from
    * the actual on-disk table (exclusion-aware reader included). */
  def q54MergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val base = docs.filter(col("doc_id") < 200)
      .select(col("doc_id").as("k"), lit(50L).as("q"),
        concat(lit("old"), col("doc_id").cast("string")).as("v"))
    val staged = docs.filter(col("doc_id") < 500)
      .select((col("doc_id") % 250).as("k"),
        (col("doc_id") * 17 % 100).as("q"),
        concat(lit("new"), col("doc_id").cast("string")).as("v"))
    val table = new graft.sources.IceLite(spark,
      java.nio.file.Files.createTempDirectory("q54-icelite-").toString,
      partition = Some(graft.sources.IceLite.phashPartition("k")))
    table.mergeInsert(base, "k")
    table.mergeUpsertBest(staged, "k", "q")
    table.read().select("k", "q", "v").orderBy("k")
  }

  /** Sitemap `<lastmod>` entry extraction + W3C-datetime recency parsing
    * ([[graft.functions.ExtractSitemapEntries]] →
    * [[graft.sources.Sitemaps.recencyRelation]]) with a closed-form
    * oracle: the XML is BUILT with engine expressions from doc_id
    * (plain-date / CDATA-datetime / missing / garbage lastmod by id % 4,
    * every instant id arithmetic over a fixed epoch base), so DuckDB
    * re-derives each URL's claim count and freshest epoch from doc_id
    * directly — the extract + parse pipeline is independently recomputed,
    * never restated. Session tz is UTC (Verify), so the date-only form
    * parses to exact midnight epochs on the Spark side. */
  def q55SitemapRecency(spark: SparkSession, dir: String): DataFrame = {
    val base = 1767225600L // 2026-01-01T00:00:00Z
    val lastmod = when(col("doc_id") % 4 === 0,
        concat(lit("<lastmod>"),
          date_format(timestamp_seconds(lit(base) + col("doc_id") % 50 * 86400),
            "yyyy-MM-dd"), lit("</lastmod>")))
      .when(col("doc_id") % 4 === 1,
        concat(lit("<lastmod><![CDATA[ "),
          date_format(timestamp_seconds(lit(base) + col("doc_id") * 3600),
            "yyyy-MM-dd'T'HH:mm:ss'Z'"), lit(" ]]></lastmod>")))
      .when(col("doc_id") % 4 === 3,
        concat(lit("<lastmod>not-a-date-"), col("doc_id").cast("string"),
          lit("</lastmod>")))
      .otherwise(lit(""))
    val entries = t(spark, dir, "documents")
      .select(concat(
        lit("<urlset><url><loc>http://s.com/p"),
        (col("doc_id") % 100).cast("string"), lit("</loc>"), lastmod,
        lit("</url><url><loc> http://s.com/q"),
        (col("doc_id") % 7).cast("string"), lit(" </loc></url></urlset>")).as("xml"))
      .select(explode(
        graft.functions.UrlFunctions.extract_sitemap_entries(col("xml"))).as("e"))
      .select(col("e.loc").as("url"), col("e.lastmod").as("lastmod"))
    graft.sources.Sitemaps.recencyRelation(entries)
      .groupBy("url")
      .agg(count(lit(1)).as("claims"),
        count(col("lastmod")).as("with_lastmod"),
        max(col("lastmod").cast("long")).as("freshest_epoch"))
      .orderBy("url")
  }

  /** Pinned-sampling resample + header-dims probe with a closed-form
    * oracle: gradient PNGs whose pixel (x,y) is the gray value
    * `(x·37 + y·11 + id·7) mod 256` at id-derived sizes, pushed through
    * `image_resample(·, 8, 4, 'nearest')` (floor-division point sample —
    * every output pixel is stated by arithmetic) and `image_stats`. The
    * mean over the 32 sampled gray values is an exact dyadic double
    * (integer sum / 32), so the oracle re-derives it bit-exactly by
    * replaying the sampling arithmetic in SQL; `src_w`/`src_h` come from
    * the header-only `image_dims` probe and must equal the constructed
    * sizes. */
  def q56TrainingResample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.ImageKernels
    import graft.functions.{ImageFunctions => IF}
    val ids = t(spark, dir, "documents").filter(col("doc_id") < 192)
      .select(col("doc_id")).as[Long].repartition(8)
    val media = ids.map { id =>
      val w = 8 + (id % 5).toInt; val h = 6 + (id % 3).toInt
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val v = ((x * 37 + y * 11 + id * 7) % 256).toInt
          img.setRGB(x, y, (v << 16) | (v << 8) | v)
          x += 1
        }
        y += 1
      }
      (id, ImageKernels.encode(img, "png"))
    }.toDF("doc_id", "bytes")
    media.select(col("doc_id"),
        IF.image_dims(col("bytes")).getField("width").as("src_w"),
        IF.image_dims(col("bytes")).getField("height").as("src_h"),
        IF.image_stats(IF.image_resample(col("bytes"), 8, 4, "nearest"))
          .getField("mean_luma").as("mean_luma"))
      .orderBy("doc_id")
  }

  /** CLIP-score-style pair-alignment gate
    * ([[graft.ops.Multimodal.alignmentGate]]): deterministic pairs from
    * the embeddings table — each even vec_id is a pair's image embedding,
    * the following odd vec_id its caption embedding — scored with the
    * codegen'd double-precision cosine fold and gated at 0.05. Both the
    * kept and the audited side are returned with the gate's verdict so
    * the oracle checks the partition, not just the arithmetic; DuckDB
    * replays score and verdict with list_dot_product over the same
    * double-cast embeddings. */
  def q57PairAlignment(spark: SparkSession, dir: String): DataFrame = {
    val e = t(spark, dir, "embeddings")
    val img = e.filter(pmod(col("vec_id"), lit(2)) === 0)
      .select((col("vec_id") / 2).cast("long").as("pair_id"),
        col("embedding").as("ie"))
    val cap = e.filter(pmod(col("vec_id"), lit(2)) === 1)
      .select(((col("vec_id") - 1) / 2).cast("long").as("pair_id"),
        col("embedding").as("ce"))
    val (kept, audit) = graft.ops.Multimodal.alignmentGate(
      img.join(cap, Seq("pair_id")), "ie", "ce", minScore = 0.05)
    kept.select(col("pair_id"), col("alignment"), lit(1).as("is_aligned"))
      .unionByName(audit.select(col("pair_id"), col("alignment"),
        lit(0).as("is_aligned")))
      .orderBy("pair_id")
  }

  def q44RepetitionStats(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"),
        graft.functions.TextFunctions.repetition_stats(col("text")).as("r"))
      .select(col("doc_id"), col("r.n_tokens").as("n_tokens"),
        col("r.top_token_frac").as("top_token_frac"),
        col("r.n_bigrams").as("n_bigrams"),
        col("r.top_bigram_frac").as("top_bigram_frac"))
      .orderBy("doc_id")

  /** Span-level exact-substring dedup ([[graft.ops.Dedup.dropDuplicateSpans]],
    * Lee et al. 2022): every 8-token window occurring at ≥2 (doc, position)
    * sites is removed from every document. The synthetic corpus carries
    * planted boilerplate (47 docs share spans at sf0.01, 24 are duplicated
    * in full), so the oracle checks real removals, partial survivors, AND
    * fully-emptied docs; DuckDB replays windows, occurrence counts, covered
    * positions, and the token-level reconstruction relationally. */
  def q58DuplicateSpans(spark: SparkSession, dir: String): DataFrame =
    Dedup.dropDuplicateSpans(t(spark, dir, "documents"), "doc_id", "text", n = 8)
      .orderBy("doc_id")

  /** Manifest-level key-membership skipping
    * ([[graft.sources.IceLite.readWhereKeyIn]]) under the hash-exact gate:
    * a real on-disk table (keyBloomCol = k) takes two appends and a
    * MERGE-INTO whose staged batch half-overlaps the stored keys, then
    * three Bloom-pruned point-lookup reads off the physical table —
    * present keys, merge-inserted keys, and an absent key. The oracle
    * replays append + WHEN-NOT-MATCHED-INSERT + the lookups relationally;
    * any false negative in the Bloom path (a skipped batch that held a
    * key) breaks a row. */
  def q61BloomLookup(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    def part(lo: Long, hi: Long, tag: String) =
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .select(col("doc_id").as("k"),
          concat(lit(tag), col("doc_id").cast("string")).as("v"))
    val table = new graft.sources.IceLite(spark,
      java.nio.file.Files.createTempDirectory("q61-icelite-").toString,
      keyBloomCol = Some("k"))
    table.append(part(0, 100, "a"))
    table.append(part(100, 200, "b"))
    // WHEN NOT MATCHED INSERT: 150..199 already stored (kept as b…),
    // 200..249 novel (inserted as c…)
    table.mergeInsert(part(150, 250, "c"), "k")
    def look(label: String, keys: Long*) =
      table.readWhereKeyIn(keys).select(lit(label).as("part"), col("k"), col("v"))
    look("one", 7L, 42L, 99L)
      .unionByName(look("two", 120L, 180L, 205L))
      .unionByName(look("three", 160L, 999999L))
      .orderBy("part", "k")
  }

  /** Difference hash ([[graft.functions.DHash64]]) in closed form: 9×8
    * grayscale PNGs whose pixel (x,y) is `(doc_id·7 + x·13 + y·29) mod 256`
    * — the 9×8 area resample is the identity (every box is one source
    * pixel; round-half-up of an integer is itself) and gray luma is the
    * value, so each of the 64 comparison bits is stated by the generator
    * arithmetic alone and DuckDB reassembles the signed 64-bit hash
    * bit-by-bit. Any deviation in the resample, the luma formula, or the
    * bit layout breaks the hash on some id (256 ids cover every bit
    * pattern direction the modulus wrap produces). */
  def q60DHash(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ids = t(spark, dir, "documents").filter(col("doc_id") < 256)
      .select(col("doc_id")).as[Long].repartition(8)
    val media = ids.map { id =>
      val img = new java.awt.image.BufferedImage(9, 8,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 9) {
          val v = ((id * 7 + x * 13 + y * 29) % 256).toInt
          img.setRGB(x, y, (v << 16) | (v << 8) | v)
          x += 1
        }
        y += 1
      }
      (id, graft.functions.ImageKernels.encode(img, "png"))
    }.toDF("doc_id", "bytes")
    media.select(col("doc_id"),
        graft.functions.ImageFunctions.dhash64(col("bytes")).as("dhash"))
      .orderBy("doc_id")
  }

  /** Byte-exact payload dedup under the driver gate
    * ([[graft.ops.Multimodal.byteExactWinners]]): 400 REAL PNG payloads
    * whose pixels are a pure function of `doc_id % 25`, so the corpus
    * carries exactly 25 byte-identical content groups of 16 copies each.
    * The Spark side groups by `sha2(bytes, 256)` over the actual encoded
    * bytes; the oracle replays group membership from the generator
    * arithmetic (same pixels ⇒ same lossless PNG bytes ⇒ same digest) —
    * a digest that splits a group, merges two, or a winner that is not
    * the minimum id breaks the hash. */
  def q62ByteExact(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ids = t(spark, dir, "documents").filter(col("doc_id") < 400)
      .select(col("doc_id")).as[Long].repartition(8)
    val media = ids.map { id =>
      val g = id % 25
      val img = new java.awt.image.BufferedImage(12, 10,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < 10) {
        var x = 0
        while (x < 12) {
          val v = ((g * 17 + x * 31 + y * 47) % 256).toInt
          img.setRGB(x, y, (v << 16) | (v << 8) | v)
          x += 1
        }
        y += 1
      }
      (id, graft.functions.ImageKernels.encode(img, "png"))
    }.toDF("doc_id", "bytes")
    graft.ops.Multimodal.byteExactWinners(media, "bytes", "doc_id")
      .orderBy("doc_id")
  }

  /** IceLite manifest-level data skipping under the driver gate
    * ([[graft.sources.IceLite.readWhere]], q54 on-disk-table pattern):
    * two appends, a keep-best upsert that MOVES the upgraded rows' stats
    * values (full-rewrite batch gets a fresh recorded range), a third
    * append, then three range reads off the physical table — one hitting
    * only the rewrite batch, one only its tail, one spanning. The DuckDB
    * oracle replays the upsert arithmetic and the range predicates
    * relationally; any stats-pruning bug that loses or resurrects a row
    * breaks the hash. Scan-file pruning itself is asserted in
    * IceLiteMaintenanceSpec (inputFiles), which a result hash cannot see. */
  def q59StatsSkipping(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").filter(col("doc_id") < 300)
      .select(col("doc_id").as("k"), (col("doc_id") * 2).as("r"), lit(1).as("q"))
    val table = new graft.sources.IceLite(spark,
      java.nio.file.Files.createTempDirectory("q59-icelite-").toString,
      statsCol = Some("r"))
    table.append(docs.filter(col("k") < 100))
    table.append(docs.filter(col("k") >= 100 && col("k") < 200))
    table.mergeUpsertBest(docs.filter(col("k") < 50)
      .withColumn("r", col("r") + 1000).withColumn("q", lit(2)), "k", "q")
    table.append(docs.filter(col("k") >= 200))
    def part(name: String, lo: Long, hi: Long) =
      table.readWhere(lo, hi).select(lit(name).as("part"), col("k"), col("r"))
    part("up", 1000, 2000)
      .unionByName(part("mid", 450, 550))
      .unionByName(part("low", 100, 160))
      .orderBy("part", "k")
  }

  /** Leakage-safe split ([[graft.ops.Dedup.leakageSafeSplit]]) over the
    * q35 planted image corpus (dupEvery=8 ⇒ component = 7 for ids ≡ 7
    * mod 8, else the id itself): near-dup components land WHOLE in
    * train/val/test. The oracle re-derives the component from id
    * arithmetic and replays the md5 bucket assignment — a component
    * straddling a boundary, or a bucket-arithmetic drift, breaks the
    * hash. */
  def q63LeakageSplit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.sources.ImageGen
    val ids = t(spark, dir, "documents")
      .filter(col("doc_id") < 48).select(col("doc_id")).as[Long]
      .repartition(8)
    val imgs = ids.mapPartitions(_.map { id =>
      (id, ImageGen.imageFor(id, seed = 42L, dupEvery = 8).phash)
    }).toDF("doc_id", "phash")
    val pairs = Multimodal.phashNearDup(imgs, "doc_id", maxHamming = 1)
    Dedup.leakageSafeSplit(imgs, "doc_id", pairs,
      splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .orderBy("doc_id")
  }

  /** Caption-frequency boilerplate cap
    * ([[graft.ops.Multimodal.captionCap]]): 40% of the pairs share one
    * templated caption (the hot key the salted two-phase top-k exists
    * for); at most 3 pairs per caption survive, in ascending-id order.
    * The oracle computes the SAME kept set with a plain global window —
    * equality proves the salted construction admits bit-identically. */
  def q64CaptionCap(spark: SparkSession, dir: String): DataFrame = {
    val pairs = t(spark, dir, "documents").filter(col("doc_id") < 500)
      .select(col("doc_id"),
        when(col("doc_id") % 5 < 2, lit("stock photo"))
          .otherwise(substring(col("text"), 1, 40)).as("caption"))
    Multimodal.captionCap(pairs, "doc_id", "caption", cap = 3, saltBuckets = 8)
      .orderBy("doc_id")
  }

  /** Benchmark-image decontamination
    * ([[graft.ops.Multimodal.imageDecontaminate]]): corpus signatures are
    * id arithmetic; every 50th id plants an eval signature `bit_count(d%4)`
    * bits away from corpus id d+3 (plus whatever other corpus rows land
    * within radius 2 — the 64-multiples lattice has genuine extra
    * neighbors). The DuckDB oracle is the BRUTE-FORCE quadratic scan —
    * equality proves the pigeonhole candidate join finds exactly the pairs
    * an exhaustive comparison would. */
  def q65ImageDecontam(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").filter(col("doc_id") < 500)
    val corpus = docs.select(col("doc_id"), (col("doc_id") * 64).as("sig"))
    val evalSet = docs.filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 100000L).as("doc_id"),
        ((col("doc_id") + 3) * 64 + col("doc_id") % 4).as("sig"))
    Multimodal.imageDecontaminate(corpus, evalSet, "doc_id", "sig",
      maxHamming = 2)
      .orderBy("doc_id")
  }
}
