package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data curation: language-ID
  * heuristics, quality scoring, token counting, rolling-hash document
  * fingerprinting. Pure column programs (codegen'd, no UDFs) — every
  * operator is a narrow projection over the corpus except the explicit
  * rollups.
  */
object TextOps {

  val EnStopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is",
    "on", "for", "with", "as", "by", "at", "an", "or")

  private def toks(textCol: String): Column = split(col(textCol), " ")

  /** Stopword-ratio language scoring: appends n_tokens, n_stop, stop_ratio
    * and a pred_en flag (ratio ≥ threshold). */
  def langIdEn(df: DataFrame, textCol: String, threshold: Double = 0.08,
      stopwords: Seq[String] = EnStopwords): DataFrame = {
    val stopList = stopwords.map(s => s"'$s'").mkString(", ")
    df.withColumn("n_tokens", size(toks(textCol)).cast("long"))
      .withColumn("n_stop",
        expr(s"size(filter(split($textCol, ' '), t -> t in ($stopList)))").cast("long"))
      .withColumn("stop_ratio",
        round(col("n_stop").cast("double") / col("n_tokens").cast("double"), 6))
      .withColumn("pred_en", (col("stop_ratio") >= threshold).cast("int"))
  }

  /** Length/diversity quality metrics + a boolean gate. */
  def qualityMetrics(df: DataFrame, textCol: String, nCharsCol: String,
      minTokens: Int = 10, minDistinctRatio: Double = 0.3): DataFrame =
    df.withColumn("n_tokens", size(toks(textCol)).cast("long"))
      .withColumn("n_distinct", size(array_distinct(toks(textCol))).cast("long"))
      .withColumn("distinct_ratio",
        round(col("n_distinct").cast("double") / col("n_tokens").cast("double"), 6))
      .withColumn("avg_token_len",
        round((col(nCharsCol) - (col("n_tokens") - 1)).cast("double") /
          col("n_tokens").cast("double"), 6))
      .withColumn("quality_ok",
        (col("n_tokens") >= minTokens && col("distinct_ratio") >= minDistinctRatio).cast("int"))

  /** Whitespace token count per row (cheap BPE-free budget estimator). */
  def tokenCount(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("n_tokens", size(toks(textCol)).cast("long"))

  /** BPE-ish subword-budget estimator: counts maximal runs of letters,
    * digits, and other-symbol spans (the word-level pre-split every BPE
    * tokenizer applies before merges) — a closer proxy for LLM token cost
    * than whitespace counting. */
  val BpePattern = "[a-z]+|[0-9]+|[^a-z0-9 ]+"
  def bpeTokenCount(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("n_bpe_tokens",
      size(expr(s"regexp_extract_all($textCol, '$BpePattern', 0)")).cast("long"))

  /** Corpus token totals grouped by the given dimensions. */
  def tokenRollup(df: DataFrame, textCol: String, nCharsCol: String,
      dims: String*): DataFrame =
    tokenCount(df, textCol)
      .groupBy(dims.map(col): _*)
      .agg(sum("n_tokens").as("tokens"), count(lit(1)).as("docs"),
        sum(nCharsCol).as("chars"))

  /** Winnowing-style fingerprint: minimum polynomial hash over character
    * 8-grams (integer math only — portable across engines). Computed by a
    * codegen'd native expression ([[graft.functions.TextFingerprint]]);
    * the equivalent SQL HOF formulation runs ~100× slower interpreted. */
  def fingerprint(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("fp", graft.functions.TextFunctions.text_fingerprint(col(textCol)))

  /** Gopher-style repetition filters: the fraction of a document occupied
    * by its single most frequent token and most frequent word bigram —
    * the standard signals for boilerplate / degenerate generation in
    * training-data curation (Rae et al. 2021 §A1.1 use the same family of
    * top-n-gram-fraction thresholds). Relational shape, not per-row HOFs:
    * token and bigram frequencies are two grouped aggregations (hash-
    * partitioned by document), so the most frequent term of a 10^6-token
    * outlier document never materializes per-row quadratic work.
    *
    * Output per id: n_tokens, top_token_frac, n_bigrams, top_bigram_frac,
    * repetition_ok (1 iff both fractions are at or below their caps; a
    * sub-2-token document has no bigrams and passes the bigram gate).
    */
  def repetitionMetrics(df: DataFrame, idCol: String, textCol: String,
      maxTopTokenFrac: Double = 0.12, maxTopBigramFrac: Double = 0.08): DataFrame = {
    val t = df.select(col(idCol), split(col(textCol), " ").as("__toks"))
    val tok = t.select(col(idCol), explode(col("__toks")).as("token"))
    val top1 = tok.groupBy(idCol, "token").agg(count(lit(1)).as("c"))
      .groupBy(idCol).agg(max("c").as("__top_c"), sum("c").as("n_tokens"))
    val bg = t.filter(size(col("__toks")) >= 2)
      .select(col(idCol), explode(expr(
        "transform(sequence(1, size(__toks) - 1), " +
          "i -> array_join(slice(__toks, i, 2), ' '))")).as("bgram"))
    val top2 = bg.groupBy(idCol, "bgram").agg(count(lit(1)).as("c"))
      .groupBy(idCol).agg(max("c").as("__top_bc"), sum("c").as("n_bigrams"))
    top1.join(top2, Seq(idCol), "left")
      .withColumn("top_token_frac",
        round(col("__top_c").cast("double") / col("n_tokens").cast("double"), 6))
      .withColumn("top_bigram_frac",
        round(col("__top_bc").cast("double") / col("n_bigrams").cast("double"), 6))
      .withColumn("repetition_ok",
        (col("top_token_frac") <= maxTopTokenFrac &&
          (col("top_bigram_frac").isNull ||
            col("top_bigram_frac") <= maxTopBigramFrac)).cast("int"))
      .select(col(idCol), col("n_tokens"), col("top_token_frac"),
        col("n_bigrams"), col("top_bigram_frac"), col("repetition_ok"))
  }

  /** PII detection + redaction patterns: email addresses, (fictional-range)
    * phone numbers, dotted-quad IPv4 — each a lowest-common-denominator
    * regex that parses identically under Java regex (Spark) and RE2
    * (DuckDB/engines): no lookaround, no backreferences. */
  val EmailPattern = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhonePattern = "555-[0-9]{4}"
  val Ipv4Pattern = "([0-9]{1,3}\\.){3}[0-9]{1,3}"

  /** Deterministic hash-bucket mixture sampling — the data-mixing stage of
    * a training pipeline: each stratum (source/domain) keeps a configured
    * fraction of its documents, selected by a salted md5 bucket of the id
    * so the SAME rows are kept on any engine, at any parallelism, on any
    * re-run (and a different `salt` draws an independent sample, e.g. a
    * held-out split). A pure narrow projection + filter: no shuffle, no
    * sampling state, works identically on a 10^10-row corpus. Appends
    * `bucket` (0–9999) and `keep_rate`, keeps rows with
    * `bucket < keep_rate · 10000`. */
  def hashSample(df: DataFrame, idCol: String, strataCol: String,
      rates: Map[String, Double], defaultRate: Double,
      salt: String = "mix"): DataFrame = {
    val rate = rates.toSeq.sortBy(_._1).foldLeft(lit(defaultRate)) {
      case (acc, (k, v)) => when(col(strataCol) === k, lit(v)).otherwise(acc)
    }
    df.withColumn("bucket", Dedup.saltedBucket(salt, col(idCol)))
      .withColumn("keep_rate", rate)
      .filter(col("bucket") < col("keep_rate") * 10000)
  }

  /** Benchmark decontamination: corpus documents sharing at least
    * `minShared` distinct word n-grams with any document of the evaluation
    * set are flagged (with their worst-offending overlap and how many eval
    * docs they hit). The join is the kernel's eval mode on shingle tokens:
    * eval shingles probe the corpus's, with the EVAL side as the
    * posting-list build side — benchmarks are tiny relative to a training
    * corpus, so Catalyst broadcasts them and the corpus side streams
    * map-only; the corpus is never shuffled. Corpus and eval ids may
    * overlap. */
  def contamination(corpus: DataFrame, evalSet: DataFrame, idCol: String,
      textCol: String, ngram: Int = 3, minShared: Long = 2): DataFrame =
    CandidatePairs.sharedKeys(CandidatePairs.tag(
        Dedup.shingleTokens(corpus, idCol, textCol, ngram),
        Dedup.shingleTokens(evalSet, idCol, textCol, ngram)),
        Seq("token"), idCol, CandidatePairs.Eval)
      .filter(col("shared") >= minShared)
      .groupBy(col("d1").as(idCol)).agg(
        max("shared").as("max_shared"),
        count(lit(1)).as("n_eval_hits"))

  /** Sequence packing: assign documents to fixed-token-budget packs,
    * contiguously in id order within each partition column value (language,
    * source shard, …) — the pre-tokenization batching step of a training
    * run, made deterministic so pack membership is reproducible. Packing is
    * inherently sequential per stream; the window is partitioned by the
    * stream key, so streams pack in parallel and no stream's documents
    * cross executors out of order. */
  def packSequences(df: DataFrame, idCol: String, textCol: String,
      partitionCol: String, budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(partitionCol).orderBy(idCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("n_tokens", size(toks(textCol)).cast("long"))
      .withColumn("cum_before", coalesce(sum("n_tokens").over(w), lit(0L)))
      .withColumn("pack_id", expr(s"cum_before div $budget"))
      .select(col(idCol), col(partitionCol), col("n_tokens"),
        col("cum_before"), col("pack_id"))
  }

  /** PII scrub for training corpora: counts and redacts emails, phone
    * numbers, and IPv4 addresses. A pure column program (codegen'd regex
    * kernels) — one projection, no shuffle. Stages run email → phone → IP,
    * and each stage counts matches in the PREVIOUS stage's output, so each
    * count is exactly the number of replacements that stage performed (a
    * phone-shaped digit run inside an email local part is redacted as part
    * of the email, never double-counted as a phone). Appends n_emails /
    * n_phones / n_ips and the redacted text. */
  def piiRedact(df: DataFrame, textCol: String, outCol: String = "redacted"): DataFrame =
    df.withColumn("n_emails",
        size(regexp_extract_all(col(textCol), lit(EmailPattern), lit(0))).cast("long"))
      .withColumn("__s1", regexp_replace(col(textCol), EmailPattern, "<EMAIL>"))
      .withColumn("n_phones",
        size(regexp_extract_all(col("__s1"), lit(PhonePattern), lit(0))).cast("long"))
      .withColumn("__s2", regexp_replace(col("__s1"), PhonePattern, "<PHONE>"))
      .withColumn("n_ips",
        size(regexp_extract_all(col("__s2"), lit(Ipv4Pattern), lit(0))).cast("long"))
      .withColumn(outCol, regexp_replace(col("__s2"), Ipv4Pattern, "<IP>"))
      .drop("__s1", "__s2")
}
