package graft

import graft.ops.{Dedup, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** spark-submit entry for the training-data curation pipeline — the
  * document-side counterpart of `CrawlCli`: one command takes a crawled
  * corpus (parquet) through the canonical curation order
  *
  *   quality gates → dedup (exact + optional near-dup clustering) →
  *   PII redaction → mixture sampling → sequence packing
  *
  * and writes the curated corpus plus per-stage audit relations. Every
  * stage is one of the engine's oracle-verified operators; this entry only
  * composes them and records what each stage dropped (a curation run that
  * cannot explain its drops is unusable for dataset governance).
  *
  * Exit codes follow the CrawlCli convention: 0 success, 2 bad usage,
  * 1 runtime failure.
  */
object CurateCli {

  private val Usage =
    """usage: CurateCli <input-parquet> <output-dir>
      |       [--id-col doc_id] [--text-col text]
      |       [--min-tokens 10] [--min-distinct-ratio 0.3]
      |       [--max-top-token-frac 0.3] [--max-top-bigram-frac 0.2]
      |       [--compress-min R] [--compress-max R]
      |       [--near-dup THRESHOLD] [--ngram 2] [--max-df N]
      |       [--no-pii] [--sample RATE] [--strata-col COL] [--salt mix]
      |       [--pack-budget TOKENS] [--pack-col COL]
      |
      |  <input-parquet>  Corpus with (id, text, ...) columns (any FS scheme)
      |  <output-dir>     Writes curated/ plus audit/ relations
      |  --near-dup T     Also collapse bigram-Jaccard >= T clusters
      |  --max-df N       Drop shingles with document frequency > N before
      |                   the near-dup join (stopword/skew cap)
      |  --compress-min R Quality gate on the DEFLATE compression ratio
      |                   (deflated/raw bytes): drop docs below R — byte-level
      |                   boilerplate token stats can't see (RedPajama-v2
      |                   compression-ratio signal)
      |  --compress-max R ...and docs above R (random/base64-ish payloads)
      |  --drop-spans N   Span-level exact-substring dedup (Lee et al.):
      |                   remove every N-token window occurring at >= 2
      |                   (doc, position) sites corpus-wide; docs reduced to
      |                   nothing are dropped (audit: span_removed)
      |  --span-min-occ M Occurrence threshold for --drop-spans (default 2)
      |  --span-hash      Key the span-occurrence shuffle on xxhash64 of the
      |                   window (8 bytes) instead of the window string — the
      |                   petabyte-corpus trade (SCALE.md 7e): less shuffle
      |                   volume, negligible collision odds
      |  --decontam P     Benchmark decontamination: P is an eval-corpus
      |                   parquet (same id/text column names); docs sharing
      |                   >= --decontam-min distinct word n-grams with ANY
      |                   eval doc drop before dedup (audit:
      |                   dropped_decontam with overlap counts) — an eval
      |                   answer pasted into the crawl must never reach
      |                   training
      |  --decontam-ngram N  Shingle width for --decontam (default 3)
      |  --decontam-min M Minimum shared distinct shingles (default 2)
      |  --sample R       Deterministic hash sample at rate R (0..1];
      |                   per-stratum when --strata-col is given
      |  --pack-budget N  Assign fixed-N-token pack ids (per --pack-col
      |                   stream when given)
      |  --split SPEC     Add a leakage-safe train/val/test column to the
      |                   curated output, keyed on the DEDUP GROUP label
      |                   (the near-dup component under --near-dup, else
      |                   the doc's exact-dup representative id) so
      |                   near-duplicates never straddle an eval boundary.
      |                   SPEC: name:weight[,name:weight...], sum 1, e.g.
      |                   train:0.8,val:0.1,test:0.1""".stripMargin

  private[graft] final case class CliUsageError(msg: String) extends Exception(msg)

  /** `name:weight[,name:weight...]` → validated split spec (weights ≥ 0,
    * sum 1) — shared by the text and image curation CLIs' `--split`. */
  private[graft] def parseSplitSpec(v: String): Seq[(String, Double)] = {
    val parsed = v.split(",").toSeq.map { part =>
      part.split(":") match {
        case Array(n, w) if n.nonEmpty =>
          // names become partition directory values (split=<name>/) —
          // restrict to path-safe characters at parse time
          if (!n.matches("[A-Za-z0-9._-]+"))
            throw CliUsageError(s"--split: name must be path-safe [A-Za-z0-9._-]: '$n'")
          val d = try w.toDouble catch {
            case _: NumberFormatException =>
              throw CliUsageError(s"--split: not a number: '$w'")
          }
          n -> d
        case _ =>
          throw CliUsageError(s"--split: expected name:weight, got '$part'")
      }
    }
    // NaN poisons every comparison below to false, so reject it explicitly
    // (the pipeline must fail at PARSE time, exit 2, not at write time)
    if (parsed.exists(w => w._2.isNaN || w._2 < 0) ||
        !(math.abs(parsed.map(_._2).sum - 1.0) < 1e-9))
      throw CliUsageError(s"--split: weights must be >= 0 and sum to 1: '$v'")
    parsed
  }

  /** Split receipt off the written table's slim `split` column — bounded
    * by the number of named splits; shared by both curation CLIs so the
    * receipt cannot drift between the text and image pipelines. */
  private[graft] def splitCountsOf(spark: SparkSession, curatedDir: String)
      : Map[String, Long] =
    // the cast matters: partition-column type inference turns all-numeric
    // split names (split=1/) into an int column, and getString would throw
    spark.read.parquet(curatedDir)
      .groupBy(col("split").cast("string").as("split")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** `,"splits":{"name":n,...}` (sorted) or empty — the summary-JSON
    * fragment for the split receipt, shared by both CLIs. */
  private[graft] def splitsJson(counts: Map[String, Long]): String =
    if (counts.isEmpty) ""
    else counts.toSeq.sorted
      .map { case (k, v) => s""""$k":$v""" }.mkString(""","splits":{""", ",", "}")

  final case class CurateSummary(
      input: Long,
      droppedQuality: Long,
      droppedDup: Long,
      droppedSample: Long,
      kept: Long,
      droppedSpanEmpty: Long = -1, // -1: --drop-spans not requested
      splitCounts: Map[String, Long] = Map.empty, // empty: --split not requested
      droppedDecontam: Long = -1)  // -1: --decontam not requested

  private[graft] def run(spark: SparkSession, args: Array[String]): CurateSummary = {
    var pos = Vector.empty[String]
    var idCol = "doc_id"; var textCol = "text"
    var minTokens = 10; var minDistinct = 0.3
    var maxTopTok = 0.3; var maxTopBig = 0.2
    var nearDup: Option[Double] = None; var ngram = 2
    var maxDf = Long.MaxValue
    var dropSpans: Option[Int] = None; var spanMinOcc = 2L; var spanHash = false
    var compressMin = Double.NegativeInfinity; var compressMax = Double.PositiveInfinity
    def compressGate = compressMin > Double.NegativeInfinity ||
      compressMax < Double.PositiveInfinity
    var pii = true
    var sample: Option[Double] = None; var strataCol: Option[String] = None
    var salt = "mix"
    var packBudget: Option[Long] = None; var packCol: Option[String] = None
    var splitSpec: Option[Seq[(String, Double)]] = None
    var decontam: Option[String] = None
    var decontamNgram = 3; var decontamMin = 2L
    var i = 0
    def value(flag: String): String = {
      i += 1
      if (i >= args.length) throw CliUsageError(s"$flag requires a value")
      args(i)
    }
    def num[T](flag: String, parse: String => T): T = {
      val v = value(flag)
      try parse(v)
      catch { case _: NumberFormatException =>
        throw CliUsageError(s"$flag: not a number: '$v'") }
    }
    while (i < args.length) {
      args(i) match {
        case "--id-col" => idCol = value("--id-col")
        case "--text-col" => textCol = value("--text-col")
        case "--min-tokens" => minTokens = num("--min-tokens", _.toInt)
        case "--min-distinct-ratio" => minDistinct = num("--min-distinct-ratio", _.toDouble)
        case "--max-top-token-frac" => maxTopTok = num("--max-top-token-frac", _.toDouble)
        case "--max-top-bigram-frac" => maxTopBig = num("--max-top-bigram-frac", _.toDouble)
        case "--near-dup" => nearDup = Some(num("--near-dup", _.toDouble))
        case "--ngram" => ngram = num("--ngram", _.toInt)
        case "--max-df" => maxDf = num("--max-df", _.toLong)
        case "--drop-spans" => dropSpans = Some(num("--drop-spans", _.toInt))
        case "--span-min-occ" => spanMinOcc = num("--span-min-occ", _.toLong)
        case "--span-hash" => spanHash = true
        case "--compress-min" => compressMin = num("--compress-min", _.toDouble)
        case "--compress-max" => compressMax = num("--compress-max", _.toDouble)
        case "--no-pii" => pii = false
        case "--sample" => sample = Some(num("--sample", _.toDouble))
        case "--strata-col" => strataCol = Some(value("--strata-col"))
        case "--salt" => salt = value("--salt")
        case "--pack-budget" => packBudget = Some(num("--pack-budget", _.toLong))
        case "--pack-col" => packCol = Some(value("--pack-col"))
        case "--split" => splitSpec = Some(parseSplitSpec(value("--split")))
        case "--decontam" => decontam = Some(value("--decontam"))
        case "--decontam-ngram" => decontamNgram = num("--decontam-ngram", _.toInt)
        case "--decontam-min" => decontamMin = num("--decontam-min", _.toLong)
        case flag if flag.startsWith("--") => throw CliUsageError(s"unknown flag: $flag")
        case p => pos :+= p
      }
      i += 1
    }
    if (pos.length != 2) throw CliUsageError("input-parquet and output-dir are required")
    // range checks at PARSE time (exit 2): out of range, these values either
    // fail deep in the engine after audits are written (--pack-budget 0
    // divides by zero) or silently degrade the run (--max-df 0 and
    // --near-dup 1.5 turn near-dup off, --ngram 0 means unigrams, a
    // negative budget writes negative pack ids). Comparisons are phrased so
    // that NaN fails them.
    def check(ok: Boolean, msg: String): Unit = if (!ok) throw CliUsageError(msg)
    sample.foreach(r => check(r > 0 && r <= 1, "--sample must be in (0, 1]"))
    nearDup.foreach(t => check(t > 0 && t <= 1, "--near-dup must be in (0, 1]"))
    packBudget.foreach(b => check(b >= 1, "--pack-budget must be >= 1"))
    check(ngram >= 1, "--ngram must be >= 1")
    check(maxDf >= 1, "--max-df must be >= 1")
    check(decontamNgram >= 1, "--decontam-ngram must be >= 1")
    check(decontamMin >= 1, "--decontam-min must be >= 1")
    check(minTokens >= 0, "--min-tokens must be >= 0")
    val Seq(in, outDir) = pos.toSeq
    def audit(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/audit/$name")

    val docs = spark.read.parquet(in)
    val nInput = docs.count()

    // 1. quality gates — per-row metrics plus grouped repetition fractions.
    // LEFT join: a doc with null/empty text produces no repetition row, and
    // it must be DROPPED AND AUDITED, never silently lost (the coalesce
    // turns a missing gate into a failing one)
    val gates = TextOps.repetitionMetrics(docs, idCol, textCol, maxTopTok, maxTopBig)
      .withColumn("tokens_ok", (col("n_tokens") >= minTokens).cast("int"))
    val passCond0 = coalesce(col("repetition_ok"), lit(0)) === 1 &&
      coalesce(col("tokens_ok"), lit(0)) === 1 &&
      coalesce(col("__dr"), lit(0.0)) >= minDistinct
    // byte-level boilerplate/noise gate (off unless a bound is given):
    // DEFLATE ratio catches repetition inside a single token and
    // base64-ish noise — shapes the token metrics cannot see
    val passCond =
      if (!compressGate) passCond0
      else passCond0 &&
        coalesce(col("__cr"), lit(-1.0)).between(compressMin, compressMax)
    val withGates0 = docs
      .withColumn("__dr", size(array_distinct(split(col(textCol), " "))).cast("double") /
        size(split(col(textCol), " ")).cast("double"))
      .join(gates.select(col(idCol), col("repetition_ok"), col("tokens_ok")),
        Seq(idCol), "left_outer")
    val withGates =
      if (!compressGate) withGates0
      else withGates0.withColumn("__cr",
        graft.functions.TextFunctions.compression_ratio(col(textCol)))
    val qualityOk = withGates.filter(passCond)
    audit(withGates.filter(!passCond).select(idCol), "dropped_quality")
    val afterQuality = qualityOk
      .drop("__dr", "__cr", "repetition_ok", "tokens_ok").cache()
    val nQuality = afterQuality.count()

    // 1b. optional benchmark decontamination — BEFORE dedup, so a
    // contaminated doc can never survive as its dup cluster's canonical
    // representative. The eval set is the broadcast-small build side of
    // the shingle join (TextOps.contamination); drops re-attach by
    // anti-join on the slim flagged-id relation.
    var flaggedCache: Option[DataFrame] = None
    val decontamed = decontam match {
      case None => afterQuality
      case Some(path) =>
        val evalSet = spark.read.parquet(path)
        // cached: the corpus-side shingle pass feeds BOTH the audit write
        // and the anti-join — without the cache it runs twice
        val flagged = TextOps.contamination(afterQuality, evalSet, idCol,
          textCol, decontamNgram, decontamMin).cache()
        flaggedCache = Some(flagged)
        audit(flagged, "dropped_decontam")
        afterQuality.join(flagged.select(idCol), Seq(idCol), "left_anti")
          .cache()
    }
    val nDecontam = if (decontam.isDefined) decontamed.count() else nQuality

    // 2. dedup: exact always; near-dup clustering when requested
    val exactKeep = Dedup.exact(decontamed, idCol, textCol)
      .select(col("keep_id").as(idCol))
    val exactDeduped = decontamed.join(exactKeep, Seq(idCol))
    // cached like afterQuality: the dedup subtree (exact-dedup agg +
    // keep-join, and with --near-dup the pair generation's keep-join) is
    // re-read by the nDedup count, the PII audit, the nSampled count AND
    // the final write — without the cache each of those re-executes it
    // with --split, the kept rows' dedup-group labels survive the stage:
    // the split column is keyed on them (never the row id — id-hash splits
    // are the leak Dedup.leakageSafeSplit documents)
    var dupLabels: Option[DataFrame] = None
    var groupsCache: Option[DataFrame] = None
    val deduped = (nearDup match {
      case None => exactDeduped
      case Some(t) =>
        val pairs = Dedup.jaccardPairs(exactDeduped, idCol, textCol, t, maxDf, ngram)
        // cached: the jaccard-pairs + connected-components subtree is the
        // pipeline's most expensive stage and feeds the audit, the keep
        // join, and (with --split) the label join — one execution, not 3
        val groups = Dedup.dedupComponents(exactDeduped, idCol, pairs).cache()
        groupsCache = Some(groups)
        audit(groups.filter(col("is_kept") === 0), "dropped_near_dup")
        if (splitSpec.isDefined)
          dupLabels = Some(groups.filter(col("is_kept") === 1)
            .select(col(idCol), col("component").as("__lbl")))
        exactDeduped.join(groups.filter(col("is_kept") === 1).select(idCol), Seq(idCol))
    }).cache()
    val nDedup = deduped.count()

    // 2b. span-level exact-substring dedup (Lee et al. 2022): duplicated
    // N-token windows removed from EVERY doc — the span complement of the
    // whole-document stages above (a doc sharing boilerplate keeps its
    // unique content). Runs after doc dedup so the removed occurrences are
    // the ones a training run would actually see; docs reduced to nothing
    // carry no signal and drop (audited, counted in the summary).
    var cleanedCache: Option[DataFrame] = None
    val spanned = dropSpans match {
      case None => deduped
      case Some(n) =>
        val cleaned = Dedup.dropDuplicateSpans(deduped, idCol, textCol, n,
            spanMinOcc, hashWindows = spanHash)
          .cache() // feeds the audit write + every downstream action
        cleanedCache = Some(cleaned)
        audit(cleaned.filter(col("n_removed") > 0)
          .select(col(idCol), col("n_tokens"), col("n_removed")), "span_removed")
        deduped.drop(textCol)
          .join(cleaned.filter(col("clean_text") =!= "")
            .select(col(idCol), col("clean_text").as(textCol)), Seq(idCol))
    }
    val nSpan = if (dropSpans.isDefined) spanned.count() else nDedup

    // 3. PII redaction — the curated text IS the redacted text
    val redacted =
      if (!pii) spanned
      else {
        val r = TextOps.piiRedact(spanned, textCol)
        audit(r.filter(col("n_emails") + col("n_phones") + col("n_ips") > 0)
          .select(col(idCol), col("n_emails"), col("n_phones"), col("n_ips")), "pii_hits")
        r.drop(textCol, "n_emails", "n_phones", "n_ips")
          .withColumnRenamed("redacted", textCol)
      }

    // 4. deterministic mixture sampling
    val sampled = sample match {
      case None => redacted
      case Some(rate) =>
        // uniform sampling = one synthetic stratum
        val strata = strataCol.getOrElse("__stratum")
        val base = if (strataCol.isDefined) redacted
          else redacted.withColumn("__stratum", lit("all"))
        TextOps.hashSample(base, idCol, strata, Map.empty, rate, salt)
          .drop("bucket", "keep_rate", "__stratum")
    }
    val nSampled = sampled.count()

    // 5. sequence packing
    val packed = packBudget match {
      case None => sampled
      case Some(budget) =>
        // single global stream when no partition column is given
        val pcol = packCol.getOrElse("__stream")
        val base = if (packCol.isDefined) sampled
          else sampled.withColumn("__stream", lit("all"))
        sampled.join(
          TextOps.packSequences(base, idCol, textCol, pcol, budget)
            .select(col(idCol), col("pack_id")), Seq(idCol))
    }

    // optional leakage-safe split column: near-dup component label when the
    // clustering ran, else the doc's exact-dup representative id (the
    // survivor IS the min id of its identical-content group, so the label
    // is already the group key). Downstream stages only REMOVE rows, so
    // the left join re-attaches a label to every survivor.
    // labels render through their STRING form (concat_ws does the same),
    // so a long component 5 and a long id 5 hash identically — and a
    // non-numeric --id-col (uuid strings) labels by the id itself instead
    // of silently casting to null (which would collapse every row into
    // one md5("split:") bucket)
    val written = splitSpec match {
      case None => packed
      case Some(spec) =>
        val labeled = dupLabels match {
          case Some(l) => packed.join(l, Seq(idCol), "left")
            .withColumn("__lbl",
              coalesce(col("__lbl").cast("string"), col(idCol).cast("string")))
          case None => packed.withColumn("__lbl", col(idCol).cast("string"))
        }
        labeled.withColumn("split", Dedup.splitAssign(col("__lbl"), spec))
          .drop("__lbl")
    }
    // with --split, lay the table out by split (split=train/ ...): a
    // training consumer reads exactly one side and the partition column
    // prunes at the path level — no job ever scans the other side's files
    val writer = written.write.mode("overwrite")
    (if (splitSpec.isDefined) writer.partitionBy("split") else writer)
      .parquet(s"$outDir/curated")
    cleanedCache.foreach(_.unpersist())
    deduped.unpersist()
    groupsCache.foreach(_.unpersist())
    flaggedCache.foreach(_.unpersist())
    if (decontam.isDefined) decontamed.unpersist()
    afterQuality.unpersist()
    // nSampled guard: an everything-filtered corpus under partitionBy
    // writes only _SUCCESS (no schema-bearing file), so the read-back
    // would fail — the receipt instead says zero for every named split
    // (still distinguishable from "--split never requested")
    val splitCounts = splitSpec match {
      case None => Map.empty[String, Long]
      case Some(spec) if nSampled == 0 => spec.map(_._1 -> 0L).toMap
      case Some(_) => splitCountsOf(spark, s"$outDir/curated")
    }
    val s = CurateSummary(nInput, nInput - nQuality, nDecontam - nDedup,
      nSpan - nSampled, nSampled,
      if (dropSpans.isDefined) nDedup - nSpan else -1L,
      splitCounts,
      if (decontam.isDefined) nQuality - nDecontam else -1L)
    val spanJson =
      if (s.droppedSpanEmpty >= 0) s""","dropped_span_empty":${s.droppedSpanEmpty}"""
      else ""
    val splitJson = splitsJson(s.splitCounts)
    val deconJson =
      if (s.droppedDecontam >= 0) s""","dropped_decontam":${s.droppedDecontam}"""
      else ""
    println(s"""{"input":${s.input},"dropped_quality":${s.droppedQuality}$deconJson,""" +
      s""""dropped_dup":${s.droppedDup}$spanJson,"dropped_sample":${s.droppedSample},""" +
      s""""kept":${s.kept}$splitJson}""")
    s
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .appName("graft-curate")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32"))
      // document text is a KB-scale payload column — cap the vectorized
      // reader's column batch (see CrawlCli / BENCH.md round 4)
      .config("spark.sql.parquet.columnarReaderBatchSize",
        sys.env.getOrElse("SPARK_GRAFT_PARQUET_BATCH", "1024"))
      .getOrCreate()
    try run(spark, args)
    catch {
      case e: CliUsageError =>
        System.err.println(s"${e.getMessage}\n$Usage"); sys.exit(2)
      case e: Exception =>
        System.err.println(s"Error: ${e.getMessage}"); sys.exit(1)
    } finally spark.stop()
  }
}
