package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document-deduplication operators for training-data pipelines — exact,
  * MinHash+LSH, SimHash, and token-set Jaccard. All hashing is integer-only
  * (md5-hex → int64, modulo before multiply) so results are engine-portable
  * and overflow-free; every stage is a shuffle-conscious DataFrame program:
  * token explosion is a narrow generator, signatures are one hash-partitioned
  * aggregation by document, and candidate generation joins on band buckets
  * (never all-pairs).
  */
object Dedup {

  val DefaultP: Long = 1000000007L
  val DefaultPerms: Seq[(Long, Long)] = Seq((370248451L, 55229L), (414606793L, 94727L),
    (173961109L, 13873L), (873191981L, 71339L))

  /** 60-bit integer token hash: first 15 hex digits of md5. */
  def tokenHash(token: Column): Column =
    conv(substring(md5(token), 1, 15), 16, 10).cast("long")

  /** The engine-portable salted bucket in [0, 10000):
    * `md5("salt:label")` first 15 hex digits mod 10000 — the single
    * definition behind deterministic sampling ([[TextOps.hashSample]])
    * and split assignment ([[splitAssign]]), replayed verbatim by the
    * DuckDB oracles (q37/q63); any drift here breaks the cross-engine
    * replay, which is why there is exactly one copy. */
  def saltedBucket(salt: String, label: Column): Column =
    pmod(tokenHash(concat_ws(":", lit(salt), label)), lit(10000L))

  /** Exact dedup: one row per distinct content fingerprint with the
    * surviving (minimum) id and the copy count. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("fingerprint"))
      .agg(count(lit(1)).as("n_copies"), min(idCol).as("keep_id"))

  /** Distinct word-`n`-gram shingles per document (n=1 ⇒ plain tokens).
    * The tokenization is bound ONCE through a projection (`__toks`): Catalyst
    * does not common-subexpression-eliminate across lambda boundaries, so
    * inlining `split(text)` into the transform body would re-split each row
    * three times — measurable at 100-TB text scale. CollapseProject keeps the
    * binding because the split is non-cheap and referenced more than once. */
  def shingleTokens(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    require(n >= 1, s"dedup: shingle width n=$n must be >= 1")
    if (n == 1)
      df.select(col(idCol), explode(split(col(textCol), " ")).as("token")).distinct()
    else
      df.select(col(idCol), split(col(textCol), " ").as("__toks"))
        .filter(size(col("__toks")) >= n)
        .select(col(idCol), explode(expr(
          s"transform(sequence(1, size(__toks) - ${n - 1}), " +
            s"i -> array_join(slice(__toks, i, $n), ' '))")).as("token"))
        .distinct()
  }

  /** (id, token) relation of distinct whitespace tokens with hash column. */
  def distinctTokens(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(split(col(textCol), " ")).as("token"))
      .distinct()
      .withColumn("h", tokenHash(col("token")))

  /** MinHash signatures: one column `m<i>` per permutation, plus LSH band
    * ids pairing consecutive signature components. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      perms: Seq[(Long, Long)] = DefaultPerms, p: Long = DefaultP): DataFrame = {
    val toks = distinctTokens(df, idCol, textCol)
    val aggs = perms.zipWithIndex.map { case ((a, b), i) =>
      min(expr(s"((h % $p) * $a + $b) % $p")).as(s"m$i")
    }
    val sig = toks.groupBy(idCol).agg(aggs.head, aggs.tail: _*)
    val withBands = (0 until perms.length / 2).foldLeft(sig) { (acc, b) =>
      acc.withColumn(s"band$b", concat_ws(":", col(s"m${2 * b}"), col(s"m${2 * b + 1}")))
    }
    withBands
  }

  /** (id, band) relation: every LSH band bucket each document lands in. */
  def bandBuckets(df: DataFrame, idCol: String, textCol: String,
      perms: Seq[(Long, Long)] = DefaultPerms, p: Long = DefaultP): DataFrame = {
    val sig = minhashSignatures(df, idCol, textCol, perms, p)
    (0 until perms.length / 2).map(b =>
      sig.select(col(idCol), col(s"band$b").as("band"))).reduce(_ unionByName _)
  }

  /** Shared skew guard of both minhash forms: buckets whose population
    * exceeds the cap are dropped whole (one shared implementation so the
    * incremental path can never diverge from the batch semantics). */
  private def capBands(bands0: DataFrame, maxBandPopulation: Long): DataFrame =
    if (maxBandPopulation == Long.MaxValue) bands0
    else {
      val keep = bands0.groupBy("band").agg(count(lit(1)).as("__n"))
        .filter(col("__n") <= maxBandPopulation).select("band")
      bands0.join(keep, Seq("band")) // AQE broadcasts the small keep side
    }

  /** LSH candidate pairs: documents sharing any MinHash band bucket.
    * The join is per-bucket (shuffle on band), not all-pairs.
    *
    * `maxBandPopulation` caps the quadratic-within-bucket blowup: a bucket
    * with n members emits n(n-1)/2 pairs, so one adversarial bucket (e.g.
    * boilerplate that collapses many documents to one signature) can emit
    * more pairs than the rest of the corpus combined at 100 TB. Buckets
    * over the cap are dropped whole; audit them via [[hotBands]].
    */
  def minhashCandidatePairs(df: DataFrame, idCol: String, textCol: String,
      perms: Seq[(Long, Long)] = DefaultPerms, p: Long = DefaultP,
      maxBandPopulation: Long = Long.MaxValue): DataFrame = {
    val bands = capBands(bandBuckets(df, idCol, textCol, perms, p), maxBandPopulation)
    val l = bands.select(col("band"), col(idCol).as("d1"))
    val r = bands.select(col("band"), col(idCol).as("d2"))
    l.join(r, Seq("band")).filter(col("d1") < col("d2"))
      .select("d1", "d2").distinct()
  }

  /** Incremental LSH candidates: the [[minhashCandidatePairs]] of
    * `corpus ∪ delta` that touch the delta, generated by joining only the
    * DELTA's band buckets against the full band relation (cost ∝ delta ×
    * bucket size, never corpus²) — the daily-increment counterpart of
    * [[jaccardPairsIncremental]]. The band-population cap is evaluated over
    * the full relation so capped results equal the batch recompute. Ids
    * must be distinct across the inputs. */
  def minhashCandidatePairsIncremental(corpus: DataFrame, delta: DataFrame,
      idCol: String, textCol: String,
      perms: Seq[(Long, Long)] = DefaultPerms, p: Long = DefaultP,
      maxBandPopulation: Long = Long.MaxValue): DataFrame = {
    val bands = capBands(
      bandBuckets(corpus, idCol, textCol, perms, p)
        .unionByName(bandBuckets(delta, idCol, textCol, perms, p)),
      maxBandPopulation)
    val deltaIds = delta.select(col(idCol)).distinct()
    val l = bands.join(deltaIds, Seq(idCol)).select(col("band"), col(idCol).as("x"))
    val r = bands.select(col("band"), col(idCol).as("y"))
    l.join(r, Seq("band")).filter(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("d1"), greatest(col("x"), col("y")).as("d2"))
      .distinct()
  }

  /** Audit relation for [[minhashCandidatePairs]]' cap: the over-populated
    * band buckets that were dropped, with their populations. */
  def hotBands(df: DataFrame, idCol: String, textCol: String,
      maxBandPopulation: Long,
      perms: Seq[(Long, Long)] = DefaultPerms, p: Long = DefaultP): DataFrame =
    bandBuckets(df, idCol, textCol, perms, p)
      .groupBy("band").agg(count(lit(1)).as("population"))
      .filter(col("population") > maxBandPopulation)

  /** SimHash over distinct-token hash bits (default 16 bits). */
  def simhash(df: DataFrame, idCol: String, textCol: String, bits: Int = 16): DataFrame = {
    val toks = distinctTokens(df, idCol, textCol)
    val bitSums = (0 until bits).map(j =>
      sum(when(expr(s"(h div ${1L << j}) % 2") === 1, 1L).otherwise(-1L)).as(s"s$j"))
    val withSums = toks.groupBy(idCol).agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until bits).map(j =>
      when(col(s"s$j") > 0, lit(1L << j)).otherwise(0L)).reduce(_ + _)
    withSums.select(col(idCol), sig.as("simhash"))
  }

  /** Shared pigeonhole-block construction + skew cap of both hamming
    * forms: the signature splits into maxHamming+1 bit blocks, and block
    * values shared by more than the cap are dropped whole (a block value
    * shared by n documents emits O(n²) candidates). One implementation so
    * the incremental path stays bit-identical to the batch semantics. */
  private def sigBlocks(sig: DataFrame, idCol: String, sigCol: String,
      maxHamming: Int, bits: Int, maxBlockPopulation: Long): DataFrame = {
    val nBlocks = maxHamming + 1
    val bounds = (0 to nBlocks).map(i => i * bits / nBlocks)
    val blocks0 = (0 until nBlocks).map { b =>
      val lo = bounds(b)
      val w = bounds(b + 1) - lo
      val mask = if (w >= 64) lit(-1L) else lit((1L << w) - 1)
      sig.select(col(idCol), col(sigCol).as("__sig"), lit(b).as("blk"),
        shiftright(col(sigCol), lo).bitwiseAND(mask).as("bval"))
    }.reduce(_ unionByName _)
    if (maxBlockPopulation == Long.MaxValue) blocks0
    else {
      val keep = blocks0.groupBy("blk", "bval").agg(count(lit(1)).as("__n"))
        .filter(col("__n") <= maxBlockPopulation).select("blk", "bval")
      blocks0.join(keep, Seq("blk", "bval"))
    }
  }

  /** Near-duplicate pairs of any int64 signature column within a hamming
    * radius, bucketed by pigeonhole: the signature's bits split into
    * `maxHamming + 1` blocks — two signatures within the radius must agree
    * EXACTLY on at least one block — so candidates join on (block index,
    * block value), never all-pairs, and are verified with an exact
    * popcount. The standard hamming-LSH construction for near-dup mining at
    * corpus scale; works over any precomputed signature (SimHash, image
    * phash, fingerprints).
    */
  def hammingPairs(sig: DataFrame, idCol: String, sigCol: String,
      maxHamming: Int = 3, bits: Int = 64,
      maxBlockPopulation: Long = Long.MaxValue): DataFrame = {
    val blocks = sigBlocks(sig, idCol, sigCol, maxHamming, bits, maxBlockPopulation)
    val l = blocks.select(col("blk"), col("bval"), col(idCol).as("d1"), col("__sig").as("s1"))
    val r = blocks.select(col("blk"), col("bval"), col(idCol).as("d2"), col("__sig").as("s2"))
    l.join(r, Seq("blk", "bval")).filter(col("d1") < col("d2"))
      .withColumn("hamming", bit_count(col("s1").bitwiseXOR(col("s2"))))
      .filter(col("hamming") <= maxHamming)
      .select("d1", "d2", "hamming").distinct()
  }

  /** Incremental hamming near-dup pairs: the [[hammingPairs]] of
    * `corpusSig ∪ deltaSig` that touch the delta, generated by joining only
    * the DELTA's pigeonhole blocks against the full block relation — the
    * daily-increment form for any int64 signature (a new image batch's
    * phashes against the standing table, a text increment's SimHashes).
    * The block-population cap is evaluated over the full relation so capped
    * results equal the batch recompute. Ids must be distinct across the
    * inputs. */
  def hammingPairsIncremental(corpusSig: DataFrame, deltaSig: DataFrame,
      idCol: String, sigCol: String, maxHamming: Int = 3, bits: Int = 64,
      maxBlockPopulation: Long = Long.MaxValue): DataFrame = {
    val all = corpusSig.select(col(idCol), col(sigCol))
      .unionByName(deltaSig.select(col(idCol), col(sigCol)))
    val blocks = sigBlocks(all, idCol, sigCol, maxHamming, bits, maxBlockPopulation)
    val deltaIds = deltaSig.select(col(idCol)).distinct()
    val l = blocks.join(deltaIds, Seq(idCol))
      .select(col("blk"), col("bval"), col(idCol).as("x"), col("__sig").as("s1"))
    val r = blocks.select(col("blk"), col("bval"), col(idCol).as("y"), col("__sig").as("s2"))
    l.join(r, Seq("blk", "bval")).filter(col("x") =!= col("y"))
      .withColumn("hamming", bit_count(col("s1").bitwiseXOR(col("s2"))))
      .filter(col("hamming") <= maxHamming)
      .select(least(col("x"), col("y")).as("d1"),
        greatest(col("x"), col("y")).as("d2"), col("hamming"))
      .distinct() // delta–delta pairs arrive in both orientations
  }

  /** SimHash near-duplicate pairs within a hamming radius — [[simhash]]
    * signatures fed through the generic [[hammingPairs]] pigeonhole join. */
  def simhashNearDup(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, bits: Int = 16,
      maxBlockPopulation: Long = Long.MaxValue): DataFrame =
    hammingPairs(simhash(df, idCol, textCol, bits), idCol, "simhash",
      maxHamming, bits, maxBlockPopulation)

  /** Shared stopword/skew cap of both jaccard forms: tokens with document
    * frequency above the cap leave the universe BEFORE sizes are computed
    * (one implementation so the incremental path can never diverge). */
  private def capTokensByDf(toks0: DataFrame, maxDf: Long): DataFrame =
    if (maxDf == Long.MaxValue) toks0
    else {
      val keep = toks0.groupBy("token").agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= maxDf).select("token")
      toks0.join(keep, Seq("token")) // AQE broadcasts the small keep side
    }

  /** Token-set Jaccard similarity for all pairs sharing ≥1 token; rounded to
    * 6 places. Candidate generation is by token co-occurrence (shuffle on
    * token) — quadratic only within a token's posting list.
    *
    * `maxDf` caps the posting-list blowup: a token appearing in n documents
    * emits n(n-1)/2 intersection rows, so stopwords dominate the join at
    * scale. Tokens with document frequency above the cap are removed from
    * the token universe BEFORE set sizes are computed (standard
    * stopword-removal semantics — Jaccard is over the reduced universe);
    * audit the dropped tokens via [[hotTokens]].
    *
    * `ngram > 1` shingles the text into word n-grams first (documents with
    * fewer than `ngram` tokens have an empty shingle set and emit no
    * pairs) — order-sensitive near-dup detection, the form used on large
    * text corpora where unigram sets are too permissive.
    *
    * The call is not lazy: it runs one job, which binds the distinct
    * shingle relation (see the note at the binding).
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, maxDf: Long = Long.MaxValue, ngram: Int = 1): DataFrame = {
    // bind the distinct shingle relation ONCE, before the df cap. The
    // capped relation is referenced 4 times below (both self-join sides,
    // `sizes` twice) and the cap references its input twice more, so an
    // unbound plan derives the shingles 8 times. AQE's stage reuse hides
    // most of that on a plain parquet input (5 reused exchanges, 2
    // shingle Generates in the final plan), but it misses when the input
    // holds a join that AQE re-plans at run time — CurateCli's input, the
    // cached docs joined to the `exact` keep ids: there the final plan of
    // the pair query (300-doc corpus, local[4]) held 26 shuffle exchanges,
    // 15 broadcast exchanges, 16 input scans, 0 reused exchanges and 8
    // Generates, and took 3.2 s (0.9 s with this binding). The eager
    // `localCheckpoint` (as [[connectedComponents]] does for its pair
    // input) makes the generator's cost independent of the caller's plan
    // shape.
    val shingles = shingleTokens(df, idCol, textCol, ngram).localCheckpoint(true)
    val toks = capTokensByDf(shingles, maxDf)
    val sizes = toks.groupBy(idCol).agg(count(lit(1)).as("sz"))
    val l = toks.select(col("token"), col(idCol).as("d1"))
    val r = toks.select(col("token"), col(idCol).as("d2"))
    val inter = l.join(r, Seq("token")).filter(col("d1") < col("d2"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col(idCol).as("d1"), col("sz").as("sz1")), Seq("d1"))
      .join(sizes.select(col(idCol).as("d2"), col("sz").as("sz2")), Seq("d2"))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("sz1") + col("sz2") - col("inter")).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select("d1", "d2", "jaccard")
  }

  /** Incremental near-dup pairs: exactly the [[jaccardPairs]] of
    * `corpus ∪ delta` that TOUCH the delta — computed without ever joining
    * corpus×corpus. The operational shape at 100 TB: a daily crawl
    * increment dedups against an already-deduped corpus, so candidate
    * generation joins delta-side posting lists against the full relation
    * (cost ∝ |delta| × list length, not |corpus|²), while set sizes, the
    * document-frequency cap, and the Jaccard denominator are all computed
    * over the FULL universe so scores equal the batch recompute bit-exactly
    * (delta–delta pairs appear under both join orientations and are
    * canonicalized before counting). Ids must be distinct across the two
    * inputs. Like [[jaccardPairs]], the call runs one job that binds the
    * shingle relation of `corpus ∪ delta` once. */
  def jaccardPairsIncremental(corpus: DataFrame, delta: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      maxDf: Long = Long.MaxValue, ngram: Int = 1): DataFrame = {
    // bound once for the reason given in jaccardPairs
    val shingles = shingleTokens(corpus, idCol, textCol, ngram)
      .unionByName(shingleTokens(delta, idCol, textCol, ngram))
      .localCheckpoint(true)
    val allToks = capTokensByDf(shingles, maxDf)
    val deltaIds = delta.select(col(idCol)).distinct()
    val deltaToks = allToks.join(deltaIds, Seq(idCol)) // capped delta side
    val sizes = allToks.groupBy(idCol).agg(count(lit(1)).as("sz"))
    val l = deltaToks.select(col("token"), col(idCol).as("x"))
    val r = allToks.select(col("token"), col(idCol).as("y"))
    val inter = l.join(r, Seq("token")).filter(col("x") =!= col("y"))
      .select(col("token"), least(col("x"), col("y")).as("d1"),
        greatest(col("x"), col("y")).as("d2"))
      .distinct() // delta–delta pairs arrive in both orientations
      .groupBy("d1", "d2").agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col(idCol).as("d1"), col("sz").as("sz1")), Seq("d1"))
      .join(sizes.select(col(idCol).as("d2"), col("sz").as("sz2")), Seq("d2"))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("sz1") + col("sz2") - col("inter")).cast("double"), 6))
      .filter(col("jaccard") >= threshold)
      .select("d1", "d2", "jaccard")
  }

  /** Audit relation for [[jaccardPairs]]' cap: the hot (stopword-like)
    * tokens that were dropped, with their document frequencies. `ngram` must
    * match the `jaccardPairs` call being audited — both build their token
    * universe through [[shingleTokens]], so the cap and the audit always
    * count document frequencies over the same (unigram or shingled)
    * vocabulary. */
  def hotTokens(df: DataFrame, idCol: String, textCol: String, maxDf: Long,
      ngram: Int = 1): DataFrame =
    shingleTokens(df, idCol, textCol, ngram)
      .groupBy("token").agg(count(lit(1)).as("doc_freq"))
      .filter(col("doc_freq") > maxDf)

  /** Connected components over an undirected pair relation — the stage that
    * turns near-dup PAIRS into dedup GROUPS (a↔b and b↔c must collapse into
    * one cluster even though (a,c) was never emitted as a pair).
    *
    * Alternating large-star/small-star (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14): each round is two
    * grouped aggregations + joins that reattach every edge to the minimum
    * id of a neighborhood, converging in O(log n) rounds regardless of
    * component diameter — the property that matters at corpus scale, where
    * plain min-label propagation needs O(diameter) rounds and a single
    * 10^6-long chain of boilerplate near-dups would stall it. Per-round
    * state is truncated with `localCheckpoint` so plans stay constant-size
    * across iterations (a durable `checkpoint` dir is the cluster-grade
    * swap-in).
    *
    * Returns `(id, component)` for every id appearing in `pairs`, where
    * `component` is the minimum id in the connected component. Self-pairs
    * are ignored; duplicate/reversed pairs are fine.
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "d1",
      bCol: String = "d2", maxIterations: Int = 64): DataFrame = {
    // materialize the pair relation ONCE: `pairs` is typically the output of
    // an expensive candidate generator (token co-occurrence, LSH buckets,
    // cosine verification) and is consumed twice below (vertices + edges) —
    // without this the whole upstream pipeline would execute twice
    val p = pairs
      .select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .localCheckpoint(true)
    val vertices = p.select(explode(array(col("a"), col("b"))).as("id")).distinct()
    // canonical orientation (u > v), self-loops dropped
    var edges = p
      .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(true)
    var edgeCnt = edges.count()
    var converged = edgeCnt == 0L
    var it = 0
    while (!converged && it < maxIterations) {
      // large-star: every neighbor v > u re-attaches to min(Γ(u) ∪ {u})
      val nbrs = edges.unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      val mins = nbrs.groupBy("u")
        .agg(min("v").as("__mn"))
        .select(col("u"), least(col("__mn"), col("u")).as("m"))
      val large = nbrs.join(mins, "u").filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")).distinct()
      // small-star: every smaller neighbor (and u itself) re-attaches to
      // the minimum of u's smaller neighborhood
      val minsS = large.groupBy("u").agg(min("v").as("m"))
      val small = large.join(minsS, "u")
        .filter(col("v") =!= col("m")).select(col("v").as("n"), col("m"))
        .unionByName(minsS.select(col("u").as("n"), col("m")))
        .select(col("n").as("u"), col("m").as("v"))
        .distinct()
        .localCheckpoint(true)
      // convergence = the star pass changed nothing. Both relations are
      // distinct, so equal counts + (small ∖ edges) = ∅ ⇔ set equality.
      // The previous round's count is carried forward (never recomputed)
      // and the anti-join probe only runs when the counts already agree —
      // one count job per round, plus one anti-join job on candidate-
      // convergence rounds; the old `except` (a shuffle-distinct over both
      // relations, every round) is gone.
      val smallCnt = small.count()
      converged = smallCnt == edgeCnt &&
        small.join(edges, Seq("u", "v"), "left_anti").isEmpty
      edges = small
      edgeCnt = smallCnt
      it += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIterations rounds")
    // fixpoint is a star forest: leaves point at their component root
    val labels = edges.select(col("u").as("id"), col("v").as("component"))
      .unionByName(edges.select(col("v").as("id"), col("v").as("component")))
      .groupBy("id").agg(min("component").as("component"))
    vertices.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** Incremental clustering: fold NEW near-dup pairs (e.g. from
    * [[jaccardPairsIncremental]]) into an EXISTING `(id, component)`
    * labeling without re-deriving pairs for the standing corpus. The
    * existing labels are a star forest, so re-used as edges they encode
    * exactly the established equivalences; union with the delta pairs and
    * one more star run converges in a handful of rounds (the input is
    * already mostly stars). Components can only merge, never split —
    * matching the semantics of accumulating evidence. */
  def connectedComponentsIncremental(labels: DataFrame, pairs: DataFrame,
      aCol: String = "d1", bCol: String = "d2"): DataFrame =
    connectedComponents(
      labels.select(col("id").as("d1"), col("component").as("d2"))
        .unionByName(pairs.select(col(aCol).cast("long").as("d1"),
          col(bCol).cast("long").as("d2"))))

  /** Canonical-document selection over a corpus: joins [[connectedComponents]]
    * of the near-dup `pairs` back onto every corpus id — ids in no pair form
    * their own singleton component — and keeps exactly one document (the
    * minimum id) per component. Output: `(idCol, component, is_kept)`. */
  def dedupComponents(corpus: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String = "d1", bCol: String = "d2"): DataFrame = {
    val comp = connectedComponents(pairs, aCol, bCol)
      .select(col("id").as(idCol), col("component"))
    corpus.select(col(idCol)).join(comp, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("component"), col(idCol).cast("long")).as("component"))
      .withColumn("is_kept", (col(idCol) === col("component")).cast("int"))
  }

  /** Canonical selection by QUALITY: like [[dedupComponents]] but the kept
    * member of each component is the one with the highest value in
    * `quality`'s `qualityCol` (ties and missing-quality ids fall back to
    * the smallest id — absent quality sorts as worst). The real curation
    * policy for image near-dup clusters: keep the highest-resolution /
    * highest-entropy copy, not the one with the smallest id. Argmax is a
    * `max(struct(quality, -id))` hash aggregation — map-side partials, no
    * per-component window sort — so the pass adds one agg + one join over
    * the component relation regardless of component sizes. Output:
    * `(idCol, component, is_kept)`. */
  def canonicalByQuality(corpus: DataFrame, idCol: String, pairs: DataFrame,
      quality: DataFrame, qualityCol: String,
      aCol: String = "d1", bCol: String = "d2"): DataFrame = {
    val comp = dedupComponents(corpus, idCol, pairs, aCol, bCol)
      .select(col(idCol), col("component"))
    val withQ = comp.join(
        quality.select(col(idCol), col(qualityCol).cast("double").as("__q")),
        Seq(idCol), "left")
      .withColumn("__q", coalesce(col("__q"), lit(Double.NegativeInfinity)))
    val best = withQ.groupBy("component")
      .agg(max(struct(col("__q"),
        (col(idCol).cast("long") * -1).as("__negid"))).as("__b"))
      .select(col("component"), (col("__b.__negid") * -1).as("__keep"))
    withQ.join(best, Seq("component"))
      .select(col(idCol), col("component"),
        (col(idCol).cast("long") === col("__keep")).cast("int").as("is_kept"))
  }

  /** Near-dup-aware train/val/test split: assigns every row a split such
    * that ALL members of a duplicate component land on the same side — the
    * split is keyed on the component label, not the row id. Hashing row
    * ids (the obvious construction) leaks: two near-duplicate documents
    * hash independently, one lands in train and one in test, and the
    * eval measures memorization. Keying on the component representative
    * makes straddling impossible by construction.
    *
    * Buckets are `md5("salt:component")`'s first 15 hex digits mod 10000
    * (the [[tokenHash]] / hashSample convention — engine-portable, the
    * DuckDB oracle replays it), assigned against cumulative `splits`
    * weights in declaration order. Deterministic across runs AND across
    * corpus growth: appending rows to an existing component cannot move
    * the component (its label is its minimum id, which unions only ever
    * lower — a component's split is stable unless new evidence MERGES two
    * components, which is exactly when it must be re-decided).
    *
    * Scale shape: one connected-components run in (id, id) label space
    * (the pairs come from whatever candidate rung produced them — bytes
    * and text never enter), then a pure column program over the label
    * relation. No window, no extra shuffle beyond the components run. */
  def leakageSafeSplit(corpus: DataFrame, idCol: String, pairs: DataFrame,
      splits: Seq[(String, Double)], salt: String = "split",
      aCol: String = "d1", bCol: String = "d2"): DataFrame = {
    val comp = dedupComponents(corpus, idCol, pairs, aCol, bCol)
      .select(col(idCol), col("component"))
    comp.withColumn("split", splitAssign(col("component"), splits, salt))
  }

  /** The bucket-assignment half of [[leakageSafeSplit]], reusable when the
    * group label is already in hand (a CLI pipeline that just ran the
    * components stage, a signature column that IS the dedup key): maps any
    * label column to a split name by the same portable md5 arithmetic.
    * Splitting on a row id with this is exactly the leakage the operator
    * exists to prevent — key it on the duplicate-group label. */
  def splitAssign(label: Column, splits: Seq[(String, Double)],
      salt: String = "split"): Column = {
    require(splits.nonEmpty, "splitAssign: at least one split required")
    require(splits.forall(_._2 >= 0.0) && math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"splitAssign: weights must be >= 0 and sum to 1, got $splits")
    val bucket = saltedBucket(salt, label)
    val cum = splits.map(_._2).scanLeft(0.0)(_ + _).tail
    splits.init.zip(cum.init).foldRight(lit(splits.last._1): Column) {
      case (((name, _), t), acc) =>
        when(bucket < lit(math.round(t * 10000)), name).otherwise(acc)
    }
  }

  /** Every `n`-token window of every document, with its 1-based start
    * position: `(idCol, pos, win)`. NOT distinct — position multiplicity is
    * the point (span-level dedup counts occurrences, not documents). The
    * tokenization binds once through `__toks` (see [[shingleTokens]]). */
  def spanWindows(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    require(n >= 1, s"dedup: span window n=$n must be >= 1")
    df.select(col(idCol), split(col(textCol), " ").as("__toks"))
      .filter(size(col("__toks")) >= n)
      .select(col(idCol), explode(expr(
        s"transform(sequence(1, size(__toks) - ${n - 1}), " +
          s"i -> struct(i AS pos, array_join(slice(__toks, i, $n), ' ') AS win))")).as("__w"))
      .select(col(idCol), col("__w.pos").as("pos"), col("__w.win").as("win"))
  }

  /** Audit side of [[dropDuplicateSpans]]: the duplicated window strings and
    * their corpus-wide occurrence counts (`(win, n_occurrences)`), descending
    * by count — what the boilerplate actually is, for eyeballing before a
    * destructive span-removal run. */
  def duplicateSpanWindows(df: DataFrame, idCol: String, textCol: String,
      n: Int, minOccurrences: Long = 2L): DataFrame =
    spanWindows(df, idCol, textCol, n)
      .groupBy("win").agg(count(lit(1)).as("n_occurrences"))
      .filter(col("n_occurrences") >= minOccurrences)

  /** Span-level exact-substring dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better") — the span complement of
    * the document-level operators above: a doc that shares boilerplate with
    * others keeps its unique content and loses only the repeated span,
    * where doc-level dedup would either keep or drop it whole.
    *
    * An `n`-token window whose exact text occurs at ≥ `minOccurrences`
    * (doc, position) sites across the corpus (across docs OR repeated inside
    * one doc) is a duplicated span; every token any duplicated window covers
    * is removed. This is the aggressive ALL-occurrences variant: removing
    * every copy is a pure function of the corpus, deterministic under any
    * partitioning — keep-one-copy needs a global occurrence order and makes
    * the survivor partition-dependent. Removal can create new adjacencies in
    * the output, so the result is not guaranteed free of duplicated windows
    * (Lee et al. §4.1 note the same of their reconstruction).
    *
    * Shape at 100 TB: windows are a narrow generator (≈ one (id, pos, win)
    * row per token — document text never rides the shuffle); the duplicate
    * test is ONE hash aggregation on the window string (production would
    * hash windows to int64 first; the string keeps this engine-portable and
    * oracle-exact); covered start positions return to each doc by id
    * equi-join as one array; reconstruction is a per-row HOF over the
    * already-split token array. Per-row cost is O(tokens × dup-starts) worst
    * case — fine at document scale, where starts ≪ tokens.
    *
    * Returns `(idCol, n_tokens, n_removed, <outCol>)`; `outCol` is the
    * surviving tokens rejoined with single spaces ('' if fully removed). */
  def dropDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int, minOccurrences: Long = 2L, outCol: String = "clean_text",
      // the petabyte-scale switch: shuffle 8-byte xxhash64 window keys
      // instead of the window strings (SCALE.md §7e). Same plan shape,
      // ~n× less shuffle volume; an xxhash64 collision could merge two
      // distinct windows' counts (odds ~k²/2⁶⁴), so the default stays
      // exact/oracle-comparable and the flag is the deliberate trade
      hashWindows: Boolean = false): DataFrame = {
    val wins0 = spanWindows(df, idCol, textCol, n)
    val wins =
      if (!hashWindows) wins0
      else wins0.select(col(idCol), col("pos"), xxhash64(col("win")).as("win"))
    val dup = wins.groupBy("win").agg(count(lit(1)).as("__cnt"))
      .filter(col("__cnt") >= minOccurrences)
      .select("win")
    val starts = wins.join(dup, Seq("win"))
      .groupBy(idCol).agg(collect_set("pos").as("__starts"))
    df.select(col(idCol), split(col(textCol), " ").as("__toks"))
      .join(starts, Seq(idCol), "left")
      .withColumn("__kept", when(col("__starts").isNull, col("__toks"))
        .otherwise(expr("filter(__toks, (t, j) -> NOT exists(__starts, " +
          s"p -> p <= j + 1 AND j + 1 <= p + ${n - 1}))")))
      .select(col(idCol),
        size(col("__toks")).cast("long").as("n_tokens"),
        (size(col("__toks")) - size(col("__kept"))).cast("long").as("n_removed"),
        array_join(col("__kept"), " ").as(outCol))
  }
}
