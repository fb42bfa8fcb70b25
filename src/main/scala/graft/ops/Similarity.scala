package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding similarity search: brute-force cosine top-k as the exact
  * baseline, random-hyperplane LSH bucketing as the scale path (candidate
  * generation inside a bucket instead of all-pairs), and cosine near-dup
  * pair mining. Dot products fold the vector sequentially in index order
  * in double precision — deterministic and engine-portable (bit-identical
  * to the SQL `aggregate`-over-`zip_with` fold), computed by the codegen'd
  * [[graft.functions.ArrayDot]] expression so the inner loop JITs instead
  * of interpreting two lambdas per element. Plane weights are
  * integer-derived, so bucket assignment is exactly reproducible anywhere.
  */
object Similarity {

  /** Sequential-fold dot product of two array<double> columns. */
  def dot(a: String, b: String): Column =
    graft.functions.VectorFunctions.array_dot(col(a), col(b))

  def cosine(a: String, b: String): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Exact top-k neighbors of one query vector: broadcast the query, scan
    * the corpus once (the ANN baseline — O(n·d), no shuffle except top-k). */
  def cosineTopK(emb: DataFrame, idCol: String, vecCol: String,
      queryId: Long, k: Int): DataFrame = {
    val e = emb.select(col(idCol), col(vecCol).cast("array<double>").as("e"))
    val q = e.filter(col(idCol) === queryId).select(col("e").as("qe"))
    e.filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .withColumn("cos", round(cosine("e", "qe"), 6))
      .select(col(idCol), col("cos"))
      .orderBy(desc("cos"), col(idCol))
      .limit(k)
  }

  /** Deterministic integer-derived weights of hyperplane `p` (same values
    * the SQL formulation computes per element: `(p*1000003 + d*7919) % 2001
    * - 1000`, cast to double — exactly representable). */
  private def planeWeights(p: Int, dims: Int): Seq[Double] =
    (0 until dims).map(d => ((p.toLong * 1000003L + d.toLong * 7919L) % 2001L - 1000L).toDouble)

  /** Plane p sets bit `1L << p`; the JVM shift is mod 64, so past 63
    * planes two planes would share a bit and recall would silently drop.
    * 63 also keeps every signature a non-negative long. */
  private[graft] val MaxPlanes = 63

  /** Random-hyperplane LSH signature (`planes` bits, at most
    * [[MaxPlanes]]) per vector — one codegen'd dot against each plane's
    * literal weight vector. */
  def lshSignature(emb: DataFrame, idCol: String, vecCol: String,
      planes: Int, dims: Int): DataFrame = {
    require(planes >= 1 && planes <= MaxPlanes,
      s"lshSignature: planes=$planes must be in [1, $MaxPlanes]")
    emb.select(col(idCol), col(vecCol).cast("array<double>").as("e"))
      .select(col(idCol), col("e"), bandSig(0, planes, dims).as("sig"))
  }

  /** Band `b`'s `planes`-bit signature of the `e` column: plane indices
    * [b·planes, (b+1)·planes) of the deterministic family, one codegen'd
    * dot each. */
  private def bandSig(b: Int, planes: Int, dims: Int): Column =
    (0 until planes).map { p =>
      val d = graft.functions.VectorFunctions.array_dot(
        col("e"), typedLit(planeWeights(b * planes + p, dims)))
      when(d > 0, lit(1L << p)).otherwise(0L)
    }.reduce(_ + _)

  /** LSH near-dup pairs, banded (amplified) by the standard AND-OR
    * construction: `bands` independent `planes`-bit signatures per vector
    * (band b uses plane indices [b·planes, (b+1)·planes) of the same
    * deterministic family), candidates = pairs agreeing on ANY band's full
    * signature, each verified once by exact cosine. `bands = 1` is plain
    * single-band LSH. One band of k planes catches a θ-angle pair with
    * probability (1−θ/π)^k — at cos 0.95 and k=16 that is ~0.18, i.e. a
    * single band MISSES most threshold-level pairs; B bands amplify to
    * 1−(1−(1−θ/π)^k)^B (k=8, B=8 → ~0.99 at cos 0.95). Precision is owned
    * by the exact-cosine verify, so extra candidates only cost compute.
    *
    * Ids-first: only (band, sig, id) rides the bucket shuffle — at 10^9 ×
    * 64d, shipping both embedding arrays through the candidate join would
    * move two orders of magnitude more bytes; the vectors re-attach by id
    * to the deduplicated candidate set only.
    *
    * Rows whose vector is null, not `dims` wide or of zero or non-finite
    * norm are dropped before signing and never pair: every plane dot of a
    * null or zero vector is null or 0, so each would sign 0 in every band —
    * the band self-join would be quadratic in them, and a zero-norm pair
    * would reach the cosine's 0/0; a non-finite vector scores NaN against
    * everything (see `verifiable`). */
  def lshBandedNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
      planes: Int, bands: Int, dims: Int, threshold: Double): DataFrame = {
    val e = verifiable(emb, idCol, vecCol).filter(size(col("e")) === dims)
    val cand = CandidatePairs.pairs(bandSignatures(e, idCol, planes, bands, dims),
      Seq("band", "sig"), idCol).distinct() // a pair may collide in several bands
    cosineVerified(CandidatePairs.attach(cand, e, idCol, "e"), threshold)
  }

  /** The banded-LSH key emitter: one `(band, sig, idCol)` row per band of
    * each `e` vector. */
  private[graft] def bandSignatures(e: DataFrame, idCol: String, planes: Int, bands: Int,
      dims: Int): DataFrame = {
    require(planes >= 1 && planes <= MaxPlanes && bands >= 1,
      s"lshBandedNearDupPairs: planes=$planes must be in [1, $MaxPlanes], " +
        s"bands=$bands must be >= 1")
    // ONE scan of the input: all bands' signatures are computed in a
    // single projection (an array of (band, sig) structs, exploded) — a
    // union-of-per-band-selects would re-scan the relation `bands` times
    val sigStructs = (0 until bands).map(b =>
      struct(lit(b).as("band"), bandSig(b, planes, dims).as("sig")))
    e.select(col(idCol), explode(array(sigStructs: _*)).as("bs"))
      .select(col("bs.band").as("band"), col("bs.sig").as("sig"), col(idCol))
  }

  /** `(idCol, e)` rows a cosine can score: those whose squared norm is
    * positive and finite. A null vector has a null and a zero vector a zero
    * norm, and 0/0 throws under ANSI mode. A NaN or infinite component, or
    * one whose square overflows, makes the norm NaN or infinite and every
    * cosine NaN — which Spark orders above every number, so it would pass
    * `cos >= threshold` and pair with everything. */
  private def verifiable(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol), col(vecCol).cast("array<double>").as("e"))
      .filter(dot("e", "e") > 0 && dot("e", "e") < Double.PositiveInfinity)

  /** The cosine verifier: pairs carrying both vectors (`e1`, `e2`) scored
    * and kept at `cos >= threshold`, as `(v1, v2, cos)`. */
  private def cosineVerified(pairs: DataFrame, threshold: Double): DataFrame =
    pairs
      .withColumn("cos", round(cosine("e1", "e2"), 6))
      .filter(col("cos") >= threshold)
      .select(col("d1").as("v1"), col("d2").as("v2"), col("cos"))

  /** Exact cosine near-dup pairs (bounded input — the verification
    * baseline for [[lshBandedNearDupPairs]]). Null, zero-norm and
    * non-finite vectors never pair, as there. */
  def nearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val e = verifiable(emb, idCol, vecCol)
    val l = e.select(col(idCol).as("d1"), col("e").as("e1"))
    val r = e.select(col(idCol).as("d2"), col("e").as("e2"))
    cosineVerified(l.crossJoin(r).filter(col("d1") < col("d2")), threshold)
  }
}
