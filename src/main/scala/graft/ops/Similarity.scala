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
    val e = emb.select(col(idCol), col(vecCol).cast("array<double>").as("e"))
    val sig = (0 until planes).map { p =>
      val d = graft.functions.VectorFunctions.array_dot(
        col("e"), typedLit(planeWeights(p, dims)))
      when(d > 0, lit(1L << p)).otherwise(0L)
    }.reduce(_ + _)
    e.select(col(idCol), col("e"), sig.as("sig"))
  }

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
    * Rows whose vector is null or not `dims` wide are dropped before
    * signing and never pair: every plane dot of such a vector is null,
    * so each would sign 0 in every band and the band self-join would be
    * quadratic in them. */
  def lshBandedNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
      planes: Int, bands: Int, dims: Int, threshold: Double): DataFrame = {
    require(planes >= 1 && planes <= MaxPlanes && bands >= 1,
      s"lshBandedNearDupPairs: planes=$planes must be in [1, $MaxPlanes], " +
        s"bands=$bands must be >= 1")
    val e = emb.select(col(idCol), col(vecCol).cast("array<double>").as("e"))
      .filter(col("e").isNotNull && size(col("e")) === dims)
    // ONE scan of the input: all bands' signatures are computed in a
    // single projection (an array of (band, sig) structs, exploded) — a
    // union-of-per-band-selects would re-scan the relation `bands` times
    val sigStructs = (0 until bands).map { b =>
      val sig = (0 until planes).map { p =>
        val d = graft.functions.VectorFunctions.array_dot(
          col("e"), typedLit(planeWeights(b * planes + p, dims)))
        when(d > 0, lit(1L << p)).otherwise(0L)
      }.reduce(_ + _)
      struct(lit(b).as("band"), sig.as("sig"))
    }
    val ids = e
      .select(col(idCol), explode(array(sigStructs: _*)).as("bs"))
      .select(col("bs.band").as("band"), col("bs.sig").as("sig"), col(idCol))
    val l = ids.select(col("band"), col("sig"), col(idCol).as("v1"))
    val r = ids.select(col("band"), col("sig"), col(idCol).as("v2"))
    val cand = l.join(r, Seq("band", "sig")).filter(col("v1") < col("v2"))
      .select("v1", "v2").distinct() // a pair may collide in several bands
    cand
      .join(e.select(col(idCol).as("v1"), col("e").as("e1")), Seq("v1"))
      .join(e.select(col(idCol).as("v2"), col("e").as("e2")), Seq("v2"))
      .withColumn("cos", round(
        dot("e1", "e2") / (sqrt(dot("e1", "e1")) * sqrt(dot("e2", "e2"))), 6))
      .filter(col("cos") >= threshold)
      .select("v1", "v2", "cos")
  }

  /** Exact cosine near-dup pairs (bounded input — the verification
    * baseline for [[lshBandedNearDupPairs]]). */
  def nearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val e = emb.select(col(idCol), col(vecCol).cast("array<double>").as("e"))
    val l = e.select(col(idCol).as("v1"), col("e").as("e1"))
    val r = e.select(col(idCol).as("v2"), col("e").as("e2"))
    l.crossJoin(r).filter(col("v1") < col("v2"))
      .withColumn("cos", round(
        dot("e1", "e2") / (sqrt(dot("e1", "e1")) * sqrt(dot("e2", "e2"))), 6))
      .filter(col("cos") >= threshold)
      .select("v1", "v2", "cos")
  }
}
