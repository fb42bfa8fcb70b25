package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The candidate-pair kernel behind every near-dup generator (MinHash
  * bands, hamming pigeonhole blocks over SimHash / phash / orientation
  * hashes, Jaccard shingles, banded cosine LSH, text and image
  * decontamination). A generator is a KEY EMITTER — a relation
  * `(key cols…, id, carried payload…)` with one row per bucket an id
  * lands in — plus a VERIFIER over the emitted pairs. The steps between
  * the two live here once: the population cap and its audit, the bucket
  * join in one of three modes, and the attach-by-id of the verifier's
  * inputs. Pairs join on the key only (never all-pairs), so the cost is
  * quadratic within a bucket alone; the cap bounds that.
  *
  * Modes over a key relation (Delta and Eval take one built by [[tag]]):
  *  - [[Self]]: every pair sharing a key, `d1 < d2`;
  *  - [[Delta]]: only probe (delta) rows probe the whole relation — the
  *    [[Self]] pairs of `corpus ∪ delta` that touch the delta, at cost ∝
  *    delta × bucket size. Pairs are canonicalised to `d1 < d2`, and a
  *    delta–delta pair is emitted from its smaller id only, so each
  *    (key, pair) row appears exactly as often as in [[Self]] mode. Ids
  *    must be distinct across the two inputs;
  *  - [[Eval]]: probe (eval) rows probe the corpus rows only: `d1` is the
  *    corpus id, `d2` the eval id, and no eval–eval pair is ever emitted.
  *    The two id spaces may overlap.
  * In Delta and Eval mode the cap counts the whole tagged relation, so it
  * is computed over the union of both inputs. */
private[graft] object CandidatePairs {

  sealed trait Mode
  case object Self extends Mode
  case object Delta extends Mode
  case object Eval extends Mode

  /** Flag column [[tag]] adds: true on the probe (delta or eval) rows. */
  private val Probe = "__probe"

  /** `base ∪ probe` with the probe rows flagged: the key relation of the
    * [[Delta]] and [[Eval]] modes. */
  def tag(base: DataFrame, probe: DataFrame): DataFrame =
    base.withColumn(Probe, lit(false)).unionByName(probe.withColumn(Probe, lit(true)))

  private def populations(keys: DataFrame, keyCols: Seq[String]): DataFrame =
    keys.groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("population"))

  /** The skew guard: a key held by n rows emits O(n²) candidates, so keys
    * with more than `maxPopulation` rows leave the relation whole.
    * [[hotKeys]] lists exactly the keys this drops. */
  def capped(keys: DataFrame, keyCols: Seq[String], maxPopulation: Long): DataFrame =
    if (maxPopulation == Long.MaxValue) keys
    else keys.join( // AQE broadcasts the small keep side
      populations(keys, keyCols).filter(col("population") <= maxPopulation)
        .select(keyCols.map(col): _*), keyCols)

  /** Audit of [[capped]]: the keys it drops, with their `population`. */
  def hotKeys(keys: DataFrame, keyCols: Seq[String], maxPopulation: Long): DataFrame =
    populations(keys, keyCols).filter(col("population") > maxPopulation)

  /** Candidate rows: one per (shared key, pair) — a pair sharing k keys
    * appears k times — as `(d1, d2, <c>1…, <c>2…)` for each carried
    * column `c` of `carry` (`<c>1` from the `d1` row). */
  def pairs(keys: DataFrame, keyCols: Seq[String], idCol: String, mode: Mode = Self,
      maxPopulation: Long = Long.MaxValue, carry: Seq[String] = Nil): DataFrame = {
    val k = capped(keys, keyCols, maxPopulation)
    def side(rel: DataFrame, id: String, sfx: String, extra: Column*) =
      rel.select(keyCols.map(col) ++ (col(idCol).as(id) +:
        carry.map(c => col(c).as(c + sfx))) ++ extra: _*)
    val carried = carry.map(c => col(c + "1")) ++ carry.map(c => col(c + "2"))
    mode match {
      case Self =>
        side(k, "d1", "1").join(side(k, "d2", "2"), keyCols)
          .filter(col("d1") < col("d2"))
          .select(col("d1") +: col("d2") +: carried: _*)
      case Delta =>
        // a probe row x meets every row y; a delta–delta pair meets from
        // both of its ends, so it is kept from its smaller id only
        val lo = col("__x") < col("__y")
        side(k.filter(col(Probe)), "__x", "x")
          .join(side(k, "__y", "y", col(Probe).as("__yp")), keyCols)
          .filter(col("__x") =!= col("__y") && (!col("__yp") || lo))
          .select(least(col("__x"), col("__y")).as("d1") +:
            greatest(col("__x"), col("__y")).as("d2") +:
            (carry.map(c => when(lo, col(c + "x")).otherwise(col(c + "y")).as(c + "1")) ++
              carry.map(c => when(lo, col(c + "y")).otherwise(col(c + "x")).as(c + "2"))): _*)
      case Eval =>
        side(k.filter(!col(Probe)), "d1", "1")
          .join(side(k.filter(col(Probe)), "d2", "2"), keyCols)
          .select(col("d1") +: col("d2") +: carried: _*)
    }
  }

  /** The number of keys each candidate pair shares: `(d1, d2, shared)`. */
  def sharedKeys(keys: DataFrame, keyCols: Seq[String], idCol: String,
      mode: Mode = Self): DataFrame =
    pairs(keys, keyCols, idCol, mode).groupBy("d1", "d2").agg(count(lit(1)).as("shared"))

  /** The verifier's inputs: `cols` of `rel` attached to both ends of each
    * pair by id equi-join (`<c>1` from the `d1` row, `<c>2` from `d2`).
    * Payloads never ride the bucket join; they meet candidates only. */
  def attach(pairs: DataFrame, rel: DataFrame, idCol: String, cols: String*): DataFrame = {
    def end(n: Int) = rel.select(col(idCol).as(s"d$n") +: cols.map(c => col(c).as(s"$c$n")): _*)
    pairs.join(end(1), Seq("d1")).join(end(2), Seq("d2"))
  }
}
