package graft.ops

import graft.functions.{ImageKernels, TestSpark}
import graft.functions.{ImageFunctions => IF}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[CandidatePairs]], pinned once over the key relation of every
  * near-dup family (each family's own emitter on its own kind of input).
  * The reference is brute force over the collected keys: every id pair,
  * scored by the number of (key, row, row) matches it has after the cap.
  * For each family:
  *  - self mode equals the brute force, with and without a cap;
  *  - delta mode equals the self pairs touching the delta, row for row,
  *    with the cap counted over the union;
  *  - eval mode equals the brute force over corpus × eval only, and emits
  *    no eval–eval pair although the eval rows share keys;
  *  - the hot-key audit lists exactly the keys the cap dropped. */
class CandidatePairsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** A family's emitter over `input`; rows where `isProbe` holds are the
    * delta (or eval) side, the rest the corpus. */
  private case class Family(name: String, keyCols: Seq[String], idCol: String,
      input: () => DataFrame, isProbe: Column, emit: DataFrame => DataFrame)

  private type Rows = Seq[(Seq[Any], Long)]

  private val dims = 16

  /** Testdata documents plus verbatim copies of four of them under new
    * ids; the copies and their originals are all probe rows, so probe
    * rows share keys with each other. */
  private def docs(): DataFrame = {
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 100).select("doc_id", "text")
    base.unionByName(base.filter(col("doc_id").isin(0L, 10L, 20L, 30L))
      .select((col("doc_id") + 10000L).as("doc_id"), col("text")))
  }

  /** 12 renders, a JPEG re-encode of each and a rotation of the first 6. */
  private def images(): DataFrame = {
    val base = (0L until 12L).map(k => k -> graft.sources.ImageGen.render(k, 31L, 40, 30))
    (base.map { case (k, im) => (k, ImageKernels.encode(im, "png")) } ++
      base.map { case (k, im) => (100L + k, ImageKernels.encode(im, "jpeg")) } ++
      base.take(6).map { case (k, im) =>
        (200L + k, ImageKernels.encode(ImageKernels.orientOf(im, 6), "png"))
      }).toDF("id", "bytes")
  }

  /** 12 random directions × 4 small perturbations each. */
  private def vectors(): DataFrame = {
    val rnd = new scala.util.Random(2026L)
    (0 until 12).flatMap { c =>
      val base = Array.fill(dims)(rnd.nextGaussian())
      (0 until 4).map(j => ((c * 4 + j).toLong, base.map(_ + 0.05 * rnd.nextGaussian()).toSeq))
    }.toDF("vec_id", "embedding")
  }

  /** 150 random signatures, and 40 eval signatures 0-3 bits from a
    * corpus signature or from an earlier eval signature. */
  private def signatures(): DataFrame = {
    val rnd = new scala.util.Random(7L)
    val corpus = (0L until 150L).map(i => i -> rnd.nextLong())
    val evals = (0L until 40L).foldLeft(Vector.empty[(Long, Long)]) { (acc, j) =>
      val from = if (j % 2 == 0 || acc.isEmpty) corpus(rnd.nextInt(corpus.size))._2
        else acc(rnd.nextInt(acc.size))._2
      acc :+ ((1000L + j) -> (0 until (j % 4).toInt).foldLeft(from)((s, _) =>
        s ^ (1L << rnd.nextInt(64))))
    }
    (corpus ++ evals).toDF("id", "sig")
  }

  private val docProbe = col("doc_id") % 10 === 0
  private def shingles(n: Int)(df: DataFrame) = Dedup.shingleTokens(df, "doc_id", "text", n)

  private val families = Seq(
    Family("minhash bands", Seq("band"), "doc_id", () => docs(), docProbe,
      Dedup.bandBuckets(_, "doc_id", "text")),
    Family("simhash hamming blocks", Seq("blk", "bval"), "doc_id", () => docs(), docProbe,
      df => Dedup.sigBlocks(Dedup.simhash(df, "doc_id", "text"), "doc_id", "simhash", 3, 16)),
    Family("phash hamming blocks", Seq("blk", "bval"), "id", () => images(),
      col("id") % 2 === 1,
      df => Dedup.sigBlocks(df.select(col("id"), IF.phash64(col("bytes")).as("phash")),
        "id", "phash", 6, 64)),
    Family("orientation hamming blocks", Seq("blk", "bval"), "id", () => images(),
      col("id") % 2 === 1,
      df => Dedup.sigBlocks(df.select(col("id"),
        explode(IF.phash_orientations(col("bytes"))).as("oh")), "id", "oh", 6, 64)),
    Family("unigram Jaccard tokens", Seq("token"), "doc_id", () => docs(), docProbe,
      shingles(1)),
    Family("bigram Jaccard shingles", Seq("token"), "doc_id", () => docs(), docProbe,
      shingles(2)),
    Family("banded LSH signatures", Seq("band", "sig"), "vec_id", () => vectors(),
      col("vec_id") % 4 < 2,
      df => Similarity.bandSignatures(df.select(col("vec_id"),
        col("embedding").cast("array<double>").as("e")), "vec_id", 6, 4, dims)),
    Family("text decontam trigrams", Seq("token"), "doc_id", () => docs(), docProbe,
      shingles(3)),
    Family("image decontam hamming blocks", Seq("blk", "bval"), "id", () => signatures(),
      col("id") >= 1000L, df => Dedup.sigBlocks(df, "id", "sig", 3, 64)))

  private def rowsOf(keys: DataFrame, f: Family): Rows =
    keys.select((f.keyCols :+ f.idCol).map(col): _*).collect().toSeq
      .map(r => (f.keyCols.indices.map(r.get), r.getLong(f.keyCols.size)))

  /** Matching row pairs per id pair of `lhs` × `rhs` accepted by `ok`,
    * after dropping keys held by more than `cap` of the `all` rows. */
  private def brute(lhs: Rows, rhs: Rows, all: Rows, cap: Long)(
      ok: (Long, Long) => Boolean): Map[(Long, Long), Long] = {
    val pop = all.groupBy(_._1).map { case (k, rs) => k -> rs.size.toLong }
    def byId(rows: Rows) = rows.filter(r => pop(r._1) <= cap).groupBy(_._2)
      .map { case (id, rs) => id -> rs.groupBy(_._1).map { case (k, ks) => k -> ks.size } }
    val (l, r) = (byId(lhs), byId(rhs))
    (for {
      (a, ka) <- l.toSeq; (b, kb) <- r.toSeq if ok(a, b)
      n = ka.iterator.map { case (k, c) => c.toLong * kb.getOrElse(k, 0) }.sum if n > 0
    } yield (a, b) -> n).toMap
  }

  private def counts(pairs: DataFrame): Map[(Long, Long), Long] =
    pairs.groupBy("d1", "d2").count().collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

  for (f <- families) test(s"${f.name}: self == brute force; delta == self touching the " +
      "delta; eval emits corpus × eval only; audit == capped keys") {
    import CandidatePairs._
    val in = f.input()
    val corpus = f.emit(in.filter(!f.isProbe)).localCheckpoint()
    val probe = f.emit(in.filter(f.isProbe)).localCheckpoint()
    val all = corpus.unionByName(probe)
    val (cRows, pRows) = (rowsOf(corpus, f), rowsOf(probe, f))
    val allRows = cRows ++ pRows
    val probeIds = pRows.map(_._2).toSet
    val maxPop = allRows.groupBy(_._1).values.map(_.size.toLong).max
    val cap = math.max(1L, maxPop / 2)
    // fixture premises: probe rows share keys with each other, so an
    // eval–eval pair exists to be excluded, and the cap drops something
    assert(brute(pRows, pRows, allRows, Long.MaxValue)(_ < _).nonEmpty,
      "no probe–probe pair in the fixture")
    assert(maxPop > cap)
    for (c <- Seq(Long.MaxValue, cap)) {
      val self = counts(pairs(all, f.keyCols, f.idCol, Self, c))
      assert(self == brute(allRows, allRows, allRows, c)(_ < _), s"self, cap=$c")
      val delta = counts(pairs(tag(corpus, probe), f.keyCols, f.idCol, Delta, c))
      assert(delta == self.filter { case ((a, b), _) => probeIds(a) || probeIds(b) },
        s"delta, cap=$c")
      val eval = counts(pairs(tag(corpus, probe), f.keyCols, f.idCol, Eval, c))
      assert(eval.keys.forall { case (a, b) => !probeIds(a) && probeIds(b) }, s"eval, cap=$c")
      assert(eval == brute(cRows, pRows, allRows, c)((_, _) => true), s"eval, cap=$c")
      if (c == Long.MaxValue) assert(delta.nonEmpty && eval.nonEmpty, "vacuous fixture")
    }
    val hot = hotKeys(all, f.keyCols, cap).collect()
      .map(r => f.keyCols.indices.map(r.get) -> r.getAs[Long]("population")).toMap
    val keptKeys = rowsOf(capped(all, f.keyCols, cap), f).map(_._1).toSet
    assert(hot.keySet == allRows.map(_._1).toSet -- keptKeys)
    assert(hot == allRows.groupBy(_._1).collect {
      case (k, rs) if rs.size > cap => k -> rs.size.toLong })
  }
}
