package graft.ops

import graft.functions.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Span-level exact-substring dedup ([[Dedup.dropDuplicateSpans]], Lee et
  * al. 2022): duplicated `n`-token windows are removed from every document
  * while unique content survives. Every case is checked against an
  * independent brute-force recompute (sliding windows + occurrence counts +
  * covered-position set math) on the collected corpus.
  */
class DuplicateSpanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Brute-force reference: (n_tokens, n_removed, clean_text) per doc. */
  private def oracle(docs: Seq[(Long, String)], n: Int,
      minOcc: Int): Map[Long, (Long, Long, String)] = {
    val wins = for {
      (id, txt) <- docs
      toks = txt.split(" ", -1).toSeq if toks.size >= n
      i <- 0 to toks.size - n
    } yield (id, i, toks.slice(i, i + n).mkString(" "))
    val counts = wins.groupBy(_._3).view.mapValues(_.size).toMap
    docs.map { case (id, txt) =>
      val toks = txt.split(" ", -1).toSeq
      val starts =
        if (toks.size < n) Seq.empty
        else (0 to toks.size - n)
          .filter(i => counts(toks.slice(i, i + n).mkString(" ")) >= minOcc)
      val covered = starts.flatMap(i => i until i + n).toSet
      val kept = toks.zipWithIndex.collect { case (t, j) if !covered(j) => t }
      id -> ((toks.size.toLong, (toks.size - kept.size).toLong, kept.mkString(" ")))
    }.toMap
  }

  private def run(docs: Seq[(Long, String)], n: Int,
      minOcc: Long = 2L): Map[Long, (Long, Long, String)] =
    Dedup.dropDuplicateSpans(docs.toDF("doc_id", "text"), "doc_id", "text",
        n, minOccurrences = minOcc)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap

  private val span8 = "w1 w2 w3 w4 w5 w6 w7 w8"

  test("a span shared by two docs is removed from both; unique text survives") {
    val docs = Seq(
      1L -> s"alpha beta $span8 gamma delta",
      2L -> s"one two three $span8 four",
      3L -> "nothing shared here at all today")
    val got = run(docs, n = 8)
    assert(got == oracle(docs, 8, 2))
    assert(got(1L) == ((12L, 8L, "alpha beta gamma delta")))
    assert(got(2L) == ((12L, 8L, "one two three four")))
    assert(got(3L)._2 == 0L && got(3L)._3 == "nothing shared here at all today")
  }

  test("a span repeated WITHIN one doc is duplicated (occurrences, not docs)") {
    val docs = Seq(
      1L -> s"$span8 middle $span8",
      2L -> "totally different content in this document here")
    val got = run(docs, n = 8)
    assert(got == oracle(docs, 8, 2))
    assert(got(1L) == ((17L, 16L, "middle")))
    assert(got(2L)._2 == 0L)
  }

  test("docs shorter than the window are never touched") {
    val docs = Seq(1L -> "a b c", 2L -> "a b c", 3L -> s"$span8 $span8")
    val got = run(docs, n = 8)
    assert(got == oracle(docs, 8, 2))
    assert(got(1L) == ((3L, 0L, "a b c")))
    assert(got(2L) == ((3L, 0L, "a b c")))
  }

  test("a fully duplicated doc empties to ''") {
    val docs = Seq(1L -> span8, 2L -> span8, 3L -> "unique text beyond reach")
    val got = run(docs, n = 8)
    assert(got == oracle(docs, 8, 2))
    assert(got(1L) == ((8L, 8L, "")))
    assert(got(2L) == ((8L, 8L, "")))
  }

  test("overlapping duplicated windows remove the covered UNION, not a multiple") {
    // a shared 10-token run yields three overlapping duplicated 8-windows;
    // exactly 10 tokens go, not 24
    val run10 = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    val docs = Seq(
      1L -> s"head $run10 tail",
      2L -> s"other prefix $run10 other suffix")
    val got = run(docs, n = 8)
    assert(got == oracle(docs, 8, 2))
    assert(got(1L) == ((12L, 10L, "head tail")))
    assert(got(2L) == ((14L, 10L, "other prefix other suffix")))
  }

  test("minOccurrences above the actual count leaves the corpus intact") {
    val docs = Seq(1L -> s"a $span8 b", 2L -> s"c $span8 d")
    val got = run(docs, n = 8, minOcc = 3L)
    assert(got == oracle(docs, 8, 3))
    assert(got.values.forall(_._2 == 0L))
  }

  test("hashWindows variant: identical results, window strings never shuffle") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 200).select("doc_id", "text")
    def collect(hashed: Boolean) =
      Dedup.dropDuplicateSpans(docs, "doc_id", "text", n = 8, hashWindows = hashed)
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
        .toMap
    assert(collect(hashed = true) == collect(hashed = false))
    // the hashed plan keys its shuffles on the xxhash64 of the window (the
    // string is pruned below the exchange), and neither variant ever plans
    // a cartesian
    val hashedPlan = Dedup.dropDuplicateSpans(docs, "doc_id", "text", n = 8,
      hashWindows = true).queryExecution.executedPlan.toString
    assert(hashedPlan.contains("xxhash64"), hashedPlan)
    assert(!hashedPlan.contains("CartesianProduct"))
    val stringPlan = Dedup.dropDuplicateSpans(docs, "doc_id", "text", n = 8)
      .queryExecution.executedPlan.toString
    assert(!stringPlan.contains("CartesianProduct"))
  }

  test("testdata corpus: equals brute-force recompute (planted boilerplate found)") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") < 150).select("doc_id", "text")
    val docs = df.collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    val got = Dedup.dropDuplicateSpans(df, "doc_id", "text", n = 8)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got == oracle(docs, 8, 2))
    // fixture premise: the synthetic corpus really plants duplicated spans
    assert(got.values.exists(_._2 > 0L), "no duplicated span found — fixture premise broken")
    // and removal is partial somewhere (not just whole-doc dups)
    assert(got.values.exists(v => v._2 > 0L && v._2 < v._1),
      "no partial removal found — fixture premise broken")
  }
}
