package graft

import graft.functions.TestSpark
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The curation pipeline entry end-to-end on a planted corpus: quality
  * drops, exact + near-dup collapse, PII redaction, sampling, packing, and
  * the audit relations that explain every drop. Plus the usage matrix. */
class CurateCliSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import org.apache.spark.sql.functions._

  private def corpusDir(): String = {
    val good = (w: Int) => (0 until 20).map(i => s"w${(i * w + 3) % 17} t$i").mkString(" ")
    val rows = Seq(
      (1L, good(2), "a"),
      (2L, good(2), "a"),                          // exact dup of 1
      (3L, good(2) + " tail", "b"),                // near-dup of 1 (bigram)
      (4L, good(5), "b"),                          // distinct good doc
      (5L, "spam spam spam spam spam spam spam spam spam spam spam spam", "c"), // repetition fail
      (6L, "short one", "c"),                      // token floor fail
      (7L, good(7) + " mail boss@corp.example now", "d")) // PII carrier
    val dir = Files.createTempDirectory("curate-in-").toString
    rows.toDF("doc_id", "text", "source").write.mode("overwrite").parquet(dir)
    dir
  }

  test("end-to-end: gates, dedup chain, redaction, packing, audits") {
    val in = corpusDir()
    val out = Files.createTempDirectory("curate-out-").toString
    val s = CurateCli.run(spark, Array(in, out,
      "--min-tokens", "10", "--min-distinct-ratio", "0.3",
      "--near-dup", "0.5", "--ngram", "2",
      "--pack-budget", "64"))
    assert(s.input == 7)
    assert(s.droppedQuality == 2)       // 5 (repetition), 6 (token floor)
    assert(s.droppedDup == 2)           // 2 (exact), 3 (near-dup cluster)
    assert(s.kept == 3)                 // 1, 4, 7

    val curated = spark.read.parquet(s"$out/curated")
    val ids = curated.select("doc_id").as[Long].collect().toSet
    assert(ids == Set(1L, 4L, 7L))
    // PII redacted in the surviving text
    val t7 = curated.filter($"doc_id" === 7).select("text").as[String].head()
    assert(t7.endsWith("mail <EMAIL> now"), t7)
    // packing assigned
    assert(curated.columns.contains("pack_id"))
    assert(curated.select("pack_id").distinct().count() >= 1)

    // audits explain the drops
    val dq = spark.read.parquet(s"$out/audit/dropped_quality")
      .as[Long].collect().toSet
    assert(dq == Set(5L, 6L))
    val dn = spark.read.parquet(s"$out/audit/dropped_near_dup")
      .select("doc_id").as[Long].collect().toSet
    assert(dn == Set(3L))
    val pii = spark.read.parquet(s"$out/audit/pii_hits")
      .select("doc_id").as[Long].collect().toSet
    assert(pii == Set(7L))
  }

  test("uniform sampling drops a deterministic subset") {
    val in = corpusDir()
    val out = Files.createTempDirectory("curate-out-").toString
    val s1 = CurateCli.run(spark, Array(in, out, "--min-tokens", "1",
      "--min-distinct-ratio", "0.0", "--max-top-token-frac", "1.0",
      "--max-top-bigram-frac", "1.0", "--no-pii", "--sample", "0.5"))
    val kept1 = spark.read.parquet(s"$out/curated").select("doc_id").as[Long].collect().toSet
    // deterministic: same command, same sample
    val s2 = CurateCli.run(spark, Array(in, out, "--min-tokens", "1",
      "--min-distinct-ratio", "0.0", "--max-top-token-frac", "1.0",
      "--max-top-bigram-frac", "1.0", "--no-pii", "--sample", "0.5"))
    val kept2 = spark.read.parquet(s"$out/curated").select("doc_id").as[Long].collect().toSet
    assert(kept1 == kept2 && s1.kept == s2.kept)
    assert(s1.droppedSample > 0 && s1.kept > 0) // rate 0.5 splits 6 survivors
  }

  test("--drop-spans: boilerplate removed, unique text survives, emptied docs drop") {
    val span = (1 to 8).map(i => s"w$i").mkString(" ") // shared 8-token boilerplate
    val uniq = (w: Int) => (0 until 12).map(i => s"u${(i * w + 5) % 23} t$i").mkString(" ")
    val rows = Seq(
      (1L, s"${uniq(2)} $span", "a"),  // boilerplate tail
      (2L, s"$span ${uniq(3)}", "a"),  // boilerplate head
      (3L, span, "b"),                 // NOTHING but boilerplate → dropped
      (4L, uniq(5), "b"))              // untouched
    val in = Files.createTempDirectory("curate-span-in-").toString
    rows.toDF("doc_id", "text", "source").write.mode("overwrite").parquet(in)
    val out = Files.createTempDirectory("curate-span-out-").toString

    val s = CurateCli.run(spark, Array(in, out, "--min-tokens", "1",
      "--min-distinct-ratio", "0.0", "--max-top-token-frac", "1.0",
      "--max-top-bigram-frac", "1.0", "--no-pii", "--drop-spans", "8"))
    assert(s == CurateCli.CurateSummary(4, 0, 0, 0, 3, 1), s.toString)

    val curated = spark.read.parquet(s"$out/curated")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(curated.keySet == Set(1L, 2L, 4L))
    assert(curated(1L) == uniq(2), curated(1L)) // boilerplate gone, unique intact
    assert(curated(2L) == uniq(3), curated(2L))
    assert(curated(4L) == uniq(5))
    // the audit names every doc a span was cut from, with sizes
    val audit = spark.read.parquet(s"$out/audit/span_removed")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // uniq() is 12 two-token entries = 24 tokens; +8 boilerplate = 32
    assert(audit == Map(1L -> ((32L, 8L)), 2L -> ((32L, 8L)), 3L -> ((8L, 8L))))
    // threshold respected: at --span-min-occ 4 the 3-site span survives
    val out2 = Files.createTempDirectory("curate-span-out2-").toString
    val s2 = CurateCli.run(spark, Array(in, out2, "--min-tokens", "1",
      "--min-distinct-ratio", "0.0", "--max-top-token-frac", "1.0",
      "--max-top-bigram-frac", "1.0", "--no-pii",
      "--drop-spans", "8", "--span-min-occ", "4"))
    assert(s2 == CurateCli.CurateSummary(4, 0, 0, 0, 4, 0), s2.toString)
    // --span-hash (8-byte shuffle keys) changes nothing observable
    val out3 = Files.createTempDirectory("curate-span-out3-").toString
    val s3 = CurateCli.run(spark, Array(in, out3, "--min-tokens", "1",
      "--min-distinct-ratio", "0.0", "--max-top-token-frac", "1.0",
      "--max-top-bigram-frac", "1.0", "--no-pii",
      "--drop-spans", "8", "--span-hash"))
    assert(s3 == s)
    assert(spark.read.parquet(s"$out3/curated")
      .select("doc_id", "text").as[(Long, String)].collect().toMap == curated)
  }

  test("--compress-min: byte-level boilerplate invisible to token stats is gated") {
    val rows = Seq(
      // ONE giant repetitive token: n_tokens=1, no bigrams, distinct ratio
      // 1.0 — every token-level gate passes; only the DEFLATE ratio sees it
      (1L, "ab" * 800, "a"),
      (2L, (0 until 30).map(i => s"w${(i * 7) % 29} v$i").mkString(" "), "a"))
    val in = Files.createTempDirectory("curate-cr-in-").toString
    rows.toDF("doc_id", "text", "source").write.mode("overwrite").parquet(in)
    val relax = Array("--min-tokens", "1", "--min-distinct-ratio", "0.0",
      "--max-top-token-frac", "1.0", "--max-top-bigram-frac", "1.0", "--no-pii")

    // without the gate both docs pass every token-level check
    val out0 = Files.createTempDirectory("curate-cr-out0-").toString
    assert(CurateCli.run(spark, Array(in, out0) ++ relax).kept == 2)
    // with it, the byte-level boilerplate drops and is audited
    val out = Files.createTempDirectory("curate-cr-out-").toString
    val s = CurateCli.run(spark,
      Array(in, out) ++ relax ++ Array("--compress-min", "0.2"))
    assert(s.droppedQuality == 1 && s.kept == 1, s.toString)
    assert(spark.read.parquet(s"$out/curated")
      .select("doc_id").as[Long].collect().toSeq == Seq(2L))
    assert(spark.read.parquet(s"$out/audit/dropped_quality")
      .as[Long].collect().toSeq == Seq(1L))
  }

  test("null-text docs are dropped AND audited, never silently lost") {
    val rows = Seq((1L, "a good enough document with plenty of distinct tokens here", "a"),
      (2L, null.asInstanceOf[String], "b"))
    val in = Files.createTempDirectory("curate-null-").toString
    rows.toDF("doc_id", "text", "source").write.mode("overwrite").parquet(in)
    val out = Files.createTempDirectory("curate-null-out-").toString
    val s = CurateCli.run(spark, Array(in, out, "--min-tokens", "3",
      "--min-distinct-ratio", "0.1", "--no-pii"))
    assert(s.input == 2 && s.droppedQuality == 1 && s.kept == 1)
    val audited = spark.read.parquet(s"$out/audit/dropped_quality").as[Long].collect().toSet
    assert(audited == Set(2L), "null-text doc missing from the audit")
    assert(spark.read.parquet(s"$out/curated").select("doc_id").as[Long]
      .collect().toSet == Set(1L))
  }

  test("curated schema carries no internal gating columns") {
    val in = corpusDir()
    val out = Files.createTempDirectory("curate-schema-").toString
    CurateCli.run(spark, Array(in, out, "--min-tokens", "1",
      "--min-distinct-ratio", "0.0", "--max-top-token-frac", "1.0",
      "--max-top-bigram-frac", "1.0", "--no-pii"))
    val cols = spark.read.parquet(s"$out/curated").columns.toSet
    assert(cols == Set("doc_id", "text", "source"), s"leaked columns: $cols")
  }

  test("usage errors exit the parse, not the engine") {
    val cases = Seq(
      Array.empty[String],                       // missing positionals
      Array("/tmp/x"),                           // one positional
      Array("/tmp/x", "/tmp/y", "--bogus"),      // unknown flag
      Array("/tmp/x", "/tmp/y", "--sample", "2"), // out of range
      Array("/tmp/x", "/tmp/y", "--min-tokens", "abc"), // not a number
      Array("/tmp/x", "/tmp/y", "--near-dup"),   // missing value
      Array("/tmp/x", "/tmp/y", "--split", "train:0.4"), // weights != 1
      Array("/tmp/x", "/tmp/y", "--split", "garbage"),   // not name:weight
      // out-of-range values that used to fail late or degrade silently
      Array("/tmp/x", "/tmp/y", "--pack-budget", "0"),   // divide by zero
      Array("/tmp/x", "/tmp/y", "--pack-budget", "-5"),  // negative pack ids
      Array("/tmp/x", "/tmp/y", "--near-dup", "0"),
      Array("/tmp/x", "/tmp/y", "--near-dup", "1.5"),    // near-dup off
      Array("/tmp/x", "/tmp/y", "--near-dup", "NaN"),
      Array("/tmp/x", "/tmp/y", "--ngram", "0"),         // unigrams
      Array("/tmp/x", "/tmp/y", "--max-df", "0"),        // near-dup off
      Array("/tmp/x", "/tmp/y", "--decontam-ngram", "0"),
      Array("/tmp/x", "/tmp/y", "--decontam-min", "0"),
      Array("/tmp/x", "/tmp/y", "--min-tokens", "-1"),
      Array("/tmp/x", "/tmp/y", "--sample", "NaN"))
    cases.foreach { a =>
      assertThrows[CurateCli.CliUsageError](CurateCli.run(spark, a))
    }
  }

  test("--decontam: docs sharing eval shingles drop before dedup; audit carries overlap") {
    val in = corpusDir()
    // eval doc = a verbatim slice of doc 4's text (>= 2 shared trigrams);
    // doc 1's vocabulary is disjoint enough to stay clean
    val evalText = spark.read.parquet(in)
      .filter($"doc_id" === 4L).select("text").as[String].head()
      .split(" ").slice(3, 9).mkString(" ")
    val evalDir = Files.createTempDirectory("curate-eval-").toString
    Seq((9000L, evalText, "eval")).toDF("doc_id", "text", "source")
      .write.mode("overwrite").parquet(evalDir)
    val out = Files.createTempDirectory("curate-decon-").toString
    val s = CurateCli.run(spark, Array(in, out,
      "--min-tokens", "10", "--min-distinct-ratio", "0.3",
      "--near-dup", "0.5", "--ngram", "2",
      "--decontam", evalDir))
    // vs the baseline run (kept 1, 4, 7): doc 4 now drops to the
    // benchmark overlap, before the dedup stage
    assert(s.droppedDecontam == 1L, s.toString)
    assert(s.kept == 2L, s.toString)
    val ids = spark.read.parquet(s"$out/curated")
      .select("doc_id").as[Long].collect().toSet
    assert(ids == Set(1L, 7L))
    val au = spark.read.parquet(s"$out/audit/dropped_decontam")
      .select("doc_id", "n_eval_hits").as[(Long, Long)].collect().toMap
    assert(au == Map(4L -> 1L))
  }

  test("--split: keyed on the near-dup component label, md5-replayable, deterministic") {
    // same replay as LeakageSplitSpec / the q63 oracle
    def expectedSplit(label: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"split:$label".getBytes("UTF-8"))
        .map(x => f"$x%02x").mkString.take(15)
      val b = java.lang.Long.parseLong(hex, 16) % 10000L
      if (b < 8000) "train" else if (b < 9000) "val" else "test"
    }
    val in = corpusDir()
    def runOnce(): Map[Long, String] = {
      val out = Files.createTempDirectory("curate-split-").toString
      val s = CurateCli.run(spark, Array(in, out,
        "--min-tokens", "10", "--min-distinct-ratio", "0.3",
        "--near-dup", "0.5", "--ngram", "2",
        "--split", "train:0.8,val:0.1,test:0.1"))
      assert(s.splitCounts.values.sum == s.kept, s.toString)
      spark.read.parquet(s"$out/curated")
        .select("doc_id", "split").as[(Long, String)].collect().toMap
    }
    val got = runOnce()
    // survivors 1, 4, 7: doc 1 represents the {1,2,3} dup component
    // (label = min id 1), docs 4 and 7 are singletons (label = own id)
    assert(got == Map(1L -> expectedSplit(1L), 4L -> expectedSplit(4L),
      7L -> expectedSplit(7L)))
    assert(runOnce() == got)

    // without --near-dup the label falls back to the exact-dup
    // representative id — the same md5 assignment applies
    val out2 = Files.createTempDirectory("curate-split2-").toString
    CurateCli.run(spark, Array(in, out2,
      "--min-tokens", "10", "--min-distinct-ratio", "0.3",
      "--split", "train:0.8,val:0.1,test:0.1"))
    val noCluster = spark.read.parquet(s"$out2/curated")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    noCluster.foreach { case (id, sp) => assert(sp == expectedSplit(id)) }
  }

  test("--split with a STRING id column labels by the id itself, never a null cast") {
    // non-numeric ids: a silent cast-to-long would null every label and
    // collapse the whole corpus into one md5(\"split:\") bucket
    def txt(k: Int) = (0 until 20).map(i => s"v${(i * k + 3) % 17} t$i").mkString(" ")
    val rows = Seq(("doc-a", txt(2)), ("doc-b", txt(5)), ("doc-c", txt(7)))
    val in = Files.createTempDirectory("curate-sid-in-").toString
    rows.toDF("uuid", "text").write.mode("overwrite").parquet(in)
    val out = Files.createTempDirectory("curate-sid-out-").toString
    CurateCli.run(spark, Array(in, out, "--id-col", "uuid",
      "--min-tokens", "10", "--min-distinct-ratio", "0.3", "--no-pii",
      "--split", "train:0.34,val:0.33,test:0.33"))
    def expectedOf(label: String): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"split:$label".getBytes("UTF-8"))
        .map(x => f"$x%02x").mkString.take(15)
      val b = java.lang.Long.parseLong(hex, 16) % 10000L
      if (b < 3400) "train" else if (b < 6700) "val" else "test"
    }
    val got = spark.read.parquet(s"$out/curated")
      .select("uuid", "split").as[(String, String)].collect().toMap
    assert(got == rows.map(r => r._1 -> expectedOf(r._1)).toMap, got.toString)
    // the table is laid out by split: one split=<name>/ directory per
    // assigned side, so a training consumer prunes at the path level
    val dirs = new java.io.File(s"$out/curated").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == got.values.toSet.map((v: String) => s"split=$v"), dirs.toString)
    // and non-path-safe split names are rejected at parse time
    assertThrows[CurateCli.CliUsageError](CurateCli.run(spark,
      Array(in, out, "--split", "tr ain:0.5,val:0.5")))
  }
}
