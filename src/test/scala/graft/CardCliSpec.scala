package graft

import graft.functions.{ImageKernels, TestSpark}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The dataset-card generator over real curation-run outputs: counts,
  * split sizes, caption/text statistics and per-stage audit receipts
  * assembled into one JSON document — the governance artifact a dataset
  * release ships with.
  */
class CardCliSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def img(ck: Long) = ImageKernels.encode(
    graft.sources.ImageGen.render(ck, seed = 31L, w = 40, h = 30), "png")

  test("image run: rows, splits, caption stats, audits land in card.json") {
    val cap = "a stock photo of a barn"
    val rows = (1 to 6).map(i => (s"i$i", img(100L + i), 40, 30, "png",
      if (i <= 4) cap else s"a photo of thing $i", ImageKernels.phash64(img(100L + i))))
      .toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
    val in = Files.createTempDirectory("card-in-").toString
    rows.write.mode("overwrite").parquet(in)
    val out = Files.createTempDirectory("card-out-").toString
    ImageCurateCli.run(spark, Array(in, out,
      "--min-w", "16", "--min-h", "12", "--caption-cap", "2",
      "--split", "train:0.8,val:0.1,test:0.1"))

    val json = CardCli.run(spark, Array(out, "--top-k", "3"))
    assert(json.contains(""""rows":4"""), json)         // 6 in, 2 capped
    assert(json.contains(""""splits":{"""), json)
    assert(json.contains(""""distinct_captions":3"""), json)
    assert(json.contains(""""top_captions":{"""), json)
    assert(json.contains(s"""${'"'}$cap${'"'}:2"""), json)
    assert(json.contains(""""top_fmt":{"png":4}"""), json)
    assert(json.contains(""""resolution_bands":"""), json)
    // audit receipts: the gates stage (0 drops) and the cap stage (2)
    assert(json.contains(""""dropped_gates":0"""), json)
    assert(json.contains(""""dropped_caption_cap":2"""), json)
    // the card is also written into the run dir
    val onDisk = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$out/card.json")), "UTF-8")
    assert(onDisk == json)
  }

  test("text run: token totals and quality audit; usage errors") {
    val docs = (1L to 5L).map(i =>
      (i, (0 until 20).map(j => s"w${(j * i + 3) % 17} t$j").mkString(" "), "src"))
      .toDF("doc_id", "text", "source")
    val in = Files.createTempDirectory("cardt-in-").toString
    docs.write.mode("overwrite").parquet(in)
    val out = Files.createTempDirectory("cardt-out-").toString
    CurateCli.run(spark, Array(in, out, "--min-tokens", "10",
      "--min-distinct-ratio", "0.3"))

    val json = CardCli.run(spark, Array(out))
    assert(json.contains(""""rows":5"""), json)
    assert(json.contains(""""total_tokens":200"""), json) // 5 docs × 40 tokens
    assert(json.contains(""""top_source":{"src":5}"""), json)
    assert(json.contains(""""dropped_quality":0"""), json)

    def fails(args: Array[String]): String =
      intercept[CurateCli.CliUsageError](CardCli.run(spark, args)).getMessage
    assert(fails(Array.empty).contains("required"))
    assert(fails(Array("/tmp/definitely-not-a-run-dir")).contains("curated"))
    assert(fails(Array("a", "b")).contains("required"))
    assert(fails(Array(out, "--bogus")).contains("unknown flag"))
    assert(fails(Array(out, "--top-k", "x")).contains("not a number"))
  }

  test("audits are listed from audit/: a stage no card code names still lands in card.json") {
    val out = Files.createTempDirectory("cardl-out-").toString
    Seq((1L, "a b c")).toDF("doc_id", "text").write.parquet(s"$out/curated")
    Seq(7L, 8L, 9L).toDF("doc_id").write.parquet(s"$out/audit/dropped_new_stage")
    Seq(1L).toDF("doc_id").write.parquet(s"$out/audit/dropped_quality")
    // a stray file next to the audit relations is not an audit
    Files.write(java.nio.file.Paths.get(out, "audit", "notes.txt"), "x".getBytes("UTF-8"))

    val json = CardCli.run(spark, Array(out))
    assert(json.contains(""""audits":{"dropped_new_stage":3,"dropped_quality":1}"""), json)
  }
}
