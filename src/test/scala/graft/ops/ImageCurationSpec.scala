package graft.ops

import graft.functions.{ImageKernels, TestSpark}
import org.scalatest.funsuite.AnyFunSuite

/** Image-side quality gates ([[Multimodal.imageQuality]] /
  * [[Multimodal.curateImages]]): the pre-training image filters —
  * undecodable, too-small, extreme-aspect, near-constant — with exact
  * statistics on constructed images (PNG is lossless, so luma/entropy/
  * stddev have closed forms). */
class ImageCurationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def img(w: Int, h: Int)(px: (Int, Int) => Int): Array[Byte] = {
    val im = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) im.setRGB(x, y, px(x, y))
    ImageKernels.encode(im, "png")
  }
  private def gray(v: Int): Int = (v << 16) | (v << 8) | v
  private def row(id: String, bytes: Array[Byte], kind: String = "image") =
    MediaRow(id, kind, bytes, Map.empty)

  test("imageQuality: exact stats on constructed images") {
    val media = Seq(
      row("flat", img(16, 12)((_, _) => gray(77))),
      row("checker", img(16, 12)((x, y) => if ((x + y) % 2 == 0) 0 else 0xFFFFFF)),
      row("corrupt", Array[Byte](1, 2, 3))).toDS()
    val q = Multimodal.imageQuality(media).collect().map(r => r.media_id -> r).toMap
    val f = q("flat")
    assert(f.decodable && f.width == 16 && f.height == 12)
    assert(f.mean_luma == 77.0 && f.stddev_luma == 0.0 && f.entropy_bits == 0.0)
    val c = q("checker")
    assert(c.mean_luma == 127.5 && c.stddev_luma == 127.5 && c.entropy_bits == 1.0)
    val bad = q("corrupt")
    assert(!bad.decodable && bad.width == -1)
  }

  test("curateImages: each gate fires with its reason; good images and non-images pass") {
    val noise = img(64, 48)((x, y) =>
      gray((graft.sources.SiteGraph.mix(7L, x.toLong, y.toLong) >>> 40).toInt & 0xff))
    val media = Seq(
      row("good", noise),
      row("flat", img(64, 48)((_, _) => gray(200))),
      row("tiny", img(8, 8)((x, y) => gray((x * 31 + y * 17) % 256))),
      row("banner", img(256, 48)((x, y) => gray((x * 31 + y * 17) % 256))),
      row("corrupt", Array[Byte](9, 9, 9)),
      row("clip", Array[Byte](1), kind = "audio")).toDS()
    val (kept, audit) = Multimodal.curateImages(media,
      minW = 32, minH = 32, maxAspect = 4.0, minEntropyBits = 1.0)
    assert(kept.collect().map(_.media_id).toSet == Set("good", "clip"))
    val reasons = audit.select("media_id", "reason").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(reasons == Map("flat" -> "low_entropy", "tiny" -> "too_small",
      "banner" -> "extreme_aspect", "corrupt" -> "undecodable"))
  }

  test("captionReason: gate matrix in pinned order; captionTokens counts whitespace tokens") {
    import org.apache.spark.sql.functions._
    val df = Seq(
      ("missing", ""),
      ("blank", "   "),
      ("short", "just two"),
      ("long", ("tok " * 129).trim),
      ("digits", "12 34 56 78"),
      ("mixed", "a photo of item 42"),
      ("ok", "a red bicycle leaning on a wall")).toDF("id", "caption")
    val out = df.select(col("id"),
        Multimodal.captionTokens(col("caption")).as("n"),
        Multimodal.captionReason(col("caption")).as("reason"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(out("missing") == (0L, "caption_missing"))
    assert(out("blank") == (0L, "caption_missing"))
    assert(out("short") == (2L, "caption_too_short"))
    assert(out("long") == (129L, "caption_too_long"))
    assert(out("digits") == (4L, "caption_low_alpha"))
    assert(out("mixed")._2 == null) // letters 12 / nonspace 14 = 0.857 ≥ 0.5
    assert(out("ok") == (7L, null))
    // null caption → missing
    val n = Seq(Tuple1(Option.empty[String])).toDF("caption")
      .select(Multimodal.captionReason(col("caption"))).head().getString(0)
    assert(n == "caption_missing")
  }

  test("pairReasons: caption gates fire before image gates; kept+audit partition the input") {
    import org.apache.spark.sql.functions.lit
    val noise = img(64, 48)((x, y) =>
      gray((graft.sources.SiteGraph.mix(7L, x.toLong, y.toLong) >>> 40).toInt & 0xff))
    val rows = Seq(
      (1L, noise, "a red bicycle leaning on a wall"),      // passes both
      (2L, noise, "x"),                                    // caption_too_short
      (3L, Array[Byte](1, 2), "a perfectly fine caption"), // unknown_container
      (4L, Array[Byte](1, 2), ""),                         // caption gate wins
      (5L, img(8, 8)((x, y) => gray((x * 31 + y) % 256)),
        "a small but well captioned image"))               // too_small
    val df = rows.toDF("image_id", "bytes", "caption").withColumn("fmt", lit("png"))
    val reasons = Multimodal.pairReasons(df, minW = 32, minH = 32)
      .select("image_id", "reason").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    // every input row is either kept (null reason) or audited with one reason
    assert(reasons.keySet == rows.map(_._1).toSet)
    assert(reasons.collect { case (id, None) => id }.toSet == Set(1L))
    assert(reasons.collect { case (id, Some(r)) => id -> r } == Map(
      2L -> "caption_too_short", 3L -> "unknown_container",
      4L -> "caption_missing", 5L -> "too_small"))
  }

  test("aspectBatches: integer banding, per-band chunking, dropIncomplete, sharded assignment total") {
    import org.apache.spark.sql.functions._
    // 10 ids: bands by milli-aspect of (w, h)
    val meta = Seq(
      (0L, 10, 20), (1L, 10, 15),             // 500, 666 → tall
      (2L, 10, 10), (3L, 12, 10), (4L, 9, 9), // 1000, 1200, 1000 → square
      (5L, 15, 10), (6L, 19, 10),             // 1500, 1900 → wide
      (7L, 20, 10), (8L, 30, 10), (9L, 21, 10) // ≥2000 → ultrawide
    ).toDF("id", "w", "h")
    val out = Multimodal.aspectBatches(meta, "id", "w", "h", batchSize = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(3), r.getLong(4)))).toMap
    assert(out(0L) == ("tall", 0L, 0L) && out(1L) == ("tall", 0L, 1L))
    assert(out(2L) == ("square", 0L, 0L) && out(3L) == ("square", 0L, 1L))
    assert(out(4L) == ("square", 1L, 0L)) // trailing partial batch
    assert(out(5L) == ("wide", 0L, 0L) && out(6L) == ("wide", 0L, 1L))
    assert(out(7L) == ("ultrawide", 0L, 0L) && out(8L) == ("ultrawide", 0L, 1L))
    assert(out(9L) == ("ultrawide", 1L, 0L))
    // dropIncomplete removes exactly the two partial trailing batches
    val full = Multimodal.aspectBatches(meta, "id", "w", "h", batchSize = 2,
      dropIncomplete = true)
    assert(full.count() == 8 && full.filter(col("id").isin(4L, 9L)).count() == 0)
    // sharded: every row assigned exactly once; each (band, shard, batch) ≤ batchSize
    val sharded = Multimodal.aspectBatches(meta, "id", "w", "h",
      batchSize = 2, shards = 4)
    assert(sharded.select("id").distinct().count() == 10)
    val overfull = sharded.groupBy("band", "shard", "batch_ix")
      .count().filter(col("count") > 2).count()
    assert(overfull == 0)
  }

  test("ingestCurated: gated writeback inserts only quality-passing images, audit carries reasons") {
    import graft.model.{CrawlConfig, PageRow}
    import graft.operators.{FrontierCrawler, ImageWriteback}
    import graft.sources.{IceLite, ImageGen, ImageRow}
    val pages = Seq(
      PageRow("http://i.com/", 200, None, Seq("/a", "/b"), None, Some("text/html"), None, Some("good")),
      PageRow("http://i.com/a", 200, None, Nil, None, Some("text/html"), None, Some("flat")),
      PageRow("http://i.com/b", 200, None, Nil, None, Some("text/html"), None, Some("corrupt")))
    val good = ImageGen.imageFor(3L, seed = 7L, dupEvery = 1000).copy(image_id = "good")
    val imgs = Seq(good,
      ImageRow("flat", img(64, 48)((_, _) => gray(10)), 64, 48, "png", "cap#flat", 111L),
      ImageRow("corrupt", Array[Byte](5), 4, 4, "png", "cap#c", 222L))
    val out = new FrontierCrawler(spark, pages.toDS(), CrawlConfig(maxConcurrent = 8))
      .crawl("http://i.com/")
    val t = new IceLite(spark,
      java.nio.file.Files.createTempDirectory("icelite-cur-").toString)
    val (inserted, audit) = ImageWriteback.ingestCurated(out, pages.toDS(), imgs.toDS(), t)
    assert(inserted == 1L)
    val reasons = audit.select("media_id", "reason").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(reasons == Map("flat" -> "low_entropy", "corrupt" -> "undecodable"))
    assert(t.read().select("image_id").as[String].collect().toSeq == Seq("good"))
  }
}
