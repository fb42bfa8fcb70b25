package graft

import graft.functions.{ImageKernels, TestSpark}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The image-pair curation entry end-to-end on a planted payload table:
  * gate drops (caption / container trust), exact phash collapse
  * (keep best recorded quality), near-dup clustering with PSNR-verified
  * candidates, and the audit relations that explain every drop. */
class ImageCurateCliSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // seeded smooth gradient; edit = 1-pixel green bump. For ck=17/seed=31
  // the edit flips exactly 2 phash bits at PSNR 83.7 dB (probed), so the
  // pair is a NEAR-dup (distinct phash within radius), not an exact dup.
  private def content(ck: Long, edit: Boolean = false): Array[Byte] = {
    val img = graft.sources.ImageGen.render(ck, seed = 31L, w = 40, h = 30)
    if (edit) {
      val rgb = img.getRGB(1, 1)
      val g = (rgb >> 8) & 0xff
      img.setRGB(1, 1, (rgb & 0xffff00ff) | ((if (g == 255) g - 1 else g + 1) << 8))
    }
    ImageKernels.encode(img, "png")
  }

  test("end-to-end: gates, exact keep-best on DECODED size, verified near-dup, audits") {
    val cap = "a photo of a red barn"
    val aBytes = content(1)                        // decodes 40×30
    // genuinely smaller copy of the same content (decodes 20×15): planted
    // into a1's phash group (the q50 growing-resolution-chain pattern —
    // the stored phash is the table's dedup key; the spec plants the
    // group, the CLI must pick the right member)
    val aSmall = ImageKernels.encode(
      graft.sources.ImageGen.render(1L, seed = 31L, w = 20, h = 15), "png")
    val bBytes = content(17)
    // premise of the near-dup plant: the edit moves the phash, within 8
    val bEdit = content(17, edit = true)
    val pb1 = ImageKernels.phash64(bBytes)
    val pb2 = ImageKernels.phash64(bEdit)
    val hd = ImageKernels.hamming64(pb1, pb2)
    assert(hd >= 1 && hd <= 8, s"fixture drift: edit hamming $hd")
    def row(id: String, bytes: Array[Byte], fmt: String, c: String, w: Int, h: Int,
        ph: Option[Long] = None) =
      (id, bytes, w, h, fmt, c, ph.getOrElse(ImageKernels.phash64(bytes)))
    val pa = ImageKernels.phash64(aBytes)
    val rows = Seq(
      row("a1", aBytes, "png", cap, 40, 30),
      // honest-but-smaller copy: recorded w*h SMALLER too — must lose on
      // decoded pixels (and would also lose on recorded)
      row("a2", aSmall, "png", cap, 10, 10, Some(pa)),
      // the LIAR: decodes 20×15 but CLAIMS 999×999 — under recorded-w*h
      // ranking this row would beat a1; under decoded ranking it loses
      row("a3", aSmall, "png", cap, 999, 999, Some(pa)),
      row("b1", bBytes, "png", cap, 40, 30),
      row("b2", bEdit, "png", cap, 20, 10),             // near-dup re-encode
      row("bad-cap", content(3), "png", "x", 40, 30),   // caption_too_short
      row("bad-fmt", content(4), "gif", cap, 40, 30))   // container lie
      .toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
    val in = Files.createTempDirectory("imgcurate-in-").toString
    rows.write.mode("overwrite").parquet(in)
    val out = Files.createTempDirectory("imgcurate-out-").toString

    val s = ImageCurateCli.run(spark, Array(in, out,
      "--min-w", "16", "--min-h", "12", "--near-dup", "8", "--psnr", "40"))
    assert(s == ImageCurateCli.ImageCurateSummary(7, 2, 2, 1, 2), s.toString)

    // b1/b2 decode to the SAME 40×30, so the near-dup keep-best ties on
    // decoded pixels and falls to canonicalByQuality's deterministic
    // tie-break (smallest signed phash)
    val keepB = if (pb1 < pb2) "b1" else "b2"
    val kept = spark.read.parquet(s"$out/curated")
      .select("image_id").as[String].collect().toSet
    assert(kept == Set("a1", keepB))
    val gateReasons = spark.read.parquet(s"$out/audit/dropped_gates")
      .as[(String, String)].collect().toMap
    assert(gateReasons == Map("bad-cap" -> "caption_too_short",
      "bad-fmt" -> "format_mismatch"))
    // BOTH smaller copies lost — a3's inflated recorded dimensions did not
    // buy it the group (the round-4 defect this spec pins)
    assert(spark.read.parquet(s"$out/audit/dropped_exact")
      .select("image_id").as[String].collect().toSet == Set("a2", "a3"))
    assert(spark.read.parquet(s"$out/audit/dropped_near_dup").count() == 1)
  }

  test("--orientation: mirrored/rotated re-posts collapse in canonical signature space; default stays blind") {
    val cap = "a photo of a red barn"
    // irregular content so the 8 orientations are far apart under the
    // PLAIN phash (a smooth gradient would be nearly mirror-symmetric)
    val base = {
      val im = new java.awt.image.BufferedImage(40, 30,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val rnd = new scala.util.Random(2026L)
      for (y <- 0 until 30; x <- 0 until 40) im.setRGB(x, y, rnd.nextInt() & 0xffffff)
      im
    }
    val orig = ImageKernels.encode(base, "png")
    val mirror = ImageKernels.encode(ImageKernels.orientOf(base, 1), "png")
    val rot = ImageKernels.encode(ImageKernels.orientOf(base, 6), "png") // 30×40
    // fixture premise: plain phash scatters the orientations beyond the
    // radius-2 near-dup join, so only canonical space can collapse them
    val plains = Seq(orig, mirror, rot).map(ImageKernels.phash64)
    assert(plains.combinations(2).forall { case Seq(a, b) =>
      ImageKernels.hamming64(a, b) > 2 }, s"fixture drift: $plains")
    val other = content(9)
    def row(id: String, bytes: Array[Byte], w: Int, h: Int) =
      (id, bytes, w, h, "png", cap, ImageKernels.phash64(bytes))
    val rows = Seq(row("x1", orig, 40, 30), row("x2", mirror, 40, 30),
      row("x3", rot, 30, 40), row("y1", other, 40, 30))
      .toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
    val in = Files.createTempDirectory("imgcurate-or-in-").toString
    rows.write.mode("overwrite").parquet(in)

    // default mode: three distinct stored phashes, no cluster bridges them
    val outOff = Files.createTempDirectory("imgcurate-or-off-").toString
    ImageCurateCli.run(spark, Array(in, outOff,
      "--min-w", "16", "--min-h", "12", "--near-dup", "2", "--psnr", "40"))
    assert(spark.read.parquet(s"$outOff/curated")
      .select("image_id").as[String].collect().toSet ==
      Set("x1", "x2", "x3", "y1"))

    // orientation mode: all three orientations share ONE canonical
    // signature and collapse in the exact stage (decoded pixel counts tie
    // → max image_id wins, deterministic); y1 is untouched
    val outOn = Files.createTempDirectory("imgcurate-or-on-").toString
    val s = ImageCurateCli.run(spark, Array(in, outOn,
      "--min-w", "16", "--min-h", "12", "--near-dup", "2", "--psnr", "40",
      "--orientation"))
    assert(spark.read.parquet(s"$outOn/curated")
      .select("image_id").as[String].collect().toSet == Set("x3", "y1"))
    assert(spark.read.parquet(s"$outOn/audit/dropped_exact")
      .select("image_id").as[String].collect().toSet == Set("x1", "x2"))
    assert(s.kept == 2 && s.droppedExact == 2, s.toString)
  }

  test("--batches: banded, resampled, complete training batches over curated pairs") {
    // 9 distinct landscape images (40x30 -> milli-aspect 1333 -> band
    // 'wide'); batch size 4 with dropIncomplete keeps 8 rows (2 batches),
    // each resampled to the wide target 16 x 12 (--batch-side 16)
    val rows = (0 until 9).map { i =>
      ("img%02d".format(i), content(100 + i), 40, 30, "png",
        s"a photo of test scene number $i", ImageKernels.phash64(content(100 + i)))
    }.toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
    val in = Files.createTempDirectory("imgbatch-in-").toString
    rows.write.mode("overwrite").parquet(in)
    val out = Files.createTempDirectory("imgbatch-out-").toString

    val s = ImageCurateCli.run(spark, Array(in, out,
      "--min-w", "16", "--min-h", "12",
      "--batches", "4", "--batch-side", "16", "--batch-mode", "area"))
    assert(s == ImageCurateCli.ImageCurateSummary(9, 0, 0, 0, 9, 8), s.toString)

    val b = spark.read.parquet(s"$out/batches")
      .select("image_id", "band", "batch_ix", "slot", "width", "height", "bytes", "caption")
      .collect()
    assert(b.length == 8)
    assert(b.forall(_.getString(1) == "wide"))
    assert(b.map(r => (r.getLong(2), r.getLong(3))).toSet ==
      (for (bi <- 0 to 1; sl <- 0 to 3) yield (bi.toLong, sl.toLong)).toSet)
    for (r <- b) {
      assert((r.getInt(4), r.getInt(5)) == (16, 12))
      val dec = ImageKernels.decode(r.getAs[Array[Byte]]("bytes"))
      assert((dec.getWidth, dec.getHeight) == (16, 12))
      assert(r.getString(7).startsWith("a photo of test scene"))
    }
  }

  test("--align: CLIP-score gate drops misaligned, unscorable and unscored pairs") {
    // 4 honest pairs that pass every quality gate; alignment is decided
    // entirely by the planted inference-output embeddings
    val rows = (0 until 4).map { i =>
      ("img%02d".format(i), content(200 + i), 40, 30, "png",
        s"a photo of test scene number $i", ImageKernels.phash64(content(200 + i)))
    }.toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
    val emb = Seq(
      ("img00", Seq(1.0, 0.0), Seq(2.0, 0.0)),  // cos 1.0  → kept
      ("img01", Seq(1.0, 0.0), Seq(0.0, 1.0)),  // cos 0.0  → dropped
      ("img02", Seq(1.0, 0.0), Seq(0.0, 0.0)))  // zero-norm → unscorable
      // img03 missing from the inference output → unscorable
      .toDF("image_id", "image_emb", "caption_emb")
    val in = Files.createTempDirectory("imgalign-in-").toString
    val embDir = Files.createTempDirectory("imgalign-emb-").toString
    rows.write.mode("overwrite").parquet(in)
    emb.write.mode("overwrite").parquet(embDir)
    val out = Files.createTempDirectory("imgalign-out-").toString

    val s = ImageCurateCli.run(spark, Array(in, out,
      "--min-w", "16", "--min-h", "12", "--align", embDir, "--align-min", "0.3"))
    assert(s == ImageCurateCli.ImageCurateSummary(4, 0, 0, 0, 1, -1, 3),
      s.toString)
    assert(spark.read.parquet(s"$out/curated")
      .select("image_id").as[String].collect().toSeq == Seq("img00"))
    // the audit ledger: scored-but-low carries its score, unscorable rows
    // carry NULL (zero-norm and missing-from-inference look the same to
    // the gate — no direction to compare)
    val dropped = spark.read.parquet(s"$out/audit/dropped_alignment")
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(dropped == Map("img01" -> Some(0.0), "img02" -> None,
      "img03" -> None), dropped.toString)
  }

  test("--strip-metadata: provenance scrubbed from curated bytes, pixels and phash intact") {
    // PNG with an injected tEXt provenance chunk right after IHDR
    // (8-byte signature + 25-byte IHDR chunk)
    def pngChunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val t = typ.getBytes("ISO-8859-1")
      val crc = new java.util.zip.CRC32(); crc.update(t); crc.update(data)
      def be32(v: Long) = Array(((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
        ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
      be32(data.length.toLong) ++ t ++ data ++ be32(crc.getValue)
    }
    val clean = content(300)
    val tainted = clean.take(33) ++
      pngChunk("tEXt", "Author Jane Roe, GPS 52.5N 13.4E".getBytes("ISO-8859-1")) ++
      clean.drop(33)
    val rows = Seq(
      ("t1", tainted, 40, 30, "png", "a photo of a tainted scene",
        ImageKernels.phash64(tainted)),
      ("c1", content(301), 40, 30, "png", "a photo of a clean scene",
        ImageKernels.phash64(content(301))))
      .toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
    val in = Files.createTempDirectory("imgstrip-in-").toString
    rows.write.mode("overwrite").parquet(in)
    val out = Files.createTempDirectory("imgstrip-out-").toString

    val s = ImageCurateCli.run(spark, Array(in, out,
      "--min-w", "16", "--min-h", "12", "--strip-metadata"))
    // the scrub is a write-side transform: nothing gates on it
    assert(s == ImageCurateCli.ImageCurateSummary(2, 0, 0, 0, 2), s.toString)

    val curated = spark.read.parquet(s"$out/curated")
      .select("image_id", "bytes", "phash").collect()
      .map(r => r.getString(0) -> ((r.getAs[Array[Byte]]("bytes"), r.getLong(2)))).toMap
    val (outBytes, storedPhash) = curated("t1")
    assert(!new String(outBytes, "ISO-8859-1").contains("Jane Roe"),
      "provenance chunk survived the scrub")
    assert(outBytes.length < tainted.length)
    // pixel stream untouched: decoded pixels equal, and the stored phash
    // still describes the scrubbed bytes
    val a = ImageKernels.decode(tainted); val b = ImageKernels.decode(outBytes)
    val pix = for (y <- 0 until a.getHeight; x <- 0 until a.getWidth)
      yield (a.getRGB(x, y), b.getRGB(x, y))
    assert(pix.forall { case (p, q) => p == q })
    assert(ImageKernels.phash64(outBytes) == storedPhash)
  }

  test("--byte-exact: byte-identical copies collapse before the gates, min id wins") {
    val shared = content(400)            // three byte-identical copies
    val other = content(401)             // distinct content, kept
    val rows = Seq(
      ("z9", shared, 40, 30, "png", "a photo of a shared asset",
        ImageKernels.phash64(shared)),
      ("a1", shared.clone(), 40, 30, "png", "a photo of a shared asset",
        ImageKernels.phash64(shared)),
      ("m5", shared.clone(), 40, 30, "png", "a photo of a shared asset",
        ImageKernels.phash64(shared)),
      ("u2", other, 40, 30, "png", "a photo of a unique asset",
        ImageKernels.phash64(other)))
      .toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
    val in = Files.createTempDirectory("imgbyte-in-").toString
    rows.write.mode("overwrite").parquet(in)
    val out = Files.createTempDirectory("imgbyte-out-").toString

    val s = ImageCurateCli.run(spark, Array(in, out,
      "--min-w", "16", "--min-h", "12", "--byte-exact"))
    // 4 in, 2 byte-copies dropped pre-decode, nothing else gates
    assert(s == ImageCurateCli.ImageCurateSummary(4, 0, 0, 0, 2, -1, -1, 2),
      s.toString)
    assert(spark.read.parquet(s"$out/curated")
      .select("image_id").as[String].collect().toSet == Set("a1", "u2"))
    assert(spark.read.parquet(s"$out/audit/dropped_byte_exact")
      .select("image_id").as[String].collect().toSet == Set("z9", "m5"))

    // without the flag the copies reach the phash stage instead — same
    // kept set (identical bytes tie on decoded quality; max image_id wins
    // there), but every copy pays the gate decode and no byte audit exists
    val out2 = Files.createTempDirectory("imgbyte-out2-").toString
    val s2 = ImageCurateCli.run(spark, Array(in, out2,
      "--min-w", "16", "--min-h", "12"))
    assert(s2.droppedByteExact == -1L)
    assert(s2.kept == 2L)
  }

  test("usage errors: missing positionals, unknown flag, bad number") {
    def fails(args: Array[String]): String =
      intercept[CurateCli.CliUsageError](ImageCurateCli.run(spark, args)).getMessage
    assert(fails(Array("only-one")).contains("required"))
    assert(fails(Array("a", "b", "--bogus")).contains("unknown flag"))
    assert(fails(Array("a", "b", "--near-dup", "soon")).contains("not a number"))
    assert(fails(Array("a", "b", "--split", "train:0.5")).contains("sum to 1"))
    assert(fails(Array("a", "b", "--split", "nonsense")).contains("name:weight"))
    // NaN parses as a double and poisons every numeric comparison to
    // false — the parser must reject it at parse time, not at write time
    assert(fails(Array("a", "b", "--split", "train:NaN,val:1.0"))
      .contains("sum to 1"))
    assert(fails(Array("a", "b", "--split", "train:zero,val:1.0"))
      .contains("not a number"))
    // plane p sets bit 1L << p, which wraps at 64: out-of-range plane
    // counts fail at parse time, not as silently aliased LSH bits
    Seq("0", "64", "100").foreach { n =>
      assert(fails(Array("a", "b", "--semantic-planes", n)).contains("[1, 63]"), n)
    }
    // one run hashes one embedding width: mixed widths in the --semantic
    // input fail before any stage runs, naming the widths; empty vectors
    // have no width and do not count
    val cap = "a photo of a red barn"
    val in = Files.createTempDirectory("imgusage-in-").toString
    Seq(("a", content(1)), ("b", content(3))).map { case (id, bs) =>
        (id, bs, 40, 30, "png", cap, ImageKernels.phash64(bs)) }
      .toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
      .write.mode("overwrite").parquet(in)
    val embDir = Files.createTempDirectory("imgusage-emb-").toString
    Seq(("a", Seq(1.0, 0.0, 0.0, 0.0)), ("b", Seq.fill(8)(0.5)),
        ("c", Seq.empty[Double]))
      .toDF("image_id", "image_emb").write.mode("overwrite").parquet(embDir)
    val out = Files.createTempDirectory("imgusage-out-").toString
    assert(fails(Array(in, out, "--byte-exact", "--semantic", embDir))
      .contains("mixed embedding widths 4, 8"))
    assert(!Files.exists(java.nio.file.Paths.get(out, "audit")))
  }

  test("--caption-cap: templated caption rationed AFTER dedup, smallest ids win, audit carries frequency") {
    val hot = "a stock photo of something"
    // 6 DISTINCT images sharing one templated caption + 2 unique-caption
    // rows; all distinct content, so no dedup stage collapses anything
    // and the cap is the only thing dropping rows
    val rows = (1 to 6).map(i => ("c" + i, content(100L + i), hot)) ++
      Seq(("u1", content(200L), "a photo of a red barn"),
        ("u2", content(201L), "a photo of a blue door"))
    assert(rows.map(r => ImageKernels.phash64(r._2)).distinct.size == 8,
      "fixture drift: phashes must be distinct")
    val df = rows.map { case (id, b, c) => (id, b, 40, 30, "png", c,
      ImageKernels.phash64(b)) }
      .toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
    val in = Files.createTempDirectory("imgcap-in-").toString
    df.write.mode("overwrite").parquet(in)
    val out = Files.createTempDirectory("imgcap-out-").toString

    val s = ImageCurateCli.run(spark, Array(in, out,
      "--min-w", "16", "--min-h", "12", "--caption-cap", "2",
      "--caption-salts", "4"))
    assert(s == ImageCurateCli.ImageCurateSummary(8, 0, 0, 0, 4,
      droppedCaptionCap = 4), s.toString)
    // deterministic ascending-id admission: c1, c2 keep the hot caption
    assert(spark.read.parquet(s"$out/curated")
      .select("image_id").as[String].collect().toSet ==
      Set("c1", "c2", "u1", "u2"))
    val au = spark.read.parquet(s"$out/audit/dropped_caption_cap")
      .as[(String, Long)].collect().toMap
    assert(au == Map("c3" -> 6L, "c4" -> 6L, "c5" -> 6L, "c6" -> 6L))
  }

  test("--decontam: benchmark re-posts drop before dedup, clean corpus unaffected") {
    val cap = "a photo of a red barn"
    val aBytes = content(1)
    val bBytes = content(17)
    val bEdit = content(17, edit = true)   // phash within 8 of bBytes
    val rows = Seq(
      ("a1", aBytes, 40, 30, "png", cap, ImageKernels.phash64(aBytes)),
      ("b1", bBytes, 40, 30, "png", cap, ImageKernels.phash64(bBytes)))
      .toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
    val in = Files.createTempDirectory("imgdecon-in-").toString
    rows.write.mode("overwrite").parquet(in)
    // the benchmark contains an EDITED copy of b — the stored phash is
    // near, not equal; radius-8 decontamination must still catch b1
    val evalDir = Files.createTempDirectory("imgdecon-eval-").toString
    Seq(Tuple1(ImageKernels.phash64(bEdit)), Tuple1(0x1234567890abcdefL))
      .toDF("phash").write.mode("overwrite").parquet(evalDir)
    val out = Files.createTempDirectory("imgdecon-out-").toString

    val s = ImageCurateCli.run(spark, Array(in, out,
      "--min-w", "16", "--min-h", "12",
      "--decontam", evalDir, "--decontam-radius", "8"))
    assert(s == ImageCurateCli.ImageCurateSummary(2, 0, 0, 0, 1,
      droppedDecontam = 1), s.toString)
    assert(spark.read.parquet(s"$out/curated")
      .select("image_id").as[String].collect().toSet == Set("a1"))
    val au = spark.read.parquet(s"$out/audit/dropped_decontam")
      .select("image_id", "n_eval_hits").as[(String, Long)].collect().toMap
    assert(au == Map("b1" -> 1L))
  }

  test("--decontam with 8-orientation eval hashes: a MIRRORED benchmark re-post is caught") {
    val cap = "a photo of a red barn"
    // irregular content: mirroring must move the plain phash far (a
    // smooth gradient would be nearly mirror-symmetric)
    val base = {
      val im = new java.awt.image.BufferedImage(40, 30,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val rnd = new scala.util.Random(77L)
      for (y <- 0 until 30; x <- 0 until 40) im.setRGB(x, y, rnd.nextInt() & 0xffffff)
      im
    }
    val origBytes = ImageKernels.encode(base, "png")
    val mirrored = ImageKernels.encode(ImageKernels.orientOf(base, 1), "png")
    val clean = content(4)
    // fixture premise: the mirrored raster's plain phash is far from the
    // original's — plain-phash decontamination would NOT catch it
    val plainDist = ImageKernels.hamming64(
      ImageKernels.phash64(origBytes), ImageKernels.phash64(mirrored))
    assert(plainDist > 8, s"fixture drift: mirror moved phash only $plainDist")
    val rows = Seq(
      ("repost", mirrored, 40, 30, "png", cap, ImageKernels.phash64(mirrored)),
      ("clean", clean, 40, 30, "png", cap, ImageKernels.phash64(clean)))
      .toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
    val in = Files.createTempDirectory("imgodecon-in-").toString
    rows.write.mode("overwrite").parquet(in)
    // eval parquet: all 8 orientation hashes of the ORIGINAL benchmark
    // image, one row each — the documented mirrored-re-post recipe
    val evalDir = Files.createTempDirectory("imgodecon-eval-").toString
    Seq(Tuple1(origBytes)).toDF("bytes")
      .select(org.apache.spark.sql.functions.explode(
        graft.functions.ImageFunctions.phash_orientations($"bytes")).as("phash"))
      .write.mode("overwrite").parquet(evalDir)
    val out = Files.createTempDirectory("imgodecon-out-").toString
    val s = ImageCurateCli.run(spark, Array(in, out,
      "--min-w", "16", "--min-h", "12", "--decontam", evalDir,
      "--decontam-radius", "8"))
    assert(s.droppedDecontam == 1L, s.toString)
    assert(spark.read.parquet(s"$out/curated")
      .select("image_id").as[String].collect().toSet == Set("clean"))
    assert(spark.read.parquet(s"$out/audit/dropped_decontam")
      .select("image_id").as[String].collect().toSet == Set("repost"))
  }

  test("--semantic: same-content different-pixel re-posts collapse by embedding, keep-best decoded; missing embeddings pass through") {
    val cap = "a photo of a red barn"
    // A and its re-render Asmall are DIFFERENT pixels (distinct phash —
    // no pixel rung relates them) but share a near-identical embedding;
    // B has its own embedding; C is missing from the inference output
    val aBytes = ImageKernels.encode(
      graft.sources.ImageGen.render(1L, seed = 31L, w = 40, h = 30), "png")
    val aSmall = ImageKernels.encode(
      graft.sources.ImageGen.render(1L, seed = 31L, w = 20, h = 15), "png")
    val bBytes = content(3)
    val cBytes = content(4)
    assert(ImageKernels.phash64(aBytes) != ImageKernels.phash64(aSmall),
      "fixture drift: the re-render must not collapse in the exact stage")
    val rows = Seq(
      ("a-big", aBytes), ("a-small", aSmall), ("b", bBytes), ("c", cBytes))
      .map { case (id, bs) =>
        (id, bs, 40, 30, "png", cap, ImageKernels.phash64(bs)) }
      .toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
    val in = Files.createTempDirectory("imgsem-in-").toString
    rows.write.mode("overwrite").parquet(in)
    val embA = Seq(1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
    val embA2 = Seq(1.0, 1e-6, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
    val embB = Seq(0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0)
    val embDir = Files.createTempDirectory("imgsem-emb-").toString
    Seq(("a-big", embA), ("a-small", embA2), ("b", embB))
      .toDF("image_id", "image_emb").write.mode("overwrite").parquet(embDir)
    val out = Files.createTempDirectory("imgsem-out-").toString

    val s = ImageCurateCli.run(spark, Array(in, out,
      "--min-w", "16", "--min-h", "12",
      "--semantic", embDir, "--semantic-min", "0.95"))
    assert(s == ImageCurateCli.ImageCurateSummary(4, 0, 0, 0, 3,
      droppedSemantic = 1), s.toString)
    // keep-best by DECODED pixels: the 40x30 render wins its cluster;
    // the un-embedded row c is NOT dropped
    assert(spark.read.parquet(s"$out/curated")
      .select("image_id").as[String].collect().toSet == Set("a-big", "b", "c"))
    assert(spark.read.parquet(s"$out/audit/dropped_semantic")
      .select("image_id").as[String].collect().toSet == Set("a-small"))
  }

  test("--split: leakage-safe column keyed on the dedup-group label, md5-replayable, stable across runs") {
    val cap = "a photo of a red barn"
    val aBytes = content(1)
    val bBytes = content(17)
    val bEdit = content(17, edit = true)
    val (pa, pb1, pb2) = (ImageKernels.phash64(aBytes),
      ImageKernels.phash64(bBytes), ImageKernels.phash64(bEdit))
    val rows = Seq(
      ("a1", aBytes, 40, 30, "png", cap, pa),
      ("b1", bBytes, 40, 30, "png", cap, pb1),
      ("b2", bEdit, 40, 30, "png", cap, pb2))
      .toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
    val in = Files.createTempDirectory("imgsplit-in-").toString
    rows.write.mode("overwrite").parquet(in)

    // the operator's md5 arithmetic, replayed independently (same replay
    // as LeakageSplitSpec / the q63 oracle)
    def expectedSplit(label: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"split:$label".getBytes("UTF-8"))
        .map(x => f"$x%02x").mkString.take(15)
      val b = java.lang.Long.parseLong(hex, 16) % 10000L
      if (b < 8000) "train" else if (b < 9000) "val" else "test"
    }
    def runOnce(): Map[String, String] = {
      val out = Files.createTempDirectory("imgsplit-out-").toString
      val s = ImageCurateCli.run(spark, Array(in, out,
        "--min-w", "16", "--min-h", "12", "--near-dup", "8",
        "--split", "train:0.8,val:0.1,test:0.1"))
      assert(s.splitCounts.values.sum == s.kept, s.toString)
      spark.read.parquet(s"$out/curated")
        .select("image_id", "split").as[(String, String)].collect().toMap
    }
    val got = runOnce()
    // survivors: a1 (singleton — label is its own phash) and the b-group
    // winner (label = the component representative, min signed phash)
    val keepB = if (pb1 < pb2) "b1" else "b2"
    assert(got.keySet == Set("a1", keepB))
    assert(got("a1") == expectedSplit(pa))
    assert(got(keepB) == expectedSplit(math.min(pb1, pb2)))
    // a re-run assigns identically — the split is a pure function of the
    // group label, so re-curating (or growing, as long as the component
    // representative survives) cannot move a group across the boundary
    assert(runOnce() == got)
  }
}
