package graft.ops

import graft.functions.TestSpark
import graft.sources.ImageGen
import org.scalatest.funsuite.AnyFunSuite

/** Image near-dup clustering on perceptual hashes, against a brute-force
  * in-test oracle over the deterministic q25/q35 image corpus. Also pins the
  * closed-form validity of the q35 oracle: planted byte-identical duplicates
  * sit at hamming 0 while the nearest DISTINCT pair of gradients stays well
  * outside the radius-3 join. */
class PhashNearDupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val ids = (0L until 48L).toSeq
  private lazy val hashes: Map[Long, Long] =
    ids.map(id => id -> ImageGen.imageFor(id, seed = 42L, dupEvery = 8).phash).toMap

  test("planted duplicates collide at hamming 0; distinct images keep a margin") {
    val dups = ids.filter(_ % 8 == 7)
    assert(dups.map(hashes).distinct.size == 1)
    val nonDupMin = (for {
      a <- ids; b <- ids if a < b && !(a % 8 == 7 && b % 8 == 7)
    } yield java.lang.Long.bitCount(hashes(a) ^ hashes(b))).min
    // q35 joins at radius 1; the nearest DISTINCT gradient pair in this
    // fixed corpus is (44,45) at hamming 2, so the closed-form oracle
    // (dup groups only) is valid exactly because this margin holds
    assert(nonDupMin > 1, s"nearest non-dup pair at hamming $nonDupMin")
  }

  test("phashNearDup + dedupComponents equals the brute-force grouping") {
    val imgs = ids.map(id => (id, hashes(id))).toDF("doc_id", "phash")
    val pairs = Multimodal.phashNearDup(imgs, "doc_id", maxHamming = 1)
    val got = Dedup.dedupComponents(imgs, "doc_id", pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val expected = ids.map { id =>
      val comp = if (id % 8 == 7) 7L else id
      (id, comp, if (comp == id) 1 else 0)
    }.toSet
    assert(got == expected)
  }

  test("pigeonhole pair set equals brute force at radius 3 over 64 bits") {
    val imgs = ids.map(id => (id, hashes(id))).toDF("doc_id", "phash")
    val got = Multimodal.phashNearDup(imgs, "doc_id", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val expected = (for {
      a <- ids; b <- ids if a < b
      h = java.lang.Long.bitCount(hashes(a) ^ hashes(b)) if h <= 3
    } yield (a, b, h)).toSet
    assert(got == expected)
  }

  test("incremental phash pairs == batch pairs touching the new image batch") {
    // a daily increment: images 32..47 arrive against standing 0..31
    val corpus = ids.filter(_ < 32).map(id => (id, hashes(id))).toDF("doc_id", "phash")
    val delta = ids.filter(_ >= 32).map(id => (id, hashes(id))).toDF("doc_id", "phash")
    val inc = Dedup.hammingPairsIncremental(corpus, delta, "doc_id", "phash",
      maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val expected = (for {
      a <- ids; b <- ids if a < b && (a >= 32 || b >= 32)
      h = java.lang.Long.bitCount(hashes(a) ^ hashes(b)) if h <= 3
    } yield (a, b, h)).toSet
    assert(inc == expected)
    assert(inc.nonEmpty) // planted dups span the epoch split (39, 47 vs 7…)
  }

  test("verifiedPhashDup: re-encodes survive on pixels; decoys and size mismatches die") {
    import graft.functions.ImageKernels
    // contents A (ids 0/1, png+jpg), B (ids 2/3, png+jpg, same size as A),
    // C (id 4, A's size, different pixels), D (id 5, different size).
    // maxHamming = 64 makes EVERY pair a pigeonhole candidate (zero-width
    // blocks match all), so the PSNR stage alone must kill: cross-content
    // same-size pairs (low PSNR) and size-mismatch pairs (PSNR = NaN —
    // Spark orders NaN above every number; the guard must drop them).
    def enc(ck: Long, w: Int, h: Int, fmt: String) =
      ImageKernels.encode(ImageGen.render(ck, seed = 23L, w = w, h = h), fmt)
    val rows = Seq(
      (0L, enc(100L, 48, 36, "png")), (1L, enc(100L, 48, 36, "jpg")),
      (2L, enc(200L, 48, 36, "png")), (3L, enc(200L, 48, 36, "jpg")),
      (4L, enc(300L, 48, 36, "png")),
      (5L, enc(100L, 52, 36, "png"))).toDF("doc_id", "bytes")
    val got = Multimodal.verifiedPhashDup(rows, "doc_id", "bytes", maxHamming = 64)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((0L, 1L), (2L, 3L)))
  }

  test("incremental verified pairs == batch verified pairs touching the delta") {
    import graft.functions.ImageKernels
    // content k at ids (2k, 2k+1): original + 1-pixel edit; content 4 at a
    // different size; id 10 = a further edit of content 0 arriving in the
    // delta (corpus×delta true pair)
    def render(k: Long, w: Int, h: Int, edit: Int): Array[Byte] = {
      val img = ImageGen.render(k, seed = 29L, w = w, h = h)
      (0 until edit).foreach { e =>
        val rgb = img.getRGB(1 + e, 1)
        val g = (rgb >> 8) & 0xff
        val g2 = if (g == 255) g - 1 else g + 1
        img.setRGB(1 + e, 1, (rgb & 0xffff00ff) | (g2 << 8))
      }
      ImageKernels.encode(img, "png")
    }
    val all = ((0L to 9L).map { id =>
      val k = id / 2
      val (w, h) = if (k == 4) (52, 36) else (48, 36)
      (id, render(k, w, h, (id % 2).toInt))
    } :+ ((10L, render(0L, 48, 36, 2)))).toDF("doc_id", "bytes")
    val corpus = all.filter($"doc_id" <= 5)
      .withColumn("phash", graft.functions.ImageFunctions.phash64($"bytes"))
    val delta = all.filter($"doc_id" > 5)
    val deltaIds = (6L to 10L).toSet
    val batch = Multimodal.verifiedPhashDup(all, "doc_id", "bytes", maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val expected = batch.filter(p => deltaIds(p._1) || deltaIds(p._2))
    val inc = Multimodal.verifiedPhashDupIncremental(corpus, delta,
        "doc_id", "bytes", maxHamming = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // candidates checkpointed, bytes attach pruned by semi-join: still
    // pair-for-pair the batch answer
    assert(inc == expected, s"inc=$inc expected=$expected")
    // the corpus×delta duplicate chain is present (not a vacuous equality)
    assert(expected.exists(p => p._1 <= 1 && p._2 == 10L))
    assert(expected.exists(p => p._1 == 6L && p._2 == 7L)) // intra-delta
  }

  test("verifiedPhashDup plan: pigeonhole equi-join candidates, never a cartesian") {
    val rows = (0L to 9L).map(id => (id, Array[Byte](1, 2, 3))).toDF("doc_id", "bytes")
    val plan = Multimodal.verifiedPhashDup(rows, "doc_id", "bytes", maxHamming = 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
      plan)
  }

  test("dhash gate: verified set unchanged, false candidates pruned pre-bytes") {
    import graft.functions.ImageKernels
    // the q53 corpus: content ck = id/2, odd id = 1-px edit of the even one
    def bytesFor(id: Long): Array[Byte] = {
      val ck = id / 2
      val img = ImageGen.render(ck, seed = 19L,
        w = 40 + (ck % 16).toInt, h = 30 + (ck % 8).toInt)
      if (id % 2 == 1) {
        val rgb = img.getRGB(1, 1)
        val g = (rgb >> 8) & 0xff
        val g2 = if (g == 255) g - 1 else g + 1
        img.setRGB(1, 1, (rgb & 0xffff00ff) | (g2 << 8))
      }
      ImageKernels.encode(img, "png")
    }
    val ids = (0L until 200L).toSeq
    val rows = ids.map(id => (id, bytesFor(id))).toDF("doc_id", "bytes")
    val ungated = Multimodal.verifiedPhashDup(rows, "doc_id", "bytes", maxHamming = 8)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val gated = Multimodal.verifiedPhashDup(rows, "doc_id", "bytes",
        maxHamming = 8, dhashMaxHamming = 6)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // recall untouched: every verified pair survives the signature gate
    assert(gated == ungated)
    assert(gated == ids.filter(_ % 2 == 0).map(id => (id, id + 1)).toSet)
    // premise + prune accounting, recomputed brute-force from the kernels:
    // the gate must drop ONLY false candidates (decoys), and at least some —
    // those are PSNR decodes the gated plan never pays
    val sigs = ids.map { id =>
      val b = bytesFor(id)
      (id, ImageKernels.phash64(b), ImageKernels.dhash64(b))
    }
    val cand = for {
      (ia, pa, da) <- sigs; (ib, pb, db) <- sigs
      if ia < ib && ImageKernels.hamming64(pa, pb) <= 8
    } yield (ia, ib, ImageKernels.hamming64(da, db), ia / 2 == ib / 2)
    val truePruned = cand.count(c => c._4 && c._3 > 6)
    val decoysPruned = cand.count(c => !c._4 && c._3 > 6)
    val decoys = cand.count(!_._4)
    assert(truePruned == 0, s"gate dropped $truePruned true pairs")
    assert(decoysPruned > 0 && decoys > decoysPruned,
      s"fixture premise: expected a partial decoy prune, got $decoysPruned of $decoys")
  }
}
