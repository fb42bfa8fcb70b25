package graft.ops

import graft.functions.{ImageKernels, TestSpark}
import org.scalatest.funsuite.AnyFunSuite

/** [[Multimodal.imageDecontaminate]] — benchmark-image leakage detection.
  * The contract: the pigeonhole candidate path flags EXACTLY the corpus
  * rows a brute-force quadratic scan against the eval set would, corpus
  * rows near each other (but not near any eval row) are never flagged,
  * and real re-encoded/edited benchmark images are caught through their
  * perceptual signatures.
  */
class DecontamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def brute(corpus: Seq[(Long, Long)], evalSet: Seq[(Long, Long)],
      maxHamming: Int): Map[Long, (Long, Long)] =
    corpus.flatMap { case (id, s) =>
      val hits = evalSet
        .map { case (_, es) => java.lang.Long.bitCount(s ^ es) }
        .filter(_ <= maxHamming)
      if (hits.isEmpty) None else Some(id -> (hits.size.toLong, hits.min.toLong))
    }.toMap

  private def run(corpus: Seq[(Long, Long)], evalSet: Seq[(Long, Long)],
      maxHamming: Int): Map[Long, (Long, Long)] =
    Multimodal.imageDecontaminate(corpus.toDF("id", "sig"),
        evalSet.toDF("id", "sig"), "id", "sig", maxHamming)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("pigeonhole candidates equal the brute-force quadratic scan (random sigs)") {
    val rnd = new scala.util.Random(2026L)
    val corpus = (0L until 400L).map(i => i -> rnd.nextLong())
    // eval rows: half perturbed corpus sigs (0-4 bit flips), half random
    val evalSet = (0L until 40L).map { j =>
      val s =
        if (j % 2 == 0) {
          val base = corpus(rnd.nextInt(corpus.size))._2
          (0 until (j % 5).toInt).foldLeft(base)((a, k) => a ^ (1L << ((j * 7 + k * 13) % 64)))
        } else rnd.nextLong()
      (10000L + j) -> s
    }
    // eval rows 0-2 bits from other eval rows: eval–eval pairs exist and
    // must never count as hits
    val evalTwins = evalSet.take(20).map { case (j, s) =>
      (j + 100L) -> (0 until (j % 3).toInt).foldLeft(s)((a, k) => a ^ (1L << ((j * 3 + k) % 64)))
    }
    for (ev <- Seq(evalSet, evalSet ++ evalTwins); h <- Seq(0, 2, 4)) {
      assert(run(corpus, ev, h) == brute(corpus, ev, h), s"maxHamming=$h, ${ev.size} eval rows")
    }
  }

  test("corpus rows near each other but not near eval are never flagged") {
    // two corpus rows 1 bit apart; the eval row is far from both
    val corpus = Seq(1L -> 0x40L, 2L -> 0x41L)
    val evalSet = Seq(100L -> 0x0f0f0f0f0f0f0f0fL)
    assert(run(corpus, evalSet, 3).isEmpty)
    // and an empty eval set flags nothing no matter the radius
    assert(run(corpus, Seq.empty, 64).isEmpty)
  }

  test("real images: edited and re-posted benchmark images are caught via phash, clean corpus is not") {
    // corpus: 30 distinct renders; benchmark leaks: a 1-px edit of render
    // 17 (the ImageCurateCliSpec plant — the edit moves the phash 1-8
    // bits) and a straight re-post of render 9 (identical raster, hamming
    // 0 — an exact leak is still a leak)
    def img(ck: Long, edit: Boolean = false) = {
      val im = graft.sources.ImageGen.render(ck, seed = 31L, w = 40, h = 30)
      if (edit) {
        val rgb = im.getRGB(1, 1)
        val g = (rgb >> 8) & 0xff
        im.setRGB(1, 1, (rgb & 0xffff00ff) | ((if (g == 255) g - 1 else g + 1) << 8))
      }
      ImageKernels.phash64(ImageKernels.encode(im, "png"))
    }
    val corpus = (0L until 30L).map(i => i -> img(i))
    val evalSet = Seq(1000L -> img(17, edit = true), 1001L -> img(9))
    // fixture premise: the edit moves the hash but stays in radius
    val hd = java.lang.Long.bitCount(corpus(17)._2 ^ evalSet(0)._2)
    assert(hd >= 1 && hd <= 8, s"fixture drift: edit hamming $hd")
    assert(corpus(9)._2 == evalSet(1)._2)
    val flagged = run(corpus, evalSet, 8)
    assert(flagged == brute(corpus, evalSet, 8))
    assert(flagged.contains(17L) && flagged.contains(9L), flagged.toString)
    assert(flagged(9L)._2 == 0L) // the re-post is an exact signature hit
  }
}
