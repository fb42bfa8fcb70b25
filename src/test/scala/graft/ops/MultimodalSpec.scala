package graft.ops

import graft.functions.{ImageKernels, TestSpark}
import graft.sources.ImageGen
import org.scalatest.funsuite.AnyFunSuite

/** Multimodal plumbing: schemas, partition-batch operators, 1→N frame
  * expansion, feature shapes. Image paths decode for real; audio/video are
  * deterministic stubs (no codecs in this environment) — the dataflow is
  * what's under test.
  */
class MultimodalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def mediaFixture: Seq[MediaRow] = {
    val imgs = ImageGen.localImages(6, seed = 5L, dupEvery = 0).map(i =>
      MediaRow(i.image_id, "image", i.bytes, Map("fmt" -> i.fmt)))
    val audio = (0 until 3).map(i =>
      MediaRow(s"aud_$i", "audio", Array.tabulate[Byte](100 + i)(_.toByte), Map.empty))
    val video = (0 until 2).map(i =>
      MediaRow(s"vid_$i", "video", Array.tabulate[Byte](500 + i)(_.toByte), Map.empty))
    imgs ++ audio ++ video
  }

  test("decodeMeta: real dimensions for images, deterministic stub probe for a/v") {
    val metas = Multimodal.decodeMeta(mediaFixture.toDS()).collect().map(m => m.media_id -> m).toMap
    val byId = mediaFixture.map(m => m.media_id -> m).toMap
    metas.values.filter(_.kind == "image").foreach { m =>
      val img = ImageKernels.decode(byId(m.media_id).bytes)
      assert(m.width == img.getWidth && m.height == img.getHeight)
      assert(m.decoder == "imageio" && m.durationMs == -1L)
    }
    metas.values.filter(_.kind == "audio").foreach { m =>
      assert(m.width == -1 && m.durationMs > 0 && m.decoder == "stub:audio")
    }
    metas.values.filter(_.kind == "video").foreach { m =>
      assert(m.width > 0 && m.durationMs > 0 && m.decoder == "stub:video")
    }
    // determinism: identical second run
    val again = Multimodal.decodeMeta(mediaFixture.toDS()).collect().map(m => m.media_id -> m).toMap
    assert(metas == again)
  }

  test("resizeImages: bounded dimensions, pass-through for small/non-image rows") {
    val resized = Multimodal.resizeImages(mediaFixture.toDS(), 32, 32).collect()
    resized.filter(_.kind == "image").foreach { m =>
      val img = ImageKernels.decode(m.bytes)
      assert(img.getWidth <= 32 && img.getHeight <= 32)
    }
    val audioBytes = resized.filter(_.kind == "audio").map(_.bytes.length).sorted
    assert(audioBytes.toSeq == Seq(100, 101, 102)) // untouched
  }

  test("extractFeatures: fixed 64-dim vectors for every modality") {
    val feats = Multimodal.extractFeatures(mediaFixture.toDS()).collect()
    assert(feats.length == mediaFixture.length)
    feats.foreach(f => assert(f.feature.length == 64))
    val imgFeat = feats.find(_.media_id.startsWith("img")).get.feature
    assert(imgFeat.exists(_ != 0f)) // real pixel content, not zeros
  }
}
