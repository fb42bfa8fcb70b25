package graft

import graft.functions.TestSpark
import graft.model.CrawlConfig
import graft.operators.{FrontierCrawler, ImageWriteback}
import graft.ops.{MediaRow, Multimodal, Similarity}
import graft.sources.{IceLite, ImageGen, SiteGraph}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The whole engine as one training-data pipeline: crawl a synthetic site,
  * MERGE the visited pages' image payloads into the phash-partitioned
  * snapshot table, extract 64-dim features from the stored bytes through
  * the multimodal batch operators, and find near-duplicate images with the
  * embedding-similarity operators — planted pixel-duplicates must surface
  * as cosine≈1 pairs, unrelated images must not.
  */
class PipelineIntegrationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("crawl → snapshot-table MERGE → features → near-dup detection") {
    // 1. a synthetic site whose 200-pages carry image payload pointers
    val pages = SiteGraph.localPages(SiteGraph.GraphParams(
      nHosts = 1, pagesPerHost = 60, linksPerPage = 4,
      redirectFrac = 0.05, errorFrac = 0.05, seed = 23L))
    val ids = pages.flatMap(_.imageId)
    // payload table: every 6th image repeats the content of image 5 (same
    // pixels ⇒ same phash ⇒ MERGE dedup collapses them)
    val imgs = ids.zipWithIndex.map { case (id, i) =>
      ImageGen.imageFor(i.toLong, seed = 9L, dupEvery = 6).copy(image_id = id)
    }
    val seed = pages.find(_.status == 200).get.url

    // 2. crawl + writeback with MERGE-on-phash into a partitioned table
    val out = new FrontierCrawler(spark, pages.toDS(),
      CrawlConfig(maxConcurrent = 10)).crawl(seed)
    val table = new IceLite(spark, Files.createTempDirectory("pipeline-").toString,
      partition = Some(IceLite.phashPartition()))
    val inserted = ImageWriteback.ingest(out, pages.toDS(), imgs.toDS(), table)
    assert(inserted > 0)
    // table is keyed by phash — planted duplicates collapsed
    val stored = table.read().cache()
    assert(stored.select("phash").distinct().count() == stored.count())

    // 3. features from the STORED bytes (decode runs on what the table holds)
    val media = stored.select("image_id", "bytes").as[(String, Array[Byte])]
      .map { case (id, bytes) => MediaRow(id, "image", bytes, Map.empty) }
    val feats = Multimodal.extractFeatures(media)
      .map(f => (f.media_id, f.feature.map(_.toDouble)))
      .toDF("image_id", "embedding")
    assert(feats.select(size($"embedding")).distinct().as[Int].collect().toSeq == Seq(64))

    // 4. ANN near-dup over the features: distinct phashes mean no exact
    // duplicates remain, so require NO cosine-0.999 pair (the planted dupes
    // were already collapsed by the MERGE) while similar gradients may pair
    // at lower thresholds
    val keyed = feats.withColumn("vid", xxhash64($"image_id"))
    val exact = Similarity.nearDupPairs(keyed, "vid", "embedding", threshold = 0.999999)
    assert(exact.count() == 0, "duplicate content survived the MERGE")

    // 5. negative control: without the MERGE (plain append), the planted
    // duplicates DO surface as cosine=1 pairs through the same feature+ANN path
    val raw = imgs.toDF()
    val rawFeats = Multimodal.extractFeatures(
        raw.select("image_id", "bytes").as[(String, Array[Byte])]
          .map { case (id, bytes) => MediaRow(id, "image", bytes, Map.empty) })
      .map(f => (f.media_id, f.feature.map(_.toDouble))).toDF("image_id", "embedding")
      .withColumn("vid", xxhash64($"image_id"))
    val dupPairs = Similarity.nearDupPairs(rawFeats, "vid", "embedding", threshold = 0.999999)
    assert(dupPairs.count() > 0, "planted duplicates not detected pre-MERGE")

    // 6. group-level dedup as the relational twin of the MERGE: phash
    // hamming components over the RAW (pre-MERGE) payload rows must keep
    // exactly as many canonical images as the MERGE stored — the same
    // planted duplicates collapse whether dedup runs as MERGE-INTO on the
    // table or as pairs → components → keep-one on the corpus
    val rawHashed = raw.select($"image_id", $"phash")
      .withColumn("iid", xxhash64($"image_id"))
    val groups = graft.ops.Dedup.dedupComponents(rawHashed, "iid",
      Multimodal.phashNearDup(rawHashed, "iid", maxHamming = 0))
    assert(groups.count() == raw.count())
    assert(groups.filter($"is_kept" === 1).count() == stored.count(),
      "components keep-one disagrees with MERGE-on-phash dedup")

    // 7. incremental epoch through the DEDUP path (the daily-increment
    // loop): epoch-2 images — half genuinely new, half byte-duplicates of
    // epoch-1 content — pair against the STANDING corpus via
    // hammingPairsIncremental (no corpus×corpus), fold into the epoch-1
    // labels via connectedComponentsIncremental, and only unmatched
    // epoch-2 images survive a MERGE into the table
    val labels1 = graft.ops.Dedup.connectedComponents(
      Multimodal.phashNearDup(rawHashed, "iid", maxHamming = 0))
    val epoch2Imgs = (0 until 8).map { i =>
      // even i: duplicate of epoch-1 content i (even ⇒ never folded by the
      // dupEvery=6 rule itself); odd i: genuinely fresh content, generated
      // with a non-folding dupEvery so 905 % 6 == 5 can't alias content 5
      if (i % 2 == 0)
        ImageGen.imageFor(i.toLong, seed = 9L, dupEvery = 6).copy(image_id = s"e2-$i")
      else
        ImageGen.imageFor(900L + i, seed = 9L, dupEvery = 1000).copy(image_id = s"e2-$i")
    }
    val e2Hashed = epoch2Imgs.toDF().select($"image_id", $"phash")
      .withColumn("iid", xxhash64($"image_id"))
    val incPairs = graft.ops.Dedup.hammingPairsIncremental(
      rawHashed.select($"iid", $"phash"), e2Hashed.select($"iid", $"phash"),
      "iid", "phash", maxHamming = 0)
    val labels2 = graft.ops.Dedup.connectedComponentsIncremental(labels1, incPairs)
    // every duplicate epoch-2 image landed in an epoch-1 cluster; every
    // fresh one is absent from the pair-derived labels (own singleton)
    val e2ids = e2Hashed.select($"image_id", $"iid")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val lab2 = labels2.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val e1ids = rawHashed.select($"iid").as[Long].collect().toSet
    val members = lab2.toSeq.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    (0 until 8).foreach { i =>
      val id = e2ids(s"e2-$i")
      if (i % 2 == 0)
        assert(lab2.contains(id) &&
          members(lab2(id)).exists(e1ids.contains),
          s"e2-$i's cluster holds no epoch-1 member")
      else assert(!lab2.contains(id), s"fresh e2-$i wrongly clustered")
    }
    // and the table-level path agrees: MERGE inserts exactly the fresh ones
    val insertedE2 = table.mergeInsert(epoch2Imgs.toDF(), "phash")
    assert(insertedE2 == 4, s"MERGE inserted $insertedE2, expected the 4 fresh images")
    stored.unpersist()
  }
}
