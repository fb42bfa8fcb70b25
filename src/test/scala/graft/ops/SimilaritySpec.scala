package graft.ops

import graft.functions.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** ANN operators over the driver testdata embeddings: the IVF scale path
  * must recall most of the exact brute-force top-k while scanning only the
  * probed posting lists; LSH buckets must agree with the exact cosine on
  * verification. */
class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("ivfTopK: probed-list ANN recalls most of the exact top-k") {
    val k = 10
    val exact = Similarity.cosineTopK(emb, "vec_id", "embedding", queryId = 3L, k)
      .select("vec_id").as[Long].collect().toSet
    val approx = Similarity.ivfTopK(emb, "vec_id", "embedding", queryId = 3L, k,
      nLists = 16, nProbe = 6)
    val got = approx.select("vec_id").as[Long].collect().toSet
    val recall = exact.intersect(got).size.toDouble / k
    assert(recall >= 0.5, s"IVF recall too low: $recall (got=$got exact=$exact)")
    // probed less than the whole corpus: every result from ≤ nProbe lists
    assert(approx.select("list").distinct().count() <= 6)
  }

  test("LSH plane counts past 63 are rejected: 1L << p wraps at 64") {
    val e = Seq((1L, Array(1.0, 0.0))).toDF("id", "v")
    assertThrows[IllegalArgumentException](
      Similarity.lshSignature(e, "id", "v", planes = 64, dims = 2))
    assertThrows[IllegalArgumentException](
      Similarity.lshBandedNearDupPairs(e, "id", "v", planes = 64, bands = 2, dims = 2,
        threshold = 0.9))
    assert(Similarity.lshSignature(e, "id", "v", planes = 63, dims = 2)
      .select("sig").as[Long].head() >= 0L)
  }

  test("lshNearDupPairs agrees with exact pairs above the threshold (verified subset)") {
    val bounded = emb.filter($"vec_id" < 120)
    val lsh = Similarity.lshNearDupPairs(bounded, "vec_id", "embedding",
      planes = 4, dims = 64, threshold = 0.3)
      .select("v1", "v2").as[(Long, Long)].collect().toSet
    val exact = Similarity.nearDupPairs(bounded, "vec_id", "embedding", threshold = 0.3)
      .select("v1", "v2").as[(Long, Long)].collect().toSet
    // LSH candidates are a subset of exact pairs (each candidate re-verified
    // by exact cosine) and with 4 planes catch a reasonable share
    assert(lsh.subsetOf(exact))
    if (exact.nonEmpty)
      assert(lsh.size.toDouble / exact.size >= 0.2,
        s"LSH found ${lsh.size} of ${exact.size} pairs")
  }

  test("lshBandedNearDupPairs: amplification recovers high-cosine pairs single-band LSH misses; still a verified subset") {
    // planted near-dup corpus in the regime the semantic rung targets
    // (cos ≥ ~0.95 — the testdata embeddings have no pairs above 0.5):
    // 40 random base directions × 5 small perturbations each
    val rnd = new scala.util.Random(2026L)
    val dims = 32
    val rows = (0 until 40).flatMap { c =>
      val base = Array.fill(dims)(rnd.nextGaussian())
      (0 until 5).map { j =>
        val v = base.map(_ + 0.05 * rnd.nextGaussian())
        ((c * 5 + j).toLong, v.toSeq)
      }
    }
    val planted = rows.toDF("vec_id", "embedding")
    val exact = Similarity.nearDupPairs(planted, "vec_id", "embedding", 0.95)
      .select("v1", "v2").as[(Long, Long)].collect().toSet
    assert(exact.size >= 100, s"fixture premise: planted pairs, got ${exact.size}")
    val single = Similarity.lshNearDupPairs(planted, "vec_id", "embedding",
      planes = 8, dims = dims, threshold = 0.95)
      .select("v1", "v2").as[(Long, Long)].collect().toSet
    val banded = Similarity.lshBandedNearDupPairs(planted, "vec_id",
      "embedding", planes = 8, bands = 8, dims = dims, threshold = 0.95)
      .select("v1", "v2").as[(Long, Long)].collect().toSet
    // precision is owned by the cosine verify: both are subsets of exact
    assert(single.subsetOf(exact) && banded.subsetOf(exact))
    // band 0 of the banded form IS the single-band form (same plane
    // family), so amplification can only add candidates
    assert(single.subsetOf(banded))
    // the AND-OR construction amplifies: ≥90% recall at the default 8×8
    // where one 8-plane band misses a large share of the same pairs
    val bandedRecall = banded.size.toDouble / exact.size
    assert(bandedRecall >= 0.9,
      s"banded recall $bandedRecall (${banded.size}/${exact.size})")
    assert(banded.size > single.size,
      s"amplification added nothing: single=${single.size} banded=${banded.size}")
  }

  test("semanticDedup: LSH-found clusters collapse to their minimum, nothing invents edges") {
    val bounded = emb.filter($"vec_id" < 120)
    val got = Similarity.semanticDedup(bounded, "vec_id", "embedding",
      planes = 4, dims = 64, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // one row per corpus vector; every component label is a member's min
    assert(got.length == bounded.count())
    val byComp = got.groupBy(_._2)
    byComp.foreach { case (c, members) =>
      assert(members.map(_._1).min == c)
      assert(members.count(_._3 == 1) == 1)
    }
    // components refine the EXACT near-dup components: any two vectors the
    // semantic dedup merged really are connected by verified-cosine pairs
    val exactPairs = Similarity.nearDupPairs(bounded, "vec_id", "embedding", 0.3)
      .select("v1", "v2").as[(Long, Long)].collect()
    val exactComp = Dedup.connectedComponents(
        exactPairs.toSeq.toDF("d1", "d2"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach { case (id, c, _) =>
      if (id != c) assert(exactComp.getOrElse(id, id) == exactComp.getOrElse(c, c),
        s"semanticDedup merged $id into $c but exact components disagree")
    }
  }
}
