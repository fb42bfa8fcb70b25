package graft.ops

import graft.functions.TestSpark
import org.apache.spark.TestListenerBus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.scalatest.funsuite.AnyFunSuite

/** LSH near-dup pairs over the driver testdata embeddings and a planted
  * near-dup corpus: bucketed candidates must agree with the exact cosine on
  * verification, banding must amplify recall over a single band, and rows
  * with no usable vector must neither pair nor inflate the band join. */
class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  private val dims = 32

  /** Planted near-dup corpus in the regime the semantic rung targets
    * (cos ≥ ~0.95 — the testdata embeddings have no pairs above 0.5):
    * 40 random base directions × 5 small perturbations each. */
  private def plantedCorpus(): DataFrame = {
    val rnd = new scala.util.Random(2026L)
    val rows = (0 until 40).flatMap { c =>
      val base = Array.fill(dims)(rnd.nextGaussian())
      (0 until 5).map { j =>
        val v = base.map(_ + 0.05 * rnd.nextGaussian())
        ((c * 5 + j).toLong, Option(v.toSeq))
      }
    }
    rows.toDF("vec_id", "embedding")
  }

  /** `number of output rows` of every executed join keyed on `band`. */
  private def bandJoinRows(p: SparkPlan): Seq[Long] = p match {
    case a: AdaptiveSparkPlanExec => bandJoinRows(a.executedPlan)
    case q: QueryStageExec => bandJoinRows(q.plan)
    case j: BaseJoinExec if j.leftKeys.exists(_.references.exists(_.name == "band")) =>
      j.metrics("numOutputRows").value +: j.children.flatMap(bandJoinRows)
    case o => o.children.flatMap(bandJoinRows)
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

  test("single-band LSH (bands = 1) agrees with exact pairs above the threshold (verified subset)") {
    val bounded = emb.filter($"vec_id" < 120)
    val lsh = Similarity.lshBandedNearDupPairs(bounded, "vec_id", "embedding",
      planes = 4, bands = 1, dims = 64, threshold = 0.3)
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
    val planted = plantedCorpus()
    val exact = Similarity.nearDupPairs(planted, "vec_id", "embedding", 0.95)
      .select("v1", "v2").as[(Long, Long)].collect().toSet
    assert(exact.size >= 100, s"fixture premise: planted pairs, got ${exact.size}")
    val single = Similarity.lshBandedNearDupPairs(planted, "vec_id", "embedding",
      planes = 8, bands = 1, dims = dims, threshold = 0.95)
      .select("v1", "v2").as[(Long, Long)].collect().toSet
    val banded = Similarity.lshBandedNearDupPairs(planted, "vec_id",
      "embedding", planes = 8, bands = 8, dims = dims, threshold = 0.95)
      .select("v1", "v2").as[(Long, Long)].collect().toSet
    // precision is owned by the cosine verify: both are subsets of exact
    assert(single.subsetOf(exact) && banded.subsetOf(exact))
    // band 0 of the 8-band form IS the 1-band form (same plane family),
    // so amplification can only add candidates
    assert(single.subsetOf(banded))
    // the AND-OR construction amplifies: ≥90% recall at the default 8×8
    // where one 8-plane band misses a large share of the same pairs
    val bandedRecall = banded.size.toDouble / exact.size
    assert(bandedRecall >= 0.9,
      s"banded recall $bandedRecall (${banded.size}/${exact.size})")
    assert(banded.size > single.size,
      s"amplification added nothing: single=${single.size} banded=${banded.size}")
  }

  test("single-band LSH pairs → components: clusters collapse to their minimum, nothing invents edges") {
    val bounded = emb.filter($"vec_id" < 120)
    val got = Dedup.dedupComponents(bounded, "vec_id",
      Similarity.lshBandedNearDupPairs(bounded, "vec_id", "embedding",
        planes = 4, bands = 1, dims = 64, threshold = 0.3), "v1", "v2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // one row per corpus vector; every component label is a member's min
    assert(got.length == bounded.count())
    val byComp = got.groupBy(_._2)
    byComp.foreach { case (c, members) =>
      assert(members.map(_._1).min == c)
      assert(members.count(_._3 == 1) == 1)
    }
    // components refine the EXACT near-dup components: any two vectors the
    // LSH pairs merged really are connected by verified-cosine pairs
    val exactPairs = Similarity.nearDupPairs(bounded, "vec_id", "embedding", 0.3)
      .select("v1", "v2").as[(Long, Long)].collect()
    val exactComp = Dedup.connectedComponents(
        exactPairs.toSeq.toDF("d1", "d2"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    got.foreach { case (id, c, _) =>
      if (id != c) assert(exactComp.getOrElse(id, id) == exactComp.getOrElse(c, c),
        s"LSH components merged $id into $c but exact components disagree")
    }
  }

  test("null and empty vectors are dropped before signing: no hot bucket in the band join, same pairs") {
    val valid = plantedCorpus()
    val junk = (0 until 400).map(i =>
      (10000L + i, if (i < 200) None else Option(Seq.empty[Double])))
      .toDF("vec_id", "embedding")
    def run(in: DataFrame): (Set[(Long, Long)], Long) = {
      val (pairs, plans) = TestListenerBus.executedPlans(spark)(
        Similarity.lshBandedNearDupPairs(in, "vec_id", "embedding",
          planes = 8, bands = 8, dims = dims, threshold = 0.95)
          .select("v1", "v2").as[(Long, Long)].collect().toSet)
      val rows = plans.flatMap(bandJoinRows)
      assert(rows.nonEmpty, "no band join in the executed plans")
      (pairs, rows.sum)
    }
    val (validPairs, validRows) = run(valid)
    assert(validPairs.nonEmpty, "fixture produced no pairs")
    // unfiltered, each junk row signs 0 in every band: at least
    // C(400, 2) × 8 candidate rows more than the valid corpus's own
    assert(run(valid.union(junk)) == ((validPairs, validRows)))
  }

  test("zero-norm vectors never pair: the cosine verify never sees 0/0") {
    // two all-zero vectors sign 0 in every band, so they share each band
    // bucket; their cosine is 0/0, which throws under ANSI mode
    val e = Seq((1L, Seq(0.0, 0.0, 0.0, 0.0)), (2L, Seq(0.0, 0.0, 0.0, 0.0)),
      (3L, Seq(1.0, 0.0, 0.0, 0.0))).toDF("vec_id", "embedding")
    assert(Similarity.lshBandedNearDupPairs(e, "vec_id", "embedding",
      planes = 4, bands = 2, dims = 4, threshold = 0.5).collect().isEmpty)
    assert(Similarity.nearDupPairs(e, "vec_id", "embedding", threshold = 0.5)
      .collect().isEmpty)
  }
}
