package graft.ops

import graft.functions.TestSpark
import org.apache.spark.TestListenerBus
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{GenerateExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable.ArrayBuffer
import scala.math.BigDecimal.RoundingMode

/** Plan shape of the jaccard pair generators on CurateCli's input shape: a
  * cached relation joined to the `Dedup.exact` keep ids. AQE re-plans that
  * join at run time, and its stage reuse then misses every repeated
  * reference to the shingle relation, so an unbound generator derives the
  * shingles 8 times. Counted over the final AQE plans of every execution
  * the call and its action produce, the shingle `Generate` must run once
  * per input relation; the pairs must equal a set-math recompute. */
class JaccardPlanShapeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val threshold = 0.1
  private val maxDf = 8L

  /** 100 seeded random documents over a 30-word vocabulary, near-dups of
    * the first 20 (ids 100-119: the tail words replaced), and verbatim
    * copies of three of them under new ids, which the exact-dedup keep
    * join removes. */
  private def texts(): Map[Long, String] = {
    val rnd = new scala.util.Random(7)
    val base = (0L until 100L).map(d =>
      d -> Vector.fill(20 + rnd.nextInt(40))(s"w${rnd.nextInt(30)}"))
    val near = base.take(20).map { case (d, ws) =>
      (d + 100L) -> (ws.dropRight(3) ++ Seq("x1", "x2", "x3"))
    }
    val docs = (base ++ near).map { case (d, ws) => d -> ws.mkString(" ") }.toMap
    docs ++ Seq(5L, 7L, 20L).map(d => (1000L + d) -> docs(d))
  }

  /** CurateCli's `exactDeduped`: cached docs joined to the exact keep ids. */
  private def cliShaped(rows: Map[Long, String]): DataFrame = {
    val cached = rows.toSeq.toDF("doc_id", "text").cache()
    cached.join(Dedup.exact(cached, "doc_id", "text").select(col("keep_id").as("doc_id")),
      Seq("doc_id"))
  }

  /** `body`'s result and the final plan of every execution it ran. */
  private def executedPlans[T](body: => T): (T, Seq[SparkPlan]) = {
    val plans = ArrayBuffer.empty[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.synchronized(plans += qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    TestListenerBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val r = body
      TestListenerBus.drain(spark.sparkContext)
      (r, plans.synchronized(plans.toList))
    } finally spark.listenerManager.unregister(listener)
  }

  /** Generate operators that ran: a reused stage is a leaf and counts 0. */
  private def generates(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => generates(a.executedPlan)
    case q: QueryStageExec => generates(q.plan)
    case g: GenerateExec => 1 + g.children.map(generates).sum
    case o => o.children.map(generates).sum
  }

  /** Bigram-Jaccard pairs by set math over the df-capped universe; ids in
    * `from` (default all) must appear in every pair. */
  private def expected(rows: Map[Long, String],
      from: Long => Boolean = _ => true): Set[(Long, Long, Double)] = {
    val grams0 = rows.map { case (d, t) =>
      d -> t.split(" ", -1).sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSet
    }
    val dfreq = grams0.values.flatten.groupBy(identity).map { case (g, gs) => g -> gs.size }
    val grams = grams0.map { case (d, gs) => d -> gs.filter(dfreq(_) <= maxDf) }
    (for {
      (d1, s1) <- grams; (d2, s2) <- grams if d1 < d2 && (from(d1) || from(d2))
      inter = s1.intersect(s2).size if inter > 0
      j = BigDecimal(inter.toDouble / (s1.size + s2.size - inter))
        .setScale(6, RoundingMode.HALF_UP).toDouble if j >= threshold
    } yield (d1, d2, j)).toSet
  }

  private def collectPairs(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("jaccardPairs on a cached ⋈ exact-keep input derives its shingles once") {
    val rows = texts()
    val input = cliShaped(rows)
    val survivors = rows.filter { case (d, _) => d < 1000L }
    val (got, plans) = executedPlans(collectPairs(
      Dedup.jaccardPairs(input, "doc_id", "text", threshold, maxDf, ngram = 2)))
    assert(plans.map(generates).sum == 1, plans.map(generates))
    assert(got == expected(survivors))
    assert(got.nonEmpty, "fixture produced no pairs")
  }

  test("jaccardPairsIncremental derives its shingles once per input relation") {
    val rows = texts()
    val isDelta = (d: Long) => d < 30L || d >= 1000L
    val corpus = cliShaped(rows.filter { case (d, _) => !isDelta(d) })
    val delta = cliShaped(rows.filter { case (d, _) => isDelta(d) })
    val (got, plans) = executedPlans(collectPairs(
      Dedup.jaccardPairsIncremental(corpus, delta, "doc_id", "text", threshold, maxDf,
        ngram = 2)))
    assert(plans.map(generates).sum == 2, plans.map(generates))
    // the copies' originals are delta docs, so the delta's keep join drops them
    val survivors = rows.filter { case (d, _) => d < 1000L }
    assert(got == expected(survivors, d => d < 30L))
    assert(got.nonEmpty, "fixture produced no delta-touching pairs")
  }
}
