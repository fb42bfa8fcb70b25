package graft

import graft.functions.TestSpark
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The query bench's timing loop: a query that throws, at planning or at
  * run time, is reported as failed and never gets a time. */
class BenchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("a failing query is reported failed, not timed") {
    val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
      "a_ok" -> ((s, _) => s.range(10).toDF()),
      "b_runtime" -> ((s, _) => s.range(10).selectExpr("assert_true(id < 5)")),
      "c_plan" -> ((_, _) => throw new IllegalStateException("no such table")))
    val (timed, failed) = Bench.timeQueries(spark, "unused", queries)
    assert(timed.map(_._1) == Seq("a_ok"))
    assert(timed.forall(_._2 >= 0.0))
    assert(failed == Seq("b_runtime", "c_plan"))
  }
}
