package graft

import graft.functions.TestSpark
import java.nio.file.Files
import org.apache.spark.TestListenerBus
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.scalatest.funsuite.AnyFunSuite

/** CurateCli binds each stage's survivors as a flat relation
  * (`StageBindings`). Over one `--near-dup --decontam --split
  * --pack-budget` run, read off the final plans of every execution the run
  * started (cached relations counted through the plan that built them):
  * the quality gates run once, and the write of `curated` plans from bound
  * relations, not from the input or eval parquet. */
class CurateStageBindingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val evalText = "e1 e2 e3 e4 e5 e6"

  private def good(w: Int, tag: String): String =
    (0 until 20).map(i => s"w${(i * w + 3) % 17} $tag$i").mkString(" ")

  private val docs = Seq(
    1L -> good(2, "t"),
    2L -> good(2, "t"),                                  // exact dup of 1
    3L -> (good(2, "t") + " tail"),                      // near-dup of 1
    4L -> good(5, "t"),
    5L -> Seq.fill(12)("spam").mkString(" "),            // repetition fail
    6L -> "short one",                                   // token floor fail
    7L -> (good(7, "t") + " mail boss@corp.example now"), // PII carrier
    8L -> (good(3, "u") + " " + evalText),               // eval leak
    9L -> good(11, "v"))

  /** Every operator under `p`: AQE stages through their plans, cached
    * relations through the plan that built them, subqueries included. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => nodes(r.child)
    case m: InMemoryTableScanExec => nodes(m.relation.cachedPlan)
    case o => (o.children ++ o.subqueries).flatMap(nodes)
  })

  test("gates run once; the curated write scans neither input nor eval parquet") {
    val in = Files.createTempDirectory("curate-bind-in-").toFile
    docs.toDF("doc_id", "text").write.mode("overwrite").parquet(in.toString)
    val eval = Files.createTempDirectory("curate-bind-eval-").toFile
    Seq(9000L -> evalText).toDF("doc_id", "text").write.mode("overwrite")
      .parquet(eval.toString)
    val out = Files.createTempDirectory("curate-bind-out-").toString
    val (s, plans) = TestListenerBus.executedPlans(spark)(CurateCli.run(spark,
      Array(in.toString, out, "--near-dup", "0.5", "--decontam", eval.toString,
        "--split", "train:0.8,val:0.1,test:0.1", "--pack-budget", "64")))
    assert(s.droppedQuality == 2 && s.droppedDecontam == 1 && s.droppedDup == 2 &&
      s.kept == 4, s.toString)

    // the repetition-metrics bigram explode ran over the corpus once: its
    // rows summed over every distinct operator instance that ran equal one
    // pass over the input (a second gate pass would double them)
    val ran = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    plans.flatMap(nodes).foreach(ran.add)
    val bigramRows = ran.toArray(Array.empty[SparkPlan]).collect {
      case g: GenerateExec if g.generatorOutput.exists(_.name == "bgram") =>
        g.metrics("numOutputRows").value
    }.sum
    val onePass = docs.map(_._2.split(" ", -1).length - 1).filter(_ > 0).sum
    assert(bigramRows == onePass, s"bigram rows $bigramRows, one pass $onePass")

    val write = plans.filter(p => nodes(p).exists {
      case DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _) =>
        c.outputPath.getName == "curated"
      case _ => false
    })
    assert(write.size == 1, write.size)
    val scanned = nodes(write.head).collect {
      case f: FileSourceScanExec => f.relation.location.rootPaths.map(_.getName)
    }.flatten.toSet
    assert(!scanned.contains(in.getName) && !scanned.contains(eval.getName),
      s"curated write scans $scanned")
  }

  test("release frees the blocks of every bound relation") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val bind = new StageBindings
    val a = bind(spark.range(100).toDF("id"))
    val b = bind(a.filter($"id" % 2 === 0))
    assert(b.count() == 50)
    val bound = sc.getPersistentRDDs.keySet -- before
    assert(bound.size == 2, bound)
    bind.release()
    assert((sc.getPersistentRDDs.keySet & bound).isEmpty)
  }
}
