package graft.perfbench

import graft.{CurateCli, ImageCurateCli}
import graft.functions.ImageKernels
import graft.ops.{Dedup, Similarity}
import graft.sources.{IceLite, ImageGen}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** The `curate` workload: `CurateCli.run` over a seeded document corpus
  * with exact dups, bigram near-dup clusters, boilerplate, PII carriers,
  * low-quality docs and leaked eval n-grams, then `IceLite.mergeInsert` of
  * the curated docs on `doc_id`.
  *
  * The traced run splits the CLI into stages off its own write
  * boundaries: every SQL execution the CLI starts belongs to the stage of
  * the most recent audit it wrote (the audit write included), so a
  * stage's busy time is the wall time of the executions from its audit to
  * the next one. It also probes the image side (decode, phash, the
  * hamming and banded-LSH pair generators, and an `ImageCurateCli.run`)
  * over a seeded image+caption table, since no timed workload runs it. */
final class Curate(spark: SparkSession, work: Path, seed: Long, tiny: Boolean) extends Workload {
  import spark.implicits._

  private val nDocs = if (tiny) 150 else 300
  private val nImages = if (tiny) 60 else 300
  private val inputs = work.resolve("inputs")
  private val out = work.resolve("pass")
  private val tableDir = work.resolve("table")
  private val nearDup = 0.6
  private val maxDf = 200L
  private val samples = scala.collection.mutable.ArrayBuffer[Map[String, Double]]()

  private val textStages = Map("dropped_quality" -> "quality",
    "dropped_decontam" -> "decontam", "dropped_near_dup" -> "dedup", "pii_hits" -> "pii",
    "curated" -> "write")
  private val textOrder = Seq("read", "quality", "decontam", "dedup", "pii", "write")
  private val imageStages = Map("dropped_byte_exact" -> "byte_exact",
    "dropped_gates" -> "gates", "dropped_exact" -> "exact", "dropped_near_dup" -> "near_dup",
    "curated" -> "write")
  private val imageOrder = Seq("read", "byte_exact", "gates", "exact", "near_dup", "write")

  private def path(name: String) = inputs.resolve(name).toString

  private def args(outDir: String) = Array(path("docs"), outDir,
    "--near-dup", nearDup.toString, "--max-df", maxDf.toString,
    "--decontam", path("eval"), "--split", "train:0.8,val:0.1,test:0.1",
    "--pack-budget", "2048")

  def prepare(): Unit = {
    val (docs, eval) = TextGen.corpus(nDocs, seed)
    docs.toDF("doc_id", "text", "source").write.mode("overwrite").parquet(path("docs"))
    eval.toDF("doc_id", "text").write.mode("overwrite").parquet(path("eval"))
  }

  def prepareOnce(): Unit = ()

  val warmPasses = 1
  val minTimed = 2

  def reset(pass: Int): Unit = { Dirs.fresh(out); Dirs.delete(tableDir) }

  private var summary: CurateCli.CurateSummary = _
  private var inserted = 0L
  private def table = new IceLite(spark, tableDir.toString)

  def pass(pass: Int, led: Option[Ledger]): Long = {
    def span[T](name: String)(body: => T): T = led.fold(body)(_.span(name)(body))
    summary = span("CurateCli.run")(CurateCli.run(spark, args(out.toString)))
    inserted = span("IceLite.mergeInsert") {
      table.mergeInsert(spark.read.parquet(out.resolve("curated").toString), "doc_id")
    }
    summary.input
  }

  def check(pass: Int, led: Option[Ledger]): Seq[String] = {
    val s = summary
    val audits = auditCounts(out)
    val curated = spark.read.parquet(out.resolve("curated").toString)
    val drops = Map("dropped_quality" -> s.droppedQuality,
      "dropped_decontam" -> s.droppedDecontam, "dropped_dup" -> s.droppedDup,
      "dropped_sample" -> s.droppedSample)
    val errs = Checks.conservation(s.input, s.kept, drops, audits,
        Seq("dropped_quality", "dropped_decontam")) ++
      Checks.equal("input rows", s.input, nDocs.toLong) ++
      Checks.equal("curated rows vs kept", curated.count(), s.kept) ++
      Checks.equal("split rows vs kept", s.splitCounts.values.sum, s.kept) ++
      Option.when(audits.getOrElse("dropped_near_dup", 0L) > s.droppedDup)(
        "near-dup audit holds more rows than the dup drops").toSeq ++
      Checks.equal("rows inserted vs curated rows", inserted, s.kept) ++
      Checks.equal("rows inserted by a repeated mergeInsert",
        table.mergeInsert(curated, "doc_id"), 0L)
    led.foreach { l =>
      samples += stageSamples(l, "CurateCli.run", "text", textStages, textOrder, audits) ++ Map(
        "IceLite.commit_ms" -> l.last("IceLite.mergeInsert").durMs,
        "IceLite.bytes_per_row" -> Dirs.usage(tableDir)._1.toDouble / math.max(1L, inserted))
    }
    errs
  }

  def layers(led: Ledger): Map[String, Double] =
    Workload.medians(samples.toSeq) ++
      pairFamily(led, "jaccard", Dedup.jaccardPairs(spark.read.parquet(path("docs")),
        "doc_id", "text", nearDup, maxDf, 2)) ++
      imageProbes(led)

  private def auditCounts(dir: Path): Map[String, Long] = {
    val a = dir.resolve("audit")
    if (!Files.isDirectory(a)) Map.empty
    else Files.list(a).iterator().asScala.toSeq.map { d =>
      d.getFileName.toString -> spark.read.parquet(d.toString).count()
    }.toMap
  }

  /** Busy time, shuffle bytes and audit rows per CLI stage. */
  private def stageSamples(led: Ledger, span: String, family: String,
      stageOfWrite: Map[String, String], order: Seq[String],
      audits: Map[String, Long]): Map[String, Double] = {
    led.settle()
    var cur = "read"
    val labelled = led.execsIn(led.last(span)).map { x =>
      x.writePath.foreach(p => stageOfWrite.get(p.split("/").last).foreach(cur = _))
      cur -> x
    }
    order.flatMap { st =>
      val xs = labelled.collect { case (`st`, x) => x }
      val js = led.jobsOfExecs(xs.map(_.id).toSet)
      Seq(s"ops.$family.$st.busy_ms" -> xs.map(_.durMs).sum,
        s"ops.$family.$st.shuffle_bytes" -> led.shuffleBytes(js).toDouble)
    }.toMap ++ stageOfWrite.collect {
      case (audit, st) if audit != "curated" =>
        s"ops.$family.$st.rows_dropped" -> audits.getOrElse(audit, 0L).toDouble
    }
  }

  /** Rows out of the pair generator's candidate self-join (its largest
    * join, read off the executed plan) and the share of them verified
    * into returned pairs. */
  private def pairFamily(led: Ledger, name: String, pairs: DataFrame): Map[String, Double] = {
    var executed: Option[QueryExecution] = None
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = executed = Some(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val verified = try led.span(s"ops.$name")(pairs.count())
      finally { led.settle(); spark.listenerManager.unregister(listener) }
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case o => o +: o.children.flatMap(nodes)
    }
    val cand = executed.toSeq.flatMap(qe => nodes(qe.executedPlan)).collect {
      case j: BaseJoinExec => j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    }.foldLeft(0L)(math.max)
    Map(s"ops.$name.candidate_pairs" -> cand.toDouble,
      s"ops.$name.pair_yield" -> (if (cand == 0) 0.0 else verified.toDouble / cand))
  }

  /** The image side over a seeded image+caption table: one
    * `ImageCurateCli.run` split into stages, the hamming and banded-LSH
    * pair generators, and decode / phash per image. */
  private def imageProbes(led: Ledger): Map[String, Double] = {
    val (rows, emb) = PairGen.table(nImages, seed, PairGen.Dims)
    rows.toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
      .write.mode("overwrite").parquet(path("pairs"))
    emb.toDF("image_id", "image_emb").write.mode("overwrite").parquet(path("emb"))
    val imgOut = work.resolve("image-pass")
    Dirs.fresh(imgOut)
    led.span("ImageCurateCli.run")(ImageCurateCli.run(spark, Array(path("pairs"),
      imgOut.toString, "--byte-exact", "--near-dup", PairGen.Hamming.toString,
      "--split", "train:0.8,val:0.1,test:0.1")))
    val stages = stageSamples(led, "ImageCurateCli.run", "image", imageStages, imageOrder,
      auditCounts(imgOut))
    val pairs = spark.read.parquet(path("pairs"))
    val bytes = rows.map(_._2).take(200)
    def perImageUs[A](name: String, xs: Seq[A])(f: A => Any): Double = {
      xs.foreach(f) // warm
      led.span(name) {
        Stats.median((0 until 3).map { _ =>
          val t = System.nanoTime(); xs.foreach(f); (System.nanoTime() - t) / 1e3
        })
      } / xs.size
    }
    val imgs = bytes.map(ImageKernels.decode).filter(_ != null)
    stages ++
      pairFamily(led, "hamming", Dedup.hammingPairs(pairs.select("phash").distinct(),
        "phash", "phash", PairGen.Hamming)) ++
      pairFamily(led, "lsh_banded", Similarity.lshBandedNearDupPairs(
        spark.read.parquet(path("emb")), "image_id", "image_emb", 8, 8, PairGen.Dims, 0.95)) ++
      Map("functions.image_decode_us" -> perImageUs("functions.image_decode", bytes)(
          ImageKernels.decode),
        "functions.phash_us" -> perImageUs("functions.phash", imgs)(ImageKernels.phashOf))
  }
}

/** Seeded document corpus for the curate workload. */
object TextGen {
  private val Footer = ("share this page with friends follow us for daily updates and " +
    "subscribe to the newsletter for more stories like this one").split(" ")

  /** (doc_id, text, source) rows and an eval set of (doc_id, text). */
  def corpus(n: Int, seed: Long): (Seq[(Long, String, String)], Seq[(Long, String)]) = {
    val rnd = new scala.util.Random(seed)
    def word(): String = { val u = rnd.nextDouble(); s"w${(3000 * u * u).toInt}" }
    def body(len: Int): Vector[String] = Vector.fill(len)(word())
    val eval = (0 until math.max(10, n / 50)).map { j =>
      j.toLong -> (0 until 30).map(k => s"e${(j * 31 + k * 7) % 997}").mkString(" ")
    }
    val docs = scala.collection.mutable.ArrayBuffer[Vector[String]]()
    (0 until n).foreach { i =>
      val roll = rnd.nextDouble()
      val normal = body(40 + rnd.nextInt(120))
      val toks =
        if (roll < 0.05 && docs.nonEmpty) docs(rnd.nextInt(docs.size))
        else if (roll < 0.13 && docs.nonEmpty) {
          val src = docs(rnd.nextInt(docs.size))
          src.map(t => if (rnd.nextDouble() < 0.03) word() else t) :+ word()
        }
        else if (roll < 0.18) Vector.fill(30)("buy now").flatMap(_.split(" "))
        else if (roll < 0.21) body(5)
        else if (roll < 0.26) normal ++
          Vector("contact", s"user$i@mail.example", "or", f"555-01${i % 100}%02d-${i % 10000}%04d",
            "from", s"10.0.${i % 250}.${(i / 250) % 250}")
        else if (roll < 0.46) normal ++ Footer
        else if (roll < 0.49) {
          val e = eval(rnd.nextInt(eval.size))._2.split(" ")
          val at = rnd.nextInt(e.length - 12)
          normal ++ e.slice(at, at + 12)
        }
        else normal
      docs += toks
    }
    val src = Array("news", "forum", "blog", "shop")
    (docs.zipWithIndex.map { case (t, i) => (i.toLong, t.mkString(" "), src(i % src.length)) }.toSeq,
      eval)
  }
}

/** Seeded image+caption table for the image-side probes: byte-exact
  * copies, near-dup re-encodes, a hot templated caption, gate failures and
  * embeddings with planted high-cosine pairs. */
object PairGen {
  val Dims = 32
  val Hamming = 4
  private val HotCaption = "stock photo of the day"

  /** (pairs rows, (image_id, embedding) rows). */
  def table(n: Int, seed: Long, dims: Int)
      : (Seq[(String, Array[Byte], Int, Int, String, String, Long)],
         Seq[(String, Array[Float])]) = {
    val rnd = new scala.util.Random(seed)
    val rows = scala.collection.mutable.ArrayBuffer[
      (String, Array[Byte], Int, Int, String, String, Long)]()
    val vecs = scala.collection.mutable.ArrayBuffer[Array[Float]]()
    def unitVec(): Array[Float] = {
      val v = Array.fill(dims)(rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / norm).toFloat)
    }
    (0 until n).foreach { i =>
      val id = f"img_$i%06d"
      val roll = rnd.nextDouble()
      val base = ImageGen.imageFor(i.toLong, seed, 0)
      val caption0 = if (rnd.nextDouble() < 0.15) HotCaption else base.caption
      val row =
        if (roll < 0.06 && rows.nonEmpty) { // byte-exact copy
          val src = rows(rnd.nextInt(rows.size))
          (id, src._2, src._3, src._4, src._5, caption0, src._7)
        } else if (roll < 0.12 && rows.nonEmpty) { // near-dup re-encode
          val src = rows(rnd.nextInt(rows.size))
          val img = ImageKernels.decode(src._2)
          val fmt = if (src._5 == "jpg") "png" else "jpg"
          val b = ImageKernels.encode(img, fmt)
          (id, b, src._3, src._4, fmt, caption0, ImageKernels.phash64(b))
        } else if (roll < 0.14) (id, base.bytes, base.w, base.h, base.fmt, "x", base.phash)
        else if (roll < 0.16) (id, base.bytes, base.w, base.h, "gif", caption0, base.phash)
        else (id, base.bytes, base.w, base.h, base.fmt, caption0, base.phash)
      rows += row
      vecs += (if (rnd.nextDouble() < 0.06 && vecs.nonEmpty) {
        val src = vecs(rnd.nextInt(vecs.size))
        src.map(x => x + (rnd.nextGaussian() * 0.01).toFloat)
      } else unitVec())
    }
    (rows.toSeq, rows.map(_._1).zip(vecs).toSeq)
  }
}
