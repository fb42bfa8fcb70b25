package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}
import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload in this JVM:
  *
  *   --workload NAME --seed N --seconds S --trace 0|1 --work DIR
  *
  * Set-up (session, then [[SetupReps]] repetitions of seeded input
  * generation, then the workload's starting state and its fixed number of
  * untimed warm passes), then timed passes: at least the workload's
  * `minTimed`, and more while less than `S` seconds of timed work have run.
  * Each pass is checked; a pass that throws or fails a check counts as
  * failed and its time is kept apart from the successes. With `--trace 1`,
  * half the timed passes run under the ledger (ABBA order) and the run ends
  * with the per-layer numbers. The last stdout line is `PERFBENCH <json>`
  * with the raw samples; `run.py` turns them into the reported metrics. */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path)

  /** Set-up repetitions; `setup_s` takes their median. */
  val SetupReps = 3
  /** Most timed passes of one run. */
  val MaxTimed = 64

  def parse(args: Array[String]): Opts = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"$k is required"))
    Opts(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      kv.getOrElse("--trace", "0") == "1", Paths.get(need("--work")).toAbsolutePath)
  }

  def session(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder().master(s"local[$cores]").appName("graft-perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.columnarReaderBatchSize", "256")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def secondsOf(body: => Unit): Double = {
    val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e9
  }

  def run(spark: SparkSession, o: Opts): Map[String, Any] = {
    val readyS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val wl = Workload(o.workload, spark, o.work, o.seed, tiny = false)
    val reps = (0 until SetupReps).map(_ => secondsOf(wl.prepare()))
    val onceS = secondsOf(wl.prepareOnce())
    HeapPeak.install
    val led = Option.when(o.trace)(new Ledger(spark, s"${o.workload}-${o.seed}"))
    val passes = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()

    def runPass(i: Int, warm: Boolean, traced: Boolean): Double = {
      wl.reset(i)
      System.gc()
      val l = led.filter(_ => traced)
      l.foreach(_.install())
      HeapPeak.reset()
      val t0 = System.nanoTime()
      val items = try Right(wl.pass(i, l)) catch { case e: Exception => Left(e) }
      val wall = (System.nanoTime() - t0) / 1e9
      val heap = HeapPeak.peakMb()
      val gcs = HeapPeak.collections
      val errors = items match {
        case Left(e) => Seq(s"pass threw: $e")
        case Right(_) =>
          try wl.check(i, l) catch { case e: Exception => Seq(s"check threw: $e") }
      }
      l.foreach(_.uninstall())
      if (errors.nonEmpty) System.err.println(s"pass $i failed: ${errors.mkString("; ")}")
      passes += Map("wall_s" -> wall, "items" -> items.getOrElse(0L), "heap_mb" -> heap,
        "gcs" -> gcs, "warm" -> warm, "traced" -> traced, "errors" -> errors)
      wall
    }

    // fixed warm-up: the same passes, checked but untimed (part of set-up)
    val warmS = secondsOf((0 until wl.warmPasses).foreach(runPass(_, warm = true, traced = false)))
    // timed passes: at least the workload's minimum and until `seconds` of
    // timed work; traced runs go untraced/traced in ABBA order over whole
    // quadruples, so what is left of the warm-up cancels out of the
    // traced/untraced ratio
    var timed = 0.0
    var j = 0
    while (j < MaxTimed && (timed < o.seconds || j < wl.minTimed || (o.trace && j % 4 != 0))) {
      val traced = o.trace && (j % 4 == 1 || j % 4 == 2)
      timed += runPass(wl.warmPasses + j, warm = false, traced = traced)
      j += 1
    }
    def timedPasses = passes.filter(_("warm") == false)
    val layers = led.map { l =>
      l.install()
      val m = try wl.layers(l) finally l.uninstall()
      def medWall(t: Boolean) = Stats.median(timedPasses.filter(_("traced") == t)
        .map(_("wall_s").asInstanceOf[Double]).toSeq)
      l.write(o.work.resolve(s"trace-${l.runId}.json"))
      m + ("tracing_overhead_frac" -> (medWall(true) / medWall(false) - 1))
    }
    Map("workload" -> o.workload, "seed" -> o.seed,
      "cores" -> Runtime.getRuntime.availableProcessors(),
      "setup" -> Map("ready_s" -> readyS, "reps_s" -> reps, "once_s" -> onceS,
        "warm_s" -> warmS),
      "passes" -> passes.toSeq, "layers" -> layers.getOrElse(Map.empty))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val spark = session(o.work)
    val result = try run(spark, o) finally spark.stop()
    println("PERFBENCH " + Json.render(result))
  }
}
