package graft.perfbench

/** One benchmark workload. The harness runs [[prepare]] several times (the
  * set-up repetitions), [[prepareOnce]] once, then [[warmPasses]] untimed
  * and then the timed passes: an untimed [[reset]], the [[pass]], and the
  * untimed [[check]] of what the pass produced. A traced run hands the
  * ledger to [[pass]] and [[check]] on half the timed passes and asks
  * [[layers]] for the per-layer numbers at the end. */
trait Workload {
  /** Generates and writes the seeded inputs. */
  def prepare(): Unit

  /** Set-up that runs once, after the repetitions: whatever state the
    * passes start from. */
  def prepareOnce(): Unit

  /** Untimed passes before the timed ones, enough to reach a steady pass
    * time. */
  def warmPasses: Int

  /** Fewest timed passes of an untraced run. */
  def minTimed: Int

  def reset(pass: Int): Unit

  /** The timed work. Returns the number of work items it completed. */
  def pass(pass: Int, led: Option[Ledger]): Long

  /** Output checks on the last pass; each failure is one message. With a
    * ledger, also records that pass's per-layer samples. */
  def check(pass: Int, led: Option[Ledger]): Seq[String]

  /** Per-layer metrics from the traced passes (and probes run here). */
  def layers(led: Ledger): Map[String, Double]
}

object Workload {
  val Names: Seq[String] = Seq("crawl", "curate")

  def apply(name: String, spark: org.apache.spark.sql.SparkSession, work: java.nio.file.Path,
      seed: Long, tiny: Boolean): Workload = name match {
    case "crawl" => new Crawl(spark, work, seed, tiny)
    case "curate" => new Curate(spark, work, seed, tiny)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${Names.mkString(", ")})")
  }

  /** Median of each key over the per-pass samples. */
  def medians(samples: Seq[Map[String, Double]]): Map[String, Double] =
    samples.flatMap(_.keys).distinct.map { k =>
      k -> Stats.median(samples.flatMap(_.get(k)))
    }.toMap
}
