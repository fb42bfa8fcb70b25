package graft

import graft.operators.CheckpointStore
import org.apache.spark.sql.SparkSession

/** spark-submit entry for TTL / re-crawl expiry
  * ([[graft.operators.CheckpointStore.expireAndRequeue]]): an operational
  * crawl retires stale visited rounds between sessions, then the next
  * `CrawlCli --checkpoint-dir` run re-fetches exactly those URLs. Engine
  * surface (no reference counterpart — the reference has no re-crawl).
  *
  * Exit codes follow the CrawlCli convention: 0 success, 2 bad usage,
  * 1 runtime failure.
  */
object ExpireCli {

  private val Usage =
    """usage: ExpireCli <checkpoint-dir> (--rounds R1,R2,... | --last K)
      |                 [--no-requeue] [--fifo]
      |
      |  <checkpoint-dir>   Crawl checkpoint (any Hadoop FS scheme)
      |  --rounds R1,R2,... Visited rounds to expire (comma-separated)
      |  --last K           Expire the K most recent visited rounds
      |  --no-requeue       Only retire from the seen set; do not queue a
      |                     re-fetch segment (see expireAndRequeue caveats)
      |  --fifo             Checkpoint was written by a FIFO-parity crawl
      |                     (sequential requeue idx, separate visited layout)
      |  --authority PATH   Parquet (host, priority) authority relation the
      |                     resumed crawl will run with — requeued rows take
      |                     their host's rank priority (absent host →
      |                     Int.MaxValue) instead of BFS depth, keeping the
      |                     frontier on ONE priority scale
      |  --recency PATH     Parquet (url, lastmod timestamp) recency relation
      |                     (e.g. Sitemaps.recencyRelation over sitemap
      |                     lastmod claims) — requeued URLs with a known
      |                     lastmod re-fetch fresher-first within their
      |                     priority class (polite mode only)""".stripMargin

  private[graft] final case class CliUsageError(msg: String) extends Exception(msg)

  /** Parse + execute; returns the expired rounds. Separated from main for
    * spec-level driving without a JVM exit. */
  private[graft] def run(spark: SparkSession, args: Array[String]): Seq[Int] = {
    var dir: Option[String] = None
    var rounds: Option[Seq[Int]] = None
    var lastK: Option[Int] = None
    var requeue = true
    var fifo = false
    var authority: Option[String] = None
    var recency: Option[String] = None
    var i = 0
    def value(flag: String): String = {
      i += 1
      if (i >= args.length) throw CliUsageError(s"$flag requires a value")
      args(i)
    }
    while (i < args.length) {
      args(i) match {
        case "--rounds" => rounds =
          Some(value("--rounds").split(",").toSeq.map { s =>
            try s.trim.toInt
            catch { case _: NumberFormatException =>
              throw CliUsageError(s"--rounds: not an integer: '$s'") }
          })
        case "--last" => lastK =
          try Some(value("--last").toInt)
          catch { case _: NumberFormatException =>
            throw CliUsageError("--last: not an integer") }
        case "--no-requeue" => requeue = false
        case "--fifo" => fifo = true
        case "--authority" => authority = Some(value("--authority"))
        case "--recency" => recency = Some(value("--recency"))
        case flag if flag.startsWith("-") => throw CliUsageError(s"unknown flag: $flag")
        case pos if dir.isEmpty => dir = Some(pos)
        case pos => throw CliUsageError(s"unexpected argument: $pos")
      }
      i += 1
    }
    val d = dir.getOrElse(throw CliUsageError("checkpoint-dir is required"))
    if (rounds.isDefined == lastK.isDefined)
      throw CliUsageError("exactly one of --rounds or --last is required")
    val store = new CheckpointStore(spark, d, visitedFromLog = !fifo)
    val m = store.latestManifest().getOrElse(
      throw new IllegalStateException(s"no checkpoint manifest under $d"))
    val expire = rounds.getOrElse(m.visitedRounds.takeRight(lastK.get))
    if (recency.isDefined && fifo)
      throw CliUsageError("--recency requires the polite (non --fifo) layout")
    val m2 = store.expireAndRequeue(expire, requeue = requeue, fifoIdx = fifo,
      hostPriority = authority.map(spark.read.parquet(_)),
      recency = recency.map(spark.read.parquet(_)))
    println(s"expired rounds ${expire.mkString(",")} " +
      s"(${m.visitedRounds.size - m2.visitedRounds.size} of ${m.visitedRounds.size}); " +
      "seen-filter pointer dropped (rebuild on next crawl round)" +
      (if (requeue) s"; requeued as segment ${m2.liveSegs.last.seg}" else ""))
    expire
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .appName("graft-expire")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32"))
      .getOrCreate()
    try run(spark, args)
    catch {
      case e: CliUsageError =>
        System.err.println(s"${e.getMessage}\n$Usage"); sys.exit(2)
      case e: Exception =>
        System.err.println(s"Error: ${e.getMessage}"); sys.exit(1)
    } finally spark.stop()
  }
}
