package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import scala.collection.mutable

/** The traced run's ledger: benchmark-side spans around calls into the
  * program, and a SparkListener recording every job, task and SQL
  * execution. A job belongs to the innermost span open when it started and
  * carries the job group the program set. Everything is kept in memory and
  * written once, at the end of the run ([[write]]).
  *
  * Spans are opened from the benchmark's main thread only; the listener
  * fills its tables from the listener-bus thread, so reads go through
  * [[settle]], which drains the bus first. */
final class Ledger(spark: SparkSession, val runId: String) extends SparkListener {
  import Ledger._

  private val spans = mutable.ArrayBuffer[Span]()
  private var open: List[Int] = Nil
  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stages = mutable.HashMap[Int, Stage]()
  private val execs = mutable.LinkedHashMap[Long, Exec]()
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  /** Wall clock in epoch ms with sub-ms resolution — the same clock the
    * listener events carry. */
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  def install(): Unit = spark.sparkContext.addSparkListener(this)
  def uninstall(): Unit = {
    settle()
    spark.sparkContext.removeSparkListener(this)
  }

  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, open.headOption.getOrElse(-1), nowMs())
    spans += s
    open = s.id :: open
    try body
    finally { s.end = nowMs(); open = open.tail }
  }

  /** The most recent closed span with this name. */
  def last(name: String): Span = spans.reverseIterator.find(s => s.name == name && !s.end.isNaN)
    .getOrElse(throw new NoSuchElementException(s"no span $name"))

  def settle(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  // ---- listener -------------------------------------------------------

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val exec = prop("spark.sql.execution.root.id").orElse(prop("spark.sql.execution.id"))
      .map(_.toLong).getOrElse(-1L)
    jobs(e.jobId) = Job(e.jobId, prop("spark.jobGroup.id").getOrElse(""), exec,
      e.time.toDouble, e.stageIds)
    e.stageIds.foreach(id => stages.getOrElseUpdate(id, Stage(id)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val st = stages.getOrElseUpdate(e.stageId, Stage(e.stageId))
    st.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      st.spillDisk += m.diskBytesSpilled
      st.spillMem += m.memoryBytesSpilled
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart
        if s.rootExecutionId.forall(_ == s.executionId) => synchronized {
      execs(s.executionId) = Exec(s.executionId, s.time.toDouble, writePath(s.sparkPlanInfo))
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      execs.get(s.executionId).foreach(_.end = s.time.toDouble)
    }
    case _ => ()
  }

  // ---- queries --------------------------------------------------------

  /** Jobs started inside the span (children's jobs included). */
  def jobsIn(s: Span): Seq[Job] = synchronized {
    jobs.values.filter(j => j.start >= s.start && j.start <= s.end).toSeq
  }

  /** Root SQL executions started inside the span, in start order. */
  def execsIn(s: Span): Seq[Exec] = synchronized {
    execs.values.filter(x => x.start >= s.start && x.start <= s.end).toSeq.sortBy(_.start)
  }

  def stagesOf(js: Seq[Job]): Seq[Stage] = synchronized {
    js.flatMap(_.stageIds).distinct.flatMap(stages.get)
  }

  def jobsOfExecs(ids: Set[Long]): Seq[Job] = synchronized {
    jobs.values.filter(j => ids.contains(j.exec)).toSeq
  }

  /** Time covered by at least one of the jobs, clipped to the span. */
  def busyMs(js: Seq[Job], within: Span): Double =
    unionMs(js.map(j => (j.start, if (j.end.isNaN) within.end else j.end)), within)

  def shuffleBytes(js: Seq[Job]): Long = stagesOf(js).map(_.shuffleWrite).sum
  def spillBytes(js: Seq[Job]): Long = stagesOf(js).map(s => s.spillDisk).sum

  /** Max over stages (with 2+ tasks) of the longest task over the median
    * task; 1.0 when no stage ran more than one task. */
  def taskSkew(js: Seq[Job]): Double = {
    val ratios = stagesOf(js).filter(_.taskMs.size >= 2).map { st =>
      val med = Stats.median(st.taskMs.map(_.toDouble).toSeq)
      if (med <= 0) 1.0 else st.taskMs.max / med
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }

  /** Span duration minus the part of it covered by its child spans. */
  def selfMs(s: Span): Double = {
    val kids = spans.filter(c => c.parent == s.id && !c.end.isNaN).map(c => (c.start, c.end))
    s.durMs - unionMs(kids.toSeq, s)
  }

  def write(path: java.nio.file.Path): Unit = {
    settle()
    val spanRows = spans.filterNot(_.end.isNaN).map(s => Map(
      "run" -> runId, "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "start_ms" -> s.start, "end_ms" -> s.end, "self_ms" -> selfMs(s)))
    val jobRows = synchronized {
      jobs.values.map { j =>
        val owner = spans.filter(s => !s.end.isNaN && j.start >= s.start && j.start <= s.end)
          .sortBy(-_.start).headOption.map(_.id).getOrElse(-1)
        val st = j.stageIds.flatMap(stages.get)
        Map("run" -> runId, "job" -> j.id, "group" -> j.group, "span" -> owner,
          "sql_exec" -> j.exec, "start_ms" -> j.start, "end_ms" -> j.end,
          "tasks" -> st.map(_.taskMs.size).sum,
          "shuffle_write_bytes" -> st.map(_.shuffleWrite).sum,
          "shuffle_read_bytes" -> st.map(_.shuffleRead).sum,
          "spill_disk_bytes" -> st.map(_.spillDisk).sum,
          "spill_mem_bytes" -> st.map(_.spillMem).sum)
      }.toSeq
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path,
      Json.render(Map("spans" -> spanRows.toSeq, "jobs" -> jobRows)) + "\n")
  }
}

object Ledger {
  final case class Span(id: Int, name: String, parent: Int, start: Double) {
    var end: Double = Double.NaN
    def durMs: Double = end - start
  }
  final case class Job(id: Int, group: String, exec: Long, start: Double, stageIds: Seq[Int]) {
    var end: Double = Double.NaN
  }
  final case class Stage(id: Int) {
    val taskMs = mutable.ArrayBuffer[Long]()
    var shuffleWrite = 0L; var shuffleRead = 0L
    var spillDisk = 0L; var spillMem = 0L
  }
  final case class Exec(id: Long, start: Double, writePath: Option[String]) {
    var end: Double = Double.NaN
    def durMs: Double = end - start
  }

  private val WritePath = """InsertIntoHadoopFsRelationCommand\s+([^,\s]+)""".r.unanchored

  /** Output path of a file-writing execution, from its plan. */
  def writePath(p: org.apache.spark.sql.execution.SparkPlanInfo): Option[String] =
    WritePath.findFirstMatchIn(p.simpleString).map(_.group(1))
      .orElse(p.children.iterator.flatMap(c => writePath(c)).nextOption())

  /** Length of the union of intervals, clipped to the span. */
  def unionMs(iv: Seq[(Double, Double)], within: Span): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, within.start), math.min(b, within.end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    clipped.foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    cur.foreach { case (ca, cb) => total += cb - ca }
    total
  }
}
