package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, StandardCopyOption}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._

/** Minimal JSON rendering for the result line and the ledger. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** Largest heap-used-after-GC seen since the last [[reset]], from the
  * JVM's GC notifications (heap pools only). When no collection ran in
  * the window, the heap in use at [[peakMb]] time stands in. */
object HeapPeak {
  @volatile private var peak = -1L
  @volatile private var count = 0
  private lazy val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == "com.sun.management.gc.notification") {
        val info = com.sun.management.GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        HeapPeak.synchronized { count += 1; if (used > peak) peak = used }
      }
  }

  lazy val install: Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }

  def reset(): Unit = synchronized { peak = -1L; count = 0 }

  /** Collections seen since the last [[reset]]. */
  def collections: Int = count

  def peakMb(): Double = synchronized {
    val b = if (peak >= 0) peak
      else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    b / (1024.0 * 1024.0)
  }
}

object Dirs {
  def delete(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p)
    try all.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally all.close()
  }

  def fresh(p: Path): Path = { delete(p); Files.createDirectories(p) }

  def copy(from: Path, to: Path): Unit = {
    delete(to)
    val all = Files.walk(from)
    try all.iterator().asScala.foreach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst)
      else Files.copy(src, dst, StandardCopyOption.COPY_ATTRIBUTES)
    } finally all.close()
  }

  /** (bytes, regular files) under the directory. */
  def usage(p: Path): (Long, Long) = {
    val all = Files.walk(p)
    try {
      val files = all.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (files.map(Files.size).sum, files.size.toLong)
    } finally all.close()
  }
}
