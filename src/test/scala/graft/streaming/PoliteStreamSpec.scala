package graft.streaming

import graft.functions.TestSpark
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** Streaming politeness: per-host slots stay monotone and delay-spaced
  * across micro-batches (keyed state survives).
  */
class PoliteStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def entry(u: String, h: String, tSec: Int, prio: Int = 0) =
    StreamEntry(u, h, new Timestamp(tSec * 1000L), prio)

  test("flatMapGroupsWithState: per-host token bucket across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[StreamEntry]
    val out = PoliteStream.schedule(in.toDS(), delayMs = 100L)
    val q = out.writeStream.format("memory").queryName("sched")
      .outputMode("append").start()
    try {
      in.addData(entry("http://a.com/1", "a.com", 0), entry("http://a.com/2", "a.com", 1),
        entry("http://b.com/1", "b.com", 0))
      q.processAllAvailable()
      in.addData(entry("http://a.com/3", "a.com", 2, prio = -1), entry("http://b.com/2", "b.com", 2))
      q.processAllAvailable()

      val rows = spark.table("sched").as[ScheduledFetch].collect()
      val aSlots = rows.filter(_.host == "a.com").sortBy(_.slot)
      val bSlots = rows.filter(_.host == "b.com").sortBy(_.slot)
      // host a: three fetches at 0,100,200 virtual ms — state carried over
      assert(aSlots.map(_.fetchAtMs).toSeq == Seq(0L, 100L, 200L))
      assert(aSlots.last.url == "http://a.com/3") // batch 2 continues after batch 1
      // host b independent bucket
      assert(bSlots.map(_.fetchAtMs).toSeq == Seq(0L, 100L))
      // no two fetches of one host share a slot
      assert(rows.groupBy(r => (r.host, r.slot)).forall(_._2.length == 1))
    } finally q.stop()
  }
}
