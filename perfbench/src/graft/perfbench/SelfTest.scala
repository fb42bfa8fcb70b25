package graft.perfbench

import java.nio.file.Paths

/** The benchmark's own tests, run in one JVM at tiny size:
  *
  *   SelfTest --work DIR
  *
  * Each workload runs a smoke pass whose checks must hold; then each
  * check is handed a deliberately wrong oracle and must fail. Exits
  * non-zero on the first broken expectation. */
object SelfTest {
  private def expect(cond: Boolean, what: String): Unit =
    if (!cond) throw new AssertionError(what) else println(s"ok   $what")

  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(args.indexOf("--work") + 1)).toAbsolutePath
    val spark = Main.session(work)
    try {
      val seed = 7L
      def smoke(name: String): Workload = {
        val wl = Workload(name, spark, work.resolve(name), seed, tiny = true)
        wl.prepare(); wl.prepareOnce(); wl.reset(0); wl.pass(0, None)
        val errs = wl.check(0, None)
        expect(errs.isEmpty, s"$name: smoke pass passes its checks ${errs.mkString("; ")}")
        wl
      }

      val crawl = smoke("crawl").asInstanceOf[Crawl]
      val fifoErrs = crawl.runFifo(None)
      expect(fifoErrs.isEmpty, s"crawl (fifo): the crawl equals the reference ${fifoErrs.mkString("; ")}")
      val fifo = crawl.fifo
      val v = fifo.lastView
      val o = fifo.oracle
      expect(Checks.fifo(v, o.copy(visitOrder = o.visitOrder.reverse)).nonEmpty,
        "crawl (fifo): a wrong visit order fails")
      expect(Checks.fifo(v, o.copy(found = o.found + "http://site0.com/nowhere")).nonEmpty,
        "crawl (fifo): a wrong found set fails")
      expect(Checks.fifo(v, o.copy(errorCount = o.errorCount + 1)).nonEmpty,
        "crawl (fifo): a wrong error count fails")

      val polite = crawl.polite
      val (log, found) = polite.observed
      val r = polite.rules
      expect(log.nonEmpty, "crawl (polite): the pass scheduled URLs")
      expect(Checks.polite(log, found, r.copy(budget = r.budget.map(_._1 -> 0)), 0L, -1)
        .exists(_.contains("budget")), "crawl (polite): a zero host budget fails")
      expect(Checks.polite(log, found, r.copy(disallow = r.disallow.map(_._1 -> Seq("/"))), 0L, -1)
        .exists(_.contains("disallowed")), "crawl (polite): disallowing every path fails")
      expect(Checks.polite(log ++ log.take(1), found, r, 0L, -1)
        .exists(_.contains("more than once")), "crawl (polite): a URL scheduled twice fails")
      expect(Checks.repeats("checksum", Checks.checksum(found), 0L).nonEmpty,
        "crawl (polite): a differing checksum fails")

      smoke("curate")
      val drops = Map("dropped_quality" -> 2L, "dropped_dup" -> 3L)
      expect(Checks.conservation(10, 5, drops, Map("dropped_quality" -> 2L),
        Seq("dropped_quality")).isEmpty, "curate: conserved rows pass")
      expect(Checks.conservation(10, 6, drops, Map("dropped_quality" -> 2L),
        Seq("dropped_quality")).nonEmpty, "curate: a lost or invented row fails")
      expect(Checks.conservation(10, 5, drops, Map("dropped_quality" -> 1L),
        Seq("dropped_quality")).nonEmpty, "curate: an audit that disagrees with the summary fails")
      expect(Checks.equal("re-merge inserts", 1L, 0L).nonEmpty,
        "curate: a re-merge that inserts rows fails")
      println("SELFTEST OK")
    } finally spark.stop()
  }
}
