package graft.operators

import graft.functions.TestSpark
import graft.model.CrawlConfig
import graft.sources.SiteGraph
import org.scalatest.funsuite.AnyFunSuite

/** `CrawlOutcome.redirectChains` (the G2 redirect-chain lineage) over the
  * hand-written redirect fixture: a two-hop chain, an external redirect,
  * a self-loop and two multi-page loops. */
class RedirectChainsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("redirectChains: every redirected URL's hops, from itself, in walk order") {
    val out = new FrontierCrawler(spark, SiteGraph.redirects.toDS(),
      CrawlConfig(maxConcurrent = 3)).crawl("http://r.com")
    val chains = out.redirectChains.as[(String, Int, String)].collect()
      .groupBy(_._1).map { case (url, hops) =>
        val sorted = hops.sortBy(_._2)
        assert(sorted.map(_._2).toSeq == sorted.indices, s"$url: hops not 0..n-1")
        url -> sorted.map(_._3).toSeq
      }
    // the fixture's chains, written out by hand from SiteGraph.redirects
    val expected = Map(
      "http://r.com/chain" ->
        Seq("http://r.com/chain", "http://r.com/chain2", "http://r.com/final"),
      "http://r.com/ext" -> Seq("http://r.com/ext", "http://other.com/x"))
    val redirected = out.redirectUrls.as[String].collect().toSet
    assert(redirected == expected.keySet)
    redirected.foreach { url =>
      assert(chains.get(url).contains(expected(url)), s"$url: ${chains.get(url)}")
    }
    // a loop is an error, not a redirect, and its walk still has lineage
    val errors = out.errorUrls.as[String].collect().toSet
    assert(Set("http://r.com/rev", "http://r.com/circ", "http://r.com/self")
      .subsetOf(errors))
    assert(chains("http://r.com/rev") == Seq("http://r.com/rev", "http://r.com/rev2"))
    // a one-page self-loop never leaves its first hop: no chain
    assert(!chains.contains("http://r.com/self"))
  }
}
