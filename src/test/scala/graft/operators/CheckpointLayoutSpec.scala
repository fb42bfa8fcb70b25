package graft.operators

import graft.functions.TestSpark
import graft.model.CrawlConfig
import graft.sources.SiteGraph
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The checkpoint layout is versioned: every manifest records `layout=2`,
  * and a manifest with no layout or another one is refused — by a crawl
  * resume and by `ExpireCli` alike — before anything is written. Nothing
  * is migrated.
  */
class CheckpointLayoutSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val params = SiteGraph.GraphParams(nHosts = 3, pagesPerHost = 25, linksPerPage = 4,
    redirectFrac = 0.05, errorFrac = 0.05, crossHostFrac = 0.25, seed = 53L)

  private def crawl(dir: String) = {
    val pages = SiteGraph.localPages(params)
    val seeds = (0 until params.nHosts).flatMap(h =>
      pages.find(r => r.status == 200 && r.url.startsWith(s"http://site$h.com")).map(_.url))
    new FrontierCrawler(spark, pages.toDS(),
      CrawlConfig(fifoParity = false, sameDomainOnly = false, perHostBudget = 3,
        bloomMinFrontierRows = 0L, bloomExpectedItems = 100000L, bloomUpdateEvery = 1,
        maxRounds = 2, checkpointDir = Some(dir)))
      .crawlSeeds(seeds.toDF("url"))
  }

  /** Every file and directory under `root` with its bytes. */
  private def listing(root: Path): Seq[(String, Seq[Byte])] =
    Files.walk(root).iterator().asScala.toSeq.map { f =>
      root.relativize(f).toString ->
        (if (Files.isDirectory(f)) Seq.empty[Byte] else Files.readAllBytes(f).toSeq)
    }.sortBy(_._1)

  private def latestManifest(dir: String): Path =
    Files.list(Paths.get(dir, "manifest")).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".properties"))
      .maxBy(_.getFileName.toString.stripPrefix("round=").stripSuffix(".properties").toInt)

  test("manifests record layout 2") {
    val dir = Files.createTempDirectory("graft-layout-").toString
    crawl(dir)
    val props = new java.util.Properties()
    val in = Files.newInputStream(latestManifest(dir))
    try props.load(in) finally in.close()
    assert(props.getProperty("layout") == "2")
  }

  test("a manifest with no layout or layout 1 is refused by resume and ExpireCli, unchanged") {
    for (edit <- Seq("drop", "set to 1")) {
      val dir = Files.createTempDirectory("graft-layout-old-").toString
      crawl(dir)
      val mf = latestManifest(dir)
      val kept = Files.readAllLines(mf).asScala.filterNot(_.startsWith("layout="))
      Files.write(mf, (if (edit == "drop") kept else kept :+ "layout=1").asJava)
      val before = listing(Paths.get(dir))

      def refused(body: => Any): Unit = {
        val e = intercept[IllegalStateException](body)
        assert(e.getMessage.contains("layout 1") && e.getMessage.contains("layout 2"),
          s"$edit: message names neither version: ${e.getMessage}")
        assert(listing(Paths.get(dir)) == before, s"$edit: checkpoint changed")
      }
      refused(crawl(dir))
      refused(graft.ExpireCli.run(spark, Array(dir, "--last", "1")))
    }
  }
}
