package graft.io

import graft.functions.TestSpark
import graft.model.CrawlConfig
import graft.sources.{IceLite, SiteGraph}
import graft.operators.FrontierCrawler
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** A custom-scheme Hadoop filesystem backed by local disk — registered as
  * `fs.graftfs.impl`, it proves the state layer resolves filesystems from
  * the path URI instead of assuming `java.io.File`: the exact property a
  * multi-executor deployment needs for `hdfs:`/`s3a:` state dirs. */
class GraftTestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")
  override def getScheme: String = "graftfs"
}

class StateFsSpec extends AnyFunSuite {
  lazy val spark = {
    val s = TestSpark.spark
    s.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    s
  }
  import spark.implicits._

  test("writeAtomic / open / listNames / exists on a non-default scheme") {
    val local = Files.createTempDirectory("graft-statefs-").toString
    val root = s"graftfs:$local/sub"
    val sfs = StateFs(spark)
    sfs.mkdirs(root)
    sfs.writeAtomic(sfs.child(root, "a.txt"))(_.write("hello".getBytes))
    sfs.writeAtomic(sfs.child(root, "a.txt"))(_.write("hello2".getBytes)) // replace
    assert(sfs.exists(sfs.child(root, "a.txt")))
    val in = sfs.open(sfs.child(root, "a.txt"))
    val got = try scala.io.Source.fromInputStream(in).mkString finally in.close()
    assert(got == "hello2")
    assert(sfs.listNames(root) == Seq("a.txt")) // no .tmp residue
    assert(sfs.listNames(sfs.child(root, "missing")).isEmpty)
    // the bytes really landed on the backing store (scheme routed, not a
    // java.io fallback somewhere)
    assert(Files.exists(java.nio.file.Paths.get(local, "sub", "a.txt")))
  }

  test("writeAtomic: concurrent attempts on one target never interleave") {
    val root = Files.createTempDirectory("graft-statefs-conc-").toString
    val sfs = StateFs(spark)
    val target = sfs.child(root, "contended.bin")
    val payload = Array.tabulate(64 * 1024)(i => (i % 251).toByte)
    val errs = new java.util.concurrent.atomic.AtomicInteger(0)
    val ts = (0 until 8).map { _ =>
      val t = new Thread(() =>
        try (0 until 5).foreach(_ => sfs.writeAtomic(target)(_.write(payload)))
        catch { case _: Throwable => errs.incrementAndGet() })
      t.start(); t
    }
    ts.foreach(_.join())
    assert(errs.get() == 0, "concurrent writeAtomic threw")
    // whoever won, the published file is one complete payload — never a
    // truncated or interleaved mix (the round-2 shared-tmp hazard)
    val in = sfs.open(target)
    val got = try in.readAllBytes() finally in.close()
    assert(got.sameElements(payload))
    assert(sfs.listNames(root) == Seq("contended.bin")) // no tmp residue
  }

  test("bucketed-bloom polite crawl + resume with all state on graftfs://") {
    val p = SiteGraph.GraphParams(nHosts = 3, pagesPerHost = 25, linksPerPage = 4,
      redirectFrac = 0.05, errorFrac = 0.05, crossHostFrac = 0.25, seed = 53L)
    val pages = SiteGraph.localPages(p)
    val seeds = (0 until 3).flatMap(h =>
      pages.find(r => r.status == 200 && r.url.startsWith(s"http://site$h.com")).map(_.url))
    // a design load of 4M URLs derives a 4-bucket seen-filter store
    val expected = 4L * 1000 * 1000
    assert(graft.functions.BloomBucketStore.sizing(expected, 0.01).buckets == 4)
    def cfg(dir: Option[String], rounds: Int) = CrawlConfig(fifoParity = false,
      sameDomainOnly = false, perHostBudget = 3, bloomEnabled = true,
      bloomMinFrontierRows = 0L, bloomExpectedItems = expected, bloomUpdateEvery = 1,
      maxRounds = rounds, checkpointDir = dir)
    val reference = new FrontierCrawler(spark, pages.toDS(), cfg(None, Int.MaxValue))
      .crawlSeeds(seeds.toDF("url"))

    val local = Files.createTempDirectory("graft-fsresume-").toString
    val dir = s"graftfs:$local/state"
    // interrupted run, then exact resume — every manifest, frontier segment,
    // visit log, and per-bucket Bloom snapshot crosses the custom scheme
    new FrontierCrawler(spark, pages.toDS(), cfg(Some(dir), 2)).crawlSeeds(seeds.toDF("url"))
    val resumed = new FrontierCrawler(spark, pages.toDS(), cfg(Some(dir), Int.MaxValue))
      .crawlSeeds(seeds.toDF("url"))
    assert(resumed.sortedFound == reference.sortedFound)
    assert(resumed.stats == reference.stats)
    // state files exist on the backing store under the scheme-routed root
    assert(Files.exists(java.nio.file.Paths.get(local, "state", "manifest")))
    val m = new graft.operators.CheckpointStore(spark, dir).latestManifest().get
    assert(m.bloomRound >= 0 && m.seen.buckets == 4)
    assert(Files.list(java.nio.file.Paths.get(local, "state", "bloombuckets",
      s"round=${m.bloomRound}")).count() == 4,
      "no 4-bucket bloom snapshot written through the scheme")
  }

  test("IceLite snapshot table works on graftfs://") {
    val local = Files.createTempDirectory("graft-fsice-").toString
    val t = new IceLite(spark, s"graftfs:$local/tbl")
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val inserted = t.mergeInsert(Seq((2L, "dup"), (3L, "c")).toDF("k", "v"), "k")
    assert(inserted == 1L)
    assert(t.read().count() == 3L)
    assert(t.readAt(1).count() == 2L) // time travel across the scheme
  }
}
