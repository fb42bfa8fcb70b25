package graft

import graft.sources.IceLite
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.{Files, Paths, StandardOpenOption}

/** Receipt for the STREAMING pair-curation ingest path — the one axis
  * without a two-parallelism number: a file-source stream (the Kafka
  * stand-in this sandbox allows) of image+caption pair events driven
  * through `CurationStream.curatePairs` (staged no-decode gates → one
  * `image_sig` decode → watermarked phash dedup) into the REAL sink,
  * `ImageWriteback.mergeInsertNearDup` (per-micro-batch PSNR-verified
  * near-dup suppression against the standing IceLite table + MERGE).
  *
  * WEAK scaling, like the crawl fleet bench: local[8] ingests N/4 events
  * and local[32] ingests N, both in 8 micro-batches, so per-core rows per
  * trigger are equal — the N → 4N executor step a production ingest takes
  * when the topic grows with the fleet. (Strong scaling on a FIXED
  * micro-batch is floor-bound by construction: a trigger's plan + state
  * commits + MERGE transaction cost the same at any core count, and a
  * few-thousand-row batch cannot saturate 32 cores — a deployment that
  * wants fewer idle cores makes triggers BIGGER, not more parallel.)
  * Same methodology as DimsBench: interleaved cells, best wall per cell,
  * JVM-wide decoder warmup before any timed pass; determinism is asserted
  * per size — repeat cells must land identical curated row counts (same
  * files, same maxFilesPerTrigger ⇒ same micro-batch boundaries ⇒ same
  * verdicts). Appends the measured table to `BENCH.md`. */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val nEvents = sys.env.getOrElse("SPARK_GRAFT_STREAM_EVENTS", "96000").toLong
    // 10 ms event spacing × nEvents must stay inside curatePairs' 1-hour
    // watermark horizon, or hash-distributed later files get silently
    // dropped as late data — deterministically, so every assertion would
    // still pass while the bench measured a truncated corpus
    require(nEvents <= 360000L,
      s"SPARK_GRAFT_STREAM_EVENTS=$nEvents exceeds the watermark horizon " +
        "(10 ms spacing × 1 h watermark caps the corpus at 360,000 events)")
    val shmBase = Paths.get("/dev/shm/spark-scratch")
    Files.createDirectories(shmBase)
    // 8 micro-batches per run, each trigger ingesting one file per core:
    // the gate+decode work runs in the SCAN stage (image_sig feeds the
    // dedup key, so it sits below the first exchange), and scan
    // parallelism is file-split parallelism — a trigger with fewer files
    // than cores leaves cores idle through the decode, which no shuffle
    // setting can fix. A real ingest topic has at least fleet-many
    // partitions for exactly this reason.
    val nTriggers = 8

    def session(cpus: Int): SparkSession = {
      val s = SparkSession.builder().master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", shmBase.toString)
        // KB-binary payload scan rule (BENCH.md round 4 / SCALE.md §7a-bis)
        .config("spark.sql.parquet.columnarReaderBatchSize", "256")
        // micro-batch sink stages move KBs, not GBs: let AQE coalesce
        // them to size rather than hold partition count for parallelism —
        // 32 near-empty tasks per stage cost more than the stage's work
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    def fresh(): Unit = {
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    }

    // generate once: seeded NOISE images — not ImageGen's smooth gradients,
    // whose 8×8 DCTs cluster so hard in phash space that distinct images
    // collide at hamming 0-6 (the known synthetic-image gotcha) and the
    // near-dup sink's candidate set measures the fixture, not the engine.
    // Noise phashes are uniform over 64 bits, so candidate pairs ≈ the
    // planted exact dups only (≈6% via dupEvery=16), as in a real crawl.
    // Two planted gate-failure strains drop BEFORE any decode —
    // caption_too_short every 13th, container/claim mismatch every 17th —
    // so the stream pays the staged-gate shape a real ingest topic has.
    // Then a JVM-wide decoder warmup (imageio JIT is static state:
    // unwarmed first cells would measure the JIT, not the engine).
    def noisePair(id: Long): (String, Array[Byte], String, String,
        java.sql.Timestamp) = {
      val dupEvery = 16
      val ck = if (id % dupEvery == dupEvery - 1) dupEvery - 1 else id
      val im = new java.awt.image.BufferedImage(48, 36,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < 36) {
        var x = 0
        while (x < 48) {
          im.setRGB(x, y, (graft.sources.SiteGraph
            .mix(ck, x.toLong * 1000003L + y.toLong) >>> 24).toInt & 0xffffff)
          x += 1
        }
        y += 1
      }
      val bytes = graft.functions.ImageKernels.encode(im, "png")
      val caption = if (id % 13 == 5) "x" else s"a photo of noise field $ck"
      val fmt = if (id % 17 == 7) "gif" else "png"
      // 10 ms spacing keeps the WHOLE corpus inside the 1-hour watermark
      // horizon: the corpus files are hash-distributed, so every
      // micro-batch sees near-max event times — wider spacing would
      // advance the watermark past earlier rows still sitting in later
      // files and silently drop them as late data
      (f"img_$id%08d", bytes, fmt, caption,
        new java.sql.Timestamp(1767225600000L + id * 10L))
    }
    // one corpus per fleet size: local[8] ingests nEvents/4 from 64 files,
    // local[32] ingests nEvents from 256 — equal rows per core per trigger
    // AND equal files per core per trigger (weak scaling)
    val corpusOf: Map[Int, (String, Long)] = Map(
      8 -> (Files.createTempDirectory("stream-corpus8-").toString, nEvents / 4),
      32 -> (Files.createTempDirectory("stream-corpus32-").toString, nEvents))
    locally {
      val s = session(32)
      import s.implicits._
      corpusOf.foreach { case (cpus, (dir, n)) =>
        s.range(0, n, 1, 32)
          .map(id => noisePair(id))
          .toDF("image_id", "bytes", "fmt", "caption", "eventTime")
          .repartition(nTriggers * cpus)
          .write.mode("overwrite").parquet(dir)
      }
      val warm = s.read.parquet(corpusOf(8)._1)
        .select(graft.functions.ImageFunctions.image_sig(
          org.apache.spark.sql.functions.col("bytes")).as("g"))
      (1 to 2).foreach(_ => warm.filter("g.decodable").count())
      s.stop(); fresh()
    }

    def cell(cpus: Int): (Double, Long) = {
      val corpus = corpusOf(cpus)._1
      val filesPerTrigger = cpus
      val spark = session(cpus)
      import spark.implicits._
      val tableDir = Files.createTempDirectory(shmBase, s"stream-table-$cpus-")
      val ckptDir = Files.createTempDirectory(shmBase, s"stream-ckpt-$cpus-")
      val table = new IceLite(spark, tableDir.toString)
      val schema = spark.read.parquet(corpus).schema
      val in = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", filesPerTrigger).parquet(corpus)
        .as[graft.streaming.PairEvent]
      val out = graft.streaming.CurationStream.curatePairs(
        in, minEntropyBits = 0.0)
      val t0 = System.nanoTime()
      // checkpoint + state store on tmpfs: the HDFS-backed state store
      // fsyncs one delta file per state partition per micro-batch, and on
      // the sandbox's /tmp disk those fsyncs dwarf the work (32 partitions
      // × 8 batches measured ~30 s/batch); a real deployment puts state on
      // local NVMe (or RocksDB) for exactly this reason
      val q = out.writeStream.outputMode("append")
        .option("checkpointLocation", ckptDir.toString)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          graft.operators.ImageWriteback
            .mergeInsertNearDup(table, batch.drop("eventTime"))
          ()
        }.start()
      q.awaitTermination()
      val wall = (System.nanoTime() - t0) / 1e9
      val kept = table.read().count()
      spark.stop(); fresh()
      // tmpfs is RAM: drop this cell's table + checkpoint + state before
      // the next cell, or four cells of PNG rows and state deltas stay
      // resident and perturb the very timings being measured
      Seq(tableDir, ckptDir).foreach { d =>
        Files.walk(d).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.deleteIfExists(p))
      }
      (wall, kept)
    }

    val cells = Seq(8, 32, 8, 32).map { cpus =>
      val r = cell(cpus)
      println(f"cell local[$cpus]: wall=${r._1}%.1f s kept=${r._2}")
      (cpus, r)
    }
    // determinism per fleet size: repeat cells must agree exactly
    val keptBy = cells.groupBy(_._1).map { case (c, rs) =>
      val ks = rs.map(_._2._2).distinct
      require(ks.size == 1, s"curated row counts diverge at local[$c]: $rs")
      c -> ks.head
    }
    def best(cpus: Int) = cells.filter(_._1 == cpus).map(_._2._1).min
    val (w8, w32) = (best(8), best(32))
    val (n8, n32) = (corpusOf(8)._2, corpusOf(32)._2)
    val (r8, r32) = (n8 / w8, n32 / w32)
    val eff = r32 / (4.0 * r8)
    println(f"""{"metric":"stream_curation_events_per_sec","value":$r32%.1f,"unit":"rows/sec","events":$n32,"kept":${keptBy(32)},"sec8":$w8%.2f,"sec32":$w32%.2f,"events_per_sec8":$r8%.1f,"weak_eff_8_to_32":$eff%.3f}""")
    val md =
      f"""
         |### Streaming pair curation (file-source stream → gates → decode → MERGE sink)
         |
         |Weak scaling, the fleet operating mode (same construction as the
         |crawl bench): local[8] ingests $n8%d pair events and local[32]
         |ingests $n32%d — 4× the topic for 4× the cores — each in 8
         |micro-batches (`maxFilesPerTrigger`, `Trigger.AvailableNow`), so
         |rows per core per trigger are equal. Every batch runs the staged
         |gates, ONE `image_sig` decode per survivor, watermarked phash
         |dedup, then the real `mergeInsertNearDup` sink — per-batch
         |PSNR-verified near-dup suppression against the standing snapshot
         |table + MERGE INTO. ≈6%% planted exact dups and two pre-decode
         |gate-failure strains in every corpus. Curated rows identical
         |across repeat cells (asserted): ${keptBy(8)}%d at local[8],
         |${keptBy(32)}%d at local[32].
         |
         || parallelism | events | wall (s) | events/s |
         ||---|---|---|---|
         || local[8]  | $n8%d  | $w8%.1f | $r8%.1f |
         || local[32] | $n32%d | $w32%.1f | $r32%.1f |
         |
         |Weak-scaling efficiency rate_32/(4×rate_8) = **$eff%.3f**. Strong
         |scaling on a FIXED small trigger is floor-bound by construction
         |(measured 0.13 on 3k-row triggers): a trigger's plan, state-store
         |commits and MERGE transaction cost the same at any core count, and
         |a few-thousand-row batch cannot saturate 32 cores — a deployment
         |with idle cores makes triggers BIGGER, not more parallel, which is
         |exactly the weak-scaling column. The stream inherits the batch
         |engine's scan/decode discipline (staged gates, single decode,
         |signatures-only candidate joins); the sink truncates each
         |micro-batch's lineage (eager localCheckpoint) so downstream MERGE
         |stages never re-serialize the streaming subtree per task.
         |""".stripMargin
    Files.write(Paths.get("BENCH.md"), md.getBytes("UTF-8"),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }
}
