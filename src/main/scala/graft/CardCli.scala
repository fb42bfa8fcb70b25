package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dataset-card generator: one command over a curation run's output
  * directory (`CurateCli` / `ImageCurateCli` shape: `curated/` plus
  * `audit/<stage>/`) producing the governance receipt a dataset release
  * ships with — row counts, per-stage drop counts, split sizes, caption
  * and text statistics, resolution histogram — as one JSON document
  * (`card.json` in the output dir, also printed).
  *
  * Everything is a bounded aggregate: per-stage drops are audit-relation
  * counts, the caption/text stats are single hash-aggs over slim columns,
  * and the only `collect`s are over ≤ `topK` rows (top captions/languages)
  * or the split names — nothing scales with the corpus. Payload bytes are
  * never read: the card describes the table from its slim columns.
  */
object CardCli {

  private val Usage =
    """usage: CardCli <run-output-dir> [--top-k 5]
      |
      |  <run-output-dir>  A CurateCli/ImageCurateCli output directory
      |                    (curated/ + audit/*); writes card.json there
      |  --top-k K         How many top captions/languages/sources to
      |                    list (default 5)""".stripMargin

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** `{"name":count,...}` sorted by descending count then name. */
  private def countsJson(m: Seq[(String, Long)]): String =
    m.sortBy { case (k, v) => (-v, k) }
      .map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")

  private[graft] def run(spark: SparkSession, args: Array[String]): String = {
    var pos = Vector.empty[String]
    var topK = 5
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--top-k" =>
          i += 1
          if (i >= args.length) throw CurateCli.CliUsageError("--top-k requires a value")
          topK = try args(i).toInt catch {
            case _: NumberFormatException =>
              throw CurateCli.CliUsageError(s"--top-k: not a number: '${args(i)}'")
          }
          if (topK < 1)
            throw CurateCli.CliUsageError(s"--top-k: must be >= 1, got $topK")
        case flag if flag.startsWith("--") =>
          throw CurateCli.CliUsageError(s"unknown flag: $flag")
        case p => pos :+= p
      }
      i += 1
    }
    if (pos.length != 1) throw CurateCli.CliUsageError("run-output-dir is required")
    val dir = pos.head
    val fs = graft.io.StateFs(spark)

    // absence (or a schema-less empty partitioned write — a fully-filtered
    // --split run emits only _SUCCESS) reads as None; REAL I/O errors
    // propagate — a governance card must never silently omit a receipt
    // because a read failed (only AnalysisException means "no table here")
    def tableIfExists(path: String): Option[DataFrame] =
      if (!fs.exists(path)) None
      else try {
        val df = spark.read.parquet(path)
        if (df.columns.isEmpty) None else Some(df)
      } catch { case _: org.apache.spark.sql.AnalysisException => None }

    if (!fs.exists(s"$dir/curated"))
      throw CurateCli.CliUsageError(s"no curated/ table under $dir")
    // an existing-but-schema-less curated dir is a legitimate zero-row
    // run: the card reports rows 0 plus whatever audits exist
    val curatedOpt = tableIfExists(s"$dir/curated")
    val cols = curatedOpt.map(_.columns.toSet).getOrElse(Set.empty[String])
    val curated = curatedOpt.getOrElse(spark.emptyDataFrame)
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]

    // one aggregate pass over the slim columns of the curated table
    val rows = if (curatedOpt.isEmpty) 0L else curated.count()
    parts += s""""rows":$rows"""

    if (cols("split") && rows > 0) {
      val sp = curated.groupBy(col("split").cast("string").as("split"))
        .count().collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
      parts += s""""splits":${countsJson(sp)}"""
    }
    for (c <- Seq("lang", "source", "fmt") if cols(c) && rows > 0) {
      val top = curated.filter(col(c).isNotNull)
        .groupBy(col(c).cast("string").as("k")).count()
        .orderBy(desc("count"), col("k")).limit(topK)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
      parts += s""""top_$c":${countsJson(top)}"""
    }
    // locale-proof fixed-point formatting: the f-interpolator uses the
    // JVM default locale, which on comma-decimal locales would emit
    // invalid JSON
    def num1(v: Double): String = "%.1f".formatLocal(java.util.Locale.ROOT, v)
    if (cols("caption") && rows > 0) {
      // nulls excluded like the other string columns (a null caption
      // would NPE the JSON escaping and poison the average)
      val caps = curated.filter(col("caption").isNotNull)
        .select(col("caption").cast("string").as("caption"))
      val st = caps.agg(
        countDistinct("caption"), avg(length(col("caption")))).head()
      parts += s""""distinct_captions":${st.getLong(0)}"""
      if (!st.isNullAt(1))
        parts += s""""avg_caption_chars":${num1(st.getDouble(1))}"""
      val top = caps.groupBy("caption").count()
        .orderBy(desc("count"), col("caption")).limit(topK)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
      parts += s""""top_captions":${countsJson(top)}"""
    }
    if (cols("text") && rows > 0) {
      val st = curated.filter(col("text").isNotNull).agg(
        sum(size(split(col("text"), " "))), avg(length(col("text")))).head()
      if (!st.isNullAt(0)) parts += s""""total_tokens":${st.getLong(0)}"""
      if (!st.isNullAt(1))
        parts += s""""avg_text_chars":${num1(st.getDouble(1))}"""
    }
    if (cols("w") && cols("h") && rows > 0) {
      // resolution histogram by megapixel-ish bands over the RECORDED
      // dims (the card describes the table as shipped — and recorded
      // dims are untrusted, so the arithmetic is 64-bit and null dims
      // get their own band instead of leaking into the largest)
      val px = col("w").cast("long") * col("h").cast("long")
      val band = when(col("w").isNull || col("h").isNull, "unknown")
        .when(px < 256L * 256L, "lt_0.07MP")
        .when(px < 1024L * 1024L, "0.07-1MP")
        .otherwise("gte_1MP")
      val hist = curated.groupBy(band.as("k")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
      parts += s""""resolution_bands":${countsJson(hist)}"""
    }

    // per-stage drop receipts: one per audit relation the run wrote —
    // listed, so only the CLIs that write audits know their names
    val auditDir = new org.apache.hadoop.fs.Path(s"$dir/audit")
    val auditFs = fs.fs(auditDir)
    val auditNames =
      if (!auditFs.exists(auditDir)) Nil
      else auditFs.listStatus(auditDir).filter(_.isDirectory)
        .map(_.getPath.getName).sorted.toSeq
    val audits = auditNames.flatMap { name =>
      tableIfExists(s"$dir/audit/$name").map(df => name -> df.count())
    }
    if (audits.nonEmpty)
      parts += s""""audits":${countsJson(audits)}"""

    val json = parts.mkString("{", ",", "}")
    fs.writeAtomic(s"$dir/card.json") { os =>
      os.write(json.getBytes("UTF-8"))
    }
    println(json)
    json
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .appName("graft-card")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32"))
      .getOrCreate()
    try {
      run(spark, args)
      ()
    } catch {
      case e: CurateCli.CliUsageError =>
        System.err.println(e.getMessage); System.err.println(Usage); sys.exit(2)
      case e: Exception =>
        System.err.println(s"card failed: $e"); sys.exit(1)
    } finally spark.stop()
  }
}
