package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graftbridge.{ColumnBridge => CB}
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

/** Codegen'd membership probe against a broadcast Bloom filter (SURVEY.md
  * §2.4 J1). The crawl probes its seen filter through the partitioned
  * store ([[BloomBucketMightContain]]); this single-filter form serves
  * filters small enough to broadcast, such as a seen-filter FPP probe.
  *
  * A Scala UDF here would box every key and break WholeStageCodegen
  * fusion; this expression instead resolves the broadcast once per codegen
  * instance into a mutable-state field and probes it with a direct
  * `mightContainLong` call, so the filter stays fused with the surrounding
  * stage. The broadcast handle (not the filter bytes) is what the plan
  * captures: executors resolve `bloomBc.value` locally.
  */
case class BloomMightContain(child: Expression, bloomBc: Broadcast[BloomFilter])
    extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "bloom_might_contain"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a BIGINT key, got ${child.dataType.catalogString}")

  @transient private lazy val filter: BloomFilter = bloomBc.value

  override protected def nullSafeEval(input: Any): Any =
    filter.mightContainLong(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcClass = classOf[Broadcast[_]].getName
    val bfClass = classOf[BloomFilter].getName
    val bcRef = ctx.addReferenceObj("bloomBc", bloomBc, bcClass)
    val f = ctx.addMutableState(bfClass, "graftBloom",
      v => s"$v = ($bfClass) $bcRef.value();")
    defineCodeGen(ctx, ev, c => s"$f.mightContainLong($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomMightContain =
    copy(child = newChild)
}

object BloomFunctions {
  /** True iff `key` (BIGINT) might be in the broadcast filter. */
  def bloom_might_contain(key: Column, bloomBc: Broadcast[BloomFilter]): Column =
    CB.column(BloomMightContain(CB.expression(key), bloomBc))

  /** True iff `key` might be in the partitioned (per-bucket) filter store. */
  def bloom_bucket_might_contain(key: Column, handle: BloomBucketHandle): Column =
    CB.column(BloomBucketMightContain(CB.expression(key), handle))
}

/** Partitioned Bloom-filter snapshot store (SCALE.md §2.1) — the crawl's
  * one URL-seen filter. At 10^10 URLs the filter is ~12 GB and cannot be
  * one broadcast blob, so it lives as `buckets` independent filters keyed by
  * `floorMod(urlHash, buckets)`, built distributively (one task per bucket)
  * and loaded lazily by the tasks that probe that bucket. Layout:
  * `<dir>/bloombuckets/round=K/bucket=B.bin`.
  *
  * A missing bucket file means no URL in that bucket was ever visited —
  * probes return false via a shared empty filter. Bucket files are read
  * through the Hadoop FileSystem API (StateFs), so the executor reading a
  * bucket is never assumed to share a disk with the task that built it.
  */
object BloomBucketStore {
  /** Design load of one bucket (SCALE.md §2.1): ~1.2 MB of filter at 1 %
    * FPP, so a bucket loads in one read and 10^10 URLs spread over ~9.5k
    * buckets. */
  private val KeysPerBucket: Long = 1L << 20

  /** The bucket layout and per-bucket Bloom parameters of a snapshot. Two
    * snapshots merge, and a snapshot answers probes routed by another's
    * key→bucket map, only when their sizings are equal. */
  final case class Sizing(buckets: Int, itemsPerBucket: Long, fpp: Double)

  /** The one derivation of a snapshot's sizing from the crawl's design
    * load: `max(1, ceil(expectedItems / KeysPerBucket))` buckets, the load
    * split evenly across them. */
  def sizing(expectedItems: Long, fpp: Double): Sizing = {
    val items = math.max(expectedItems, 1L)
    val buckets = ((items + KeysPerBucket - 1) / KeysPerBucket).toInt
    Sizing(buckets, (items + buckets - 1) / buckets, fpp)
  }

  def path(dir: String, round: Int, bucket: Int): String =
    s"$dir/bloombuckets/round=$round/bucket=$bucket.bin"

  // empty filter (all bits zero): `mightContainLong` is always false
  private val empty = BloomFilter.create(1)

  // JVM-wide so concurrent tasks on one executor share each loaded bucket;
  // keyed by (dir, bucket), replaced when a newer snapshot round is
  // requested (older rounds are never probed again)
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), (Int, BloomFilter)]()

  def load(sfs: graft.io.StateFs, dir: String, round: Int, bucket: Int): BloomFilter = {
    val key = (dir, bucket)
    val cur = cache.get(key)
    if (cur != null && cur._1 == round) return cur._2
    val pp = path(dir, round, bucket)
    val f =
      if (sfs.exists(pp)) {
        val in = new java.io.BufferedInputStream(sfs.open(pp))
        try BloomFilter.readFrom(in) finally in.close()
      } else empty
    cache.put(key, (round, f))
    f
  }
}

/** Task-side probe handle for one snapshot round of the bucket store. Ships
  * as a tiny reference object in the plan (dir + round + bucket count + the
  * Hadoop conf); each task materializes only the buckets its rows hash into.
  * Per-row cost after warm-up is an array read + one `mightContainLong`.
  */
final class BloomBucketHandle(val dir: String, val round: Int, val nBuckets: Int,
    val sfs: graft.io.StateFs = graft.io.StateFs.local)
    extends Serializable {
  @transient private lazy val local =
    new java.util.concurrent.atomic.AtomicReferenceArray[BloomFilter](nBuckets)
  def probe(h: Long): Boolean = {
    val b = java.lang.Math.floorMod(h, nBuckets.toLong).toInt
    var f = local.get(b)
    if (f == null) {
      f = BloomBucketStore.load(sfs, dir, round, b)
      local.set(b, f)
    }
    f.mightContainLong(h)
  }
}

/** Codegen'd probe against the partitioned filter store — the crawl's
  * seen-filter probe (same fusion property as [[BloomMightContain]], no
  * broadcast).
  */
case class BloomBucketMightContain(child: Expression, handle: BloomBucketHandle)
    extends UnaryExpression {

  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "bloom_bucket_might_contain"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a BIGINT key, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(input: Any): Any =
    handle.probe(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomBuckets", handle, classOf[BloomBucketHandle].getName)
    defineCodeGen(ctx, ev, c => s"$ref.probe($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): BloomBucketMightContain =
    copy(child = newChild)
}
