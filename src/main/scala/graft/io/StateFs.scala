package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, Path}
import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration
import java.io.{InputStream, OutputStream}

/** All crawl/table state I/O goes through the Hadoop FileSystem API, resolved
  * per path URI — so the same CheckpointStore / Bloom-bucket / IceLite code
  * runs against `file:`, `hdfs:`, `s3a:` (or any registered scheme) paths.
  * On a multi-executor cluster the executors do not share the driver's local
  * disk; state written through `java.nio` from tasks would land on N
  * different local disks and never be readable again. Routing every byte
  * through `FileSystem` is what makes the per-bucket seen-filter store and
  * the snapshot table real on distributed storage (SCALE.md §2.1).
  *
  * Serializable: task closures (per-bucket Bloom builds/probes) capture one
  * StateFs and lazily resolve the executor-local FileSystem from the
  * driver's Hadoop configuration — its `fs.*` settings (credentials, custom
  * schemes) travel with it. The configuration ships as one broadcast per
  * StateFs, so a task carries a broadcast handle, not a serialized
  * configuration to deserialize. On the driver the handle reads the live
  * configuration; tasks read it as of the handle's construction.
  *
  * Commit protocol: write an attempt-unique `.name.<token>.tmp` sibling, then
  * rename over the target (delete-first — HDFS `rename` does not replace).
  * Atomic on HDFS and local filesystems. Object-store caveat: on `s3a:` a
  * rename is copy+delete, not atomic; the stores built on this class stay
  * safe there because they always write data files first and publish them
  * with a last-written manifest/marker, so a torn rename leaves the previous
  * state visible, never a mix.
  */
final class StateFs private (@transient private val driverConf: Configuration,
    shipped: Option[Broadcast[SerializableConfiguration]]) extends Serializable {

  // in a task: the broadcast copy, or (without a session) a default one
  @transient private lazy val taskConf =
    shipped.fold(new Configuration())(_.value.value)

  def conf: Configuration = if (driverConf != null) driverConf else taskConf

  /** FileSystem owning `p` (Hadoop caches instances per scheme+authority).
    * The local scheme resolves to the raw (non-checksummed) FS: state files
    * carry their own integrity (properties / parquet / bloom formats), and
    * `.crc` sidecars would double the small-file count per crawl round. */
  def fs(p: Path): FileSystem = p.getFileSystem(conf) match {
    case c: ChecksumFileSystem if "file" == c.getUri.getScheme => c.getRawFileSystem
    case other => other
  }

  /** `base/parts...` joined with Hadoop Path semantics (scheme preserved). */
  def child(base: String, parts: String*): String =
    parts.foldLeft(new Path(base))((p, c) => new Path(p, c)).toString

  def exists(p: String): Boolean = { val hp = new Path(p); fs(hp).exists(hp) }

  def mkdirs(p: String): Unit = { val hp = new Path(p); fs(hp).mkdirs(hp) }

  /** Delete `p` (recursively if a directory); missing paths are a no-op. */
  def delete(p: String): Unit = { val hp = new Path(p); fs(hp).delete(hp, true) }

  def open(p: String): InputStream = { val hp = new Path(p); fs(hp).open(hp) }

  /** Child names of `dir` (empty if the directory does not exist). */
  def listNames(dir: String): Seq[String] = {
    val hp = new Path(dir)
    val f = fs(hp)
    if (!f.exists(hp)) Nil else f.listStatus(hp).map(_.getPath.getName).toSeq
  }

  /** Unique tmp token for the current execution context: the task attempt
    * id inside a task (two attempts of one task — retry or speculation —
    * never share a tmp file); on the driver, the thread id plus a global
    * counter (concurrent driver futures never share one either). */
  private def attemptToken: String =
    Option(TaskContext.get()).map(tc => s"a${tc.taskAttemptId()}").getOrElse(
      s"d${Thread.currentThread().getId}-${StateFs.seq.incrementAndGet()}")

  /** Atomically publish `target`: `body` writes to an attempt-unique tmp
    * sibling which is then renamed over the target. Concurrent attempts of
    * the same write (task retry / speculative execution) each use their own
    * tmp file and both produce identical content, so whichever rename wins
    * leaves a complete, correct file.
    *
    * Replace semantics: the rename is tried FIRST — on POSIX-backed
    * filesystems (raw local) `rename` replaces the target atomically, so a
    * live file being rewritten (e.g. a snapshot pointer) never has a
    * missing-window. Only when that rename refuses an existing target
    * (HDFS semantics) does the delete-then-rename fallback run; stores
    * built on this class therefore must not depend on replace atomicity
    * alone for a single point of truth (IceLite derives the current
    * version from the immutable manifest listing as well). */
  def writeAtomic(target: String)(body: OutputStream => Unit): Unit = {
    val t = new Path(target)
    val f = fs(t)
    val tmp = new Path(t.getParent, s".${t.getName}.$attemptToken.tmp")
    val out = f.create(tmp, true)
    try body(out) finally out.close()
    if (!f.rename(tmp, t)) {
      f.delete(t, false) // HDFS rename refuses to replace an existing target
      if (!f.rename(tmp, t)) {
        f.delete(tmp, false)
        if (!f.exists(t))
          throw new java.io.IOException(s"statefs: rename failed: $tmp -> $target")
      }
    }
  }
}

object StateFs {
  private val seq = new java.util.concurrent.atomic.AtomicLong(0)

  /** StateFs carrying the session's Hadoop configuration (credentials,
    * `fs.<scheme>.impl` registrations, defaultFS), broadcast once for this
    * handle. */
  def apply(spark: SparkSession): StateFs = {
    val sc = spark.sparkContext
    val conf = sc.hadoopConfiguration
    new StateFs(conf, Some(sc.broadcast(new SerializableConfiguration(conf))))
  }

  /** StateFs over a default Hadoop configuration — resolves `file:` and any
    * classpath-registered scheme. Use the session-carrying `apply` whenever
    * custom `fs.*` settings (credentials, test schemes) must travel. */
  lazy val local: StateFs = new StateFs(new Configuration(), None)
}
