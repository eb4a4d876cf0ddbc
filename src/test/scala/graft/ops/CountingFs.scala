package graft.ops

import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus,
  Path, PathFilter, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** Test-only local filesystem that counts driver-side metadata calls.
  *
  * Registered under its own scheme ([[CountingFs.Scheme]]) so only the
  * paths a spec puts on it are counted. A call counts when it is made
  * outside any Spark task (the driver's own threads: the caller, the
  * `inParallel` pool, a stream's foreachBatch thread) and is not nested
  * inside another counted call — `exists` is one operation, not an
  * `exists` plus the `getFileStatus` it is built on.
  */
class CountingFs extends RawLocalFileSystem {

  override def getUri: URI = URI.create(s"${CountingFs.Scheme}:///")
  override def getScheme: String = CountingFs.Scheme

  private def counted[T](op: String)(body: => T): T =
    CountingFs.counted(op)(body)

  override def exists(f: Path): Boolean = counted("exists")(super.exists(f))
  override def getFileStatus(f: Path): FileStatus =
    counted("getFileStatus")(super.getFileStatus(f))
  // RawLocalFileSystem's statuses load their permissions lazily through
  // `java.io.File(path.toUri)`, which rejects this scheme (`listFiles`
  // asks for them); hand out plain statuses with default permissions
  override def listStatus(f: Path): Array[FileStatus] =
    counted("listStatus")(super.listStatus(f).map(s => new FileStatus(
      s.getLen, s.isDirectory, s.getReplication, s.getBlockSize,
      s.getModificationTime, s.getPath)))
  override def globStatus(p: Path): Array[FileStatus] =
    counted("globStatus")(super.globStatus(p))
  override def globStatus(p: Path, filter: PathFilter): Array[FileStatus] =
    counted("globStatus")(super.globStatus(p, filter))
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    counted("open")(super.open(f, bufferSize))
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    counted("create")(super.create(f, overwrite, bufferSize, replication,
      blockSize, progress))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    counted("create")(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))
  override def rename(src: Path, dst: Path): Boolean =
    counted("rename")(super.rename(src, dst))
  override def delete(p: Path, recursive: Boolean): Boolean =
    counted("delete")(super.delete(p, recursive))
  override def mkdirs(f: Path): Boolean = counted("mkdirs")(super.mkdirs(f))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    counted("mkdirs")(super.mkdirs(f, permission))
}

object CountingFs {

  val Scheme = "countfs"

  private val counts = new ConcurrentHashMap[String, AtomicLong]()
  private val depth = ThreadLocal.withInitial[Int](() => 0)

  /** Register the scheme on the session's Hadoop configuration (shared
    * by the driver and local-mode tasks).
    */
  def register(conf: org.apache.hadoop.conf.Configuration): Unit =
    conf.set(s"fs.$Scheme.impl", classOf[CountingFs].getName)

  /** A fresh local temp directory addressed through the counting scheme. */
  def freshDir(prefix: String): String =
    s"$Scheme://" + java.nio.file.Files.createTempDirectory(prefix).toString

  private[ops] def counted[T](op: String)(body: => T): T = {
    val d = depth.get
    if (d == 0 && org.apache.spark.TaskContext.get() == null)
      counts.computeIfAbsent(op, _ => new AtomicLong()).incrementAndGet()
    depth.set(d + 1)
    try body finally depth.set(d)
  }

  /** The calls `body` makes, per operation (zero counts omitted). */
  def during(body: => Unit): Map[String, Long] = {
    counts.clear()
    body
    val out = scala.jdk.CollectionConverters.MapHasAsScala(counts).asScala
      .collect { case (op, n) if n.get > 0 => op -> n.get }.toMap
    counts.clear()
    out
  }
}
