package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{CreateFlag, FilterFileSystem, FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** A fault-injecting local file system for the private scheme
  * `faultfs:` (register with `fs.faultfs.impl`): every MUTATING call
  * (create, append, rename, delete, mkdirs) is numbered, and the one
  * numbered [[FaultFs.armAt]] throws an `IOException` instead of
  * running — so every file-system mutation of a protocol becomes an
  * enumerable crash point. Calls that touch Spark's `_temporary`
  * output-committer dirs are neither numbered nor failed: they are the
  * executors' task attempts, which Spark itself retries and discards.
  * Throws once, then runs normally (cleanup in `finally` blocks
  * proceeds, as it would after a lost RPC). */
class FaultFs extends FilterFileSystem(new FaultFs.Local) {
  import FaultFs._

  override def getScheme: String = scheme

  private def mutate(paths: Path*): Unit =
    if (!paths.exists(_.toString.contains("/_temporary"))) {
      val n = calls.incrementAndGet()
      if (n == armedAt.get) {
        fired.set(n)
        throw new java.io.IOException(s"injected fault at mutating call $n " +
          s"(${paths.mkString(", ")})")
      }
    }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    mutate(f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize,
      progress)
  }
  override def create(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable,
      checksumOpt: org.apache.hadoop.fs.Options.ChecksumOpt): FSDataOutputStream = {
    mutate(f)
    super.create(f, permission, flags, bufferSize, replication, blockSize,
      progress, checksumOpt)
  }
  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    mutate(f)
    super.createNonRecursive(f, permission, flags, bufferSize, replication,
      blockSize, progress)
  }
  override def append(f: Path, bufferSize: Int,
      progress: Progressable): FSDataOutputStream = {
    mutate(f); super.append(f, bufferSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    mutate(src, dst); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    mutate(f); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    mutate(f); super.mkdirs(f, permission)
  }
  override def mkdirs(f: Path): Boolean = {
    mutate(f); super.mkdirs(f)
  }
}

object FaultFs {
  val scheme = "faultfs"

  /** The raw local file system under the `faultfs:` scheme, so paths
    * it returns (listings, qualified names) stay on that scheme. */
  class Local extends RawLocalFileSystem {
    override def getUri: java.net.URI = java.net.URI.create(s"$scheme:///")
    override def getScheme: String = scheme
  }

  private val calls = new AtomicLong
  private val armedAt = new AtomicLong(0L)
  private val fired = new AtomicLong(0L)

  /** Register the scheme on the session's Hadoop configuration. */
  def register(conf: org.apache.hadoop.conf.Configuration): Unit = {
    conf.set(s"fs.$scheme.impl", classOf[FaultFs].getName)
  }

  /** Restart the call numbering and fail call `k` (1-based); 0 disarms. */
  def armAt(k: Long): Unit = { calls.set(0L); fired.set(0L); armedAt.set(k) }

  /** Disarm; returns whether the armed call was reached (and failed). */
  def disarm(): Boolean = { armedAt.set(0L); fired.get > 0L }
}
