package graft.sources

import java.io.IOException
import java.net.URI
import java.util.EnumSet

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{CreateFlag, FSDataOutputStream, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.SparkSession

/** The local file system under the `crash://` scheme, with a switch that
  * simulates process death: once armed, it lets a given number of
  * mutating calls (create, append, mkdirs, rename, delete, truncate)
  * through and fails every later one. Reads keep working. Because every
  * mutation after the crash point fails, no in-process cleanup — a
  * `finally` block, Spark's job abort — can repair the state: what is
  * left on disk is what a killed process would leave.
  *
  * The switch and the call log are JVM-wide, so they also cover the
  * mutations Spark's tasks make inside a staged write (local mode runs
  * the tasks in this JVM).
  */
class CrashFileSystem extends InProcessRawLocalFileSystem {
  import CrashFileSystem.mutate

  override def getUri: URI = CrashFileSystem.Root
  override def getScheme: String = "crash"

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    mutate("create", f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    mutate("create", f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
                                  flags: EnumSet[CreateFlag], bufferSize: Int,
                                  replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream = {
    mutate("create", f)
    super.createNonRecursive(f, permission, flags, bufferSize, replication,
      blockSize, progress)
  }

  override def append(f: Path, bufferSize: Int,
                      progress: Progressable): FSDataOutputStream = {
    mutate("append", f)
    super.append(f, bufferSize, progress)
  }

  override def mkdirs(f: Path): Boolean = { mutate("mkdirs", f); super.mkdirs(f) }

  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    mutate("mkdirs", f)
    super.mkdirs(f, permission)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    mutate("rename", src, dst)
    super.rename(src, dst)
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    mutate("delete", p)
    super.delete(p, recursive)
  }

  override def truncate(f: Path, newLength: Long): Boolean = {
    mutate("truncate", f)
    super.truncate(f, newLength)
  }
}

object CrashFileSystem {
  val Root: URI = URI.create("crash:///")

  /** One mutating call; paths as plain absolute path strings. */
  final case class Call(op: String, paths: Seq[String])

  private var left = Long.MaxValue
  private var stopAfter: Call => Boolean = _ => false
  private val log = ArrayBuffer.empty[Call]

  /** Let `spark`'s jobs and `Path.getFileSystem` resolve `crash://`. */
  def register(spark: SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration.set("fs.crash.impl",
      classOf[CrashFileSystem].getName)

  /** A `crash://` URI for a local absolute path. */
  def uri(localPath: String): String = s"crash://$localPath"

  /** Clear the log; let `n` mutating calls through, then fail the rest. */
  def arm(n: Long): Unit = synchronized {
    left = n; stopAfter = _ => false; log.clear()
  }

  /** Clear the log; fail every mutating call after the first that
    * matches `p` (that one still goes through).
    */
  def armAfter(p: Call => Boolean): Unit = synchronized {
    left = Long.MaxValue; stopAfter = p; log.clear()
  }

  /** Restart: every call goes through again (the log is kept). */
  def disarm(): Unit = synchronized { left = Long.MaxValue; stopAfter = _ => false }

  /** The mutating calls made since the last arm, in order. */
  def calls: Seq[Call] = synchronized(log.toList)

  private def mutate(op: String, paths: Path*): Unit = synchronized {
    if (left <= 0)
      throw new IOException(s"crash: $op ${paths.mkString(" -> ")} after the crash point")
    val call = Call(op, paths.map(_.toUri.getPath))
    log += call
    left -= 1
    if (stopAfter(call)) left = 0
  }
}
