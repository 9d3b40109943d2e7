package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's checksummed `file://` file system over
  * [[InProcessRawLocalFileSystem]]: the stock `LocalFileSystem` in every
  * respect (`.crc` side files included) except that setting a permission
  * never starts a process. `GraftSession` registers it for `file://`
  * (`spark.hadoop.fs.file.impl`); it has no effect on any other scheme.
  */
class InProcessLocalFileSystem extends LocalFileSystem(new InProcessRawLocalFileSystem)

/** `RawLocalFileSystem` whose `setPermission` is an in-process chmod(2).
  *
  * Without Hadoop's native library (`libhadoop`, absent from pip-installed
  * Spark and most local installs) the stock method spawns a `chmod` process,
  * and Hadoop calls it after every `mkdirs` and every file `create`: one
  * output commit of a small parquet write starts dozens of processes, each
  * costing milliseconds of wall time and a pipe of the JVM's environment.
  * `Files.setPosixFilePermissions` makes the same system call in-process.
  * A mode NIO cannot express (sticky, setuid or setgid bits) and a file
  * system without POSIX attributes take the stock path.
  */
class InProcessRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    // PosixFilePermission's declaration order is owner rwx, group rwx,
    // others rwx: constant i is mode bit 8 - i
    val perms = PosixFilePermission.values.zipWithIndex.collect {
      case (perm, i) if (mode & (1 << (8 - i))) != 0 => perm
    }.toSet.asJava
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    catch {
      case _: UnsupportedOperationException => super.setPermission(p, permission)
    }
  }
}
