package graft.sources

import scala.util.control.NonFatal

import org.apache.hadoop.fs.{FileSystem, Path}

/** The one directory-publish protocol every durable graft write goes
  * through: a MERGE swap, a compaction, a stream sink's batch dir, an
  * index append. The reference gets the same guarantee from BigQuery's
  * `WRITE_TRUNCATE` and MERGE; here it is one stage → retire → promote
  * swap with a recovery step.
  *
  * Contract:
  *  - one writer per target directory at a time;
  *  - the in-flight copies live under hidden sibling names
  *    ([[staging]], [[retired]]), which Spark's partition discovery
  *    skips, so a reader of the parent never sees them;
  *  - [[replace]] writes the new content under [[staging]], renames the
  *    live target to [[retired]], renames the staging dir into place and
  *    deletes the retired copy. The promote rename is the commit point;
  *  - a crash is repaired by the next writer, which calls [[recover]]
  *    before it reads the target: before the commit point the old
  *    content is restored, after it the leftover retired copy is
  *    dropped. The target then holds exactly the old or the new content;
  *  - directory rename is assumed atomic (true of local and HDFS-style
  *    file systems, not of object stores).
  *
  * Hadoop file systems report a failed rename, delete or mkdirs by
  * returning false; every such call here is checked, so a failed swap
  * fails loudly instead of silently dropping a write.
  */
object Publish {

  /** Where `target`'s next content is written before it is promoted. */
  def staging(target: Path): Path = hidden(target, "staging")

  /** Where `target`'s previous content waits while the new one is promoted. */
  def retired(target: Path): Path = hidden(target, "retired")

  private def hidden(target: Path, role: String): Path =
    new Path(target.getParent, s".${target.getName}.$role")

  def rename(fs: FileSystem, from: Path, to: Path): Unit =
    require(fs.rename(from, to), s"rename $from -> $to failed")

  /** Recursive delete. */
  def delete(fs: FileSystem, p: Path): Unit =
    require(fs.delete(p, true), s"delete $p failed")

  def mkdirs(fs: FileSystem, p: Path): Unit =
    require(fs.mkdirs(p), s"mkdirs $p failed")

  /** Finish or roll back an interrupted publish of `target`. A no-op when
    * none was interrupted; every writer runs it before it reads `target`.
    */
  def recover(fs: FileSystem, target: Path): Unit = {
    val old = retired(target)
    if (fs.exists(old)) {
      if (fs.exists(target)) delete(fs, old) // crashed after the promote
      else rename(fs, old, target) // crashed between retire and promote
    }
    if (fs.exists(staging(target))) delete(fs, staging(target))
  }

  /** Recover `target`, then let `write` fill its staging dir (which does
    * not exist when `write` is called; its parent does).
    */
  def stage(fs: FileSystem, target: Path)(write: Path => Unit): Unit = {
    recover(fs, target)
    mkdirs(fs, target.getParent)
    write(staging(target))
  }

  /** Swap the staged content in: retire the live target (if any), rename
    * the staging dir into place, delete the retired copy. A failed
    * promote restores the retired copy before the error propagates.
    */
  def promote(fs: FileSystem, target: Path): Unit = {
    val replacing = fs.exists(target)
    if (replacing) rename(fs, target, retired(target))
    try rename(fs, staging(target), target)
    catch {
      case NonFatal(e) =>
        try recover(fs, target)
        catch { case NonFatal(r) => e.addSuppressed(r) }
        throw e
    }
    if (replacing) delete(fs, retired(target))
  }

  /** [[stage]] then [[promote]]: replace `target`'s content with what
    * `write` produces, or create it when absent.
    */
  def replace(fs: FileSystem, target: Path)(write: Path => Unit): Unit = {
    stage(fs, target)(write)
    promote(fs, target)
  }
}
