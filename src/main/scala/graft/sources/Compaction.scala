package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Small-files compaction — the table-maintenance operator every
  * daily-append warehouse eventually needs: streaming sinks and per-day
  * micro-batch writes leave partitions holding hundreds of KB-sized
  * files, and at 100 TB the scan's task-scheduling overhead (one task
  * per split, footer reads, driver bookkeeping) comes to dominate the
  * read. Compaction rewrites a partition directory into ≈`targetBytes`
  * files, preserving content exactly.
  *
  * `coalesce` (narrow, no shuffle) merges the small inputs — compaction
  * must not pay a full exchange just to concatenate files. The rewrite is
  * a [[Publish.replace]] of the directory: a crash never loses the
  * partition — the next `compactDir` on it restores the old files or
  * completes the swap before it lists anything.
  */
object Compaction {

  /** Visible data files under `dir` (hidden/_SUCCESS excluded). */
  private def dataFiles(spark: SparkSession, dir: Path) = {
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(dir).filter(s => s.isFile &&
      !s.getPath.getName.startsWith("_") && !s.getPath.getName.startsWith("."))
  }

  /** Compact one directory of parquet files; returns the file count
    * written, or 0 when the dir is already at or under one target file
    * per `minFiles` (no rewrite — compaction must be cheap to re-run).
    */
  def compactDir(spark: SparkSession, dir: String, targetBytes: Long,
                 minFiles: Int = 4): Int = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Publish.recover(fs, p)
    val files = dataFiles(spark, p)
    if (files.length < minFiles) return 0
    val total = files.map(_.getLen).sum
    val n = math.max(1L, (total + targetBytes - 1) / targetBytes).toInt
    if (n >= files.length) return 0 // already at target granularity
    // mergeSchema: the small files being compacted are exactly the
    // schema-drift case (readMerged's rationale) — a single-footer read
    // would silently drop columns absent from the chosen footer
    Publish.replace(fs, p)(staging =>
      spark.read.option("mergeSchema", "true").parquet(dir).coalesce(n)
        .write.parquet(staging.toString))
    n
  }
}
