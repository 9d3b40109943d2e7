package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Data-lake zone readers/writers (reference: GCS raw/clean zones with
  * `snapshot_date=YYYY-MM-DD/` Hive layout; transform_tiki.py:383,
  * load_to_bq.py:143).
  */
/** A source directory that must feed a load is empty or missing — the
  * upstream stage produced nothing for this date (reference
  * load_to_bq.py:129's ValueError).
  */
final class EmptySourceException(msg: String) extends IllegalStateException(msg)

object SourceGuard {
  /** Refuse to proceed unless `path` holds at least one non-empty data file
    * with the given suffix (reference load_to_bq.py:102
    * `validate_gcs_path_has_files`, called before EVERY load at
    * :182/:253/:360/:484). The point is overwrite safety: a partition
    * overwrite fed from an empty source would silently erase yesterday's
    * good data, so an empty/missing source must raise BEFORE any write.
    * Returns the file count found.
    */
  def requireNonEmpty(spark: SparkSession, path: String,
                      suffix: String): Int = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p))
      throw new EmptySourceException(
        s"no source directory at $path — upstream produced nothing for this " +
          "date; check the upstream logs before re-running")
    // listStatus, not listFiles: a LocatedFileStatus loads each file's
    // permission, which on a local file system without Hadoop's native
    // library spawns an `ls -ld` process per file
    def count(dir: org.apache.hadoop.fs.Path): Int =
      fs.listStatus(dir).iterator.map { f =>
        if (f.isDirectory) count(f.getPath)
        else if (f.getPath.getName.endsWith(suffix) && f.getLen > 0) 1
        else 0
      }.sum
    val n = count(p)
    if (n == 0)
      throw new EmptySourceException(
        s"no non-empty *$suffix files under $path — refusing to overwrite " +
          "from an empty source; check the upstream logs before re-running")
    n
  }
}

object RawZone {
  /** Raw-zone JSON reader: date-partitioned directory of JSON files,
    * permissive (corrupt records quarantined to _corrupt_record instead of
    * failing the pipeline — the reference's load survives bad crawler
    * output the same way). Pass a schema in production: schema inference
    * costs one extra full scan, which is unacceptable at raw-zone scale.
    */
  def read(spark: SparkSession, basePath: String,
           schema: Option[StructType] = None,
           date: Option[String] = None): DataFrame = {
    val path = date.fold(basePath)(d => s"$basePath/snapshot_date=$d")
    val reader = spark.read
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
    // PERMISSIVE only routes bad rows to the corrupt column if the schema
    // CONTAINS that column — append it so a caller-supplied data schema
    // doesn't silently disable the quarantine.
    val withCorrupt = schema.map(s =>
      if (s.fieldNames.contains("_corrupt_record")) s
      else s.add("_corrupt_record", org.apache.spark.sql.types.StringType))
    withCorrupt.fold(reader)(s => reader.schema(s)).json(path)
  }

  /** [[read]] plus quarantine ROUTING: corrupt raw lines are written (as
    * plain text, one original line per row — the evidence the upstream
    * crawler team needs, not a parsed wreck) to `quarantinePath`, and only
    * the clean rows come back, `_corrupt_record` dropped. The reference
    * pipeline tolerates bad crawler output row-by-row; at 100 TB the bad
    * rows must also be KEPT somewhere auditable or the loss is silent.
    *
    * The parsed frame is cached (OpCache) so the quarantine write and the
    * returned clean side share one JSON parse. As with the dedup family's
    * operator caches, a long-lived session should wrap the call AND the
    * clean side's terminal action in `OpCache.scoped { ... }` to release
    * the cache deterministically; outside a scope it is a plain
    * LRU-evictable `.cache()` (fine for one-shot pipeline runs).
    */
  def readWithQuarantine(spark: SparkSession, basePath: String,
                         schema: StructType, quarantinePath: String,
                         date: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    val parsed = graft.operators.OpCache.cache(
      read(spark, basePath, Some(schema), date))
    val corrupt = parsed.filter(col("_corrupt_record").isNotNull)
      .select(col("_corrupt_record").as("value"))
    // text sink: one original line per row; empty quarantine is fine.
    // Deterministic per-date subdirectory, REPLACED on each run, keeps
    // REPLAYS idempotent (an Append at the root would re-append the same
    // corrupt lines on every re-run of the day, silently duplicating the
    // audit trail): the discovery-visible slot always MIRRORS the day's
    // current corrupt set, swapped in whole by Publish.replace — a crash
    // mid-replay leaves the previous evidence, never a torn slot.
    val slot = new org.apache.hadoop.fs.Path(s"$quarantinePath/date=${date.getOrElse("all")}")
    val fs = slot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // A dateless replay captures EVERY date's corrupt lines under date=all,
    // so mixing it with per-date slots in one quarantine root would hold
    // overlapping copies of the same lines — a reader unioning the root
    // would double-count. Refuse the mix instead of documenting it away.
    val root = new org.apache.hadoop.fs.Path(quarantinePath)
    if (fs.exists(root)) {
      val other = fs.listStatus(root).map(_.getPath.getName)
        .filter(n => n.startsWith("date=") && n != slot.getName)
      val mixed =
        if (date.isDefined) other.filter(_ == "date=all")
        else other
      require(mixed.isEmpty,
        s"quarantine root $quarantinePath already holds ${mixed.mkString(", ")} — " +
          "dated and dateless (date=all) quarantine slots overlap and must " +
          "not share one root; use a separate quarantinePath for full replays")
    }
    Publish.replace(fs, slot)(staging => corrupt.write.text(staging.toString))
    parsed.filter(col("_corrupt_record").isNull).drop("_corrupt_record")
  }
}

object CleanZone {
  /** Idempotent daily write (reference WRITE_TRUNCATE / delete-write):
    * dynamic partition overwrite replaces ONLY the partitions present in
    * `df` — a re-run of one day never rewrites the table, which is the
    * difference between O(day) and O(history) at 100 TB.
    */
  def writePartitioned(df: DataFrame, path: String,
                       partitionCols: Seq[String],
                       format: String = "parquet"): Unit =
    df.write
      .option("partitionOverwriteMode", "dynamic")
      .mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      .format(format) // parquet default; "orc" for ORC-standardized lakes
      .save(path)

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  def readFormat(spark: SparkSession, path: String, format: String): DataFrame =
    spark.read.format(format).load(path)

  /** Schema-drift read: crawler payloads GAIN fields over time, so later
    * partitions carry columns earlier ones lack. `mergeSchema` unions the
    * per-file footers into one schema (absent columns read as null). Off
    * by default in Spark because footer-merging costs one small task per
    * file — pay it at the drift boundary, pin the schema downstream.
    */
  def readMerged(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Concurrent-safe variant of [[writePartitioned]]: two jobs writing
    * DIFFERENT days of the same table at once must not clobber each other
    * (the reference gets this from BigQuery's `table$YYYYMMDD` atomic
    * decorator). Plain dynamic overwrite shares one `_temporary` staging
    * tree per table across jobs, so job A's commit/abort can delete job
    * B's in-flight files. Here each write stages into its own unique
    * hidden directory, then swaps each of its partition directories into
    * the table with [[Publish.replace]] — concurrent writers touch
    * disjoint paths end-to-end.
    *
    * Each partition directory is its own publish target: a crash leaves
    * every partition holding its old or its new files, and the next write
    * of a partition repairs it. A crash during the staged Spark write
    * or its swaps leaves this call's unique staging dir behind (hidden
    * from readers): a concurrent writer's staging dir looks the same, so
    * no writer may remove it.
    */
  def writePartitionedIsolated(df: DataFrame, path: String,
                               partitionCols: Seq[String]): Unit = {
    require(partitionCols.nonEmpty, "need at least one partition column")
    val table = new Path(path)
    val fs = table.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val staging = new Path(table.getParent,
      s".${table.getName}.staging-${java.util.UUID.randomUUID}")
    df.write.partitionBy(partitionCols: _*).parquet(staging.toString)
    // staged partition dirs as name paths (day=1 :: hour=2 :: Nil)
    def under(root: Path, names: Seq[String]) = names.foldLeft(root)(new Path(_, _))
    def leaves(names: Seq[String]): Seq[Seq[String]] =
      if (names.size == partitionCols.size) Seq(names)
      else fs.listStatus(under(staging, names)).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.contains("="))
        .flatMap(s => leaves(names :+ s.getPath.getName))
    leaves(Nil).foreach(names =>
      Publish.replace(fs, under(table, names))(to =>
        Publish.rename(fs, under(staging, names), to)))
    Publish.delete(fs, staging)
  }
}

object TrendsCsv {
  /** Wide Google-Trends CSV (date, keyword columns..., isPartial) — header
    * + typed date column, ready for Melt.wideToLong
    * (transform_google_trends.py:29).
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.option("header", "true").option("inferSchema", "true")
      .csv(path)
    val dateCol = df.columns.find(_.equalsIgnoreCase("date")).getOrElse(
      throw new IllegalArgumentException(
        s"trends CSV needs a 'date' column; found: ${df.columns.mkString(", ")}"))
    df.withColumnRenamed(dateCol, "date").withColumn("date", to_date(col("date")))
  }
}
