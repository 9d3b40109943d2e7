package graft

import org.apache.spark.sql.SparkSession

/** Library entry point: a SparkSession builder pre-configured with the
  * settings graft's semantics assume and the adaptive features a large
  * cluster needs. Use this (or mirror these settings) in any application
  * embedding the library.
  *
  * An embedder that builds its own session should at least mirror
  * [[LocalFileSystemConf]]: without Hadoop's native library every local
  * directory and file a write creates otherwise costs a spawned `chmod`
  * process. The setting only affects `file://` paths; HDFS, object stores
  * and cluster file systems resolve as before.
  */
object GraftSession {

  /** Registers [[graft.sources.InProcessLocalFileSystem]] for `file://`.
    * Hadoop caches file systems per scheme, authority and user, not per
    * implementation class: a `file://` instance created earlier in the
    * JVM from a configuration without this setting keeps being returned,
    * so set it on the first session the JVM builds.
    */
  val LocalFileSystemConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" ->
      classOf[graft.sources.InProcessLocalFileSystem].getName)

  /** @param shufflePartitions size to ~2-3× total executor cores, or rely
    *                          on AQE coalescing at scale.
    */
  def builder(master: String = "local[*]",
              shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config(LocalFileSystemConf)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // pandas-style coerce semantics (null on bad cast) — the reference's
      // cleaning contract; see SURVEY §4
      .config("spark.sql.ansi.enabled", "false")
      // testdata events.parquet ships TIMESTAMP(NANOS)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // write µs (BigQuery/DuckDB-compatible) timestamps, not INT96/ns —
      // keeps derived-timestamp outputs physically identical to the oracle
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // runtime re-planning: partition coalescing, skew-join splitting,
      // shuffle-to-broadcast demotion
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // AQE coalescing dials stay at Spark's stock values, which
      // OPTIMIZATION_r20.md §5 measured as best at sf0.1; a 100 TB
      // deployment raises the advisory size through its own --conf.
}
