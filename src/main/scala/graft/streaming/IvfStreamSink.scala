package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.similarity.IvfIncremental
import graft.sources.Publish

/** STREAMING IVF index maintenance — the streaming twin of
  * [[IvfIncremental.append]] (q126) under the q101/q106 sink discipline:
  * a `foreachBatch` sink that assigns each micro-batch's embeddings
  * against the FROZEN trained centroids
  * ([[IvfIncremental.assignDelta]] — broadcast-centroid codegen probe,
  * zero shuffle) and lands them in the index's assignment table.
  *
  * Unlike [[AggMaintenanceSink]], the maintained state is APPEND-ONLY
  * (frozen centroids make assignment a pure per-vector function, so no
  * existing row is ever revised). A full-state swap-rewrite per batch
  * would therefore cost O(corpus) I/O per micro-batch — exactly the
  * rebuild the incremental index exists to avoid. Instead each batch
  * writes its OWN partition directory `delta_batch=<batchId>/
  * cluster_id=<c>/…` through [[graft.sources.Publish]]: the batch's
  * parquet is staged under a hidden name, then one rename publishes
  * it. Maintenance I/O is O(delta), and the Hive layout keeps
  * `cluster_id` a real partition column, so probe-time partition pruning
  * works across every delta (the q126 `PartitionFilters` story).
  *
  * Retry no-op: a batch directory only ever appears via the
  * post-staging rename, so its existence IS the applied marker —
  * foreachBatch's retry surface (Spark re-runs the CURRENT batch after
  * a sink failure) returns without reading or writing anything. A stale
  * staging dir from a crashed attempt is deleted ([[Publish.recover]])
  * and rewritten.
  *
  * The monoid contract (spec- and gate-pinned): after any batching of
  * the corpus, reading the index back equals the single-pass batch
  * assignment of the union — append-order- and batch-boundary-invariant
  * because assignment is per-vector.
  */
object IvfStreamSink {

  /** The `foreachBatch` body: assign `batch` with `trained` and publish
    * it as `targetPath/delta_batch=<batchId>`. Idempotent per batchId.
    */
  def appendBatch(targetPath: String, trained: Array[Array[Long]],
                  idCol: String, vecCol: String)
                 (batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val fs = new Path(targetPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batchDir = new Path(s"$targetPath/delta_batch=$batchId")
    if (fs.exists(batchDir)) return // retry of an applied batch: no-op
    Publish.replace(fs, batchDir)(staging =>
      IvfIncremental.assignDelta(batch, trained, idCol, vecCol)
        .write.partitionBy("cluster_id").parquet(staging.toString))
  }

  /** Read the maintained assignment table back into the searchable shape
    * ([[IvfIncremental.Index.assigned]]): partition-column inference
    * narrows both partition keys to INT; `cluster_id` is cast back to
    * LONG and the bookkeeping `delta_batch` column is dropped.
    */
  def readAssigned(spark: SparkSession, targetPath: String): DataFrame =
    spark.read.parquet(targetPath)
      .select(col("vid"), col("vec"), col("nrm"),
        col("cluster_id").cast("long").as("cluster_id"))
}
