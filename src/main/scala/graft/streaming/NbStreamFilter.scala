package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.NbClassifier
import graft.sources.Publish

/** STREAMING quality classification — the frozen-model twin of
  * [[NbClassifier.score]] (q156) under the [[IvfStreamSink]] sink
  * discipline: a production ingest pipeline trains the quality
  * classifier ONCE on a curated batch corpus and then scores the
  * arriving firehose with the frozen model, micro-batch by micro-batch
  * (retraining per batch would let the decision boundary drift with the
  * traffic — the model is a release artifact, not stream state).
  *
  * Each `foreachBatch` invocation scores its batch with
  * [[NbClassifier.scoreWith]] — a pure per-document function of the
  * frozen model (one in-batch token agg + broadcast model join), no
  * cross-batch state — and publishes the scored rows as its OWN
  * `score_batch=<batchId>` partition through [[graft.sources.Publish]]:
  * the published directory's existence IS the applied marker, so a
  * foreachBatch retry no-ops and a crashed staging attempt is deleted
  * and rewritten. Sink I/O is O(batch).
  *
  * Monoid contract (spec- and gate-pinned): scoring is per-document, so
  * after ANY batching of a corpus the table read back equals the
  * single-pass [[NbClassifier.scoreWith]] over the union — and with the
  * model fitted on the same strata, equals [[NbClassifier.score]]'s
  * batch output, which is exactly how the gate reuses q156's oracle.
  */
object NbStreamFilter {

  /** The `foreachBatch` body: score `batch` with the frozen `model` and
    * publish as `targetPath/score_batch=<batchId>`. Idempotent per
    * batchId.
    */
  def appendBatch(targetPath: String, model: NbClassifier.NbModel,
                  idCol: String, textCol: String)
                 (batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val fs = new Path(targetPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batchDir = new Path(s"$targetPath/score_batch=$batchId")
    if (fs.exists(batchDir)) return // retry of an applied batch: no-op
    Publish.replace(fs, batchDir)(staging =>
      NbClassifier.scoreWith(model, batch, idCol, textCol)
        .write.parquet(staging.toString))
  }

  /** Read the scored table back in [[NbClassifier.score]]'s shape (the
    * bookkeeping `score_batch` partition column dropped; partition
    * inference may narrow it, so it is never exposed).
    */
  def readScored(spark: SparkSession, targetPath: String): DataFrame =
    spark.read.parquet(targetPath)
      .select(col("doc_id"), col("n_tok"), col("pos_score"),
        col("neg_score"), col("margin"), col("margin_per_tok"), col("pred"))
}
