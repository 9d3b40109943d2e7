package graft

import org.apache.spark.sql.functions._

import graft.operators.similarity.IvfIncremental
import graft.queries.{IvfQueries, SimilarityQueries}
import graft.streaming.IvfStreamSink

/** Contracts of the streaming IVF maintenance sink (q152) beyond the
  * oracle gate: the monoid equality against the batch build, the retry
  * no-op on an already-published batch dir, crash-recovery of a stale
  * staging dir, and O(delta) publication (a batch writes only its own
  * partition directory).
  */
class IvfStreamSinkSpec extends SparkSpec {

  private def emb = Tables.embeddings(spark, sf("0.001"))

  private def freshIndex() = IvfIncremental.build(
    emb.filter(col("vec_id") % IvfQueries.DeltaMod =!= 0), "vec_id",
    "embedding", IvfQueries.NCentroids, IvfQueries.TrainIters,
    SimilarityQueries.Dims)

  private def assignedSet(df: org.apache.spark.sql.DataFrame) =
    df.select("vid", "cluster_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("final disk index equals the batch assignment of the union") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_stream_").toString
    val idx = freshIndex()
    val sink = IvfStreamSink.appendBatch(dir, idx.trained,
      "vec_id", "embedding") _
    (0 until 3).foreach(b =>
      sink(emb.filter(col("vec_id") % 3 === b)
        .select(col("vec_id"), col("embedding")), b.toLong))
    val streamed = assignedSet(IvfStreamSink.readAssigned(spark, dir))
    val batch = assignedSet(
      IvfIncremental.assignDelta(emb, idx.trained, "vec_id", "embedding"))
    assert(streamed == batch && streamed.nonEmpty)
  }

  test("retried batch no-ops: published dir untouched, rows not duplicated") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_retry_").toString
    val idx = freshIndex()
    val sink = IvfStreamSink.appendBatch(dir, idx.trained,
      "vec_id", "embedding") _
    val b0 = emb.filter(col("vec_id") < 100).select(col("vec_id"), col("embedding"))
    sink(b0, 0L)
    val once = IvfStreamSink.readAssigned(spark, dir).count()
    val publishedAt = new java.io.File(s"$dir/delta_batch=0").lastModified()
    sink(b0, 0L) // foreachBatch retry of the applied batch
    assert(IvfStreamSink.readAssigned(spark, dir).count() == once)
    assert(new java.io.File(s"$dir/delta_batch=0").lastModified() == publishedAt,
      "retry rewrote the published batch dir")
  }

  test("stale staging dir from a crashed attempt is rewritten cleanly") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_crash_").toString
    val idx = freshIndex()
    // simulate a crash: staging exists (partial junk), batch dir does not
    val staging = new java.io.File(graft.sources.Publish.staging(
      new org.apache.hadoop.fs.Path(s"$dir/delta_batch=0")).toString)
    assert(staging.mkdirs())
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$staging/garbage"), "partial")
    val b0 = emb.filter(col("vec_id") < 100).select(col("vec_id"), col("embedding"))
    IvfStreamSink.appendBatch(dir, idx.trained, "vec_id", "embedding")(b0, 0L)
    assert(!staging.exists(), "staging dir must be consumed by the publish")
    assert(IvfStreamSink.readAssigned(spark, dir).count() ==
      emb.filter(col("vec_id") < 100).count())
  }

  test("a batch publishes only its own delta_batch directory") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_odelta_").toString
    val idx = freshIndex()
    val sink = IvfStreamSink.appendBatch(dir, idx.trained,
      "vec_id", "embedding") _
    sink(emb.filter(col("vec_id") < 100).select(col("vec_id"), col("embedding")), 0L)
    val before = new java.io.File(s"$dir/delta_batch=0").lastModified()
    sink(emb.filter(col("vec_id") >= 100 && col("vec_id") < 200)
      .select(col("vec_id"), col("embedding")), 1L)
    // batch 1's publish must not have touched batch 0's directory — the
    // O(delta) I/O claim made observable
    assert(new java.io.File(s"$dir/delta_batch=0").lastModified() == before)
    assert(new java.io.File(s"$dir/delta_batch=1").exists())
  }
}
