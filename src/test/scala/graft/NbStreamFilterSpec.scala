package graft

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.operators.NbClassifier
import graft.streaming.NbStreamFilter

/** Contracts of the frozen-model streaming scorer beyond q161's oracle
  * gate: the monoid (any batching ≡ the single-pass batch scorer), the
  * applied-marker retry no-op, crashed-staging recovery, and frozen-model
  * generalization to documents the training corpus never saw.
  */
class NbStreamFilterSpec extends SparkSpec {
  import spark.implicits._

  private def trainCorpus = Seq(
    (1L, "the quick brown fox reads fine prose", "pos"),
    (2L, "prose reads well the fox is fine", "pos"),
    (3L, "buy cheap pills now click here now", "neg"),
    (4L, "click buy now cheap cheap pills", "neg"))
    .toDF("doc_id", "text", "label")

  private def model = NbClassifier.fit(trainCorpus, "doc_id", "text",
    col("label") === "pos", col("label") === "neg")

  private def scoredSet(df: org.apache.spark.sql.DataFrame) =
    df.select("doc_id", "n_tok", "pos_score", "neg_score", "margin",
      "margin_per_tok", "pred")
      .collect().map(_.toSeq).toSet

  test("monoid: batched stream scoring equals the single-pass batch scorer") {
    val target = Files.createTempDirectory("nbstream").toString + "/t"
    val m = model
    val sink = NbStreamFilter.appendBatch(target, m, "doc_id", "text") _
    // three batches, including docs the model never trained on
    val b0 = Seq((10L, "the fox reads prose"), (11L, "buy pills click now"))
    val b1 = Seq((12L, "zzz qqq xxx"), (13L, "fine prose the fox"))
    val b2 = Seq((14L, "cheap pills cheap pills"))
    Seq(b0, b1, b2).zipWithIndex.foreach { case (b, i) =>
      sink(b.toDF("doc_id", "text"), i.toLong)
    }
    val union = (b0 ++ b1 ++ b2).toDF("doc_id", "text")
    assert(scoredSet(NbStreamFilter.readScored(spark, target)) ==
      scoredSet(NbClassifier.scoreWith(m, union, "doc_id", "text")))
  }

  test("retry of an applied batch no-ops: published rows never change") {
    val target = Files.createTempDirectory("nbstream").toString + "/t"
    val m = model
    val sink = NbStreamFilter.appendBatch(target, m, "doc_id", "text") _
    sink(Seq((10L, "the fox reads prose")).toDF("doc_id", "text"), 0L)
    val before = scoredSet(NbStreamFilter.readScored(spark, target))
    // a retry delivering DIFFERENT rows under the same batch id must
    // leave the published directory untouched (the marker wins)
    sink(Seq((99L, "totally different content")).toDF("doc_id", "text"), 0L)
    assert(scoredSet(NbStreamFilter.readScored(spark, target)) == before)
  }

  test("a crashed staging attempt is deleted and rewritten") {
    val target = Files.createTempDirectory("nbstream").toString + "/t"
    val m = model
    val fs = new Path(target).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val staging = graft.sources.Publish.staging(new Path(s"$target/score_batch=0"))
    fs.mkdirs(staging) // simulate a crashed attempt's leftover
    NbStreamFilter.appendBatch(target, m, "doc_id", "text")(
      Seq((10L, "the fox reads prose")).toDF("doc_id", "text"), 0L)
    assert(!fs.exists(staging), "stale staging must be gone")
    assert(NbStreamFilter.readScored(spark, target).count() == 1)
  }

  test("frozen model generalizes: unseen docs score by the trained vocabulary") {
    val m = model
    val out = NbClassifier.scoreWith(m,
      Seq((50L, "prose prose fox"), (51L, "pills pills click"))
        .toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getAs[Boolean]("pred")).toMap
    assert(out(50L), "prose-like unseen doc classifies positive")
    assert(!out(51L), "spam-like unseen doc classifies negative")
  }
}
