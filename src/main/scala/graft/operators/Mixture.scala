package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

/** Mixture materialization: EXECUTE the per-source token budget a mixture
  * recipe prescribes (the step after [[graft.operators.BpeTrain
  * .docTokenCounts]] measures and q141's accounting table reports): each
  * source contributes documents, in deterministic `idCol` order, until its
  * token quota is exhausted — the token-grain sibling of
  * [[Sampling.capPerSource]]'s doc-grain cap, with [[Packing]]'s
  * start-offset convention (a document whose FIRST token falls inside the
  * quota is kept whole, so a source may overshoot by at most one
  * document; exact-to-the-token truncation would split documents).
  *
  * The cut needs each document's cumulative token offset WITHIN its
  * source: [[PrefixSum.perGroup]] grouped by source, in `idCol` order.
  * A per-source window sort over the DATA would serialize every source
  * into one partition; the grouped prefix sum keeps its offsets
  * distributed, so the source domain may be open and web-scale (millions
  * of values — exactly why [[Sampling.capPerSource]] exists). All-integer
  * arithmetic: the offsets and cumsums are BIGINT sums in a pinned order,
  * bit-replayable by any engine's per-source ordered window.
  *
  * Rows with a NULL source are EXCLUDED (a document with no source can
  * draw no source's budget — [[Sampling.deterministicSplit]]'s
  * unattributable-row convention); null token counts draw 0. `idCol`
  * must be unique, non-null and long-castable — a value the cast nulls
  * (non-numeric string, overflow) fails LOUDLY at runtime via a
  * codegen'd raise_error rather than silently breaking the
  * deterministic-order contract.
  */
object Mixture {

  /** Per-source running token offsets: (idCol, srcCol, tokenCol order
    * pinned) → one row per non-null-source input row with `src_cum` =
    * the inclusive per-source cumulative token sum in `idCol` order.
    */
  def groupedPrefixSum(df: DataFrame, idCol: String, srcCol: String,
                       tokenCol: String, partitions: Int = 64): DataFrame = {
    val idL = col(idCol).cast("long")
    // a null cast (non-numeric id) would both NPE opaquely downstream and
    // silently break the deterministic-order contract — fail loudly with
    // the offending value instead (the KMeansExact/RangeJoin guard shape)
    val idGuarded = when(idL.isNull, raise_error(concat(
      lit(s"Mixture: idCol '$idCol' must be non-null and long-castable, got: "),
      coalesce(col(idCol).cast("string"), lit("NULL"))))).otherwise(idL)
    val base = df
      .filter(col(srcCol).isNotNull)
      .select(idGuarded.as("id"),
        col(srcCol).cast("string").as("src"),
        coalesce(col(tokenCol).cast("long"), lit(0L)).as("tok"))
    PrefixSum.perGroup(base, "src", Seq(col("id")), col("tok"), "src_cum",
        partitions)
      .select(col("id").as(idCol), col("src").as(srcCol),
        col("tok").as(tokenCol), col("src_cum"))
  }

  /** The quota cut: keep each source's documents, in `idCol` order, while
    * the document's START offset (src_cum − tokens) is inside
    * `tokenQuotaPerSource`. Open source set — no per-source
    * configuration, exactly [[Sampling.capPerSource]]'s contract at token
    * grain. Output: (idCol, srcCol, tokenCol, src_cum) for the kept rows.
    */
  def materializeByQuota(df: DataFrame, idCol: String, srcCol: String,
                         tokenCol: String, tokenQuotaPerSource: Long,
                         partitions: Int = 64): DataFrame = {
    require(tokenQuotaPerSource > 0,
      s"quota must be positive: $tokenQuotaPerSource")
    groupedPrefixSum(df, idCol, srcCol, tokenCol, partitions)
      .filter(col("src_cum") - col(tokenCol) < tokenQuotaPerSource)
  }

  /** WEIGHTED quota cut — the non-uniform recipe (a DoReMi/Llama-style
    * mixture executes per-source weights, not a flat cap): source s gets
    * quota = budget·wₛ DIV Σw (exact integer division — no float share
    * enters the cut), then the same start-offset kept-whole rule as
    * [[materializeByQuota]]. Sources ABSENT from the weight map
    * contribute nothing (weight 0 ≡ unlisted — the closed-recipe
    * convention; use [[materializeByQuota]] for open-set balancing). The
    * weight table is recipe-sized and broadcasts.
    */
  def materializeByWeights(df: DataFrame, idCol: String, srcCol: String,
                           tokenCol: String, budget: Long,
                           weights: Map[String, Long],
                           partitions: Int = 64): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    require(weights.nonEmpty, "need at least one weighted source")
    require(weights.values.forall(_ >= 0), s"negative weight in $weights")
    val sumW = weights.values.sum
    require(sumW > 0, "weights sum to zero")
    require(weights.values.max <= Long.MaxValue / budget,
      s"budget x max weight overflows: $budget x ${weights.values.max}")
    val spark = df.sparkSession
    val qRows = weights.toSeq.sortBy(_._1).map { case (s, w) =>
      Row(s, budget * w / sumW)
    }
    val quotaDf = spark.createDataFrame(
      spark.sparkContext.parallelize(qRows, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("src",
          StringType, nullable = false),
        org.apache.spark.sql.types.StructField("__quota",
          LongType, nullable = false))))
      .withColumnRenamed("src", srcCol)
    groupedPrefixSum(df, idCol, srcCol, tokenCol, partitions)
      .join(broadcast(quotaDf), Seq(srcCol))
      .filter(col("src_cum") - col(tokenCol) < col("__quota"))
      .drop("__quota")
  }
}
