package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Distributed global ROW_NUMBER / NTILE with NO single-partition
  * exchange: the rank is [[PrefixSum.global]] with a measure of 1.
  *
  * Rank is exact and deterministic whenever the sort key is a TOTAL order
  * over the rows (ties across partition boundaries would otherwise make the
  * range partitioner's sampled split points observable). Callers must append
  * a unique tiebreaker column — the same discipline ntile's deterministic
  * use requires anyway.
  *
  * Reference semantics: the spend-quartile mart's NTILE(4) customer ranking
  * (load_to_bq.py:214-233 ranks the customer dim globally); at 100 TB
  * the customer frame is fact-proportional, so the rank must be computed
  * with a range exchange, never a single-partition window.
  */
object GlobalRank {

  /** `df` plus a 1-based global row number over `sortExprs`.
    *
    * @param df        input rows
    * @param sortExprs total-order sort expressions (e.g.
    *                  `Seq(col("spend").desc, col("id").asc)`); MUST be a
    *                  strict total order for the rank to be deterministic
    * @param rankCol   output column name (long, 1-based)
    * @param partitions range partitions; P totals hit the driver — keep it
    *                  modest
    */
  def rowNumber(df: DataFrame, sortExprs: Seq[Column], rankCol: String = "rank",
                partitions: Int = 64): DataFrame =
    ranked(df, sortExprs, rankCol, partitions)._1

  /** The ranked frame and its row count n. */
  private def ranked(df: DataFrame, sortExprs: Seq[Column], rankCol: String,
                     partitions: Int): (DataFrame, Long) = {
    require(sortExprs.nonEmpty, "rowNumber needs at least one sort expression")
    require(!df.columns.contains(rankCol),
      s"rank column '$rankCol' collides with an input column; rename it")
    PrefixSum.global(df, sortExprs, lit(1L), rankCol, partitions)
  }

  /** `df` plus an NTILE(k) bucket (1..k) over `sortExprs` — SQL NTILE
    * semantics exactly: with n rows, the first n % k buckets hold
    * n/k + 1 rows and the rest hold n/k, assigned in rank order. Built on
    * [[rowNumber]], so the plan is a range exchange + broadcast join —
    * never `Exchange SinglePartition` — and n is the prefix sum's total,
    * so no count runs.
    */
  def ntile(df: DataFrame, sortExprs: Seq[Column], k: Int,
            tileCol: String = "tile", partitions: Int = 64): DataFrame = {
    require(k > 0, s"ntile needs k > 0, got $k")
    val rankCol = "__gr_rank"
    // n comes with the rank: the prefix sum's driver-side totals
    val (rows, nRows) = ranked(df, sortExprs, rankCol, partitions)
    val r = col(rankCol)
    val n = lit(nRows)
    // exact integer division via Catalyst's IntegralDivide (SQL `div`):
    // pure long arithmetic end-to-end. The previous (a - a%d)/d form
    // routed through a double divide, whose exactness claim only held for
    // n < 2^53 — real for no row count we reach, but wrong as a guarantee.
    def intDiv(a: Column, d: Column): Column = {
      import org.apache.spark.sql.GraftColumnBridge
      GraftColumnBridge.toColumn(
        new org.apache.spark.sql.catalyst.expressions.IntegralDivide(
          GraftColumnBridge.toExpression(a), GraftColumnBridge.toExpression(d)))
        .cast(LongType)
    }
    val base = intDiv(n, lit(k.toLong))
    val rem = n % lit(k.toLong)
    val bigSpan = rem * (base + lit(1L))
    val tile = when(r <= bigSpan, intDiv(r - lit(1L), base + lit(1L)) + lit(1L))
      .otherwise(rem + intDiv(r - lit(1L) - bigSpan, base) + lit(1L))
    rows.withColumn(tileCol, tile.cast(IntegerType)).drop(rankCol)
  }
}
