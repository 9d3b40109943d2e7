package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Value-cleaning / feature-scaling operators for training-data and mart
  * pipelines: winsorization (outlier clipping at exact percentiles) and
  * per-group min-max normalization.
  */
object Cleanse {

  /** Clip `valueCol` (integral domain, e.g. cents) to its exact [pLo, pHi]
    * percentiles: the standard robust-statistics answer to fat-tailed
    * price/metric columns ahead of averaging or model features.
    *
    * The bounds come from [[Quantiles.exactDiscrete]] (a running count by
    * [[PrefixSum]] — no approx_percentile drift, no single partition) and
    * ride back as a broadcast 1-row frame; the clip itself
    * is a pure projection. Output adds `<valueCol alias>_clipped` plus the
    * bound columns so downstream audits can see WHAT was clipped.
    */
  def winsorize(df: DataFrame, valueCol: Column, outCol: String,
                pLo: Double, pHi: Double): DataFrame = {
    require(pLo > 0 && pHi <= 1 && pLo < pHi, s"bad percentile pair ($pLo, $pHi)")
    val qs = Quantiles.exactDiscrete(df, valueCol, Seq(pLo, pHi))
    val bounds = qs.groupBy()
      .agg(min(when(col("q") === pLo, col("value"))).as("__lo"),
        min(when(col("q") === pHi, col("value"))).as("__hi"))
    df.join(broadcast(bounds), lit(true))
      // null guard is load-bearing: Spark's greatest/least SKIP null
      // arguments, so an unguarded clip would map a missing value to the
      // lower bound — fabricated data
      .withColumn(outCol,
        when(valueCol.isNotNull,
          least(greatest(valueCol.cast("long"), col("__lo")), col("__hi"))))
      .withColumnRenamed("__lo", s"${outCol}_lo")
      .withColumnRenamed("__hi", s"${outCol}_hi")
  }

  /** Per-group min-max normalization to [0, 1]: (x − min) / (max − min)
    * within each group — the feature-scaling primitive that makes
    * heterogeneous groups comparable. One partial-agg pass for the group
    * extrema, one co-partitioned join back; the division is the single
    * floating-point step over exact long extrema (same moment discipline
    * as [[Stats]]). Constant groups (max == min) normalize to null — a
    * 0-width range has no position in it.
    */
  def minMaxPerGroup(df: DataFrame, groupCol: String, valueCol: Column,
                     outCol: String): DataFrame = {
    val extrema = df.filter(valueCol.isNotNull)
      .groupBy(col(groupCol).as("__g"))
      .agg(min(valueCol.cast("long")).as("__mn"), max(valueCol.cast("long")).as("__mx"))
    // null-SAFE join: a null group is still a group (SQL GROUP BY keeps
    // it), and its rows deserve the same scaling — the plain equi-join
    // would silently never match them
    df.join(extrema, df(groupCol) <=> extrema("__g"), "left")
      .withColumn(outCol,
        when(col("__mx") > col("__mn"),
          (valueCol.cast("long") - col("__mn")).cast("double") /
            (col("__mx") - col("__mn")).cast("double")))
      .drop("__g", "__mn", "__mx")
  }
}
