package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** EXACT distributed quantiles over an integer domain (prices in cents,
  * token counts, epochs) — the deterministic alternative to
  * `approx_percentile` (t-digest, approximation AND engine-private) when
  * the domain is discrete and exactness is the contract.
  *
  * Definition: the type-1 (discrete) quantile — the smallest value v whose
  * cumulative count reaches ceil(q·N). Integer arithmetic end-to-end, so
  * any engine agrees exactly.
  *
  * Scale shape: partial-agg value counts (the only row-volume shuffle, and
  * it collapses to |distinct values|), then the running count is
  * [[PrefixSum.global]] over the count table by value — never a
  * `Window.orderBy(v)` with no partition, which would drag every distinct
  * value into ONE task.
  */
object Quantiles {

  /** @param df        input rows
    * @param valueCol  numeric column; must be integral-valued (cast cents
    *                  before calling, don't pass raw doubles)
    * @param qs        quantiles in (0, 1]
    * @param partitions range partitions for the cumsum (P totals hit the
    *                  driver — keep it modest)
    * @return one row per q: (q, value) with value = smallest v whose
    *         cumulative count >= ceil(q·N)
    */
  def exactDiscrete(df: DataFrame, valueCol: Column, qs: Seq[Double],
                    partitions: Int = 64): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1),
      s"quantiles must lie in (0, 1]: ${qs.mkString(", ")}")
    val spark = df.sparkSession
    val (cum, n) = cumAndN(df, valueCol, partitions)
    val qDf = spark.createDataFrame(
        spark.sparkContext.parallelize(
          qs.map(org.apache.spark.sql.Row(_)), 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("q",
            org.apache.spark.sql.types.DoubleType, nullable = false))))
      .withColumn("target", ceil(col("q") * lit(n.toDouble)).cast("long"))
    cum.join(broadcast(qDf), col("cum") >= col("target"))
      .groupBy(col("q")).agg(min(col("v")).as("value"))
  }

  /** Value at an EXACT ascending rank — the integer-rank sibling of
    * [[exactDiscrete]] for callers whose cut is defined in counts, not
    * float quantiles (e.g. "drop the bottom n − (n·keepPct) DIV 100 rows"
    * — [[graft.operators.Dsir]]). `rankOf` maps the non-null row count n
    * to the 1-based target rank; returns one row (value) = the smallest v
    * whose cumulative count reaches the target, or zero rows when the
    * target exceeds n (an empty selection, not an error — callers decide).
    * Same running count as [[exactDiscrete]]; no float q enters the
    * arithmetic, so the cut is bit-replayable from pure integer SQL.
    */
  def exactDiscreteAtRank(df: DataFrame, valueCol: Column,
                          rankOf: Long => Long,
                          partitions: Int = 64): DataFrame = {
    val (cum, n) = cumAndN(df, valueCol, partitions)
    val target = rankOf(n)
    require(target >= 1, s"target rank must be >= 1, got $target (n=$n)")
    cum.filter(col("cum") >= lit(target)).agg(min(col("v")).as("value"))
      .filter(col("value").isNotNull)
  }

  /** Per-value counts and their running count `cum` by value
    * ([[PrefixSum.global]]), plus the total non-null count.
    */
  private def cumAndN(df: DataFrame, valueCol: Column,
                      partitions: Int): (DataFrame, Long) = {
    val counts = df.filter(valueCol.isNotNull)
      .select(valueCol.cast("long").as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("c"))
    PrefixSum.global(counts, Seq(col("v")), col("c"), "cum", partitions)
  }

  /** PER-GROUP exact discrete quantiles. Here a window IS the right tool —
    * `Window.partitionBy(group)` hash-partitions on the group key and each
    * group's cumsum is bounded by that group's distinct values, so there is
    * no single-partition cliff (the global variant above is where
    * [[PrefixSum]] is mandatory). One row per (group, q).
    */
  def exactDiscretePerGroup(df: DataFrame, groupCol: String, valueCol: Column,
                            qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1),
      s"quantiles must lie in (0, 1]: ${qs.mkString(", ")}")
    require(groupCol != "q" && groupCol != "value",
      s"group column '$groupCol' collides with an output column; rename it")
    import org.apache.spark.sql.expressions.Window
    // null VALUES are excluded (no rank position); null GROUPS are kept as
    // their own segment, matching SQL GROUP BY semantics
    val counts = df.filter(valueCol.isNotNull)
      .select(col(groupCol).as("g"), valueCol.cast("long").as("v"))
      .groupBy(col("g"), col("v")).agg(count(lit(1)).as("c"))
    val w = Window.partitionBy(col("g")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = counts
      .withColumn("cum", sum(col("c")).over(w))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("g"))))
    // index-based internal aliases: a literal q like 0.5 would put a dot in
    // the column name and col() would parse it as a struct access
    val qCols = qs.zipWithIndex.map { case (q, i) =>
      min(when(col("cum") >= ceil(lit(q) * col("n").cast("double")).cast("long"),
        col("v"))).as(s"q_$i")
    }
    val wide = cum.groupBy(col("g")).agg(qCols.head, qCols.tail: _*)
    // long output shape (g, q, value) to match the global variant
    val entries = qs.zipWithIndex.map { case (q, i) =>
      struct(lit(q).as("q"), col(s"q_$i").as("value"))
    }
    wide.select(col("g").as(groupCol), explode(array(entries: _*)).as("e"))
      .select(col(groupCol), col("e.q").as("q"), col("e.value").as("value"))
  }

  /** Approximate quantiles from a FIXED-WIDTH histogram sketch — the
    * mergeable scale path beside [[exactDiscrete]]'s exact running
    * count: bucket counts are one partial-agg pass (≤ `buckets` rows
    * cross the exchange regardless of input size), they MERGE by addition
    * across partitions/days like the other sketches, and the estimate
    * reads the cumulative histogram. Error is bounded by the bucket width
    * ((hi-lo)/buckets) — all integer arithmetic, so any engine reproduces
    * it bit-for-bit (no t-digest centroid drift).
    *
    * Values outside [lo, hi) clamp into the edge buckets (their rank mass
    * still counts; their position error is unbounded — size the domain).
    * Returns one row per requested quantile: (q, bucket_lo) where
    * bucket_lo is the lower bound of the bucket holding rank ⌈q·n⌉.
    */
  def approxByHistogram(df: DataFrame, valueCol: Column, qs: Seq[Double],
                        lo: Long, hi: Long, buckets: Int): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1),
      s"quantiles must lie in (0, 1]: ${qs.mkString(", ")}")
    require(lo < hi && buckets > 0, s"bad histogram domain [$lo,$hi)x$buckets")
    val width = (hi - lo + buckets - 1) / buckets // ceil: covers the domain
    import org.apache.spark.sql.expressions.Window
    // floor division, spelled out: Spark's `/` on longs is TRUE division
    // (double); floor of it equals integer division here because value and
    // width are exact ≤2^53 longs (width ≫ double ulp at quotient scale)
    val bucket = least(greatest(
      floor((valueCol.cast("long") - lo) / width).cast("long"), lit(0L)),
      lit(buckets - 1L))
    val counts = df.filter(valueCol.isNotNull)
      .groupBy(bucket.as("b")).agg(count(lit(1)).as("c"))
    // cumulative over ≤ `buckets` rows — bounded by the sketch size, not
    // the data; the single-partition window is the same bounded-smallness
    // argument as exactDiscrete's P-row driver offsets
    val cum = counts
      .withColumn("cum", sum(col("c")).over(
        Window.orderBy(col("b")).rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("c")).over(Window.partitionBy()))
    val qCols = qs.zipWithIndex.map { case (q, i) =>
      min(when(col("cum") >= ceil(lit(q) * col("n").cast("double")).cast("long"),
        col("b"))).as(s"q_$i")
    }
    val wide = cum.agg(qCols.head, qCols.tail: _*)
    val entries = qs.zipWithIndex.map { case (q, i) =>
      struct(lit(q).as("q"), (lit(lo) + col(s"q_$i") * width).as("bucket_lo"))
    }
    wide.select(explode(array(entries: _*)).as("e"))
      .select(col("e.q").as("q"), col("e.bucket_lo").as("bucket_lo"))
      // empty/all-null input: the global agg still yields one all-null row
      // whose explode would emit phantom (q, null) estimates — a no-data
      // histogram has no quantiles (matching exactDiscrete and the SQL
      // GROUP BY formulation, both of which return zero rows)
      .filter(col("bucket_lo").isNotNull)
  }
}
