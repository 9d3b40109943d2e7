package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Exact distributed running sum — the one primitive behind every global
  * rank and cut in graft ([[GlobalRank]], [[Quantiles]], [[Mixture]],
  * [[Sharding]]): the inclusive sum of a long measure over a total order,
  * restarting at each value of an optional group key. A window ordered
  * with no partition key would drag every row into ONE task; this is the
  * two-phase exact prefix sum instead:
  *
  *   1. a range exchange on (group, order) + `sortWithinPartitions`;
  *   2. one sorted `mapPartitions` pass computes each partition's local
  *      running sum, restarting when the group changes. The pass is cached
  *      ([[OpCache.cache]]) so the totals and the join-back read the same
  *      range split (the range partitioner's sampled split points may
  *      differ between two evaluations);
  *   3. per-(partition, group) totals become exclusive offsets and are
  *      joined back: offset + local sum is the running sum.
  *
  * Step 3 follows from whether a group key is passed. [[global]] collects
  * the P partition totals to the driver — P numbers, which also give the
  * total n — and broadcasts the offsets back. [[perGroup]] keeps them
  * distributed: a window `partitionBy(group).orderBy(partition)` over the
  * totals frame, each window group at most P rows, because the group
  * domain may be open (millions of sources) and P × |groups| totals would
  * not fit on the driver. A grouped call runs no job until its result is
  * evaluated.
  *
  * The sum is exact and deterministic when `order` is a strict total order
  * over the rows of a group (ties across a range boundary would make the
  * sampled split points observable). A null measure counts as 0; rows with
  * a null group key form one group, as in SQL `PARTITION BY`.
  */
object PrefixSum {

  /** Bookkeeping columns of the sorted pass; input columns may not use them. */
  private val Internal = Seq("__pid", "__gix", "__idx", "__offset")

  /** `df` plus `sumCol`, the running sum of `measure` over `order`, and
    * the sum of `measure` over every row. Runs the totals collect eagerly.
    *
    * @param partitions range partitions; P totals reach the driver, so
    *                   keep it modest
    */
  def global(df: DataFrame, order: Seq[Column], measure: Column,
             sumCol: String, partitions: Int): (DataFrame, Long) = {
    val spark = df.sparkSession
    val local = sortedPass(df, None, order, measure, sumCol, partitions)
    val totals = local.groupBy(col("__pid")).agg(sum(long(measure)))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets = totals.map(_._1).zip(totals.scanLeft(0L)(_ + _._2))
    val offsetDf = spark.createDataFrame(
      spark.sparkContext.parallelize(
        offsets.toSeq.map { case (p, o) => Row(p, o) }, 1),
      StructType(Seq(StructField("__pid", IntegerType, nullable = false),
        StructField("__offset", LongType, nullable = false))))
    (joinOffsets(local, broadcast(offsetDf), Seq("__pid"), sumCol),
      totals.map(_._2).sum)
  }

  /** `df` plus `sumCol`, the running sum of `measure` over `order` within
    * each value of the `group` column.
    */
  def perGroup(df: DataFrame, group: String, order: Seq[Column],
               measure: Column, sumCol: String, partitions: Int): DataFrame = {
    val local = sortedPass(df, Some(group), order, measure, sumCol, partitions)
    val before = Window.partitionBy(col(group)).orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = local.groupBy(col("__pid"), col("__gix"), col(group))
      .agg(sum(long(measure)).as("__t"))
      .select(col("__pid"), col("__gix"),
        coalesce(sum(col("__t")).over(before), lit(0L)).as("__offset"))
    joinOffsets(local, offsets, Seq("__pid", "__gix"), sumCol)
  }

  private def long(measure: Column): Column =
    coalesce(measure.cast(LongType), lit(0L))

  /** Steps 1–2: `df` + `__pid` (range partition), `__gix` (0-based index
    * of the row's group within that partition — the join key of its
    * offset, never null) and `__idx` (partition-local running sum).
    */
  private def sortedPass(df: DataFrame, group: Option[String],
                         order: Seq[Column], measure: Column, sumCol: String,
                         partitions: Int): DataFrame = {
    require(order.nonEmpty, "a running sum needs at least one order expression")
    require(!df.columns.contains(sumCol),
      s"output column '$sumCol' collides with an input column; rename it")
    Internal.foreach(c => require(!df.columns.contains(c),
      s"input column '$c' collides with PrefixSum's internal bookkeeping; rename it"))
    val keys = group.map(g => col(g).asc).toSeq ++ order
    val ranged = df.repartitionByRange(partitions, keys: _*)
      .sortWithinPartitions(keys: _*)
      .select(col("*"), long(measure))
    val width = df.schema.length
    val gi = group.map(df.schema.fieldIndex).getOrElse(-1)
    val schema = StructType(df.schema.fields ++ Seq(
      StructField("__pid", IntegerType, nullable = false),
      StructField("__gix", IntegerType, nullable = false),
      StructField("__idx", LongType, nullable = false)))
    val pass = ranged.mapPartitions { rows =>
      val pid = org.apache.spark.TaskContext.getPartitionId()
      var gix = -1
      var cur: Any = null
      var run = 0L
      rows.map { r =>
        val g = if (gi < 0) null else r.get(gi)
        if (gix < 0 || !java.util.Objects.equals(g, cur)) {
          gix += 1; cur = g; run = 0L
        }
        run += r.getLong(width)
        Row.fromSeq(r.toSeq.take(width) :+ pid :+ gix :+ run)
      }
    }(Encoders.row(schema))
    OpCache.cache(pass)
  }

  private def joinOffsets(local: DataFrame, offsets: DataFrame,
                          keys: Seq[String], sumCol: String): DataFrame =
    local.join(offsets, keys)
      .withColumn(sumCol, col("__offset") + col("__idx"))
      .drop(Internal: _*)
}
