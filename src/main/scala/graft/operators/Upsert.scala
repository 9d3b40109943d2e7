package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DataFrame re-expression of the reference's BigQuery MERGE patterns
  * (load_to_bq.py:273 dim_products SCD1; load_to_bq.py:393 dim_categories
  * hybrid; trends_dag.py:653 staging→fact).
  *
  * MERGE = full-outer join on the key + per-column resolution:
  *   - matched        → source value (SCD1 update), or COALESCE(target,
  *                      source) for "keep manual edits" columns
  *   - target-only    → target value (row preserved)
  *   - source-only    → source value (insert)
  *
  * Scale: one shuffle on the merge key for both sides; when the source
  * (daily delta) is small relative to the target, Catalyst/AQE broadcasts
  * it. The source must be unique per key (dedupe upstream — reference does
  * the same with staging tables).
  */
object Upsert {

  /** SCD1 merge. @param keepCols columns where the target value survives a
    * match when non-null (reference's COALESCE(T.c, S.c) hybrid columns,
    * e.g. manually curated category_name; also created_at-style columns via
    * preserveCols which always keep the matched target value).
    */
  def merge(target: DataFrame, source: DataFrame, keys: Seq[String],
            keepCols: Seq[String] = Nil, preserveCols: Seq[String] = Nil): DataFrame = {
    Seq("__tgt" -> target, "__src" -> source).foreach { case (m, df) =>
      require(!df.columns.contains(m),
        s"input already has a $m column; rename it — merge uses it as a side marker")
    }
    // Explicit aliases: target and source frequently share lineage (e.g. a
    // delta derived from the same base table), which would otherwise trip
    // Spark's ambiguous-self-join resolution.
    val t = target.withColumn("__tgt", lit(true)).alias("__t")
    val s = source.withColumn("__src", lit(true)).alias("__s")
    def tc(c: String) = col(s"__t.`$c`")
    def sc(c: String) = col(s"__s.`$c`")
    val joined = t.join(s, keys, "full_outer")
    val tCols = target.columns.filterNot(keys.contains).toSeq
    val sCols = source.columns.filterNot(keys.contains).toSet
    val matched = tc("__tgt").isNotNull && sc("__src").isNotNull

    val resolved = tCols.map { c =>
      if (!sCols.contains(c)) tc(c).as(c) // target-only column
      else {
        val onMatch =
          if (preserveCols.contains(c)) tc(c)
          else if (keepCols.contains(c)) coalesce(tc(c), sc(c))
          else sc(c)
        when(matched, onMatch)
          .when(tc("__tgt").isNotNull, tc(c))
          .otherwise(sc(c)).as(c)
      }
    }
    val srcOnly = source.columns.filterNot(c => keys.contains(c) || tCols.contains(c))
      .map(c => sc(c).as(c)).toSeq
    joined.select(keys.map(col) ++ resolved ++ srcOnly: _*)
  }

  /** PARTITION-PRUNED MERGE against a partitioned parquet table on disk —
    * the 100 TB-honest form of the reference's incremental BigQuery MERGE
    * (load_to_bq.py:143 partition-scoped load + :273 MERGE): a fact-grain
    * upsert must rewrite only the partitions the delta TOUCHES, never the
    * table. [[merge]] alone is a logical full-outer rewrite — fine for the
    * dim-sized tables it targets, a full-table rewrite for facts.
    *
    * Mechanics: (1) the delta's distinct partition values — bounded by the
    * partitions one delta touches, typically a handful of days — come to
    * the driver; (2) the target is read with `isin(touched)` on the
    * partition column, which prunes at the file index (untouched partition
    * files are never OPENED, let alone rewritten); (3) the logical merge
    * runs over that slice; (4) [[graft.sources.CleanZone
    * .writePartitionedIsolated]] stages and swaps ONLY the touched
    * partition directories, each through [[graft.sources.Publish]].
    * Untouched partitions stay
    * byte-identical on disk (spec-asserted).
    *
    * Contract: the partition column joins as part of the merge key — a
    * delta row merges into ITS OWN partition; an equal business key in an
    * untouched partition is left alone (the same partition-scoped MERGE
    * semantics a `WHERE target.partition IN (...)` predicate gives the
    * reference, and the reason the prune is sound). Delta partition values
    * must be non-null.
    *
    * @return the touched partition values (driver-side, for logging/audit)
    */
  def mergePruned(tablePath: String, source: DataFrame, keys: Seq[String],
                  partitionCol: String, keepCols: Seq[String] = Nil,
                  preserveCols: Seq[String] = Nil): Seq[Any] = {
    require(source.columns.contains(partitionCol),
      s"delta must carry partition column '$partitionCol'")
    val spark = source.sparkSession
    // Cache the delta BEFORE deriving `touched`: the delta executes twice
    // (distinct-collect here, then inside the staged merge write). Without
    // pinning it, a non-deterministic delta — or one reading a concurrently
    // changing source — could emit a partition value on the second run that
    // `touched` never saw, and the partition-dir swap would then replace
    // that target partition with delta-only rows, silently dropping the
    // existing target rows.
    val pinned = source.cache()
    try {
      val touched = pinned.select(col(partitionCol)).distinct()
        .collect().map(_.get(0)).toSeq // bounded: partitions in ONE delta
      require(!touched.contains(null),
        s"delta has null '$partitionCol' values — partition-pruned merge " +
          "needs every row routed to a concrete partition")
      if (touched.isEmpty) return Nil
      val full = spark.read.parquet(tablePath)
      val slice = full.filter(col(partitionCol).isin(touched: _*))
      val mergeKeys = if (keys.contains(partitionCol)) keys
                      else keys :+ partitionCol
      val merged = merge(slice, pinned, mergeKeys, keepCols, preserveCols)
        .select(full.columns.map(col).toSeq: _*) // table column order
      graft.sources.CleanZone.writePartitionedIsolated(
        merged, tablePath, Seq(partitionCol))
      touched
    } finally { pinned.unpersist(): Unit }
  }
}
