package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic training-SHARD assignment + within-shard ordering — the
  * pipeline-FINAL step every training-data build ends with: the curated
  * corpus must leave the warehouse as N shard files whose contents and
  * internal order are a pure function of the data (T5/C4 and the Pile
  * both ship hash-sharded, deterministically shuffled exports; a
  * rand()-shuffled export can never be byte-reproduced for a training
  * rerun or a contamination audit).
  *
  * Two deterministic keys per row, both engine-reproducible md5 digits
  * (the [[Sampling.hashBucket]] discipline — reference analog: the
  * load-zone partitioning in load_to_bq.py:61-76 routes rows to
  * partitions by a date key; a training export routes by hash so shards
  * are interchangeable i.i.d. slices):
  *   - `shard`    = first 8 md5 hex of (id + ":shard") mod nShards —
  *     which file the row lands in; independent of the split/sample
  *     hashes by the salt argument (see [[Sampling.hashBucket]]);
  *   - `sort_key` = first 13 md5 hex of (id + ":order") as int64 (52
  *     bits — exact in BIGINT and in every engine's parse) — the
  *     within-shard order, i.e. the GLOBAL SHUFFLE training wants,
  *     frozen into a sortable column.
  * `seq` is the 1-based rank of (sort_key, id) within the shard — the
  * row's final position in its shard file, so the manifest IS the
  * byte-order contract for the physical export.
  *
  * Scale shape: assignment is a pure per-row projection (no shuffle);
  * `seq` is [[PrefixSum.perGroup]] grouped by shard with a measure of 1,
  * ordered by (sort_key, id) — a range exchange and a per-shard offset
  * window, never a single-partition window, and no job runs until the
  * manifest is evaluated.
  * The physical writer ([[writeShards]]) repartitions on the shard
  * column and sorts within partitions, so each shard file's row order
  * equals its manifest `seq` order; `partitionBy` gives one directory
  * per shard regardless of hash co-residency.
  *
  * A null id fails LOUDLY (raise_error): an unidentifiable row has no
  * stable shard, and silently dropping rows from a training export is
  * the one failure a reproducibility contract cannot absorb (the
  * [[Mixture]] id-guard discipline).
  */
object Sharding {

  /** Salt for the shard assignment hash (vs ":split"/":sample"). */
  val ShardSalt = ":shard"

  /** Salt for the within-shard order hash. */
  val OrderSalt = ":order"

  private def guarded(id: Column): Column =
    when(id.isNull, raise_error(lit(
      "Sharding: null id — an unidentifiable row has no stable shard; " +
        "filter or repair ids upstream")))
      .otherwise(id)

  /** 52-bit deterministic order key from md5(id + ":order") — exact in
    * int64 and in the oracle's hex parse.
    */
  def sortKey(id: Column): Column =
    conv(substring(md5(concat(guarded(id).cast("string"), lit(OrderSalt))
      .cast("binary")), 1, 13), 16, 10).cast("long")

  /** `df` + (shard, sort_key, seq): the full export manifest. Output
    * row count == input row count (assignment never drops); `seq` is
    * dense 1..n_shard within each shard.
    */
  def manifest(df: DataFrame, idCol: String, nShards: Int,
               partitions: Int = 64): DataFrame = {
    requireNoCollision(df, Seq("shard", "sort_key", "seq"))
    val assigned = assignShard(df, idCol, nShards)
      .withColumn("sort_key", sortKey(col(idCol)))
    seqRanked(assigned, idCol, Seq(col("sort_key").asc), partitions)
  }

  /** [[manifest]] with an EXPLICIT within-shard order — the CURRICULUM
    * export: shard assignment stays the i.i.d. hash (every shard is
    * still an interchangeable slice of the corpus), but rows inside
    * each shard are ordered by `orderCol` (ascending, id tiebreak)
    * instead of the order hash — e.g. a quality or LM score, so late
    * training positions hold the best data (the quality-annealing
    * schedule; curriculum learning à la Bengio et al. 2009 with a
    * deterministic, auditable order). No `sort_key` column is emitted —
    * the caller's order column IS the order contract.
    */
  def manifestOrdered(df: DataFrame, idCol: String, nShards: Int,
                      orderCol: Column, partitions: Int = 64): DataFrame = {
    requireNoCollision(df, Seq("shard", "seq"))
    seqRanked(assignShard(df, idCol, nShards), idCol,
      Seq(orderCol.asc), partitions)
  }

  private def requireNoCollision(df: DataFrame, out: Seq[String]): Unit =
    out.foreach(c => require(!df.columns.contains(c),
      s"output column '$c' collides with an input column; rename it"))

  private def assignShard(df: DataFrame, idCol: String,
                          nShards: Int): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    // shard leads the manifest's columns
    df.select(Sampling.hashBucket(guarded(col(idCol)), nShards, ShardSalt)
      .as("shard"), col("*"))
  }

  /** 1-based (orderCols, id) rank within each shard. */
  private def seqRanked(assigned: DataFrame, idCol: String,
                        orderCols: Seq[Column], partitions: Int): DataFrame =
    PrefixSum.perGroup(assigned, "shard", orderCols :+ col(idCol).asc,
      lit(1L), "seq", partitions)

  /** Per-shard INTEGRITY stats — the audit table a byte-reproducible
    * export ships beside its shards: (shard, n_docs, min_key, max_key,
    * xor_key), where xor_key is the bit-XOR of the 52-bit order hashes.
    * A re-export, a restored backup, or a downstream copy re-derives the
    * same table from ids alone and diffs it without reading contents —
    * any dropped, duplicated or substituted id flips n_docs and/or
    * xor_key in exactly its shard (xor is order-free, so the check needs
    * no sort). Scale shape: the pure per-row assignment projection plus
    * ONE nShards-sized aggregate — count/min/max/xor all partial-combine
    * map-side; no rank, no shuffle beyond the dim-sized agg.
    */
  def shardStats(df: DataFrame, idCol: String, nShards: Int): DataFrame = {
    requireNoCollision(df, Seq("shard", "sort_key"))
    assignShard(df, idCol, nShards)
      .withColumn("sort_key", sortKey(col(idCol)))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("sort_key")).as("min_key"),
        max(col("sort_key")).as("max_key"),
        expr("bit_xor(sort_key)").as("xor_key"))
  }

  /** Physical export: one directory per shard, rows inside each file in
    * manifest `seq` order. `repartition(nShards, shard)` bounds writer
    * parallelism to the shard count; `sortWithinPartitions` orders
    * co-resident shards contiguously so each `partitionBy` file comes
    * out seq-ordered even when two shard values hash to one partition.
    */
  def writeShards(df: DataFrame, idCol: String, nShards: Int,
                  path: String): Unit =
    manifest(df, idCol, nShards)
      .repartition(nShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("sort_key"), col(idCol))
      .write.mode("overwrite").partitionBy("shard").parquet(path)
}
