package graft.queries

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, LongType, StringType, StructField, StructType}

import graft.Tables
import graft.sources.{CleanZone, Compaction, RawZone}

/** Oracle gates for the SOURCE/SINK plumbing that was spec-only (SURVEY §2
  * items 19, 49b, 49c, 49d, 49e): each gate derives deterministic content
  * from `part`, drives the real operator against local storage, reads the
  * WRITTEN/filtered result back, and lets DuckDB replay the expected
  * content from `part` arithmetic — so quarantine routing, schema-drift
  * merging, format round-trips, compaction and concurrent partition swaps
  * are all checked by an engine that never saw the storage machinery.
  */
object SourceGates {

  private val Date = "2024-03-15"

  private val q115Invocation = new AtomicInteger(0)

  /** q115: corrupt-record QUARANTINE (49b,
    * [[RawZone.readWithQuarantine]]) — crawler-shaped JSONL with every
    * ~101st line broken reads through the permissive reader; corrupt
    * lines route to the quarantine text slot, clean rows come back. The
    * gated result is the clean side aggregated per brand PLUS the
    * quarantine slot's row count read back from disk — the oracle
    * replays both from the generator arithmetic, so a lost clean row, an
    * invented one, or a mis-routed corrupt line all hash-fail.
    */
  def q115Quarantine(spark: SparkSession, dir: String): DataFrame = {
    val inv = q115Invocation.incrementAndGet()
    val base = s"${PipelineQueries.scratch}/q115_$inv"
    val pk = col("p_partkey")
    def s(c: org.apache.spark.sql.Column) = c.cast("string")
    val line = when(pk % 101 === 0, lit("{broken"))
      .otherwise(concat(lit("{\"product_id\": "), s(pk),
        lit(", \"price\": "), s((pk % 800 + 150) * 1000),
        lit(", \"brand\": \"Brand "), s(pk % 50),
        lit("\", \"active\": "), s(pk % 3 === 0), lit("}")))
    Tables.part(spark, dir).select(line.as("value"))
      .coalesce(4).write.mode("overwrite")
      .text(s"$base/raw/snapshot_date=$Date")

    val schema = StructType(Seq(
      StructField("product_id", LongType), StructField("price", LongType),
      StructField("brand", StringType), StructField("active", BooleanType)))
    val clean = RawZone.readWithQuarantine(spark, s"$base/raw", schema,
      s"$base/quarantine", date = Some(Date))
    val quarantined = spark.read.text(s"$base/quarantine/date=$Date")
      .agg(count(lit(1)).as("n_quarantined"))
    clean.groupBy(col("brand"))
      .agg(count(lit(1)).as("n_rows"), sum(col("price")).as("total_price"))
      .crossJoin(broadcast(quarantined))
  }

  def q115Oracle: String =
    """SELECT 'Brand ' || CAST(p_partkey % 50 AS VARCHAR) AS brand,
      |  COUNT(*) AS n_rows,
      |  CAST(SUM((p_partkey % 800 + 150) * 1000) AS BIGINT) AS total_price,
      |  (SELECT COUNT(*) FROM part WHERE p_partkey % 101 = 0) AS n_quarantined
      |FROM part WHERE p_partkey % 101 <> 0
      |GROUP BY 1""".stripMargin

  private val q116Invocation = new AtomicInteger(0)

  /** q116: SCHEMA-DRIFT read (49c, [[CleanZone.readMerged]]) — day 1's
    * files lack the `discount` column day 2's carry (crawler payloads
    * gain fields over time); `mergeSchema` unions the footers and the
    * absent column reads as null. Gated on the merged aggregation per
    * partition day: a single-footer read would silently zero day 2's
    * discounts or drop the column.
    */
  def q116SchemaDrift(spark: SparkSession, dir: String): DataFrame = {
    val inv = q116Invocation.incrementAndGet()
    val base = s"${PipelineQueries.scratch}/q116_$inv/t"
    val pk = col("p_partkey")
    val p = Tables.part(spark, dir)
    p.select(pk.as("id"), (pk % 800 + 150).cast("long").as("price"))
      .coalesce(2).write.mode("overwrite").parquet(s"$base/day=1")
    p.select(pk.as("id"), (pk % 800 + 150).cast("long").as("price"),
        (pk % 80).cast("long").as("discount"))
      .coalesce(2).write.mode("overwrite").parquet(s"$base/day=2")
    CleanZone.readMerged(spark, base)
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_rows"), sum(col("price")).as("total_price"),
        sum(col("discount")).as("total_discount"))
  }

  def q116Oracle: String =
    """SELECT CAST(d AS INTEGER) AS day, COUNT(*) AS n_rows,
      |  CAST(SUM(p_partkey % 800 + 150) AS BIGINT) AS total_price,
      |  CASE WHEN d = 2 THEN CAST(SUM(p_partkey % 80) AS BIGINT) END AS total_discount
      |FROM part, (VALUES (1), (2)) t(d)
      |GROUP BY d""".stripMargin

  private val q117Invocation = new AtomicInteger(0)

  /** q117: ORC format round-trip (49d) — the partitioned write goes
    * through [[CleanZone.writePartitioned]]'s dynamic-overwrite path with
    * format="orc" and reads back via [[CleanZone.readFormat]]; the oracle
    * replays the content from `part`, so a lossy or mispartitioned
    * round-trip hash-fails (DuckDB never sees the ORC bytes — exactly the
    * point: the FORMAT must not change the data).
    */
  def q117OrcRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val inv = q117Invocation.incrementAndGet()
    val base = s"${PipelineQueries.scratch}/q117_$inv/orc_table"
    val pk = col("p_partkey")
    val df = Tables.part(spark, dir).select(pk.as("id"),
      (pk % 10).cast("int").as("bucket"),
      (pk % 800 + 150).cast("long").as("price"))
    CleanZone.writePartitioned(df, base, Seq("bucket"), format = "orc")
    CleanZone.readFormat(spark, base, "orc")
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"), sum(col("price")).as("total_price"))
  }

  def q117Oracle: String =
    """SELECT CAST(p_partkey % 10 AS INTEGER) AS bucket, COUNT(*) AS n_rows,
      |  CAST(SUM(p_partkey % 800 + 150) AS BIGINT) AS total_price
      |FROM part GROUP BY 1""".stripMargin

  private val q118Invocation = new AtomicInteger(0)

  /** q118: SMALL-FILES COMPACTION (49e, [[Compaction.compactDir]]) — 16
    * deliberately tiny files compact through the staged
    * [[graft.sources.Publish.replace]] rewrite; the require pins that a
    * real rewrite happened (fewer files than before, more than zero), and
    * the oracle gates CONTENT
    * PRESERVATION, the property compaction must never break.
    */
  def q118Compaction(spark: SparkSession, dir: String): DataFrame = {
    val inv = q118Invocation.incrementAndGet()
    val base = s"${PipelineQueries.scratch}/q118_$inv/day"
    val pk = col("p_partkey")
    Tables.part(spark, dir).select(pk.as("id"),
        (pk % 7).cast("int").as("grp"),
        (pk % 800 + 150).cast("long").as("price"))
      .repartition(16)
      .write.mode("overwrite").parquet(base)
    val written = Compaction.compactDir(spark, base, targetBytes = 64L * 1024 * 1024)
    require(written > 0 && written < 16,
      s"expected a real compaction rewrite (0 < files < 16), got $written")
    CleanZone.read(spark, base)
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_rows"), sum(col("price")).as("total_price"))
  }

  def q118Oracle: String =
    """SELECT CAST(p_partkey % 7 AS INTEGER) AS grp, COUNT(*) AS n_rows,
      |  CAST(SUM(p_partkey % 800 + 150) AS BIGINT) AS total_price
      |FROM part GROUP BY 1""".stripMargin

  private val q119Invocation = new AtomicInteger(0)

  /** q119: CONCURRENT isolated partition-overwrite (19,
    * [[CleanZone.writePartitionedIsolated]] — the reference's BigQuery
    * `table$day` atomicity): two writers land DIFFERENT days of the same
    * table at the same time on separate threads; each stages into its own
    * unique directory and swaps only its partition dirs, so neither
    * clobbers the other (plain dynamic overwrite shares one `_temporary`
    * tree and can). The gated result is the whole table read back — a
    * lost, torn, or cross-clobbered partition hash-fails against the
    * oracle's replay of both days.
    */
  def q119ConcurrentWrite(spark: SparkSession, dir: String): DataFrame = {
    val inv = q119Invocation.incrementAndGet()
    val table = s"${PipelineQueries.scratch}/q119_$inv/fact"
    val pk = col("p_partkey")
    def dayDf(d: Int) = Tables.part(spark, dir).select(pk.as("id"),
      lit(d).as("day"), (pk % 800 + 150 + d).cast("long").as("price"))
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val writers = Seq(1, 2).map(d => Future {
      CleanZone.writePartitionedIsolated(dayDf(d), table, Seq("day"))
    })
    Await.result(Future.sequence(writers), 5.minutes)
    CleanZone.read(spark, table)
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_rows"), sum(col("price")).as("total_price"))
  }

  def q119Oracle: String =
    """SELECT CAST(d AS INTEGER) AS day, COUNT(*) AS n_rows,
      |  CAST(SUM(p_partkey % 800 + 150 + d) AS BIGINT) AS total_price
      |FROM part, (VALUES (1), (2)) t(d)
      |GROUP BY d""".stripMargin

  /** q120: the JOIN-CARDINALITY GUARD's pass path (101b,
    * [[graft.operators.QualityChecks.requireUniqueKeys]]) — a
    * unique-keyed dim WITH a null-keyed "unknown member" row flows
    * through the guard into a fact join. The guard must be an exact
    * no-op here: every dim row survives its null-safe semi-join
    * (including the null key — a plain equi-semi-join would silently
    * drop it) and the join result matches DuckDB's ungated join. The
    * emitted n_dim_rows = |customer| + 1 pins the null row's survival;
    * the raise_error trip path is spec-covered (it cannot be
    * oracle-replayed — it throws).
    */
  def q120GuardedJoin(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{DecimalType, DoubleType}
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"))
    val dim = cust.unionByName(
      spark.range(1).select(lit(null).cast("long").as("c_custkey"),
        lit(-1).cast("int").as("c_nationkey")))
    // cached: both the join and the dimCount aggregate consume the guard —
    // uncached, the whole guard subtree (two dim passes + semi-join) would
    // execute twice per run (OpCache: released at the query scope's exit)
    val guarded = graft.operators.OpCache.cache(
      graft.operators.QualityChecks.requireUniqueKeys(dim, Seq("c_custkey")))
    val dimCount = guarded.agg(count(lit(1)).as("n_dim_rows"))
    Tables.orders(spark, dir)
      .join(guarded, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(18, 2)))
          .cast(DoubleType).as("total"))
      .crossJoin(broadcast(dimCount))
  }

  def q120Oracle: String =
    """SELECT c.c_nationkey, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
      |  (SELECT COUNT(*) + 1 FROM customer) AS n_dim_rows
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |GROUP BY 1""".stripMargin
}
