package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.CleanFns
import graft.operators.{Dedup, QualityChecks, StarSchema, Upsert}
import graft.sources.{CleanZone, RawZone}

/** The reference's full daily product pipeline as ONE composed call —
  * everything transform_tiki.py + load_to_bq.py do per day:
  * raw crawler JSON → rename → parse/clean → dedup-latest → null gate →
  * star split → partitioned fact write (idempotent) → dim MERGE →
  * quality report.
  *
  * A user of the reference runs this instead of the Airflow tiki_dag; each
  * stage is the library operator the DAG task maps to (SURVEY §2 items
  * 1-12, 16-19, 25).
  */
object TikiDailyPipeline {

  final case class Result(factRows: Long, dimProductRows: Long,
                          dimCategoryRows: Long, quality: DataFrame)

  /** Raw columns clean() consumes, with the pad type for days whose
    * inferred JSON schema lacks them (schema drift / optional fields):
    * withColumnRenamed no-ops on a missing column and the downstream cast
    * would then fail UNRESOLVED_COLUMN — the reference instead treats a
    * missing column as all-NULL, so pad before transforming.
    */
  private val RawColumns: Seq[(String, String)] = Seq(
    "product_id" -> "string", "sku" -> "string", "name" -> "string",
    "price" -> "string", "original_price" -> "string",
    "discount_rate" -> "string", "quantity_sold" -> "string",
    "rating" -> "string", "review_count" -> "string", "brand" -> "string",
    "seller" -> "string", "seller_id" -> "string",
    "thumbnail_url" -> "string", "product_url" -> "string",
    "category_path" -> "string", "_category_url" -> "string",
    "badges" -> "array<string>", "_extracted_at" -> "string")

  /** Cleans one day of raw crawler JSON into the star schema
    * (transform_tiki.py:411 transform_data).
    */
  def clean(raw: DataFrame): DataFrame = {
    val present = raw.columns.toSet
    val padded = RawColumns.foldLeft(raw) { case (df, (c, t)) =>
      if (present(c)) df else df.withColumn(c, lit(null).cast(t))
    }
    val renamed = padded
      .withColumnRenamed("_extracted_at", "extracted_at")
      .withColumnRenamed("thumbnail_url", "image_url")
      .withColumnRenamed("seller", "seller_name")
      .withColumnRenamed("brand", "brand_name")
      .withColumnRenamed("quantity_sold", "sales_volume")
      .withColumnRenamed("rating", "rating_average")
    renamed
      .withColumn("snapshot_date", CleanFns.toSnapshotDate(col("extracted_at")))
      .withColumn("product_id", col("product_id").cast("long"))
      .withColumn("seller_id", col("seller_id").cast("long"))
      .withColumn("current_price", CleanFns.cleanPrice(col("price")))
      .withColumn("original_price", CleanFns.cleanPrice(col("original_price")))
      .withColumn("discount_rate", CleanFns.parseDiscountRate(col("discount_rate")))
      .withColumn("sales_volume_acc", CleanFns.parseSalesVolume(col("sales_volume")))
      .withColumn("rating_average", col("rating_average").cast("double"))
      .withColumn("review_count", col("review_count").cast("long"))
      .withColumn("category_id",
        coalesce(CleanFns.categoryLeaf(col("category_path")),
          CleanFns.extractCategoryId(col("_category_url"))))
      .withColumn("root_category_id", CleanFns.categoryRoot(col("category_path")))
      .withColumn("category_depth", CleanFns.categoryDepth(col("category_path")))
      .withColumn("category_name", CleanFns.extractUrlKey(col("_category_url")))
      .withColumn("inventory_status", CleanFns.inventoryStatus(col("current_price")))
      .withColumn("tiki_now", CleanFns.hasBadge(col("badges"), "tiki_now"))
      .withColumn("extracted_at", to_timestamp(col("extracted_at")))
  }

  /** transform_tiki.py:582's dedup winner ordering: value tiebreaks beyond
    * (extracted_at, sku) make the winner deterministic under crawler
    * re-deliveries sharing both.
    */
  private[graft] val DedupOrder = Seq(
    col("extracted_at").desc, col("sku").desc,
    col("current_price").desc_nulls_last,
    col("review_count").desc_nulls_last,
    col("sales_volume_acc").desc_nulls_last)

  /** clean → dedup-latest → null gate (the pre-split transform). Callers
    * cache the result before fanning out into the star split's three
    * consumers — an uncached plan could pick different duplicate winners
    * per action.
    */
  private[graft] def dedupedOf(raw: DataFrame): DataFrame =
    QualityChecks.dropNullKeys(
      Dedup.latestByKey(clean(raw), Seq("product_id"), DedupOrder),
      Seq("product_id", "current_price"))

  /** The star split with the reference's column partitioning
    * (transform_tiki.py:601-775) — shared by [[run]] and
    * [[graft.BaselineProbe]] so the timed transform chain cannot drift
    * from the shipped one.
    */
  private[graft] def splitOf(deduped: DataFrame): StarSchema.Split =
    StarSchema.split(deduped,
      factCols = Seq("snapshot_date", "product_id", "current_price",
        "original_price", "discount_rate", "sales_volume_acc", "review_count",
        "rating_average", "inventory_status", "tiki_now", "extracted_at"),
      dimKey = "product_id",
      dimCols = Seq("sku", "name", "brand_name", "image_url", "product_url",
        "seller_id", "seller_name", "category_id", "root_category_id",
        "category_depth"),
      catKey = "category_id",
      catCols = Seq("category_name", "root_category_id", "category_depth"),
      updatedAtCol = "extracted_at")

  def run(spark: SparkSession, rawZonePath: String, warehousePath: String,
          date: String): Result = {
    // Pre-load guard (load_to_bq.py:102, called before every load): an
    // empty or missing raw day must raise HERE, before the fact-partition
    // overwrite below could replace yesterday's good partition with nothing.
    graft.sources.SourceGuard.requireNonEmpty(
      spark, s"$rawZonePath/snapshot_date=$date", suffix = ".json")
    // explicit schema (round 21): schema INFERENCE is a second full JSON
    // parse of the day's raw zone before the real read — RawZone.read's
    // own scaladoc says to pass one in production, and the pipeline
    // already knows its schema (RawColumns is what clean() consumes;
    // unknown crawler fields are ignored exactly as clean() ignores
    // them, missing ones read as null exactly as the pad supplies them,
    // and RawZone.read appends _corrupt_record so the quarantine filter
    // below is unchanged)
    val rawSchema = org.apache.spark.sql.types.StructType(RawColumns.map {
      case (c, t) => org.apache.spark.sql.types.StructField(c,
        org.apache.spark.sql.types.DataType.fromDDL(t))
    })
    val rawAll = RawZone.read(spark, rawZonePath, schema = Some(rawSchema),
      date = Some(date))
    // the corrupt column only exists in the inferred schema if bad rows
    // were actually present
    val raw =
      if (rawAll.columns.contains("_corrupt_record"))
        rawAll.filter(col("_corrupt_record").isNull).drop("_corrupt_record")
      else rawAll

    // CACHED: the fact write, both dim merges, the count and the quality
    // report all consume the dedup result (see dedupedOf's contract)
    val deduped = dedupedOf(raw).cache()
    val split = splitOf(deduped)

    // idempotent daily fact write (load_to_bq.py WRITE_TRUNCATE per
    // partition); dims MERGE into the running tables (load_to_bq.py:273).
    // The fact row count rides this write through an Observation (round
    // 21) — previously a separate count() job over the cached dedup.
    val factObs = org.apache.spark.sql.Observation()
    CleanZone.writePartitioned(
      split.fact.observe(factObs, count(lit(1)).as("n")),
      s"$warehousePath/fact_daily_snapshot", Seq("snapshot_date"))
    val dimPath = s"$warehousePath/dim_products"
    val mergedDims = mergeInto(spark, dimPath, split.dimProducts,
      keys = Seq("product_id"), preserveCols = Seq("created_at"))
    val catPath = s"$warehousePath/dim_categories"
    val mergedCats = mergeInto(spark, catPath, split.dimCategories,
      keys = Seq("category_id"), keepCols = Seq("category_name"))

    // quality gate (analytics_dag.py ASSERT block) over today's fact rows
    val quality = QualityChecks.report(split.fact, Seq(
      QualityChecks.Check("invalid_price",
        col("current_price").isNull || col("current_price") <= 0),
      QualityChecks.Check("null_product_id", col("product_id").isNull),
      QualityChecks.Check("null_snapshot_date", col("snapshot_date").isNull)))

    val factRows = factObs.get("n").asInstanceOf[Long]
    // Snapshot the (tiny, aggregated) report before releasing the dedup
    // cache: a lazy report evaluated after unpersist would recompute the
    // dedup lineage and could gate DIFFERENT duplicate winners than the
    // ones actually written above.
    val qualityRows = quality.collect()
    val qualitySnap = spark.createDataFrame(
      java.util.Arrays.asList(qualityRows: _*), quality.schema)
    deduped.unpersist()
    Result(factRows, mergedDims, mergedCats, qualitySnap)
  }

  /** MERGE `delta` into the parquet table at `path` (create if absent)
    * through the shared [[graft.sources.Publish]] swap.
    */
  private def mergeInto(spark: SparkSession, path: String, delta: DataFrame,
                        keys: Seq[String], keepCols: Seq[String] = Nil,
                        preserveCols: Seq[String] = Nil): Long =
    TrendsPipeline.mergeParquet(spark, path, delta, keys, keepCols, preserveCols)
}
