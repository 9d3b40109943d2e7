package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.{FxRates, GoldenJoin, Melt, QualityChecks, Upsert}
import graft.sources.{Publish, TrendsCsv}

/** The reference's remaining DAGs as composed library calls (trends_dag,
  * fx_rate_dag, analytics_dag). Together with [[TikiDailyPipeline]] these
  * four cover every workflow the reference schedules.
  */
object TrendsPipeline {

  /** trends_dag: wide CSV → melt → "<1"/null cleaning → dedup-aggregate →
    * staging MERGE into the running fact table on (date, keyword).
    * Returns the merged table row count.
    */
  def run(spark: SparkSession, csvPath: String, tablePath: String): Long = {
    val wide = TrendsCsv.read(spark, csvPath)
    val partialCol = wide.columns.find(_.equalsIgnoreCase("isPartial"))
    val keywords = wide.columns
      .filterNot(c => c == "date" || partialCol.contains(c))
    val withPartial = partialCol match {
      case Some(c) => wide.withColumnRenamed(c, "is_partial")
      case None => wide.withColumn("is_partial", lit(false))
    }
    val long = Melt.wideToLong(
      withPartial.withColumn("date", col("date").cast("string")),
      Seq("date", "is_partial"), keywords.map(k => k -> k).toSeq,
      varName = "keyword", valueName = "score_text", valueType = "string")
    val cleaned = long
      .withColumn("score",
        coalesce(regexp_replace(col("score_text"), "<1", "0").cast("long"), lit(0L)))
      .groupBy("date", "keyword")
      .agg(max("score").as("score"), max("is_partial").as("is_partial"))
      .withColumn("date", to_date(col("date")))
    mergeParquet(spark, tablePath, cleaned, Seq("date", "keyword"))
  }

  private[pipelines] def mergeParquet(spark: SparkSession, path: String,
                                      delta: DataFrame, keys: Seq[String],
                                      keepCols: Seq[String] = Nil,
                                      preserveCols: Seq[String] = Nil): Long = {
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Crash/rerun recovery BEFORE deciding between merge-vs-fresh: a
    // crashed swap can leave the merged history only in the retired dir,
    // and a rerun that saw no target would rebuild from today's delta alone
    Publish.recover(fs, target)
    val merged =
      if (fs.exists(target))
        Upsert.merge(spark.read.parquet(path), delta, keys, keepCols, preserveCols)
      else delta
    // the returned row count rides the staging WRITE through an
    // Observation (round 21) instead of a post-swap read-back count()
    // job: the write already evaluates every merged row, and the table
    // it swaps in IS the merged frame, so the observed count equals the
    // old re-read count — one job per merge instead of two (q105 alone
    // drives 15 sequential merges)
    val obs = org.apache.spark.sql.Observation()
    Publish.replace(fs, target)(staging =>
      merged.observe(obs, count(lit(1)).as("n")).write.parquet(staging.toString))
    obs.get("n").asInstanceOf[Long]
  }
}

object FxPipeline {

  /** fx_rate_dag: one validated daily rate row appended/merged into the
    * dim_exchange_rate table (transform_fx_rate.py schema; source records
    * whether the fetch succeeded or the fallback applied).
    */
  def run(spark: SparkSession, rate: Option[Double], date: String,
          tablePath: String): Long = {
    import spark.implicits._
    val effective = rate.getOrElse(FxRates.FallbackRate)
    require(effective > 0, s"invalid fx rate: $effective")
    val row = Seq((date, "USD", "VND", effective,
      if (rate.isDefined) "open.er-api.com" else "Fallback"))
      .toDF("date", "from_currency", "to_currency", "rate", "source")
      .withColumn("date", to_date(col("date")))
    TrendsPipeline.mergeParquet(spark, tablePath, row,
      Seq("date", "from_currency", "to_currency"))
  }
}

object AnalyticsPipeline {

  /** analytics_dag: the daily Golden Join mart build — fact ⋈ dims ⋈
    * keyword-map ⋈ trends ⋈ fx, USD normalization with fallback, trend
    * CASE, one day per run, idempotent via dynamic partition overwrite
    * (the reference's delete-write). Returns the mart rows for the day
    * and the quality report (analytics_dag.py:172 ASSERT block).
    */
  def run(spark: SparkSession, warehousePath: String, date: String,
          keywordMap: DataFrame): (Long, DataFrame) = {
    import GoldenJoin.Dim
    val fact = spark.read.parquet(s"$warehousePath/fact_daily_snapshot")
      .filter(col("snapshot_date") === lit(date))
    val dims = spark.read.parquet(s"$warehousePath/dim_products")
      .select(col("product_id").as("dim_product_id"),
        col("name").as("product_name"), col("category_id"))
    val cats = spark.read.parquet(s"$warehousePath/dim_categories")
      .withColumnRenamed("category_id", "cat_category_id")
      .select("cat_category_id", "category_name")
    val trends = spark.read.parquet(s"$warehousePath/fact_google_trends")
      .withColumnRenamed("date", "trend_date")
    val fx = spark.read.parquet(s"$warehousePath/dim_exchange_rate")
      .filter(col("from_currency") === "USD" && col("to_currency") === "VND")
      .select(col("date").as("fx_date"), col("rate").cast(DecimalType(18, 2)).as("rate"))

    val enriched = GoldenJoin.leftEnrich(fact, Seq(
      Dim(dims, (f, d) => f("product_id") === d("dim_product_id"), hint = "shuffle"),
      Dim(cats, (f, d) => f("category_id") === d("cat_category_id")),
      Dim(keywordMap, (f, d) => f("category_id") === d("tiki_category_id") &&
        d("is_active") === true),
      Dim(trends, (f, d) => f("trend_keyword") === d("keyword") &&
        f("snapshot_date") === d("trend_date")),
      Dim(fx, (f, d) => f("snapshot_date") === d("fx_date"))))

    val mart = FxRates
      .usdPrice(enriched, col("current_price"), col("rate"), "price_usd_real")
      .select(
        col("snapshot_date").as("date"),
        col("product_id").cast("string").as("product_id"),
        col("product_name"), col("category_name"),
        col("current_price").cast("double").as("price_vnd_real"),
        col("original_price").cast("double").as("price_vnd_list"),
        col("discount_rate").cast("double").as("discount_percentage"),
        col("price_usd_real"),
        coalesce(col("rate").cast("double"), lit(FxRates.FallbackRate)).as("fx_rate"),
        col("trend_keyword"),
        col("score").cast("long").as("google_trend_score"),
        when(col("trend_keyword").isNull, "Unmapped")
          .when(col("score").isNull, "No Trend Data")
          .otherwise("Full Data").as("trend_signal_status"))

    graft.sources.CleanZone.writePartitioned(mart,
      s"$warehousePath/analytics_product_market_daily", Seq("date"))

    val quality = QualityChecks.report(mart, Seq(
      QualityChecks.Check("invalid_price", col("price_vnd_real") <= 0),
      QualityChecks.Check("null_product_id", col("product_id").isNull),
      QualityChecks.Check("null_fx_rate", col("fx_rate").isNull),
      QualityChecks.Check("unrealistic_usd_price", col("price_usd_real") > 100000),
      // reference Check 4 + Check 6 (analytics_dag.py:204,222): the ">0"
      // polarity — a day that inserts nothing, or maps no trend data at
      // all, must fail the gate even though it has zero bad rows
      QualityChecks.Check.atLeast("rows_inserted", lit(true)),
      QualityChecks.Check.atLeast("has_trend_data",
        col("trend_signal_status") === "Full Data")))
    (mart.count(), quality)
  }
}
