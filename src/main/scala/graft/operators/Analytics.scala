package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The reference's 9 named analyses, re-expressed Spark-first over the
  * 31-column transaction schema ([[graft.core.Schemas.TransactionSchema]]).
  *
  * Parity target: com/pipeline/analytics/AnalysisAggregator.scala:14-285 —
  * same analysis names, grouping keys, aggregate column names, filters and
  * sort order. Two deliberate divergences, both documented:
  *
  *   1. '''Deterministic numerics.''' The reference sums/avgs raw doubles,
  *      which is partition-order-dependent (different cluster → last-ulp
  *      different results). Money aggregates here go through DECIMAL(18,4)
  *      partials ([[money]]) and are cast to double only at the output
  *      boundary, so results are bit-stable under any parallelism — required
  *      by the oracle harness and the right call on a 1000-executor cluster.
  *   2. '''No `round()` on derived ratios''' (reference rounds share/rate to
  *      2/4 dp at AnalysisAggregator.scala:113-118,216,282): Spark rounds
  *      HALF_UP, other engines HALF_EVEN; emitting the unrounded double is
  *      deterministic and loses nothing (rounding is presentation).
  *
  * All aggregates are algebraic (partial+final hash agg, map-side combine);
  * `countDistinct` is Spark's two-phase expand; `collect_set` only ever runs
  * on post-filter fraud rows (small). The one single-partition window (W1,
  * revenue share) operates on the ''aggregated'' groups (≤ thousands of
  * rows), never the fact table.
  */
object Analytics {

  /** Exact money view: doubles in the corpus are exact ≤2-dp values, so the
    * DECIMAL(18,4) cast is lossless; decimal inputs pass through. */
  private def money(c: Column): Column = c.cast(DecimalType(18, 4))

  /** Deterministic average of a money column (exact sum / count). */
  private def avgMoney(c: Column): Column =
    sum(money(c)).cast("double") / count(c).cast("double")

  /** Deterministic average of a small exact-2dp column (discounts, scores). */
  private def avgSmall(c: Column): Column =
    sum(c.cast(DecimalType(18, 4))).cast("double") / count(c).cast("double")

  private def completed(df: DataFrame): DataFrame =
    df.filter(col("transaction_status") === "completed")

  /** A1 — revenue_by_category. Ref: AnalysisAggregator.scala:68-80. */
  def revenueByCategory(df: DataFrame): DataFrame =
    completed(df)
      .groupBy("category")
      .agg(
        sum(money(col("total_amount"))).cast("double").as("total_revenue"),
        avgMoney(col("total_amount")).as("avg_order_value"),
        count("transaction_id").as("transaction_count"),
        sum("quantity").as("total_units_sold"),
        avgSmall(col("discount_percent")).as("avg_discount_pct"),
        countDistinct("customer_id").as("unique_customers"))
      .orderBy(desc("total_revenue"))

  /** A2 — revenue_by_region (region × city; countDistinct skips null
    * store_id for digital channels). Ref: AnalysisAggregator.scala:86-97. */
  def revenueByRegionAndCity(df: DataFrame): DataFrame =
    completed(df)
      .groupBy("region", "city")
      .agg(
        sum(money(col("total_amount"))).cast("double").as("total_revenue"),
        count("transaction_id").as("transaction_count"),
        avgMoney(col("total_amount")).as("avg_order_value"),
        countDistinct("store_id").as("active_stores"),
        countDistinct("customer_id").as("unique_customers"))
      .orderBy(desc("total_revenue"))

  /** A3 — payment_analysis with grand-total revenue share. The share uses
    * the reference's empty-frame window (W1) — single-partition exchange,
    * but over post-agg groups only. Ref: AnalysisAggregator.scala:103-121. */
  def paymentMethodAnalysis(df: DataFrame): DataFrame =
    completed(df)
      .groupBy("payment_method", "card_network")
      .agg(
        count("transaction_id").as("transaction_count"),
        sum(money(col("total_amount"))).as("rev_dec"),
        avgMoney(col("total_amount")).as("avg_transaction_value"),
        countDistinct("customer_id").as("unique_customers"))
      .withColumn("revenue_share_pct",
        (col("rev_dec") * 100).cast("double") /
          // unpartitioned window, bounded: one row per method × network
          sum(col("rev_dec")).over(Window.partitionBy()).cast("double"))
      .withColumn("total_revenue", col("rev_dec").cast("double"))
      .drop("rev_dec")
      .orderBy(desc("transaction_count"))

  /** A4 — customer_segmentation: per-customer metrics + CASE-chain segment
    * label (vip/high_value/mid_value/one_time/low_value).
    * Ref: AnalysisAggregator.scala:127-155. */
  def customerSegmentation(df: DataFrame): DataFrame =
    completed(df)
      .groupBy("customer_id", "customer_tier")
      .agg(
        sum(money(col("total_amount"))).as("ltv_dec"),
        count("transaction_id").as("total_transactions"),
        avgMoney(col("total_amount")).as("avg_order_value"),
        max("event_timestamp").as("last_purchase_date"),
        min("event_timestamp").as("first_purchase_date"),
        countDistinct("category").as("category_diversity"),
        sum(when(col("channel") === "mobile_app", 1).otherwise(0)).as("mobile_orders"),
        sum(when(col("channel") === "web", 1).otherwise(0)).as("web_orders"),
        sum(when(col("channel") === "pos_in_store", 1).otherwise(0)).as("instore_orders"))
      .withColumn("segment",
        when(col("ltv_dec") >= 10000, "vip")
          .when(col("ltv_dec") >= 5000, "high_value")
          .when(col("ltv_dec") >= 1000, "mid_value")
          .when(col("total_transactions") === 1, "one_time")
          .otherwise("low_value"))
      .withColumn("lifetime_value", col("ltv_dec").cast("double"))
      .drop("ltv_dec")
      .orderBy(desc("lifetime_value"))

  /** A5 — fraud_analysis. Null-semantics: rows with null `is_fraudulent`
    * pass only via the score branch. `affected_cities` is emitted as a
    * sorted comma-joined string (the reference's raw `collect_set` array is
    * order-nondeterministic). Ref: AnalysisAggregator.scala:161-176. */
  def fraudDetectionAnalysis(df: DataFrame): DataFrame =
    df.filter(col("is_fraudulent") === true || col("fraud_score") > 0.7)
      .groupBy("category", "region", "channel", "payment_method")
      .agg(
        count("transaction_id").as("fraud_count"),
        sum(money(col("total_amount"))).cast("double").as("fraud_total_amount"),
        avgSmall(col("fraud_score")).as("avg_fraud_score"),
        avgMoney(col("total_amount")).as("avg_fraud_amount"),
        countDistinct("customer_id").as("affected_customers"),
        array_join(sort_array(collect_set(col("city"))), ",").as("affected_cities"))
      .orderBy(desc("fraud_count"))

  /** A6 — hourly_trends (derived event_date/event_hour keys).
    * Ref: AnalysisAggregator.scala:182-195. */
  def hourlyTrendAnalysis(df: DataFrame): DataFrame =
    completed(df)
      .withColumn("event_date", to_date(col("event_timestamp")))
      .withColumn("event_hour", hour(col("event_timestamp")))
      .groupBy("event_date", "event_hour")
      .agg(
        count("transaction_id").as("transaction_count"),
        sum(money(col("total_amount"))).cast("double").as("hourly_revenue"),
        avgMoney(col("total_amount")).as("avg_order_value"),
        countDistinct("customer_id").as("unique_customers"),
        sum("quantity").as("units_sold"))
      .orderBy("event_date", "event_hour")

  /** A7 — channel_performance with fraud-rate ratio.
    * Ref: AnalysisAggregator.scala:201-219. */
  def channelPerformance(df: DataFrame): DataFrame =
    completed(df)
      .groupBy("channel")
      .agg(
        count("transaction_id").as("transaction_count"),
        sum(money(col("total_amount"))).cast("double").as("total_revenue"),
        avgMoney(col("total_amount")).as("avg_order_value"),
        countDistinct("customer_id").as("unique_customers"),
        avgSmall(col("discount_percent")).as("avg_discount"),
        sum(when(col("is_fraudulent") === true, 1).otherwise(0)).as("fraud_count"),
        avgSmall(col("fraud_score")).as("avg_fraud_score"))
      .withColumn("fraud_rate_pct",
        col("fraud_count").cast("double") / col("transaction_count").cast("double") * 100)
      .orderBy(desc("total_revenue"))

  /** A8 — realtime dashboard: sliding-window streaming aggregation. Valid on
    * a streaming OR batch DataFrame (watermark is a no-op in batch — used by
    * the oracle-checked batch replay). Ref: AnalysisAggregator.scala:225-250. */
  def realtimeDashboard(df: DataFrame): DataFrame =
    df.filter(col("transaction_status").isin("completed", "pending"))
      .withWatermark("event_timestamp", "10 minutes")
      .groupBy(window(col("event_timestamp"), "5 minutes", "1 minute"), col("category"))
      .agg(
        count("transaction_id").as("txn_count"),
        sum(money(col("total_amount"))).cast("double").as("window_revenue"),
        avgMoney(col("total_amount")).as("avg_order_value"),
        sum(when(col("is_fraudulent") === true, 1).otherwise(0)).as("fraud_alerts"),
        approx_count_distinct("customer_id").as("approx_unique_customers"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("category"), col("txn_count"), col("window_revenue"),
        col("avg_order_value"), col("fraud_alerts"), col("approx_unique_customers"))

  /** A9 — inventory_velocity: 5-key product rollup + daily velocity.
    * Ref: AnalysisAggregator.scala:256-285. */
  def inventoryVelocity(df: DataFrame): DataFrame =
    completed(df)
      .groupBy("product_id", "product_name", "category", "sub_category", "brand")
      .agg(
        sum("quantity").as("total_units_sold"),
        count("transaction_id").as("order_count"),
        sum(money(col("total_amount"))).cast("double").as("total_revenue"),
        avgMoney(col("unit_price")).as("avg_selling_price"),
        avgSmall(col("discount_percent")).as("avg_discount"),
        countDistinct("region").as("regions_sold_in"),
        countDistinct("store_id").as("stores_sold_in"),
        min("event_timestamp").as("first_sale"),
        max("event_timestamp").as("last_sale"))
      .withColumn("days_in_range",
        (datediff(col("last_sale"), col("first_sale")) + 1).cast("long"))
      .withColumn("daily_velocity",
        col("total_units_sold").cast("double") / col("days_in_range").cast("double"))
      .orderBy(desc("daily_velocity"))

  /** A11 — global summary stats (seeder self-check analog).
    * Ref: scripts/delta_lake_seeder.py:628-645. */
  def summaryStats(df: DataFrame): DataFrame =
    df.agg(
      count(lit(1)).as("n_rows"),
      min("event_timestamp").as("min_ts"),
      max("event_timestamp").as("max_ts"),
      avgMoney(col("total_amount")).as("avg_amount"),
      avgSmall(col("is_fraudulent").cast("int")).as("fraud_rate"),
      countDistinct("customer_id").as("n_customers"))

  // ------------------------------------------------------------- dispatcher

  val validAnalysisTypes: Set[String] = Set(
    "revenue_by_category", "revenue_by_region", "payment_analysis",
    "customer_segmentation", "fraud_analysis", "hourly_trends",
    "channel_performance", "inventory_velocity", "full_report")

  private val single: Map[String, DataFrame => DataFrame] = Map(
    "revenue_by_category" -> revenueByCategory,
    "revenue_by_region" -> revenueByRegionAndCity,
    "payment_analysis" -> paymentMethodAnalysis,
    "customer_segmentation" -> customerSegmentation,
    "fraud_analysis" -> fraudDetectionAnalysis,
    "hourly_trends" -> hourlyTrendAnalysis,
    "channel_performance" -> channelPerformance,
    "inventory_velocity" -> inventoryVelocity)

  /** String-dispatched analysis runner; `full_report` fans out to all 8.
    * Throws IllegalArgumentException on unknown type (same contract as
    * AnalysisAggregator.scala:14-50). */
  def runAnalysis(df: DataFrame, analysisType: String): Map[String, DataFrame] =
    analysisType match {
      case "full_report" => single.map { case (k, f) => k -> f(df) }
      case t if single.contains(t) => Map(t -> single(t)(df))
      case other => throw new IllegalArgumentException(s"Unknown analysisType: $other")
    }
}
