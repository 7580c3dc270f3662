package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryModule
import graft.core.{Ora, Tables}

/** Relational operator surface over the TPC-H-ish corpus.
  *
  * Covers SURVEY.md §2 rows P1-P7 (filters/projections), §2.3 joins (the
  * reference has none — declared extensions over the classic join graph),
  * A1/A11-style aggregations, W1/W2 windows, O1-O3 sorts/limits, §2.7 set ops,
  * and cube/rollup/top-k extensions.
  *
  * Scale notes (100 TB):
  *   - dimension joins (`region`,`nation`,`customer` vs `lineitem`) are
  *     explicitly `broadcast()` — no shuffle of the fact side;
  *   - fact-fact joins (`lineitem` ⋈ `orders`) are left to Catalyst's
  *     sort-merge + AQE (skew-split, local shuffle reader);
  *   - all aggregates are algebraic (partial+final hash agg, map-side
  *     combine) — no `collect_list`-style holistic aggs on the fact table;
  *   - grand-total shares use a scalar-subquery cross join, not a
  *     single-partition window, when the group count could be large
  *     (here group counts are tiny, so W1's empty-frame window is kept
  *     on one query to exercise that operator too);
  *   - pagination is stable-key ordered limit/offset, never a driver-side
  *     collect (fixes reference anti-pattern `BatchRoutes.scala:149,221`).
  *
  * Numeric discipline: see [[graft.core.Ora]] — DECIMAL(18,2) sums cast back
  * to double at the boundary so the DuckDB oracle is bit-identical.
  */
object RelationalQueries extends QueryModule {

  private def li(s: SparkSession, d: String) = Tables.lineitem(s, d)
  private def ord(s: SparkSession, d: String) = Tables.orders(s, d)

  import Ora.{dec2, avgExact}

  // ---------------------------------------------------------------- queries

  /** TPC-H Q1-style pricing summary (reference A1 analog: the flagship
    * groupBy/agg with sum/avg/count/countDistinct, desc sort).
    * Ref: AnalysisAggregator.scala:68-80. */
  def pricingSummary(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-01").cast("date"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec2(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(dec2(col("l_extendedprice")) * (lit(1).cast("decimal(18,2)") - dec2(col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        avgExact(col("l_quantity")).as("avg_qty"),
        avgExact(col("l_extendedprice")).as("avg_price"),
        count(lit(1)).as("count_order"),
        countDistinct(col("l_orderkey")).as("distinct_orders"))

  /** P1: equality filter on an enum column, pushed to the parquet scan. */
  def filterEq(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_returnflag"))

  /** P3: set-membership predicate. Ref: AnalysisAggregator.scala:226. */
  def filterIn(s: SparkSession, d: String): DataFrame =
    ord(s, d)
      .filter(col("o_orderstatus").isin("F", "P"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(dec2(col("o_totalprice"))).cast("double").as("total"))

  /** P4: inclusive date-range predicate on the natural partition column —
    * at scale this is the partition-pruning path. Ref: BatchJob.scala:47. */
  def filterDateRange(s: SparkSession, d: String): DataFrame =
    ord(s, d)
      .filter(col("o_orderdate").cast("date").between(
        lit("1996-01-01").cast("date"), lit("1996-12-31").cast("date")))
      .groupBy(col("o_orderdate").cast("date").cast("string").as("order_date"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec2(col("o_totalprice"))).cast("double").as("day_total"))

  /** P2: disjunctive predicate (OR across columns).
    * Ref: AnalysisAggregator.scala:162-163. */
  def filterDisjunct(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .filter(col("l_discount") >= 0.09 || col("l_tax") <= 0.01)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(dec2(col("l_extendedprice"))).cast("double").as("price_sum"))

  /** P5: dynamic AND-ed equality filters folded from a request map (the
    * reference's user-supplied filter path, BatchJob.scala:50-54) — here with
    * a fixed exemplar map so the oracle can mirror it. */
  def filterDynamic(s: SparkSession, d: String): DataFrame = {
    val filters = Map("l_returnflag" -> "A", "l_linestatus" -> "F")
    val base = li(s, d)
    filters.foldLeft(base) { case (df, (k, v)) => df.filter(col(k) === v) }
      .agg(count(lit(1)).as("n"),
        sum(dec2(col("l_quantity"))).cast("double").as("qty"))
  }

  /** P6/P7: derived-column projection (to_date-style derivations).
    * Ref: StreamingJob.scala:41-42. */
  def projectDerived(s: SparkSession, d: String): DataFrame =
    ord(s, d)
      .withColumn("order_year", year(col("o_orderdate")).cast("long"))
      .withColumn("order_month", month(col("o_orderdate")).cast("long"))
      .groupBy("order_year", "order_month")
      .agg(count(lit(1)).as("n"),
        avgExact(col("o_totalprice")).as("avg_price"))

  /** Broadcast dimension join chain: customer ⋈ nation ⋈ region rolled up to
    * revenue by region/nation. All dims are broadcast — zero fact shuffle
    * until the aggregation. */
  def joinBroadcastDims(s: SparkSession, d: String): DataFrame = {
    val cust = Tables.customer(s, d)
    val nat = broadcast(Tables.nation(s, d))
    val reg = broadcast(Tables.region(s, d))
    ord(s, d)
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(nat, col("c_nationkey") === col("n_nationkey"))
      .join(reg, col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("region"), col("n_name").as("nation"))
      .agg(
        sum(dec2(col("o_totalprice"))).cast("double").as("revenue"),
        count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"))
  }

  /** Fact-fact sort-merge join (lineitem ⋈ orders) with post-join agg —
    * Catalyst plans SMJ; AQE handles skew at scale. */
  def joinFactFact(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .join(ord(s, d), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus", "l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(dec2(col("l_extendedprice"))).cast("double").as("price_sum"))

  /** Left outer join keeping customers with zero orders (null-extension). */
  def joinLeftOuter(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(ord(s, d), col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_mktsegment")
      .agg(count(col("o_orderkey")).as("n_orders"),
        countDistinct(col("c_custkey")).as("n_customers"),
        count(when(col("o_orderkey").isNull, 1)).as("n_orderless_rows"))

  /** Left-semi join: customers having at least one 'F' order. */
  def joinSemi(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(ord(s, d).filter(col("o_orderstatus") === "F"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_customers"),
        sum(dec2(col("c_acctbal"))).cast("double").as("acctbal_sum"))

  /** Left-anti join: customers with no 'P'-status order (every customer has
    * SOME order at this corpus density, so the anti-set must be non-empty —
    * a 0-row anti join would be a vacuous check). */
  def joinAnti(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .join(ord(s, d).filter(col("o_orderstatus") === "P"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_customers"))

  /** TPC-H Q3-style: 3-way join, filter, agg, top-k with a unique tiebreak
    * (orderBy + limit → Spark TakeOrderedAndProject, no global sort). */
  def topRevenueOrders(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      .join(ord(s, d), col("c_custkey") === col("o_custkey"))
      .join(li(s, d), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate").cast("date").cast("string").as("order_date"))
      .agg(sum(dec2(col("l_extendedprice")) *
          (lit(1).cast("decimal(18,2)") - dec2(col("l_discount"))))
        .cast("double").as("revenue"))
      .orderBy(desc("revenue"), col("l_orderkey"))
      .limit(10)

  /** W1: grand-total share via an empty-frame window (single-partition
    * exchange — acceptable only on post-agg group counts; kept to exercise
    * the operator the reference uses, AnalysisAggregator.scala:112-119). */
  def windowShare(s: SparkSession, d: String): DataFrame = {
    val agg = ord(s, d)
      .groupBy("o_orderpriority")
      .agg(sum(dec2(col("o_totalprice"))).as("rev_dec"),
        count(lit(1)).as("n_orders"))
    agg
      .withColumn("revenue", col("rev_dec").cast("double"))
      .withColumn("revenue_share_pct",
        (col("rev_dec") * lit(100)).cast("double") /
          // unpartitioned window, bounded: one row per priority (5)
          sum(col("rev_dec")).over(Window.partitionBy()).cast("double"))
      .select("o_orderpriority", "revenue", "n_orders", "revenue_share_pct")
  }

  /** W2: row_number pagination over a stable unique key — the spec'd
    * (AGENTS.md:1149-1155) replacement for the reference's driver-side
    * collect pagination. Page 3 of size 50. */
  def rowNumberPagination(s: SparkSession, d: String): DataFrame =
    ord(s, d)
      .withColumn("rn", row_number().over(Window.orderBy(col("o_orderkey"))))
      .filter(col("rn") > 100 && col("rn") <= 150)
      .select(col("o_orderkey"), col("rn").cast("long").as("rn"),
        col("o_orderstatus"), col("o_totalprice"))

  /** Ranking window per group: top-3 orders per priority by price, unique
    * tiebreak on key so the result is deterministic. */
  def rankPerGroup(s: SparkSession, d: String): DataFrame =
    ord(s, d)
      .withColumn("rk", row_number().over(Window
        .partitionBy(col("o_orderpriority"))
        .orderBy(desc("o_totalprice"), col("o_orderkey"))))
      .filter(col("rk") <= 3)
      .select(col("o_orderpriority"), col("rk").cast("long").as("rk"),
        col("o_orderkey"), col("o_totalprice"))

  /** lag/lead over an ordered unique key (month series): month-over-month
    * revenue delta. */
  def lagLeadDelta(s: SparkSession, d: String): DataFrame = {
    val monthly = ord(s, d)
      .groupBy(year(col("o_orderdate")).cast("long").as("y"),
        month(col("o_orderdate")).cast("long").as("m"))
      .agg(sum(dec2(col("o_totalprice"))).as("rev_dec"))
    // unpartitioned window, bounded: one row per order month (~80)
    val w = Window.orderBy(col("y"), col("m"))
    monthly
      .withColumn("revenue", col("rev_dec").cast("double"))
      .withColumn("prev_revenue", lag(col("rev_dec"), 1).over(w).cast("double"))
      .withColumn("delta", (col("rev_dec") - lag(col("rev_dec"), 1).over(w)).cast("double"))
      .select("y", "m", "revenue", "prev_revenue", "delta")
  }

  /** Rolling window frame (rowsBetween): 3-month trailing average revenue. */
  def rollingFrame(s: SparkSession, d: String): DataFrame = {
    val monthly = ord(s, d)
      .groupBy(year(col("o_orderdate")).cast("long").as("y"),
        month(col("o_orderdate")).cast("long").as("m"))
      .agg(sum(dec2(col("o_totalprice"))).as("rev_dec"))
    // unpartitioned window, bounded: one row per order month (~80)
    val w = Window.orderBy(col("y"), col("m")).rowsBetween(-2, 0)
    monthly
      .withColumn("revenue", col("rev_dec").cast("double"))
      .withColumn("trailing3_avg",
        sum(col("rev_dec")).over(w).cast("double") /
          count(lit(1)).over(w).cast("double"))
      .select("y", "m", "revenue", "trailing3_avg")
  }

  /** cube(): all grouping-set combinations with grouping flags. */
  def cubeAgg(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        sum(dec2(col("l_quantity"))).cast("double").as("qty"),
        grouping(col("l_returnflag")).cast("long").as("g_rf"),
        grouping(col("l_linestatus")).cast("long").as("g_ls"))

  /** rollup() over the region→nation hierarchy. */
  def rollupAgg(s: SparkSession, d: String): DataFrame = {
    val nat = broadcast(Tables.nation(s, d))
    val reg = broadcast(Tables.region(s, d))
    Tables.customer(s, d)
      .join(nat, col("c_nationkey") === col("n_nationkey"))
      .join(reg, col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name").as("region"), col("n_name").as("nation"))
      .agg(count(lit(1)).as("n_customers"),
        sum(dec2(col("c_acctbal"))).cast("double").as("acctbal_sum"))
  }

  /** Set ops: UNION ALL / INTERSECT / EXCEPT (distinct semantics on both
    * engines), tagged and re-aggregated into one deterministic result. */
  def setOps(s: SparkSession, d: String): DataFrame = {
    val f = ord(s, d).filter(col("o_orderstatus") === "F").select("o_custkey")
    val p = ord(s, d).filter(col("o_orderstatus") === "P").select("o_custkey")
    val union = f.union(p).agg(count(lit(1)).as("n")).withColumn("op", lit("union_all"))
    val inter = f.intersect(p).agg(count(lit(1)).as("n")).withColumn("op", lit("intersect"))
    val except = f.except(p).agg(count(lit(1)).as("n")).withColumn("op", lit("except"))
    union.unionByName(inter).unionByName(except).select("op", "n")
  }

  /** Projected DISTINCT (exact dedup on a column subset). */
  def distinctProjection(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .select("l_returnflag", "l_linestatus")
      .distinct()

  /** A11: keyless global aggregation (seeder summary stats analog). */
  def globalAgg(s: SparkSession, d: String): DataFrame =
    li(s, d).agg(
      count(lit(1)).as("n"),
      sum(dec2(col("l_extendedprice"))).cast("double").as("price_sum"),
      avgExact(col("l_quantity")).as("avg_qty"),
      min(col("l_shipdate").cast("date")).cast("string").as("min_ship"),
      max(col("l_shipdate").cast("date")).cast("string").as("max_ship"),
      countDistinct(col("l_partkey")).as("n_parts"))

  /** O3: stable-keyed offset/limit pagination (Spark ≥3.4 `offset`). */
  def offsetLimit(s: SparkSession, d: String): DataFrame =
    ord(s, d)
      .orderBy("o_orderkey")
      .offset(200)
      .limit(25)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))

  /** Scalar-subquery correlated-style filter: orders above the global average
    * price (subquery decorrelation / cross-join of a scalar agg — the
    * scale-safe alternative to W1's single-partition window). */
  def aboveAvgOrders(s: SparkSession, d: String): DataFrame = {
    val o = ord(s, d)
    val stats = o.agg(avgExact(col("o_totalprice")).as("global_avg"))
    o.join(broadcast(stats))
      .filter(col("o_totalprice") > col("global_avg") * 1.8)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        sum(dec2(col("o_totalprice"))).cast("double").as("total"))
  }

  /** Exact percentiles (median/p90) per group — `percentile` (exact linear
    * interpolation, matching DuckDB quantile_cont), not the sketch-based
    * approx_percentile (engine-specific, bench-only). */
  def percentiles(s: SparkSession, d: String): DataFrame =
    ord(s, d)
      .groupBy("o_orderpriority")
      .agg(
        expr("percentile(o_totalprice, 0.5)").as("median_price"),
        expr("percentile(o_totalprice, 0.9)").as("p90_price"),
        count(lit(1)).as("n"))

  /** Pivot: order status columns per priority (fixed pivot values keep the
    * output schema static — required at scale anyway: dynamic pivot does a
    * driver-side distinct scan first). */
  def pivotStatus(s: SparkSession, d: String): DataFrame =
    ord(s, d)
      .groupBy("o_orderpriority")
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(sum(dec2(col("o_totalprice"))).cast("double"))
      .withColumnsRenamed(Map("F" -> "rev_f", "O" -> "rev_o", "P" -> "rev_p"))

  /** Bag-semantics set ops: UNION ALL / EXCEPT ALL / INTERSECT ALL row
    * counts over order-status key multisets. */
  def setOpsAll(s: SparkSession, d: String): DataFrame = {
    val f = ord(s, d).filter(col("o_orderstatus") =!= "O").select("o_custkey")
    val p = ord(s, d).filter(col("o_totalprice") > 100000.0).select("o_custkey")
    val ua = f.unionAll(p).agg(count(lit(1)).as("n")).withColumn("op", lit("union_all"))
    val ea = f.exceptAll(p).agg(count(lit(1)).as("n")).withColumn("op", lit("except_all"))
    val ia = f.intersectAll(p).agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all"))
    ua.unionByName(ea).unionByName(ia).select("op", "n")
  }

  /** Null-handling operators: null-safe equality (<=>), coalesce, nullif —
    * over the nullable card_network-style derived column. */
  def nullHandling(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .withColumn("maybe_status",
        when(col("l_linenumber") % 3 === 0, col("l_linestatus")))
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("maybe_status") <=> lit(null), 1).otherwise(0)).as("n_null_safe_eq_null"),
        sum(when(col("maybe_status") <=> col("l_linestatus"), 1).otherwise(0)).as("n_null_safe_eq_status"),
        count(coalesce(col("maybe_status"), lit("missing"))).as("n_coalesced"),
        count(nullif(col("l_linestatus"), lit("F"))).as("n_not_f"))

  /** Skew-resistant two-phase aggregation (salting): pre-aggregate on
    * (key, salt), then merge per key. Algebraically identical to a direct
    * groupBy — the oracle proves it — and the pattern that breaks hot-key
    * shuffle skew at 100 TB (AQE's skew handling covers joins; salting
    * covers aggregation fan-in). Salt derives from a stable row attribute
    * so the plan stays deterministic. */
  def saltedAgg(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .withColumn("salt", col("l_orderkey") % 16)
      .groupBy("l_returnflag", "salt")
      .agg(
        sum(dec2(col("l_quantity"))).as("qty_dec"),
        count(lit(1)).as("cnt"))
      .groupBy("l_returnflag")
      .agg(
        sum(col("qty_dec")).cast("double").as("total_qty"),
        sum(col("cnt")).as("n"))

  /** Distribution window functions: ntile / percent_rank / cume_dist over a
    * per-status price ordering with a unique tiebreak (o_orderkey) so every
    * rank — and therefore every derived double — is deterministic. Windows
    * are computed over the FULL table, then sampled for output size. */
  def windowDistribution(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("o_orderstatus")
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    ord(s, d)
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .withColumn("pct_rank", percent_rank().over(w))
      .withColumn("cume", cume_dist().over(w))
      .filter(col("o_orderkey") % 100 === 0)
      .select("o_orderkey", "o_orderstatus", "o_totalprice",
        "quartile", "pct_rank", "cume")
  }

  /** Explicit GROUPING SETS (beyond cube/rollup): chosen combinations only —
    * (status, priority), (status), and grand total. */
  def groupingSetsAgg(s: SparkSession, d: String): DataFrame =
    ord(s, d)
      .groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
          Seq(col("o_orderstatus")), Seq.empty),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(dec2(col("o_totalprice"))).cast("double").as("total"),
        grouping(col("o_orderstatus")).cast("long").as("g_status"),
        grouping(col("o_orderpriority")).cast("long").as("g_priority"))

  /** String-function surface: case mapping, substring, concat, pad, trim,
    * length, LIKE, regexp extraction — grouped so the output is compact. */
  def stringFuncs(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .withColumn("adj", regexp_extract(col("p_name"), "^(\\w+)", 1))
      .groupBy(col("p_type").as("p_type"))
      .agg(
        count(lit(1)).as("n"),
        min(upper(col("p_name"))).as("first_name_up"),
        max(concat(col("p_brand"), lit(":"), lower(col("p_type")))).as("max_brand_type"),
        sum(length(col("p_name"))).as("name_chars"),
        count(when(col("p_name").like("%widget%"), 1)).as("n_widget"),
        min(lpad(col("p_brand"), 10, "_")).as("brand_padded"),
        max(trim(lit("  x  "))).as("trimmed"),
        countDistinct(col("adj")).as("n_adjectives"))

  /** Datetime-function surface: component extraction, truncation,
    * calendar arithmetic — row-level on a sampled key so each function's
    * raw output is oracle-visible. */
  def datetimeFuncs(s: SparkSession, d: String): DataFrame =
    ord(s, d)
      .filter(col("o_orderkey") % 200 === 0)
      .select(
        col("o_orderkey"),
        col("o_orderdate").cast("date").cast("string").as("order_date"),
        year(col("o_orderdate")).cast("long").as("y"),
        quarter(col("o_orderdate")).cast("long").as("q"),
        month(col("o_orderdate")).cast("long").as("m"),
        dayofmonth(col("o_orderdate")).cast("long").as("dom"),
        dayofweek(col("o_orderdate")).cast("long").as("dow"),
        dayofyear(col("o_orderdate")).cast("long").as("doy"),
        date_trunc("month", col("o_orderdate")).cast("date").cast("string").as("month_start"),
        last_day(col("o_orderdate")).cast("string").as("month_end"),
        date_add(col("o_orderdate").cast("date"), 30).cast("string").as("plus_30d"),
        add_months(col("o_orderdate").cast("date"), 2).cast("string").as("plus_2m"))

  /** Array-function surface: collect_list (sorted for determinism), size,
    * element access, containment, slicing — per sampled order. */
  def arrayFuncs(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .filter(col("l_orderkey") % 499 === 0)
      .groupBy("l_orderkey")
      .agg(sort_array(collect_list(col("l_linenumber"))).as("lines"))
      .select(
        col("l_orderkey"),
        // Arrays are rendered as joined strings at the output boundary: the
        // driver's pandas-based compare cannot sort rows on raw array cells.
        array_join(col("lines").cast("array<string>"), ",").as("lines"),
        size(col("lines")).cast("long").as("n_lines"),
        element_at(col("lines"), 1).cast("long").as("first_line"),
        array_contains(col("lines"), 1).as("has_line_1"),
        array_join(slice(col("lines"), 1, 2).cast("array<string>"), ",").as("first_two"),
        expr("aggregate(lines, 0L, (a, x) -> a + x)").as("line_sum"))

  /** Right-outer join: recent orders against ALL customers — customers with
    * no recent orders survive with null order columns, visible as the
    * zero-order segment counts. Completes the outer-join family
    * (left/right/full). */
  def joinRightOuter(s: SparkSession, d: String): DataFrame = {
    val recent = ord(s, d)
      .filter(col("o_orderdate").cast("date") >= lit("1997-06-01").cast("date"))
    recent.join(Tables.customer(s, d),
        col("o_custkey") === col("c_custkey"), "right_outer")
      .groupBy("c_mktsegment")
      .agg(
        count(col("o_orderkey")).as("n_recent_orders"),
        count(lit(1)).as("n_rows"),
        sum(when(col("o_orderkey").isNull, 1L).otherwise(0L))
          .as("n_customers_without_recent_orders"))
  }

  /** Generator surface: posexplode over tokenized part names →
    * (position, token) frequency table. */
  def posexplodeTokens(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .select(col("p_partkey"), posexplode(split(col("p_name"), " ")))
      .groupBy(col("pos").cast("long").as("pos"), col("col").as("token"))
      .agg(count(lit(1)).as("n"))

  /** Full-outer join between two overlapping derived sides (customers with
    * F-status orders vs customers with P-status orders) — both null
    * extensions are non-vacuous by construction. */
  def joinFullOuter(s: SparkSession, d: String): DataFrame = {
    val f = ord(s, d).filter(col("o_orderstatus") === "F")
      .groupBy(col("o_custkey").as("k_f")).agg(count(lit(1)).as("n_f"))
    val p = ord(s, d).filter(col("o_orderstatus") === "P")
      .groupBy(col("o_custkey").as("k_p")).agg(count(lit(1)).as("n_p"))
    f.join(p, col("k_f") === col("k_p"), "full_outer")
      .agg(
        sum(when(col("k_p").isNull, 1).otherwise(0)).as("f_only"),
        sum(when(col("k_f").isNull, 1).otherwise(0)).as("p_only"),
        sum(when(col("k_f").isNotNull && col("k_p").isNotNull, 1).otherwise(0)).as("both"),
        sum(coalesce(col("n_f"), lit(0))).as("total_f_orders"),
        sum(coalesce(col("n_p"), lit(0))).as("total_p_orders"))
  }

  /** first/last/nth value window functions over an explicit ROWS frame with
    * a unique ordering (month series) — running first, running last
    * (= current), and the 2nd month's value once visible. */
  def windowFirstLast(s: SparkSession, d: String): DataFrame = {
    val monthly = ord(s, d)
      .groupBy(year(col("o_orderdate")).cast("long").as("y"),
        month(col("o_orderdate")).cast("long").as("m"))
      .agg(sum(dec2(col("o_totalprice"))).as("rev_dec"))
    // unpartitioned window, bounded: one row per order month (~80)
    val w = Window.orderBy(col("y"), col("m"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    monthly
      .withColumn("revenue", col("rev_dec").cast("double"))
      .withColumn("first_rev", first(col("rev_dec")).over(w).cast("double"))
      .withColumn("running_last", last(col("rev_dec")).over(w).cast("double"))
      .withColumn("second_rev", nth_value(col("rev_dec"), 2).over(w).cast("double"))
      .select("y", "m", "revenue", "first_rev", "running_last", "second_rev")
  }

  /** Map-type surface: construction from arrays, keyed access, cardinality
    * (per sampled order; DuckDB mirrors with MAP(...)[k][1] scalarization). */
  def mapFuncs(s: SparkSession, d: String): DataFrame =
    ord(s, d)
      .filter(col("o_orderkey") % 499 === 0)
      .withColumn("m", map_from_arrays(
        array(lit("status"), lit("priority")),
        array(col("o_orderstatus"), col("o_orderpriority"))))
      .select(
        col("o_orderkey"),
        element_at(col("m"), "status").as("status"),
        element_at(col("m"), "priority").as("priority"),
        size(col("m")).cast("long").as("n_keys"))

  /** unionByName with missing columns (schema evolution union): the two
    * sides carry different column sets; absent columns null-extend. */
  def unionByNameMissing(s: SparkSession, d: String): DataFrame = {
    val a = ord(s, d).filter(col("o_orderstatus") === "P")
      .select(col("o_orderkey"), col("o_orderstatus").as("status"))
    val b = ord(s, d).filter(col("o_totalprice") > 400000.0)
      .select(col("o_orderkey"), col("o_orderpriority").as("priority"))
    a.unionByName(b, allowMissingColumns = true)
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("status")).as("n_with_status"),
        count(col("priority")).as("n_with_priority"),
        countDistinct(col("o_orderkey")).as("n_orders"))
  }

  // ----------------------------------------------------------------- wiring

  val queries: Map[String, Q] = Map(
    "rel_pricing_summary" -> (pricingSummary _),
    "rel_filter_eq" -> (filterEq _),
    "rel_filter_in" -> (filterIn _),
    "rel_filter_date_range" -> (filterDateRange _),
    "rel_filter_disjunct" -> (filterDisjunct _),
    "rel_filter_dynamic" -> (filterDynamic _),
    "rel_project_derived" -> (projectDerived _),
    "rel_join_broadcast_dims" -> (joinBroadcastDims _),
    "rel_join_fact_fact" -> (joinFactFact _),
    "rel_join_left_outer" -> (joinLeftOuter _),
    "rel_join_semi" -> (joinSemi _),
    "rel_join_anti" -> (joinAnti _),
    "rel_top_revenue_orders" -> (topRevenueOrders _),
    "rel_window_share" -> (windowShare _),
    "rel_window_pagination" -> (rowNumberPagination _),
    "rel_rank_per_group" -> (rankPerGroup _),
    "rel_lag_lead_delta" -> (lagLeadDelta _),
    "rel_rolling_frame" -> (rollingFrame _),
    "rel_cube" -> (cubeAgg _),
    "rel_rollup" -> (rollupAgg _),
    "rel_set_ops" -> (setOps _),
    "rel_distinct_projection" -> (distinctProjection _),
    "rel_global_agg" -> (globalAgg _),
    "rel_offset_limit" -> (offsetLimit _),
    "rel_above_avg_orders" -> (aboveAvgOrders _),
    "rel_percentiles" -> (percentiles _),
    "rel_pivot" -> (pivotStatus _),
    "rel_set_ops_all" -> (setOpsAll _),
    "rel_null_handling" -> (nullHandling _),
    "rel_salted_agg" -> (saltedAgg _),
    "rel_window_distribution" -> (windowDistribution _),
    "rel_grouping_sets" -> (groupingSetsAgg _),
    "rel_string_funcs" -> (stringFuncs _),
    "rel_datetime_funcs" -> (datetimeFuncs _),
    "rel_array_funcs" -> (arrayFuncs _),
    "rel_posexplode" -> (posexplodeTokens _),
    "rel_join_full_outer" -> (joinFullOuter _),
    "rel_join_right_outer" -> (joinRightOuter _),
    "rel_window_first_last" -> (windowFirstLast _),
    "rel_map_funcs" -> (mapFuncs _),
    "rel_union_by_name" -> (unionByNameMissing _),
  )

  val oracleSql: Map[String, String] = Map(
    "rel_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / CAST(COUNT(l_quantity) AS DOUBLE) AS avg_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / CAST(COUNT(l_extendedprice) AS DOUBLE) AS avg_price,
         COUNT(*) AS count_order,
         COUNT(DISTINCT l_orderkey) AS distinct_orders
         FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01' GROUP BY 1, 2""",
    "rel_filter_eq" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
         FROM lineitem WHERE l_returnflag = 'R'""",
    "rel_filter_in" ->
      """SELECT o_orderstatus, COUNT(*) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders WHERE o_orderstatus IN ('F','P') GROUP BY 1""",
    "rel_filter_date_range" ->
      """SELECT CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date,
         COUNT(*) AS n_orders,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS day_total
         FROM orders
         WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1996-12-31'
         GROUP BY 1""",
    "rel_filter_disjunct" ->
      """SELECT l_returnflag, COUNT(*) AS n,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum
         FROM lineitem WHERE l_discount >= 0.09 OR l_tax <= 0.01 GROUP BY 1""",
    "rel_filter_dynamic" ->
      """SELECT COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
         FROM lineitem WHERE l_returnflag = 'A' AND l_linestatus = 'F'""",
    "rel_project_derived" ->
      """SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS order_year,
         CAST(MONTH(o_orderdate) AS BIGINT) AS order_month,
         COUNT(*) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / CAST(COUNT(o_totalprice) AS DOUBLE) AS avg_price
         FROM orders GROUP BY 1, 2""",
    "rel_join_broadcast_dims" ->
      """SELECT r_name AS region, n_name AS nation,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
         COUNT(*) AS n_orders, COUNT(DISTINCT o_custkey) AS n_customers
         FROM orders
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY 1, 2""",
    "rel_join_fact_fact" ->
      """SELECT o_orderstatus, l_returnflag, COUNT(*) AS n,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2""",
    "rel_join_left_outer" ->
      """SELECT c_mktsegment, COUNT(o_orderkey) AS n_orders,
         COUNT(DISTINCT c_custkey) AS n_customers,
         COUNT(CASE WHEN o_orderkey IS NULL THEN 1 END) AS n_orderless_rows
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey GROUP BY 1""",
    "rel_join_semi" ->
      """SELECT c_mktsegment, COUNT(*) AS n_customers,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS acctbal_sum
         FROM customer WHERE c_custkey IN
           (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F')
         GROUP BY 1""",
    "rel_join_anti" ->
      """SELECT c_mktsegment, COUNT(*) AS n_customers
         FROM customer WHERE c_custkey NOT IN
           (SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')
         GROUP BY 1""",
    "rel_top_revenue_orders" ->
      """SELECT l_orderkey, CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
         FROM customer
         JOIN orders ON c_custkey = o_custkey
         JOIN lineitem ON o_orderkey = l_orderkey
         WHERE c_mktsegment = 'BUILDING'
         GROUP BY 1, 2 ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "rel_window_share" ->
      """SELECT o_orderpriority,
         CAST(rev_dec AS DOUBLE) AS revenue, n_orders,
         CAST(rev_dec * 100 AS DOUBLE) / CAST(SUM(rev_dec) OVER () AS DOUBLE) AS revenue_share_pct
         FROM (SELECT o_orderpriority,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_dec,
               COUNT(*) AS n_orders FROM orders GROUP BY 1)""",
    "rel_window_pagination" ->
      """SELECT o_orderkey, rn, o_orderstatus, o_totalprice FROM
         (SELECT o_orderkey, o_orderstatus, o_totalprice,
          ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn FROM orders)
         WHERE rn > 100 AND rn <= 150""",
    "rel_rank_per_group" ->
      """SELECT o_orderpriority, rk, o_orderkey, o_totalprice FROM
         (SELECT o_orderpriority, o_orderkey, o_totalprice,
          ROW_NUMBER() OVER (PARTITION BY o_orderpriority
            ORDER BY o_totalprice DESC, o_orderkey) AS rk FROM orders)
         WHERE rk <= 3""",
    "rel_lag_lead_delta" ->
      """SELECT y, m, CAST(rev_dec AS DOUBLE) AS revenue,
         CAST(LAG(rev_dec, 1) OVER (ORDER BY y, m) AS DOUBLE) AS prev_revenue,
         CAST(rev_dec - LAG(rev_dec, 1) OVER (ORDER BY y, m) AS DOUBLE) AS delta
         FROM (SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS y,
               CAST(MONTH(o_orderdate) AS BIGINT) AS m,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_dec
               FROM orders GROUP BY 1, 2)""",
    "rel_rolling_frame" ->
      """SELECT y, m, CAST(rev_dec AS DOUBLE) AS revenue,
         CAST(SUM(rev_dec) OVER w AS DOUBLE) / CAST(COUNT(*) OVER w AS DOUBLE) AS trailing3_avg
         FROM (SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS y,
               CAST(MONTH(o_orderdate) AS BIGINT) AS m,
               SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_dec
               FROM orders GROUP BY 1, 2)
         WINDOW w AS (ORDER BY y, m ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""",
    "rel_cube" ->
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty,
         CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
         CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls
         FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""",
    "rel_rollup" ->
      """SELECT r_name AS region, n_name AS nation, COUNT(*) AS n_customers,
         CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS acctbal_sum
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY ROLLUP (r_name, n_name)""",
    "rel_set_ops" ->
      """WITH f AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'),
            p AS (SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')
         SELECT 'union_all' AS op, (SELECT COUNT(*) FROM (SELECT * FROM f UNION ALL SELECT * FROM p)) AS n
         UNION ALL
         SELECT 'intersect' AS op, (SELECT COUNT(*) FROM (SELECT * FROM f INTERSECT SELECT * FROM p)) AS n
         UNION ALL
         SELECT 'except' AS op, (SELECT COUNT(*) FROM (SELECT * FROM f EXCEPT SELECT * FROM p)) AS n""",
    "rel_distinct_projection" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    "rel_global_agg" ->
      """SELECT COUNT(*) AS n,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / CAST(COUNT(l_quantity) AS DOUBLE) AS avg_qty,
         CAST(CAST(MIN(l_shipdate) AS DATE) AS VARCHAR) AS min_ship,
         CAST(CAST(MAX(l_shipdate) AS DATE) AS VARCHAR) AS max_ship,
         COUNT(DISTINCT l_partkey) AS n_parts
         FROM lineitem""",
    "rel_offset_limit" ->
      """SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
         ORDER BY o_orderkey LIMIT 25 OFFSET 200""",
    "rel_above_avg_orders" ->
      """SELECT o_orderpriority, COUNT(*) AS n,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
         FROM orders
         WHERE o_totalprice > (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / CAST(COUNT(o_totalprice) AS DOUBLE) FROM orders) * 1.8
         GROUP BY 1""",
    "rel_percentiles" ->
      """SELECT o_orderpriority,
         quantile_cont(o_totalprice, 0.5) AS median_price,
         quantile_cont(o_totalprice, 0.9) AS p90_price,
         COUNT(*) AS n
         FROM orders GROUP BY 1""",
    "rel_pivot" ->
      """SELECT o_orderpriority,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_orderstatus = 'F') AS DOUBLE) AS rev_f,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_orderstatus = 'O') AS DOUBLE) AS rev_o,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (WHERE o_orderstatus = 'P') AS DOUBLE) AS rev_p
         FROM orders GROUP BY 1""",
    "rel_set_ops_all" ->
      """WITH f AS (SELECT o_custkey FROM orders WHERE o_orderstatus <> 'O'),
            p AS (SELECT o_custkey FROM orders WHERE o_totalprice > 100000.0)
         SELECT 'union_all' AS op, (SELECT COUNT(*) FROM (SELECT * FROM f UNION ALL SELECT * FROM p)) AS n
         UNION ALL
         SELECT 'except_all' AS op, (SELECT COUNT(*) FROM (SELECT * FROM f EXCEPT ALL SELECT * FROM p)) AS n
         UNION ALL
         SELECT 'intersect_all' AS op, (SELECT COUNT(*) FROM (SELECT * FROM f INTERSECT ALL SELECT * FROM p)) AS n""",
    "rel_null_handling" ->
      """WITH t AS (
           SELECT l_returnflag, l_linestatus,
             CASE WHEN l_linenumber % 3 = 0 THEN l_linestatus END AS maybe_status
           FROM lineitem)
         SELECT l_returnflag, COUNT(*) AS n,
           CAST(SUM(CASE WHEN maybe_status IS NOT DISTINCT FROM NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_safe_eq_null,
           CAST(SUM(CASE WHEN maybe_status IS NOT DISTINCT FROM l_linestatus THEN 1 ELSE 0 END) AS BIGINT) AS n_null_safe_eq_status,
           COUNT(COALESCE(maybe_status, 'missing')) AS n_coalesced,
           COUNT(NULLIF(l_linestatus, 'F')) AS n_not_f
         FROM t GROUP BY 1""",
    "rel_salted_agg" ->
      """SELECT l_returnflag,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
         COUNT(*) AS n
         FROM lineitem GROUP BY 1""",
    "rel_window_distribution" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice, quartile, pct_rank, cume
         FROM (
           SELECT o_orderkey, o_orderstatus, o_totalprice,
             CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
             PERCENT_RANK() OVER w AS pct_rank,
             CUME_DIST() OVER w AS cume
           FROM orders
           WINDOW w AS (PARTITION BY o_orderstatus
                        ORDER BY o_totalprice, o_orderkey))
         WHERE o_orderkey % 100 = 0""",
    "rel_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                 (o_orderstatus), ())""",
    "rel_string_funcs" ->
      """WITH t AS (
           SELECT *, regexp_extract(p_name, '^(\w+)', 1) AS adj FROM part)
         SELECT p_type, COUNT(*) AS n,
           MIN(UPPER(p_name)) AS first_name_up,
           MAX(CONCAT(p_brand, ':', LOWER(p_type))) AS max_brand_type,
           CAST(SUM(LENGTH(p_name)) AS BIGINT) AS name_chars,
           COUNT(CASE WHEN p_name LIKE '%widget%' THEN 1 END) AS n_widget,
           MIN(LPAD(p_brand, 10, '_')) AS brand_padded,
           MAX(TRIM('  x  ')) AS trimmed,
           COUNT(DISTINCT adj) AS n_adjectives
         FROM t GROUP BY 1""",
    "rel_datetime_funcs" ->
      """SELECT o_orderkey,
           CAST(CAST(o_orderdate AS DATE) AS VARCHAR) AS order_date,
           CAST(YEAR(o_orderdate) AS BIGINT) AS y,
           CAST(QUARTER(o_orderdate) AS BIGINT) AS q,
           CAST(MONTH(o_orderdate) AS BIGINT) AS m,
           CAST(DAYOFMONTH(o_orderdate) AS BIGINT) AS dom,
           CAST(DATE_PART('dow', o_orderdate) + 1 AS BIGINT) AS dow,
           CAST(DAYOFYEAR(o_orderdate) AS BIGINT) AS doy,
           CAST(CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS VARCHAR) AS month_start,
           CAST(LAST_DAY(o_orderdate) AS VARCHAR) AS month_end,
           CAST(CAST(o_orderdate AS DATE) + 30 AS VARCHAR) AS plus_30d,
           CAST(CAST(o_orderdate + INTERVAL 2 MONTH AS DATE) AS VARCHAR) AS plus_2m
         FROM orders WHERE o_orderkey % 200 = 0""",
    "rel_array_funcs" ->
      """WITH g AS (
           SELECT l_orderkey,
                  list_sort(list(CAST(l_linenumber AS BIGINT))) AS lines
           FROM lineitem WHERE l_orderkey % 499 = 0 GROUP BY 1)
         SELECT l_orderkey,
           array_to_string(lines, ',') AS lines,
           CAST(len(lines) AS BIGINT) AS n_lines,
           lines[1] AS first_line,
           list_contains(lines, 1) AS has_line_1,
           array_to_string(lines[1:2], ',') AS first_two,
           CAST(list_sum(lines) AS BIGINT) AS line_sum
         FROM g""",
    "rel_posexplode" ->
      """SELECT CAST(u.pos AS BIGINT) AS pos, u.token, COUNT(*) AS n
         FROM (
           SELECT UNNEST(list_transform(string_split(p_name, ' '),
                         (t, i) -> struct_pack(pos := i - 1, token := t))) AS u
           FROM part)
         GROUP BY 1, 2""",
    "rel_join_full_outer" ->
      """WITH f AS (SELECT o_custkey AS k_f, COUNT(*) AS n_f FROM orders
                    WHERE o_orderstatus = 'F' GROUP BY 1),
            p AS (SELECT o_custkey AS k_p, COUNT(*) AS n_p FROM orders
                    WHERE o_orderstatus = 'P' GROUP BY 1)
         SELECT
           CAST(SUM(CASE WHEN k_p IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS f_only,
           CAST(SUM(CASE WHEN k_f IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS p_only,
           CAST(SUM(CASE WHEN k_f IS NOT NULL AND k_p IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS both,
           CAST(SUM(COALESCE(n_f, 0)) AS BIGINT) AS total_f_orders,
           CAST(SUM(COALESCE(n_p, 0)) AS BIGINT) AS total_p_orders
         FROM f FULL OUTER JOIN p ON k_f = k_p""",
    "rel_join_right_outer" ->
      """SELECT c_mktsegment,
                COUNT(o_orderkey) AS n_recent_orders,
                COUNT(*) AS n_rows,
                CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_customers_without_recent_orders
         FROM (SELECT * FROM orders
               WHERE CAST(o_orderdate AS DATE) >= DATE '1997-06-01') o
         RIGHT OUTER JOIN customer ON o.o_custkey = c_custkey
         GROUP BY 1""",
    "rel_window_first_last" ->
      """WITH monthly AS (
           SELECT CAST(YEAR(o_orderdate) AS BIGINT) AS y,
                  CAST(MONTH(o_orderdate) AS BIGINT) AS m,
                  SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_dec
           FROM orders GROUP BY 1, 2)
         SELECT y, m, CAST(rev_dec AS DOUBLE) AS revenue,
           CAST(FIRST_VALUE(rev_dec) OVER w AS DOUBLE) AS first_rev,
           CAST(LAST_VALUE(rev_dec) OVER w AS DOUBLE) AS running_last,
           CAST(NTH_VALUE(rev_dec, 2) OVER w AS DOUBLE) AS second_rev
         FROM monthly
         WINDOW w AS (ORDER BY y, m
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",
    "rel_map_funcs" ->
      """WITH t AS (
           SELECT o_orderkey,
                  MAP(['status','priority'], [o_orderstatus, o_orderpriority]) AS m
           FROM orders WHERE o_orderkey % 499 = 0)
         SELECT o_orderkey,
           m['status'][1] AS status,
           m['priority'][1] AS priority,
           CAST(cardinality(m) AS BIGINT) AS n_keys
         FROM t""",
    "rel_union_by_name" ->
      """WITH u AS (
           SELECT o_orderkey, o_orderstatus AS status FROM orders
           WHERE o_orderstatus = 'P'
           UNION ALL BY NAME
           SELECT o_orderkey, o_orderpriority AS priority FROM orders
           WHERE o_totalprice > 400000.0)
         SELECT COUNT(*) AS n_rows,
           COUNT(status) AS n_with_status,
           COUNT(priority) AS n_with_priority,
           COUNT(DISTINCT o_orderkey) AS n_orders
         FROM u""",
  )
}
