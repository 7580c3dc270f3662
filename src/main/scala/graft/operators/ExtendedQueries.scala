package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryModule
import graft.core.{Ora, Tables}

/** Extension surface beyond SURVEY.md §2's reference parity rows: statistical
  * aggregates, ordered string aggregation, unpivot, range-interval window
  * frames, deterministic hash sampling, and calendar gap-filling — operators
  * a production analytics engine needs that the reference never exercises.
  *
  * Oracle determinism (see [[graft.core.Ora]]): the moment-based statistics
  * are computed from EXACT integer/decimal sums, with the final double
  * formula written as the identical expression tree in Spark and DuckDB —
  * built-in `stddev`/`corr` stream partial aggregates in engine-specific
  * order and differ in the last ulp, so they are deliberately avoided.
  *
  * Scale notes (100 TB):
  *   - moment sums are algebraic partial+final hash aggregates (map-side
  *     combine; one shuffle of tiny per-group moment tuples);
  *   - `collect_list` in the string-agg query is holistic — kept to
  *     bounded-cardinality groups by construction, the only safe shape;
  *   - the range-frame window shuffles once on the partition key, then
  *     sorts within partitions — no global sort;
  *   - hash sampling is a stateless per-row predicate at the scan (no
  *     shuffle, no sort, fully parallel, deterministic across runs/engines
  *     — unlike TABLESAMPLE);
  *   - gap-fill joins a constant-size generated calendar (broadcast) against
  *     pre-aggregated daily counts.
  */
object ExtendedQueries extends QueryModule {

  import Ora.dec2

  private def ord(s: SparkSession, d: String) = Tables.orders(s, d)
  private def li(s: SparkSession, d: String) = Tables.lineitem(s, d)

  /** Variance / stddev / covariance / correlation per group, from exact
    * moment sums (sum x, sum x², sum xy as bigint/decimal), final double
    * arithmetic only at the boundary. Derived values are ROUNDed to 6
    * decimals on BOTH engines: the wide-decimal→double cast is not
    * guaranteed correctly-rounded across engines (int128 two-part vs
    * BigDecimal paths), so unrounded outputs flake in the last ULP. */
  def statsAgg(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .select(
        col("l_returnflag"),
        col("l_quantity").cast("bigint").as("q"),
        dec2(col("l_extendedprice")).as("p"))
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum(col("q")).as("sum_q"),
        sum(col("q") * col("q")).as("sum_q2"),
        sum(col("p")).as("sum_p"),
        sum(col("p") * col("p")).as("sum_p2"),
        sum(col("q") * col("p")).as("sum_qp"))
      .selectExpr(
        "l_returnflag",
        "n",
        "ROUND((CAST(sum_q2 AS DOUBLE) - CAST(sum_q AS DOUBLE) * CAST(sum_q AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1), 6) AS var_qty",
        "ROUND(SQRT((CAST(sum_q2 AS DOUBLE) - CAST(sum_q AS DOUBLE) * CAST(sum_q AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)), 6) AS stddev_qty",
        "ROUND(SQRT((CAST(sum_p2 AS DOUBLE) - CAST(sum_p AS DOUBLE) * CAST(sum_p AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)), 6) AS stddev_price",
        "ROUND((CAST(sum_qp AS DOUBLE) - CAST(sum_q AS DOUBLE) * CAST(sum_p AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1), 6) AS covar_qp",
        "ROUND(((CAST(sum_qp AS DOUBLE) - CAST(sum_q AS DOUBLE) * CAST(sum_p AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)) / (SQRT((CAST(sum_q2 AS DOUBLE) - CAST(sum_q AS DOUBLE) * CAST(sum_q AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)) * SQRT((CAST(sum_p2 AS DOUBLE) - CAST(sum_p AS DOUBLE) * CAST(sum_p AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1))), 6) AS corr_qp")

  /** Ordered string aggregation (listagg/string_agg equivalent): sorted
    * '|'-joined member list per group. Deterministic because the collected
    * list is sorted before joining. */
  def stringAgg(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d)
      .filter(col("c_custkey") <= 40)
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n"),
        array_join(sort_array(collect_list(col("c_name"))), "|").as("names"))

  /** Unpivot (wide → long): per-flag metric columns melted to
    * (metric, value) rows via the Dataset.unpivot API. */
  def unpivotMetrics(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .groupBy("l_returnflag")
      .agg(
        sum(dec2(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(dec2(col("l_extendedprice"))).cast("double").as("sum_price"))
      .unpivot(
        Array(col("l_returnflag")),
        Array(col("sum_qty"), col("sum_price")),
        "metric", "value")

  /** RANGE-interval window frame: per customer, trailing-31-day order total
    * (value-based frame over a day-number order key, not a row count —
    * peers at the same day share the frame). */
  def rangeFrame(s: SparkSession, d: String): DataFrame = {
    val o = ord(s, d)
      .filter(col("o_custkey") <= 200)
      .select(
        col("o_custkey"),
        datediff(col("o_orderdate").cast("date"), lit("1990-01-01").cast("date"))
          .cast("bigint").as("day"),
        dec2(col("o_totalprice")).as("tp"))
    val w = Window.partitionBy("o_custkey").orderBy("day").rangeBetween(-30, 0)
    o.select(
      col("o_custkey"), col("day"),
      sum(col("tp")).over(w).cast("double").as("trailing_31d"))
  }

  /** Deterministic ~1/16 Bernoulli sample: rows whose md5(key) starts with
    * '0'. Unlike TABLESAMPLE this is reproducible across engines, runs, and
    * partitionings — the shape used to carve stable dev subsets from a
    * 100 TB corpus. */
  def hashSample(s: SparkSession, d: String): DataFrame =
    ord(s, d)
      .filter(substring(md5(col("o_orderkey").cast("string")), 1, 1) === "0")
      .agg(
        count(lit(1)).as("n_sampled"),
        sum(dec2(col("o_totalprice"))).cast("double").as("sampled_total"),
        min(col("o_orderkey")).as("min_key"),
        max(col("o_orderkey")).as("max_key"))

  /** Calendar gap-fill: generated Q1-1996 date spine left-joined to daily
    * order counts, missing days filled with 0 — the standard time-series
    * densification pattern (spine is constant-size → broadcast). */
  def gapFill(s: SparkSession, d: String): DataFrame = {
    val cal = s.sql(
      "SELECT explode(sequence(DATE'1996-01-01', DATE'1996-03-31')) AS od")
    val daily = ord(s, d)
      .filter(col("o_orderdate").cast("date").between(
        lit("1996-01-01").cast("date"), lit("1996-03-31").cast("date")))
      .groupBy(col("o_orderdate").cast("date").as("od"))
      .agg(count(lit(1)).as("n_orders"))
    cal.join(daily, Seq("od"), "left")
      .select(
        col("od").cast("string").as("day"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"))
  }

  /** Stratified sample: the k=5 members with smallest md5(key) per stratum
    * (segment) — deterministic per-group sampling via a ranked window, the
    * reproducible alternative to per-stratum TABLESAMPLE. One shuffle on the
    * stratum key; row_number short-circuits per partition. */
  def stratifiedSample(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(md5(col("c_custkey").cast("string")))
    Tables.customer(s, d)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("c_mktsegment"), col("c_custkey"), col("rk").cast("long").as("rk"))
  }

  /** HLL sketch surface, made oracle-checkable: each engine computes its OWN
    * approx_count_distinct next to the exact count and emits whether the
    * sketch landed within 10% (Spark HLL++ default rsd = 5%). The sketches
    * differ across engines by design; the (exact, within-tolerance) pair is
    * deterministic in both — so the comparison verifies the sketch machinery
    * without demanding bit-equal estimates. At 100 TB the sketch is the
    * point: mergeable fixed-size state instead of an exact distinct shuffle. */
  def approxDistinct(s: SparkSession, d: String): DataFrame =
    ord(s, d)
      .groupBy("o_orderstatus")
      .agg(
        countDistinct(col("o_custkey")).as("exact_customers"),
        approx_count_distinct(col("o_custkey")).as("approx_customers"))
      .select(
        col("o_orderstatus"),
        col("exact_customers"),
        (abs(col("approx_customers") - col("exact_customers")).cast("double") <=
          col("exact_customers").cast("double") * 0.10).as("sketch_within_10pct"))

  /** t-digest/KLL sketch surface, tolerance-checked like
    * [[approxDistinct]]: exact interpolated median next to each engine's own
    * approx-quantile sketch, emitting whether the sketch landed within 5%.
    * At scale the sketch replaces a full sort with mergeable fixed-size
    * state. */
  def approxPercentile(s: SparkSession, d: String): DataFrame =
    li(s, d)
      .groupBy("l_returnflag")
      .agg(
        expr("percentile(l_extendedprice, 0.5D)").as("exact_median"),
        expr("percentile_approx(l_extendedprice, 0.5D, 10000)").as("approx_median"))
      .select(
        col("l_returnflag"),
        col("exact_median"),
        (abs(col("approx_median") - col("exact_median")) <=
          col("exact_median") * 0.05).as("sketch_within_5pct"))

  /** LOCF forward-fill (last observation carried forward): nulls replaced by
    * the latest preceding non-null via last(ignoreNulls) over a running
    * row frame — the standard time-series repair operator. One shuffle on
    * the entity key; the frame never materializes more than the running
    * last value. */
  def locfFill(s: SparkSession, d: String): DataFrame = {
    val o = ord(s, d)
      .filter(col("o_custkey") <= 100)
      .select(
        col("o_custkey"), col("o_orderkey"),
        when(col("o_orderkey") % 3 === 0, lit(null).cast("decimal(18,2)"))
          .otherwise(dec2(col("o_totalprice"))).as("v"))
    val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    o.select(
      col("o_custkey"), col("o_orderkey"),
      last(col("v"), ignoreNulls = true).over(w).cast("double").as("filled"))
  }

  /** ANSI NOT IN vs anti-join null semantics, side by side: against a
    * subquery column containing a NULL, `NOT IN` yields UNKNOWN for every
    * probe row (zero results) while NOT EXISTS / anti-join gives the
    * intended complement — both engines agree because both are ANSI. The
    * query emits both counts so the gate pins the semantics. */
  def nullAntijoin(s: SparkSession, d: String): DataFrame = {
    // keep the key list sparse (1/37 of orders) so the anti-join complement
    // is non-empty — with every order included, all customers match and
    // both counts degenerate to 0
    val o = ord(s, d)
      .filter(col("o_orderkey") % 37 === 0)
      .select(
        when(col("o_orderkey") % 100 === 0, lit(null).cast("bigint"))
          .otherwise(col("o_custkey")).as("k"))
    val cust = Tables.customer(s, d)
    // anti-join variant: NULL keys simply never match
    val antiJoin = cust.join(o, col("c_custkey") === col("k"), "left_anti")
    // ANSI NOT IN from first principles: `c NOT IN (S)` is UNKNOWN for every
    // row when S contains a NULL — so survivors = (no NULL in S) AND c
    // unmatched among the non-null keys. The anyNull anti-join empties the
    // probe side iff a NULL exists.
    val anyNull = o.filter(col("k").isNull).limit(1)
    val notIn =
      cust.join(anyNull, lit(true), "left_anti")
        .join(o.filter(col("k").isNotNull),
          col("c_custkey") === col("k"), "left_anti")
    notIn.agg(count(lit(1)).as("n_not_in"))
      .crossJoin(antiJoin.agg(count(lit(1)).as("n_anti_join")))
  }

  /** Equi-width histogram, 20k-wide buckets — bucketing happens in exact
    * integer cents (decimal cents → bigint → integer division), never via
    * decimal/double division whose engine-specific rounding scale could
    * flip a boundary value into the next bucket. One partial+final
    * aggregate over ~30 keys; the shape stays O(buckets) however large the
    * input. */
  def histogram(s: SparkSession, d: String): DataFrame =
    ord(s, d)
      .select((dec2(col("o_totalprice")) * 100).cast("bigint").as("cents"))
      .withColumn("bucket", expr("cents div 2000000"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"))
      .withColumn("bucket_lo", (col("bucket") * 20000).cast("double"))

  /** Top-k inside groupBy.agg via the typed [[graft.functions.TopKAgg]]
    * Aggregator: partial top-k map-side, at most k rows per group per
    * partition cross the shuffle — versus the window form
    * (`row_number <= k`) that shuffles and sorts every row of each group.
    * Oracle-checked against exactly that window form. */
  def topkAgg(s: SparkSession, d: String): DataFrame = {
    val topk = udaf(new graft.functions.TopKAgg(3))
    ord(s, d)
      .groupBy("o_orderstatus")
      .agg(topk(col("o_totalprice"), col("o_orderkey")).as("top"))
      .select(col("o_orderstatus"), posexplode(col("top")))
      .select(
        col("o_orderstatus"),
        (col("pos") + 1).cast("long").as("rk"),
        col("col.score").as("total_price"),
        col("col.key").as("o_orderkey"))
  }

  /** Pareto / cumulative-share analysis: revenue per nation, ranked desc,
    * with running share of the grand total. The window runs over the
    * 25-row AGGREGATE, not the fact table — aggregate-then-window is the
    * scale-correct shape for concentration statistics (the single-partition
    * window touches O(groups) rows, never O(input)). */
  def pareto(s: SparkSession, d: String): DataFrame = {
    val rev = li(s, d)
      .join(ord(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(sum(dec2(col("l_extendedprice"))).as("r"))
    // unpartitioned window, bounded: one row per nation (25)
    val w = Window.orderBy(col("r").desc, col("n_name"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val total = rev.agg(sum(col("r")).as("grand"))
    rev.crossJoin(total)
      .select(
        col("n_name"),
        // unpartitioned window, bounded: one row per nation (25)
        row_number().over(Window.orderBy(col("r").desc, col("n_name")))
          .cast("long").as("rk"),
        col("r").cast("double").as("revenue"),
        (sum(col("r")).over(w).cast("double") / col("grand").cast("double"))
          .as("cum_share"))
  }

  /** Median absolute deviation per group — the robust-statistics companion
    * to [[statsAgg]]: exact interpolated median, then the median of
    * absolute deviations from it (two grouped percentile passes joined on
    * the bounded group key; both engines use the same exact interpolation,
    * proven by rel_percentiles). */
  def madAgg(s: SparkSession, d: String): DataFrame = {
    val med = li(s, d).groupBy("l_returnflag")
      .agg(expr("percentile(l_extendedprice, 0.5D)").as("med"))
    li(s, d).join(med, "l_returnflag")
      .groupBy("l_returnflag")
      .agg(
        max(col("med")).as("median_price"),
        expr("percentile(abs(l_extendedprice - med), 0.5D)").as("mad_price"))
  }

  /** Single-pass column profiler — the first query a data engineer runs on
    * an unknown table: per column, the non-null count, exact distinct
    * count, and min/max rendered through type-stable casts (numerics via
    * DECIMAL(18,4) fixed-point, timestamps via DATE — a raw double/ts →
    * string cast renders differently across engines). ONE scan: all
    * per-column aggregates ride one hash-agg row (the multi-countDistinct
    * plans as Expand ×k), then an inline explode unpivots it to one row per
    * column. At 100 TB the same shape runs with approx_count_distinct
    * (HLL) for the distinct column — exact distinct is the oracle-checkable
    * baseline. */
  def profileStats(s: SparkSession, d: String): DataFrame = {
    val specs = Seq( // (column, render kind)
      "l_partkey" -> "num", "l_quantity" -> "num", "l_extendedprice" -> "num",
      "l_returnflag" -> "str", "l_linestatus" -> "str", "l_shipdate" -> "date")
    def render(c: org.apache.spark.sql.Column, kind: String) = kind match {
      case "num"  => c.cast("decimal(18,4)").cast("string")
      case "date" => c.cast("date").cast("string")
      case _      => c.cast("string")
    }
    val aggs = specs.flatMap { case (c, k) => Seq(
      count(col(c)).as(s"${c}_nn"),
      countDistinct(col(c)).as(s"${c}_nd"),
      render(min(col(c)), k).as(s"${c}_mn"),
      render(max(col(c)), k).as(s"${c}_mx"))
    }
    val one = li(s, d).agg(count(lit(1)).as("n_rows"), aggs: _*)
    val rows = specs.map { case (c, _) =>
      struct(
        lit(c).as("col_name"), col("n_rows"),
        col(s"${c}_nn").as("n_non_null"), col(s"${c}_nd").as("n_distinct"),
        col(s"${c}_mn").as("min_value"), col(s"${c}_mx").as("max_value"))
    }
    one.select(explode(array(rows: _*)).as("p")).select("p.*")
  }

  val queries: Map[String, Q] = Map(
    "rel_profile_stats" -> (profileStats _),
    "rel_mad" -> (madAgg _),
    "rel_pareto" -> (pareto _),
    "rel_topk_agg" -> (topkAgg _),
    "rel_histogram" -> (histogram _),
    "rel_null_antijoin" -> (nullAntijoin _),
    "rel_approx_percentile" -> (approxPercentile _),
    "rel_locf" -> (locfFill _),
    "rel_approx_distinct" -> (approxDistinct _),
    "rel_stratified_sample" -> (stratifiedSample _),
    "rel_stats_agg" -> (statsAgg _),
    "rel_string_agg" -> (stringAgg _),
    "rel_unpivot" -> (unpivotMetrics _),
    "rel_range_frame" -> (rangeFrame _),
    "rel_hash_sample" -> (hashSample _),
    "rel_gap_fill" -> (gapFill _),
  )

  val oracleSql: Map[String, String] = Map(
    "rel_profile_stats" -> {
      val specs = Seq(
        "l_partkey" -> "num", "l_quantity" -> "num", "l_extendedprice" -> "num",
        "l_returnflag" -> "str", "l_linestatus" -> "str", "l_shipdate" -> "date")
      def render(f: String, c: String, kind: String) = kind match {
        case "num"  => s"CAST(CAST($f($c) AS DECIMAL(18,4)) AS VARCHAR)"
        case "date" => s"CAST(CAST($f($c) AS DATE) AS VARCHAR)"
        case _      => s"CAST($f($c) AS VARCHAR)"
      }
      val aggCols = specs.map { case (c, k) =>
        s"""COUNT($c) AS ${c}_nn, COUNT(DISTINCT $c) AS ${c}_nd,
            ${render("MIN", c, k)} AS ${c}_mn, ${render("MAX", c, k)} AS ${c}_mx"""
      }.mkString(",\n            ")
      val branches = specs.map { case (c, _) =>
        s"""SELECT '$c' AS col_name, n_rows, ${c}_nn AS n_non_null,
              ${c}_nd AS n_distinct, ${c}_mn AS min_value, ${c}_mx AS max_value
            FROM a"""
      }.mkString("\n          UNION ALL ")
      s"""WITH a AS (
            SELECT COUNT(*) AS n_rows,
            $aggCols
            FROM lineitem)
          $branches"""
    },
    "rel_mad" ->
      """WITH med AS (
           SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS med
           FROM lineitem GROUP BY 1)
         SELECT l.l_returnflag,
                MAX(med) AS median_price,
                quantile_cont(ABS(l_extendedprice - med), 0.5) AS mad_price
         FROM lineitem l JOIN med USING (l_returnflag)
         GROUP BY 1""",
    "rel_pareto" ->
      """WITH rev AS (
           SELECT n_name, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS r
           FROM lineitem
           JOIN orders   ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN nation   ON c_nationkey = n_nationkey
           GROUP BY 1)
         SELECT n_name,
           CAST(row_number() OVER (ORDER BY r DESC, n_name) AS BIGINT) AS rk,
           CAST(r AS DOUBLE) AS revenue,
           CAST(SUM(r) OVER (ORDER BY r DESC, n_name
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             / CAST((SELECT SUM(r) FROM rev) AS DOUBLE) AS cum_share
         FROM rev""",
    "rel_topk_agg" ->
      """SELECT o_orderstatus, CAST(rk AS BIGINT) AS rk, total_price, o_orderkey
         FROM (
           SELECT o_orderstatus, o_totalprice AS total_price, o_orderkey,
                  row_number() OVER (PARTITION BY o_orderstatus
                    ORDER BY o_totalprice DESC, o_orderkey DESC) AS rk
           FROM orders) WHERE rk <= 3""",
    "rel_histogram" ->
      """SELECT bucket, COUNT(*) AS n,
                CAST(bucket * 20000 AS DOUBLE) AS bucket_lo
         FROM (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 2000000 AS bucket
               FROM orders)
         GROUP BY 1""",
    "rel_null_antijoin" ->
      """WITH o AS (
           SELECT CASE WHEN o_orderkey % 100 = 0 THEN NULL
                       ELSE o_custkey END AS k
           FROM orders WHERE o_orderkey % 37 = 0)
         SELECT
           (SELECT COUNT(*) FROM customer
            WHERE c_custkey NOT IN (SELECT k FROM o)) AS n_not_in,
           (SELECT COUNT(*) FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM o WHERE o.k = c_custkey)) AS n_anti_join""",
    "rel_approx_percentile" ->
      """SELECT l_returnflag,
                quantile_cont(l_extendedprice, 0.5) AS exact_median,
                ABS(approx_quantile(l_extendedprice, 0.5) - quantile_cont(l_extendedprice, 0.5))
                  <= quantile_cont(l_extendedprice, 0.5) * 0.05 AS sketch_within_5pct
         FROM lineitem GROUP BY 1""",
    "rel_locf" ->
      """WITH o AS (
           SELECT o_custkey, o_orderkey,
                  CASE WHEN o_orderkey % 3 = 0 THEN NULL
                       ELSE CAST(o_totalprice AS DECIMAL(18,2)) END AS v
           FROM orders WHERE o_custkey <= 100)
         SELECT o_custkey, o_orderkey,
           CAST(last_value(v IGNORE NULLS) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS filled
         FROM o""",
    "rel_approx_distinct" ->
      """SELECT o_orderstatus,
                COUNT(DISTINCT o_custkey) AS exact_customers,
                CAST(ABS(approx_count_distinct(o_custkey) - COUNT(DISTINCT o_custkey)) AS DOUBLE)
                  <= CAST(COUNT(DISTINCT o_custkey) AS DOUBLE) * 0.10 AS sketch_within_10pct
         FROM orders GROUP BY 1""",
    "rel_stratified_sample" ->
      """SELECT c_mktsegment, c_custkey, CAST(rk AS BIGINT) AS rk FROM (
           SELECT c_mktsegment, c_custkey,
                  row_number() OVER (PARTITION BY c_mktsegment
                    ORDER BY md5(CAST(c_custkey AS VARCHAR))) AS rk
           FROM customer) WHERE rk <= 5""",
    "rel_stats_agg" ->
      """WITH g AS (
           SELECT l_returnflag, COUNT(*) AS n,
                  SUM(CAST(l_quantity AS BIGINT)) AS sum_q,
                  SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS sum_q2,
                  SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS sum_p,
                  SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS sum_p2,
                  SUM(CAST(l_quantity AS BIGINT) * CAST(l_extendedprice AS DECIMAL(18,2))) AS sum_qp
           FROM lineitem GROUP BY 1)
         SELECT l_returnflag, n,
           ROUND((CAST(sum_q2 AS DOUBLE) - CAST(sum_q AS DOUBLE) * CAST(sum_q AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1), 6) AS var_qty,
           ROUND(SQRT((CAST(sum_q2 AS DOUBLE) - CAST(sum_q AS DOUBLE) * CAST(sum_q AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)), 6) AS stddev_qty,
           ROUND(SQRT((CAST(sum_p2 AS DOUBLE) - CAST(sum_p AS DOUBLE) * CAST(sum_p AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)), 6) AS stddev_price,
           ROUND((CAST(sum_qp AS DOUBLE) - CAST(sum_q AS DOUBLE) * CAST(sum_p AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1), 6) AS covar_qp,
           ROUND(((CAST(sum_qp AS DOUBLE) - CAST(sum_q AS DOUBLE) * CAST(sum_p AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)) / (SQRT((CAST(sum_q2 AS DOUBLE) - CAST(sum_q AS DOUBLE) * CAST(sum_q AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)) * SQRT((CAST(sum_p2 AS DOUBLE) - CAST(sum_p AS DOUBLE) * CAST(sum_p AS DOUBLE) / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1))), 6) AS corr_qp
         FROM g""",
    "rel_string_agg" ->
      """SELECT c_mktsegment, COUNT(*) AS n,
                string_agg(c_name, '|' ORDER BY c_name) AS names
         FROM customer WHERE c_custkey <= 40 GROUP BY 1""",
    "rel_unpivot" ->
      """WITH g AS (
           SELECT l_returnflag,
                  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
                  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
           FROM lineitem GROUP BY 1)
         SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM g
         UNION ALL
         SELECT l_returnflag, 'sum_price' AS metric, sum_price AS value FROM g""",
    "rel_range_frame" ->
      """WITH o AS (
           SELECT o_custkey,
                  CAST(date_diff('day', DATE '1990-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS day,
                  CAST(o_totalprice AS DECIMAL(18,2)) AS tp
           FROM orders WHERE o_custkey <= 200)
         SELECT o_custkey, day,
           CAST(SUM(tp) OVER (PARTITION BY o_custkey ORDER BY day
                RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing_31d
         FROM o""",
    "rel_hash_sample" ->
      """SELECT COUNT(*) AS n_sampled,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sampled_total,
                MIN(o_orderkey) AS min_key,
                MAX(o_orderkey) AS max_key
         FROM orders
         WHERE substring(md5(CAST(o_orderkey AS VARCHAR)), 1, 1) = '0'""",
    "rel_gap_fill" ->
      """WITH cal AS (
           SELECT CAST(d AS DATE) AS od
           FROM generate_series(DATE '1996-01-01', DATE '1996-03-31', INTERVAL 1 DAY) AS t(d)),
         daily AS (
           SELECT CAST(o_orderdate AS DATE) AS od, COUNT(*) AS n_orders
           FROM orders
           WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1996-01-01' AND DATE '1996-03-31'
           GROUP BY 1)
         SELECT CAST(cal.od AS VARCHAR) AS day,
                COALESCE(n_orders, 0) AS n_orders
         FROM cal LEFT JOIN daily ON cal.od = daily.od""",
  )
}
