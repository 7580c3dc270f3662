package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.QueryModule
import graft.core.Tables

/** The `spark.sql(...)` API surface: the same engine capabilities driven
  * through ANSI SQL text instead of the DataFrame DSL — multi-way join
  * graphs, correlated EXISTS subqueries, scalar subqueries. The SQL here is
  * written in the dialect intersection of Spark and DuckDB, so the ORACLE
  * RUNS THE IDENTICAL TEXT — parser-level parity, not just plan-level.
  *
  * Catalyst compiles these to the same optimized plans as the DSL forms
  * (broadcastable dimension joins, semi-join for EXISTS, partial+final
  * aggregation), so everything in the scale notes of
  * [[RelationalQueries]] applies unchanged.
  */
object SqlQueries extends QueryModule {

  /** Temp views over the tables the SQL needs (idempotent per session+dir).
    * Deliberately NOT all of Tables.all: a load resolves its schema
    * eagerly (from one footer, [[graft.core.FooterSchema]]), and an
    * `events.parquet` written as TIMESTAMP_NANOS needs the nanosAsLong
    * normalization in [[Tables.events]] — registering it raw here would
    * throw before any SQL even runs. */
  private val needed = Seq(
    "customer", "orders", "lineitem", "supplier", "nation", "region", "part")
  // Temp-view names are session-global, so the memo tracks the ONE dir whose
  // views are currently registered per session and re-registers whenever a
  // query targets a different dir. A (session, dir)-keyed "already done" set
  // would silently serve dir A's queries from dir B's views after an
  // A → B → A sequence. Weak keys: no strong SparkSession reference retained
  // across session restarts in a long-lived JVM.
  private val registeredDir =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String]())
  private def views(s: SparkSession, d: String): Unit =
    registeredDir.synchronized { // atomic check+register per session
      if (registeredDir.get(s) != d) {
        // 7 footer reads on the driver, once per session+dir switch
        needed.foreach(t => Tables.load(s, d, t).createOrReplaceTempView(t))
        registeredDir.put(s, d)
      }
    }

  /** TPC-H Q5 shape: 6-table join, region filter, date window, grouped
    * revenue. `c_nationkey = s_nationkey` makes supplier locality matter. */
  private val q5 =
    """SELECT n_name,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                  (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
         COUNT(*) AS n_items
       FROM customer
       JOIN orders   ON c_custkey = o_custkey
       JOIN lineitem ON l_orderkey = o_orderkey
       JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       JOIN nation   ON s_nationkey = n_nationkey
       JOIN region   ON n_regionkey = r_regionkey
       WHERE r_name = 'ASIA'
         AND o_orderdate >= CAST('1996-01-01' AS DATE)
         AND o_orderdate < CAST('1997-01-01' AS DATE)
       GROUP BY n_name"""

  /** TPC-H Q4 shape: correlated EXISTS subquery (planned as a semi-join). */
  private val q4 =
    """SELECT o_orderpriority, COUNT(*) AS order_count
       FROM orders
       WHERE o_orderdate >= CAST('1996-01-01' AS DATE)
         AND o_orderdate < CAST('1996-07-01' AS DATE)
         AND EXISTS (
           SELECT 1 FROM lineitem
           WHERE l_orderkey = o_orderkey AND l_discount > 0.05)
       GROUP BY o_orderpriority"""

  /** Scalar subquery: parts priced above the global average retail price.
    * The average is exact-decimal-sum / count (Ora discipline): Spark's
    * AVG(DECIMAL) rounds to DECIMAL(22,6) while DuckDB's returns DOUBLE —
    * same SQL text, different thresholds. Sum-then-divide is bit-identical
    * in both engines. */
  private val qScalar =
    """SELECT p_brand, COUNT(*) AS n_premium,
         CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS premium_value
       FROM part
       WHERE p_retailprice >
         (SELECT CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE)
                 / COUNT(*) FROM part) * 1.02
       GROUP BY p_brand"""

  /** TPC-H Q7 shape: self-joined dimension (nation × 2 roles), non-equi
    * cross-nation predicate, per-year revenue. */
  private val q7 =
    """SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(YEAR(l_shipdate) AS BIGINT) AS l_year,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                  (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
       FROM supplier
       JOIN lineitem ON s_suppkey = l_suppkey
       JOIN orders   ON o_orderkey = l_orderkey
       JOIN customer ON c_custkey = o_custkey
       JOIN nation n1 ON s_nationkey = n1.n_nationkey
       JOIN nation n2 ON c_nationkey = n2.n_nationkey
       WHERE n1.n_name <> n2.n_name
         AND l_shipdate >= CAST('1995-01-01' AS DATE)
         AND l_shipdate < CAST('1997-01-01' AS DATE)
       GROUP BY 1, 2, 3"""

  /** TPC-H Q10 shape: returned-item revenue per customer. */
  private val q10 =
    """SELECT c_custkey, c_name, n_name,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                  (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
         COUNT(*) AS n_items
       FROM customer
       JOIN orders   ON c_custkey = o_custkey
       JOIN lineitem ON l_orderkey = o_orderkey
       JOIN nation   ON c_nationkey = n_nationkey
       WHERE l_returnflag = 'R'
         AND o_orderdate >= CAST('1996-01-01' AS DATE)
         AND o_orderdate < CAST('1996-07-01' AS DATE)
       GROUP BY 1, 2, 3"""

  /** TPC-H Q3 shape: segment-filtered join, grouped revenue, TOP-10 over
    * the aggregate (ORDER BY an aggregated column + LIMIT — plans as
    * TakeOrderedAndProject over the final agg, never a global sort).
    * Total-ordered tiebreak (unique l_orderkey) so the LIMIT membership is
    * deterministic; revenue is an exact decimal sum cast to double, so the
    * ordering agrees bit-for-bit across engines. */
  private val q3 =
    """SELECT l_orderkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
                  (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
         CAST(CAST(o_orderdate AS DATE) AS STRING) AS o_orderdate, o_orderpriority
       FROM customer
       JOIN orders   ON c_custkey = o_custkey
       JOIN lineitem ON l_orderkey = o_orderkey
       WHERE c_mktsegment = 'BUILDING'
         AND o_orderdate < CAST('1996-06-01' AS DATE)
         AND l_shipdate > CAST('1996-06-01' AS DATE)
       GROUP BY l_orderkey, CAST(CAST(o_orderdate AS DATE) AS STRING), o_orderpriority
       ORDER BY revenue DESC, o_orderdate, l_orderkey
       LIMIT 10"""

  /** TPC-H Q16 shape: distinct-supplier counts per part attribute with a
    * NOT IN exclusion subquery (anti-join; safe here because s_suppkey is
    * non-null — the NOT-IN-with-nulls trap is covered separately by
    * rel_null_antijoin). partsupp does not exist in this corpus, so the
    * part↔supplier relationship comes from lineitem, same join shape. */
  private val q16 =
    """SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
       FROM lineitem
       JOIN part ON p_partkey = l_partkey
       WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
       GROUP BY p_brand, p_size"""

  /** TPC-H Q18 shape: large-quantity orders via IN over a grouped HAVING
    * subquery (planned as a semi-join against the re-aggregated lineitem —
    * the aggregate-filter-then-join idiom). */
  private val q18 =
    """SELECT c_name, c_custkey, o_orderkey,
         CAST(CAST(o_orderdate AS DATE) AS STRING) AS o_orderdate,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
       FROM customer
       JOIN orders   ON c_custkey = o_custkey
       JOIN lineitem ON o_orderkey = l_orderkey
       WHERE o_orderkey IN (
         SELECT l_orderkey FROM lineitem
         GROUP BY l_orderkey
         HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300)
       GROUP BY c_name, c_custkey, o_orderkey, CAST(CAST(o_orderdate AS DATE) AS STRING)"""

  /** Correlated LATERAL subquery: per-nation top-2 customers by balance —
    * the SQL-text form of ranked-per-group retrieval (both engines plan the
    * correlated limit as a per-group top-k, not a full sort). Tie-broken on
    * name so the result is total-ordered and deterministic. */
  private val qLateral =
    """SELECT n_name, t.c_name, t.c_acctbal
       FROM nation, LATERAL (
         SELECT c_name, c_acctbal FROM customer
         WHERE c_nationkey = n_nationkey
         ORDER BY c_acctbal DESC, c_name LIMIT 2) AS t"""

  /** Recursive CTE (Spark 4 `WITH RECURSIVE`, same text in DuckDB): the
    * length distribution of each customer's strictly-increasing spend
    * streak from their first order — a recursive successor join whose
    * depth is data-bounded (P(streak ≥ k) falls factorially), exercising
    * the anchor/step/column-list surface plus a plain CTE and a window
    * inside one recursive WITH clause. */
  private val qRecursive =
    """WITH RECURSIVE ord AS (
         SELECT o_custkey, o_totalprice,
                ROW_NUMBER() OVER (
                  PARTITION BY o_custkey
                  ORDER BY o_orderdate, o_orderkey) AS rn
         FROM orders
         WHERE o_custkey % 10 = 0),
       chain(o_custkey, rn, o_totalprice, len) AS (
         SELECT o_custkey, rn, o_totalprice, 1 FROM ord WHERE rn = 1
         UNION ALL
         SELECT nxt.o_custkey, nxt.rn, nxt.o_totalprice, c.len + 1
         FROM chain c
         JOIN ord nxt
           ON nxt.o_custkey = c.o_custkey
          AND nxt.rn = c.rn + 1
          AND nxt.o_totalprice > c.o_totalprice)
       SELECT streak_len, COUNT(*) AS n_customers
       FROM (SELECT o_custkey, MAX(len) AS streak_len
             FROM chain GROUP BY o_custkey)
       GROUP BY streak_len
       ORDER BY streak_len"""

  private def run(sql: String)(s: SparkSession, d: String): DataFrame = {
    views(s, d)
    s.sql(sql)
  }

  /** [[qRecursive]] with the `ord` CTE materialized ONCE: Spark plans a
    * recursive CTE as a UnionLoop whose STEP subtree re-executes per
    * iteration, so the inline `ord` (scan + per-customer window) was
    * re-scanned and re-windowed at every recursion depth — depth here is
    * the longest increasing-spend streak, so the whole corpus window ran
    * ~max(len)+1 times (guide §2.4: remove repeated passes). The windowed
    * frame is eagerly checkpointed (|custkey%10=0 orders| rows — small),
    * the recursion joins against it, and only the |streak_len|-row result
    * survives (intermediate blocks freed, [[graft.core.Pin]] discipline).
    * The recursive step/anchor text is OTHERWISE IDENTICAL to
    * [[qRecursive]], which remains the oracle's replay — row-identical by
    * construction (the CTE was referentially pure), hash-checked every
    * round. */
  /** Dev-only plan probe ([[graft.Plans]]): the recursion WITHOUT the
    * terminal localCheckpoint, so the committed plan dump shows the
    * UnionLoop body joining the pinned `ord_materialized` stub — i.e. no
    * Window inside the loop — instead of the 7-line checkpointed
    * ExistingRDD the declared query's dump collapses to (r20 verdict
    * asked for exactly this auditability). Same construction as
    * [[runRecursive]] minus the checkpoint+free of the result. */
  private[graft] def recursivePlanProbe(s: SparkSession, d: String): DataFrame =
    runRecursiveImpl(s, d, checkpoint = false)

  private def runRecursive(s: SparkSession, d: String): DataFrame =
    runRecursiveImpl(s, d, checkpoint = true)

  private def runRecursiveImpl(
      s: SparkSession, d: String, checkpoint: Boolean): DataFrame = {
    views(s, d)
    val (ord, freeOrd) = graft.core.Pin(s.sql(
      """SELECT o_custkey, o_totalprice,
                ROW_NUMBER() OVER (
                  PARTITION BY o_custkey
                  ORDER BY o_orderdate, o_orderkey) AS rn
         FROM orders
         WHERE o_custkey % 10 = 0"""))
    ord.createOrReplaceTempView("ord_materialized")
    val out = s.sql(
      """WITH RECURSIVE
         chain(o_custkey, rn, o_totalprice, len) AS (
           SELECT o_custkey, rn, o_totalprice, 1
           FROM ord_materialized WHERE rn = 1
           UNION ALL
           SELECT nxt.o_custkey, nxt.rn, nxt.o_totalprice, c.len + 1
           FROM chain c
           JOIN ord_materialized nxt
             ON nxt.o_custkey = c.o_custkey
            AND nxt.rn = c.rn + 1
            AND nxt.o_totalprice > c.o_totalprice)
       SELECT streak_len, COUNT(*) AS n_customers
       FROM (SELECT o_custkey, MAX(len) AS streak_len
             FROM chain GROUP BY o_custkey)
       GROUP BY streak_len
       ORDER BY streak_len""")
    if (!checkpoint) return out // plan probe: keep ord pinned, plan visible
    val pinned = out.localCheckpoint(true)
    freeOrd()
    pinned
  }

  val queries: Map[String, Q] = Map(
    "sql_join_graph" -> (run(q5) _),
    "sql_exists_subquery" -> (run(q4) _),
    "sql_scalar_subquery" -> (run(qScalar) _),
    "sql_cross_nation" -> (run(q7) _),
    "sql_returned_items" -> (run(q10) _),
    "sql_lateral_topn" -> (run(qLateral) _),
    "sql_topk_over_agg" -> (run(q3) _),
    "sql_not_in_anti" -> (run(q16) _),
    "sql_in_having" -> (run(q18) _),
    "sql_recursive_chain" -> (runRecursive _),
  )

  val oracleSql: Map[String, String] = Map(
    "sql_join_graph" -> q5,
    "sql_exists_subquery" -> q4,
    "sql_scalar_subquery" -> qScalar,
    "sql_cross_nation" -> q7,
    "sql_returned_items" -> q10,
    "sql_lateral_topn" -> qLateral,
    "sql_topk_over_agg" -> q3,
    "sql_not_in_anti" -> q16,
    "sql_in_having" -> q18,
    "sql_recursive_chain" -> qRecursive,
  )
}
