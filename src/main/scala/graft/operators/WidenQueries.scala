package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.QueryModule
import graft.batch.{TypeWidening, Upsert}

/** Oracle coverage for the TYPE-WIDENING read path (the Delta
  * `enableTypeWidening` analog, [[graft.batch.TypeWidening]]): a managed
  * table is seeded INT, widened to BIGINT, and merged so that only SOME
  * partitions rewrite wide — the declared query then aggregates across
  * the mixed-width boundary, which the DuckDB gate compares hash-exact
  * against pure SQL over the raw parquet every round. Without this
  * entry, the per-partition upcast-union read (narrow partitions cast
  * below the union) was scalatest-only.
  *
  * 100 TB shape: the widening itself is a KB-scale registry write; the
  * read-side upcast is a projection inside each partition's scan — no
  * extra exchange, no extra pass — and the aggregate is an ordinary
  * partial+final hash aggregation over the union.
  */
object WidenQueries extends QueryModule {

  // one widened table per orders state ([[CorpusMemo]]): bench rounds
  // past the first measure the mixed-width READ, not the build
  private val built = new CorpusMemo("orders", "graft-widen")

  /** Build (once per corpus state) the widened table: wave 1 seeds every
    * priority partition with INT `v`; the column widens to BIGINT (pure
    * metadata — no file rewritten); wave 2 merges genuinely-long values
    * into ONLY the '1-URGENT'/'2-HIGH' partitions, leaving the other
    * three physically INT. The build refuses to memoize unless the
    * mixed-width state actually holds, so the query provably exercises
    * the upcast-union legs every round. */
  private[graft] def ensureWidened(s: SparkSession, d: String): String =
    built(s, d) { root =>
      val t = s"$root/orders_w"
      val orders = graft.core.Tables.orders(s, d)
        .select(col("o_orderpriority"), col("o_orderkey"),
          col("o_custkey").cast(IntegerType).as("v"))
      Upsert.mergeByKey(s, t,
        orders.filter(col("o_orderkey") % 2 === 0),
        "o_orderpriority", Seq("o_orderkey"))
      TypeWidening.widen(s, t, "o_orderpriority", "v", LongType)
      Upsert.mergeByKey(s, t,
        orders.filter(col("o_orderkey") % 2 === 1 &&
            (col("o_orderpriority").startsWith("1") ||
              col("o_orderpriority").startsWith("2")))
          .withColumn("v", col("v").cast(LongType) + 3000000000L),
        "o_orderpriority", Seq("o_orderkey"))
      require(TypeWidening.narrowParts(s, t, "o_orderpriority").nonEmpty,
        "widened oracle table must hold MIXED widths — the untouched " +
          "partitions stay physically INT until widenmat")
    } + "/orders_w"

  val queries: Map[String, Q] = Map(
    "widen_mixed_agg" -> ((s: SparkSession, d: String) =>
      Upsert.readCommitted(s, ensureWidened(s, d), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
          count(lit(1)).as("n"),
          sum("v").as("sum_v"),
          min("v").as("min_v"),
          max("v").as("max_v"))))

  val oracleSql: Map[String, String] = Map(
    "widen_mixed_agg" -> """
      SELECT o_orderpriority,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(v) AS BIGINT) AS sum_v,
        CAST(MIN(v) AS BIGINT) AS min_v,
        CAST(MAX(v) AS BIGINT) AS max_v
      FROM (
        SELECT o_orderpriority, CAST(o_custkey AS BIGINT) AS v
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT o_orderpriority, CAST(o_custkey AS BIGINT) + 3000000000 AS v
        FROM orders WHERE o_orderkey % 2 = 1
          AND (o_orderpriority LIKE '1%' OR o_orderpriority LIKE '2%')
      ) w GROUP BY o_orderpriority""")
}
