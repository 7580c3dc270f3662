package graft.batch

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, expr, not}

/** Generated columns — the Delta `GENERATED ALWAYS AS (expr)` analog
  * (Delta stores the generation expression in column metadata; writes
  * that omit the column get it computed, writes that supply it must
  * match). Registered per table as column → SQL expression; on every
  * [[Upsert.mergeByKey]] (and therefore the streaming upsert path):
  *
  *   - updates that OMIT the column get it computed from the expression
  *     before anything else — including the PARTITION column, Delta's
  *     marquee use (`event_date GENERATED ALWAYS AS (to_date(ts))`: a
  *     producer ships raw events and the table partitions itself), and
  *     the column-coverage discipline counts the generated column as
  *     covered;
  *   - updates that SUPPLY the column are checked row-by-row against the
  *     expression inside the merge's existing validation probe (zero
  *     extra jobs; null-safe equality) and refused BY NAME before any
  *     claim on a mismatch — exactly Delta, which enforces the
  *     generation expression as a constraint when values are explicit;
  *   - delete-marked rows are exempt (rows leaving need no generation),
  *     and key-only delete updates whose expression inputs are absent
  *     skip generation entirely.
  *
  * [[add]] requires the column to already exist in the table's schema and
  * validates that EXISTING rows match the expression (null-safe), so
  * readers may assume the invariant holds table-wide from registration
  * on. Storage: `_graft_meta/generated-v<N>.json` via [[TableMeta]]
  * (versioned max-wins, crash-safe). */
object GeneratedColumns {

  private val FilePrefix = "generated-v"

  /** Register `column GENERATED ALWAYS AS (exprSql)`. */
  def add(spark: SparkSession, table: String, column: String, exprSql: String): Unit = {
    // on a column-mapped table, the generated column AND its expression
    // inputs must be unmapped — see [[ColumnMapping.refuseMappedInExpression]]
    ColumnMapping.refuseMappedInExpression(spark, table,
      s"generated column $column AS", exprSql)
    val m = ColumnMapping.mapping(spark, table)
    require(!m.contains(column) &&
        ColumnMapping.physicalName(m, column) == column,
      s"generated column $column is renamed or dropped in the column map — " +
        "generation rules bind unmapped names only")
    val df = spark.read.parquet(table)
    require(df.columns.contains(column),
      s"generated column $column does not exist in $table (schema: " +
        s"${df.columns.sorted.mkString(", ")})")
    val mismatched = df.filter(not(col(column) <=> expr(exprSql))).limit(1).collect()
    if (mismatched.nonEmpty)
      throw new IllegalArgumentException(
        s"cannot register $column GENERATED ALWAYS AS ($exprSql): existing " +
          s"rows do not match the expression (first: ${mismatched.head})")
    TableFeatures.declare(spark, table, TableFeatures.GeneratedColumns)
    TableMeta.update(spark, table, FilePrefix)(_ + (column -> exprSql))
  }

  /** Unregister; unknown columns fail loudly. */
  def drop(spark: SparkSession, table: String, column: String): Unit =
    TableMeta.update(spark, table, FilePrefix) { cur =>
      require(cur.contains(column),
        s"no generated column $column on $table (have: " +
          s"${cur.keys.toSeq.sorted.mkString(", ")})")
      cur - column
    }

  /** The registered generation expressions, column → SQL. */
  def list(spark: SparkSession, table: String): Map[String, String] =
    TableMeta.read(spark, table, FilePrefix)
}
