package graft.batch

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.TxnLog

/** Expectations with quarantine — the production CLEANING shape (DLT's
  * `expect_or_drop`/quarantine pattern; the reference's fraud/quality
  * screens, ref AnalysisAggregator.scala:161-176, are exactly such rules
  * applied at read time). Where a CHECK constraint ([[Constraints]])
  * refuses the WHOLE merge on one bad row, an expectation routes the
  * failing rows to `<table>/_quarantine` — itself a managed table with
  * its own commit log, time travel, and change feed — and commits the
  * survivors, recording exact per-rule counts in the table's own commit
  * ledger (an `"expect"` record per screened merge, queryable via
  * [[recent]] and served in `/table/detail`).
  *
  * Semantics per rule (SQL CHECK discipline, same as [[Constraints]]):
  * a row FAILS a rule only when the expression evaluates to FALSE —
  * UNKNOWN satisfies (express NOT NULL explicitly). Delete-marked rows
  * are exempt (they only leave the table). A row failing several rules
  * is quarantined once, with every failed rule named in its
  * `_expect_failed` column, and counted under each rule.
  *
  * Replay safety: the quarantine write is a keyed MERGE (same partition
  * and key columns as the parent), so a retried merge re-quarantines the
  * same rows idempotently; survivors then merge exactly as before.
  *
  * Scale shape: zero cost when no rules are registered (one registry
  * read per merge, shared with the constraint read). With rules, one
  * extra evaluation pass over the updates batch (never the table), an
  * O(failing rows) quarantine merge, and a metadata-only ledger commit. */
object Expectations {

  private val FilePrefix = "expect-v"

  /** Where the rule-failing rows live. */
  def quarantineDir(table: String): String = s"$table/_quarantine"

  /** The column naming every rule a quarantined row failed. */
  val FailedCol = "_expect_failed"

  /** Register `name EXPECT (exprSql)`. Unlike ADD CONSTRAINT this does
    * NOT validate existing rows — expectations screen FUTURE merges (the
    * table may already hold rows the rule would fail; they stay). */
  def add(spark: SparkSession, table: String, name: String, exprSql: String): Unit = {
    require(name.nonEmpty && !name.exists(c => c == '"' || c == '\\' || c < ' '),
      s"expectation name must be a plain identifier: $name")
    ColumnMapping.refuseMappedInExpression(spark, table,
      s"expectation $name EXPECT", exprSql)
    // the analyzability probe reads the table's files directly
    ShallowClone.refuseDirect(spark, table, "ADD EXPECTATION")
    // a rule that cannot even analyze against the table is a typo, not a
    // screen — refuse at DDL time (the Constraints.add discipline)
    val df = spark.read.parquet(table)
    require(scala.util.Try(
      df.select(org.apache.spark.sql.functions.expr(exprSql))
        .queryExecution.analyzed).isSuccess,
      s"expectation $name EXPECT ($exprSql) does not analyze against " +
        s"$table (columns: ${df.columns.sorted.mkString(", ")})")
    TableMeta.update(spark, table, FilePrefix)(_ + (name -> exprSql))
  }

  /** Remove an expectation; unknown names fail loudly. */
  def drop(spark: SparkSession, table: String, name: String): Unit =
    TableMeta.update(spark, table, FilePrefix) { cur =>
      require(cur.contains(name),
        s"no expectation named $name on $table (have: " +
          s"${cur.keys.toSeq.sorted.mkString(", ")})")
      cur - name
    }

  /** The registered expectations, name → SQL expression. */
  def list(spark: SparkSession, table: String): Map[String, String] =
    TableMeta.read(spark, table, FilePrefix)

  /** Screen `rows` against `rules`: quarantine the failures, commit the
    * per-rule counts to the ledger, return the survivors plus the thunk
    * that frees their pin (the caller holds it until its own merge is
    * done — the survivors frame reads the pinned evaluation). Called
    * from the merge path after generated-column fill (rules may
    * reference generated values) and before identity assignment (a
    * quarantined row must not consume ids). */
  private[batch] def screen(
      spark: SparkSession,
      table: String,
      rows: DataFrame,
      partCol: String,
      keyCols: Seq[String],
      deleteWhen: Option[String],
      rules: Seq[(String, String)]): (DataFrame, () => Unit) = {
    val isDelete: Column =
      deleteWhen.map(m => coalesce(col(m), lit(false))).getOrElse(lit(false))
    // rules the batch's columns cannot analyze are skipped — the same
    // narrowness discipline as merge-time CHECK constraints: it is only
    // legal for deletes-only merges (delete rows are exempt anyway;
    // anything else fails the merge's column-coverage check), and add()
    // already refused rules that cannot analyze against the TABLE
    val live = rules.filter { case (_, sql) =>
      scala.util.Try(rows.select(expr(sql)).queryExecution.analyzed).isSuccess
    }
    if (live.isEmpty) return (rows, () => ())
    val failFlags = live.zipWithIndex.map { case ((_, sql), i) =>
      s"_x_fail_$i" -> (!isDelete && coalesce(expr(sql), lit(true)) === false)
    }
    val flagged0 = failFlags.foldLeft(rows) { case (df, (c, e)) =>
      df.withColumn(c, e)
    }
    val anyFail = failFlags.map { case (c, _) => col(c) }.reduce(_ || _)
    // pin once: the split below walks the batch three times (counts,
    // quarantine, survivors) and must see ONE consistent evaluation;
    // the survivors keep reading the pin, so the CALLER frees it
    val (flagged, free) = graft.core.Pin(flagged0)
    try {
      val countsRow = flagged.agg(
        sum(col(failFlags.head._1).cast("long")).as("c0"),
        failFlags.tail.zipWithIndex.map { case ((c, _), i) =>
          sum(col(c).cast("long")).as(s"c${i + 1}")
        }: _*).collect().head
      val counts = live.zipWithIndex.map { case ((name, _), i) =>
        name -> (if (countsRow.isNullAt(i)) 0L else countsRow.getLong(i))
      }.toMap
      if (counts.values.exists(_ > 0)) {
        val failed = flagged.filter(anyFail)
          .withColumn(FailedCol, concat_ws(",",
            live.zipWithIndex.sortBy(_._1._1).map { case ((name, _), i) =>
              when(col(s"_x_fail_$i"), lit(name))
            }: _*))
          .drop(failFlags.map(_._1) ++ deleteWhen.toSeq: _*)
        Upsert.mergeByKey(spark, quarantineDir(table), failed,
          partCol, keyCols)
      }
      // the audit record rides the PARENT table's ledger — exact counts
      // (zeros included: "screened and found clean" is information)
      TxnLog.commitCounts(spark, table, "expect", counts)
      (flagged.filter(!anyFail).drop(failFlags.map(_._1): _*), free)
    } catch { case e: Throwable => free(); throw e }
  }

  /** The most recent per-rule screening records, newest first:
    * (commit version, rule → failing-row count). */
  def recent(
      spark: SparkSession, table: String,
      limit: Int = 20): Seq[(Long, Map[String, Long])] =
    TxnLog.commitsSince(spark, table, 0L)
      .filter(c => c.op == "expect" && c.counts.isDefined)
      .takeRight(limit).reverse
      .map(c => c.version -> c.counts.get)
}
