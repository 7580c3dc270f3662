package graft.batch

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.core.TxnLog

/** Identity columns — the Delta `GENERATED ALWAYS AS IDENTITY` analog
  * (the one commonly-used generated-column form a row EXPRESSION cannot
  * express: monotonic allocation needs per-commit state, not a formula
  * over the row). Registered per table as column → (start, step); on
  * every [[Upsert.mergeByKey]] (and therefore the streaming upsert
  * path):
  *
  *   - updates that SUPPLY the column are refused BY NAME before any
  *     claim — exactly Delta's GENERATED ALWAYS contract (explicit
  *     values would break the uniqueness the column promises);
  *   - update rows whose key MATCHES an existing row keep that row's
  *     identity value (a MERGE UPDATE never reassigns ids);
  *   - new rows draw consecutive values from a freshly allocated range.
  *
  * == Allocation protocol ==
  *
  * A range is reserved by an `identity` commit in the table's own
  * [[TxnLog]] claiming the RESERVED synthetic partition
  * `_graft_identity:<col>` and carrying `id:<col>:<first>:<last>` in its
  * txn field. OCC serializes allocators: two concurrent merges race on
  * the synthetic claim, the loser re-reads the new high-water mark and
  * retries — so concurrent ranges are DISJOINT by construction, with no
  * lock and no coordinator beyond the commit log every write already
  * uses. The high-water mark additionally lands in
  * `_graft_meta/idhwm-<col>-v<N>.json` after each allocation (max-wins,
  * best-effort), so [[TxnLog.truncate]] aging out old allocation records
  * can never rewind the sequence; reads take whichever of (newest
  * retained record, meta file) carries the higher commit version.
  *
  * Ranges are sized to the WHOLE update set before match status is
  * known, so values burned on matched rows become gaps — Delta's
  * documented contract (identity values are unique and monotonic, NOT
  * contiguous), and the same reason a crashed-and-replayed streaming
  * merge is safe: the replay's matched rows keep their committed ids,
  * its fresh rows draw from a new disjoint range, and the abandoned
  * range is just a gap.
  *
  * Scale shape: allocation is O(1) driver metadata (one commit + one
  * small file); assignment is one `zipWithIndex` pass over the UPDATES
  * (the delta, never the table) plus one key-join against only the
  * touched partitions.
  */
object IdentityColumns {

  private val FilePrefix = "identity-v"
  /** Reserved claim-value prefix for allocation commits; real partition
    * values never start with it by convention (documented, like Delta's
    * reserved column prefixes). */
  private def claimValue(column: String) = s"_graft_identity:$column"
  private def hwmPrefix(column: String) = s"idhwm-$column-v"

  final case class IdentitySpec(start: Long, step: Long)

  /** Register `column BIGINT GENERATED ALWAYS AS IDENTITY (START WITH
    * `start` INCREMENT BY `step`)`. Legal on a not-yet-written table (the
    * Delta-normal case — identity is declared at creation; the first
    * merge then materializes the column), or on an existing table whose
    * `column` is a BIGINT with unique non-null values (the adoption
    * case — the sequence seeds past the existing maximum so old and new
    * ids never collide). */
  def add(
      spark: SparkSession,
      table: String,
      column: String,
      start: Long = 1L,
      step: Long = 1L): Unit = {
    // validate-before-write: the declaration invariants run BEFORE the
    // adoption probe can write the high-water-mark sidecar — a failing
    // require must not leave an orphan hwm file for a column that was
    // never registered
    validateDeclaration(spark, table, column, step)
    val existing =
      try Some(spark.read.parquet(table))
      catch { case e: org.apache.spark.sql.AnalysisException
          if e.getMessage != null && (e.getMessage.contains("PATH_NOT_FOUND") ||
            // a table dir holding only metadata (manifest/registries, no
            // data files yet) is declaration-legal too — the first merge
            // materializes the column exactly like the no-dir case
            e.getMessage.contains("UNABLE_TO_INFER_SCHEMA")) =>
        None }
    existing.foreach { df =>
      require(df.columns.contains(column),
        s"identity column $column does not exist in $table (schema: " +
          s"${df.columns.sorted.mkString(", ")}); on an existing table " +
          "identity adopts a present BIGINT column")
      require(df.schema(column).dataType == LongType,
        s"identity column $column must be BIGINT, found " +
          df.schema(column).dataType.simpleString)
      val bad = df.groupBy(col(column)).agg(count(lit(1)).as("n"))
        .filter(col(column).isNull || col("n") > 1).limit(1).collect()
      if (bad.nonEmpty)
        throw new IllegalArgumentException(
          s"cannot adopt $column as GENERATED ALWAYS AS IDENTITY: existing " +
            s"values are not unique non-null (first offender: ${bad.head})")
      // seed the sequence PAST the adopted values, in the step's direction
      val agg = if (step > 0) max(col(column)) else min(col(column))
      val row = df.agg(agg.as("m")).collect().head
      if (!row.isNullAt(0))
        writeHwm(spark, table, column,
          version = TxnLog.currentVersion(spark, table), last = row.getLong(0))
    }
    declare(spark, table, column, start, step)
  }

  /** Registration WITHOUT the adoption probe: the registration-time
    * invariant checks plus the meta write, nothing else. For system
    * features that backfill the column themselves immediately after
    * registering — [[RowTracking.enable]] registers first so the backfill
    * merge's identity assignment mints the ids through the normal
    * allocation protocol (calling [[add]] instead would refuse: the
    * column does not exist yet on the already-written table). */
  private[batch] def declare(
      spark: SparkSession,
      table: String,
      column: String,
      start: Long = 1L,
      step: Long = 1L): Unit = {
    validateDeclaration(spark, table, column, step)
    TableFeatures.declare(spark, table, TableFeatures.Identity)
    TableMeta.update(spark, table, FilePrefix) { cur =>
      // re-checked against a racing declaration of the same column
      require(!cur.contains(column),
        s"$column is already an identity column of $table")
      cur + (column -> s"$start:$step")
    }
  }

  /** The registration-time invariants, check-only (no writes): shared by
    * [[add]] (which must validate BEFORE its adoption probe touches the
    * hwm sidecar) and [[declare]]. */
  private def validateDeclaration(
      spark: SparkSession, table: String, column: String, step: Long): Unit = {
    require(step != 0, "identity step must be non-zero")
    require(!list(spark, table).contains(column),
      s"$column is already an identity column of $table")
    require(!GeneratedColumns.list(spark, table).contains(column),
      s"$column is a generated column of $table — a column is either " +
        "expression-generated or identity-generated, not both")
    val m = ColumnMapping.mapping(spark, table)
    require(!m.contains(column) &&
        ColumnMapping.physicalName(m, column) == column,
      s"identity column $column is renamed or dropped in the column map — " +
        "identity binds unmapped names only")
  }

  /** Unregister; unknown columns fail loudly. Allocation state is kept —
    * re-adding the column resumes past the old high-water mark. */
  def drop(spark: SparkSession, table: String, column: String): Unit =
    TableMeta.update(spark, table, FilePrefix) { cur =>
      require(cur.contains(column),
        s"no identity column $column on $table (have: " +
          s"${cur.keys.toSeq.sorted.mkString(", ")})")
      cur - column
    }

  /** The registered identity columns, column → spec. */
  def list(spark: SparkSession, table: String): Map[String, IdentitySpec] =
    TableMeta.read(spark, table, FilePrefix).map { case (c, s) =>
      val Array(st, sp) = s.split(":", 2)
      c -> IdentitySpec(st.toLong, sp.toLong)
    }

  /** Reserve `n` consecutive identity values for `column`, returning the
    * first. See the object doc's allocation protocol; retries version
    * races and concurrent allocators, fails loudly after sustained
    * contention. */
  def allocate(spark: SparkSession, table: String, column: String, n: Long): Long = {
    require(n > 0, "identity allocation needs a positive count")
    val spec = list(spark, table).getOrElse(column,
      throw new IllegalArgumentException(
        s"$column is not an identity column of $table"))
    var attempts = 0
    while (attempts < 50) {
      attempts += 1
      val snapshot = TxnLog.currentVersion(spark, table)
      val first = highWaterMark(spark, table, column)
        .fold(spec.start)(_._2 + spec.step)
      val last = first + (n - 1) * spec.step
      try {
        val c = TxnLog.commit(spark, table, "identity",
          Set(claimValue(column)), snapshot,
          txn = Some(s"id:$column:$first:$last"))
        // durable floor against log truncation; best-effort (the retained
        // record covers until the NEXT allocation re-tries this write)
        try writeHwm(spark, table, column, c.version, last)
        catch { case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"graft: identity high-water-mark write for $table.$column " +
              s"failed (the log record at v${c.version} covers it): $e") }
        return first
      } catch {
        case _: TxnLog.ConcurrentWriteException => () // lost the race; re-read
      }
    }
    throw new IllegalStateException(
      s"identity allocation for $table.$column still contended after " +
        s"$attempts attempts")
  }

  /** Newest allocation floor as (commit version, last value): the newer
    * of the newest retained `identity` record and the durable meta file. */
  private def highWaterMark(
      spark: SparkSession, table: String, column: String): Option[(Long, Long)] = {
    val prefix = s"id:$column:"
    val fromLog = TxnLog.commitsSince(spark, table, 0L)
      .filter(c => c.op == "identity" && c.txn.exists(_.startsWith(prefix)))
      .lastOption.map { c =>
        val last = c.txn.get.stripPrefix(prefix).split(":")(1).toLong
        (c.version, last)
      }
    val meta = TableMeta.read(spark, table, hwmPrefix(column))
    val fromMeta = for {
      v <- meta.get("version").flatMap(_.toLongOption)
      l <- meta.get("last").flatMap(_.toLongOption)
    } yield (v, l)
    (fromLog.toSeq ++ fromMeta).maxByOption(_._1)
  }

  private def writeHwm(
      spark: SparkSession, table: String, column: String,
      version: Long, last: Long): Unit =
    TableMeta.write(spark, table, hwmPrefix(column),
      Map("version" -> version.toString, "last" -> last.toString))

  /** Merge-side assignment: give every row of `updates` its identity
    * value for `column` — the EXISTING row's value where the key matches
    * (ids never change on update), a fresh value from one allocated range
    * otherwise. Deletes-only merges pass through untouched (their rows
    * only leave; key-only updates stay key-only). Called by
    * [[Upsert.mergeByKey]] after generated-column fill, before
    * validation. */
  private[batch] def assign(
      spark: SparkSession,
      table: String,
      updates: DataFrame,
      partCol: String,
      keyCols: Seq[String],
      column: String,
      deleteWhen: Option[String]): DataFrame = {
    require(column != partCol,
      s"identity column $column cannot be the partition column (every row " +
        "would open its own partition)")
    require(!keyCols.contains(column),
      s"identity column $column cannot be a merge key: GENERATED ALWAYS " +
        "refuses supplied values, so no update could ever address a row " +
        "by it — merge on the natural key instead")
    if (deleteWhen.exists(m => updates.filter(!col(m)).limit(1).isEmpty))
      return updates // deletes-only: nothing enters the table
    val n = updates.count()
    if (n == 0) return updates.withColumn(column, lit(null).cast(LongType))
    // existing ids of the touched partitions only — the key-join's small
    // side. Read BEFORE allocating, so a read failure burns no range; an
    // AnalysisException here means "no readable table yet" (first merge
    // creates it — the path is missing, or holds only the manifest the
    // identity declaration itself wrote), never a data error: any real
    // data problem resurfaces loudly in the merge's own claimed read.
    val touched = updates.select(col(partCol).cast("string")).distinct()
      .collect().map(_.getString(0)).toSeq
    val existing =
      try {
        val t = Upsert.readCommitted(spark, table, partCol)
        if (t.columns.contains(column) && touched.nonEmpty)
          Some(t.filter(col(partCol).cast("string").isin(touched: _*))
            .select((partCol +: keyCols).map(col) :+
              col(column).as("_graft_id_existing"): _*))
        else None
      } catch {
        case _: org.apache.spark.sql.AnalysisException => None
      }
    // provisional consecutive ids — zipWithIndex is the one RDD round-trip
    // in the engine's write path, justified: contiguous per-row indices
    // over an arbitrary distributed frame have no Column-API form, the
    // pass is narrow (no shuffle), and it runs over the DELTA, never the
    // table
    val spec = list(spark, table)(column)
    val first = allocate(spark, table, column, n)
    val prov = "_graft_id_prov"
    require(!updates.columns.contains(prov), s"reserved column name: $prov")
    val schema = updates.schema.add(prov, LongType, nullable = false)
    val withProv = spark.createDataFrame(
      updates.rdd.zipWithIndex.map { case (r, i) =>
        Row.fromSeq(r.toSeq :+ (first + i * spec.step)) },
      schema)
    existing match {
      case None =>
        withProv.withColumn(column, col(prov)).drop(prov)
      case Some(ex) =>
        val joinCols = partCol +: keyCols
        withProv.join(ex, joinCols, "left")
          .withColumn(column, coalesce(col("_graft_id_existing"), col(prov)))
          .drop(prov, "_graft_id_existing")
    }
  }
}
