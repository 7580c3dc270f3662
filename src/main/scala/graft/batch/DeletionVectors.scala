package graft.batch

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.TxnLog

/** Merge-on-read row deletes — the Delta deletion-vector analog (Delta's
  * modern default for `DELETE`/`MERGE`, which the reference inherits by
  * enabling full Delta, ref `SparkManager.scala:36-37`).
  *
  * [[Upsert.deleteByKey]] is copy-on-write: removing one row rewrites the
  * row's whole partition. Correct, but at 100 TB a scattered GDPR takedown
  * (one row in each of 1,000 date partitions) rewrites 1,000 partitions to
  * remove 1,000 rows. [[deleteVectored]] instead WRITES KILOBYTES: the
  * positions of the deleted rows, as `(file, row_index)` pairs in a
  * sidecar under `_graft_dv/v<begin>/`, leaving every data file untouched
  * bytes. Readers subtract the positions; the next rewrite of the
  * partition (merge, compaction, Z-order) MATERIALIZES the deletes into
  * the new files for free — exactly Delta's DV lifecycle
  * (write-DV → read-with-DV → OPTIMIZE materializes).
  *
  * Row identity: pairs key on the data file's BASENAME plus the row's
  * position in the file. Basenames are Spark-written UUIDs — unique per
  * table and STABLE under the directory renames that publishing and
  * retention perform (a retired file keeps its name inside
  * `_graft_history/`), so one DV keeps applying to a file wherever the
  * file sits. Positions come from `_metadata.row_index`, the file source's
  * native row-position column — no bookkeeping column in the data.
  *
  * Commit protocol: each touched partition's DV is written under its own
  * TxnLog `dv` claim (begin → write pairs + change files → end), so DV
  * deletes SERIALIZE against merges/compactions of the same partition via
  * the ordinary partition-claim conflict. The claim is NON-RETAINING: no
  * data file changes, hence no pre-image — a crashed dv writer leaves an
  * orphaned `_graft_dv/v<begin>/` that no reader ever consults (pairs are
  * read exclusively through `dv-end` refs, the same
  * write-before-end/read-through-end discipline as change files).
  *
  * Visibility and time travel: the effective deletes at version v are the
  * union of all `dv-end` commits ≤ v. `readAsOf(v)` before a DV commit
  * simply does not subtract it; a later rewrite is version-defining
  * (`upsert-end`), so older snapshots route through its retained
  * generation — where the files keep their names and the ≤-v DV subset
  * applies unchanged.
  *
  * Plan shape: the subtraction is a BROADCAST anti-join of the scan
  * against the pair set — no shuffle of the data, whole-stage codegen
  * intact. Pair volume is bounded by deletes since the last rewrite of
  * each partition; compaction is the pressure valve (as in Delta, where
  * OPTIMIZE rewrites DV-heavy files). Tables with no dv commits pay
  * nothing on any path. */
object DeletionVectors {

  /** Sidecar root; one directory per dv claim, keyed by BEGIN version. */
  private[batch] val DvDir = "_graft_dv"
  private[batch] val FileCol = "_graft_dv_file"
  private[batch] val PosCol = "_graft_dv_pos"

  /** Delete rows matching `keys` by WRITING DELETION VECTORS — kilobytes
    * of position sidecar — instead of rewriting partitions. Same matching
    * semantics as [[Upsert.deleteByKey]] (matched rows removed, unmatched
    * keys no-ops, `keys` needs only `partCol` + `keyCols`), same
    * observability (returns touched partition values), same change-feed
    * row (full pre-image tagged delete, so CDF consumers cannot tell the
    * two delete flavors apart). The pre-delete snapshot stays readable via
    * [[Upsert.readAsOf]] until the positions' files age out of retention —
    * GDPR erasure completes when a rewrite materializes AND vacuum clears
    * the retained pre-images, exactly like Delta DV + VACUUM. */
  def deleteVectored(
      spark: SparkSession,
      table: String,
      keys: DataFrame,
      partCol: String,
      keyCols: Seq[String],
      parallelism: Int = 4): Seq[String] = {
    require(keyCols.nonEmpty, "deleteVectored needs at least one key column")
    require(parallelism >= 1, "parallelism must be >= 1")
    // protocol gate + declaration: a DV is the canonical READER-level
    // feature — ignoring the position sidecar resurrects deleted rows
    TableFeatures.checkWrite(spark, table)
    // DV pairs bind to the clone's OWN files; keys in still-remote
    // partitions would silently no-op — localize (merge) first
    ShallowClone.refuseDirect(spark, table, "deleteVectored")
    TableFeatures.declare(spark, table, TableFeatures.DeletionVectors)
    require(keys.columns.contains(partCol), s"keys must carry $partCol")
    keyCols.foreach(k =>
      require(keys.columns.contains(k), s"keys must carry key column $k"))
    // callers name columns LOGICALLY (like mergeByKey); the row-position
    // probe below joins against raw physical files
    val colMap = ColumnMapping.mapping(spark, table)
    val keysIn = keys
    val keysP = ColumnMapping.applyPhysical(keysIn, colMap)
    val partColP = ColumnMapping.physicalName(colMap, partCol)
    val keyColsP = keyCols.map(ColumnMapping.physicalName(colMap, _))
    deleteVectoredPhysical(spark, table, keysP, partColP, keyColsP, parallelism)
  }

  private def deleteVectoredPhysical(
      spark: SparkSession,
      table: String,
      keys: DataFrame,
      partCol: String,
      keyCols: Seq[String],
      parallelism: Int): Seq[String] = {
    val snapshot = TxnLog.currentVersion(spark, table)
    keys.persist()
    try {
      // same probe discipline as mergeByKey: ambiguous/null inputs are
      // silent data bugs if they reach the sidecar write
      val bad = keys.groupBy(partCol, keyCols: _*)
        .agg(count(lit(1)).as("count"))
        .filter(col("count") > 1 || col(partCol).isNull)
        .limit(1).collect()
      if (bad.nonEmpty)
        throw new IllegalArgumentException(
          s"delete keys contain a duplicate or null $partCol " +
            s"(first: ${bad.head}); keys must be unique and partition " +
            "values non-null")
      val touched = keys.select(col(partCol).cast("string")).distinct()
        .collect().map(_.getString(0)).sorted.toSeq
      val pool = Executors.newFixedThreadPool(
        math.min(parallelism, math.max(1, touched.size)))
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try {
        val jobs = touched.map { p =>
          Future(dvOnePartition(spark, table, keys, partCol, keyCols, p, snapshot))
        }
        val results = jobs.map(f => scala.util.Try(Await.result(f, Duration.Inf)))
        results.collectFirst { case scala.util.Failure(e) => e }.foreach(throw _)
      } finally pool.shutdown()
      touched
    } finally keys.unpersist()
  }

  /** One partition's DV write under its own claim. No-ops (missing
    * partition, zero matches) ABORT the claim — like deleteByKey, nothing
    * may commit an END that changed nothing. */
  private def dvOnePartition(
      spark: SparkSession,
      table: String,
      keys: DataFrame,
      partCol: String,
      keyCols: Seq[String],
      p: String,
      snapshot: Long): Unit = {
    val claim = TxnLog.begin(spark, table, "dv", Set(p), snapshot)
    try {
      val dirName = s"$partCol=${Upsert.escapeValue(p)}"
      val partDir = s"$table/$dirName"
      // restore the committed state before computing positions: a crashed
      // writer's uncommitted files must not donate row positions
      Upsert.repairCrashedWriter(spark, table, dirName, p, claim.version)
      val fs = new org.apache.hadoop.fs.Path(table)
        .getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(new org.apache.hadoop.fs.Path(partDir))) {
        TxnLog.abort(spark, table, claim); return
      }
      val commits = TxnLog.commitsSince(spark, table, 0L)
      val existingDv = pairsAsOf(spark, table, Long.MaxValue, commits)
      val withPos = withPositions(spark.read.parquet(partDir))
      // effective rows only: a row already deleted by an earlier DV must
      // not be re-matched (its change-feed delete already fired)
      val eff = existingDv.fold(withPos)(dv =>
        withPos.join(broadcast(dv), Seq(FileCol, PosCol), "left_anti"))
      val keysP = keys.filter(col(partCol).cast("string") === p)
        .select(keyCols.map(col): _*)
      val matched = eff.join(broadcast(keysP), keyCols, "left_semi").cache()
      try {
        if (matched.limit(1).isEmpty) {
          TxnLog.abort(spark, table, claim); return
        }
        // pairs first, change rows second, both BEFORE the end — the end's
        // ref is the only door to either, so a crash in between leaves
        // unreachable debris, never a half-visible delete
        matched.select(col(FileCol), col(PosCol))
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$table/$DvDir/v${claim.version}")
        if (Upsert.changeFeedOn(spark)) {
          matched.drop(FileCol, PosCol)
            .withColumn(ChangeFeed.ChangeTypeCol, lit("delete"))
            .withColumn(partCol, lit(p).cast(keys.schema(partCol).dataType))
            .coalesce(1).write.mode("overwrite")
            .parquet(s"$table/${ChangeFeed.ChangesDir}/v${claim.version}/" +
              s"c_${Upsert.escapeValue(p)}")
        }
        TxnLog.end(spark, table, claim)
      } finally matched.unpersist()
    } catch {
      case scala.util.control.NonFatal(e) =>
        // nothing installed into the data tree — just drop our sidecar
        // debris and release the claim, never masking the cause
        scala.util.Try {
          val fs = new org.apache.hadoop.fs.Path(table)
            .getFileSystem(spark.sessionState.newHadoopConf())
          fs.delete(new org.apache.hadoop.fs.Path(
            s"$table/$DvDir/v${claim.version}"), true)
          fs.delete(new org.apache.hadoop.fs.Path(
            s"$table/${ChangeFeed.ChangesDir}/v${claim.version}"), true)
        }
        scala.util.Try(TxnLog.abort(spark, table, claim))
        throw e
    }
  }

  /** Tag each scanned row with its (file basename, in-file position)
    * identity from the file source's `_metadata` column. */
  private def withPositions(df: DataFrame): DataFrame =
    df.withColumn(FileCol,
        element_at(split(col("_metadata.file_path"), "/"), -1))
      .withColumn(PosCol, col("_metadata.row_index"))

  /** The deletion pairs in force at `version`: the union of every
    * `dv-end` ≤ `version`'s sidecar. None when no dv commit exists (the
    * common case — callers then skip the join entirely). Sidecars already
    * vacuumed are skipped: [[vacuumDvSidecars]] only removes a sidecar
    * once no live file and no retained generation can bear its target
    * names, and reads needing a vacuumed generation fail loudly in
    * resolution before DV application matters. */
  private[batch] def pairsAsOf(
      spark: SparkSession,
      table: String,
      version: Long,
      all: Seq[TxnLog.Commit]): Option[DataFrame] = {
    val ends = all.filter(c =>
      c.op == "dv-end" && c.ref.isDefined && c.version <= version)
    if (ends.isEmpty) return None
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val dirs = ends.map(e => s"$table/$DvDir/v${e.ref.get}")
      .filter(d => fs.exists(new org.apache.hadoop.fs.Path(d)))
    if (dirs.isEmpty) None
    else Some(spark.read.parquet(dirs: _*).select(FileCol, PosCol))
  }

  /** Subtract deletion pairs from a file-source frame: broadcast anti-join
    * on (file basename, row position) — no shuffle of the data side, and
    * the helper columns never escape. Identity when `pairs` is None. */
  private[batch] def applyTo(
      df: DataFrame, pairs: Option[DataFrame]): DataFrame =
    pairs.fold(df)(dv =>
      withPositions(df).join(broadcast(dv), Seq(FileCol, PosCol), "left_anti")
        .drop(FileCol, PosCol))

  /** Drop dv sidecars that can no longer affect ANY permissible read:
    * older than `cutoff`, every partition rewritten by a later
    * version-defining end, and the FIRST such rewrite's retained
    * generation already vacuumed (pre-DV file names survive retention
    * only there — later rewrites retain post-materialization files).
    * Their change directories ride along. Called from
    * [[Upsert.vacuumHistory]] so one retention policy governs history,
    * change files, and deletion vectors. Returns sidecars removed. */
  private[batch] def vacuumDvSidecars(
      spark: SparkSession,
      table: String,
      cutoff: Long,
      commits: Seq[TxnLog.Commit]): Int = {
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val rewrites = commits.filter(c => c.op == "upsert-end" && c.ref.isDefined)
    val victims = commits
      .filter(c => c.op == "dv-end" && c.ref.isDefined)
      .filter { e =>
        val dir = new org.apache.hadoop.fs.Path(s"$table/$DvDir/v${e.ref.get}")
        def aged = fs.exists(dir) && fs.getFileStatus(dir).getModificationTime < cutoff
        def dead = e.partitions.forall { pv =>
          rewrites.filter(r => r.version > e.version &&
              (r.all || r.partitions.contains(pv)))
            .sortBy(_.version).headOption.exists { r =>
              !fs.exists(new org.apache.hadoop.fs.Path(
                s"$table/${TxnLog.HistoryDir}/v${r.ref.get}"))
            }
        }
        aged && dead
      }
    victims.foreach { e =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$table/$DvDir/v${e.ref.get}"), true)
      fs.delete(new org.apache.hadoop.fs.Path(
        s"$table/${ChangeFeed.ChangesDir}/v${e.ref.get}"), true)
    }
    victims.length
  }
}
