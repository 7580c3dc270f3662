package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.batch.ChangeFeed
import graft.core.FooterSchema

/** The maintenance protocol of an index derived from a TxnLog-maintained
  * table ([[IvfIndex]], [[PqIndex]], [[IvfPqIndex]], [[DedupIndex]]): the
  * table is the single source of truth, and the index follows it by
  * consuming its change data feed — never a corpus rescan.
  *
  * On disk an index directory holds `meta.json` (the table version it
  * reflects plus its indexed key count), the data partitions under
  * `<dataSubdir>/<partCol>=<v>/`, and whatever trained state the concrete
  * index keeps beside them. A refresh:
  *
  *   1. triages `.refresh-v<N>` staging debris (see [[refresh]]);
  *   2. returns at once when the table tip is the recorded version;
  *   3. reads the change feed since that version once (cached);
  *   4. retrains from scratch when the changed keys exceed
  *      [[DerivedIndex.MaxStaleFraction]] of the indexed ones — only for
  *      indexes with trained state, whose fixed quantizers degrade as the
  *      corpus drifts;
  *   5. otherwise asks the concrete index which partitions the change set
  *      touches and which rows they gain, rewrites just those partitions
  *      into `.refresh-v<tip>`, and swaps them in one by one;
  *   6. advances `meta.json` last.
  *
  * Because the trained state stays fixed, a refreshed index is identical
  * to a rebuild pinned to the same state (each index's spec proves it). */
abstract class DerivedIndex(
    dataSubdir: String,
    indexPartCol: String,
    keyCol: String,
    countField: String = "rows") {

  import DerivedIndex._

  protected final def dataDir(indexDir: String): String = s"$indexDir/$dataSubdir"

  /** Full build over the committed table with the trained state surviving
    * in `indexDir` when `pinned` (best effort — torn-swap recovery keeps
    * refresh ≡ pinned rebuild), else with freshly trained state. */
  protected def rebuild(
      s: SparkSession, table: String, partCol: String, indexDir: String,
      pinned: Boolean): Unit

  /** Whether the index holds trained state that drift degrades; only
    * those retrain past [[DerivedIndex.MaxStaleFraction]]. */
  protected def trained: Boolean = true

  /** The partitions a change set touches (a one-column frame of
    * partition values, duplicates allowed) and the rows they gain. The
    * rows carry the column set of the data partitions; the protocol keeps
    * every other row of the touched partitions. */
  protected def delta(s: SparkSession, indexDir: String, d: Delta): (DataFrame, DataFrame)

  /** Build from the committed snapshot of `table`: `write` materializes
    * the data partitions and trained state from the snapshot rows, then
    * the table version read BEFORE the snapshot lands in `meta.json`, so
    * [[refresh]] tails the feed from there. Returns the indexed key
    * count. */
  protected final def buildSnapshot(
      s: SparkSession, table: String, partCol: String, indexDir: String)(
      write: DataFrame => Unit): Long = {
    val version = graft.core.TxnLog.currentVersion(s, table)
    write(graft.batch.Upsert.readCommitted(s, table, partCol))
    val n = indexedKeys(s, indexDir)
    writeMeta(s, indexDir, Meta(version, n))
    n
  }

  /** Catch the index up to its source table's tip from the change feed:
    * removed or updated keys leave their partitions, net-inserted keys
    * land in theirs, and only the touched partitions rewrite — O(changed
    * rows + touched partitions), vs a build's O(corpus).
    *
    * Staging debris triage runs before any early return. `.refresh-v<N>`
    * exists only while a swap is in flight, and `meta.json` advances only
    * after every touched partition is installed and the staging dir is
    * deleted. So debris with N above the recorded version means the last
    * refresh may have died mid-swap, with a staged copy the only surviving
    * image of a partition's unchanged rows, which the feed cannot restore.
    * That recovers by a rebuild pinned to the surviving trained state,
    * then a sweep; unparsable debris is treated the same way. Debris at or
    * below the version comes from a fully installed swap and is swept. */
  def refresh(
      s: SparkSession, table: String, partCol: String, indexDir: String): RefreshStats = {
    val meta = readMeta(s, indexDir)
    val tip = graft.core.TxnLog.currentVersion(s, table)
    val fs = new Path(indexDir).getFileSystem(s.sessionState.newHadoopConf())
    val debris = fs.listStatus(new Path(indexDir))
      .filter(_.getPath.getName.startsWith(".refresh-"))
    val suspectSwap = debris.exists { st =>
      scala.util.Try(st.getPath.getName.stripPrefix(StagingPrefix).toLong)
        .toOption.forall(_ > meta.version)
    }
    if (suspectSwap) rebuild(s, table, partCol, indexDir, pinned = true)
    debris.foreach(st => fs.delete(st.getPath, true))
    if (suspectSwap)
      return RefreshStats(rebuilt = true, 0L, 0L, meta.version, tip)
    if (tip <= meta.version)
      return RefreshStats(rebuilt = false, 0L, 0L, meta.version, tip)
    val changes = ChangeFeed.readChanges(s, table, partCol,
      meta.version, Some(tip)).cache()
    try {
      val changedIds = changes.select(keyCol).distinct()
      val changed = changedIds.count()
      if (trained && changed > MaxStaleFraction * math.max(1L, meta.keys)) {
        rebuild(s, table, partCol, indexDir, pinned = false)
        return RefreshStats(rebuilt = true, changed, 0L, meta.version, tip)
      }
      // the OLDEST delete leg per key carries the row as of the index's
      // version — later legs are intermediate states the index never held,
      // and one of those could name the wrong home and leave a stale row
      val oldest = Window.partitionBy(keyCol)
        .orderBy(col(ChangeFeed.CommitVersionCol).asc)
      val removed = changes.filter(col(ChangeFeed.ChangeTypeCol) === "delete")
        .withColumn("_rd", row_number().over(oldest))
        .filter(col("_rd") === 1)
      // net state per key: the newest leg wins, kept if it is an insert
      // (an update's insert leg outranks its delete leg at one version)
      val newest = Window.partitionBy(keyCol)
        .orderBy(col(ChangeFeed.CommitVersionCol).desc,
          col(ChangeFeed.ChangeTypeCol).desc)
      val inserted = changes.withColumn("_rn", row_number().over(newest))
        .filter(col("_rn") === 1)
        .filter(col(ChangeFeed.ChangeTypeCol) === "insert")
      val live = FooterSchema.read(s, dataDir(indexDir))
      val (touched, added) = delta(s, indexDir, Delta(changedIds, removed, inserted, live))
      val affected = touched.distinct().collect().map(_.get(0)).sortBy(_.toString)
      if (affected.nonEmpty) {
        // rebuild ONLY the touched partitions, into a staging dir (writing
        // over a path read in the same plan is undefined), then swap each
        // one in — a partition emptied by deletes has no staged dir and
        // simply goes away
        val kept = live.filter(col(indexPartCol).isin(affected.toIndexedSeq: _*))
          // dir-name inference may type the partition column narrower
          .withColumn(indexPartCol, col(indexPartCol).cast(added.schema(indexPartCol).dataType))
          .join(changedIds, Seq(keyCol), "left_anti")
        val staging = new Path(s"$indexDir/$StagingPrefix$tip")
        kept.unionByName(added)
          .write.mode("overwrite").partitionBy(indexPartCol).parquet(staging.toString)
        affected.foreach { v =>
          val part = new Path(dataDir(indexDir), s"$indexPartCol=$v")
          val staged = new Path(staging, s"$indexPartCol=$v")
          fs.delete(part, true)
          if (fs.exists(staged) && !fs.rename(staged, part))
            throw new java.io.IOException(s"refresh: failed to install $staged")
        }
        fs.delete(staging, true)
      }
      writeMeta(s, indexDir, Meta(tip, indexedKeys(s, indexDir)))
      RefreshStats(rebuilt = false, changed, affected.length.toLong, meta.version, tip)
    } finally changes.unpersist()
  }

  /** Scheduled-maintenance entry ([[graft.Maintain]]'s index modes):
    * build when no index exists at `indexDir`, refresh it otherwise. A
    * first build read nothing from the feed, so it reports 0 changed
    * rows. */
  def sync(
      s: SparkSession, table: String, partCol: String, indexDir: String): RefreshStats =
    if (metaFile(indexDir).getFileSystem(s.sessionState.newHadoopConf())
        .exists(metaFile(indexDir)))
      refresh(s, table, partCol, indexDir)
    else {
      rebuild(s, table, partCol, indexDir, pinned = false)
      RefreshStats(rebuilt = true, 0L, 0L, 0L, readMeta(s, indexDir).version)
    }

  private def indexedKeys(s: SparkSession, indexDir: String): Long =
    FooterSchema.read(s, dataDir(indexDir)).select(keyCol).distinct().count()

  private def metaFile(indexDir: String) = new Path(s"$indexDir/meta.json")

  private def writeMeta(s: SparkSession, indexDir: String, m: Meta): Unit =
    // overwrite-rename, never create-in-place (a torn meta.json wedges
    // sync() into a throwing refresh loop) and never delete+rename (the
    // gap between them reads as "no index" and triggers a spurious full
    // rebuild) — replaceFile's FileContext OVERWRITE rename closes both
    graft.core.AtomicWrite.replaceFile(s, metaFile(indexDir),
      s"""{"version":${m.version},"$countField":${m.keys}}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private def readMeta(s: SparkSession, indexDir: String): Meta = {
    val p = metaFile(indexDir)
    val in = p.getFileSystem(s.sessionState.newHadoopConf()).open(p)
    val txt =
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    val o = graft.http.Json.parse(txt).asObj
    def num(k: String): Long = o(k) match {
      case graft.http.JNum(n) => n.toLong
      case other => throw new IllegalStateException(s"index meta $p $k: $other")
    }
    Meta(num("version"), num(countField))
  }
}

object DerivedIndex {

  /** Changed keys past this fraction of the indexed ones retrain an index
    * with trained state instead of refreshing it. */
  val MaxStaleFraction = 0.2

  private val StagingPrefix = ".refresh-v"

  private final case class Meta(version: Long, keys: Long)

  /** What a refresh read and rewrote. `rebuilt = true` means a suspected
    * torn swap or drift forced a full build instead; `changedRows` counts
    * the distinct keys read from the feed (0 when none was read). */
  final case class RefreshStats(
      rebuilt: Boolean, changedRows: Long, partitionsTouched: Long,
      fromVersion: Long, toVersion: Long)

  /** One refresh's change set, for [[DerivedIndex.delta]]: the distinct
    * changed keys, each removed key's row as the index holds it, each
    * net-inserted key's new row (both with the source table's columns),
    * and the live data partitions. */
  final case class Delta(
      changedIds: DataFrame, removed: DataFrame, inserted: DataFrame, live: DataFrame)
}
