package graft

import org.apache.spark.sql.SparkSession

import graft.batch.BatchRegistry
import graft.core.{GraftConfig, SparkSessionFactory}
import graft.streaming.SinkCompaction

/** Scheduled-maintenance ops — the operational form of the reference's
  * spec'd-but-unimplemented OPTIMIZE/VACUUM jobs (ref AGENTS.md:1162-1171):
  * compact small files, vacuum unreferenced debris, keep layout/Bloom/ANN
  * artifacts in step with their tables, all honoring the typed config
  * tree's `graft.maintenance` knobs. Two drivers share the SAME op
  * functions, so cron and API runs are behaviorally identical:
  *
  *   - this object's `main` — the cron/scheduler CLI
  *     (`runMain graft.Maintain [tablePath] [mode] [modeArgs…]`);
  *   - `POST /maintenance/run` — [[graft.batch.MaintenanceService]] over
  *     the HTTP facade, with the run tracked through the same
  *     [[graft.batch.BatchRegistry]] lifecycle as batch jobs.
  *
  * Modes ([[runMode]]): `stream` (default) runs the streaming-sink
  * compact/vacuum pair; `upsert <partCol> [layoutCols]` runs the
  * upsert-table small-file compaction ([[graft.batch.Upsert
  * .compactPartitions]]) — sink tables have a commit log to rewrite,
  * upsert tables have partition dirs to coalesce; `zorder <partCol>
  * <col,col[,col]>` runs the multi-dimensional layout rewrite
  * ([[graft.batch.Upsert.optimizeZOrder]], the scheduled
  * `OPTIMIZE … ZORDER BY` form); `bloom <col>` refreshes the per-file
  * Bloom sidecar incrementally ([[graft.core.BloomIndex.refresh]] — only
  * files the sidecar has never seen are read; the upsert write paths
  * already refresh inline after replacing files, so this run mostly
  * catches external appends and builds the first sidecar); `stats <col>`
  * does the same for the per-file min/max zone-map sidecar
  * ([[graft.core.StatsIndex.refresh]] — footer-only reads of new files);
  * `ivf|pq|ivfpq|dedup <partCol> <indexDir>` keeps a persisted index (the
  * three ANN indexes or the MinHash band sidecar) in step with its source
  * table through the one protocol they share,
  * [[graft.operators.DerivedIndex.sync]] — build when absent, else an
  * O(changes) change-feed refresh;
  * `restore <partCol> <version> <key,key>` rolls table content back to a
  * prior version as a new commit ([[graft.batch.Upsert.restoreTo]] —
  * incident recovery over the ops surface); `clone <partCol> <dstDir>
  * [version]` deep-copies a committed snapshot as an independent table
  * ([[graft.batch.Upsert.cloneTo]]); `reorg <partCol>` force-materializes
  * pending deletion vectors into the DV-carrying partitions
  * ([[graft.batch.Upsert.reorgPurge]], Delta's `REORG … APPLY (PURGE)`);
  * `scd2 <partCol> <key,key> <dimDir>` catches an SCD2 dimension mirror
  * up to the table's tip off the change feed
  * ([[graft.batch.Scd2Mirror.sync]]). All modes then share the
  * manifest/history/registry sweeps ([[runSweeps]]). Every op yields one
  * JSON line for the scheduler's log scraper / the API's ops report; the
  * CLI exits non-zero on failure, the API run lands FAILED in the
  * registry. Run while writers to the same table are stopped or rely on
  * the TxnLog OCC claims the ops already take (conflicts abort loudly,
  * never corrupt).
  */
object Maintain {

  /** Modes [[runMode]] accepts, in CLI-arg order. */
  val modes: Set[String] =
    Set("stream", "upsert", "zorder", "bloom", "stats", "ivf", "pq", "ivfpq",
      "restore", "clone", "convert", "reorg", "dedup", "scd2", "cluster",
      "view", "shallow", "materialize", "pack", "packsync", "widen",
      "widenmat")

  /** The change-feed-maintained indexes, by mode word. */
  private val derivedIndexes: Map[String, graft.operators.DerivedIndex] = Map(
    "ivf" -> graft.operators.IvfIndex, "pq" -> graft.operators.PqIndex,
    "ivfpq" -> graft.operators.IvfPqIndex, "dedup" -> graft.operators.DedupIndex)

  /** Run one maintenance mode against `table`. `modeArgs` are the
    * positional args after the mode word (see object doc); `m` supplies
    * the knobs. Returns one JSON line per op performed. Throws on unknown
    * mode / missing args / op failure — callers decide whether that is a
    * non-zero exit (CLI) or a FAILED registry record (API). */
  def runMode(
      spark: SparkSession,
      table: String,
      mode: String,
      modeArgs: Seq[String],
      m: GraftConfig.Maintenance): Seq[String] = {
    val tableJson = graft.http.Json.quote(table)
    require(modes.contains(mode),
      s"Maintain: unknown mode '$mode' (expected ${modes.toSeq.sorted.mkString("'", "', '", "'")}) — " +
        "refusing to guess which maintenance to run")
    def arg(i: Int, what: String): String = modeArgs.lift(i).getOrElse(
      sys.error(s"Maintain: $mode mode needs $what"))
    mode match {
      case "ivf" | "pq" | "ivfpq" | "dedup" =>
        // scheduled index maintenance (three ANN indexes + the MinHash
        // band sidecar): build the table-backed index if absent, else
        // consume the change feed (O(changes) rewrite)
        val partCol = arg(0, s"the partition column ($mode <partCol> <indexDir>)")
        val indexDir = arg(1, s"the index directory ($mode <partCol> <indexDir>)")
        val st = derivedIndexes(mode).sync(spark, table, partCol, indexDir)
        Seq(s"""{"op":"$mode-sync","table":$tableJson,"rebuilt":${st.rebuilt},""" +
          s""""changedRows":${st.changedRows},"toVersion":${st.toVersion}}""")
      case "bloom" =>
        val column = arg(0, "the indexed column (bloom <col>)")
        // incremental: existing filters are reused (data files are
        // immutable), only files the sidecar has never seen are read —
        // builds from scratch when no sidecar exists yet
        val st = graft.core.BloomIndex.refresh(spark, table, column)
        Seq(s"""{"op":"bloom-refresh","table":$tableJson,""" +
          s""""filesIndexed":${st.filesIndexed},"entriesDropped":${st.entriesDropped},""" +
          s""""filesTotal":${st.filesTotal}}""")
      case "stats" =>
        val column = arg(0, "the indexed column (stats <col>)")
        // footer-only incremental: existing per-file intervals are reused
        // (data files are immutable), only new files' footers are read.
        // On a type-widened table the storage tag pins to the registered
        // wide type — never to one sampled (possibly narrow) footer
        val hint =
          if (graft.batch.TableFeatures.features(spark, table)
              .contains(graft.batch.TableFeatures.TypeWideningFeature))
            graft.batch.TypeWidening.widenings(spark, table).get(column)
          else None
        val st = graft.core.StatsIndex.refresh(spark, table, column, hint)
        Seq(s"""{"op":"stats-refresh","table":$tableJson,""" +
          s""""filesIndexed":${st.filesIndexed},"entriesDropped":${st.entriesDropped},""" +
          s""""filesTotal":${st.filesTotal}}""")
      case "zorder" =>
        val partCol = arg(0, "the partition column (zorder <partCol> <col,col> [partValues])")
        val zCols = arg(1, "the cluster columns (zorder <partCol> <col,col> [partValues])")
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        require(zCols.nonEmpty, "Maintain: zorder mode needs non-empty cluster columns")
        // optional 3rd arg: OPTIMIZE … WHERE scope, comma-separated values
        val scope = modeArgs.lift(2)
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
        val n = graft.batch.Upsert.optimizeZOrder(spark, table, partCol, zCols,
          targetBytes = m.targetBytes, onlyPartitions = scope)
        Seq(s"""{"op":"optimize-zorder","table":$tableJson,"partitions":$n}""")
      case "cluster" =>
        // incremental (liquid) clustering over the ops surface: register
        // the keys once (2nd arg), then every scheduled run costs O(churn)
        // — candidates from the txn log, fingerprint skips, footer-stats
        // tightness recognition; only drifted partitions rewrite
        // ([[graft.batch.LiquidClustering.optimize]])
        val partCol = arg(0, "the partition column (cluster <partCol> [col,col])")
        modeArgs.lift(1).foreach { cols =>
          graft.batch.LiquidClustering.setClusterBy(spark, table,
            cols.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        }
        val rep = graft.batch.LiquidClustering.optimize(spark, table, partCol,
          targetBytes = m.targetBytes)
        Seq(s"""{"op":"cluster","table":$tableJson,""" +
          s""""mode":${graft.http.Json.quote(rep.mode)},""" +
          s""""candidates":${rep.candidates},"skippedUnchanged":${rep.skippedUnchanged},""" +
          s""""recognizedTight":${rep.recognizedTight.size},""" +
          s""""rewritten":${rep.rewritten.size},""" +
          s""""skippedBusy":${rep.skippedBusy.size}}""")
      case "view" =>
        // incremental materialized-view refresh over the ops surface: the
        // table arg IS the view directory; its registration names the
        // source; each run consumes only the commits since the cursor
        // ([[graft.batch.IncrementalView.sync]] — O(changes), never a
        // source rescan)
        val st = graft.batch.IncrementalView.sync(spark, table)
        Seq(s"""{"op":"view-sync","table":$tableJson,""" +
          s""""groupsTouched":${st.groupsTouched},""" +
          s""""fromVersion":${st.fromVersion},"toVersion":${st.toVersion}}""")
      case "restore" =>
        // incident recovery over the ops surface: RESTORE VERSION AS OF as
        // a drivable maintenance op (content rollback forward-written as a
        // new commit — see Upsert.restoreTo)
        val partCol = arg(0, "the partition column (restore <partCol> <version> <key,key>)")
        val version = arg(1, "the target version (restore <partCol> <version> <key,key>)")
          .toLongOption.getOrElse(
            sys.error("Maintain: restore mode needs a numeric version"))
        val keys = arg(2, "the key columns (restore <partCol> <version> <key,key>)")
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        require(keys.nonEmpty, "Maintain: restore mode needs non-empty key columns")
        val parts = graft.batch.Upsert.restoreTo(spark, table, version, partCol, keys)
        Seq(s"""{"op":"restore","table":$tableJson,"toVersion":$version,""" +
          s""""partitionsRewritten":${parts.size}}""")
      case "clone" =>
        // deep CLONE over the ops surface: an independent snapshot copy
        // (optionally at a version) for dev/test/backup workflows
        val partCol = arg(0, "the partition column (clone <partCol> <dstDir> [version])")
        val dst = arg(1, "the destination directory (clone <partCol> <dstDir> [version])")
        val version = modeArgs.lift(2).map(v => v.toLongOption.getOrElse(
          sys.error("Maintain: clone version must be numeric")))
        val rows = graft.batch.Upsert.cloneTo(spark, table, dst, partCol, version)
        Seq(s"""{"op":"clone","table":$tableJson,""" +
          s""""dst":${graft.http.Json.quote(dst)},"rows":$rows}""")
      case "shallow" =>
        // SHALLOW CLONE over the ops surface: metadata-only pointer clone
        // at the pinned version — milliseconds at any table size
        val partCol = arg(0, "the partition column (shallow <partCol> <dstDir> [version])")
        val dst = arg(1, "the destination directory (shallow <partCol> <dstDir> [version])")
        val version = modeArgs.lift(2).map(v => v.toLongOption.getOrElse(
          sys.error("Maintain: shallow version must be numeric")))
        val pinned = graft.batch.ShallowClone.create(spark, table, dst, partCol, version)
        Seq(s"""{"op":"shallow","table":$tableJson,""" +
          s""""dst":${graft.http.Json.quote(dst)},"pinnedVersion":$pinned}""")
      case "materialize" =>
        // localize every still-remote partition of a shallow clone; after
        // this, DROP FEATURE shallow-clone graduates it to an ordinary table
        val partCol = arg(0, "the partition column (materialize <partCol>)")
        val parts = graft.batch.ShallowClone.materialize(spark, table, partCol)
        Seq(s"""{"op":"materialize","table":$tableJson,""" +
          s""""localized":${parts.size}}""")
      case "pack" =>
        // the text pipeline's terminal sink over the ops surface: pack
        // the corpus at <docsDir> into this managed shard table
        // ([[graft.operators.PackWriter]]; merge-written, so a re-run
        // after corpus growth upserts only the grown sources' tails)
        val docsDir = arg(0, "the corpus directory (pack <docsDir>)")
        val touched = graft.operators.PackWriter.write(spark, docsDir, table)
        Seq(s"""{"op":"pack","table":$tableJson,""" +
          s""""docsDir":${graft.http.Json.quote(docsDir)},""" +
          s""""sources":${touched.size}}""")
      case "packsync" =>
        // incremental pack maintenance: catch this shard table up with an
        // append-only managed documents table by consuming its change
        // feed — only grown sources' tails rewrite
        // ([[graft.operators.PackWriter.sync]])
        val partCol = arg(0, "the docs partition column (packsync <partCol> <docsTable>)")
        val srcTable = arg(1, "the managed docs table (packsync <partCol> <docsTable>)")
        val st = graft.operators.PackWriter.sync(spark, srcTable, partCol, table)
        Seq(s"""{"op":"packsync","table":$tableJson,""" +
          s""""src":${graft.http.Json.quote(srcTable)},""" +
          s""""rebuilt":${st.rebuilt},"newDocs":${st.newDocs},""" +
          s""""seqsWritten":${st.seqsWritten},"toVersion":${st.toVersion}}""")
      case "widen" =>
        // type widening over the ops surface: declare that <column> now
        // carries <type> — pure metadata, no rewrite
        // ([[graft.batch.TypeWidening.widen]]; narrowing/lossy refused)
        val partCol = arg(0, "the partition column (widen <partCol> <column> <type>)")
        val column = arg(1, "the column (widen <partCol> <column> <type>)")
        val typ = arg(2, "the widened type (widen <partCol> <column> <type>)")
        graft.batch.TypeWidening.widen(spark, table, partCol, column,
          org.apache.spark.sql.catalyst.parser.CatalystSqlParser
            .parseDataType(typ))
        Seq(s"""{"op":"widen","table":$tableJson,""" +
          s""""column":${graft.http.Json.quote(column)},""" +
          s""""to":${graft.http.Json.quote(typ)}}""")
      case "widenmat" =>
        // the REORG-class half of DROP FEATURE type-widening: rewrite the
        // still-narrow partitions at the registered wide types, then
        // clear the registry so the feature drop's residue check passes
        val partCol = arg(0, "the partition column (widenmat <partCol>)")
        val parts = graft.batch.TypeWidening.materialize(spark, table, partCol)
        graft.batch.TypeWidening.clear(spark, table, partCol)
        Seq(s"""{"op":"widen-materialize","table":$tableJson,""" +
          s""""partitionsRewritten":${parts.size}}""")
      case "convert" =>
        // CONVERT TO over the ops surface: adopt an existing plain
        // partitioned-parquet directory into a managed table — one v1
        // manifest commit, zero rewrite ([[graft.batch.Upsert.convert]];
        // the migration on-ramp, drivable with curl like every other op)
        val partCol = arg(0, "the partition column (convert <partCol>)")
        val v = graft.batch.Upsert.convert(spark, table, partCol)
        Seq(s"""{"op":"convert","table":$tableJson,"version":$v}""")
      case "scd2" =>
        // SCD2 mirror maintenance over the ops surface: catch the
        // dimension at <dimDir> up to this table's tip by consuming the
        // change feed ([[graft.batch.Scd2Mirror.sync]] — the canonical
        // CDF-to-dimension CDC pattern, O(changes) per run)
        val partCol = arg(0, "the partition column (scd2 <partCol> <key,key> <dimDir>)")
        val keys = arg(1, "the key columns (scd2 <partCol> <key,key> <dimDir>)")
          .split(",").map(_.trim).filter(_.nonEmpty).toSeq
        require(keys.nonEmpty, "Maintain: scd2 mode needs non-empty key columns")
        val dimDir = arg(2, "the mirror directory (scd2 <partCol> <key,key> <dimDir>)")
        val st = graft.batch.Scd2Mirror.sync(spark, table, dimDir, partCol, keys)
        Seq(s"""{"op":"scd2-sync","table":$tableJson,""" +
          s""""dim":${graft.http.Json.quote(dimDir)},"opened":${st.opened},""" +
          s""""closed":${st.closed},"toVersion":${st.toVersion}}""")
      case "reorg" =>
        // REORG … APPLY (PURGE) over the ops surface: force-materialize
        // pending deletion vectors into exactly the DV-carrying partitions
        // ([[graft.batch.Upsert.reorgPurge]] — the GDPR-deadline verb;
        // follow with the history vacuum after the grace period to finish
        // the erasure, like Delta's REORG-then-VACUUM recipe)
        val partCol = arg(0, "the partition column (reorg <partCol>)")
        val parts = graft.batch.Upsert.reorgPurge(spark, table, partCol,
          targetBytes = m.targetBytes)
        Seq(s"""{"op":"reorg-purge","table":$tableJson,""" +
          s""""partitionsRewritten":${parts.size}}""")
      case "upsert" =>
        val partCol = arg(0, "the partition column (upsert <partCol>)")
        // a streaming-sink table's visible file set is its commit log, not
        // the directory tree — rewriting its partition files here would
        // orphan every logged path; the sink gets the `stream` mode
        val logDir = new org.apache.hadoop.fs.Path(table, "_spark_metadata")
        require(!logDir.getFileSystem(spark.sessionState.newHadoopConf()).exists(logDir),
          s"$table is a streaming file-sink table (has _spark_metadata) — " +
            "use the default stream mode, not upsert")
        // optional 2nd arg: comma-separated layout columns for the rewrite
        // ('-' or absent falls back to the config tree's layout-cols;
        // empty = plain repartition); optional 3rd arg: OPTIMIZE … WHERE
        // scope as comma-separated partition values
        val layout = modeArgs.lift(1).filter(_ != "-")
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(m.layoutCols)
        val scope = modeArgs.lift(2)
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
        val n = graft.batch.Upsert.compactPartitions(spark, table, partCol,
          targetBytes = m.targetBytes, minFilesToCompact = m.minFilesToCompact,
          layoutCols = layout, layoutMode = m.layoutMode,
          onlyPartitions = scope)
        Seq(s"""{"op":"compact-upsert","table":$tableJson,"partitions":$n}""")
      case "stream" =>
        val rep = SinkCompaction.compact(spark, table,
          targetBytes = m.targetBytes,
          minFilesToCompact = m.minFilesToCompact,
          compactInterval = m.compactInterval,
          layoutCols = m.layoutCols,
          layoutMode = m.layoutMode)
        val vac = SinkCompaction.vacuum(spark, table,
          minAgeMs = m.minAgeMs, compactInterval = m.compactInterval)
        Seq(
          s"""{"op":"compact","table":$tableJson,"partitions":${rep.partitionsCompacted},""" +
            s""""filesBefore":${rep.filesBefore},"filesAfter":${rep.filesAfter},""" +
            s""""bytesRewritten":${rep.bytesRewritten}}""",
          s"""{"op":"vacuum","table":$tableJson,"filesRemoved":${vac.filesRemoved},""" +
            s""""bytesRemoved":${vac.bytesRemoved},"dirsRemoved":${vac.dirsRemoved}}""")
    }
  }

  /** The sweeps every mode finishes with: bound the table's OCC manifest
    * (metadata, one small file per commit), vacuum retained time-travel
    * generations past the retention horizon (the min-age knob doubles as
    * the as-of horizon, like Delta's), and prune terminal registry records
    * past retention so a long-lived deployment cannot grow its restart
    * recovery (and /batch/list) without bound. Takes the LIVE registry —
    * the CLI recovers one from disk first, the API passes the serving
    * instance. */
  def runSweeps(
      spark: SparkSession,
      table: String,
      m: GraftConfig.Maintenance,
      registry: BatchRegistry,
      registryDir: String): Seq[String] = {
    val tableJson = graft.http.Json.quote(table)
    val truncated = graft.core.TxnLog.truncate(spark, table)
    val hist = graft.batch.Upsert.vacuumHistory(spark, table, minAgeMs = m.minAgeMs)
    val pruned = registry.prune(m.registryRetentionMs)
    Seq(
      s"""{"op":"txn-truncate","table":$tableJson,"removed":$truncated}""",
      s"""{"op":"history-vacuum","table":$tableJson,"removed":$hist}""",
      s"""{"op":"registry-sweep","dir":${graft.http.Json.quote(registryDir)},""" +
        s""""retained":${registry.size},"pruned":$pruned}""")
  }

  def main(args: Array[String]): Unit = {
    val cfg = GraftConfig.load()
    val table = args.headOption.getOrElse(cfg.stream.tableDir)
    val mode = args.drop(1).headOption.getOrElse("stream")
    val spark = SparkSessionFactory.builder()
      .master(sys.env.getOrElse("GRAFT_SPARK_MASTER", cfg.spark.master))
      .appName(s"${cfg.appName}-maintenance")
      .config("spark.sql.shuffle.partitions", cfg.spark.shufflePartitions)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      runMode(spark, table, mode, args.drop(2).toSeq, cfg.maintenance)
        .foreach(println)
      // crash-recovery mirror: rebuild the terminal records before pruning,
      // so retention is judged over everything a restart would reload
      val reg = new BatchRegistry(Some(cfg.data.registryDir))
      reg.recover()
      runSweeps(spark, table, cfg.maintenance, reg, cfg.data.registryDir)
        .foreach(println)
    } finally spark.stop()
  }
}
