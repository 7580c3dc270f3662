package graft.batch

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{AtomicWrite, FooterSchema, TxnLog}

/** Partition-granularity MERGE (upsert) for plain-Parquet tables — the
  * stand-in for the `MERGE INTO` the reference would get from Delta
  * (ref `SparkManager.scala:36-37` enables Delta ACID; no Delta jars exist
  * in this environment, see SURVEY.md §2.1).
  *
  * Semantics per key: an update row replaces the existing row with the same
  * key (matched → update), a new key inserts (unmatched → insert), existing
  * rows without an update survive untouched. The unit of rewrite is the
  * PARTITION: only partitions present in `updates` are read or written —
  * sibling partitions are untouched bytes on disk. That is the property that
  * makes the operation delta-scaled at 100 TB: upserting one day into a
  * three-year partitioned table touches ~1/1000th of the data, and the cost
  * is independent of total table size.
  *
  * Each touched partition directory is republished via
  * [[graft.core.AtomicWrite.publish]] in retain-first mode: the pre-image
  * moves into `_graft_history` in the SAME rename that retires it, then the
  * new tree installs — a concurrent reader observes complete-old or
  * complete-new data per partition, never a half-written directory, and a
  * snapshot reader never observes installed data whose pre-image is not yet
  * findable in history.
  *
  * Concurrent WRITERS are serialized by the table's [[graft.core.TxnLog]]
  * manifest (the Delta optimistic-concurrency analog): each merge claims
  * ALL its touched partitions in one record on top of the snapshot
  * version read before any table data, so two merges sharing a partition
  * fail loudly with [[graft.core.TxnLog.ConcurrentWriteException]] instead
  * of silently last-winning; merges of disjoint partitions proceed
  * unimpeded. One merge is one claim and one end, so it commits all its
  * partitions at once, as one Delta MERGE is one commit.
  */
object Upsert {

  /** Merge `updates` into the partitioned Parquet table at `table`.
    *
    * @param table    root of a table laid out as `table/<partCol>=<value>/…`
    *                 (written with `.partitionBy(partCol)`)
    * @param updates  new/changed rows; must contain `partCol` and `keyCols`;
    *                 keys must be unique within `updates` (fails fast
    *                 otherwise — ambiguous matched-rows are a silent data
    *                 bug in MERGE implementations); the non-partition
    *                 columns must COVER every column of each touched
    *                 partition (narrower updates would silently drop the
    *                 uncovered columns from surviving rows — refused, like
    *                 Delta MERGE which preserves unmentioned columns).
    *                 Updates carrying NEW columns the table lacks widen the
    *                 touched partitions (old rows null-fill) when
    *                 `graft.schema.autoMerge.enabled=true` — the Delta
    *                 `schema.autoMerge` analog the reference enables (ref
    *                 `SparkManager.scala:36`) — and are refused loudly
    *                 otherwise; untouched partitions stay narrow and read
    *                 null-filled through the mergeSchema union read path
    * @param partCol  the table's partition column; values are escaped into
    *                 directory names exactly as Spark's `partitionBy` does
    *                 (so timestamps with ':' etc. match the layout on disk);
    *                 null values are refused
    * @param keyCols  match key within a partition
    * @param deleteWhen name of a BOOLEAN column of `updates`: rows where it
    *                 is true are DELETES (matched rows removed, unmatched
    *                 no-ops — Delta's `WHEN MATCHED THEN DELETE`), rows
    *                 where it is false merge as usual; the column itself is
    *                 never written. Null markers are refused. When EVERY
    *                 row is a delete, `updates` needs only `partCol` +
    *                 `keyCols` (no coverage requirement — nothing is
    *                 unioned into the survivors); see [[deleteByKey]].
    * @return the touched partition values, for observability
    *
    * Scale notes: the only driver-side materializations are the DISTINCT
    * (partition, has upsert rows) pairs of the delta (bounded by its
    * partition count, not by rows) and two commit records. Every touched
    * partition's rewrite is staged by ONE Spark write; the rest is renames
    * on the driver.
    *
    * Atomicity: the merge is all-or-nothing across its partitions, as one
    * Delta MERGE is one commit. Readers resolve every touched partition
    * through its pre-image until the single end record lands. A failure
    * anywhere after the claim rolls every already-installed partition back
    * to its pre-image, then aborts the claim, so a failed merge leaves no
    * data visible. The price: one conflicting partition fails the whole
    * merge (retry it as a whole; the merge is idempotent per key).
    */
  def mergeByKey(
      spark: SparkSession,
      table: String,
      updatesIn: DataFrame,
      partCol: String,
      keyCols: Seq[String],
      deleteWhen: Option[String] = None,
      keepSuppliedIdentity: Boolean = false): Seq[String] =
    mergeByKeyAt(spark, table, updatesIn, partCol, keyCols,
      deleteWhen, keepSuppliedIdentity, snapshotAt = None)

  /** [[mergeByKey]] with the OCC snapshot PINNED by the caller: the
    * claim begins on `snapshotAt`, so any commit landing after it on a
    * touched partition fails the merge loudly. This is how a verb whose
    * delta is DERIVED FROM A READ of the table ([[replaceWhere]]'s
    * matching-row scan) closes its read-compute-write race — the read and
    * the claim share one version. */
  private[batch] def mergeByKeyAt(
      spark: SparkSession,
      table: String,
      updatesIn: DataFrame,
      partCol: String,
      keyCols: Seq[String],
      deleteWhen: Option[String],
      keepSuppliedIdentity: Boolean,
      snapshotAt: Option[Long],
      viaShallowPath: Boolean = false): Seq[String] = {
    require(keyCols.nonEmpty, "mergeByKey needs at least one key column")
    // protocol gate: refuse tables carrying features this build does not
    // know, then declare what THIS merge introduces — every managed
    // table's commits carry in-commit timestamps, and the change feed
    // rides the merge unless disabled (one registry read, shared with the
    // shallow dispatch; write only on first declaration)
    val feats = TableFeatures.checkWriteOf(
      TableFeatures.features(spark, table), table)
    // a direct merge on a shallow clone would treat a still-remote
    // partition as brand new and silently DROP its pinned rows —
    // [[ShallowClone.mergeByKey]] localizes first, then re-enters here
    if (!viaShallowPath && ShallowClone.isShallowIn(feats))
      throw new IllegalStateException(
        s"$table is a shallow clone — merge through " +
          "ShallowClone.mergeByKey (copy-on-write localization), or " +
          "materialize the clone first")
    TableFeatures.declareAll(spark, table,
      TableFeatures.InCommitTimestamps +:
        (if (changeFeedOn(spark)) Seq(TableFeatures.ChangeDataFeed)
         else Seq.empty))
    // declared type widenings let the per-partition type-conflict check
    // resolve by casting BOTH sides to the registered type (one registry
    // read per merge, only when the feature is declared)
    val widenings = TypeWidening.of(spark, table, feats)
    // GENERATED columns ([[GeneratedColumns]], Delta's GENERATED ALWAYS
    // AS): updates that omit a registered column get it computed here —
    // including the PARTITION column, so producers can ship raw rows and
    // the table partitions itself — and count as covering it; updates
    // that supply one explicitly are held to the expression by the
    // validation probe below. Key-only delete updates whose expression
    // inputs are absent skip generation (their rows only leave).
    val gens = GeneratedColumns.list(spark, table).toSeq.sortBy(_._1)
    // an explicitly-supplied generated column is held to its expression
    // only when the updates can ANALYZE that expression — missing inputs
    // are legal solely on a deletes-only merge (anything else fails the
    // column-coverage discipline below), whose delete-marked rows the
    // probe exempts anyway; without this filter a deleteByKey on a
    // generated-PARTITION-column table dies in analysis
    val explicitGens = gens.filter { case (c, sql) =>
      updatesIn.columns.contains(c) && scala.util.Try(
        updatesIn.select(expr(sql)).queryExecution.analyzed).isSuccess
    }
    val generated = gens.foldLeft(updatesIn) { case (u, (c, sql)) =>
      if (u.columns.contains(c)) u
      else if (scala.util.Try(
          u.select(expr(sql)).queryExecution.analyzed).isSuccess)
        u.withColumn(c, expr(sql))
      else u
    }
    // EXPECTATIONS ([[Expectations]], the DLT expect-or-quarantine
    // analog): rule-failing rows route to `<table>/_quarantine` and the
    // merge commits the survivors, with exact per-rule counts in the
    // ledger. Runs after generated fill (rules may reference generated
    // values) and before identity assignment (a quarantined row consumes
    // no ids). The survivors read a pinned evaluation; its free thunk is
    // released with the updates persist below.
    val expectRules = Expectations.list(spark, table).toSeq.sortBy(_._1)
    val (screened, freeScreen) =
      if (expectRules.isEmpty) (generated, () => ())
      else Expectations.screen(spark, table, generated, partCol, keyCols,
        deleteWhen, expectRules)
    try {
    // IDENTITY columns ([[IdentityColumns]], Delta's GENERATED ALWAYS AS
    // IDENTITY): explicit values are refused BY NAME (the Delta contract —
    // uniqueness is the column's promise, not the producer's); omitted
    // ones are assigned here — matched keys keep their existing id, new
    // rows draw a freshly OCC-allocated disjoint range. Runs after
    // generated-column fill (the partition column may itself be
    // generated) and counts as covering the column.
    // `keepSuppliedIdentity` is the SYSTEM escape hatch for verbs that
    // re-install committed identity values verbatim (RESTORE: the as-of
    // snapshot's ids ARE the values being restored — reassigning them
    // would break the stability the column promises; row-tracking ids
    // likewise must come back exactly). The caller warrants uniqueness;
    // the high-water mark never rewinds, so later mints stay disjoint.
    val idSpecs = IdentityColumns.list(spark, table).toSeq.sortBy(_._1)
    idSpecs.foreach { case (c, _) =>
      if (screened.columns.contains(c) && !keepSuppliedIdentity)
        throw new IllegalArgumentException(
          s"column $c is GENERATED ALWAYS AS IDENTITY — explicit values " +
            "are refused (Delta contract); omit the column and let the " +
            "merge assign it")
    }
    // OCC snapshot BEFORE any table read — including the identity
    // assignment's existing-id read below: a concurrent merge committing
    // after this version fails our claim loudly, so the ids we
    // read here can never silently go stale. (The allocation commits the
    // assignment itself makes land after the snapshot but claim only the
    // reserved synthetic `_graft_identity:*` values — disjoint from every
    // data partition, so they conflict with nothing.)
    val snapshot = snapshotAt.getOrElse(TxnLog.currentVersion(spark, table))
    val updates = idSpecs.foldLeft(screened) { case (u, (c, _)) =>
      if (u.columns.contains(c)) u // keepSuppliedIdentity: values ride as-is
      else IdentityColumns.assign(spark, table, u, partCol, keyCols, c, deleteWhen)
    }
    deleteWhen.foreach { m =>
      require(updates.columns.contains(m), s"deleteWhen column $m not in updates")
      require(updates.schema(m).dataType ==
        org.apache.spark.sql.types.BooleanType,
        s"deleteWhen column $m must be boolean")
      require(!(keyCols :+ partCol).contains(m),
        s"deleteWhen column $m cannot be a key or partition column")
    }

    // (the OCC snapshot is taken above, before the identity assignment's
    // table read — commits that land after it and touch our partitions
    // invalidate what we read)

    // Deletion pairs in force at the snapshot, resolved ONCE for the whole
    // merge (a full-manifest read + sidecar listing per PARTITION measurably
    // taxed the merge micro-bench). Safe to share: the claim's begin fails
    // loudly on ANY post-snapshot commit touching a touched partition —
    // dv-ends included — so these are exactly the pairs in force under the
    // claim; other partitions' pairs are inert in the anti-join (file
    // basenames are unique per partition publish).
    val dvPairs = DeletionVectors.pairsAsOf(spark, table, Long.MaxValue,
      TxnLog.commitsSince(spark, table, 0L))

    // One materialization of the updates plan, populated by the FIRST
    // action (the validation probe): validation, the touched-partition
    // probe, and the staged split below would otherwise each re-execute a
    // possibly-expensive upstream computation.
    updates.persist()
    try {
      // all sanity probes ride one tiny job: ambiguous matches, null
      // partition values, null delete markers, AND registered CHECK
      // constraints are silent data bugs if they reach the write (a
      // duplicate covers the ambiguous update-AND-delete of one key too —
      // Delta MERGE refuses the same way, and Delta rejects
      // constraint-violating writes before committing).
      val delMarker = deleteWhen.map(col)
      // CHECK constraints apply to the rows being WRITTEN: delete-marked
      // rows are exempt (they leave the table), and SQL-standard
      // semantics hold (an UNKNOWN check satisfies — express NOT NULL
      // explicitly). Constraints the updates' columns cannot analyze are
      // skipped here: that narrowness is only legal for deletes-only
      // merges, anything else fails the coverage discipline below.
      val checks = Constraints.list(spark, table).toSeq.sortBy(_._1)
        .filter { case (_, sql) => scala.util.Try(
          updates.select(expr(sql)).queryExecution.analyzed).isSuccess }
      val checkAggs = checks.zipWithIndex.map { case ((_, sql), i) =>
        max(when(delMarker.getOrElse(lit(false)) || coalesce(expr(sql), lit(true)),
          0).otherwise(1)).as(s"_graft_chk_$i")
      }
      // explicitly-supplied generated columns must MATCH their expression
      // (null-safe) — Delta enforces the generation expression as a
      // constraint whenever values are explicit
      val genAggs = explicitGens.zipWithIndex.map { case ((c, sql), i) =>
        max(when(delMarker.getOrElse(lit(false)) || (col(c) <=> expr(sql)),
          0).otherwise(1)).as(s"_graft_gen_$i")
      }
      val bad = updates.groupBy(partCol, keyCols: _*)
        .agg(count(lit(1)).as("count"),
          (sum(delMarker.map(m => m.isNull.cast("int")).getOrElse(lit(0)))
            .as("null_markers") +: (checkAggs ++ genAggs)): _*)
        .filter((checks.indices.map(i => col(s"_graft_chk_$i") > 0) ++
            explicitGens.indices.map(i => col(s"_graft_gen_$i") > 0))
          .foldLeft(col("count") > 1 || col(partCol).isNull || col("null_markers") > 0)(
            _ || _))
        .limit(1).collect()
      if (bad.nonEmpty) {
        val violated = checks.indices
          .filter(i => bad.head.getAs[Int](s"_graft_chk_$i") > 0)
          .map(i => s"${checks(i)._1} CHECK (${checks(i)._2})") ++
          explicitGens.indices
            .filter(i => bad.head.getAs[Int](s"_graft_gen_$i") > 0)
            .map(i => s"${explicitGens(i)._1} GENERATED ALWAYS AS " +
              s"(${explicitGens(i)._2})")
        if (violated.nonEmpty)
          throw new IllegalArgumentException(
            s"updates violate table constraint(s) ${violated.mkString("; ")} " +
              s"(first offending key group: ${bad.head}); the merge wrote nothing")
        throw new IllegalArgumentException(
          s"updates contain a duplicate key, null $partCol, or null " +
            s"${deleteWhen.getOrElse("delete")} marker (first: ${bad.head}); " +
            "MERGE matches must be unambiguous, partition values non-null, " +
            "and delete markers two-valued")
      }

      // COLUMN MAPPING boundary: validation above ran in the caller's
      // LOGICAL space; everything from here down — the per-partition file
      // reads, the union/anti-join, the published files, the CDF change
      // records — runs in PHYSICAL space, so new files stay name-compatible
      // with the old ones and a rename never forces a rewrite. Unmapped
      // tables (no colmap file) pass through identically.
      val colMap = ColumnMapping.mapping(spark, table)
      deleteWhen.foreach { marker =>
        require(ColumnMapping.physicalName(colMap, marker) == marker &&
            !colMap.contains(marker),
          s"deleteWhen column $marker collides with a mapped column name")
      }
      val updatesP = ColumnMapping.applyPhysical(updates, colMap)
      val partColP = ColumnMapping.physicalName(colMap, partCol)
      val keyColsP = keyCols.map(ColumnMapping.physicalName(colMap, _))
      val dataCols = updatesP.columns
        .filterNot(_ == partColP).filterNot(deleteWhen.contains).toSeq
      // ONE probe names the touched partitions and which of them carry
      // upsert rows
      val probe = updatesP
        .select(col(partColP).cast("string"),
          deleteWhen.fold(lit(true))(m => !col(m)))
        .distinct().collect().map(r => (r.getString(0), r.getBoolean(1)))
      val touched = probe.map(_._1).distinct.sorted.toSeq
      if (touched.nonEmpty)
        mergeUnderClaim(spark, table, updatesP, partColP, keyColsP, dataCols,
          touched, probe.collect { case (p, true) => p }.toSet, snapshot,
          deleteWhen, dvPairs, colMap.collect { case (ph, "") => ph }.toSet,
          widenings)
      refreshIndexSidecars(spark, table)
      autoCompactIfDue(spark, table, partColP, touched)
      touched
    } finally updates.unpersist()
    } finally freeScreen()
  }

  /** Post-merge auto-compaction — Delta's `autoCompact` analog: when a
    * just-touched partition holds `graft.autoCompact.minFiles` or more
    * data files (default 16), the merge pays one bounded compaction of
    * EXACTLY those partitions before returning. On this engine the
    * fragmentation source is the merge's own TASK FAN-OUT (a wide
    * shuffle writes one small file per task into the rewritten
    * partition), so auto mode keeps a high-frequency merge table at
    * size-targeted files in steady state instead of task-count files.
    * OFF by default (`graft.autoCompact.enabled=false`, matching Delta):
    * the scheduled Maintain pass is the normal pressure valve. Cost when enabled: one listing of
    * the touched partitions' dirs (O(touched), never the table). The
    * compaction is BEST-EFFORT after the already-committed merge — a
    * failure (e.g. a concurrent writer's claim on the same partition)
    * never fails the merge, it just leaves the files for the next merge
    * or the scheduled pass (the sidecar-refresh contract). */
  private def autoCompactIfDue(
      spark: SparkSession,
      table: String,
      partColP: String,
      touched: Seq[String]): Unit = {
    if (!spark.conf.get("graft.autoCompact.enabled", "false").toBoolean) return
    val minFiles = spark.conf.get("graft.autoCompact.minFiles", "16").toInt
    val targetBytes = spark.conf.get("graft.autoCompact.targetBytes",
      (128L * 1024 * 1024).toString).toLong
    val fs = fsFor(spark, table)
    val due = touched.filter { p =>
      val dir = new org.apache.hadoop.fs.Path(s"$table/$partColP=${escape(p)}")
      fs.exists(dir) && fs.listStatus(dir)
        .count(_.getPath.getName.endsWith(".parquet")) >= minFiles
    }
    if (due.nonEmpty)
      try {
        compactPartitionsPhysical(spark, table, partColP, targetBytes,
          minFilesToCompact = 2, Seq.empty, "cluster", Some(due.toSet))
        ()
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"[graft] auto-compact of $table (${due.mkString(", ")}) " +
              s"skipped: ${e.getMessage} — the merge itself is committed; " +
              "the next merge or scheduled pass retries")
      }
  }

  /** Catch any per-file index sidecars (Bloom filters, min/max stats) up
    * to the files this write just published — Bloom reads ONLY the
    * replacement files (still page-hot), stats read only their FOOTERS, so
    * a merge on an indexed table keeps point/range-lookup pruning without
    * a scheduled Maintain rebuild. Runs AFTER the data commits: a refresh
    * failure leaves a sidecar stale, which [[graft.core.BloomIndex
    * .lookup]] / [[graft.core.StatsIndex.rangeScan]] handle conservatively
    * (unknown files are scanned) — so it must not fail the
    * already-committed write. */
  private[batch] def refreshIndexSidecars(spark: SparkSession, table: String): Unit = {
    graft.core.BloomIndex.indexedColumns(spark, table).foreach { c =>
      try graft.core.BloomIndex.refresh(spark, table, c)
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"graft: bloom sidecar refresh for $table/$c failed (lookups " +
              s"degrade to scanning the new files until Maintain bloom): $e")
      }
    }
    // a stats sidecar's storage tag pins to the REGISTERED wide type on a
    // widened table — one sampled narrow footer must never tag an
    // int→double column "long" (double maxima would truncate: wrong skips)
    lazy val w = TypeWidening.of(spark, table,
      TableFeatures.features(spark, table))
    graft.core.StatsIndex.indexedColumns(spark, table).foreach { c =>
      try graft.core.StatsIndex.refresh(spark, table, c, w.get(c))
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"graft: stats sidecar refresh for $table/$c failed (range scans " +
              s"degrade to scanning the new files until Maintain stats): $e")
      }
    }
  }

  /** Row-level DELETE by key — the `WHEN MATCHED THEN DELETE`-only MERGE
    * (Delta's `DELETE FROM t WHERE key IN (...)` / takedown-workflow shape,
    * ref SparkManager.scala:36-37's Delta write path). `keys` needs ONLY
    * `partCol` + `keyCols`; matched rows are removed, unmatched keys are
    * no-ops, untouched partitions are untouched bytes, and the rewrite is
    * atomic across its partitions + retained for time travel exactly like an upsert
    * (the pre-delete version still returns the deleted rows until
    * [[vacuumHistory]] ages it out — GDPR erasure completes at vacuum, as
    * in Delta). Returns the touched partition values. */
  def deleteByKey(
      spark: SparkSession,
      table: String,
      keys: DataFrame,
      partCol: String,
      keyCols: Seq[String]): Seq[String] = {
    val marker = "_graft_delete"
    require(!keys.columns.contains(marker), s"keys must not contain $marker")
    mergeByKey(spark, table, keys.withColumn(marker, lit(true)),
      partCol, keyCols, deleteWhen = Some(marker))
  }

  /** INSERT OVERWRITE a predicate-selected slice — Delta's `replaceWhere`
    * write option (`option("replaceWhere", pred)`): rows matching
    * `predicateSql` leave the table, `rows` enter it, in one verb. The
    * Delta contract is enforced both ways: every INCOMING row must itself
    * satisfy the predicate (refused loudly otherwise — a replaceWhere
    * that smuggles rows outside its slice is a silent corruption), and
    * only matching EXISTING rows are replaced (predicate-UNKNOWN rows
    * survive, SQL three-valued semantics).
    *
    * Keyed refinement over Delta (whose tables are keyless): an incoming
    * row that reuses a matching existing row's key REPLACES it as one
    * upsert — identity and row-tracking ids are retained for the key, and
    * the change feed shows an update (pre+post legs), not a
    * delete-then-insert of the same key.
    *
    * Read-compute-write race, closed: the matching keys are read at a
    * snapshot pinned BEFORE the scan, and the merge's claim begins on that
    * SAME version ([[mergeByKeyAt]]) — a concurrent commit
    * landing on any touched partition after the pin fails the whole verb
    * loudly ([[graft.core.TxnLog.ConcurrentWriteException]]), never
    * silently resurrects rows the scan missed. Partitions this replace
    * does not touch are not serialized against (Delta WriteSerializable's
    * stance).
    *
    * Scale shape: ONE filtered scan of the table finds the replaced keys
    * (predicate and key-column projection pushed to parquet; a predicate
    * on `partCol` prunes partitions), then the ordinary merge
    * machinery — everything else (CDF, constraints, expectations,
    * generated/identity/row-tracking, retain-first publish, time travel)
    * is inherited, not reimplemented. An empty `rows` is the pure
    * predicate DELETE.
    *
    * @return touched partition values (replaced slices + inserted rows') */
  def replaceWhere(
      spark: SparkSession,
      table: String,
      rows: DataFrame,
      partCol: String,
      keyCols: Seq[String],
      predicateSql: String): Seq[String] = {
    require(keyCols.nonEmpty, "replaceWhere needs the table's key columns")
    val marker = "_graft_replace_delete"
    require(!rows.columns.contains(marker), s"rows must not contain $marker")
    val pred = expr(predicateSql)
    val violator = rows.filter(!coalesce(pred, lit(false))).limit(1).collect()
    if (violator.nonEmpty)
      throw new IllegalArgumentException(
        s"replaceWhere: every incoming row must satisfy the predicate " +
          s"($predicateSql); first violator: ${violator.head}. " +
          "The verb wrote nothing.")
    val keyFields = (partCol +: keyCols).distinct
    // pin BEFORE the matching-row scan; the merge claims on this version
    val v0 = TxnLog.currentVersion(spark, table)
    val upserts = rows.withColumn(marker, lit(false))
    val updates =
      if (v0 == 0L) upserts // brand-new table: pure insert
      else {
        val delKeys = readAsOf(spark, table, v0, partCol).filter(pred)
          .select(keyFields.map(col): _*)
          // keys the incoming rows re-insert ride the upsert side alone —
          // a delete+upsert pair of one key is the ambiguity merge refuses
          .join(rows.select(keyFields.map(col): _*), keyFields, "left_anti")
          .withColumn(marker, lit(true))
        upserts.unionByName(delKeys, allowMissingColumns = true)
      }
    mergeByKeyAt(spark, table, updates, partCol, keyCols,
      deleteWhen = Some(marker), keepSuppliedIdentity = false,
      snapshotAt = Some(v0))
  }

  /** The merge under ONE TxnLog claim over every touched partition: begin
    * (the loud-failure point for concurrent writers, checked against
    * `snapshot`, and before any file listing, so nobody republishes a
    * touched partition between our read and our install) → crash repair
    * and survivors' read per partition → ONE staged write of every tagged
    * split → per partition, change-record install and retain-first publish
    * (renames only) → ONE end naming the partitions that published. Any
    * failure before the end rolls every installed partition back to its
    * pre-image, then aborts the claim once, so no partition stays locked
    * or keeps the failed write's data. */
  private def mergeUnderClaim(
      spark: SparkSession,
      table: String,
      updates: DataFrame,
      partCol: String,
      keyCols: Seq[String],
      dataCols: Seq[String],
      touched: Seq[String],
      upsertParts: Set[String],
      snapshot: Long,
      deleteWhen: Option[String],
      dvPairs: Option[DataFrame],
      droppedCols: Set[String],
      widenings: Map[String, org.apache.spark.sql.types.DataType]): Unit = {
    val claim = TxnLog.begin(spark, table, "upsert", touched.toSet, snapshot)
    val fs = fsFor(spark, table)
    val stagedCdf = changeFeedOn(spark)
    // a merge with NO upsert rows anywhere relaxes schema discipline:
    // deletes need only the key columns, survivors keep each partition's
    // own (full) columns, and there is no union to align
    val deletesOnly = deleteWhen.isDefined && upsertParts.isEmpty
    val changesRoot = s"$table/${ChangeFeed.ChangesDir}/v${claim.version}"
    val stageRoot = s"$changesRoot/.stage"
    try {
      // Spark's partitionBy ESCAPES special chars in directory names
      // (':' -> %3A etc.); building the path from the raw value would miss
      // the existing dir, treat the partition as new, and publish a
      // duplicate sibling that readers merge into old-AND-new rows.
      def dirName(p: String) = s"$partCol=${escape(p)}"
      // a PRIOR writer that crashed mid-publish left either the live dir
      // missing (died between retain and install) or uncommitted data live
      // (died after install, before its end) — we hold the claim, so restore
      // the committed pre-image before reading (the repair half of
      // retain-first; crashed writes stay invisible to what we merge on).
      // The read is the EFFECTIVE state — deletion vectors subtracted
      // (`dvPairs`, resolved once at the merge snapshot) — so a DV-deleted
      // row neither survives the rewrite (the merge MATERIALIZES pending
      // deletes, like Delta's OPTIMIZE over DV'd files) nor re-enters the
      // change feed as a matched row.
      val olds = touched.flatMap { p =>
        repairCrashedWriter(spark, table, dirName(p), p, claim.version)
        existingPartition(spark, s"$table/${dirName(p)}", dataCols, p,
          requireCoverage = !deletesOnly, dv = dvPairs,
          droppedCols = droppedCols, updatesSchema = Some(updates.schema),
          keyCols = keyCols, widenings = widenings).map(p -> _)
      }.toMap
      // deleting keys from a partition that does not exist is a no-op
      // (Delta: an unmatched WHEN MATCHED THEN DELETE touches nothing);
      // crucially the end must not name it — an end with no retained
      // pre-image/marker would poison later snapshot resolution — and an
      // empty-partition publish would leave dir debris
      val legs = touched.filter(p => olds.contains(p) || upsertParts(p))
      require(!Seq(DestCol, MarkCol, StageCol).exists(c =>
          updates.columns.contains(c) || olds.values.exists(_.columns.contains(c))),
        s"reserved column name in table/updates: $DestCol/$MarkCol/$StageCol")
      // Persisted change feed, Delta-style (`_change_data` files written by
      // the SAME job that rewrites the data): the tagged split below routes
      // every row of the touched partitions' scan, under one
      // `_graft_part=<p>` staging dir per partition (the string value,
      // whatever the partition type), to its destination —
      //   data/  = survivors (no delta key matches)      -> published
      //   pre/   = matched pre-images (leave the table)  -> feed delete-side
      //   post/  = upsert rows (enter the table)         -> published
      //   cpost/ = the SAME upsert rows, written twice   -> feed insert-side
      // Publishing MOVES data/ + post/ and installing the change record
      // RENAMES pre/ + cpost/ under `c_<p>/{pre,post}`: the feed costs zero
      // extra jobs, only the O(delta) duplicate write of cpost (with the
      // feed off, pre/ and cpost/ stay empty). [[ChangeFeed]] nets
      // insert/delete pairs at READ time, so identical-row rewrites cancel
      // exactly like the snapshot diff. The new rows ride the UPDATES side
      // of the join, so duplicate-key pre-images (legal in external tables)
      // replace down to ONE row. Declared widenings cast the UPDATES side to
      // exactly the registered type too (the old side casts in
      // existingPartition): the union's own coercion could otherwise land a
      // partition WIDER than declared (int table + long updates under a
      // decimal(19,0) widening → decimal(20,0)).
      val partStr = col(partCol).cast("string")
      val deltaKeys = updates.select(partStr.as(StageCol) +: keyCols.map(col): _*)
        .withColumn(MarkCol, lit(1L))
      val upserts = TypeWidening.applyTo(
        deleteWhen.fold(updates)(m => updates.filter(!col(m)))
          .select(partStr.as(StageCol) +: dataCols.map(col): _*),
        widenings)
      def tagged(old: Option[DataFrame], ups: DataFrame): DataFrame = {
        val posted = ups.withColumn(DestCol, lit("post"))
        val postedAll =
          if (stagedCdf) posted.unionByName(ups.withColumn(DestCol, lit("cpost")))
          else posted
        old match {
          case Some(o) =>
            val oldTagged = o
              .join(deltaKeys, StageCol +: keyCols, "left_outer")
              .withColumn(DestCol,
                when(col(MarkCol).isNotNull, lit("pre")).otherwise(lit("data")))
              .drop(MarkCol)
            val kept =
              if (stagedCdf) oldTagged else oldTagged.filter(col(DestCol) === "data")
            if (deletesOnly) kept else kept.unionByName(postedAll)
          case None => postedAll // brand-new partition: pure insert
        }
      }
      def oldOf(p: String) = olds.get(p).map(_.withColumn(StageCol, lit(p)))
      // partitions whose tagged split has the same schema stage in one
      // write (the usual case: all of them); a partition with its own
      // columns or types (deletes-only on mixed widths, a widened sibling,
      // a brand-new partition) gets its own, so no file changes schema
      val schemaOf = legs.map(p => p -> tagged(oldOf(p), upserts).schema).toMap
      val groups = legs.map(schemaOf).distinct
        .map(sch => legs.filter(schemaOf(_) == sch))
      val stagedAt = groups.zipWithIndex.flatMap { case (ps, i) =>
        val dir = s"$stageRoot/$i"
        tagged(ps.flatMap(oldOf).reduceOption(_ unionByName _),
          upserts.filter(col(StageCol).isin(ps: _*)))
          .write.partitionBy(StageCol, DestCol).mode("overwrite").parquet(dir)
        ps.map(p => p -> s"$dir/${org.apache.spark.sql.catalyst.catalog
          .ExternalCatalogUtils.getPartitionPathString(StageCol, p)}")
      }.toMap
      val historyRoot = s"$table/$HistoryDir/v${claim.version}"
      legs.zipWithIndex.foreach { case (p, i) =>
        val staged = stagedAt(p)
        if (stagedCdf) {
          // install the commit's change record: renames into `c_<p>/` BEFORE
          // the publish/END, so a committed END always has its change files
          // (a crash sooner leaves only never-read orphans). The c_ dir is
          // created even when a side is empty — its presence tells the feed
          // "persisted commit, possibly empty delta" (no diff fallback).
          val cDir = new org.apache.hadoop.fs.Path(s"$changesRoot/c_${escape(p)}")
          fs.delete(cDir, true)
          fs.mkdirs(cDir)
          // the record's exact write-time schema (side files + the partition
          // column's type) rides along as metadata, so a feed read NEVER has
          // to run a schema-inference or mergeSchema job — at scale, one
          // schema job per probed commit would dominate an incremental
          // consumer's drain loop
          val sideSchema = org.apache.spark.sql.types.StructType(
            schemaOf(p).filterNot(f => f.name == DestCol || f.name == StageCol))
          val schemaJson =
            s"""{"side":${sideSchema.json},"part":${
              updates.schema(partCol).dataType.json}}"""
          val schemaOut = fs.create(
            new org.apache.hadoop.fs.Path(cDir, ChangeFeed.SchemaFile), true)
          try schemaOut.write(schemaJson.getBytes(
            java.nio.charset.StandardCharsets.UTF_8))
          finally schemaOut.close()
          Seq("pre" -> "pre", "cpost" -> "post").foreach { case (src, dst) =>
            val from = new org.apache.hadoop.fs.Path(s"$staged/$DestCol=$src")
            if (fs.exists(from) &&
                !fs.rename(from, new org.apache.hadoop.fs.Path(cDir, dst)))
              throw new java.io.IOException(
                s"merge: failed to install change files $from -> $cDir/$dst")
          }
        }
        // Time travel: the replaced generation is retained under the claim's
        // version (underscore prefix — invisible to plain readers). A
        // brand-new partition retains an ABSENT marker instead, so
        // [[readAsOf]] can tell "did not exist at that version" from
        // "generation vacuumed" (the latter must fail loudly, never silently
        // drop a partition).
        if (!olds.contains(p)) {
          val marker = new org.apache.hadoop.fs.Path(
            s"$historyRoot/${dirName(p)}$AbsentSuffix")
          fs.mkdirs(marker.getParent)
          val out = fs.create(marker, true)
          try out.write(Array.empty[Byte]) finally out.close()
        }
        // retainFirst: the pre-image lands in history BEFORE the install, so
        // a snapshot read can never observe installed data whose pre-image is
        // not yet retained (the ms-wide race the after-install retention had)
        AtomicWrite.publish(spark, s"$table/${dirName(p)}",
          retainOldTo =
            if (olds.contains(p)) Some(s"$historyRoot/${dirName(p)}") else None,
          retainFirst = true) { tmp =>
          // the rewrite already ran in the staged split: the new partition
          // is data/ + post/ MOVED into the publish tmp (renames on the
          // table's filesystem, no second job). One job wrote every side of
          // every partition, and a task names its file alike in each dir:
          // the side and the partition's index prefix keep basenames unique
          // across the table, which deletion vectors key on.
          val tmpPath = new org.apache.hadoop.fs.Path(tmp)
          fs.mkdirs(tmpPath)
          var moved = 0
          Seq("data", "post").foreach { side =>
            val d = new org.apache.hadoop.fs.Path(s"$staged/$DestCol=$side")
            if (fs.exists(d))
              fs.listStatus(d).map(_.getPath)
                .filter(_.getName.endsWith(".parquet")).foreach { f =>
                  if (!fs.rename(f,
                      new org.apache.hadoop.fs.Path(tmpPath, s"${side}_${i}_${f.getName}")))
                    throw new java.io.IOException(
                      s"merge publish: failed to move staged $f into $tmp")
                  moved += 1
                }
          }
          // everything deleted / empty result: land a schema-bearing empty
          // write so the partition dir stays readable (what a direct write
          // of the empty plan would have produced)
          if (moved == 0)
            (if (deletesOnly) olds(p) else upserts.drop(StageCol)).limit(0)
              .write.mode("overwrite").parquet(tmp)
        }
      }
      // one end names exactly the partitions that published; a merge whose
      // every partition was a no-op releases its claim instead
      if (legs.isEmpty) TxnLog.abort(spark, table, claim)
      else TxnLog.end(spark, table, claim.copy(partitions = legs.toSet))
    } catch {
      case scala.util.control.NonFatal(e) =>
        // rollback BEFORE the abort record: once the abort releases the
        // claim, snapshot reads resolve the partitions to their live dirs —
        // any failed publish that already installed must be the restored
        // pre-image by then. A failed rollback or abort rides the original
        // cause as a suppressed error, never replaces or hides it.
        touched.foreach { p =>
          try rollbackFailedPublish(spark, table, partCol, p, claim)
          catch { case scala.util.control.NonFatal(r) => e.addSuppressed(r) }
        }
        try TxnLog.abort(spark, table, claim)
        catch { case scala.util.control.NonFatal(a) => e.addSuppressed(a) }
        throw e
    } finally {
      // staging debris only: with the feed off the version dir holds
      // nothing else, and the table keeps no change-files root at all
      scala.util.Try {
        if (stagedCdf) fs.delete(new org.apache.hadoop.fs.Path(stageRoot), true)
        else {
          val v = new org.apache.hadoop.fs.Path(changesRoot)
          fs.delete(v, true)
          deleteIfEmpty(fs, v.getParent)
        }
      }
      ()
    }
  }

  /** Reserved routing columns of the staged merge split: the destination
    * side, the matched-key mark, and the partition value's string form. */
  private val DestCol = "_graft_dest"
  private val MarkCol = "_graft_matched"
  private val StageCol = "_graft_part"

  private def fsFor(
      spark: SparkSession, table: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sessionState.newHadoopConf())

  private val HistoryDir = TxnLog.HistoryDir

  /** Change-file recording rides every merge unless explicitly disabled
    * (Delta's `delta.enableChangeDataFeed`, default-on here because the
    * write amplification is one extra scan of the touched partition while
    * the saving is the feed's whole-table diff). */
  private[batch] def changeFeedOn(spark: SparkSession): Boolean =
    spark.conf.get("graft.changeFeed.enabled", "true").toBoolean
  private val AbsentSuffix = ".ABSENT"
  /** Claim ops whose publish retains a pre-image under the claim's version
    * — the ops snapshot resolution and crash repair route through. */
  private val RetainingBegins = Set("upsert-begin", "compact-begin")

  private def escape(value: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(value)
  // the package's other partition-dir writers escape values as merges do
  private[batch] def escapeValue(value: String): String = escape(value)
  private[batch] def unescape(dirName: String, partCol: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
      .unescapePathName(dirName.stripPrefix(s"$partCol="))

  /** Undo an already-installed publish of a FAILED merge, for partition
    * `p` of the claim: if the claim retained its pre-image (or an ABSENT
    * marker for a brand-new partition), the install happened — put the
    * pre-image back (or remove the new partition) so the abort leaves the
    * live tree at its committed state. Only `p`'s entries leave the
    * claim's generation; the root goes once it is empty. Skipped if any
    * commit after the claim touches the partition (a usurper past the
    * staleness horizon owns it now — clobbering its data would be worse;
    * its own retained pre-image keeps snapshots sound). */
  private[graft] def rollbackFailedPublish(
      spark: SparkSession, table: String, partCol: String,
      p: String, claim: TxnLog.Commit): Unit = {
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val dirName = s"$partCol=${escape(p)}"
    val genRoot = new org.apache.hadoop.fs.Path(s"$table/$HistoryDir/v${claim.version}")
    val gen = new org.apache.hadoop.fs.Path(genRoot, dirName)
    val marker = new org.apache.hadoop.fs.Path(genRoot, dirName + AbsentSuffix)
    val live = new org.apache.hadoop.fs.Path(s"$table/$dirName")
    // "unreadable" is the conservative touches-all placeholder for a commit
    // file whose content write never finished — a dead sibling's debris,
    // not a usurper of a claim we still hold; counting it would silently
    // skip the rollback and leave the failed merge's data live
    // the failed merge's change files are never read (no END will ref this
    // claim) — drop them so aborted runs leave no debris
    scala.util.Try(fs.delete(new org.apache.hadoop.fs.Path(
      s"$table/${ChangeFeed.ChangesDir}/v${claim.version}"), true))
    val usurped = TxnLog.commitsSince(spark, table, claim.version)
      .exists(c => c.op != "unreadable" && (c.all || c.partitions.contains(p)))
    if (usurped) return
    if (fs.exists(gen)) {
      // retire (and discard) whatever our failed install left, then restore
      if (fs.exists(live)) fs.delete(live, true)
      if (!fs.rename(gen, live))
        throw new java.io.IOException(
          s"rollback: failed to restore pre-image $gen -> $live")
    } else if (fs.exists(marker)) {
      // brand-new partition: restoring "did not exist" = removing our data
      if (fs.exists(live)) fs.delete(live, true)
      fs.delete(marker, false)
    }
    // no gen and no marker: the publish never started installing — the live
    // dir (if any) is the untouched pre-image; nothing to do
    deleteIfEmpty(fs, genRoot)
  }

  /** Drop a generation root whose last entry was consumed (only its claim
    * holder ever writes into it, so an empty root stays empty). */
  private def deleteIfEmpty(
      fs: org.apache.hadoop.fs.FileSystem, dir: org.apache.hadoop.fs.Path): Unit =
    if (fs.exists(dir) && fs.listStatus(dir).isEmpty) fs.delete(dir, false)

  /** Repair half of retain-first publishing, run under our own claim (the
    * claim serializes writers, so no concurrent race). A crashed writer —
    * an `upsert-begin` after the partition's last committed end, never
    * end-closed — may have died (a) between its retain and install renames
    * (live dir missing, pre-image in history) or (b) after its install
    * (live dir = uncommitted data, pre-image in history). Either way the
    * COMMITTED state is the EARLIEST surviving pre-image in the crash
    * chain (each later crashed writer read its predecessor's leavings and
    * retained them): restore it over the live dir, or — when the chain
    * began with an ABSENT marker — restore non-existence. Begins closed by
    * a LATER end are excluded: that end committed the partition (e.g. a
    * usurper past the staleness horizon), and the live dir is its data.
    * Only `dirName`'s entries leave the crashed generations: a crashed
    * claim over several partitions keeps the others' pre-images for their
    * own repair. */
  private[batch] def repairCrashedWriter(
      spark: SparkSession, table: String, dirName: String,
      p: String, ourClaim: Long): Unit = {
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val live = new org.apache.hadoop.fs.Path(s"$table/$dirName")
    val commits = TxnLog.commitsSince(spark, table, 0L)
    val endClosed = commits.filter(_.op.endsWith("-end")).flatMap(_.ref).toSet
    val lastEndV = commits
      .filter(c => c.op == "upsert-end" && c.ref.isDefined && c.partitions.contains(p))
      .map(_.version).maxOption.getOrElse(-1L)
    val crashed = commits
      .filter(c => RetainingBegins.contains(c.op) && c.version != ourClaim &&
        !endClosed.contains(c.version) && c.version > lastEndV &&
        c.partitions.contains(p))
      .sortBy(_.version)
    def gen(v: Long) = new org.apache.hadoop.fs.Path(s"$table/$HistoryDir/v$v/$dirName")
    def marker(v: Long) =
      new org.apache.hadoop.fs.Path(s"$table/$HistoryDir/v$v/$dirName$AbsentSuffix")
    crashed.find(c => fs.exists(gen(c.version)) || fs.exists(marker(c.version)))
      .foreach { c =>
        // a surviving retain proves the crashed chain got at least as far as
        // its retire rename — whatever is live (if anything) is uncommitted
        if (fs.exists(live)) fs.delete(live, true)
        if (fs.exists(gen(c.version)) && !fs.rename(gen(c.version), live))
          throw new java.io.IOException(
            s"restore: failed to move crashed writer's pre-image ${gen(c.version)} -> $live")
        // the chain's other retains are uncommitted intermediates — debris
        crashed.foreach { cc =>
          fs.delete(gen(cc.version), true)
          fs.delete(marker(cc.version), false)
          deleteIfEmpty(fs, gen(cc.version).getParent)
        }
      }
  }

  /** Versioned snapshot read — the Delta `VERSION AS OF` analog
    * (ref `SparkManager.scala:36-37`: Delta gives the reference repeatable
    * reads of any retained version for free). Returns the table as of
    * TxnLog `version`: every partition resolves to its live directory if
    * no COMMITTED upsert touched it after `version`, otherwise to the
    * pre-image retained when the earliest such upsert replaced it.
    * Partitions first created after `version` are excluded (their ABSENT
    * marker proves non-existence); a generation already removed by
    * [[vacuumHistory]] fails loudly — a snapshot must never be silently
    * partial. A version above the current tip or below the manifest
    * truncation floor is refused loudly (Delta's VersionNotFound analog) —
    * a typo'd version must never silently read as "latest".
    *
    * Semantics: "as of v" = the state produced by every write whose END
    * commit is ≤ v. A write in flight at v (begun, not ended) is not yet
    * committed and resolves to its pre-image — retain-first publishing
    * guarantees the pre-image is findable in history from the instant the
    * live dir stops being it. An ABORTED write's surviving generation (its
    * rollback raced a crash) is consulted the same way: abort records do
    * not certify the live dir for snapshot resolution, END records do.
    *
    * Scale shape: resolution is O(partitions) driver METADATA (one commit
    * scan + one directory listing); data reads group by generation, so the
    * plan holds O(distinct retained versions) scans, each partition-pruned
    * — no per-partition plan explosion, nothing corpus-sized on the
    * driver. */
  /** TIMESTAMP AS OF resolution (Delta's second time-travel axis): the
    * newest retained commit at or before `tsMillis`. Commit timestamps
    * are IN-COMMIT (Delta 3.3 `delta.enableInCommitTimestamps` analog,
    * always on here): `TxnLog.commit` clamps each ts to strictly exceed
    * its predecessor's, so ts is monotone in version — "newest at or
    * before T" is well-defined even across clock-skewed writers or
    * same-millisecond commits — and the ts lives inside the commit
    * record (not file mtimes), so copying/restoring a table keeps this
    * axis exact. A timestamp that falls INSIDE a write (after its begin
    * record, before its end) resolves to the pre-state — the write was
    * not yet committed at that instant, which is the honest answer.
    * Refuses a timestamp before the oldest retained commit — the history
    * there has been truncated, same contract as a too-old version. */
  def versionAt(spark: SparkSession, table: String, tsMillis: Long): Long = {
    val all = TxnLog.commitsSince(spark, table, 0L)
    require(all.nonEmpty, s"time travel: $table has no commits")
    val at = all.filter(_.ts <= tsMillis).lastOption.getOrElse(
      throw new SnapshotRefused(
        s"time travel: timestamp $tsMillis predates the oldest retained " +
          s"commit (v${all.head.version} at ${all.head.ts}) — the snapshot " +
          "is no longer reconstructible"))
    at.version
  }

  /** `TIMESTAMP AS OF` read — [[versionAt]] then [[readAsOf]]. */
  def readAsOfTimestamp(
      spark: SparkSession,
      table: String,
      tsMillis: Long,
      partCol: String): DataFrame =
    readAsOf(spark, table, versionAt(spark, table, tsMillis), partCol)

  def readAsOf(
      spark: SparkSession,
      table: String,
      version: Long,
      partCol: String): DataFrame =
    readLogical(spark, table, partCol, Some(version))

  /** Partition VALUES of the snapshot at `version`, resolved DRIVER-SIDE —
    * the metadata half of [[snapshotPhysical]] (manifest math plus cached
    * generation listings), never a Spark job over the snapshot's files.
    * O(partitions) where the distributed `select(partCol).distinct()` it
    * replaces is O(files) task scheduling at 100 TB. Also returns whether
    * any deletion-vector commit ≤ `version` exists (driver-side manifest
    * scan): metadata cannot see ROW emptiness, so a caller that needs
    * "has surviving rows" must probe exactly when that flag is set.
    * Same guard and retry policy as [[snapshotPhysical]] ([[stableSnapshot]]:
    * resolution refuses loudly mid-install; a retry re-reads the manifest). */
  private[batch] def partValsAsOf(
      spark: SparkSession,
      table: String,
      version: Long,
      partCol: String): (Set[String], Boolean) = {
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sessionState.newHadoopConf())
    stableSnapshot(s"partValsAsOf v$version", table) {
      val all = TxnLog.commitsSince(spark, table, 0L)
      requireRetained(all, "partValsAsOf", version, version)
      val r = resolveDirs(fs, table, version, partCol, all,
        liveDirNames(fs, table, partCol))
      val vals = (r.liveVals ++ r.fromHistory.map(h => unescape(h._2, partCol))).toSet
      val hasDv = all.exists(c =>
        c.op == "dv-end" && c.ref.isDefined && c.version <= version)
      Some((vals, hasDv))
    }
  }

  /** DESCRIBE HISTORY analog (Delta `DESCRIBE HISTORY <table>`): the
    * table's retained commits, newest first, as a small DataFrame —
    * version, operation, partitions touched, commit timestamp, the begin
    * a `*-end` closes, whether the commit claimed ALL partitions, and the
    * idempotence txn marker. Driver cost is one O(tail) manifest probe
    * ([[graft.core.TxnLog.commitsSince]] reads the latest checkpoint plus
    * the files above it); the horizon is whatever [[graft.core.TxnLog
    * .truncate]] retained, exactly like Delta's log retention. */
  def history(spark: SparkSession, table: String, limit: Int = 100): DataFrame = {
    import spark.implicits._
    TxnLog.commitsSince(spark, table, 0L).reverse.take(math.max(1, limit))
      .map(c => (c.version, c.op, c.partitions.toSeq.sorted,
        new java.sql.Timestamp(c.ts), c.ref, c.all, c.txn))
      .toDF("version", "operation", "partitions", "timestamp",
        "ref", "all_partitions", "txn")
  }

  /** CONVERT TO — Delta's `CONVERT TO DELTA parquet.`…`` adopt-in-place:
    * claim an EXISTING plain partitioned-parquet directory (the Hive
    * layout `table/<partCol>=<value>/part-….parquet` every `df.write
    * .partitionBy(partCol)` produces — the reference seeder's own output
    * shape, ref delta_lake_seeder.py:583-617) into a [[graft.core
    * .TxnLog]]-managed table with ZERO data rewrite: one v1 manifest
    * commit naming the adopted partition values. This is the migration
    * on-ramp — any real deployment starts from directories some other
    * writer laid down, and rewriting 100 TB to "adopt" it is not a plan.
    *
    * From v1 on the table is indistinguishable from an engine-written
    * one: merges claim and rewrite partitions (retaining the ADOPTED
    * files as the pre-image generation), `readAsOf(1)` reconstructs the
    * adopted state, the change feed tails commits `> 1`, and sidecar
    * indexes build over the adopted files as-is. The data files are
    * byte-identical before and after — convert writes only
    * `_graft_txn/v…json`.
    *
    * Refusals (loud, nothing written):
    *  - an existing `_graft_txn` manifest — already managed; convert is
    *    the on-ramp, not a repair tool;
    *  - data files loose at the root (an unpartitioned write has no
    *    partition dirs to claim);
    *  - directories not named `<partCol>=<value>` (wrong column, or a
    *    foreign layout);
    *  - nested directories inside a partition (multi-level partitioning
    *    is not this engine's layout);
    *  - non-parquet data files (adopting them would break every reader);
    *  - an empty directory / no partitions.
    * `_`/`.`-prefixed entries (`_SUCCESS`, checksums) are ignored, as
    * every reader here ignores them.
    *
    * Cost at scale: one root listing + one listing per partition + one
    * footer-only schema read — O(partitions) driver metadata, no data IO.
    * Returns the claimed manifest version (1 by construction). */
  def convert(spark: SparkSession, table: String, partCol: String): Long = {
    val root = new org.apache.hadoop.fs.Path(table)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(root), s"convert: no directory at $table")
    require(!fs.exists(new org.apache.hadoop.fs.Path(root, "_graft_txn")),
      s"convert: $table already has a _graft_txn manifest — it is already " +
        "a managed table")
    val entries = fs.listStatus(root).filterNot { st =>
      val n = st.getPath.getName
      n.startsWith("_") || n.startsWith(".")
    }
    entries.find(_.isFile).foreach { st =>
      throw new IllegalArgumentException(
        s"convert: $table has a data file at the root " +
          s"(${st.getPath.getName}) — an unpartitioned layout has no " +
          s"$partCol=* partitions to claim; repartition the data or point " +
          "convert at a Hive-partitioned directory")
    }
    val dirs = entries.filter(_.isDirectory).map(_.getPath).sortBy(_.getName)
    dirs.find(!_.getName.startsWith(s"$partCol=")).foreach { p =>
      throw new IllegalArgumentException(
        s"convert: $table contains directory ${p.getName}, which is not a " +
          s"$partCol=<value> partition — wrong partition column, or not a " +
          "Hive-partitioned parquet layout")
    }
    require(dirs.nonEmpty,
      s"convert: $table has no $partCol=* partition directories to adopt")
    dirs.foreach { d =>
      fs.listStatus(d).filterNot { st =>
        val n = st.getPath.getName
        n.startsWith("_") || n.startsWith(".")
      }.foreach { st =>
        if (st.isDirectory)
          throw new IllegalArgumentException(
            s"convert: ${d.getName} contains nested directory " +
              s"${st.getPath.getName} — multi-level partitioning is not " +
              "this engine's layout (one partition column)")
        if (!st.getPath.getName.endsWith(".parquet"))
          throw new IllegalArgumentException(
            s"convert: ${d.getName} contains non-parquet file " +
              s"${st.getPath.getName} — only parquet data can be adopted")
      }
    }
    // footer-only probe: the directory must actually read as a parquet
    // table whose inferred partition column is `partCol`
    val probe = spark.read.parquet(table)
    require(probe.columns.contains(partCol),
      s"convert: reading $table does not yield a $partCol column " +
        s"(schema: ${probe.columns.sorted.mkString(", ")})")
    val values = dirs.map(d => unescape(d.getName, partCol)).toSet
    TxnLog.commit(spark, table, "convert", values, snapshotVersion = 0L).version
  }

  /** DESCRIBE DETAIL analog (Delta `DESCRIBE DETAIL <table>`): one row of
    * table-level facts assembled from DRIVER-side metadata only — file
    * listing (count + bytes + partition dirs), manifest tip, registered
    * constraints / generated columns / column-map entries, index sidecar
    * columns, pending deletion-vector sidecars. No Spark job, no data IO:
    * the listing walk is the same O(files) metadata pass every lookup
    * already pays. */
  final case class TableDetail(
      location: String,
      numFiles: Long,
      sizeInBytes: Long,
      numPartitions: Long,
      version: Long,
      constraints: Seq[String],
      generatedColumns: Seq[String],
      identityColumns: Seq[String],
      mappedColumns: Seq[String],
      bloomIndexes: Seq[String],
      statsIndexes: Seq[String],
      pendingDvSidecars: Long,
      /** registered expectations, `name EXPECT (expr)` */
      expectations: Seq[String] = Seq.empty,
      /** newest screening record, `rule=failing-rows` (ledger, no job) */
      lastExpectCounts: Seq[String] = Seq.empty,
      /** declared table features, `feature (level)` */
      tableFeatures: Seq[String] = Seq.empty,
      /** declared type widenings, `col -> type` ([[TypeWidening]]) */
      typeWidenings: Seq[String] = Seq.empty,
      /** shallow-clone state: on a clone, `source @vN, K remote / M
        * localized partition(s)`; on a pinned SOURCE, one
        * `<- cloneDir @vN` per live pin */
      cloneState: Seq[String] = Seq.empty)

  def detail(spark: SparkSession, table: String): TableDetail = {
    val root = new org.apache.hadoop.fs.Path(table)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    var files = 0L; var bytes = 0L
    val partDirs = scala.collection.mutable.Set.empty[String]
    def walk(p: org.apache.hadoop.fs.Path): Unit =
      fs.listStatus(p).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory) {
          if (!name.startsWith("_") && !name.startsWith(".")) {
            if (name.contains("=")) partDirs += name
            walk(st.getPath)
          }
        } else if (name.endsWith(".parquet")) {
          files += 1; bytes += st.getLen
        }
      }
    if (fs.exists(root)) walk(root)
    val dvDir = new org.apache.hadoop.fs.Path(s"$table/_graft_dv")
    val dvCount =
      if (!fs.exists(dvDir)) 0L
      else fs.listStatus(dvDir).count(_.isDirectory).toLong
    val colMap = ColumnMapping.mapping(spark, table)
    TableDetail(
      location = table,
      numFiles = files,
      sizeInBytes = bytes,
      numPartitions = partDirs.size.toLong,
      version = TxnLog.currentVersion(spark, table),
      constraints = Constraints.list(spark, table).toSeq.sortBy(_._1)
        .map { case (n, sql) => s"$n CHECK ($sql)" },
      generatedColumns = GeneratedColumns.list(spark, table).toSeq.sortBy(_._1)
        .map { case (c, sql) => s"$c AS ($sql)" },
      identityColumns = IdentityColumns.list(spark, table).toSeq.sortBy(_._1)
        .map { case (c, s) =>
          s"$c IDENTITY (START WITH ${s.start} INCREMENT BY ${s.step})" },
      mappedColumns = colMap.toSeq.sortBy(_._1).map { case (p, l) =>
        if (l.isEmpty) s"$p (dropped)" else s"$p -> $l" },
      bloomIndexes = graft.core.BloomIndex.indexedColumns(spark, table),
      statsIndexes = graft.core.StatsIndex.indexedColumns(spark, table),
      pendingDvSidecars = dvCount,
      expectations = Expectations.list(spark, table).toSeq.sortBy(_._1)
        .map { case (n, sql) => s"$n EXPECT ($sql)" },
      lastExpectCounts = Expectations.recent(spark, table, limit = 1)
        .headOption.toSeq.flatMap { case (v, counts) =>
          counts.toSeq.sortBy(_._1).map { case (r, n) => s"$r=$n @v$v" } },
      tableFeatures = TableFeatures.features(spark, table).toSeq.sortBy(_._1)
        .map { case (f, level) => s"$f ($level)" },
      typeWidenings = TypeWidening.widenings(spark, table).toSeq.sortBy(_._1)
        .map { case (c, t) => s"$c -> ${t.simpleString}" },
      cloneState = {
        val asClone =
          if (!ShallowClone.isShallow(spark, table)) Seq.empty
          else {
            // metadata only — the still-remote COUNT needs a source scan
            // (TableFeatures.residue reports it when a drop is attempted)
            val m = TableMeta.read(spark, table, "clone-v")
            val local = ShallowClone.localizedParts(
              spark, table, m("srcPartCol"))
            Seq(s"${m("source")} @v${m("sourceVersion")}, " +
              s"${local.size} localized partition(s)")
          }
        val asSource = TableMeta.read(spark, table, ShallowClone.RefsPrefix)
          .toSeq.sortBy(_._1).map { case (d, v) => s"<- $d @v$v" }
        asClone ++ asSource
      })
  }

  /** Deep CLONE (Delta `CREATE TABLE … CLONE src [VERSION AS OF v]`): an
    * INDEPENDENT copy of the source's committed snapshot — optionally at
    * a historical version — as a fresh table with its own (empty, lazily
    * upgraded) manifest. The clone materializes everything the source
    * still resolves indirectly: pending deletion vectors are subtracted,
    * history generations flattened, so it carries none of the source's
    * maintenance debt. `_graft_meta` registries (column map, CHECK
    * constraints, generated columns) COPY — the logical view and write
    * rules carry over; stats/bloom sidecars do NOT (they key the source's
    * file names — rebuild on the clone if needed), and provenance lands
    * in `_graft_meta/clone-v1.json` instead of a manifest record so the
    * clone's own log starts clean. Shallow clones are deliberately
    * unsupported: a plain-directory engine has no file-reference
    * indirection, so "shallow" would alias live paths the source's
    * vacuum/compaction is free to delete. Returns rows cloned. */
  def cloneTo(
      spark: SparkSession,
      src: String,
      dst: String,
      partCol: String,
      version: Option[Long] = None): Long = {
    val dstPath = new org.apache.hadoop.fs.Path(dst)
    val fs = dstPath.getFileSystem(spark.sessionState.newHadoopConf())
    require(!fs.exists(dstPath),
      s"clone: destination $dst already exists — refusing to overwrite")
    ShallowClone.refuseDirect(spark, src, "deep clone")
    val colMap = ColumnMapping.mapping(spark, src)
    val partColP = ColumnMapping.physicalName(colMap, partCol)
    // PIN the snapshot version BEFORE reading: a clone racing source
    // writers then copies exactly the pinned version (later rewrites
    // resolve through retained history generations — the time-travel
    // machinery), and the recorded provenance is exact, not approximate.
    // Tables without a manifest (pinned 0) read plainly — nothing can
    // race a table no claimed writer touches.
    val pinned = version.orElse(
      Some(TxnLog.currentVersion(spark, src)).filter(_ > 0L))
    // PHYSICAL snapshot: copied data keeps the source's physical column
    // names, so the copied column map stays valid over it. A widened
    // source needs its per-dir upcast legs (mixed-width partitions fail
    // a single merged read) — and the copy then LANDS wide, consistent
    // with the widen registry the clone carries over below.
    val wid = TypeWidening.of(spark, src, TableFeatures.features(spark, src))
    val snap = snapshotPhysical(spark, src, partColP, pinned, wid)
    // atomic install: a clone that dies mid-write (or loses a race with a
    // source writer's install — the documented loud-retryable failure)
    // leaves NO dst, so the existence refusal above never blocks a retry.
    // The returned row count rides the write via observe() — never a
    // second full read of what was just written (at a 100 TB clone that
    // re-read would double the job's data cost)
    val obs = org.apache.spark.sql.Observation(
      s"clone_rows_${java.util.UUID.randomUUID().toString.take(8)}")
    graft.core.AtomicWrite.publish(spark, dst) { tmp =>
      snap.observe(obs, count(lit(1)).as("rows"))
        .write.partitionBy(partColP).parquet(tmp)
    }
    // registries carry over verbatim (small JSON files)
    val srcMeta = new org.apache.hadoop.fs.Path(s"$src/_graft_meta")
    val srcFs = srcMeta.getFileSystem(spark.sessionState.newHadoopConf())
    if (srcFs.exists(srcMeta)) {
      val dstMeta = new org.apache.hadoop.fs.Path(s"$dst/_graft_meta")
      fs.mkdirs(dstMeta)
      // the source's own clone provenance does NOT carry — each clone
      // records exactly one lineage hop (chase the chain table by table)
      srcFs.listStatus(srcMeta)
        .filter(st => st.isFile && !st.getPath.getName.startsWith("clone-v"))
        .foreach { st =>
          org.apache.hadoop.fs.FileUtil.copy(
            srcFs, st.getPath, fs,
            new org.apache.hadoop.fs.Path(dstMeta, st.getPath.getName),
            false, spark.sessionState.newHadoopConf())
        }
    }
    TableMeta.write(spark, dst, "clone-v", Map(
      "source" -> src,
      "sourceVersion" -> pinned.getOrElse(0L).toString,
      "clonedAtMs" -> System.currentTimeMillis().toString))
    obs.get("rows").asInstanceOf[Long]
  }

  /** RESTORE VERSION AS OF — the Delta `RESTORE TABLE … TO VERSION AS OF`
    * analog, and the standard incident-recovery verb: roll the table's
    * CONTENT back to `version` by writing the old snapshot forward as a
    * NEW commit (never history surgery — the bad versions stay
    * time-travelable, exactly like Delta). Implemented as a keyed merge of
    * the as-of snapshot plus delete-markers for keys that did not exist
    * then, so it rides every existing guarantee: OCC claims, the
    * persisted change feed (the net diff flows to mirrors and incremental
    * index refreshes; identical-row rewrites cancel at read time),
    * retained pre-images (the restore itself is time-travelable), and
    * inline sidecar refresh.
    *
    * Only partitions a commit has touched SINCE `version` are rewritten —
    * an O(tail) manifest probe, not a table diff — so restoring a recent
    * version costs O(churn since v), not O(table). The restore is one
    * merge, so it is one commit, as Delta's RESTORE is: it lands on every
    * rewritten partition at once, or a failure leaves none restored.
    *
    * Refused when the schema changed since `version` (a restore across a
    * widening would silently null-fill) and when `version` predates the
    * manifest horizon (same contract as [[readAsOf]]). Returns the
    * partitions rewritten. */
  def restoreTo(
      spark: SparkSession,
      table: String,
      version: Long,
      partCol: String,
      keyCols: Seq[String]): Seq[String] = {
    require(keyCols.nonEmpty, "restoreTo needs the table's key columns")
    val marker = "_graft_restore_delete"
    val all = TxnLog.commitsSince(spark, table, 0L)
    val tip = all.lastOption.map(_.version).getOrElse(0L)
    if (version >= tip) return Seq.empty // already at (or past) that state
    // partitions touched since v — the only ones whose content can differ
    val touchedSince = all.filter(c =>
      c.version > version && (c.op == "upsert-end" || c.op == "dv-end"))
    val everything = touchedSince.exists(_.all)
    val parts = touchedSince.flatMap(_.partitions).toSet
    if (!everything && parts.isEmpty) return Seq.empty
    val asOf = readAsOf(spark, table, version, partCol)
    val cur = readCommitted(spark, table, partCol)
    require(asOf.columns.sorted.sameElements(cur.columns.sorted),
      s"restore: schema changed since v$version " +
        s"(then: ${asOf.columns.sorted.mkString(",")}; " +
        s"now: ${cur.columns.sorted.mkString(",")}) — restore across schema " +
        "changes is not supported")
    require(!cur.columns.contains(marker), s"reserved column name: $marker")
    def scoped(df: DataFrame): DataFrame =
      if (everything) df
      else df.filter(col(partCol).cast("string")
        .isin(parts.toSeq.sorted.map(x => x: Any): _*))
    // keys alive now but absent at v leave; everything at v comes back
    // (identical survivors rewrite in place and cancel in the feed)
    val joinKeys = partCol +: keyCols
    val updates = scoped(asOf).withColumn(marker, lit(false))
      .unionByName(
        scoped(cur)
          .join(scoped(asOf).select(joinKeys.map(col): _*), joinKeys, "left_anti")
          .withColumn(marker, lit(true)))
    // identity values (row-tracking ids included) restore VERBATIM: the
    // as-of snapshot's ids are committed history, unique by construction
    mergeByKey(spark, table, updates, partCol, keyCols,
      deleteWhen = Some(marker), keepSuppliedIdentity = true)
  }

  /** The committed snapshot at the CURRENT version — cross-partition
    * snapshot isolation for the default read path (the behavior the
    * reference gets from Delta on every read, ref SparkManager.scala:36-37).
    * A plain `spark.read.parquet` during a multi-partition [[mergeByKey]]
    * can see partition A post-merge and partition B pre-merge (each
    * partition installs by its own rename); this read resolves every
    * partition through the TxnLog: until the merge's one end commit lands,
    * every touched partition reads as its pre-image, so the result is the
    * full pre-merge or the full post-merge state — never a torn mix.
    *
    * Tables without a TxnLog manifest (or without `partCol=` directories)
    * read plainly — zero overhead until the first claimed write exists.
    *
    * Stability contract: partitions resolved through history generations
    * are immutable files; partitions resolved to their live directory can
    * race a LATER writer's install at execution time, which surfaces as a
    * loud (retryable) missing-file error, never a silently torn result.
    * The resolution itself re-probes the manifest and retries until stable
    * ([[stableSnapshot]], the policy every snapshot read shares). */
  def readCommitted(
      spark: SparkSession,
      table: String,
      partCol: String): DataFrame =
    readLogical(spark, table, partCol, None)

  /** The logical face of [[readCommitted]] (`asOf = None`) and
    * [[readAsOf]]: time travel shows OLD versions under the CURRENT
    * logical names, exactly Delta's column-mapping semantics — and under
    * the CURRENT widened types (values exact; the whole timeline presents
    * one stable schema). */
  private def readLogical(
      spark: SparkSession,
      table: String,
      partCol: String,
      asOf: Option[Long]): DataFrame = {
    // protocol gate: a reader-level feature this build does not know
    // means a read would return wrong data, not fail — refuse loudly
    // (one registry read shared with the shallow-clone dispatch)
    val feats = TableFeatures.checkReadOf(
      TableFeatures.features(spark, table), table)
    val colMap = ColumnMapping.mapping(spark, table)
    val partColP = ColumnMapping.physicalName(colMap, partCol)
    val physical =
      if (!ShallowClone.isShallowIn(feats)) {
        // type widenings (registry read only when the feature is declared
        // — zero cost on ordinary tables) upcast below the partition union
        snapshotPhysical(spark, table, partColP, asOf,
          TypeWidening.of(spark, table, feats))
      } else if (asOf.isEmpty)
        // a shallow clone's committed state is localized ∪ pinned source —
        // delegating keeps every readCommitted consumer (HTTP serving
        // included) seeing the FULL clone
        ShallowClone.readPhysical(spark, table, partColP)
      else throw new SnapshotRefused(
        s"time travel on shallow clone $table is undefined before " +
          "materialization — the clone's version axis begins at its own " +
          "writes; read the live state (readCommitted/ShallowClone.read) " +
          "or materialize first")
    ColumnMapping.applyLogical(physical, colMap)
  }

  /** A refusal no retry can change (a version outside the retained range,
    * a vacuumed generation): [[stableSnapshot]] rethrows it. */
  private[graft] final class SnapshotRefused(msg: String)
    extends IllegalStateException(msg)

  /** Readers waited out whole-table claims past the cap: [[stableSnapshot]]
    * rethrows it, but unlike [[SnapshotRefused]] it is transient for the
    * caller — once maintenance ends, the same read succeeds. */
  private[batch] final class ReadersStarved(msg: String)
    extends IllegalStateException(msg)

  /** The one retry policy of every snapshot read: run `resolveOnce` (one
    * manifest read and resolution, None when a writer landed mid-read)
    * until it yields, up to 80 attempts. The back-off grows 25 ms per
    * attempt (capped at 400 ms) — a tight loop against a busy writer burns
    * the budget inside one merge's install window. Transient errors are
    * retried, and the last one rides the final loud failure. */
  private def stableSnapshot[T](what: String, table: String)(
      resolveOnce: => Option[T]): T = {
    val maxAttempts = 80
    var attempt = 0
    var lastErr: Throwable = null
    while (attempt < maxAttempts) {
      attempt += 1
      try resolveOnce match {
        case Some(r) => return r
        case None => // resolved, but a writer landed mid-read: re-resolve
      } catch {
        case e @ (_: SnapshotRefused | _: ReadersStarved) => throw e
        case scala.util.control.NonFatal(e) => lastErr = e
      }
      if (attempt < maxAttempts) Thread.sleep(math.min(25L * attempt, 400L))
    }
    throw new IllegalStateException(
      s"$what: $table did not yield a stable snapshot in $maxAttempts " +
        s"attempts (last error: ${Option(lastErr).getOrElse("none")}) — a " +
        "persistent failure here is a broken table, not contention", lastErr)
  }

  /** The retained-range guard of every versioned read: `to` beyond the tip
    * must never silently read as "latest", and below the manifest horizon
    * ([[TxnLog.truncate]]) a missing end would silently resolve a rewritten
    * partition to live. */
  private[batch] def requireRetained(
      all: Seq[TxnLog.Commit], what: String, from: Long, to: Long): Unit = {
    val tip = all.lastOption.map(_.version).getOrElse(0L)
    if (to > tip)
      throw new SnapshotRefused(
        s"$what: version $to is beyond the current tip v$tip — nothing has " +
          "committed it yet (mirroring Delta's VersionNotFound)")
    all.headOption.map(_.version).filter(from < _ - 1).foreach { floor =>
      throw new SnapshotRefused(
        s"$what: version $from predates the manifest horizon (oldest " +
          s"retained commit is v$floor) — the commits after it are gone, " +
          "so its state is no longer reconstructible")
    }
  }

  /** The physical snapshot at the tip (`asOf = None`: each attempt's tip)
    * or as of a version, behind [[readLogical]], deep clone and the
    * shallow-clone paths. A tip read honors an in-flight WHOLE-TABLE claim
    * (compaction log swap) up to the mark's age: mid-swap listings can
    * silently fall back to raw directory enumeration. Partition-level
    * claims are NOT waited out — resolution reads through their retained
    * pre-images. Back-to-back fresh claims (a tight maintenance loop) could
    * starve a reader forever on per-mark patience alone, so a generous
    * overall wall cap turns starvation into a loud error, not a silent hang. */
  private[batch] def snapshotPhysical(
      spark: SparkSession,
      table: String,
      partCol: String,
      asOf: Option[Long],
      widenings: Map[String, org.apache.spark.sql.types.DataType] =
        Map.empty): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(table)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    // tip fast path — plain read with the PRE-EXISTING semantics (no
    // mergeSchema: that would widen the schema to the union across files
    // and scan every footer) when the manifest cannot affect resolution:
    // no manifest at all, or no partition dirs AND no commit that ever
    // touched a partition (pure txn-marker ledgers). A table whose ONLY
    // partition is mid-install or crashed-between-renames has claims but
    // no partCol= dirs — that one must go through resolution, where the
    // manifest's mentions recover the committed state from history.
    if (asOf.isEmpty && !fs.exists(new org.apache.hadoop.fs.Path(root, "_graft_txn")))
      return TypeWidening.applyTo(spark.read.parquet(table), widenings)
    // `identity` commits claim only the reserved synthetic
    // `_graft_identity:*` values (range allocation, [[IdentityColumns]]) —
    // never a data partition, so they must not push a dataless manifest
    // (identity declared before the first merge) into resolution, which
    // would loudly find no partitions at all
    if (asOf.isEmpty && liveDirNames(fs, table, partCol).isEmpty &&
        !TxnLog.commitsSince(spark, table, 0L).exists(c =>
          c.all || (c.partitions.nonEmpty && c.op != "identity")))
      return TypeWidening.applyTo(spark.read.parquet(table), widenings)
    val inFlightPatienceMs = 5000L
    val waitCapMs = 120000L
    val waitStart = System.currentTimeMillis()
    stableSnapshot(asOf.fold("readCommitted")(v => s"readAsOf v$v"), table) {
      if (asOf.isEmpty)
        while (TxnLog.readerState(spark, table,
            staleLockMs = inFlightPatienceMs, allClaimsOnly = true)._2) {
          if (System.currentTimeMillis() - waitStart > waitCapMs)
            throw new ReadersStarved(
              s"readCommitted: $table has had whole-table claims in flight " +
                s"for over $waitCapMs ms — maintenance is starving readers")
          Thread.sleep(25)
        }
      val all = TxnLog.commitsSince(spark, table, 0L)
      asOf.foreach(v => requireRetained(all, "time travel", v, v))
      resolveSnapshot(spark, table,
        asOf.getOrElse(all.lastOption.map(_.version).getOrElse(0L)),
        partCol, all, pinLiveFiles = asOf.isDefined, widenings = widenings)
    }
  }

  /** Shared resolution core of [[readAsOf]] / [[readCommitted]]: the state
    * at `version` given one consistent read of the manifest `all`, or None
    * when unstable. A partition can resolve LIVE as the pre-image of an
    * unclosed begin, and the live dir's file LISTING is deferred to the
    * action: if the writer's install lands in between, the scan reads the
    * POST-image (caught by ChangeFeedSpec's feed-race hammer). So, cheapest
    * first: (a) ambiguous partitions — a generation/marker that NOW exists
    * means the writer's retain landed after our listing; (b) any NEW commit
    * touching a live-resolved partition — its retire can race our listing.
    * Commits touching history-resolved partitions are harmless (immutable
    * files); after the writer lands, re-resolution reads its generation. */
  private def resolveSnapshot(
      spark: SparkSession,
      table: String,
      version: Long,
      partCol: String,
      all: Seq[TxnLog.Commit],
      pinLiveFiles: Boolean,
      widenings: Map[String, org.apache.spark.sql.types.DataType])
      : Option[DataFrame] = {
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val r = resolveDirs(fs, table, version, partCol, all,
      liveDirNames(fs, table, partCol))
    val live = r.liveVals
    // deletion vectors in force at `version`: subtracted per leg (the
    // `_metadata` identity columns are per-scan, so the anti-join must sit
    // below the union). None — the common case — costs nothing.
    val dv = DeletionVectors.pairsAsOf(spark, table, version, all)
    val reads = Seq.newBuilder[DataFrame]
    if (live.nonEmpty) {
      // dir-scoped, not whole-table-plus-filter: the mergeSchema union
      // must cover only the partitions this snapshot resolves LIVE, so a
      // version predating a schema-evolving merge reads back its exact
      // narrow schema (a whole-table inference would leak the widened
      // partitions' new columns, null-filled, into every older snapshot).
      // IO is the same — mounting only the live dirs IS the partition
      // pruning the isin filter used to request.
      //
      // `pinLiveFiles` (the time-travel path): mount the live partitions'
      // FILE paths, listed HERE, not their dirs. A dir-mounted read defers
      // the listing to the action — if a later writer's install lands in
      // between, the scan silently lists the POST-image files and the
      // "snapshot at v" contains a future commit's rows. Pinned paths make
      // that race LOUD instead: the install renames the pinned files into
      // the history generation, the scan hits missing files, the reader
      // retries — the documented live-race contract. readCommitted keeps
      // dir mounting (its stability loop + ms-scale plan-listing window
      // keep the exposure to "a newer committed state", which reading the
      // tip tolerates; per-file stats on the hot path would not scale).
      // TYPE WIDENING: partitions rewritten since a widening carry the
      // wide type, untouched ones the narrow — ONE mergeSchema read
      // across both fails the footer merge (int vs bigint), so a widened
      // table reads one leg PER PARTITION DIR, each upcast to the
      // registered type below the union. Unwidened tables (the common
      // case) keep the single mounted read.
      def liveLeg(vals: Seq[String]): Unit = {
        val mounts =
          if (!pinLiveFiles) vals.map(v => s"$table/$partCol=${escape(v)}")
          else vals.flatMap { v =>
            fs.listStatus(new org.apache.hadoop.fs.Path(
                s"$table/$partCol=${escape(v)}"))
              .filter(st => st.isFile && !st.getPath.getName.startsWith(".") &&
                !st.getPath.getName.startsWith("_"))
              .map(_.getPath.toString).toSeq
          }
        if (mounts.nonEmpty)
          reads += TypeWidening.applyTo(DeletionVectors.applyTo(
            spark.read.option("mergeSchema", "true").option("basePath", table)
              .parquet(mounts: _*)
              .filter(col(partCol).cast("string").isin(vals: _*)), dv),
            widenings)
      }
      if (widenings.isEmpty) liveLeg(live)
      else live.foreach(v => liveLeg(Seq(v)))
    }
    r.fromHistory.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (begin, dirs) =>
      val base = s"$table/$HistoryDir/v$begin"
      // one generation can retain pre-images of MIXED widths (a partition
      // rewritten wide next to one still narrow) — same per-dir split
      val groups =
        if (widenings.isEmpty) Seq(dirs) else dirs.map(Seq(_))
      groups.foreach { g =>
        reads += TypeWidening.applyTo(DeletionVectors.applyTo(
          spark.read.option("mergeSchema", "true").option("basePath", base)
            .parquet(g.map(d => s"$base/${d._2}"): _*), dv), widenings)
      }
    }
    val parts = reads.result()
    val df =
      if (parts.isEmpty)
        // every partition postdates `version`
        TypeWidening.applyTo(
          spark.read.parquet(table).filter(lit(false)), widenings)
      else parts.reduce(_.unionByName(_, allowMissingColumns = true))
    val ambiguousStable = r.ambiguous.forall { case (gen, marker) =>
      !fs.exists(new org.apache.hadoop.fs.Path(gen)) &&
        !fs.exists(new org.apache.hadoop.fs.Path(marker))
    }
    val tip = all.lastOption.map(_.version).getOrElse(0L)
    val newTouches = TxnLog.commitsSince(spark, table, tip)
      .exists(c => c.all || c.partitions.exists(r.liveResolved))
    if (ambiguousStable && !newTouches) Some(df) else None
  }

  /** The `partCol=` directory names directly under `table`, sorted. */
  private[batch] def liveDirNames(
      fs: org.apache.hadoop.fs.FileSystem, table: String, partCol: String): Seq[String] =
    fs.listStatus(new org.apache.hadoop.fs.Path(table))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$partCol="))
      .map(_.getPath.getName).sorted.toSeq

  /** Result of the METADATA half of snapshot resolution: partition values
    * reading from the live tree (`liveVals`, with `liveResolved` the subset
    * certified by a committed end), (generation, dir) pairs reading from
    * history, and the ambiguous live resolutions the caller must re-check. */
  private[graft] final case class ResolvedDirs(
      liveVals: Seq[String],
      liveResolved: Set[String],
      ambiguous: Seq[(String, String)],
      fromHistory: Seq[(Long, String)])

  /** Metadata half of [[resolveSnapshot]] — manifest math plus generation
    * listings, NO data reads. Filesystem cost is the contract here, and it
    * is what keeps resolution viable against an object store at 10k+
    * partitions: exactly ONE cached listStatus per generation root actually
    * consulted (plus the root listing the caller already did) — never a
    * per-partition `fs.exists` round trip. Package-private so a spec can
    * drive it against a call-counting FileSystem. */
  private[graft] def resolveDirs(
      fs: org.apache.hadoop.fs.FileSystem,
      table: String,
      version: Long,
      partCol: String,
      all: Seq[TxnLog.Commit],
      liveDirs: Seq[String]): ResolvedDirs = {
    // upsert ends are the DATA-CHANGING commits that define version
    // visibility; compaction ends close their claims (endClosed) but change
    // no rows, so versions before a compaction resolve to the rewritten
    // live dir — row-identical by the compaction contract
    val ends = all.filter(c => c.op == "upsert-end" && c.ref.isDefined)
    // END commits alone certify the live dir: an abort releases the claim
    // for WRITERS, but if its rollback did not consume the retained
    // generation (crash mid-rollback, usurped writer), the live dir may
    // still hold the failed write — resolve through the pre-image.
    val endClosed = all.filter(_.op.endsWith("-end")).flatMap(_.ref).toSet
    // resolution domain: everything visible on disk PLUS every partition the
    // manifest mentions — a partition mid-install (live dir transiently
    // missing) still resolves through its retained generation
    val mentioned = (ends ++ all.filter(c => RetainingBegins.contains(c.op)))
      .flatMap(_.partitions).toSet
    val values = (liveDirs.map(unescape(_, partCol)) ++ mentioned).distinct.sorted
    require(values.nonEmpty, s"$table has no $partCol=* partitions")
    val liveDirSet = liveDirs.toSet

    val liveVals = Seq.newBuilder[String]
    val liveResolved = Set.newBuilder[String]
    val ambiguous = Seq.newBuilder[(String, String)]
    val fromHistory = Seq.newBuilder[(Long, String)] // (begin version, dir name)
    // Generation probes are ONE listStatus per generation root, cached —
    // never a per-partition fs.exists. The difference is decisive on object
    // stores: resolving 10k partitions through a handful of generations is
    // a handful of LIST round trips, not 20k sequential HEADs on the
    // driver. (A listing is also one consistent view of the generation —
    // the caller's post-resolution stability re-probe covers changes that
    // land mid-resolution, same as before.)
    val genCache = scala.collection.mutable.Map.empty[Long, Set[String]]
    def genContents(begin: Long): Set[String] = genCache.getOrElseUpdate(begin,
      try fs.listStatus(new org.apache.hadoop.fs.Path(s"$table/$HistoryDir/v$begin"))
        .map(_.getPath.getName).toSet
      catch { case _: java.io.FileNotFoundException => Set.empty })
    def genHas(begin: Long, name: String): Boolean = genContents(begin).contains(name)
    // resolve through the retained generation of `begin`, live dir if the
    // pre-image was never retained (the write had not installed), absent
    // if the marker proves the partition postdates the snapshot
    def resolveVia(begin: Long, dirName: String): Unit = {
      if (genHas(begin, dirName + AbsentSuffix)) ()
      else if (genHas(begin, dirName))
        fromHistory += ((begin, dirName))
      else
        throw new SnapshotRefused(
          s"time travel: generation v$begin of $dirName was vacuumed — " +
            s"the snapshot at version $version is no longer reconstructible")
    }
    values.foreach { value =>
      val dirName = s"$partCol=${escape(value)}"
      val laterEnds = ends.filter(e => e.partitions.contains(value) && e.version > version)
      // an UNCLOSED begin after the last committed end is a write that
      // never committed (in flight, crashed, or aborted-without-consumed-
      // rollback): its publish may already sit in the live dir, so the live
      // dir is NOT evidence of the committed state — resolve through the
      // EARLIEST surviving pre-image of the chain (each later member read
      // its predecessor's uncommitted leavings and retained them), or the
      // live dir only if nothing in the chain has installed yet
      val lastEndV = ends.filter(e => e.partitions.contains(value) && e.version <= version)
        .map(_.version).maxOption.getOrElse(-1L)
      val unclosed = all.filter(c => RetainingBegins.contains(c.op) &&
        !endClosed.contains(c.version) && c.version > lastEndV &&
        c.partitions.contains(value)).sortBy(_.version)
      def genOf(b: Long) = s"$table/$HistoryDir/v$b/$dirName"
      // a value with a committed end ≤ `version` EXISTED at the snapshot:
      // failing to resolve it to anything must be loud, never a silently
      // missing partition (the unreachable-by-design case is a writer
      // whose begin postdates our manifest read and whose retire rename
      // preceded our listing — a retry re-reads both)
      def mustResolveLoudly(): Unit =
        if (ends.exists(e => e.partitions.contains(value) && e.version <= version))
          throw new IllegalStateException(
            s"snapshot resolution: partition $value has committed state at " +
              s"v$version but no resolvable directory — a concurrent writer " +
              "is mid-install; re-resolve")
      if (laterEnds.nonEmpty) resolveVia(laterEnds.minBy(_.version).ref.get, dirName)
      else if (unclosed.nonEmpty) {
        unclosed.find(c => genHas(c.version, dirName) ||
            genHas(c.version, dirName + AbsentSuffix)) match {
          case Some(c) if genHas(c.version, dirName + AbsentSuffix) =>
            () // did not exist at the committed state
          case Some(c) =>
            fromHistory += ((c.version, dirName))
          case None if liveDirSet.contains(dirName) =>
            // no retain landed yet: live IS the pre-image — but only until
            // the writer's retire rename lands (the caller re-checks)
            liveVals += value
            ambiguous += ((genOf(unclosed.last.version),
              genOf(unclosed.last.version) + AbsentSuffix))
          case None =>
            // no live dir and no retain: nothing existed — unless an end
            // says otherwise, in which case this is the mid-install instant
            mustResolveLoudly()
        }
      }
      else if (liveDirSet.contains(dirName)) {
        liveVals += value
        liveResolved += value
      }
      else mustResolveLoudly() // else: mentioned only by never-committed
                               // begins — nothing to read for this value
    }
    ResolvedDirs(liveVals.result(), liveResolved.result(),
      ambiguous.result(), fromHistory.result())
  }

  /** Small-file compaction for upsert tables (the OPTIMIZE analog, ref
    * SparkManager.scala:36-37's Delta giving it via `OPTIMIZE`): rewrite
    * each partition holding at least `minFilesToCompact` data files — and
    * more files than its bytes justify at `targetBytes` per output file —
    * into ceil(bytes / targetBytes) files, row-identically. Runs under
    * per-partition
    * `compact` claims in the same TxnLog, so it serializes against
    * concurrent merges of the same partition (loud
    * [[TxnLog.ConcurrentWriteException]]) while disjoint partitions
    * proceed; the replaced file set is retained in `_graft_history` under
    * the claim's version (retain-first), so a crash at any instant is
    * repaired by the next claim holder ([[repairCrashedWriter]]) and the
    * retired files ride the normal [[vacuumHistory]] grace period.
    *
    * Time travel is unaffected BY DESIGN: `compact-end` commits close
    * their claims but are not version-defining (snapshot resolution
    * consults `upsert-end` only), so `readAsOf(v)` for any v before the
    * compaction resolves the partition to the rewritten live dir — the
    * same rows, fewer files. At 100 TB this is the maintenance pass that
    * keeps merge-heavy partitions from degenerating into thousands of
    * micro-files; each partition rewrite is one distributed job, cost
    * bounded by the partitions actually crowded. Returns the number of
    * partitions compacted.
    *
    * `layoutCols` folds data layout into the rewrite (the same
    * optimized-write economics as [[graft.streaming.SinkCompaction
    * .compact]]'s layout knob): crowded partitions come out range-
    * clustered (`"cluster"`) or Z-ordered (`"zorder"`) on the given keys
    * instead of arrival-ordered, so their footer [min,max] prune pushed
    * predicates — without a separate [[optimizeZOrder]] pass over bytes
    * this job already rewrote. Partitions NOT crowded keep their layout
    * (this is still a compaction; [[optimizeZOrder]] is the
    * rewrite-everything layout op).
    *
    * `onlyPartitions` is Delta's `OPTIMIZE t WHERE partCol IN (…)`: scope
    * the pass to the named partition VALUES — the 100 TB discipline where
    * nightly maintenance touches the day that churned, never the 3,000
    * days that did not (out-of-scope partitions are not even listed).
    * Values with no partition directory are a no-op, like Delta's
    * non-matching WHERE; an EMPTY set is refused loudly (it reads as
    * "compact nothing succeeded"). */
  def compactPartitions(
      spark: SparkSession,
      table: String,
      partCol: String,
      targetBytes: Long = 128L * 1024 * 1024,
      minFilesToCompact: Int = 2,
      layoutCols: Seq[String] = Seq.empty,
      layoutMode: String = "cluster",
      onlyPartitions: Option[Set[String]] = None): Int = {
    require(targetBytes >= 1, "targetBytes must be >= 1")
    require(minFilesToCompact >= 2, "compacting fewer than 2 files is a no-op")
    require(Set("cluster", "zorder").contains(layoutMode),
      s"layoutMode must be 'cluster' or 'zorder', got '$layoutMode'")
    require(onlyPartitions.forall(_.nonEmpty),
      "onlyPartitions: pass None for the whole table, never an empty set " +
        "(an empty WHERE that silently compacts nothing reads as success)")
    // callers name columns LOGICALLY; the rewrite runs in physical space
    val cmap = ColumnMapping.mapping(spark, table)
    val partColP = ColumnMapping.physicalName(cmap, partCol)
    val layoutColsP = layoutCols.map(ColumnMapping.physicalName(cmap, _))
    compactPartitionsPhysical(spark, table, partColP, targetBytes,
      minFilesToCompact, layoutColsP, layoutMode, onlyPartitions)
  }

  private def compactPartitionsPhysical(
      spark: SparkSession,
      table: String,
      partCol: String,
      targetBytes: Long,
      minFilesToCompact: Int,
      layoutCols: Seq[String],
      layoutMode: String,
      onlyPartitions: Option[Set[String]] = None): Int = {
    val root = new org.apache.hadoop.fs.Path(table)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    // size-aware selection (the OPTIMIZE sizing contract): output file
    // count follows the partition's BYTES (never collapse 10 GB into one
    // file — that kills read parallelism on the partition), and partitions
    // already at or under both thresholds are untouched bytes
    val dvPairs = DeletionVectors.pairsAsOf(spark, table, Long.MaxValue,
      TxnLog.commitsSince(spark, table, 0L))
    val dvFiles = dvTargetFiles(dvPairs)
    // OPTIMIZE … WHERE: the scope filter applies BEFORE any listing into
    // a job — at 100 TB the maintenance pass over "just today's
    // partitions" must not even stat the other 3,000 days' files
    val inScope: String => Boolean = onlyPartitions match {
      case None => _ => true
      case Some(vals) =>
        val dirs = vals.map(v => s"$partCol=${escapeValue(v)}")
        dirs.contains _
    }
    val crowded = fs.listStatus(root)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$partCol=")
        && inScope(st.getPath.getName))
      .flatMap { st =>
        val files = fs.listStatus(st.getPath)
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        val nOut = math.max(1L,
          (files.map(_.getLen).sum + targetBytes - 1) / targetBytes).toInt
        val materializes = files.exists(f => dvFiles(f.getPath.getName))
        if (files.length >= minFilesToCompact && files.length > nOut)
          Some((st.getPath.getName, nOut, materializes))
        else None
      }
      .sortBy(_._1).toSeq
    crowded.foreach { case (dirName, nOut, materializes) =>
      compactOne(spark, table, partCol, dirName, materializes, dvPairs) {
        rows =>
          // layout folded into the rewrite (Delta optimized-write analog):
          // the pass is already reading + rewriting these rows, so
          // clustering them here replaces a whole separate OPTIMIZE over
          // the same bytes with one extra shuffle
          if (layoutCols.isEmpty) rows.repartition(nOut)
          else if (layoutMode == "zorder")
            graft.core.LayoutOps.zOrderBy(rows, layoutCols, nOut)
          else graft.core.LayoutOps.clusterBy(rows, layoutCols, nOut)
      }
    }
    if (crowded.nonEmpty) refreshIndexSidecars(spark, table)
    crowded.length
  }

  /** File basenames any deletion pair targets — bounded driver state
    * (distinct FILES carrying deletes, not rows), used to decide whether a
    * rewrite changes the effective row set. */
  private[batch] def dvTargetFiles(dvPairs: Option[DataFrame]): Set[String] =
    dvPairs.map(_.select(DeletionVectors.FileCol).distinct()
      .collect().map(_.getString(0)).toSet).getOrElse(Set.empty)

  /** One partition rewrite under a claim, shared by [[compactPartitions]]
    * and [[optimizeZOrder]]. `materializes` = the rewrite subtracts
    * pending deletion vectors, so its output is NOT row-identical to its
    * input files: the claim must then be VERSION-DEFINING (`upsert`, not
    * `compact`), or time travel to versions before the pending DVs would
    * read the materialized (rows-missing) live files. A plain `compact`
    * claim stays invisible to snapshot resolution, preserving the
    * "compaction never affects time travel" contract when nothing is
    * materialized. */
  private[batch] def compactOne(
      spark: SparkSession, table: String, partCol: String, dirName: String,
      materializes: Boolean, dvPairs: Option[DataFrame])(
      shape: DataFrame => DataFrame): Long = {
    val value = unescape(dirName, partCol)
    val op = if (materializes) "upsert" else "compact"
    val claim = TxnLog.begin(spark, table, op, Set(value),
      TxnLog.currentVersion(spark, table))
    try {
      repairCrashedWriter(spark, table, dirName, value, claim.version)
      val partDir = s"$table/$dirName"
      val rows = DeletionVectors.applyTo(FooterSchema.read(spark, partDir), dvPairs)
      AtomicWrite.publish(spark, partDir,
        retainOldTo = Some(s"$table/$HistoryDir/v${claim.version}/$dirName"),
        retainFirst = true) { tmp =>
        shape(rows).write.parquet(tmp)
      }
      TxnLog.end(spark, table, claim)
      claim.version // begin version: end records carry it as their ref
    } catch {
      case scala.util.control.NonFatal(e) =>
        // same failure path as a merge: a failed rollback or abort rides
        // the original cause as a suppressed error
        try rollbackFailedPublish(spark, table, partCol, value, claim)
        catch { case scala.util.control.NonFatal(r) => e.addSuppressed(r) }
        try TxnLog.abort(spark, table, claim)
        catch { case scala.util.control.NonFatal(a) => e.addSuppressed(a) }
        throw e
    }
  }

  /** `OPTIMIZE ... ZORDER BY (cols)` for upsert tables (the reference
    * schedules exactly this over its Delta sink, ref AGENTS.md:1162-1171):
    * rewrite EVERY partition's files multi-dimensionally clustered via
    * [[graft.core.LayoutOps.zOrderBy]], under the same per-partition
    * compaction claim + retain-first publish as [[compactPartitions]] —
    * row-identical by contract, atomic per partition, time-travelable to
    * the pre-layout generation. Unlike compaction this is a LAYOUT op: it
    * rewrites regardless of file count (the point is bit-interleaved key
    * locality, not file sizing), with output file count still following
    * partition bytes. `onlyPartitions` scopes the rewrite to the named
    * partition values (Delta's `OPTIMIZE … WHERE` — see
    * [[compactPartitions]] for the contract). Returns the number of
    * partitions rewritten. */
  def optimizeZOrder(
      spark: SparkSession,
      table: String,
      partCol: String,
      zCols: Seq[String],
      targetBytes: Long = 128L * 1024 * 1024,
      onlyPartitions: Option[Set[String]] = None): Int = {
    require(targetBytes >= 1, "targetBytes must be >= 1")
    require(onlyPartitions.forall(_.nonEmpty),
      "onlyPartitions: pass None for the whole table, never an empty set")
    // callers name columns LOGICALLY; the rewrite runs in physical space
    val cmap = ColumnMapping.mapping(spark, table)
    val partColP = ColumnMapping.physicalName(cmap, partCol)
    val zColsP = zCols.map(ColumnMapping.physicalName(cmap, _))
    optimizeZOrderPhysical(spark, table, partColP, zColsP, targetBytes,
      onlyPartitions)
  }

  private def optimizeZOrderPhysical(
      spark: SparkSession,
      table: String,
      partCol: String,
      zCols: Seq[String],
      targetBytes: Long,
      onlyPartitions: Option[Set[String]] = None): Int = {
    val root = new org.apache.hadoop.fs.Path(table)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val dvPairs = DeletionVectors.pairsAsOf(spark, table, Long.MaxValue,
      TxnLog.commitsSince(spark, table, 0L))
    val dvFiles = dvTargetFiles(dvPairs)
    // OPTIMIZE … WHERE scope, same contract as compactPartitions
    val inScope: String => Boolean = onlyPartitions match {
      case None => _ => true
      case Some(vals) =>
        val dirs = vals.map(v => s"$partCol=${escapeValue(v)}")
        dirs.contains _
    }
    val parts = fs.listStatus(root)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$partCol=")
        && inScope(st.getPath.getName))
      .flatMap { st =>
        val files = fs.listStatus(st.getPath)
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        val bytes = files.map(_.getLen).sum
        if (bytes == 0L) None // nothing to lay out
        else Some((st.getPath.getName,
          math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt,
          files.exists(f => dvFiles(f.getPath.getName))))
      }
      .sortBy(_._1).toSeq
    parts.foreach { case (dirName, nOut, materializes) =>
      compactOne(spark, table, partCol, dirName, materializes, dvPairs) {
        rows => graft.core.LayoutOps.zOrderBy(rows, zCols, nOut)
      }
    }
    if (parts.nonEmpty) {
      refreshIndexSidecars(spark, table)
      // OPTIMIZE ZORDER leaves the table SELF-INDEXED: the rewrite just
      // made per-file intervals on the cluster keys narrow, so build the
      // min/max sidecars that let the planner exploit them (footer-only —
      // O(files) metadata on data that was just written). Columns whose
      // type the stats index cannot bound are skipped silently (layout
      // still helps parquet's own row-group pruning there); existing
      // sidecars were already caught up by the refresh above.
      val have = graft.core.StatsIndex.indexedColumns(spark, table).toSet
      val w = TypeWidening.of(spark, table,
        TableFeatures.features(spark, table))
      zCols.filterNot(have).foreach { c =>
        try graft.core.StatsIndex.build(spark, table, c, w.get(c))
        catch {
          case scala.util.control.NonFatal(e) =>
            System.err.println(
              s"graft: stats sidecar build for $table/$c skipped: $e")
        }
      }
    }
    parts.length
  }

  /** REORG … APPLY (PURGE) — Delta's deletion-vector materialization verb
    * (`REORG TABLE t APPLY (PURGE)`): force-rewrite EXACTLY the partitions
    * whose live files still carry pending deletion-vector positions, so
    * the soft-deleted rows leave the data files NOW instead of waiting for
    * an organic merge/compaction of those partitions. This is the verb a
    * GDPR erasure deadline needs: [[graft.batch.DeletionVectors
    * .deleteVectored]] makes the rows invisible in kilobytes, purge makes
    * the bytes GONE (modulo retained time-travel generations — run
    * [[vacuumHistory]] after the grace period to finish, exactly Delta's
    * REORG-then-VACUUM erasure recipe).
    *
    * Cost is O(DV-carrying partitions), never O(table): the DV sidecars
    * name their target files (bounded driver state — distinct files, not
    * rows), and a partition none of them touch is not even listed into a
    * job. Each rewrite runs through the shared [[compactOne]] machinery
    * with `materializes = true`, i.e. a VERSION-DEFINING `upsert` claim
    * (pre-DV snapshots keep resolving through the retained generation,
    * where the old file names still bear the positions), retain-first
    * publish, crash repair by the next claim holder, and inline sidecar
    * refresh. No change-feed rows are written: the DV commit already
    * emitted the logical deletes — purge changes bytes, not content.
    * Re-running immediately is a no-op (the new file names match no
    * pending position). Returns the partition values rewritten. */
  def reorgPurge(
      spark: SparkSession,
      table: String,
      partCol: String,
      targetBytes: Long = 128L * 1024 * 1024): Seq[String] = {
    require(targetBytes >= 1, "targetBytes must be >= 1")
    // callers name columns LOGICALLY; the rewrite runs in physical space
    val cmap = ColumnMapping.mapping(spark, table)
    val partColP = ColumnMapping.physicalName(cmap, partCol)
    val root = new org.apache.hadoop.fs.Path(table)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val dvPairs = DeletionVectors.pairsAsOf(spark, table, Long.MaxValue,
      TxnLog.commitsSince(spark, table, 0L))
    val dvFiles = dvTargetFiles(dvPairs)
    if (dvFiles.isEmpty) return Seq.empty
    val targets = fs.listStatus(root)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$partColP="))
      .flatMap { st =>
        val files = fs.listStatus(st.getPath)
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        // output file count follows the partition's bytes, like OPTIMIZE —
        // a purge must not collapse a 10 GB partition into one file
        val nOut = math.max(1L,
          (files.map(_.getLen).sum + targetBytes - 1) / targetBytes).toInt
        if (files.exists(f => dvFiles(f.getPath.getName)))
          Some((st.getPath.getName, nOut))
        else None
      }
      .sortBy(_._1).toSeq
    targets.foreach { case (dirName, nOut) =>
      compactOne(spark, table, partColP, dirName, materializes = true,
        dvPairs)(rows => rows.repartition(nOut))
    }
    if (targets.nonEmpty) refreshIndexSidecars(spark, table)
    targets.map { case (dirName, _) => unescape(dirName, partColP) }
  }

  /** DV-aware needle-in-haystack point lookup: the table filtered to
    * `column = value` through the per-file Bloom sidecar (only admitting
    * files enter the scan, [[graft.core.BloomIndex.lookup]]) with any
    * pending deletion-vector rows subtracted — the takedown-verification
    * shape at 100 TB ("is this subject id really gone?"), which the raw
    * Bloom lookup cannot answer (it returns the pre-subtraction row set)
    * and a full `readCommitted` scan answers at O(table). Row-equivalent
    * to `readCommitted(...).filter(col(column) === value)` on a quiescent
    * table (the sidecar lookup resolves files by directory listing, not
    * snapshot resolution — the same staleness contract BloomIndex
    * documents). */
  def pointLookup(
      spark: SparkSession,
      table: String,
      column: String,
      value: String): DataFrame = {
    ShallowClone.refuseDirect(spark, table, "pointLookup")
    // the Bloom sidecar is keyed by PHYSICAL column name — a rename
    // invalidates nothing; callers probe by logical name
    val colMap = ColumnMapping.mapping(spark, table)
    val colP = ColumnMapping.physicalName(colMap, column)
    val w = TypeWidening.of(spark, table, TableFeatures.features(spark, table))
    val dv = DeletionVectors.pairsAsOf(spark, table, Long.MaxValue,
      TxnLog.commitsSince(spark, table, 0L))
    val raw =
      if (w.isEmpty)
        graft.core.BloomIndex.lookup(spark, table, colP, value)._1
      else {
        // a live widening of the PROBED column is only servable when the
        // widening keeps the value's rendered string form (the sidecar
        // folds per-file values as strings): every integral→integral
        // upcast does; int→double / →decimal re-render ("10" vs "10.0"),
        // so no single probe string admits both widths — refuse loudly
        // rather than silently miss, the route's asOf discipline
        w.get(colP).foreach { to =>
          val stable = to match {
            case org.apache.spark.sql.types.ShortType |
                 org.apache.spark.sql.types.IntegerType |
                 org.apache.spark.sql.types.LongType => true
            case _ => false
          }
          if (!stable) throw new IllegalStateException(
            s"pointLookup on $table.$column is unavailable under the live " +
              s"type widening to ${to.simpleString}: the Bloom sidecar " +
              "folds per-file STRING forms and this widening re-renders " +
              "them — run TypeWidening.materialize (Maintain widenmat) " +
              "first")
        }
        // mixed physical widths cannot share one mounted read: mount the
        // admitted files per partition dir (the publish unit — widths are
        // uniform inside one dir), upcast each leg, union by name —
        // exactly snapshotPhysical's discipline
        val (candidates, _) =
          graft.core.BloomIndex.admission(spark, table, colP, value)
        widenedCandidateRead(spark, table, candidates, w,
          col(colP) === value)
      }
    ColumnMapping.applyLogical(DeletionVectors.applyTo(raw, dv), colMap)
  }

  /** Mount sidecar-admitted `candidates` on a type-widened table: one
    * read leg per partition dir (widths are uniform within one publish
    * unit), each leg upcast to the registered wide types BEFORE the
    * union, the probe predicate applied per leg (after the upcast, so
    * its comparison types agree). Empty candidates read the schema-only
    * empty frame, upcast. */
  private def widenedCandidateRead(
      spark: SparkSession,
      table: String,
      candidates: Seq[String],
      w: Map[String, org.apache.spark.sql.types.DataType],
      pred: org.apache.spark.sql.Column): DataFrame =
    if (candidates.isEmpty)
      TypeWidening.applyTo(
        spark.read.parquet(table).filter(lit(false)), w)
    else
      candidates.groupBy(f => f.substring(0, f.lastIndexOf('/')))
        .toSeq.sortBy(_._1)
        .map { case (_, group) =>
          TypeWidening.applyTo(
            spark.read.option("basePath", table)
              .option("mergeSchema", "true").parquet(group: _*), w)
            .filter(pred)
        }
        .reduce(_.unionByName(_, allowMissingColumns = true))

  /** DV-aware range scan through the min/max stats sidecar — the range
    * twin of [[pointLookup]] ([[graft.core.StatsIndex.rangeScan]] prunes
    * the files, then pending deletion vectors are subtracted), so an
    * audit like "every amount in [lo, hi] for this quarter" answers at
    * O(intersecting files) against the COMMITTED row set, which the raw
    * sidecar scan (pre-subtraction) cannot do and a committed read does
    * at O(table). */
  def rangeLookup(
      spark: SparkSession,
      table: String,
      column: String,
      lo: Option[Any],
      hi: Option[Any]): DataFrame =
    rangeLookupAll(spark, table, Seq((column, lo, hi)))

  /** Composite AND-of-ranges twin of [[rangeLookup]]: each probe consults
    * its column's OWN stats sidecar and the admitted file sets INTERSECT
    * before any file is scheduled ([[graft.core.StatsIndex.rangeScanAll]]
    * — on a table clustered by two keys, files(a AND b) ≤ min(files(a),
    * files(b)), never the union), then pending deletion vectors are
    * subtracted once over the composite-pruned frame. */
  def rangeLookupAll(
      spark: SparkSession,
      table: String,
      probes: Seq[(String, Option[Any], Option[Any])]): DataFrame = {
    ShallowClone.refuseDirect(spark, table, "rangeLookup")
    // stats sidecars are keyed by PHYSICAL column name, like bloom's
    val colMap = ColumnMapping.mapping(spark, table)
    val probesP = probes.map { case (c, lo, hi) =>
      (ColumnMapping.physicalName(colMap, c), lo, hi) }
    val w = TypeWidening.of(spark, table, TableFeatures.features(spark, table))
    val raw =
      if (w.isEmpty)
        graft.core.StatsIndex.rangeScanAll(spark, table, probesP)._1
      else {
        // same admission as the plain scan, but the candidates mount per
        // partition dir with each leg upcast below the union (mixed
        // widths refuse one shared read); the probe bounds compare at
        // the WIDE type on every leg, so int and bigint files of one
        // widened column admit identically
        val (candidates, _) =
          graft.core.StatsIndex.admissionAll(spark, table, probesP)
        widenedCandidateRead(spark, table, candidates, w,
          graft.core.StatsIndex.predicateOf(probesP))
      }
    val dv = DeletionVectors.pairsAsOf(spark, table, Long.MaxValue,
      TxnLog.commitsSince(spark, table, 0L))
    ColumnMapping.applyLogical(DeletionVectors.applyTo(raw, dv), colMap)
  }

  /** Remove retained generations older than `minAgeMs` (age since
    * REPLACEMENT — the retention rename sets the directory mtime), bounding
    * history growth; the time-travel horizon is exactly this retention,
    * like Delta's. Returns the number of generation roots removed.
    *
    * SOUNDNESS: age alone must never delete the generation of an
    * END-unclosed retaining begin. That generation is the only findable
    * pre-image of a write that never committed (crashed mid-publish, in
    * flight, or aborted with its rollback unconsumed): [[resolveSnapshot]]'s
    * unclosed-begin path and [[repairCrashedWriter]] both route through it,
    * and with it gone the live dir's UNCOMMITTED data would read back as
    * committed — exactly the hole [[graft.core.TxnLog]]'s pinnedBeginFloor
    * exists to prevent on the manifest side. A begin is released for
    * vacuum only once a LATER end commits every partition it touched
    * (the same supersession rule resolution uses: the later-ends path then
    * rules, and the crashed generation is plain time-travel history).
    * Abort-closed begins stay pinned: abort records release the claim for
    * writers but do not certify the live dir for snapshot resolution. */
  def vacuumHistory(
      spark: SparkSession, table: String,
      minAgeMs: Long = 7L * 24 * 3600 * 1000): Int = {
    val hist = new org.apache.hadoop.fs.Path(s"$table/$HistoryDir")
    val fs = hist.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(hist)) return 0
    val commits = TxnLog.commitsSince(spark, table, 0L)
    val ends = commits.filter(c => c.op.endsWith("-end") && c.ref.isDefined)
    val endClosed = ends.flatMap(_.ref).toSet
    def superseded(c: TxnLog.Commit): Boolean =
      if (c.all) ends.exists(e => e.version > c.version && e.all)
      else c.partitions.forall(pv => ends.exists(e =>
        e.version > c.version && (e.all || e.partitions.contains(pv))))
    val pinned = commits.filter(c => RetainingBegins.contains(c.op) &&
      !endClosed.contains(c.version) && !superseded(c)).map(_.version).toSet
    // shallow clones PIN retention: a live clone pinned at v resolves
    // rewritten partitions through generations with version > v (the
    // first post-pin rewrite retains exactly the pinned content), so no
    // generation above the oldest live pin may be removed — the Delta
    // "vacuum breaks shallow clones" footgun, closed at the source
    val clonePinFloor = ShallowClone.livePins(spark, table).minOption
    val cutoff = System.currentTimeMillis() - minAgeMs
    val victims = fs.listStatus(hist)
      .filter { st =>
        val v = st.getPath.getName.stripPrefix("v").toLongOption
        st.getPath.getName.matches("v\\d+") && st.getModificationTime < cutoff &&
          !pinned.contains(v.get) &&
          clonePinFloor.forall(floor => v.get <= floor)
      }
    victims.foreach(st => fs.delete(st.getPath, true))
    // change files age out WITH their commit's generation (keyed by the
    // same begin version), so the feed's horizon stays exactly the time
    // travel horizon — one retention policy, one loud-failure boundary.
    victims.foreach(st => fs.delete(new org.apache.hadoop.fs.Path(
      s"$table/${ChangeFeed.ChangesDir}/${st.getPath.getName}"), true))
    // deletion-vector sidecars share the policy but have their own
    // liveness rule (a DV binds to FILE NAMES, not to one generation)
    DeletionVectors.vacuumDvSidecars(spark, table, cutoff, commits)
    // change-record debris BELOW THE MANIFEST HORIZON can never be read
    // again (the feed requires a retained END commit, and ranges reaching
    // below the horizon throw) — sweep aged version dirs the
    // generation-keyed deletion above could not reach: aborted claims'
    // orphan records and crashed merges' staging. A LIVE claim is never
    // below the horizon (truncate pins unclosed begins), and the age guard
    // keeps this conservative against clock skew.
    val changesRoot = new org.apache.hadoop.fs.Path(
      s"$table/${ChangeFeed.ChangesDir}")
    if (fs.exists(changesRoot)) {
      // the floor counts retained END *refs* too: truncate can drop a
      // closed BEGIN while keeping its END, and that END's ref still
      // resolves the begin-keyed change dir — sweeping it would knock a
      // perfectly readable feed back onto the diff path (or over the
      // as-of horizon)
      val floor = (commits.map(_.version) ++ commits.flatMap(_.ref))
        .minOption.getOrElse(Long.MaxValue)
      fs.listStatus(changesRoot)
        .filter { st =>
          st.getModificationTime < cutoff &&
            st.getPath.getName.stripPrefix("v").toLongOption.exists(_ < floor)
        }
        .foreach(st => fs.delete(st.getPath, true))
    }
    victims.length
  }

  /** The surviving rows of a partition dir, or None if it does not exist.
    * Schema discipline in BOTH directions: updates with columns the table
    * lacks fail in the select below (analysis error); a table with columns
    * the updates lack fails HERE — selecting only the updates' columns
    * would silently rewrite every surviving row without the uncovered
    * columns (Delta MERGE preserves unmentioned columns; losing them must
    * be loud). */
  private def existingPartition(
      spark: SparkSession, partDir: String, dataCols: Seq[String],
      partValue: String, requireCoverage: Boolean = true,
      dv: Option[DataFrame] = None,
      droppedCols: Set[String] = Set.empty,
      updatesSchema: Option[org.apache.spark.sql.types.StructType] = None,
      keyCols: Seq[String] = Seq.empty,
      widenings: Map[String, org.apache.spark.sql.types.DataType] =
        Map.empty): Option[DataFrame] = {
    val path = new org.apache.hadoop.fs.Path(partDir)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    // TYPE CONFLICTS on columns both sides share: a DECLARED widening
    // ([[TypeWidening]]) resolves by casting the partition's narrow side
    // up — this rewrite is exactly where the partition turns physically
    // wide. Anything else refuses LOUDLY: the union used to coerce
    // silently, which wrote one partition wider than its siblings and
    // broke the whole table's mergeSchema union read.
    def resolveTypes(old: DataFrame): DataFrame = updatesSchema match {
      case None => old
      case Some(schema) =>
        val conflicts = dataCols.filter(c =>
          old.columns.contains(c) && schema.fieldNames.contains(c) &&
            TypeWidening.ignoreNull(old.schema(c).dataType) !=
              TypeWidening.ignoreNull(schema(c).dataType))
        // updates NARROWER than the table are benign — the union casts
        // them up to the table's own type, partition width unchanged
        // (Delta writes cast to the table schema the same way)
        val wideningSide = conflicts.filterNot(c =>
          TypeWidening.upcastable(
            schema(c).dataType, old.schema(c).dataType))
        val (declared, refused) = wideningSide.partition(c =>
          widenings.get(c).exists(w =>
            TypeWidening.upcastable(old.schema(c).dataType, w) &&
              TypeWidening.upcastable(schema(c).dataType, w)))
        require(refused.isEmpty,
          "type conflict on column(s) " +
            refused.map(c => s"$c (table ${old.schema(c).dataType.simpleString} " +
              s"vs updates ${schema(c).dataType.simpleString})").mkString(", ") +
            s" in partition $partValue — a merge never changes existing " +
            "types silently; declare a value-preserving widening with " +
            "TypeWidening.widen, or cast the updates to the table's types")
        declared.foldLeft(old)((d, c) =>
          d.withColumn(c, col(c).cast(widenings(c))))
    }
    if (!fs.exists(path)) None
    else if (!requireCoverage)
      Some(DeletionVectors.applyTo(FooterSchema.read(spark, partDir), dv))
    else {
      val old = resolveTypes(
        DeletionVectors.applyTo(FooterSchema.read(spark, partDir), dv))
      // columns DROPPED via ColumnMapping are exempt from coverage: the
      // rewrite is exactly where their bytes lazily leave the partition
      val uncovered = old.columns.toSet -- dataCols.toSet -- droppedCols
      if (uncovered.nonEmpty)
        throw new IllegalArgumentException(
          s"updates do not cover existing columns ${uncovered.toSeq.sorted.mkString(", ")} " +
            s"of partition $partValue — surviving rows would lose them; " +
            "include the columns in updates (null-filled if unchanged is not intended)")
      // MERGE-TIME SCHEMA EVOLUTION (the Delta `schema.autoMerge.enabled`
      // analog — the reference turns it on globally, ref
      // SparkManager.scala:36): updates may carry columns this partition's
      // files have never seen. With the toggle on, the partition WIDENS in
      // this rewrite — surviving rows null-fill the new columns (typed
      // from the updates' schema) — while untouched sibling partitions
      // stay narrow and read null-filled through the mergeSchema union
      // read path. With it off (the Delta default), refuse loudly: a
      // producer must pre-widen with an explicit append. Key columns never
      // widen (a null-filled key matches nothing — every old row would
      // silently survive as if unmatched); type conflicts on columns both
      // sides share are refused rather than silently coerced.
      val missing = dataCols.filterNot(old.columns.contains)
      if (missing.isEmpty) Some(old.select(dataCols.map(col): _*))
      else {
        val schema = updatesSchema.getOrElse(
          throw new IllegalStateException("widening merge needs the updates schema"))
        val missingKeys = missing.filter(keyCols.contains)
        require(missingKeys.isEmpty,
          s"key column(s) ${missingKeys.mkString(", ")} do not exist in " +
            s"partition $partValue — a null-filled key matches nothing; keys " +
            "cannot be added by schema evolution")
        require(autoMergeEnabled(spark),
          s"updates carry new column(s) ${missing.mkString(", ")} that " +
            s"partition $partValue lacks; set graft.schema.autoMerge.enabled=true " +
            "to widen the table at merge time (old rows null-fill), or " +
            "pre-widen with an explicit append")
        // shared-column type conflicts were resolved (or refused) by
        // resolveTypes above — autoMerge itself only ADDS columns
        val widened = missing.foldLeft(old)((d, c) =>
          d.withColumn(c, lit(null).cast(schema(c).dataType)))
        Some(widened.select(dataCols.map(col): _*))
      }
    }
  }

  /** Merge-time schema evolution toggle — the Delta
    * `schema.autoMerge.enabled` analog (same default: off; the reference
    * enables it session-wide, ref `SparkManager.scala:36`). */
  private def autoMergeEnabled(spark: SparkSession): Boolean =
    spark.conf.get("graft.schema.autoMerge.enabled", "false").toBoolean
}
