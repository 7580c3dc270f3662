package graft.batch

import org.apache.spark.sql.SparkSession

import graft.core.{FooterSchema, LayoutOps, StatsIndex, TxnLog}

/** Incremental clustering — the Delta "liquid clustering" analog
  * (`ALTER TABLE … CLUSTER BY (cols)` + incremental `OPTIMIZE`): register
  * the cluster keys ONCE on the table, then run [[optimize]] on whatever
  * maintenance cadence; each pass rewrites only what actually drifted
  * since the last pass instead of re-laying-out the whole table the way
  * [[Upsert.optimizeZOrder]] does.
  *
  * Incrementality has three levels, each bounding the one below:
  *
  *   1. '''Candidates from the txn log, not a listing''' — the pass
  *      records the table version it ran at; the next pass asks
  *      [[graft.core.TxnLog.commitsSince]] which partitions any
  *      version-defining or compaction commit touched since. Partitions
  *      nothing touched are not even `listStatus`'d — nightly layout
  *      maintenance on a 3,000-partition table with 3 churned days costs
  *      3 partitions, O(churn), the same CDF-cursor discipline as the
  *      persisted-index refreshes. (A truncated manifest gap or a changed
  *      cluster spec degrades honestly to a full candidate listing — a
  *      partition the log can no longer vouch for must be re-checked,
  *      never assumed clustered.)
  *   2. '''Fingerprint skip''' — each clustered partition's file listing
  *      (sorted name:length pairs, md5) is recorded; a candidate whose
  *      current fingerprint matches is unchanged bytes (e.g. a rolled-back
  *      failed merge) and is skipped without any data IO.
  *   3. '''Tightness recognition''' — a changed partition is probed
  *      footer-only ([[graft.core.StatsIndex.disjointOn]]): if its files'
  *      per-file [min,max] intervals on the leading cluster key are
  *      already pairwise disjoint and the file count is within the sizing
  *      target, the merge happened to land in key order (append-mostly
  *      time keys do this constantly) and the partition is RECORDED as
  *      clustered with zero bytes rewritten. Only genuinely drifted
  *      partitions pay the rewrite.
  *
  * A drifted partition is rewritten range-clustered on the full key list
  * ([[graft.core.LayoutOps.clusterBy]] — lexicographic hierarchical sort,
  * the liquid layout) through the same claim + retain-first machinery as
  * compaction ([[Upsert.compactOne]]): atomic per partition, pending
  * deletion vectors materialized (version-defining claim) exactly like
  * any rewrite, time travel to pre-layout generations intact, crash
  * repair by the next claim holder.
  *
  * Storage-model note, stated rather than hidden: this engine's history
  * is directory-generation-granular, so the unit of incremental rewrite
  * is the PARTITION — a churned partition rewrites whole. Merges here
  * rewrite whole partition directories anyway (no stable files survive a
  * churned partition), so per-file drift tracking inside a partition
  * would track an empty set; levels 1–3 capture all the incrementality
  * the write path leaves available. */
object LiquidClustering {

  private val Prefix = "liquid-v"
  private val ColsKey = "_cols"
  private val VersionKey = "_version"

  /** What one [[optimize]] pass did. `mode` = "incremental" (candidates
    * from the txn log) or "full" (first pass, spec change, or truncated
    * history). `skippedUnchanged` counts candidates whose fingerprint
    * matched; `recognizedTight` partitions were re-recorded from footer
    * stats alone; only `rewritten` moved bytes. */
  final case class Report(
      mode: String,
      candidates: Int,
      skippedUnchanged: Int,
      recognizedTight: Seq[String],
      rewritten: Seq[String],
      /** Partitions a concurrent writer held when the pass reached them:
        * skipped this pass, NOT recorded as clustered, re-examined next
        * run (the version floor does not advance past a busy partition's
        * churn). One hot partition must not abort the whole nightly
        * pass. */
      skippedBusy: Seq[String] = Seq.empty)

  /** Register (or change) the cluster keys — Delta's
    * `ALTER TABLE … CLUSTER BY`. Logical names; a spec change makes the
    * next [[optimize]] re-evaluate every partition. */
  def setClusterBy(spark: SparkSession, table: String, cols: Seq[String]): Unit = {
    require(cols.nonEmpty, "CLUSTER BY needs at least one column")
    require(cols.distinct.size == cols.size, s"duplicate cluster key in $cols")
    val spec = cols.mkString(",")
    if (TableMeta.read(spark, table, Prefix).get(ColsKey).contains(spec)) return // idempotent
    // a spec change invalidates every recorded fingerprint — keep ONLY the
    // spec so the next pass re-evaluates from scratch
    TableFeatures.declare(spark, table, TableFeatures.Clustering)
    TableMeta.update(spark, table, Prefix) { cur =>
      if (cur.get(ColsKey).contains(spec)) cur else Map(ColsKey -> spec)
    }
  }

  /** The registered cluster keys, if any. */
  def clusterSpec(spark: SparkSession, table: String): Option[Seq[String]] =
    TableMeta.read(spark, table, Prefix).get(ColsKey).map(_.split(",").toSeq)

  /** Unregister clustering — Delta's `ALTER TABLE … CLUSTER BY NONE`.
    * Data files keep whatever layout the last pass gave them (harmless —
    * clustering is a performance property, not a correctness one); the
    * fingerprint/version state goes with the spec, so a later
    * [[setClusterBy]] starts from scratch. Idempotent. This is the verb
    * that clears [[TableFeatures.residue]] for the clustering feature. */
  def clusterByNone(spark: SparkSession, table: String): Unit =
    TableMeta.update(spark, table, Prefix) { cur =>
      if (cur.contains(ColsKey)) Map.empty else cur
    }

  /** One incremental clustering pass. Returns what it did; see class doc
    * for the cost shape. `targetBytes` sizes output files exactly like
    * OPTIMIZE (a partition is "over-filed" when it holds more than twice
    * the size-implied file count). */
  def optimize(
      spark: SparkSession,
      table: String,
      partCol: String,
      targetBytes: Long = 128L * 1024 * 1024): Report = {
    require(targetBytes >= 1, "targetBytes must be >= 1")
    val cols = clusterSpec(spark, table).getOrElse(
      throw new IllegalArgumentException(
        s"$table has no CLUSTER BY registration — call setClusterBy first"))
    val cmap = ColumnMapping.mapping(spark, table)
    val partColP = ColumnMapping.physicalName(cmap, partCol)
    val colsP = cols.map(ColumnMapping.physicalName(cmap, _))

    val root = new org.apache.hadoop.fs.Path(table)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val state = TableMeta.read(spark, table, Prefix)
    // the version floor for the NEXT pass is read before any listing: a
    // merge landing mid-pass commits above it and is re-examined next time
    val vNow = TxnLog.currentVersion(spark, table)
    val allCommits = TxnLog.commitsSince(spark, table, 0L)
    val dvPairs = DeletionVectors.pairsAsOf(spark, table, Long.MaxValue, allCommits)
    val dvFiles = Upsert.dvTargetFiles(dvPairs)

    def listAllDirs(): Seq[String] = Upsert.liveDirNames(fs, table, partColP)

    val lastV = state.get(VersionKey).map(_.toLong)
    // the log vouches for the gap ONLY if retained history reaches back to
    // the recorded version — a truncated manifest might have dropped an
    // end-commit that touched a partition we'd otherwise skip
    val contiguous = lastV.exists(v0 =>
      allCommits.headOption.forall(_.version <= v0 + 1))
    val (mode, candidates) =
      if (!contiguous) ("full", listAllDirs())
      else {
        val since = allCommits.filter(_.version > lastV.get)
        val touching = since.filter(c =>
          c.op.endsWith("-end") && (c.all || c.partitions.nonEmpty))
        if (touching.exists(_.all)) ("full", listAllDirs())
        else ("incremental",
          touching.flatMap(_.partitions).distinct.sorted
            .map(v => s"$partColP=${Upsert.escapeValue(v)}")
            .filter(d => fs.exists(new org.apache.hadoop.fs.Path(root, d))))
      }

    def fingerprint(dirName: String): Option[(String, Seq[org.apache.hadoop.fs.FileStatus])] = {
      val files = fs.listStatus(new org.apache.hadoop.fs.Path(root, dirName))
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .sortBy(_.getPath.getName).toSeq
      if (files.isEmpty) None
      else {
        val md = java.security.MessageDigest.getInstance("MD5")
        files.foreach(f => md.update(
          s"${f.getPath.getName}:${f.getLen}|".getBytes("UTF-8")))
        Some((md.digest().map("%02x".format(_)).mkString, files))
      }
    }

    // the leading key's type drives the tightness probe; resolved once
    // from the first candidate's footer schema
    lazy val leadType: Option[org.apache.spark.sql.types.DataType] =
      candidates.headOption.flatMap { d =>
        scala.util.Try(FooterSchema.read(spark, s"$table/$d").schema)
          .toOption.flatMap(_.find(_.name == colsP.head).map(_.dataType))
      }

    var skipped = 0
    val tight = Seq.newBuilder[String]
    val rewritten = Seq.newBuilder[String]
    val busy = Seq.newBuilder[String]
    val ourBegins = Set.newBuilder[Long]
    val newState = scala.collection.mutable.Map[String, String]()
    candidates.foreach { dirName =>
      fingerprint(dirName) match {
        case None => // empty/vanished partition: nothing to lay out
        case Some((fp, files)) if state.get(dirName).contains(fp) &&
            !files.exists(f => dvFiles(f.getPath.getName)) =>
          // unchanged bytes AND no deletion vector landed on them — a DV
          // delete changes the partition's effective rows without touching
          // its parquet files, so a bare fingerprint match must not hide it
          skipped += 1
          newState(dirName) = fp
        case Some((fp, files)) =>
          val bytes = files.map(_.getLen).sum
          val nOut = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
          val carriesDv = files.exists(f => dvFiles(f.getPath.getName))
          // tight = already range-clustered AND not over-filed AND no
          // pending DVs (a DV'd partition's effective rows differ from its
          // bytes; recording it as clustered would hide a purge-shaped
          // rewrite the layout pass is entitled to fold in)
          val isTight = !carriesDv && files.size <= 2 * nOut &&
            leadType.exists(dt => StatsIndex.disjointOn(spark,
              files.map(_.getPath.toString), colsP.head, dt))
          if (isTight) {
            tight += dirName
            newState(dirName) = fp
          } else {
            // a concurrent writer holding this partition skips it, not
            // the pass: one hot partition must not abort the nightly run.
            // Nothing is recorded for it and the version floor stays put
            // (below), so the next pass re-examines it.
            try {
              val bv = Upsert.compactOne(
                spark, table, partColP, dirName, carriesDv, dvPairs) {
                rows => LayoutOps.clusterBy(rows, colsP, nOut)
              }
              ourBegins += bv
              rewritten += dirName
              // The fingerprint is listed AFTER compactOne releases its
              // claim, so a concurrent writer could rewrite the partition
              // in that window and WE would record ITS listing as the
              // clustered state (a churned partition skipped as clustered
              // next pass). List first, then drop the record if any
              // commit since our begin — other than our own begin/end
              // pair — names this partition: a foreign BEGIN before our
              // listing means the files may not be ours (its publish can
              // precede its end record), so the partition stays
              // unrecorded and is re-examined next pass.
              val fpNow = fingerprint(dirName)
              val value = Upsert.unescape(dirName, partColP)
              val foreignTail = TxnLog.commitsSince(spark, table, bv - 1)
                .exists(c => c.version != bv && !c.ref.contains(bv) &&
                  (c.all || c.partitions.contains(value)))
              if (!foreignTail)
                fpNow.foreach { case (fp2, _) => newState(dirName) = fp2 }
            } catch {
              case _: graft.core.TxnLog.ConcurrentWriteException =>
                busy += dirName
            }
          }
      }
    }
    val rewrote = rewritten.result()
    val busySkipped = busy.result()
    if (rewrote.nonEmpty) Upsert.refreshIndexSidecars(spark, table)
    // Version floor for the NEXT pass: advance past this pass's OWN
    // rewrite commits (otherwise tonight's pass re-lists everything last
    // night's pass rewrote), but only while the tail above vNow is PURELY
    // ours — a foreign commit interleaved mid-pass keeps the floor at
    // vNow so its partitions are re-examined next time. A busy-skipped
    // partition keeps the floor at the PREVIOUS pass's version entirely:
    // the churn that made it a candidate must stay above the floor, or a
    // writer that ABORTS after blocking us would leave it unclustered
    // and never re-examined.
    val ours = ourBegins.result()
    val vNext =
      if (busySkipped.nonEmpty) lastV
      else Some(TxnLog.commitsSince(spark, table, vNow)
        .takeWhile(c => ours(c.version) || c.ref.exists(ours))
        .lastOption.map(_.version).getOrElse(vNow))
    // carry forward records for partitions that were NOT candidates (still
    // clustered, untouched since) and fold in this pass's results — unless
    // the spec changed mid-pass: then this pass's fingerprints describe a
    // stale layout, and the new spec (or its removal) stands as set
    val spec = cols.mkString(",")
    TableMeta.update(spark, table, Prefix) { cur =>
      if (!cur.get(ColsKey).contains(spec)) cur
      else cur.view.filterKeys(k => !k.startsWith("_") && !candidates.contains(k)).toMap ++
        newState ++ Map(ColsKey -> spec) ++ vNext.map(v => VersionKey -> v.toString)
    }
    Report(mode, candidates.size, skipped, tight.result(), rewrote, busySkipped)
  }
}
