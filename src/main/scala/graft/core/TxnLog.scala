package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Per-table optimistic-concurrency manifest — the engine's stand-in for
  * the multi-writer commit protocol the reference inherits from Delta
  * (ref SparkManager.scala:36-37 enables Delta ACID; Delta serializes
  * writers through an ordered `_delta_log` with create-exclusive commits).
  *
  * Layout: `<table>/_graft_txn/v00000000000000000042.json`, one file per
  * commit, zero-padded so lexicographic order IS version order. Each commit
  * records the operation and the partition values it touched. The version
  * file itself is the claim: it is created EXCLUSIVELY (`O_EXCL` on local
  * filesystems, atomic `create(overwrite = false)` on HDFS-likes), so two
  * writers racing for version N+1 cannot both win — the loser re-reads the
  * log, re-checks its conflict window, and either retries with N+2 (disjoint
  * partitions) or fails loudly ([[ConcurrentWriteException]]) instead of
  * silently last-winning.
  *
  * Protocol (the classic OCC read-validate-write):
  *  1. writer snapshots [[currentVersion]] BEFORE reading any table data;
  *  2. writer prepares its new partition content;
  *  3. [[commit]] scans every commit that landed after the snapshot — an
  *     overlap with the writer's partitions means the data it read is stale
  *     → ConcurrentWriteException BEFORE anything is published;
  *  4. the claim lands (create-exclusive), AFTER which no other writer can
  *     commit an overlapping partition against an older snapshot — so the
  *     claimer may publish its partitions knowing it owns them.
  *
  * Crash window: a writer that dies between its claim and its publish
  * leaves a committed version without data. That is harmless to readers
  * (data visibility is the directory tree, never this manifest) and to
  * writers (later snapshots include the dangling version, so it conflicts
  * with nothing they read). The manifest is METADATA — O(commits), a few
  * hundred bytes each; [[truncate]] keeps it bounded.
  *
  * Probe cost: every [[CheckpointInterval]] commits the full retained
  * state is compacted into one `checkpoint-v<N>.json` (Delta's
  * checkpoint-every-10 design), so [[commitsSince]] reads one checkpoint
  * plus the tail of commits above it — O(tail) small reads per probe, not
  * O(history), no matter how long the manifest grows between truncations.
  *
  * At 100 TB: one small file create per commit, conflict scan bounded by
  * the commits since the writer's snapshot (not table size). The same
  * pattern Delta runs on multi-PB tables.
  */
object TxnLog {

  /** A concurrent writer published an overlapping partition between this
    * writer's snapshot and its commit — the read was stale; retry the whole
    * operation against the new table state. */
  final class ConcurrentWriteException(msg: String)
    extends RuntimeException(msg)

  /** @param all  whole-table claim (e.g. a compaction's log swap touches
    *             every partition). A DEDICATED FLAG, not a magic partition
    *             value: a table whose partition column contains the literal
    *             string "*" must conflict like any other value, not like a
    *             wildcard.
    * @param txn  idempotence marker `"<appId>:<batchId>"` for exactly-once
    *             streaming upserts (Delta's txnAppId/txnVersion analog) —
    *             see [[graft.streaming.StreamingUpsert]]. */
  final case class Commit(
      version: Long,
      op: String,
      partitions: Set[String],
      ts: Long,
      /** for `*-end` records: the version of the `*-begin` they close */
      ref: Option[Long] = None,
      all: Boolean = false,
      txn: Option[String] = None,
      /** named counters a ledger commit carries (e.g. per-rule
        * expectation metrics — see [[graft.batch.Expectations]]); pure
        * audit payload, never consulted by conflict checks. */
      counts: Option[Map[String, Long]] = None)

  /** Wall-clock source for commit timestamps — injectable so specs can
    * prove the in-commit-timestamp clamp under a skewed/backward clock
    * (production never overrides it). */
  private[graft] var clock: () => Long = () => System.currentTimeMillis()

  /** Structural probe: manifest files opened (commit + checkpoint reads).
    * The O(tail) claims are assertable on this count — files read per
    * commit must stay bounded by the checkpoint interval, never grow with
    * history depth — without wall-clock bounds that flake on a loaded
    * host. Monotone counter; tests diff it around the probed region. */
  private[graft] val manifestReads =
    new java.util.concurrent.atomic.AtomicLong(0L)

  private val Pad = 20
  /** Compact the retained manifest into one checkpoint file every this many
    * commits (Delta defaults to 10). A checkpoint always carries EVERY
    * retained commit ≤ its version — no inner retention window, or commits
    * whose version files still exist would silently vanish from probes;
    * [[truncate]] is the single authority on what drops out of history. */
  private[graft] val CheckpointInterval = 10
  /** Root of the retained pre-image generations, owned by `Upsert`'s
    * retain-first publish path (`<table>/_graft_history/v<begin>/...`).
    * Named here too because [[truncate]]'s pinning exemption must probe a
    * generation's contents — single source of truth for the layout. */
  private[graft] val HistoryDir = "_graft_history"
  private def logDir(table: String) = new Path(table, "_graft_txn")
  private def vFile(dir: Path, v: Long) = new Path(dir, f"v$v%020d.json")
  private def ckptFile(dir: Path, v: Long) = new Path(dir, f"checkpoint-v$v%020d.json")

  private def fsFor(spark: SparkSession, table: String): FileSystem =
    logDir(table).getFileSystem(spark.sessionState.newHadoopConf())

  /** Highest committed version, 0 if the table has no manifest yet (a
    * legacy/single-writer table: every commit path upgrades it lazily). */
  def currentVersion(spark: SparkSession, table: String): Long = {
    val fs = fsFor(spark, table)
    val dir = logDir(table)
    if (!fs.exists(dir)) 0L
    else versionsIn(fs, dir).lastOption.getOrElse(0L)
  }

  /** All commits with version > `after`, in version order. Reads the latest
    * checkpoint plus the commit files above it — O(tail), not O(history).
    * An unparseable version file (a claim whose content write is in flight)
    * is retried briefly, then surfaced conservatively as touching
    * EVERYTHING — a conflict checker must treat an unreadable claim as a
    * conflict, never as absence. */
  def commitsSince(spark: SparkSession, table: String, after: Long): Seq[Commit] = {
    val fs = fsFor(spark, table)
    val dir = logDir(table)
    if (!fs.exists(dir)) return Seq.empty
    // a concurrent truncate may delete a version file between our listing
    // and our read — re-list and retry (bounded; truncation is rare)
    var attempt = 0
    while (true) {
      attempt += 1
      try {
        // ONE directory listing serves both the commit-file and the
        // checkpoint-file views (r21: the split versionsIn +
        // checkpointVersions calls cost two listStatus round-trips per
        // probe, and every commit/conflict-check/readerState probe lands
        // here — manifest LATENCY, not read count, was the storage floor)
        val (vs, ckpts) = listLog(fs, dir)
        // fast path: when `after` is at or above the newest checkpoint, its
        // whole content would be filtered out anyway — skip the (possibly
        // large) checkpoint read entirely and walk only the tail files.
        // This is the shape of every hot probe (conflict checks against a
        // near-tip snapshot, readCommitted's newTouches re-probe).
        val newestCkpt = ckpts.lastOption.getOrElse(Long.MinValue)
        if (after >= newestCkpt)
          return vs.filter(_ > after)
            .map(v => readCommit(fs, dir, v)).sortBy(_.version)
        val base = latestCheckpointOf(fs, dir, ckpts)
        val floor = base.map(_._1).getOrElse(0L)
        val fromCkpt = base.map(_._2).getOrElse(Seq.empty).filter(_.version > after)
        val tail = vs.filter(v => v > floor && v > after)
          .map(v => readCommit(fs, dir, v))
        return (fromCkpt ++ tail).sortBy(_.version)
      } catch {
        // a concurrent truncate deleted a listed file mid-read; generous
        // budget — a tight maintenance loop can race several listings in a
        // row, and each retry is cheap (one re-list)
        case _: java.io.FileNotFoundException if attempt < 20 =>
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** CAS commit of (`op`, `partitions`) on top of the writer's
    * `snapshotVersion`. Fails with [[ConcurrentWriteException]] if any
    * commit after the snapshot touches one of `partitions`; otherwise
    * claims the next version (retrying version-number collisions with
    * concurrent writers of DISJOINT partitions) and returns it. */
  def commit(
      spark: SparkSession,
      table: String,
      op: String,
      partitions: Set[String],
      snapshotVersion: Long,
      ref: Option[Long] = None,
      all: Boolean = false,
      txn: Option[String] = None,
      counts: Option[Map[String, Long]] = None): Commit = {
    val fs = fsFor(spark, table)
    val dir = logDir(table)
    fs.mkdirs(dir)
    var attempts = 0
    while (true) {
      attempts += 1
      if (attempts > 1000)
        throw new IllegalStateException(
          s"TxnLog.commit: $table still contended after $attempts attempts")
      // read one version BELOW the snapshot too: the tip's ts seeds the
      // in-commit-timestamp clamp (see below) even when nothing committed
      // after this writer's snapshot
      val withTip = commitsSince(spark, table, math.max(snapshotVersion - 1, -1L))
      val since = withTip.filter(_.version > snapshotVersion)
      since.find(c => overlaps(c.partitions, c.all, partitions, all))
        .foreach { c =>
          throw new ConcurrentWriteException(
            s"concurrent write to $table: commit v${c.version} (${c.op}) touched " +
              s"${describe(c.partitions, c.all)} after this writer's snapshot " +
              s"v$snapshotVersion — partitions ${describe(partitions, all)} are stale; " +
              "re-read and retry the operation")
        }
      // SOUNDNESS: `next` comes from the SAME listing as the conflict check,
      // so a successful exclusive create of version N proves this writer saw
      // (and conflict-checked) every version below N — a racing commit that
      // claimed N first makes our create fail, and the retry re-reads it.
      val next = since.lastOption.map(_.version).getOrElse(snapshotVersion) + 1
      // IN-COMMIT TIMESTAMPS (Delta 3.3 `delta.enableInCommitTimestamps`
      // analog, on always): the commit ts is clamped to STRICTLY exceed the
      // previous commit's ts, so the (version, ts) axes agree — ts is
      // monotone in version no matter how writer clocks skew, step
      // backward, or collide within one millisecond. `TIMESTAMP AS OF`
      // (`Upsert.versionAt`) binary-searches this ts, so monotonicity is
      // what makes "newest commit at or before T" well-defined. The ts
      // lives INSIDE the commit record (and its checkpoints), never in
      // file mtimes — copying or restoring a table keeps the time axis
      // exact. A clamped-forward ts (skewed predecessor) ages out of the
      // begin-staleness window later than wall clock would — the safe
      // direction (a claim is held longer, never usurped early).
      val prevTs = withTip.lastOption.map(_.ts).getOrElse(0L)
      val c = Commit(next, op, partitions,
        math.max(clock(), prevTs + 1), ref, all, txn, counts)
      if (createExclusive(fs, vFile(dir, next), render(c))) {
        if (next % CheckpointInterval == 0) writeCheckpoint(spark, table, fs, dir, next)
        return c
      }
      // lost the version race to a disjoint writer — loop re-checks conflicts
    }
    throw new IllegalStateException("unreachable")
  }

  /** Two-phase claim for write operations whose data publication follows
    * the log record (a plain-directory engine cannot make the commit file
    * itself the point of data visibility the way Delta does — see the
    * class doc's crash-window note).
    *
    * `begin` refuses if (a) any commit after `snapshotVersion` overlaps
    * `partitions` (the OCC stale-read check), or (b) an UNCLOSED fresh
    * `*-begin` anywhere in the log overlaps them (a writer claimed before
    * our snapshot but has not published yet). An unclosed begin older than
    * `staleLockMs` is a crashed writer's leftover and is ignored — its
    * publish either completed atomically or never installed, so the
    * partition directory is consistent either way. (A writer PAUSED longer
    * than the horizon and then resuming is the one hazard of lease-style
    * claims; [[end]] detects the usurpation and fails loudly after the
    * fact.) */
  def begin(
      spark: SparkSession,
      table: String,
      op: String,
      partitions: Set[String],
      snapshotVersion: Long,
      staleLockMs: Long = 30L * 60 * 1000,
      all: Boolean = false): Commit = {
    val allCommits = commitsSince(spark, table, 0L)
    val closed = allCommits.flatMap(_.ref).toSet
    val now = clock()
    allCommits.find { c =>
      c.op.endsWith("-begin") && !closed.contains(c.version) &&
        now - c.ts < staleLockMs && overlaps(c.partitions, c.all, partitions, all)
    }.foreach { c =>
      throw new ConcurrentWriteException(
        s"concurrent write to $table: in-flight ${c.op} v${c.version} holds " +
          s"${describe(c.partitions, c.all)} (age ${now - c.ts} ms < $staleLockMs ms); " +
          "retry after it completes")
    }
    commit(spark, table, s"$op-begin", partitions, snapshotVersion, all = all)
  }

  /** Close a [[begin]] claim after the data publish. A conflicting commit
    * between the begin and here means another writer ignored this claim as
    * stale (this process was paused past `staleLockMs`) and the partition
    * may hold its data — fail loudly rather than record a clean end. */
  def end(spark: SparkSession, table: String, begun: Commit): Commit =
    commit(spark, table, begun.op.stripSuffix("-begin") + "-end",
      begun.partitions, begun.version, ref = Some(begun.version), all = begun.all)

  /** Close a [[begin]] claim after a FAILED operation. The abort record's
    * `ref` releases the claim immediately (the closed-set check in
    * [[begin]]/[[readerState]] keys on refs, not on op names), so a failed
    * merge does not lock its partition for the staleness horizon — the
    * caller can fix the input and retry at once. Abort records are never
    * treated as committed writes (snapshot resolution consults `*-end`
    * only). Best-effort by contract: callers emit it from failure paths
    * and must not mask the original error if the abort itself fails.
    * Callers whose failure may POSTDATE their data publish must roll the
    * publish back before aborting (see `Upsert.mergeUnderClaim`, which
    * rolls back every installed partition of its claim, then aborts once)
    * — an abort alone does not undo installed data. */
  def abort(spark: SparkSession, table: String, begun: Commit): Commit =
    commit(spark, table, begun.op.stripSuffix("-begin") + "-abort",
      begun.partitions, begun.version, ref = Some(begun.version), all = begun.all)

  /** Record that idempotence token `txn` (= `"<appId>:<batchId>"`) has been
    * applied to `table`. Touches no partitions, so it conflicts with
    * nothing — it is a pure ledger entry for [[txnApplied]]. */
  def commitTxn(spark: SparkSession, table: String, txnId: String): Commit =
    commit(spark, table, "txn", Set.empty,
      currentVersion(spark, table), txn = Some(txnId))

  /** Record a named-counter ledger entry (op + counts). Touches no
    * partitions, so it conflicts with nothing — pure audit payload (the
    * per-rule expectation metrics ride on this). */
  def commitCounts(
      spark: SparkSession, table: String, op: String,
      counts: Map[String, Long]): Commit =
    commit(spark, table, op, Set.empty,
      currentVersion(spark, table), counts = Some(counts))

  /** Has [[commitTxn]] recorded `txnId` within the retained manifest?
    * Retention caveat (same as Delta's): [[truncate]] can age out a marker,
    * so the horizon must exceed the maximum expected replay gap — with the
    * default keep=100 and Structured Streaming replaying only the LAST
    * unacknowledged batch, the marker consulted is always the newest. */
  def txnApplied(spark: SparkSession, table: String, txnId: String): Boolean =
    commitsSince(spark, table, 0L).exists(c => c.op == "txn" && c.txn.contains(txnId))

  /** Empty non-wildcard claims (txn markers) overlap nothing; a wildcard
    * claim overlaps any non-empty or wildcard claim. */
  private def overlaps(
      a: Set[String], aAll: Boolean, b: Set[String], bAll: Boolean): Boolean =
    if ((a.isEmpty && !aAll) || (b.isEmpty && !bAll)) false
    else aAll || bAll || a.exists(b)

  private def describe(parts: Set[String], all: Boolean): String =
    if (all) "<all partitions>" else parts.toSeq.sorted.mkString(",")

  /** Reader-side stability probe: (current version, whether an unclosed
    * fresh `*-begin` is in flight). A reader resolves its file listing,
    * then re-probes — an unchanged version with nothing in flight proves no
    * table-rewrite swap overlapped the resolution (any swap commits its
    * begin BEFORE swapping, so an overlapping swap is visible in one of the
    * two probes). Begins older than `staleLockMs` are crashed writers —
    * their swap either completed or was repaired; readers proceed.
    * `allClaimsOnly = true` restricts the in-flight flag to WHOLE-TABLE
    * claims (compaction log swaps): snapshot readers that resolve
    * partition-level claims through retained pre-images do not need to wait
    * out partition-level writes, only full-listing rewrites. */
  def readerState(
      spark: SparkSession, table: String,
      staleLockMs: Long = 30000L,
      allClaimsOnly: Boolean = false): (Long, Boolean) = {
    val allCommits = commitsSince(spark, table, 0L)
    val closed = allCommits.flatMap(_.ref).toSet
    val now = clock()
    val inFlight = allCommits.exists(c => c.op.endsWith("-begin") &&
      (c.all || !allClaimsOnly) &&
      !closed.contains(c.version) && now - c.ts < staleLockMs)
    (allCommits.lastOption.map(_.version).getOrElse(0L), inFlight)
  }

  /** The oldest commit version that must survive truncation for snapshot
    * soundness: an unclosed `*-begin` pins itself and everything above it
    * (snapshot resolution routes partitions through unresolved begins'
    * retained pre-images, and the retained range must stay CONTIGUOUS for
    * the reconstruction-floor check) — UNLESS a later `*-end` committed an
    * overlapping partition, after which the begin is inert for resolution
    * (the later-ends path rules above that end, and the `> lastEnd` filter
    * excludes it below). A crashed writer therefore pins the horizon only
    * until the next successful write of its partition — bounded growth
    * without a reaper, and never silent mis-resolution.
    *
    * Closure here keys on END records ONLY, mirroring snapshot resolution
    * (`Upsert.resolveSnapshot` certifies the live dir with `*-end` refs,
    * never aborts): an ABORT-closed begin whose rollback raced a crash can
    * still be the route to the committed pre-image, so truncating it away
    * would make readers fall back to the live dir's failed write. Such a
    * begin pins exactly like an unclosed one, until a later overlapping
    * end supersedes it. (Writer-side claim release — `begin`'s closed set —
    * still counts aborts; only history retention is stricter.)
    *
    * EXCEPT: an abort-closed begin whose generation directory retained
    * NOTHING is inert and does not pin. The abort proves the writer
    * finished (it will never install later), and retain-first publishing
    * orders every install after its retention — so an empty (or absent)
    * generation means either nothing was ever installed, or the rollback
    * restored the pre-image to the live dir and consumed the generation.
    * Either way the live dir IS the committed state and resolution never
    * routes through this begin. Without the exemption a no-op operation
    * that aborts its claim (e.g. `deleteByKey` on a partition that does
    * not exist — no later end will EVER cover that value) would pin the
    * truncation horizon forever. Unclosed begins get no such exemption:
    * an empty generation there may be a live writer that has not retained
    * YET. Cost: one LIST per abort-closed otherwise-pinning begin, paid
    * only inside maintenance. */
  private def pinnedBeginFloor(
      fs: FileSystem, table: String, all: Seq[Commit]): Long = {
    val ends = all.filter(c => c.op.endsWith("-end") && c.ref.isDefined)
    val endClosed = ends.flatMap(_.ref).toSet
    val abortClosed = all.filter(c => c.op.endsWith("-abort") && c.ref.isDefined)
      .flatMap(_.ref).toSet
    def retainedNothing(v: Long): Boolean =
      try fs.listStatus(new Path(s"$table/$HistoryDir/v$v")).isEmpty
      catch { case _: java.io.FileNotFoundException => true }
    all.filter(c => c.op.endsWith("-begin") && !endClosed.contains(c.version) &&
        !ends.exists(e => e.version > c.version &&
          (e.all || c.all || e.partitions.exists(c.partitions))) &&
        !(abortClosed.contains(c.version) && retainedNothing(c.version)))
      .map(_.version).minOption.getOrElse(Long.MaxValue)
  }

  /** A `dv-end` (merge-on-read delete, `graft.batch.DeletionVectors`)
    * still governing live reads pins the truncation horizon: readers
    * locate its position sidecar THROUGH this record, and truncating it
    * would silently resurrect the deleted rows at the tip. The pin
    * releases once every partition the dv touched has been rewritten by a
    * later version-defining end — the rewrite materialized the deletes
    * into new files, so only sub-horizon time travel could still want the
    * record, and sub-horizon reads are refused loudly anyway. Pure
    * manifest math, no filesystem probes. */
  private def pinnedDvFloor(all: Seq[Commit]): Long = {
    val rewrites = all.filter(c => c.op == "upsert-end" && c.ref.isDefined)
    all.filter(c => c.op == "dv-end" && c.ref.isDefined &&
        !c.partitions.forall(pv => rewrites.exists(r =>
          r.version > c.version && (r.all || r.partitions.contains(pv)))))
      .map(_.version).minOption.getOrElse(Long.MaxValue)
  }

  /** Drop manifest entries older than `keep` versions below the current tip
    * (maintenance; the manifest is append-only otherwise). Never removes
    * the tip (version numbering must stay monotone) and never drops a
    * pinning begin or anything above it — see [[pinnedBeginFloor]].
    * Checkpoints older than the newest are swept too. */
  def truncate(spark: SparkSession, table: String, keep: Int = 100): Int = {
    val fs = fsFor(spark, table)
    val dir = logDir(table)
    if (!fs.exists(dir)) return 0
    val all = commitsSince(spark, table, 0L)
    val vs = versionsIn(fs, dir)
    val horizon = math.min(
      vs.lastOption.getOrElse(0L) - keep.toLong.max(1),
      math.min(pinnedBeginFloor(fs, table, all), pinnedDvFloor(all)))
    val victims = vs.filter(_ < horizon)
    victims.foreach(v => fs.delete(vFile(dir, v), false))
    // checkpoints carrying commits below the horizon would resurrect what
    // was just truncated (probes union checkpoint + tail) — delete them;
    // probes fall back to the remaining version files (bounded by `keep`)
    // until the next CheckpointInterval-th commit writes a fresh one. Among
    // the survivors only the newest is ever read.
    val ckpts = checkpointVersions(fs, dir)
    val surviving = ckpts.filter { v =>
      scala.util.Try(readFully(fs, ckptFile(dir, v))).toOption
        .flatMap(parseCheckpoint)
        .exists(_.forall(_.version >= horizon))
    }
    (ckpts.toSet -- surviving.toSet).toSeq.sorted
      .foreach(v => fs.delete(ckptFile(dir, v), false))
    surviving.dropRight(1).foreach(v => fs.delete(ckptFile(dir, v), false))
    victims.size
  }

  // ------------------------------------------------------------- internals

  /** ONE listStatus, split into (commit versions, checkpoint versions) —
    * every probe shape needs both views, and the directory round-trip is
    * the unit of manifest latency (r21, guide §1). */
  private def listLog(fs: FileSystem, dir: Path): (Seq[Long], Seq[Long]) = {
    val names = fs.listStatus(dir).map(_.getPath.getName)
    val vs = names.filter(_.matches("v\\d{" + Pad + "}\\.json"))
      .map(_.stripPrefix("v").stripSuffix(".json").toLong).sorted.toSeq
    val ckpts = names.filter(_.matches("checkpoint-v\\d{" + Pad + "}\\.json"))
      .map(_.stripPrefix("checkpoint-v").stripSuffix(".json").toLong)
      .sorted.toSeq
    (vs, ckpts)
  }

  private def versionsIn(fs: FileSystem, dir: Path): Seq[Long] =
    listLog(fs, dir)._1

  private def checkpointVersions(fs: FileSystem, dir: Path): Seq[Long] =
    listLog(fs, dir)._2

  /** The newest PARSEABLE checkpoint as (version, commits), newest first —
    * a checkpoint whose content write is still in flight (no terminal
    * marker) falls back to the one before it, then to no checkpoint. */
  private def latestCheckpointOf(
      fs: FileSystem, dir: Path, ckpts: Seq[Long]): Option[(Long, Seq[Commit])] = {
    ckpts.reverse.iterator.flatMap { v =>
      scala.util.Try(readFully(fs, ckptFile(dir, v))).toOption
        .flatMap(parseCheckpoint)
        .map(v -> _)
    }.nextOption()
  }

  /** Compact the retained manifest state ≤ `upTo` into one checkpoint file.
    * Best-effort: a failure leaves probes on the previous checkpoint. The
    * checkpoint carries EVERY retained commit ≤ `upTo` — [[truncate]] is
    * the only thing that shrinks logical history. Deferred entirely if any
    * retained commit is still unreadable (in-flight content write): a
    * transient "unreadable" must never be frozen into the checkpoint. */
  private def writeCheckpoint(
      spark: SparkSession, table: String,
      fs: FileSystem, dir: Path, upTo: Long): Unit =
    try {
      val retained = commitsSince(spark, table, 0L).filter(_.version <= upTo)
      writeCheckpointFrom(fs, dir, upTo, retained)
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Create + validate half of [[writeCheckpoint]], taking the already-read
    * retained state (split out so the truncate race below is testable with
    * an injected stale read).
    *
    * RACE with [[truncate]]: it may delete version files and sweep stale
    * checkpoints between the caller's commitsSince read and our create — a
    * checkpoint landing after the sweep would RESURRECT the truncated
    * commits for every future probe. Outside truncation, every retained
    * commit has a live version file (truncate deletes files and
    * below-horizon checkpoints together), so re-list AFTER the create:
    * truncate deletes version files BEFORE its sweep, hence either our
    * checkpoint existed by the sweep's listing (truncate removes it) or
    * this re-list observes the deletions (we remove it ourselves). Deleting
    * a checkpoint is always safe — probes fall back to the previous
    * checkpoint + version files. */
  private[graft] def writeCheckpointFrom(
      fs: FileSystem, dir: Path, upTo: Long, retained: Seq[Commit]): Unit = {
    if (retained.exists(_.op == "unreadable")) return
    val body = retained.map(render).mkString(
      s"""{"version":$upTo,"commits":[""", ",", """],"complete":true}""")
    if (createExclusive(fs, ckptFile(dir, upTo), body)) {
      val existing = versionsIn(fs, dir).toSet
      if (retained.exists(c => !existing.contains(c.version)))
        fs.delete(ckptFile(dir, upTo), false)
    }
    ()
  }

  private def parseCheckpoint(txt: String): Option[Seq[Commit]] =
    if (!txt.endsWith("""],"complete":true}""")) None
    else scala.util.Try {
      graft.http.Json.parse(txt).asObj("commits") match {
        case graft.http.JArr(items) => items.map(j => commitFromJson(j.asObj))
        case other => throw new IllegalArgumentException(s"bad checkpoint: $other")
      }
    }.toOption

  private def readCommit(fs: FileSystem, dir: Path, v: Long): Commit = {
    val p = vFile(dir, v)
    // a claim's content write is microseconds behind its create — retry a
    // parse failure briefly before reporting the conservative "touches all"
    var waited = 0L
    while (true) {
      parse(v, readFully(fs, p)) match {
        case Some(c) => return c
        // 5 s before the conservative fallback: the gap between a claim's
        // create and its content write is microseconds of code, but a GC
        // pause or CPU stall can stretch it — and the touches-all
        // placeholder makes every concurrent writer back off, so patience
        // here is much cheaper than a spurious conflict
        case None if waited < 5000 =>
          Thread.sleep(25); waited += 25
        case None =>
          return Commit(v, "unreadable", Set.empty, 0L, all = true)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def readFully(fs: FileSystem, p: Path): String = {
    manifestReads.incrementAndGet()
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  private def render(c: Commit): String = {
    val parts = c.partitions.toSeq.sorted
      .map(graft.http.Json.quote).mkString("[", ",", "]")
    val refField = c.ref.map(r => s""""ref":$r,""").getOrElse("")
    val allField = if (c.all) """"all":true,""" else ""
    val txnField = c.txn.map(t => s""""txn":${graft.http.Json.quote(t)},""").getOrElse("")
    val countsField = c.counts.map(m =>
      m.toSeq.sortBy(_._1).map { case (k, v) =>
        s"${graft.http.Json.quote(k)}:$v"
      }.mkString(""""counts":{""", ",", "},")).getOrElse("")
    s"""{"version":${c.version},"op":${graft.http.Json.quote(c.op)},""" +
      s""""partitions":$parts,"ts":${c.ts},$refField$allField$txnField$countsField"complete":true}"""
  }

  private def commitFromJson(op: Map[String, graft.http.JVal]): Commit =
    Commit(
      version = op.get("version").collect { case graft.http.JNum(n) => n.toLong }
        .getOrElse(throw new IllegalArgumentException("commit without version")),
      op = op("op").str,
      partitions = op("partitions") match {
        case graft.http.JArr(items) => items.map(_.str).toSet
        case other => throw new IllegalArgumentException(s"bad partitions: $other")
      },
      ts = op.get("ts").collect { case graft.http.JNum(n) => n.toLong }.getOrElse(0L),
      ref = op.get("ref").collect { case graft.http.JNum(n) => n.toLong },
      all = op.get("all").contains(graft.http.JBool(true)),
      txn = op.get("txn").map(_.str),
      counts = op.get("counts").collect {
        case graft.http.JObj(fields) => fields.collect {
          case (k, graft.http.JNum(n)) => k -> n.toLong
        }.toMap
      })

  private def parse(v: Long, txt: String): Option[Commit] =
    // "complete":true is the last byte group written — its presence proves
    // the content write finished
    if (!txt.contains("\"complete\":true")) None
    else scala.util.Try {
      commitFromJson(graft.http.Json.parse(txt).asObj).copy(version = v)
    }.toOption

  /** Atomic create-if-absent — the CAS primitive. Local filesystems get a
    * true `O_EXCL` create via java.nio (Hadoop's RawLocalFileSystem
    * `create(overwrite=false)` is check-then-create, a TOCTOU hole under
    * real thread concurrency); HDFS-likes get the namenode-atomic
    * `create(path, false)`. Returns false if the path already exists. */
  private def createExclusive(fs: FileSystem, p: Path, content: String): Boolean = {
    val bytes = content.getBytes("UTF-8")
    if (fs.getScheme == "file") {
      val local = java.nio.file.Paths.get(p.toUri.getPath)
      try java.nio.file.Files.createFile(local)
      catch { case _: java.nio.file.FileAlreadyExistsException => return false }
      java.nio.file.Files.write(local, bytes)
      true
    } else {
      try {
        val out = fs.create(p, false)
        try out.write(bytes) finally out.close()
        true
      } catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
        case _: java.io.FileNotFoundException => false
      }
    }
  }
}
