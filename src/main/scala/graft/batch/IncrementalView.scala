package graft.batch

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.TxnLog

/** Incremental materialized view — a grouped aggregate of a managed
  * table, materialized as its own managed table and maintained from the
  * source's CHANGE DATA FEED at O(changes since last sync), never a
  * source rescan (the Databricks/Delta materialized-view economics; the
  * refresh pattern every warehouse doc calls "incremental refresh").
  *
  * The view is `source.groupBy(groupCols).agg(count(*), sum(c)…,
  * min(c)…, max(c)…)`. Count and sum are the SIGNED-MERGEABLE
  * aggregates: an insert leg contributes +1/+x, a delete leg −1/−x, so a
  * change-feed delta folds into the materialized groups with pure
  * addition — an update-merge's delete+insert pair nets to the exact
  * group delta. Averages are a read-time division (`sum_c / n_rows`).
  *
  * MIN/MAX are maintained HYBRID (they are not signed-mergeable under
  * deletes): inserts fold in as `least(cur, batch_min)` — still pure
  * merge arithmetic — while a group whose CURRENT extremum may have been
  * deleted (a delete leg carried a value matching it) is recomputed from
  * the source FILTERED to exactly those groups, partition-pruned on the
  * source partition column and read AS OF the batch's target version
  * (never live — a live read would leak unconsumed commits into the
  * extremum). The recompute is O(extremum-loss groups' rows), never a
  * table rescan; [[SyncStats.recomputeParts]] records which partitions
  * it touched so the O(changes) claim is assertable, not assumed.
  *
  * Exactness discipline: integral sums accumulate as BIGINT; float/
  * double sums accumulate as DECIMAL(27,6) — order-independent and
  * drift-free, so an incremental view equals a from-scratch rebuild
  * EXACTLY (spec'd), not just approximately. This mirrors the repo-wide
  * oracle rule: never let the result depend on double summation order.
  *
  * The view table inherits everything managed tables have (OCC claims,
  * time travel, CDF — so a dashboard can tail the VIEW's own feed —
  * serving, maintenance). One view follows one source ([[sync]] refuses
  * a source switch, same contract as [[Scd2Mirror]]). */
object IncrementalView {

  /** Materialized row count per group. */
  val CountCol = "n_rows"
  /** Materialized sum of source column `c`. */
  def sumCol(c: String): String = s"sum_$c"
  /** Materialized NON-NULL count of source column `c` — the support
    * column that keeps sums NULL-exact under the signed fold: a rebuild
    * yields `sum_c = NULL` for a group whose every value of c is NULL,
    * and the incremental path can only reproduce that distinction by
    * tracking how many non-null values the group holds (when `nn_c`
    * reaches 0 the materialized sum is written as NULL, not 0 — so
    * downstream `avg = sum/n` reads NULL exactly like a from-scratch
    * aggregate). Maintained with the same signed fold as the sum. */
  def nnCol(c: String): String = s"nn_$c"
  /** Materialized minimum of source column `c`. */
  def minCol(c: String): String = s"min_$c"
  /** Materialized maximum of source column `c`. */
  def maxCol(c: String): String = s"max_$c"

  private val Prefix = "incview-v"

  private def cursorFile(view: String) =
    new org.apache.hadoop.fs.Path(s"$view/_graft_meta/incview_cursor.json")

  /** Cursor state. `version` = the source version the view is clean at.
    * `applyingTo`/`basis` mark an IN-FLIGHT incremental batch: the sync
    * records (target source version, pre-merge view version) atomically
    * BEFORE merging, so a crash between the merge and the clean-cursor
    * write is recoverable — the re-derivation against `readAsOf(view,
    * basis)` reproduces the exact absolute rows and re-applies
    * idempotently (see [[sync]]). `bootstrappingTo` is the bootstrap's
    * equivalent pin, written BEFORE the first merge: a crashed bootstrap
    * retried at a NEW tip would miss groups fully deleted from the
    * source in between (the keyed merge never deletes rows absent from
    * an absolute batch), leaving partially-committed orphans in the view
    * forever — re-aggregating at the SAME pinned tip reproduces the
    * exact original batch, then the feed carries the deletes. */
  private final case class Cursor(
      version: Long, applyingTo: Option[Long], basis: Option[Long],
      bootstrappingTo: Option[Long] = None)

  private def readCursor(
      spark: SparkSession, view: String, src: String): Option[Cursor] = {
    val p = cursorFile(view)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val txt =
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    val o = graft.http.Json.parse(txt).asObj
    val recorded = o.get("src") match {
      case Some(graft.http.JStr(s)) => s
      case other => throw new IllegalStateException(s"incview cursor src: $other")
    }
    require(recorded == src,
      s"view at $view follows $recorded, not $src — one view follows one " +
        "source; use a fresh view directory")
    def num(k: String): Option[Long] = o.get(k).collect {
      case graft.http.JNum(n) => n.toLong
    }
    Some(Cursor(
      num("version").getOrElse(
        throw new IllegalStateException(s"incview cursor without version")),
      num("applyingTo"), num("basis"), num("bootstrappingTo")))
  }

  private def writeCursor(
      spark: SparkSession, view: String, src: String, c: Cursor): Unit = {
    val inflight = ((c.applyingTo, c.basis) match {
      case (Some(to), Some(b)) => s""","applyingTo":$to,"basis":$b"""
      case _ => ""
    }) + c.bootstrappingTo.map(t => s""","bootstrappingTo":$t""").getOrElse("")
    graft.core.AtomicWrite.replaceFile(spark, cursorFile(view),
      s"""{"src":${graft.http.Json.quote(src)},"version":${c.version}$inflight}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Declare the view: `src.groupBy(groupCols).agg(count, sum(sumCols)…)`
    * materialized at `view`, partitioned by `viewPartCol` (which must be
    * one of the group columns — the view's merge unit). Registration is
    * metadata-only; the first [[sync]] builds the content from the
    * source's pinned snapshot. */
  def register(
      spark: SparkSession,
      view: String,
      src: String,
      srcPartCol: String,
      groupCols: Seq[String],
      sumCols: Seq[String],
      viewPartCol: String,
      minCols: Seq[String] = Seq.empty,
      maxCols: Seq[String] = Seq.empty): Unit = {
    require(groupCols.nonEmpty, "a materialized view needs group columns")
    require(groupCols.contains(viewPartCol),
      s"view partition column $viewPartCol must be one of the group " +
        s"columns ${groupCols.mkString(",")} — it is the merge unit")
    require(groupCols.exists(_ != viewPartCol),
      "need at least one group column besides the partition column — " +
        "within a partition the remaining group columns are the merge key")
    require((groupCols ++ sumCols).distinct.size == groupCols.size + sumCols.size,
      "group and sum columns must be distinct")
    require(minCols.distinct.size == minCols.size &&
      maxCols.distinct.size == maxCols.size,
      "duplicate min/max columns")
    require(!(minCols ++ maxCols).exists(groupCols.contains),
      "min/max columns must be distinct from group columns")
    val reserved = CountCol +: (sumCols.map(sumCol) ++ sumCols.map(nnCol) ++
      minCols.map(minCol) ++ maxCols.map(maxCol))
    require(!groupCols.exists(reserved.contains),
      s"group columns collide with materialized names $reserved")
    // the existence check runs inside the exclusive install: of racing
    // creates exactly one installs, and every other one re-reads and refuses
    TableMeta.update(spark, view, Prefix) { cur =>
      require(cur.isEmpty, s"$view already has a view registration")
      Map(
        "src" -> src, "srcPartCol" -> srcPartCol,
        "groupCols" -> groupCols.mkString(","),
        "sumCols" -> sumCols.mkString(","),
        "minCols" -> minCols.mkString(","),
        "maxCols" -> maxCols.mkString(","),
        "viewPartCol" -> viewPartCol)
    }
  }

  /** The registered definition, if any. */
  final case class ViewSpec(
      src: String, srcPartCol: String, groupCols: Seq[String],
      sumCols: Seq[String], minCols: Seq[String], maxCols: Seq[String],
      viewPartCol: String)

  def spec(spark: SparkSession, view: String): Option[ViewSpec] = {
    val m = TableMeta.read(spark, view, Prefix)
    def cols(k: String): Seq[String] =
      m.get(k).filter(_.nonEmpty).map(_.split(",").toSeq).getOrElse(Seq.empty)
    m.get("src").map { src =>
      ViewSpec(src, m("srcPartCol"), m("groupCols").split(",").toSeq,
        cols("sumCols"), cols("minCols"), cols("maxCols"), m("viewPartCol"))
    }
  }

  /** What the view computes, as a plain aggregate over `df` — the
    * definition of record (the spec compares the incremental view
    * against exactly this on the source snapshot). */
  def aggregateOf(
      df: DataFrame, groupCols: Seq[String], sumCols: Seq[String]): DataFrame =
    aggregateOf(df, groupCols, sumCols, Seq.empty, Seq.empty)

  def aggregateOf(
      df: DataFrame, groupCols: Seq[String], sumCols: Seq[String],
      minCols: Seq[String], maxCols: Seq[String]): DataFrame =
    df.groupBy(groupCols.map(col): _*).agg(
      count(lit(1)).as(CountCol),
      sumCols.flatMap(c => Seq(
        stableSum(df.schema(c).dataType,
          sum(exactTerm(df, c, lit(1L)))).as(sumCol(c)),
        count(col(c)).as(nnCol(c)))) ++
        minCols.map(c => min(col(c)).as(minCol(c))) ++
        maxCols.map(c => max(col(c)).as(maxCol(c))): _*)

  /** Pin a sum's storage type so it never drifts across merges (Spark
    * widens decimal sums per aggregation; cur+delta would widen again). */
  private def stableSum(dt: DataType, s: Column): Column = dt match {
    case ByteType | ShortType | IntegerType | LongType => s.cast(LongType)
    case _ => s.cast(DecimalType(27, 6))
  }

  /** The signed, exactness-cast term a sum accumulates: BIGINT for
    * integral columns, DECIMAL(27,6) for float/double. */
  private def exactTerm(df: DataFrame, c: String, sign: Column): Column =
    df.schema(c).dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        sign * col(c).cast(LongType)
      case FloatType | DoubleType | _: DecimalType =>
        sign.cast(DecimalType(27, 6)) * col(c).cast(DecimalType(27, 6))
      case other => throw new IllegalArgumentException(
        s"sum column $c: unsupported type $other (numeric only)")
    }

  /** What a sync did. `groupsTouched` counts merged group rows (updated,
    * inserted, or deleted); `recomputedGroups` counts the extremum-loss
    * groups whose min/max came from a filtered source recompute, and
    * `recomputeParts` the partition values that recompute scanned — empty
    * when the signed fast path covered everything (the probe surface for
    * the O(changes) claim). */
  final case class SyncStats(
      groupsTouched: Long, fromVersion: Long, toVersion: Long,
      recomputedGroups: Long = 0L, recomputeParts: Seq[String] = Seq.empty)

  /** Catch the view up to its source's tip. The FIRST call bootstraps
    * from the source's pinned snapshot (`readAsOf(tip)` — one aggregate
    * pass), NOT from a feed replay: a feed-from-zero silently misses
    * every row that never entered through the commit protocol (a table
    * whose first rows were plain parquet writes, a CONVERT-adopted
    * table, a log truncated past its first commits), and a view that
    * starts wrong stays wrong. Later calls consume only the commits
    * since the cursor — O(changes). Idempotent at tip. */
  def sync(spark: SparkSession, view: String): SyncStats =
    syncCapped(spark, view, Long.MaxValue)

  /** One BOUNDED maintenance step: like [[sync]] but consumes at most
    * `maxCommits` source versions past the cursor (Delta's
    * `maxFilesPerTrigger` discipline at commit granularity) — the unit a
    * STREAMING maintainer runs per micro-batch
    * ([[graft.streaming.StreamingView]]), so a view bootstrapping against
    * a long feed history advances in absorbable commits instead of one
    * unbounded batch. The bootstrap itself is always whole (it is a
    * snapshot aggregate, not a feed replay — there is nothing partial to
    * bound); the cap applies to feed consumption. Returns stats whose
    * `toVersion > fromVersion` iff the step advanced — a caught-up view
    * returns an at-tip no-op. */
  def syncStep(
      spark: SparkSession, view: String, maxCommits: Long): SyncStats = {
    require(maxCommits > 0, "syncStep needs a positive commit budget")
    syncCapped(spark, view, maxCommits)
  }

  private def syncCapped(
      spark: SparkSession, view: String, maxCommits: Long): SyncStats = {
    val vs = spec(spark, view).getOrElse(throw new IllegalArgumentException(
      s"$view has no materialized-view registration — call register first"))
    import vs.{src, srcPartCol, groupCols, sumCols, minCols, maxCols, viewPartCol}
    val tip = TxnLog.currentVersion(spark, src)
    // one aggregate pass over the snapshot pinned at `pin`, merged as
    // absolute rows, clean cursor written at `pin` — retried with the
    // SAME pin the batch is bit-identical, so partially-applied
    // partitions rewrite identically and unapplied ones catch up
    def bootstrapAt(pin: Long): Long = {
      val snap = aggregateOf(
        Upsert.readAsOf(spark, src, pin, srcPartCol), groupCols, sumCols,
        minCols, maxCols)
      val (pinned, free) = graft.core.Pin(snap)
      try {
        val n = pinned.count()
        if (n > 0) {
          val keys = groupCols.filterNot(_ == viewPartCol)
          Upsert.mergeByKey(spark, view, pinned, viewPartCol, keys)
        }
        writeCursor(spark, view, src, Cursor(pin, None, None))
        n
      } finally free()
    }
    val cursor = readCursor(spark, view, src) match {
      case Some(c) => c
      case None =>
        require(tip > 0,
          s"view source $src has no commit log — a plain parquet " +
            "directory has no feed to sync from later; CONVERT it first")
        // bootstrap: aggregate the snapshot pinned at tip (exact under
        // concurrent writers — rows committed after tip arrive through
        // the feed on the next sync, never double-counted). The pin is
        // recorded BEFORE the first merge: absolute rows make the merge
        // idempotent only at the SAME source version — a retry at a new
        // tip would never delete groups that vanished in between (see
        // [[Cursor]].bootstrappingTo).
        writeCursor(spark, view, src,
          Cursor(0L, None, None, bootstrappingTo = Some(tip)))
        return SyncStats(bootstrapAt(tip), 0L, tip)
    }
    // CRASH RECOVERY: an in-flight record means a previous sync died
    // between its merge and its clean-cursor write, with unknown
    // partitions applied. Relative (cur + delta) updates recomputed
    // against the live view would double-apply the applied partitions —
    // so the recovery re-derives the EXACT original batch against the
    // recorded pre-merge view snapshot (`readAsOf(view, basis)` — the
    // partial merge's retained generations reconstruct it) and re-merges:
    // the rows are the same ABSOLUTE group values, so applied partitions
    // rewrite identically and unapplied ones catch up. A crashed
    // BOOTSTRAP re-runs against the source pinned at its recorded tip
    // (same principle, source-side pin), then the feed carries anything
    // that changed since — including whole-group deletes.
    var from = cursor.version
    var recovered = 0L
    cursor.bootstrappingTo match {
      case Some(pin) =>
        recovered = bootstrapAt(pin)
        from = pin
      case None => (cursor.applyingTo, cursor.basis) match {
        case (Some(to), Some(basis)) =>
          val r = applyRange(spark, view, vs, cursor.version, to,
            recoveryBasis = Some(basis))
          recovered = r.groupsTouched
          from = to
        case _ => ()
      }
    }
    if (tip <= from) return SyncStats(recovered, cursor.version, tip)
    // bounded step: consume at most `maxCommits` versions this call; the
    // next call picks up from the advanced cursor
    val to =
      if (tip - from > maxCommits) from + maxCommits else tip
    val r = applyRange(spark, view, vs, from, to, recoveryBasis = None)
    SyncStats(recovered + r.groupsTouched, cursor.version, to,
      r.recomputedGroups, r.recomputeParts)
  }

  private final case class ApplyStats(
      groupsTouched: Long, recomputedGroups: Long, recomputeParts: Seq[String])

  /** Apply the feed range `(from, to]` to the view. `recoveryBasis =
    * Some(v)` re-derives against the view AS OF `v` (crash recovery — see
    * [[sync]]); `None` is the normal path, which records the in-flight
    * `(to, basis)` pair atomically BEFORE merging. */
  private def applyRange(
      spark: SparkSession,
      view: String,
      vs: ViewSpec,
      from: Long,
      to: Long,
      recoveryBasis: Option[Long]): ApplyStats = {
    import vs.{src, srcPartCol, groupCols, sumCols, minCols, maxCols, viewPartCol}
    import graft.batch.{ChangeFeed => CF}
    val changes = CF.readChanges(spark, src, srcPartCol, from, Some(to))
    val sign = when(col(CF.ChangeTypeCol) === "insert", 1L).otherwise(-1L)
    val isIns = col(CF.ChangeTypeCol) === "insert"
    // the whole in-range delta folds to ONE row per touched group —
    // O(changes) in, O(touched groups) out, map-side combined. Min/max
    // track the batch's insert-side and delete-side extrema separately:
    // inserts can only IMPROVE an extremum (pure merge arithmetic);
    // a delete-side extremum matching the current one flags the group
    // for the filtered recompute below.
    val delta = changes.groupBy(groupCols.map(col): _*).agg(
      sum(sign).as("_d_n"),
      sumCols.flatMap(c => Seq(
        sum(exactTerm(changes, c, sign)).as(s"_d_$c"),
        sum(when(col(c).isNotNull, sign).otherwise(0L)).as(s"_dnn_$c"))) ++
        minCols.flatMap(c => Seq(
          min(when(isIns, col(c))).as(s"_imin_$c"),
          min(when(!isIns, col(c))).as(s"_dmin_$c"))) ++
        maxCols.flatMap(c => Seq(
          max(when(isIns, col(c))).as(s"_imax_$c"),
          max(when(!isIns, col(c))).as(s"_dmax_$c"))): _*)
    // groups whose net effect is zero (an update that left every
    // aggregated column unchanged) are dropped — merging them would
    // rewrite partitions for nothing. A non-null-count shift alone IS a
    // change (c: 0 → NULL nets d_sum 0 but must flip sum_c to NULL when
    // the group's last non-null value goes), and any non-null min/max
    // leg counts too (an extremum can move without the count moving).
    val touched = delta.filter(
      (sumCols.map(c => col(s"_d_$c") =!= lit(0)) ++
        sumCols.map(c => col(s"_dnn_$c") =!= 0L) ++
        minCols.flatMap(c => Seq(
          col(s"_imin_$c").isNotNull, col(s"_dmin_$c").isNotNull)) ++
        maxCols.flatMap(c => Seq(
          col(s"_imax_$c").isNotNull, col(s"_dmax_$c").isNotNull))).foldLeft(
        col("_d_n") =!= 0L)(_ || _))
    val viewExists = {
      val p = new org.apache.hadoop.fs.Path(view)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      fs.exists(p) && TxnLog.currentVersion(spark, view) > 0
    }
    // normal path: current committed groups; recovery: the pre-merge
    // snapshot, so the re-derived rows are bit-identical to the batch
    // the crashed sync was applying
    def curView: org.apache.spark.sql.DataFrame = recoveryBasis match {
      case Some(basis) => Upsert.readAsOf(spark, view, basis, viewPartCol)
      case None => Upsert.readCommitted(spark, view, viewPartCol)
    }
    val joined =
      if (!viewExists) touched
      else touched.join(
        curView
          .select((groupCols.map(col) :+ col(CountCol).as("_cur_n")) ++
            sumCols.flatMap(c => Seq(
              col(sumCol(c)).as(s"_cur_$c"),
              col(nnCol(c)).as(s"_curnn_$c"))) ++
            minCols.map(c => col(minCol(c)).as(s"_curmin_$c")) ++
            maxCols.map(c => col(maxCol(c)).as(s"_curmax_$c")): _*),
        groupCols, "left")
    val dt = (c: String) => changes.schema(c).dataType
    def zero(c: String): Column = stableSum(dt(c), lit(0))
    val curN = if (viewExists) coalesce(col("_cur_n"), lit(0L)) else lit(0L)
    def curSum(c: String): Column =
      if (viewExists) coalesce(col(s"_cur_$c"), zero(c)) else zero(c)
    val updates0 = joined
      .withColumn(CountCol, (curN + col("_d_n")).cast(LongType))
      .withColumn("_gone", col(CountCol) === 0L)
    def curNn(c: String): Column =
      if (viewExists) coalesce(col(s"_curnn_$c"), lit(0L)) else lit(0L)
    val summed = sumCols.foldLeft(updates0) { (u, c) =>
      // a delta whose rows are all NULL in c sums to NULL = "no change";
      // a group whose non-null count reaches 0 materializes sum = NULL
      // (what a from-scratch rebuild yields), never 0
      u.withColumn(nnCol(c),
        (curNn(c) + coalesce(col(s"_dnn_$c"), lit(0L))).cast(LongType))
        .withColumn(sumCol(c), stableSum(dt(c),
          when(col(nnCol(c)) === 0L, lit(null))
            .otherwise(curSum(c) + coalesce(col(s"_d_$c"), zero(c)))))
    }
    // min/max fast path: inserts only improve; `least`/`greatest` skip
    // NULLs, so a new group, an all-NULL current, and a delete-only
    // batch all fold correctly. `_loss` marks groups whose CURRENT
    // extremum may have left with a delete leg — only those recompute.
    val hasExt = minCols.nonEmpty || maxCols.nonEmpty
    def curExt(name: String): Column =
      if (viewExists) col(name) else lit(null)
    val extended0 = minCols.foldLeft(summed) { (u, c) =>
      u.withColumn(minCol(c), least(curExt(s"_curmin_$c"), col(s"_imin_$c")))
    }
    val extended = maxCols.foldLeft(extended0) { (u, c) =>
      u.withColumn(maxCol(c), greatest(curExt(s"_curmax_$c"), col(s"_imax_$c")))
    }
    val lossTerms =
      minCols.map(c => coalesce(
        col(s"_dmin_$c") <= curExt(s"_curmin_$c"), lit(false))) ++
      maxCols.map(c => coalesce(
        col(s"_dmax_$c") >= curExt(s"_curmax_$c"), lit(false)))
    val outCols = (groupCols.map(col) :+ col(CountCol) :+ col("_gone")) ++
      sumCols.flatMap(c => Seq(col(sumCol(c)), col(nnCol(c)))) ++
      minCols.map(c => col(minCol(c))) ++ maxCols.map(c => col(maxCol(c)))
    val updates =
      if (!hasExt) extended.select(outCols: _*)
      else extended.withColumn("_loss",
        lossTerms.reduce(_ || _)).select(outCols :+ col("_loss"): _*)
    // eager pin BEFORE merging: the join above reads the view table the
    // merge is about to rewrite (the Scd2Mirror.sync discipline)
    val (pinned, free0) = graft.core.Pin(updates)
    var freeAll: () => Unit = free0
    try {
      val n = pinned.count()
      // a negative group count (row or non-null) means the feed and the
      // view disagree — refuse to persist garbage (out-of-band write)
      require(pinned.filter(
        sumCols.map(c => col(nnCol(c)) < 0L)
          .foldLeft(col(CountCol) < 0L)(_ || _)).isEmpty,
        s"view $view would go NEGATIVE on some group — the view no longer " +
          "matches its source's change feed (out-of-band write?); rebuild " +
          "into a fresh directory")
      // EXTREMUM-LOSS RECOMPUTE: groups whose current min/max may have
      // been deleted re-derive min/max from the source — filtered to
      // exactly those groups, partition-pruned on the source partition
      // column, and read AS OF the range end `to` (never live: commits
      // past `to` have unconsumed feed legs; folding their rows in here
      // would double-apply them when their range syncs). Everything
      // else about the group (count, sums, nn) stays on the signed fast
      // path. Deterministic under crash replay: loss keys derive from
      // the basis view and the recompute from a pinned source version.
      val (toMerge, nLoss, lossParts) =
        if (!hasExt) (pinned, 0L, Seq.empty[String])
        else {
          val lossKeys = pinned.filter(col("_loss") && !col("_gone"))
            .select(groupCols.map(col): _*)
          val nLoss = lossKeys.count()
          if (nLoss == 0) (pinned.drop("_loss"), 0L, Seq.empty[String])
          else {
            // partition values: driver-side O(touched partitions), the
            // same metadata scale as the merge's own partition planning
            val parts =
              if (!groupCols.contains(srcPartCol)) Seq.empty[String]
              else lossKeys.select(srcPartCol).distinct()
                .collect().map(_.get(0).toString).toSeq.sorted
            val srcAt = Upsert.readAsOf(spark, src, to, srcPartCol)
            val pruned =
              if (parts.isEmpty) srcAt
              else srcAt.filter(col(srcPartCol).isin(parts: _*))
            val recAggs = minCols.map(c => min(col(c)).as(s"_rmin_$c")) ++
              maxCols.map(c => max(col(c)).as(s"_rmax_$c"))
            val rec = pruned.join(broadcast(lossKeys), groupCols)
              .groupBy(groupCols.map(col): _*)
              .agg(recAggs.head, recAggs.tail: _*)
            val overridden0 = pinned.join(broadcast(rec), groupCols, "left")
            val overridden1 = minCols.foldLeft(overridden0) { (u, c) =>
              u.withColumn(minCol(c),
                when(col("_loss") && !col("_gone"), col(s"_rmin_$c"))
                  .otherwise(col(minCol(c))))
            }
            val overridden = maxCols.foldLeft(overridden1) { (u, c) =>
              u.withColumn(maxCol(c),
                when(col("_loss") && !col("_gone"), col(s"_rmax_$c"))
                  .otherwise(col(maxCol(c))))
            }.select(outCols: _*)
            val (p2, f2) = graft.core.Pin(overridden)
            freeAll = () => { f2(); free0() }
            (p2, nLoss, parts)
          }
        }
      if (n > 0) {
        // merge keys: the group columns MINUS the partition column (the
        // partition value is fixed inside each per-partition rewrite, and
        // mergeByKey's existing-side read has no partition column to join)
        val keys = groupCols.filterNot(_ == viewPartCol)
        if (viewExists) {
          // record the in-flight batch BEFORE touching data (normal path;
          // a recovery IS the in-flight batch, already recorded)
          if (recoveryBasis.isEmpty)
            writeCursor(spark, view, src, Cursor(from,
              applyingTo = Some(to),
              basis = Some(TxnLog.currentVersion(spark, view))))
          Upsert.mergeByKey(spark, view, toMerge, viewPartCol, keys,
            deleteWhen = Some("_gone"))
        } else
          // first incremental content (source was empty at bootstrap):
          // nothing can vanish from an empty view, absolute rows replay
          // safely, and the marker column must not leak into the schema
          Upsert.mergeByKey(spark, view, toMerge.drop("_gone"),
            viewPartCol, keys)
      }
      writeCursor(spark, view, src, Cursor(to, None, None))
      ApplyStats(n, nLoss, lossParts)
    } finally freeAll()
  }
}
