package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.batch.{ChangeFeed, Upsert}
import graft.core.TxnLog

/** The CDF contract: snapshot(v0) + changes(v0→tip) ≡ snapshot(tip), both
  * one-shot and replayed commit by commit like a checkpointing streaming
  * consumer; horizons fail loudly. */
class ChangeFeedSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def rows(df: DataFrame): Set[(String, String, Double)] = {
    import spark.implicits._
    df.select("day", "k", "v").as[(String, String, Double)].collect().toSet
  }

  /** Seed + four merges (update, insert, cross-partition mix, delete,
    * update of a merge-created partition).
    * Returns (table, v0, seed-state). */
  private def history(): (String, Long, Set[(String, String, Double)]) = {
    import spark.implicits._
    val table = tmp("cdf")
    Seq(("2026-01-01", "k1", 10.0), ("2026-01-01", "k2", 20.0),
        ("2026-01-02", "k3", 30.0))
      .toDF("day", "k", "v")
      .write.partitionBy("day").mode("overwrite").parquet(table)
    val v0 = TxnLog.currentVersion(spark, table)
    val s0 = rows(spark.read.parquet(table))
    // M1: update k1, insert k9 (same partition)
    Upsert.mergeByKey(spark, table,
      Seq(("2026-01-01", "k1", 11.0), ("2026-01-01", "k9", 90.0))
        .toDF("day", "k", "v"), "day", Seq("k"))
    // M2: cross-partition — new partition 01-03, update k3
    Upsert.mergeByKey(spark, table,
      Seq(("2026-01-03", "k5", 50.0), ("2026-01-02", "k3", 33.0))
        .toDF("day", "k", "v"), "day", Seq("k"))
    // M3: delete k2 and the freshly inserted k9
    Upsert.deleteByKey(spark, table,
      Seq(("2026-01-01", "k2"), ("2026-01-01", "k9")).toDF("day", "k"),
      "day", Seq("k"))
    // M4: update k5 in the partition M2 created (M2 commits its two
    // partitions as one end, so this keeps four data commits)
    Upsert.mergeByKey(spark, table,
      Seq(("2026-01-03", "k5", 55.0)).toDF("day", "k", "v"), "day", Seq("k"))
    (table, v0, s0)
  }

  test("snapshot(v0) + changes(v0->tip) reproduces snapshot(tip), one-shot") {
    val (table, v0, s0) = history()
    val changes = ChangeFeed.readChanges(spark, table, "day", v0)
    val replayed = ChangeFeed.applyChanges(
      Upsert.readAsOf(spark, table, v0, "day"), changes)
    assert(rows(replayed) == rows(spark.read.parquet(table)),
      "one-shot CDF application must land on the live state")
    assert(rows(replayed) != s0, "the history must actually change the table")
    // the feed classifies: k9 appears as BOTH insert (M1) and delete (M3);
    // updates appear as delete+insert pairs of the same key
    import spark.implicits._
    val k9 = changes.filter(col("k") === "k9")
      .select("_change_type").as[String].collect().sorted
    assert(k9.toSeq == Seq("delete", "insert"), s"k9 lifecycle: ${k9.toSeq}")
    val k1 = changes.filter(col("k") === "k1")
      .select("_change_type", "v").as[(String, Double)].collect().toSet
    assert(k1 == Set(("delete", 10.0), ("insert", 11.0)), s"k1 update: $k1")
  }

  test("a checkpointing consumer replays commit by commit to the same state") {
    val (table, v0, _) = history()
    val tip = TxnLog.currentVersion(spark, table)
    // walk the feed one commit at a time, checkpointing the version like a
    // streaming consumer: each step applies only that commit's changes
    var state = Upsert.readAsOf(spark, table, v0, "day")
    var checkpoint = v0
    val endVersions = TxnLog.commitsSince(spark, table, checkpoint)
      .filter(c => c.op == "upsert-end" && c.ref.isDefined).map(_.version)
    assert(endVersions.size >= 4, s"expected >=4 data commits: $endVersions")
    endVersions.foreach { v =>
      val step = ChangeFeed.readChanges(spark, table, "day", checkpoint, Some(v))
      state = ChangeFeed.applyChanges(state, step)
      checkpoint = v
    }
    assert(checkpoint == tip || checkpoint <= tip)
    assert(rows(state) == rows(spark.read.parquet(table)),
      "incremental replay must converge to the live state")
    // replaying an already-consumed range is an explicit empty feed
    assert(ChangeFeed.readChanges(spark, table, "day", tip).isEmpty)
  }

  test("persisted change files reproduce the snapshot-diff feed exactly") {
    val (table, v0, _) = history()
    // every merge in history() persisted change files; read the feed, then
    // hide the change dirs and read again — the diff fallback must produce
    // the same multiset of (row, change type, commit version)
    def collectFeed(): Set[(String, String, Double, String, Long)] = {
      import spark.implicits._
      ChangeFeed.readChanges(spark, table, "day", v0)
        .select("day", "k", "v", ChangeFeed.ChangeTypeCol, ChangeFeed.CommitVersionCol)
        .as[(String, String, Double, String, Long)].collect().toSet
    }
    val persisted = collectFeed()
    val changesDir = new java.io.File(s"$table/_graft_changes")
    assert(changesDir.isDirectory && changesDir.list().nonEmpty,
      "merges must have persisted change files")
    val hidden = new java.io.File(s"$table/_graft_changes_hidden")
    assert(changesDir.renameTo(hidden))
    val diffed = collectFeed()
    assert(hidden.renameTo(changesDir))
    assert(persisted == diffed,
      s"persisted feed must equal the diff feed:\n  persisted $persisted\n  diffed $diffed")
  }

  test("the persisted feed reads only change files: no snapshot diff in the plan") {
    val (table, v0, _) = history()
    val feed = ChangeFeed.readChanges(spark, table, "day", v0)
    val plan = feed.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Except"),
      s"persisted feed must not diff snapshots:\n$plan")
    // every file scan in the plan roots under _graft_changes — the touched
    // partitions' live/history data is never read, which is what makes the
    // feed O(changed rows) instead of O(touched partitions) per commit.
    // The read-side netting shuffles, so the plan is AQE-wrapped: traverse
    // into adaptive subtrees.
    def scansOf(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p.collect {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scansOf(a.executedPlan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
    }.flatten
    val scans = scansOf(feed.queryExecution.executedPlan)
      .flatMap(_.relation.location.rootPaths.map(_.toString))
    assert(scans.nonEmpty && scans.forall(_.contains("_graft_changes")),
      s"feed scans must read change files only: $scans")
  }

  test("merges with the feed disabled fall back to the diff path, same answer") {
    import spark.implicits._
    val table = tmp("cdf-off")
    Seq(("2026-01-01", "k1", 10.0)).toDF("day", "k", "v")
      .write.partitionBy("day").mode("overwrite").parquet(table)
    val v0 = TxnLog.currentVersion(spark, table)
    spark.conf.set("graft.changeFeed.enabled", "false")
    try {
      Upsert.mergeByKey(spark, table,
        Seq(("2026-01-01", "k1", 11.0), ("2026-01-02", "k2", 20.0))
          .toDF("day", "k", "v"), "day", Seq("k"))
    } finally spark.conf.unset("graft.changeFeed.enabled")
    assert(!new java.io.File(s"$table/_graft_changes").exists(),
      "disabled feed must write no change files")
    val changes = ChangeFeed.readChanges(spark, table, "day", v0)
    val replayed = ChangeFeed.applyChanges(
      Upsert.readAsOf(spark, table, v0, "day"), changes)
    assert(rows(replayed) == rows(spark.read.parquet(table)),
      "diff fallback must still satisfy the CDF contract")
  }

  test("a feed range spanning a schema-widening commit stays readable and applies") {
    import spark.implicits._
    val table = tmp("cdf-widen")
    Seq(("2026-01-01", "k1", 10.0)).toDF("day", "k", "v")
      .write.partitionBy("day").mode("overwrite").parquet(table)
    val v0 = TxnLog.currentVersion(spark, table)
    // commit 1: same-width update
    Upsert.mergeByKey(spark, table,
      Seq(("2026-01-01", "k1", 11.0)).toDF("day", "k", "v"), "day", Seq("k"))
    // commit 2: a NEW partition carrying an extra column widens the table
    Upsert.mergeByKey(spark, table,
      Seq(("2026-01-02", "k2", 20.0, "eu")).toDF("day", "k", "v", "region"),
      "day", Seq("k"))
    val changes = ChangeFeed.readChanges(spark, table, "day", v0)
    assert(changes.columns.contains("region"),
      s"the feed must carry the widened schema: ${changes.columns.toSeq}")
    val replayed = ChangeFeed.applyChanges(
      Upsert.readAsOf(spark, table, v0, "day"), changes)
    val expect = Upsert.readCommitted(spark, table, "day")
    def tuples(df: org.apache.spark.sql.DataFrame) =
      df.select("day", "k", "v", "region")
        .as[(String, String, Double, Option[String])].collect().toSet
    assert(tuples(replayed) == tuples(expect),
      "a widening feed must apply onto a pre-widening base")
    // the diff fallback crosses the widening commit too (regression: this
    // threw AnalysisException on mismatched exceptAll shapes)
    val changesDir = new java.io.File(s"$table/_graft_changes")
    val hidden = new java.io.File(s"$table/_graft_changes_hidden")
    assert(changesDir.renameTo(hidden))
    val diffed = ChangeFeed.readChanges(spark, table, "day", v0)
    assert(tuples(ChangeFeed.applyChanges(
      Upsert.readAsOf(spark, table, v0, "day"), diffed)) == tuples(expect))
  }

  test("the diff fallback prunes table scans to the touched partitions (typed partCol)") {
    import spark.implicits._
    val table = tmp("cdf-prune")
    // a DATE-typed partition column: the diff path filters through
    // cast(day as string) IN (...), which must still reach the scan as a
    // partition filter — pruning by typed value, not a full-table read
    Seq("2026-01-01", "2026-01-02", "2026-01-03", "2026-01-04")
      .map(d => (java.sql.Date.valueOf(d), s"k$d", 1.0))
      .toDF("day", "k", "v")
      .write.partitionBy("day").mode("overwrite").parquet(table)
    val v0 = TxnLog.currentVersion(spark, table)
    Upsert.mergeByKey(spark, table,
      Seq((java.sql.Date.valueOf("2026-01-02"), "kx", 9.0)).toDF("day", "k", "v"),
      "day", Seq("k"))
    // force the diff path
    assert(new java.io.File(s"$table/_graft_changes")
      .renameTo(new java.io.File(s"$table/_graft_changes_hidden")))
    val feed = ChangeFeed.readChanges(spark, table, "day", v0)
    // the exceptAll plan is AQE-wrapped: traverse into adaptive subtrees
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p.collect {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case s: org.apache.spark.sql.execution.FileSourceScanExec => Seq(s)
    }.flatten
    val tableScans = scans(feed.queryExecution.executedPlan).filter(
      _.relation.location.rootPaths.exists(p => !p.toString.contains("_graft_history")))
    assert(tableScans.nonEmpty, "expected live-table scans in the diff plan")
    // the post-snapshot live scan prunes 4 partitions down to the 1 touched;
    // the pre-snapshot live scan prunes to 0 (its touched partition resolves
    // from history) — either way, never the untouched siblings
    tableScans.foreach { s =>
      assert(s.selectedPartitions.partitionCount <= 1,
        s"diff scan must prune to at most the 1 touched partition of 4, " +
          s"got ${s.selectedPartitions.partitionCount}:\n${s.toString}")
    }
    assert(tableScans.exists(_.selectedPartitions.partitionCount == 1),
      "the post-snapshot scan must read the touched partition")
    import org.apache.spark.sql.functions.col
    assert(feed.filter(col("k") === "kx").count() == 1L)
  }

  test("feed reads racing live merges stay consistent: apply(feed@tip) == snapshot@tip") {
    import spark.implicits._
    val table = tmp("cdf-hammer")
    Seq(("p0", "seed", 0.0)).toDF("day", "k", "v")
      .write.partitionBy("day").mode("overwrite").parquet(table)
    val v0 = TxnLog.currentVersion(spark, table)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    // 3 writers churn DISJOINT partitions (no claim conflicts) while a
    // reader replays the feed against a pinned tip: every probe must land
    // exactly on the snapshot at that tip — never a torn or partial feed
    val writers = (0 until 3).map { t =>
      new Thread(() => {
        try (0 until 12).foreach { i =>
          Upsert.mergeByKey(spark, table,
            Seq((s"w$t", s"k${i % 4}", i.toDouble)).toDF("day", "k", "v"),
            "day", Seq("k"))
        } catch { case e: Throwable => errs.add(s"writer $t: $e") }
      })
    }
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val probes = new java.util.concurrent.atomic.AtomicInteger(0)
    val reader = new Thread(() => {
      while (!stop.get()) {
        try {
          val tip = TxnLog.currentVersion(spark, table)
          val feed = ChangeFeed.readChanges(spark, table, "day", v0, Some(tip))
          val replayed = ChangeFeed.applyChanges(
            Upsert.readAsOf(spark, table, v0, "day"), feed)
          val want = rows(Upsert.readAsOf(spark, table, tip, "day"))
          val got = rows(replayed)
          if (got != want)
            errs.add(s"probe at v$tip: feed replay diverged " +
              s"(missing ${want -- got}, extra ${got -- want})")
          probes.incrementAndGet()
        } catch {
          // loud retryable races (mid-install listings) are allowed; torn
          // RESULTS are not — only add silent divergence above
          case _: Throwable => ()
        }
      }
    })
    reader.start(); writers.foreach(_.start()); writers.foreach(_.join())
    stop.set(true); reader.join()
    assert(errs.isEmpty, s"hammer anomalies: ${errs.peek()}")
    // liveness floor, not a throughput gate: each probe is several Spark
    // jobs racing 3 writers on a host with co-tenant load waves — under a
    // loaded full-suite run only 1-2 complete mid-churn, and that is
    // enough to prove feed reads make progress against live merges (the
    // CONSISTENCY of every completed probe is asserted above, and the
    // quiesced full replay below covers the whole history regardless)
    assert(probes.get() >= 1, s"reader must complete probes mid-churn: ${probes.get()}")
    // quiesced: the full feed lands exactly on the committed state
    val finalReplay = ChangeFeed.applyChanges(
      Upsert.readAsOf(spark, table, v0, "day"),
      ChangeFeed.readChanges(spark, table, "day", v0))
    assert(rows(finalReplay) == rows(Upsert.readCommitted(spark, table, "day")))
  }

  test("a cursor lagging below a log truncation fails loudly, never a partial feed") {
    import spark.implicits._
    val (table, _, _) = history()
    // pad the log so truncate has commits to drop
    (0 until 4).foreach { i =>
      Upsert.mergeByKey(spark, table,
        Seq(("2026-01-01", "k1", 100.0 + i)).toDF("day", "k", "v"),
        "day", Seq("k"))
    }
    assert(TxnLog.truncate(spark, table, keep = 3) > 0)
    val oldest = TxnLog.commitsSince(spark, table, 0L).head.version
    assert(oldest > 2, s"fixture: truncation must drop early commits (oldest v$oldest)")
    // a cursor below the manifest horizon cannot enumerate the dropped
    // commits — the feed must throw, not return whatever survived (a
    // silent partial feed would diverge a ChangeFeedStream mirror)
    val e = intercept[IllegalStateException] {
      ChangeFeed.readChanges(spark, table, "day", 1L)
    }
    assert(e.getMessage.contains("horizon"), e.getMessage)
    // at or above the horizon the feed still serves…
    ChangeFeed.readChanges(spark, table, "day", oldest - 1).count()
    // …and fromVersion 0 keeps its "first retained commit" meaning
    ChangeFeed.readChanges(spark, table, "day", 0L).count()
  }

  test("vacuum sweeps unreachable change debris; END-referenced records survive") {
    import spark.implicits._
    val table = tmp("cdf-debris")
    Seq(("2026-01-01", "k1", 1.0)).toDF("day", "k", "v")
      .write.partitionBy("day").mode("overwrite").parquet(table)
    val v0 = TxnLog.currentVersion(spark, table)
    Upsert.mergeByKey(spark, table,
      Seq(("2026-01-01", "k2", 2.0)).toDF("day", "k", "v"), "day", Seq("k"))
    Upsert.mergeByKey(spark, table,
      Seq(("2026-01-01", "k3", 3.0)).toDF("day", "k", "v"), "day", Seq("k"))
    val before = rows(ChangeFeed.readChanges(spark, table, "day", v0))
    assert(before.nonEmpty)
    // debris no retained commit or END ref can reach: an aborted claim's
    // orphan record (feed never reads it, vacuum's generation-keyed sweep
    // never visits it). v0 sorts below every retained version.
    val junk = new java.io.File(s"$table/_graft_changes/v0/c_zzz")
    assert(junk.mkdirs())
    java.nio.file.Files.writeString(junk.toPath.resolve("junk.parquet"), "x")
    assert(junk.getParentFile.setLastModified(System.currentTimeMillis() - 3600_000))
    // retention far above the live records' age: only the aged debris goes
    Upsert.vacuumHistory(spark, table, minAgeMs = 60_000)
    assert(!junk.exists(), "aged below-horizon debris must be swept")
    // every readable record survived — the feed is byte-for-byte the same
    assert(rows(ChangeFeed.readChanges(spark, table, "day", v0)) == before)
    val plan = ChangeFeed.readChanges(spark, table, "day", v0)
      .queryExecution.optimizedPlan.toString
    assert(!plan.contains("Except"), "records must still read persisted, not diff")
  }

  test("a feed range reaching below the vacuum horizon fails loudly") {
    val (table, v0, _) = history()
    // vacuum everything regardless of age: pre-images below tip are gone
    val hist = new java.io.File(s"$table/_graft_history")
    hist.listFiles().foreach { d =>
      d.setLastModified(System.currentTimeMillis() - 10L * 24 * 3600 * 1000)
    }
    assert(Upsert.vacuumHistory(spark, table, minAgeMs = 1000L) > 0)
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      ChangeFeed.readChanges(spark, table, "day", v0).count()
    }
    assert(e.getMessage.contains("vacuumed"), e.getMessage)
    val refusedMs = (System.nanoTime() - t0) / 1000000
    assert(refusedMs < 10000, s"a vacuumed generation cannot come back: " +
      s"refusing it must not retry (took $refusedMs ms)")
    // and a beyond-tip range is refused up front
    intercept[IllegalStateException] {
      ChangeFeed.readChanges(spark, table, "day", 0L,
        Some(TxnLog.currentVersion(spark, table) + 5))
    }
  }
}
