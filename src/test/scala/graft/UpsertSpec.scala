package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.batch.Upsert

/** Partition-granularity MERGE: matched keys update, new keys insert,
  * untouched partitions are untouched BYTES (same files on disk) — the
  * delta-scaled property that makes upsert viable on a 100 TB table. */
class UpsertSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def seed(table: String): Unit = {
    import spark.implicits._
    Seq(
      ("2026-01-01", "k1", 10.0), ("2026-01-01", "k2", 20.0),
      ("2026-01-02", "k3", 30.0), ("2026-01-02", "k4", 40.0),
      ("2026-01-03", "k5", 50.0))
      .toDF("day", "k", "v")
      .write.partitionBy("day").mode("overwrite").parquet(table)
  }

  private def fileIndex(dir: String): Map[String, Long] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(dir))
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getAbsolutePath -> f.lastModified()).toMap
  }

  test("mergeByKey: update + insert in touched partition; siblings keep their exact files") {
    import spark.implicits._
    val table = tmp("upsert")
    seed(table)
    val before = fileIndex(table)

    val updates = Seq(
      ("2026-01-02", "k3", 300.0), // matched → update
      ("2026-01-02", "k9", 90.0),  // unmatched in existing partition → insert
      ("2026-01-04", "k7", 70.0))  // brand-new partition → insert
      .toDF("day", "k", "v")

    val touched = Upsert.mergeByKey(spark, table, updates, "day", Seq("k"))
    assert(touched == Seq("2026-01-02", "2026-01-04"))

    val after = spark.read.parquet(table)
      .select("day", "k", "v").as[(String, String, Double)].collect().toSet
    assert(after == Set(
      ("2026-01-01", "k1", 10.0), ("2026-01-01", "k2", 20.0),
      ("2026-01-02", "k3", 300.0), ("2026-01-02", "k4", 40.0),
      ("2026-01-02", "k9", 90.0),
      ("2026-01-03", "k5", 50.0),
      ("2026-01-04", "k7", 70.0)))

    // untouched partitions: identical file paths and mtimes (zero rewrite)
    val untouchedBefore = before.filter(p =>
      p._1.contains("day=2026-01-01") || p._1.contains("day=2026-01-03"))
    val afterIdx = fileIndex(table)
    untouchedBefore.foreach { case (path, mtime) =>
      assert(afterIdx.get(path).contains(mtime), s"sibling partition rewritten: $path")
    }
    // touched partition: all-new files (atomic republish, not in-place edit)
    assert(!afterIdx.keys.exists(before.keySet.filter(_.contains("day=2026-01-02"))),
      "old 01-02 files must be retired")
  }

  test("mergeByKey: composite keys match on the full tuple") {
    import spark.implicits._
    val table = tmp("upsert-ck")
    Seq(("2026-01-01", "a", 1, 10.0), ("2026-01-01", "a", 2, 20.0))
      .toDF("day", "k1", "k2", "v")
      .write.partitionBy("day").mode("overwrite").parquet(table)
    val upd = Seq(("2026-01-01", "a", 2, 200.0), ("2026-01-01", "b", 2, 99.0))
      .toDF("day", "k1", "k2", "v")
    Upsert.mergeByKey(spark, table, upd, "day", Seq("k1", "k2"))
    val after = spark.read.parquet(table)
      .select("k1", "k2", "v").as[(String, Int, Double)].collect().toSet
    // (a,1) survives untouched, (a,2) updates, (b,2) inserts — a
    // single-column match on k1 alone would have clobbered (a,1) too
    assert(after == Set(("a", 1, 10.0), ("a", 2, 200.0), ("b", 2, 99.0)))
  }

  test("mergeByKey: partition values needing path escaping update in place") {
    import spark.implicits._
    val table = tmp("upsert-esc")
    // ':' is escaped by partitionBy (hour=2026-01-01 10%3A00); building the
    // dir from the raw value would miss it and publish a duplicate sibling
    Seq(("2026-01-01 10:00", "k1", 1.0), ("2026-01-01 11:00", "k2", 2.0))
      .toDF("hour", "k", "v")
      .write.partitionBy("hour").mode("overwrite").parquet(table)
    val upd = Seq(("2026-01-01 10:00", "k1", 100.0)).toDF("hour", "k", "v")
    Upsert.mergeByKey(spark, table, upd, "hour", Seq("k"))
    val after = spark.read.parquet(table)
      .select("hour", "k", "v").as[(String, String, Double)].collect().toSet
    assert(after == Set(("2026-01-01 10:00", "k1", 100.0), ("2026-01-01 11:00", "k2", 2.0)),
      s"matched row must UPDATE, not duplicate: $after")
    // exactly one physical dir per partition value — no unescaped sibling
    val dirs = new java.io.File(table).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("hour=")).map(_.getName).toSeq
    assert(dirs.size == 2, s"no duplicate partition dirs: $dirs")
  }

  test("mergeByKey: duplicate keys or null partition values fail fast") {
    import spark.implicits._
    val table = tmp("upsert-dup")
    seed(table)
    val dup = Seq(("2026-01-01", "k1", 1.0), ("2026-01-01", "k1", 2.0))
      .toDF("day", "k", "v")
    val e = intercept[IllegalArgumentException] {
      Upsert.mergeByKey(spark, table, dup, "day", Seq("k"))
    }
    assert(e.getMessage.contains("duplicate key"))
    val nullPart = Seq((Option.empty[String], "k9", 9.0)).toDF("day", "k", "v")
    intercept[IllegalArgumentException] {
      Upsert.mergeByKey(spark, table, nullPart, "day", Seq("k"))
    }
    // table unchanged by either refused merge
    assert(spark.read.parquet(table).count() == 5)
  }

  test("mergeByKey: updates narrower than the table fail fast — no silent column loss") {
    import spark.implicits._
    val table = tmp("upsert-narrow")
    Seq(("2026-01-01", "k1", 10.0, "keepme"))
      .toDF("day", "k", "v", "extra")
      .write.partitionBy("day").mode("overwrite").parquet(table)
    // updates lack `extra`: merging would rewrite the surviving rows of the
    // touched partition WITHOUT that column (Delta MERGE preserves
    // unmentioned columns — losing them must be loud, not silent)
    val narrow = Seq(("2026-01-01", "k2", 2.0)).toDF("day", "k", "v")
    val e = intercept[IllegalArgumentException] {
      Upsert.mergeByKey(spark, table, narrow, "day", Seq("k"))
    }
    assert(e.getMessage.contains("extra"), e.getMessage)
    // table unchanged, column intact
    val after = spark.read.parquet(table)
    assert(after.columns.contains("extra") && after.count() == 1)
  }

  test("mergeByKey: concurrent merges on DISJOINT partitions both land") {
    import spark.implicits._
    val table = tmp("upsert-cc-disjoint")
    seed(table)
    val updA = Seq(("2026-01-01", "k1", 111.0)).toDF("day", "k", "v")
    val updB = Seq(("2026-01-02", "k3", 333.0)).toDF("day", "k", "v")
    val start = new java.util.concurrent.CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def writer(upd: org.apache.spark.sql.DataFrame) = new Thread(() => {
      start.await()
      try Upsert.mergeByKey(spark, table, upd, "day", Seq("k"))
      catch { case t: Throwable => errs.add(t) }
    })
    val (ta, tb) = (writer(updA), writer(updB))
    ta.start(); tb.start(); start.countDown(); ta.join(); tb.join()
    assert(errs.isEmpty, s"disjoint-partition writers must not conflict: ${errs.peek()}")
    val after = spark.read.parquet(table)
      .select("day", "k", "v").as[(String, String, Double)].collect().toSet
    assert(after.contains(("2026-01-01", "k1", 111.0)))
    assert(after.contains(("2026-01-02", "k3", 333.0)))
    assert(after.size == 5)
  }

  test("mergeByKey: an in-flight claim on the same partition raises, not last-wins") {
    import spark.implicits._
    val table = tmp("upsert-cc-conflict")
    seed(table)
    // writer A claimed the partition and has not published yet
    val claim = graft.core.TxnLog.begin(spark, table, "upsert",
      Set("2026-01-02"), graft.core.TxnLog.currentVersion(spark, table))
    val upd = Seq(("2026-01-02", "k3", 333.0)).toDF("day", "k", "v")
    intercept[graft.core.TxnLog.ConcurrentWriteException] {
      Upsert.mergeByKey(spark, table, upd, "day", Seq("k"))
    }
    // a DISJOINT partition is not blocked by A's claim
    val other = Seq(("2026-01-01", "k1", 111.0)).toDF("day", "k", "v")
    Upsert.mergeByKey(spark, table, other, "day", Seq("k"))
    // once A completes, the same-partition merge proceeds
    graft.core.TxnLog.end(spark, table, claim)
    Upsert.mergeByKey(spark, table, upd, "day", Seq("k"))
    val after = spark.read.parquet(table)
      .select("day", "k", "v").as[(String, String, Double)].collect().toSet
    assert(after.contains(("2026-01-02", "k3", 333.0)))
    assert(after.contains(("2026-01-01", "k1", 111.0)))
  }

  test("TxnLog: a commit after the writer's snapshot is a stale read — fails loudly") {
    import spark.implicits._
    val table = tmp("upsert-occ")
    seed(table)
    val staleSnapshot = graft.core.TxnLog.currentVersion(spark, table)
    // someone else lands a merge on the partition after our snapshot
    Upsert.mergeByKey(spark, table,
      Seq(("2026-01-02", "k3", 300.0)).toDF("day", "k", "v"), "day", Seq("k"))
    val e = intercept[graft.core.TxnLog.ConcurrentWriteException] {
      graft.core.TxnLog.commit(spark, table, "upsert", Set("2026-01-02"), staleSnapshot)
    }
    assert(e.getMessage.contains("stale"), e.getMessage)
  }

  test("TxnLog: a crashed writer's claim is ignored past the staleness horizon") {
    import spark.implicits._
    val table = tmp("upsert-stale-claim")
    seed(table)
    // writer A claims and "crashes" (never ends)
    graft.core.TxnLog.begin(spark, table, "upsert", Set("2026-01-01"),
      graft.core.TxnLog.currentVersion(spark, table))
    Thread.sleep(30)
    // a fresh writer that snapshots AFTER the crash takes over once the
    // claim ages past the horizon (here 10 ms); with the default 30 min
    // horizon it would have been refused as in-flight
    val snap = graft.core.TxnLog.currentVersion(spark, table)
    intercept[graft.core.TxnLog.ConcurrentWriteException] {
      graft.core.TxnLog.begin(spark, table, "upsert", Set("2026-01-01"), snap)
    }
    val c = graft.core.TxnLog.begin(spark, table, "upsert", Set("2026-01-01"), snap,
      staleLockMs = 10)
    graft.core.TxnLog.end(spark, table, c)
  }

  test("a failed merge aborts its claim — an immediate retry is not locked out") {
    import spark.implicits._
    val table = tmp("upsert-abort")
    Seq(("2026-01-01", "k1", 10.0, "keepme"))
      .toDF("day", "k", "v", "extra")
      .write.partitionBy("day").mode("overwrite").parquet(table)
    // this merge CLAIMS the partition, then fails the schema-coverage check
    val narrow = Seq(("2026-01-01", "k2", 2.0)).toDF("day", "k", "v")
    intercept[IllegalArgumentException] {
      Upsert.mergeByKey(spark, table, narrow, "day", Seq("k"))
    }
    // without the abort record the partition would stay locked for the
    // 30-minute staleness horizon; the corrected merge must land NOW
    val fixed = Seq(("2026-01-01", "k2", 2.0, "x")).toDF("day", "k", "v", "extra")
    Upsert.mergeByKey(spark, table, fixed, "day", Seq("k"))
    val after = spark.read.parquet(table)
      .select("day", "k", "v", "extra").as[(String, String, Double, String)]
      .collect().toSet
    assert(after == Set(
      ("2026-01-01", "k1", 10.0, "keepme"), ("2026-01-01", "k2", 2.0, "x")))
  }

  test("readCommitted during an 8-partition backfill: full pre-merge or full post-merge, never torn") {
    import spark.implicits._
    val table = tmp("upsert-snapshot")
    val days = (1 to 8).map(i => f"2026-03-$i%02d")
    days.flatMap(d => Seq((d, "a", 1.0), (d, "b", 2.0)))
      .toDF("day", "k", "v")
      .write.partitionBy("day").mode("overwrite").parquet(table)
    val updates = days.map(d => (d, "a", 10.0)).toDF("day", "k", "v")

    // reader hammer: snapshot the table while the backfill runs. A snapshot
    // either resolves consistently or surfaces a LOUD retryable error (the
    // documented execution-race contract) — it must never return a state
    // in which only some of the merge's partitions landed.
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val observed = new java.util.concurrent.ConcurrentLinkedQueue[Set[String]]()
    val torn = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reader = new Thread(() => {
      while (!stop.get()) {
        try {
          val rows = Upsert.readCommitted(spark, table, "day")
            .select("day", "k", "v").as[(String, String, Double)].collect().toSet
          // every partition must hold exactly {a, b} with b untouched
          val byDay = rows.groupBy(_._1)
          if (byDay.keySet != days.toSet ||
              byDay.exists { case (_, rs) => rs.size != 2 } ||
              rows.exists(r => r._2 == "b" && r._3 != 2.0) ||
              rows.exists(r => r._2 == "a" && r._3 != 1.0 && r._3 != 10.0))
            torn.add(s"inconsistent rows: $rows")
          else observed.add(rows.filter(r => r._2 == "a" && r._3 == 10.0).map(_._1))
        } catch { case _: Throwable => () } // loud execution race — retry
      }
    })
    reader.start()
    try Upsert.mergeByKey(spark, table, updates, "day", Seq("k"))
    finally { stop.set(true); reader.join() }
    assert(torn.isEmpty, s"torn snapshot: ${torn.peek()}")
    assert(!observed.isEmpty, "the hammer must complete at least one snapshot")

    // one merge is one commit: every snapshot shows none or all of the days
    observed.forEach { b =>
      assert(b.isEmpty || b == days.toSet,
        s"snapshot $b shows part of the merge, not none or all of $days")
    }
  }

  test("a writer crashed between its retain and install renames is repaired by the next merge") {
    import spark.implicits._
    val table = tmp("upsert-crash-install")
    seed(table)
    // "crash": claim the partition, then do exactly what retain-first does
    // up to the install — retire the live dir into history — and die
    val claim = graft.core.TxnLog.begin(spark, table, "upsert",
      Set("2026-01-01"), graft.core.TxnLog.currentVersion(spark, table))
    val live = java.nio.file.Paths.get(table, "day=2026-01-01")
    val gen = java.nio.file.Paths.get(
      table, "_graft_history", s"v${claim.version}", "day=2026-01-01")
    java.nio.file.Files.createDirectories(gen.getParent)
    java.nio.file.Files.move(live, gen)
    // snapshots already resolve the pre-image through the retained gen
    val committed = Upsert.readCommitted(spark, table, "day")
      .select("day", "k", "v").as[(String, String, Double)].collect().toSet
    assert(committed.contains(("2026-01-01", "k1", 10.0)), s"snapshot: $committed")
    // age the crashed claim past the staleness horizon so a fresh writer
    // takes over (rewrite its ts — the commit file is plain JSON)
    val claimFile = java.nio.file.Paths.get(
      table, "_graft_txn", f"v${claim.version}%020d.json")
    val txt = java.nio.file.Files.readString(claimFile)
    java.nio.file.Files.writeString(claimFile,
      txt.replace(s""""ts":${claim.ts}""", s""""ts":${claim.ts - 31L * 60 * 1000}"""))
    // the next merge restores the pre-image first, then merges on top of it
    Upsert.mergeByKey(spark, table,
      Seq(("2026-01-01", "k9", 90.0)).toDF("day", "k", "v"), "day", Seq("k"))
    val after = spark.read.parquet(table)
      .select("day", "k", "v").as[(String, String, Double)].collect().toSet
    assert(after == Set(
      ("2026-01-01", "k1", 10.0), ("2026-01-01", "k2", 20.0),
      ("2026-01-01", "k9", 90.0),
      ("2026-01-02", "k3", 30.0), ("2026-01-02", "k4", 40.0),
      ("2026-01-03", "k5", 50.0)), s"restored + merged: $after")
  }

  test("readCommitted composes with partition pruning — a day filter scans one partition") {
    import spark.implicits._
    val table = tmp("upsert-prune")
    seed(table)
    // create a manifest so the resolution path (not the plain fast path) runs
    Upsert.mergeByKey(spark, table,
      Seq(("2026-01-01", "k1", 11.0)).toDF("day", "k", "v"), "day", Seq("k"))
    val df = Upsert.readCommitted(spark, table, "day")
      .filter(col("day") === "2026-01-02")
    // the resolution's isin(<live values>) must not defeat partition
    // pruning: composed with the user's equality the scan should touch
    // exactly one partition directory — the property that keeps the
    // default read path delta-scaled on a 100 TB table
    val scans = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty, df.queryExecution.executedPlan.toString)
    // the resolution path genuinely ran: its isin membership predicate is
    // IN the scan's partition filters (a fast-path plain read would carry
    // only the user's equality) — guards against the probe going vacuous
    // if the fast-path condition is ever loosened
    assert(scans.exists(_.partitionFilters.exists(e =>
        e.toString.contains("IN") || e.toString.contains("INSET"))),
      scans.map(_.partitionFilters.mkString(";")).mkString(" | "))
    assert(scans.map(_.selectedPartitions.partitionCount).sum == 1,
      s"expected exactly one partition scanned, got " +
        scans.map(_.selectedPartitions.partitionCount).mkString("+"))
    val rows = df.select("day", "k", "v").as[(String, String, Double)].collect().toSet
    assert(rows == Set(("2026-01-02", "k3", 30.0), ("2026-01-02", "k4", 40.0)))
  }

  test("readCommitted resolves a single-partition table whose only dir is mid-install") {
    import spark.implicits._
    val table = tmp("upsert-lonely")
    Seq(("2026-01-01", "k1", 1.0)).toDF("day", "k", "v")
      .write.partitionBy("day").mode("overwrite").parquet(table)
    // crash between the retain and install renames: the table has a
    // manifest and claims but ZERO partCol= dirs — the plain-read fast
    // path would throw schema inference; resolution must recover the
    // committed rows from the retained generation
    val claim = graft.core.TxnLog.begin(spark, table, "upsert",
      Set("2026-01-01"), graft.core.TxnLog.currentVersion(spark, table))
    val gen = java.nio.file.Paths.get(
      table, "_graft_history", s"v${claim.version}", "day=2026-01-01")
    java.nio.file.Files.createDirectories(gen.getParent)
    java.nio.file.Files.move(java.nio.file.Paths.get(table, "day=2026-01-01"), gen)
    val got = Upsert.readCommitted(spark, table, "day")
      .select("day", "k", "v").as[(String, String, Double)].collect().toSet
    assert(got == Set(("2026-01-01", "k1", 1.0)), s"committed view: $got")
  }

  test("a merge failing AFTER its install rolls the partition back before aborting") {
    import spark.implicits._
    val table = tmp("upsert-rollback")
    seed(table)
    val committed = spark.read.parquet(table)
      .select("day", "k", "v").as[(String, String, Double)].collect().toSet
    // simulate a merge that claimed, retained, installed — then failed
    // before its end commit (e.g. the end raced a manifest error)
    val claim = graft.core.TxnLog.begin(spark, table, "upsert",
      Set("2026-01-02"), graft.core.TxnLog.currentVersion(spark, table))
    graft.core.AtomicWrite.publish(spark, s"$table/day=2026-01-02",
      retainOldTo = Some(s"$table/_graft_history/v${claim.version}/day=2026-01-02"),
      retainFirst = true) { tmpDir =>
      Seq(("k3", 999.0)).toDF("k", "v").write.parquet(tmpDir)
    }
    assert(spark.read.parquet(s"$table/day=2026-01-02").count() == 1,
      "failed write's data is live before the rollback")
    // the failure path: rollback, then abort (what a failed merge does)
    Upsert.rollbackFailedPublish(spark, table, "day", "2026-01-02", claim)
    graft.core.TxnLog.abort(spark, table, claim)
    // plain readers AND snapshots see the committed state — the failed
    // write's data is gone, the partition is not locked, history is clean
    val after = spark.read.parquet(table)
      .select("day", "k", "v").as[(String, String, Double)].collect().toSet
    assert(after == committed, s"rollback must restore the pre-image: $after")
    assert(Upsert.readAsOf(spark, table,
      graft.core.TxnLog.currentVersion(spark, table), "day")
      .select("day", "k", "v").as[(String, String, Double)].collect().toSet == committed)
    // an immediate retry lands (the abort released the claim)
    Upsert.mergeByKey(spark, table,
      Seq(("2026-01-02", "k3", 333.0)).toDF("day", "k", "v"), "day", Seq("k"))
    assert(spark.read.parquet(table).filter(col("k") === "k3")
      .select("v").as[Double].head() == 333.0)
  }

  test("mergeByKey: 8-partition backfill merges under one claim with exact results") {
    import spark.implicits._
    val table = tmp("upsert-backfill")
    val days = (1 to 8).map(i => f"2026-02-$i%02d")
    days.flatMap(d => Seq((d, "a", 1.0), (d, "b", 2.0)))
      .toDF("day", "k", "v")
      .write.partitionBy("day").mode("overwrite").parquet(table)
    val updates = days.flatMap(d => Seq((d, "a", 10.0), (d, "c", 3.0)))
      .toDF("day", "k", "v")
    val touched = Upsert.mergeByKey(spark, table, updates, "day", Seq("k"))
    assert(touched == days)
    val after = spark.read.parquet(table)
      .select("day", "k", "v").as[(String, String, Double)].collect().toSet
    assert(after == days.flatMap(d =>
      Seq((d, "a", 10.0), (d, "b", 2.0), (d, "c", 3.0))).toSet)
    // the TxnLog shows ONE claim and ONE end for the whole backfill, each
    // naming all 8 days: the merge commits all its partitions at once
    val commits = graft.core.TxnLog.commitsSince(spark, table, 0L)
    val begins = commits.filter(_.op == "upsert-begin")
    val ends = commits.filter(_.op == "upsert-end")
    assert(begins.size == 1 && ends.size == 1,
      s"one begin and one end expected: ${commits.map(c => c.op -> c.partitions)}")
    assert(begins.head.partitions == days.toSet && ends.head.partitions == days.toSet)
    assert(ends.head.ref.contains(begins.head.version))
  }

  // ------------------------------------------------- MERGE delete clause

  test("deleteByKey: matched rows go, unmatched keys no-op, siblings untouched bytes") {
    import spark.implicits._
    val table = tmp("upsert-delete")
    seed(table)
    val before = fileIndex(table)
    val touched = Upsert.deleteByKey(spark, table,
      Seq(("2026-01-01", "k1"), ("2026-01-01", "kGhost")).toDF("day", "k"),
      "day", Seq("k"))
    assert(touched == Seq("2026-01-01"))
    val after = spark.read.parquet(table)
      .select("day", "k", "v").as[(String, String, Double)].collect().toSet
    assert(after == Set(
      ("2026-01-01", "k2", 20.0), // k1 deleted, ghost no-op
      ("2026-01-02", "k3", 30.0), ("2026-01-02", "k4", 40.0),
      ("2026-01-03", "k5", 50.0)))
    // deletes keep the survivors' full schema (no coverage requirement)
    assert(spark.read.parquet(table).columns.toSet == Set("day", "k", "v"))
    // untouched partitions: identical files on disk
    val afterIdx = fileIndex(table)
    before.filter(_._1.contains("day=2026-01-02")).foreach { case (path, mtime) =>
      assert(afterIdx.get(path).contains(mtime), s"sibling rewritten: $path")
    }
  }

  test("mergeByKey with deleteWhen: update, insert, and delete in one merge") {
    import spark.implicits._
    val table = tmp("upsert-mixed-delete")
    seed(table)
    val changes = Seq(
      ("2026-01-01", "k1", 111.0, false), // matched → update
      ("2026-01-01", "k2", 0.0, true),    // matched → DELETE (v ignored)
      ("2026-01-02", "k9", 90.0, false),  // unmatched → insert
      ("2026-01-02", "kZ", 0.0, true))    // unmatched delete → no-op
      .toDF("day", "k", "v", "is_del")
    Upsert.mergeByKey(spark, table, changes, "day", Seq("k"),
      deleteWhen = Some("is_del"))
    val after = spark.read.parquet(table)
      .select("day", "k", "v").as[(String, String, Double)].collect().toSet
    assert(after == Set(
      ("2026-01-01", "k1", 111.0),
      ("2026-01-02", "k3", 30.0), ("2026-01-02", "k4", 40.0),
      ("2026-01-02", "k9", 90.0),
      ("2026-01-03", "k5", 50.0)), s"mixed merge: $after")
    // the marker column is never written to the table
    assert(!spark.read.parquet(table).columns.contains("is_del"))
  }

  test("deleteByKey on a partition that does not exist is a clean no-op") {
    import spark.implicits._
    val table = tmp("upsert-delete-noop")
    seed(table)
    val touched = Upsert.deleteByKey(spark, table,
      Seq(("2026-09-09", "kX")).toDF("day", "k"), "day", Seq("k"))
    assert(touched == Seq("2026-09-09")) // claimed, then aborted
    assert(!new java.io.File(s"$table/day=2026-09-09").exists(), "no dir debris")
    // no END commit lands (an end without a retained pre-image would poison
    // snapshot resolution); the claim is abort-released
    val commits = graft.core.TxnLog.commitsSince(spark, table, 0L)
    assert(!commits.exists(_.op == "upsert-end"), s"commits: ${commits.map(_.op)}")
    assert(commits.map(_.op).count(_ == "upsert-abort") == 1)
    // and time travel across the no-op still works
    assert(Upsert.readCommitted(spark, table, "day").count() == 5)
  }

  test("deletes conflict with in-flight claims like any other write") {
    import spark.implicits._
    val table = tmp("upsert-delete-conflict")
    seed(table)
    val claim = graft.core.TxnLog.begin(spark, table, "upsert",
      Set("2026-01-01"), graft.core.TxnLog.currentVersion(spark, table))
    intercept[graft.core.TxnLog.ConcurrentWriteException] {
      Upsert.deleteByKey(spark, table,
        Seq(("2026-01-01", "k1")).toDF("day", "k"), "day", Seq("k"))
    }
    graft.core.TxnLog.end(spark, table, claim)
    // released → the same delete lands
    Upsert.deleteByKey(spark, table,
      Seq(("2026-01-01", "k1")).toDF("day", "k"), "day", Seq("k"))
    assert(spark.read.parquet(table).filter(col("k") === "k1").isEmpty)
  }

  test("mergeByKey refuses a null delete marker and an update+delete of one key") {
    import spark.implicits._
    val table = tmp("upsert-delete-bad")
    seed(table)
    val nullMarker = Seq(("2026-01-01", "k1", 1.0, null.asInstanceOf[java.lang.Boolean]))
      .toDF("day", "k", "v", "is_del")
      .withColumn("is_del", col("is_del").cast("boolean"))
    intercept[IllegalArgumentException] {
      Upsert.mergeByKey(spark, table, nullMarker, "day", Seq("k"),
        deleteWhen = Some("is_del"))
    }
    val ambiguous = Seq(
      ("2026-01-01", "k1", 1.0, false),
      ("2026-01-01", "k1", 0.0, true))
      .toDF("day", "k", "v", "is_del")
    intercept[IllegalArgumentException] {
      Upsert.mergeByKey(spark, table, ambiguous, "day", Seq("k"),
        deleteWhen = Some("is_del"))
    }
  }

  private def ageDir(dir: java.nio.file.Path, byMs: Long): Unit =
    new java.io.File(dir.toString).setLastModified(System.currentTimeMillis() - byMs)

  private def ageClaim(table: String, claim: graft.core.TxnLog.Commit, byMs: Long): Unit = {
    val claimFile = java.nio.file.Paths.get(
      table, "_graft_txn", f"v${claim.version}%020d.json")
    val txt = java.nio.file.Files.readString(claimFile)
    java.nio.file.Files.writeString(claimFile,
      txt.replace(s""""ts":${claim.ts}""", s""""ts":${claim.ts - byMs}"""))
  }

  test("vacuumHistory never deletes the pre-image of an end-unclosed begin — " +
      "a crashed install stays repairable and unserved") {
    import spark.implicits._
    val table = tmp("upsert-vacuum-pin")
    seed(table)
    // crash AFTER install: retain the pre-image into history, publish
    // uncommitted data into the live dir, never end the claim
    val claim = graft.core.TxnLog.begin(spark, table, "upsert",
      Set("2026-01-01"), graft.core.TxnLog.currentVersion(spark, table))
    val live = java.nio.file.Paths.get(table, "day=2026-01-01")
    val gen = java.nio.file.Paths.get(
      table, "_graft_history", s"v${claim.version}", "day=2026-01-01")
    java.nio.file.Files.createDirectories(gen.getParent)
    java.nio.file.Files.move(live, gen)
    Seq(("2026-01-01", "kX", 666.0)).toDF("day", "k", "v")
      .write.parquet(live.toString) // the uncommitted install
    // age the generation far past the retention window, then vacuum: the
    // mtime says "delete", the manifest says "pinned" — the manifest wins
    ageDir(gen.getParent, byMs = 10L * 24 * 3600 * 1000)
    val removed = Upsert.vacuumHistory(spark, table, minAgeMs = 1000L)
    assert(removed == 0, s"vacuum deleted a pinned generation ($removed)")
    assert(java.nio.file.Files.exists(gen), "pinned pre-image must survive vacuum")
    // committed reads still resolve the pre-image, never the crashed install
    val committed = Upsert.readCommitted(spark, table, "day")
      .select("day", "k", "v").as[(String, String, Double)].collect().toSet
    assert(committed.contains(("2026-01-01", "k1", 10.0)), s"snapshot: $committed")
    assert(!committed.exists(_._2 == "kX"), s"uncommitted row served: $committed")
    // and the next writer can still repair: restore pre-image, merge on top
    ageClaim(table, claim, byMs = 31L * 60 * 1000)
    Upsert.mergeByKey(spark, table,
      Seq(("2026-01-01", "k9", 90.0)).toDF("day", "k", "v"), "day", Seq("k"))
    val after = spark.read.parquet(table)
      .select("day", "k", "v").as[(String, String, Double)].collect().toSet
    assert(after.contains(("2026-01-01", "k1", 10.0)) &&
      after.contains(("2026-01-01", "k9", 90.0)) && !after.exists(_._2 == "kX"),
      s"repair after vacuum: $after")
  }

  test("vacuumHistory reaps ordinary and superseded generations by age") {
    import spark.implicits._
    val table = tmp("upsert-vacuum-reap")
    seed(table)
    // (a) a normal committed merge: its retained generation is plain
    // time-travel history — closed by its end, vacuumable once aged
    Upsert.mergeByKey(spark, table,
      Seq(("2026-01-02", "k3", 333.0)).toDF("day", "k", "v"), "day", Seq("k"))
    // (b) a crashed retain (never ended) on another partition, later
    // SUPERSEDED by a committed end of the same partition (hand-driven
    // begin/end so no repair consumes the crashed gen, as a usurper whose
    // repair raced a second crash would leave it): resolution routes
    // through the later end, so the crashed gen is vacuumable history too
    val crashed = graft.core.TxnLog.begin(spark, table, "upsert",
      Set("2026-01-03"), graft.core.TxnLog.currentVersion(spark, table))
    val gen = java.nio.file.Paths.get(
      table, "_graft_history", s"v${crashed.version}", "day=2026-01-03")
    java.nio.file.Files.createDirectories(gen.getParent)
    spark.read.parquet(s"$table/day=2026-01-03").write.parquet(gen.toString)
    ageClaim(table, crashed, byMs = 31L * 60 * 1000)
    val usurper = graft.core.TxnLog.begin(spark, table, "upsert",
      Set("2026-01-03"), graft.core.TxnLog.currentVersion(spark, table))
    graft.core.TxnLog.end(spark, table, usurper)
    // age both generations past retention and vacuum: both must go
    val hist = new java.io.File(s"$table/_graft_history")
    hist.listFiles().foreach(d => ageDir(d.toPath, byMs = 10L * 24 * 3600 * 1000))
    val nGens = hist.listFiles().count(_.getName.matches("v\\d+"))
    val removed = Upsert.vacuumHistory(spark, table, minAgeMs = 60000L)
    assert(removed == nGens, s"aged unpinned generations must go: $removed/$nGens")
    assert(!java.nio.file.Files.exists(gen.getParent))
  }
}
