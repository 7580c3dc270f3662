package graft

import java.nio.file.Files

import graft.batch.Upsert
import graft.core.TxnLog

/** Versioned snapshot reads over the MERGE path (Delta `VERSION AS OF`
  * analog): every committed TxnLog version of the table is reconstructible
  * from the live tree plus retained pre-image generations, until
  * vacuumHistory's retention horizon passes — after which an
  * unreconstructible snapshot fails loudly, never silently partial. */
class TimeTravelSpec extends SparkSpec {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def state(table: String): Set[(String, String, Double)] = {
    import spark.implicits._
    spark.read.parquet(table)
      .select("day", "k", "v").as[(String, String, Double)].collect().toSet
  }

  private def stateAsOf(table: String, v: Long): Set[(String, String, Double)] = {
    import spark.implicits._
    Upsert.readAsOf(spark, table, v, "day")
      .select("day", "k", "v").as[(String, String, Double)].collect().toSet
  }

  test("a v-pinned plan executed after a later merge is loud or exact — " +
      "never the future commit's rows") {
    import spark.implicits._
    val table = tmp("tt-race") + "/t"
    Upsert.mergeByKey(spark, table,
      Seq(("w1", "k0", 0.0)).toDF("day", "k", "v"), "day", Seq("k"))
    val v1 = TxnLog.currentVersion(spark, table)
    // plan the snapshot NOW, execute only after the next merge lands —
    // the deterministic form of the feed-race hammer's wild catch: a
    // dir-mounted live read defers its file listing to the action, so the
    // install that happens in between used to serve v2's rows under v1's
    // name. With resolution-time file pinning the stale plan either still
    // reads the pinned pre-image or fails LOUDLY on the renamed files.
    val pinned = Upsert.readAsOf(spark, table, v1, "day")
    Upsert.mergeByKey(spark, table,
      Seq(("w1", "k0", 4.0)).toDF("day", "k", "v"), "day", Seq("k"))
    scala.util.Try(pinned.select("v").as[Double].collect().toSet) match {
      case scala.util.Success(vs) =>
        assert(vs == Set(0.0), s"a v$v1 plan served the future: $vs")
      case scala.util.Failure(_) => () // loud retryable race — the contract
    }
    // a fresh resolution reconstructs v1 exactly (retained generation)
    assert(stateAsOf(table, v1) == Set(("w1", "k0", 0.0)))
    assert(stateAsOf(table, TxnLog.currentVersion(spark, table)) ==
      Set(("w1", "k0", 4.0)))
  }

  test("readAsOf reconstructs every committed version; plain read = latest") {
    import spark.implicits._
    val table = tmp("tt")
    Seq(("2026-01-01", "k1", 10.0), ("2026-01-02", "k3", 30.0),
        ("2026-01-03", "k5", 50.0))
      .toDF("day", "k", "v")
      .write.partitionBy("day").mode("overwrite").parquet(table)
    val s0 = state(table)
    val v0 = TxnLog.currentVersion(spark, table)

    // M1: update 01-01, CREATE 01-04
    Upsert.mergeByKey(spark, table,
      Seq(("2026-01-01", "k1", 111.0), ("2026-01-04", "k7", 70.0))
        .toDF("day", "k", "v"), "day", Seq("k"))
    val s1 = state(table)
    val v1 = TxnLog.currentVersion(spark, table)

    // M2: update 01-01 again and 01-02
    Upsert.mergeByKey(spark, table,
      Seq(("2026-01-01", "k1", 222.0), ("2026-01-02", "k3", 333.0))
        .toDF("day", "k", "v"), "day", Seq("k"))
    val s2 = state(table)

    assert(s0 != s1 && s1 != s2)
    // every version reconstructs exactly; the untouched 01-03 partition
    // appears in all of them; 01-04 is ABSENT before M1 created it
    assert(stateAsOf(table, v0) == s0, "as-of v0 must equal the seed state")
    assert(!stateAsOf(table, v0).exists(_._1 == "2026-01-04"))
    assert(stateAsOf(table, v1) == s1, "as-of v1 must equal the post-M1 state")
    assert(stateAsOf(table, TxnLog.currentVersion(spark, table)) == s2)
    assert(state(table) == s2, "plain readers are unaffected by history")
  }

  test("the pre-delete version still returns the deleted rows") {
    import spark.implicits._
    val table = tmp("tt-delete")
    Seq(("2026-01-01", "k1", 10.0), ("2026-01-01", "k2", 20.0),
        ("2026-01-02", "k3", 30.0))
      .toDF("day", "k", "v")
      .write.partitionBy("day").mode("overwrite").parquet(table)
    val v0 = TxnLog.currentVersion(spark, table)
    val s0 = state(table)
    Upsert.deleteByKey(spark, table,
      Seq(("2026-01-01", "k1")).toDF("day", "k"), "day", Seq("k"))
    val v1 = TxnLog.currentVersion(spark, table)
    // post-delete: the row is gone from the live table and from as-of(tip)
    assert(state(table) == s0 - (("2026-01-01", "k1", 10.0)))
    assert(stateAsOf(table, v1) == state(table))
    // pre-delete: time travel resurrects it until vacuum ages it out
    assert(stateAsOf(table, v0) == s0, "as-of pre-delete must include the deleted row")
    // and a mixed update+delete merge keeps every version reconstructible
    Upsert.mergeByKey(spark, table,
      Seq(("2026-01-01", "k2", 222.0, false), ("2026-01-02", "k3", 0.0, true))
        .toDF("day", "k", "v", "is_del"), "day", Seq("k"),
      deleteWhen = Some("is_del"))
    assert(state(table) == Set(("2026-01-01", "k2", 222.0)))
    assert(stateAsOf(table, v1) == s0 - (("2026-01-01", "k1", 10.0)))
    assert(stateAsOf(table, v0) == s0)
  }

  test("a version mid-merge resolves to the pre-image (end commit defines visibility)") {
    import spark.implicits._
    val table = tmp("tt-mid")
    Seq(("2026-01-01", "k1", 1.0)).toDF("day", "k", "v")
      .write.partitionBy("day").mode("overwrite").parquet(table)
    val s0 = state(table)
    Upsert.mergeByKey(spark, table,
      Seq(("2026-01-01", "k1", 2.0)).toDF("day", "k", "v"), "day", Seq("k"))
    // the merge produced begin (v1) and end (v2); at the BEGIN version the
    // write was not yet committed — the snapshot is the pre-image
    val ends = TxnLog.commitsSince(spark, table, 0L).filter(_.op == "upsert-end")
    assert(ends.size == 1)
    val beginV = ends.head.ref.get
    assert(stateAsOf(table, beginV) == s0)
    assert(stateAsOf(table, ends.head.version) == state(table))
  }

  test("an uncommitted (crashed) merge never leaks into a snapshot") {
    import spark.implicits._
    val table = tmp("tt-crash")
    Seq(("2026-01-01", "k1", 1.0)).toDF("day", "k", "v")
      .write.partitionBy("day").mode("overwrite").parquet(table)
    Upsert.mergeByKey(spark, table,
      Seq(("2026-01-01", "k1", 2.0)).toDF("day", "k", "v"), "day", Seq("k"))
    val committed = state(table)
    val vCommitted = TxnLog.currentVersion(spark, table)

    // simulate a writer that claimed, retained the pre-image, PUBLISHED —
    // and died before its end commit: the live dir holds uncommitted data
    val claim = graft.core.TxnLog.begin(spark, table, "upsert",
      Set("2026-01-01"), vCommitted)
    graft.core.AtomicWrite.publish(spark, s"$table/day=2026-01-01",
      retainOldTo = Some(s"$table/_graft_history/v${claim.version}/day=2026-01-01")) { tmpDir =>
      Seq(("k1", 99.0)).toDF("k", "v").write.parquet(tmpDir)
    }
    assert(state(table) == Set(("2026-01-01", "k1", 99.0)),
      "plain readers see the uncommitted publish (documented crash semantics)")
    // every COMMITTED version resolves through the retained pre-image, not
    // the uncommitted live data — including the current tip
    assert(stateAsOf(table, vCommitted) == committed,
      "snapshots must never surface a begun-but-unended write")
    assert(stateAsOf(table, TxnLog.currentVersion(spark, table)) == committed)
  }

  test("a version below the truncated manifest horizon is refused, not guessed") {
    import spark.implicits._
    val table = tmp("tt-trunc")
    Seq(("2026-01-01", "k1", 1.0)).toDF("day", "k", "v")
      .write.partitionBy("day").mode("overwrite").parquet(table)
    val v0 = TxnLog.currentVersion(spark, table)
    (1 to 3).foreach { i =>
      Upsert.mergeByKey(spark, table,
        Seq(("2026-01-01", "k1", i.toDouble)).toDF("day", "k", "v"), "day", Seq("k"))
    }
    // aggressive manifest truncation: only the tip survives. The end-commit
    // that rewrote the partition after v0 may be gone — resolving v0 to the
    // live dir would be a silently-wrong snapshot. Must refuse.
    assert(TxnLog.truncate(spark, table, keep = 1) > 0)
    val e = intercept[IllegalStateException](stateAsOf(table, v0))
    assert(e.getMessage.contains("manifest horizon"), e.getMessage)
    // the tip itself still reads
    assert(stateAsOf(table, TxnLog.currentVersion(spark, table)) == state(table))
  }

  test("typed (date) partition columns reconstruct through history generations") {
    import spark.implicits._
    val table = tmp("tt-date")
    Seq(("2026-01-01", "k1", 1.0), ("2026-01-02", "k2", 2.0))
      .toDF("d", "k", "v")
      .select(org.apache.spark.sql.functions.to_date(
        org.apache.spark.sql.functions.col("d")).as("day"),
        org.apache.spark.sql.functions.col("k"), org.apache.spark.sql.functions.col("v"))
      .write.partitionBy("day").mode("overwrite").parquet(table)
    val v0 = TxnLog.currentVersion(spark, table)
    Upsert.mergeByKey(spark, table,
      Seq(("2026-01-01", "k1", 10.0)).toDF("d", "k", "v")
        .select(org.apache.spark.sql.functions.to_date(
          org.apache.spark.sql.functions.col("d")).as("day"),
          org.apache.spark.sql.functions.col("k"), org.apache.spark.sql.functions.col("v")),
      "day", Seq("k"))
    val snap = Upsert.readAsOf(spark, table, v0, "day")
    assert(snap.schema("day").dataType ==
      org.apache.spark.sql.types.DateType, "partition type must survive history reads")
    val got = snap.select(org.apache.spark.sql.functions.col("day").cast("string"),
        org.apache.spark.sql.functions.col("k"), org.apache.spark.sql.functions.col("v"))
      .as[(String, String, Double)].collect().toSet
    assert(got == Set(("2026-01-01", "k1", 1.0), ("2026-01-02", "k2", 2.0)))
  }

  test("partValsAsOf refuses beyond-tip and below-horizon versions at once") {
    import spark.implicits._
    val table = tmp("tt-partvals")
    Seq(("2026-01-01", "k1", 1.0)).toDF("day", "k", "v")
      .write.partitionBy("day").mode("overwrite").parquet(table)
    val v0 = TxnLog.currentVersion(spark, table)
    (1 to 3).foreach { i =>
      Upsert.mergeByKey(spark, table,
        Seq((s"2026-01-0${i + 1}", "k1", i.toDouble)).toDF("day", "k", "v"),
        "day", Seq("k"))
    }
    val tip = TxnLog.currentVersion(spark, table)
    assert(graft.batch.UpsertTestHook.partValsAsOf(spark, table, tip, "day")._1 ==
      Set("2026-01-01", "2026-01-02", "2026-01-03", "2026-01-04"))
    def refusedAtOnce(v: Long, msg: String): Unit = {
      val t0 = System.nanoTime()
      val e = intercept[IllegalStateException](
        graft.batch.UpsertTestHook.partValsAsOf(spark, table, v, "day"))
      assert(e.getMessage.contains(msg), e.getMessage)
      val ms = (System.nanoTime() - t0) / 1000000
      assert(ms < 2000, s"v$v: a permanent refusal must not retry (took $ms ms)")
    }
    refusedAtOnce(tip + 5, "beyond the current tip")
    assert(TxnLog.truncate(spark, table, keep = 1) > 0)
    refusedAtOnce(v0, "manifest horizon")
  }

  test("a version beyond the current tip is refused, not silently read as latest") {
    import spark.implicits._
    val table = tmp("tt-future")
    Seq(("2026-01-01", "k1", 1.0)).toDF("day", "k", "v")
      .write.partitionBy("day").mode("overwrite").parquet(table)
    Upsert.mergeByKey(spark, table,
      Seq(("2026-01-01", "k1", 2.0)).toDF("day", "k", "v"), "day", Seq("k"))
    val tip = TxnLog.currentVersion(spark, table)
    val e = intercept[IllegalStateException](stateAsOf(table, tip + 5))
    assert(e.getMessage.contains("beyond the current tip"), e.getMessage)
    assert(stateAsOf(table, tip) == state(table)) // the tip itself reads
  }

  test("the retain-to-install window resolves the pre-image deterministically") {
    import spark.implicits._
    val table = tmp("tt-window")
    Seq(("2026-01-01", "k1", 1.0), ("2026-01-02", "k2", 2.0))
      .toDF("day", "k", "v")
      .write.partitionBy("day").mode("overwrite").parquet(table)
    Upsert.mergeByKey(spark, table,
      Seq(("2026-01-01", "k1", 5.0)).toDF("day", "k", "v"), "day", Seq("k"))
    val committed = state(table)
    val vCommitted = TxnLog.currentVersion(spark, table)
    // a writer exactly between its two renames: pre-image retained in
    // history, install not yet landed — the live dir is MISSING. With the
    // old after-install retention order this state was impossible and the
    // corresponding race window (installed, retention pending) resolved a
    // snapshot to the in-flight writer's data; retain-first makes the
    // pre-image findable from the instant the live dir stops being it.
    val claim = TxnLog.begin(spark, table, "upsert", Set("2026-01-01"), vCommitted)
    val gen = java.nio.file.Paths.get(
      table, "_graft_history", s"v${claim.version}", "day=2026-01-01")
    java.nio.file.Files.createDirectories(gen.getParent)
    java.nio.file.Files.move(java.nio.file.Paths.get(table, "day=2026-01-01"), gen)
    // snapshot at the committed tip: full committed state, no missing
    // partition, no in-flight data
    assert(stateAsOf(table, vCommitted) == committed)
    // the default read path agrees
    val viaCommitted = Upsert.readCommitted(spark, table, "day")
      .select("day", "k", "v").as[(String, String, Double)].collect().toSet
    assert(viaCommitted == committed)
    // writer completes: install + end (this simulated writer installs the
    // unchanged tree, so the committed state is unchanged too)
    java.nio.file.Files.move(gen, java.nio.file.Paths.get(table, "day=2026-01-01"))
    TxnLog.end(spark, table, claim)
    assert(stateAsOf(table, TxnLog.currentVersion(spark, table)) == committed)
  }

  test("time travel across compaction generations returns identical rows") {
    import spark.implicits._
    val table = tmp("tt-compact")
    // several files per partition so compaction has something to do
    Seq(("2026-01-01", "k1", 1.0), ("2026-01-01", "k2", 2.0),
        ("2026-01-01", "k3", 3.0), ("2026-01-02", "k4", 4.0),
        ("2026-01-02", "k5", 5.0))
      .toDF("day", "k", "v").repartition(3)
      .write.partitionBy("day").mode("overwrite").parquet(table)
    val s0 = state(table)
    val v0 = TxnLog.currentVersion(spark, table)
    Upsert.mergeByKey(spark, table,
      Seq(("2026-01-01", "k1", 111.0), ("2026-01-02", "k9", 90.0))
        .toDF("day", "k", "v"), "day", Seq("k"))
    val s1 = state(table)
    val v1 = TxnLog.currentVersion(spark, table)

    def dataFiles(day: String): Int =
      new java.io.File(table, s"day=$day").listFiles()
        .count(_.getName.endsWith(".parquet"))
    val filesBefore = dataFiles("2026-01-01")
    assert(filesBefore > 1, s"need a crowded partition: $filesBefore files")
    val compacted = Upsert.compactPartitions(spark, table, "day")
    assert(compacted >= 1)
    assert(dataFiles("2026-01-01") == 1, "compaction must reduce the file count")

    // row-identical across the rewrite: every version reconstructs exactly
    assert(state(table) == s1, "compaction must not change visible rows")
    assert(stateAsOf(table, v0) == s0, "pre-merge snapshot across compaction")
    assert(stateAsOf(table, v1) == s1, "post-merge snapshot across compaction")
    assert(stateAsOf(table, TxnLog.currentVersion(spark, table)) == s1)
    // and a compaction claim serializes against a concurrent merge
    val open = TxnLog.begin(spark, table, "compact", Set("2026-01-02"),
      TxnLog.currentVersion(spark, table))
    intercept[TxnLog.ConcurrentWriteException] {
      Upsert.mergeByKey(spark, table,
        Seq(("2026-01-02", "k4", 44.0)).toDF("day", "k", "v"), "day", Seq("k"))
    }
    TxnLog.end(spark, table, open)
  }

  test("vacuumed generations fail loudly, never a silently-partial snapshot") {
    import spark.implicits._
    val table = tmp("tt-vac")
    Seq(("2026-01-01", "k1", 1.0)).toDF("day", "k", "v")
      .write.partitionBy("day").mode("overwrite").parquet(table)
    val v0 = TxnLog.currentVersion(spark, table)
    Upsert.mergeByKey(spark, table,
      Seq(("2026-01-01", "k1", 2.0)).toDF("day", "k", "v"), "day", Seq("k"))
    // retention horizon 0: every retained generation is reclaimable
    assert(Upsert.vacuumHistory(spark, table, minAgeMs = 0) >= 1)
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException](stateAsOf(table, v0))
    assert(e.getMessage.contains("vacuumed"), e.getMessage)
    val refusedMs = (System.nanoTime() - t0) / 1000000
    assert(refusedMs < 10000, s"a vacuumed generation cannot come back: " +
      s"refusing it must not retry (took $refusedMs ms)")
    // the LATEST state needs no history and still reads fine
    assert(stateAsOf(table, TxnLog.currentVersion(spark, table)) == state(table))
    // a fresh horizon keeps young generations: new merge, immediate as-of works
    val vMid = TxnLog.currentVersion(spark, table)
    val sMid = state(table)
    Upsert.mergeByKey(spark, table,
      Seq(("2026-01-01", "k1", 3.0)).toDF("day", "k", "v"), "day", Seq("k"))
    assert(Upsert.vacuumHistory(spark, table, minAgeMs = 60000) == 0)
    assert(stateAsOf(table, vMid) == sMid)
  }

  test("TIMESTAMP AS OF resolves to the newest commit at or before it") {
    import spark.implicits._
    val table = tmp("tt-ts")
    Upsert.mergeByKey(spark, table,
      Seq(("2026-01-01", "k1", 1.0)).toDF("day", "k", "v"), "day", Seq("k"))
    val s1 = state(table)
    Thread.sleep(15)
    val between = System.currentTimeMillis()
    Thread.sleep(15)
    Upsert.mergeByKey(spark, table,
      Seq(("2026-01-01", "k1", 2.0)).toDF("day", "k", "v"), "day", Seq("k"))
    val s2 = state(table)
    // a timestamp between the merges sees the first state; now sees both
    assert(stateOf(Upsert.readAsOfTimestamp(spark, table, between, "day")) == s1)
    assert(stateOf(Upsert.readAsOfTimestamp(
      spark, table, System.currentTimeMillis(), "day")) == s2)
    // a timestamp before the first retained commit is refused, not guessed
    val e = intercept[IllegalStateException] {
      Upsert.readAsOfTimestamp(spark, table, 1000L, "day")
    }
    assert(e.getMessage.contains("predates"), e.getMessage)
  }

  private def stateOf(df: org.apache.spark.sql.DataFrame): Set[(String, String, Double)] = {
    import spark.implicits._
    df.select("day", "k", "v").as[(String, String, Double)].collect().toSet
  }

  test("restoreTo rolls content back as a NEW commit; the bad versions stay") {
    import spark.implicits._
    val table = tmp("tt-restore")
    Upsert.mergeByKey(spark, table,
      Seq(("2026-01-01", "k1", 10.0), ("2026-01-02", "k3", 30.0),
          ("2026-01-03", "k5", 50.0)).toDF("day", "k", "v"),
      "day", Seq("k"))
    val vGood = TxnLog.currentVersion(spark, table)
    val sGood = state(table)

    // the incident: a bad update, a bogus insert (new partition), a delete
    Upsert.mergeByKey(spark, table,
      Seq(("2026-01-01", "k1", -999.0), ("2026-01-04", "kBad", 1.0))
        .toDF("day", "k", "v"), "day", Seq("k"))
    Upsert.deleteByKey(spark, table,
      Seq(("2026-01-02", "k3")).toDF("day", "k"), "day", Seq("k"))
    val vBad = TxnLog.currentVersion(spark, table)
    val sBad = state(table)
    assert(sBad != sGood)

    val restored = Upsert.restoreTo(spark, table, vGood, "day", Seq("k"))
    // only churned partitions rewrite: 01-01 (update), 01-04 (bogus
    // insert), 01-02 (delete) — never the untouched 01-03
    assert(restored.toSet == Set("2026-01-01", "2026-01-02", "2026-01-04"),
      s"got $restored")
    // round-trip: committed state == the as-of snapshot
    val vAfter = TxnLog.currentVersion(spark, table)
    assert(state(table) == sGood)
    assert(stateAsOf(table, vAfter) == sGood)
    // NOT history surgery: the bad version is still time-travelable, and
    // so is the restore itself
    assert(stateAsOf(table, vBad) == sBad)
    assert(vAfter > vBad)
    // the bogus partition is gone from the committed view
    assert(Upsert.readCommitted(spark, table, "day")
      .filter(org.apache.spark.sql.functions.col("k") === "kBad").count() == 0L)
    // idempotent: restoring to a version we are already at is a no-op
    assert(Upsert.restoreTo(spark, table, vAfter, "day", Seq("k")).isEmpty)

    // the net diff flows through the change feed: replaying (vBad, vAfter]
    // onto the bad state reproduces the restored state
    val feed = graft.batch.ChangeFeed.readChanges(spark, table, "day", vBad)
    val inserts = feed
      .filter(org.apache.spark.sql.functions.col(
        graft.batch.ChangeFeed.ChangeTypeCol) === "insert")
      .select("day", "k", "v").as[(String, String, Double)].collect().toSet
    val deletes = feed
      .filter(org.apache.spark.sql.functions.col(
        graft.batch.ChangeFeed.ChangeTypeCol) === "delete")
      .select("day", "k", "v").as[(String, String, Double)].collect().toSet
    assert((sBad -- deletes) ++ inserts == sGood,
      s"feed replay must converge: +$inserts -$deletes")
    // ...and identical-row rewrites cancelled: k5 (untouched) appears on
    // neither side
    assert(!inserts.exists(_._2 == "k5") && !deletes.exists(_._2 == "k5"))
  }

  test("a derived ANN index converges through its refresh after a restore") {
    import spark.implicits._
    def vecRows(ids: Seq[Int], shift: Double) =
      spark.createDataFrame(
          spark.sparkContext.parallelize(
            ids.map(i => org.apache.spark.sql.Row(i.toLong)), 2),
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("vec_id",
              org.apache.spark.sql.types.LongType))))
        .withColumn("shard", org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("s"),
          (org.apache.spark.sql.functions.col("vec_id") % 2).cast("string")))
        .withColumn("embedding", org.apache.spark.sql.functions.expr(
          s"transform(sequence(0, 63), i -> " +
            s"CAST(sin(CAST(vec_id * 64 + i AS DOUBLE) + $shift) AS FLOAT))"))
    val table = tmp("tt-restore-idx") + "/vectors"
    Upsert.mergeByKey(spark, table, vecRows(0 until 400, 0.0),
      "shard", Seq("vec_id"))
    val vGood = TxnLog.currentVersion(spark, table)
    val idxDir = tmp("tt-restore-pq")
    graft.operators.PqIndex.buildFromTable(spark, table, "shard", idxDir)
    // incident churn AFTER the index is current
    Upsert.mergeByKey(spark, table, vecRows(400 until 410, 0.0),
      "shard", Seq("vec_id"))
    Upsert.mergeByKey(spark, table, vecRows(10 until 14, 2.2),
      "shard", Seq("vec_id"))
    graft.operators.PqIndex.refresh(spark, table, "shard", idxDir)
    // restore, then the INCREMENTAL refresh converges the index
    Upsert.restoreTo(spark, table, vGood, "shard", Seq("vec_id"))
    val st = graft.operators.PqIndex.refresh(spark, table, "shard", idxDir)
    assert(!st.rebuilt && st.changedRows > 0, s"incremental catch-up: $st")
    val ref = tmp("tt-restore-pq-ref")
    graft.operators.PqIndex.buildFromTable(spark, table, "shard", ref,
      Some(spark.read.parquet(s"$idxDir/codebook").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Long](2).toSeq)).toSeq
        .sortBy(t => (t._1, t._2))))
    def codes(d: String) = spark.read.parquet(s"$d/codes")
      .select("vec_id", "codes").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
    assert(codes(idxDir) == codes(ref),
      "post-restore refresh must equal a same-codebook rebuild")
  }
}
