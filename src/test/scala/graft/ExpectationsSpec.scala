package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.batch.{ChangeFeed, Expectations, Upsert}
import graft.core.TxnLog

/** Expectations/quarantine: rule-failing rows are routed to the
  * quarantine table and the merge COMMITS the survivors (where a CHECK
  * constraint refuses everything); per-rule counts are exact and ride
  * the table's own ledger; the change feed stays consistent (survivor
  * legs only on the parent, quarantined legs on the quarantine table). */
class ExpectationsSpec extends SparkSpec {

  private def tmp(p: String): String =
    Files.createTempDirectory(p).toString + "/t"

  private def rows(kvs: (String, Long, Long, Double)*): DataFrame = {
    import spark.implicits._
    kvs.toDF("day", "k", "qty", "amt")
  }

  test("failing rows are quarantined, survivors commit, counts are exact") {
    val t = tmp("exp")
    Upsert.mergeByKey(spark, t, rows(("d1", 1L, 5L, 1.0)), "day", Seq("k"))
    Expectations.add(spark, t, "qty_pos", "qty >= 0")
    Expectations.add(spark, t, "amt_sane", "amt < 100.0")
    // 2 clean, 1 failing qty, 1 failing BOTH rules
    Upsert.mergeByKey(spark, t, rows(
      ("d1", 2L, 7L, 2.0), ("d2", 3L, 1L, 3.0),
      ("d1", 4L, -9L, 4.0), ("d2", 5L, -1L, 555.0)), "day", Seq("k"))
    import spark.implicits._
    val kept = Upsert.readCommitted(spark, t, "day")
      .select("k").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L), s"survivors only: $kept")
    val q = Upsert.readCommitted(spark, Expectations.quarantineDir(t), "day")
    val quarantined = q.select("k", Expectations.FailedCol)
      .as[(Long, String)].collect().toMap
    assert(quarantined == Map(4L -> "qty_pos", 5L -> "amt_sane,qty_pos"),
      s"every failed rule named, sorted: $quarantined")
    val (v, counts) = Expectations.recent(spark, t).head
    assert(counts == Map("qty_pos" -> 2L, "amt_sane" -> 1L),
      s"exact per-rule counts at v$v: $counts")
    // a clean merge still records the screen — zeros are information
    Upsert.mergeByKey(spark, t, rows(("d1", 6L, 1L, 1.0)), "day", Seq("k"))
    assert(Expectations.recent(spark, t).head._2 ==
      Map("qty_pos" -> 0L, "amt_sane" -> 0L))
    // and the detail surface carries rules + the newest counts
    val d = Upsert.detail(spark, t)
    assert(d.expectations == Seq("amt_sane EXPECT (amt < 100.0)",
      "qty_pos EXPECT (qty >= 0)"), d.expectations)
    assert(d.lastExpectCounts.exists(_.startsWith("amt_sane=0")) &&
      d.lastExpectCounts.exists(_.startsWith("qty_pos=0")), d.lastExpectCounts)
  }

  test("SQL CHECK semantics: UNKNOWN satisfies; delete-marked rows are exempt") {
    val t = tmp("expnull")
    import spark.implicits._
    Upsert.mergeByKey(spark, t,
      Seq(("d1", 1L, Some(5L)), ("d1", 2L, Some(-3L)))
        .toDF("day", "k", "qty"), "day", Seq("k"))
    Expectations.add(spark, t, "qty_pos", "qty >= 0")
    // NULL qty -> UNKNOWN -> satisfies (express NOT NULL explicitly)
    Upsert.mergeByKey(spark, t,
      Seq(("d1", 3L, Option.empty[Long])).toDF("day", "k", "qty"),
      "day", Seq("k"))
    assert(Upsert.readCommitted(spark, t, "day")
      .filter(col("k") === 3L).count() == 1L)
    assert(Expectations.recent(spark, t).head._2("qty_pos") == 0L)
    // deleting the pre-existing rule-violating row: the delete leg is
    // exempt (it only leaves) — a screen that quarantined deletes would
    // wedge cleanup forever
    Upsert.deleteByKey(spark, t,
      Seq(("d1", 2L)).toDF("day", "k"), "day", Seq("k"))
    assert(Upsert.readCommitted(spark, t, "day")
      .filter(col("k") === 2L).count() == 0L)
    assert(Expectations.recent(spark, t).head._2("qty_pos") == 0L)
  }

  test("the change feed stays consistent: survivor legs on the parent, failures on the quarantine feed") {
    val t = tmp("expcdf")
    Upsert.mergeByKey(spark, t, rows(("d1", 1L, 1L, 1.0)), "day", Seq("k"))
    Expectations.add(spark, t, "qty_pos", "qty >= 0")
    val v0 = TxnLog.currentVersion(spark, t)
    Upsert.mergeByKey(spark, t, rows(
      ("d1", 2L, 3L, 1.0), ("d1", 9L, -4L, 1.0)), "day", Seq("k"))
    import spark.implicits._
    val parentLegs = ChangeFeed.readChanges(spark, t, "day", v0, None)
      .select("k").as[Long].collect().toSet
    assert(parentLegs == Set(2L), s"only the survivor rides the parent feed: $parentLegs")
    val qLegs = ChangeFeed.readChanges(
      spark, Expectations.quarantineDir(t), "day", 0L, None)
      .select("k").as[Long].collect().toSet
    assert(qLegs == Set(9L), s"the failure rides the quarantine feed: $qLegs")
  }

  test("a fixed row re-merges cleanly; a replayed failing batch re-quarantines idempotently") {
    val t = tmp("expreplay")
    Upsert.mergeByKey(spark, t, rows(("d1", 1L, 1L, 1.0)), "day", Seq("k"))
    Expectations.add(spark, t, "qty_pos", "qty >= 0")
    Upsert.mergeByKey(spark, t, rows(("d1", 7L, -2L, 1.0)), "day", Seq("k"))
    // replay the same failing batch (crash-retry shape): same key upserts
    Upsert.mergeByKey(spark, t, rows(("d1", 7L, -2L, 1.0)), "day", Seq("k"))
    val q = Upsert.readCommitted(spark, Expectations.quarantineDir(t), "day")
    assert(q.filter(col("k") === 7L).count() == 1L, "idempotent re-quarantine")
    // the producer fixes the row: it lands in the table; the quarantine
    // row stays as the audit trail of what was submitted
    Upsert.mergeByKey(spark, t, rows(("d1", 7L, 2L, 1.0)), "day", Seq("k"))
    assert(Upsert.readCommitted(spark, t, "day")
      .filter(col("k") === 7L).count() == 1L)
    assert(Upsert.readCommitted(spark, Expectations.quarantineDir(t), "day")
      .filter(col("k") === 7L).count() == 1L)
  }

  test("streaming micro-batches screen too: the exactly-once merge path " +
      "quarantines failures, survivors commit, replay absorbs") {
    val t = tmp("expstream")
    Upsert.mergeByKey(spark, t, rows(("d1", 1L, 5L, 1.0)), "day", Seq("k"))
    Expectations.add(spark, t, "qty_pos", "qty >= 0")
    val merge = graft.streaming.StreamingUpsert
      .mergeBatch(spark, t, "day", Seq("k"), "exp-stream") _
    merge(rows(("d1", 2L, 7L, 2.0), ("d1", 3L, -9L, 3.0)), 1L)
    import spark.implicits._
    assert(Upsert.readCommitted(spark, t, "day")
      .select("k").as[Long].collect().toSet == Set(1L, 2L),
      "the failing row must be quarantined, the survivor committed")
    assert(Upsert.readCommitted(spark, Expectations.quarantineDir(t), "day")
      .select("k").as[Long].collect().toSet == Set(3L))
    assert(Expectations.recent(spark, t).head._2 == Map("qty_pos" -> 1L))
    // a restart replays the same (appId, batchId): absorbed, not re-screened
    val before = TxnLog.currentVersion(spark, t)
    merge(rows(("d1", 2L, 7L, 2.0), ("d1", 3L, -9L, 3.0)), 1L)
    assert(TxnLog.currentVersion(spark, t) == before,
      "a replayed micro-batch must be absorbed by the txn marker")
  }

  test("concurrent drops of distinct expectations all take effect") {
    val t = tmp("exp-race")
    Upsert.mergeByKey(spark, t, rows(("d1", 1L, 5L, 1.0)), "day", Seq("k"))
    val names = (0 until 8).map(i => s"rule$i")
    names.foreach(n => Expectations.add(spark, t, n, "qty >= 0"))
    Expectations.add(spark, t, "kept", "amt < 100.0")
    // each drop reads the registry, then installs its edit: a racer's
    // drop landing in between must be re-read, never resurrected
    val pool = java.util.concurrent.Executors.newFixedThreadPool(names.size)
    val start = new java.util.concurrent.CountDownLatch(1)
    try {
      val fs = names.map(n => pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = { start.await(); Expectations.drop(spark, t, n) }
      }))
      start.countDown()
      fs.foreach(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    assert(Expectations.list(spark, t).keySet == Set("kept"))
  }

  test("refusals: bad name, unknown drop, rule that cannot analyze") {
    val t = tmp("exprefuse")
    Upsert.mergeByKey(spark, t, rows(("d1", 1L, 1L, 1.0)), "day", Seq("k"))
    intercept[IllegalArgumentException] {
      Expectations.add(spark, t, "bad\"name", "qty >= 0")
    }
    intercept[IllegalArgumentException] {
      Expectations.drop(spark, t, "nope")
    }
    // a rule that cannot analyze against the table is a typo — refused
    // at DDL time, never a silent non-screen
    val e = intercept[IllegalArgumentException] {
      Expectations.add(spark, t, "ghost", "no_such_column > 0")
    }
    assert(e.getMessage.contains("does not analyze"), e.getMessage)
    Upsert.mergeByKey(spark, t, rows(("d1", 2L, 1L, 1.0)), "day", Seq("k"))
    assert(Upsert.readCommitted(spark, t, "day").count() == 2L)
  }
}
