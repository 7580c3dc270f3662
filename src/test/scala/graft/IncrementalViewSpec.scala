package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.batch.{IncrementalView, Upsert}
import graft.core.TxnLog

/** Incremental materialized views: O(changes) sync off the change feed,
  * exact equality with the from-scratch aggregate at every sync point
  * (decimal-stable sums), group vanish on count-zero, zero-delta skips,
  * and the refusal matrix. */
class IncrementalViewSpec extends SparkSpec {

  private def tmp(p: String): String = Files.createTempDirectory(p).toString + "/t"

  private def rows(kvs: (String, String, Long, Long, Double)*): DataFrame = {
    import spark.implicits._
    kvs.map { case (d, c, k, q, a) => (d, c, k, q, a) }
      .toDF("day", "cat", "k", "qty", "amt")
  }

  /** The view must equal its definition on the committed snapshot —
    * including the non-null support counts and NULL-vs-0 sum identity. */
  private def assertFresh(view: String, src: String): Unit = {
    val cols = Seq("day", "cat", "n_rows", "sum_qty", "sum_amt",
      "nn_qty", "nn_amt")
    val got = Upsert.readCommitted(spark, view, "day")
      .select(cols.map(col): _*)
    val want = IncrementalView.aggregateOf(
      Upsert.readCommitted(spark, src, "day"), Seq("day", "cat"), Seq("qty", "amt"))
      .select(cols.map(col): _*)
    assert(got.except(want).isEmpty && want.except(got).isEmpty,
      s"view != definition:\nview: ${got.orderBy("day", "cat").collect().toSeq}\n" +
        s"def:  ${want.orderBy("day", "cat").collect().toSeq}")
  }

  test("bootstrap, inserts, updates, deletes: view == definition at every sync; vanished groups go") {
    val src = tmp("ivsrc")
    val view = tmp("ivview")
    Upsert.mergeByKey(spark, src, rows(
      ("d1", "a", 1L, 2L, 1.50), ("d1", "a", 2L, 3L, 2.25),
      ("d1", "b", 3L, 5L, 0.75), ("d2", "a", 4L, 7L, 4.00)), "day", Seq("k"))
    IncrementalView.register(spark, view, src, "day",
      Seq("day", "cat"), Seq("qty", "amt"), "day")
    val s1 = IncrementalView.sync(spark, view)
    assert(s1.groupsTouched == 3L, s"$s1")
    assertFresh(view, src)
    // inserts into an existing and a brand-new group, an update that
    // CHANGES an aggregated column, and a full-group delete
    Upsert.mergeByKey(spark, src, rows(
      ("d1", "a", 5L, 10L, 1.00), ("d2", "c", 6L, 1L, 9.99),
      ("d1", "a", 2L, 4L, 2.25)), "day", Seq("k"))
    Upsert.deleteByKey(spark, src,
      rows(("d1", "b", 3L, 0L, 0.0)).select("day", "k"), "day", Seq("k"))
    val s2 = IncrementalView.sync(spark, view)
    assert(s2.groupsTouched == 3L, s"d1/a updated, d2/c born, d1/b gone: $s2")
    assertFresh(view, src)
    import spark.implicits._
    val groups = Upsert.readCommitted(spark, view, "day")
      .select("day", "cat").as[(String, String)].collect().toSet
    assert(groups == Set(("d1", "a"), ("d2", "a"), ("d2", "c")),
      s"the emptied group must VANISH from the view: $groups")
    // the view carries exact sums: spot-check the updated group
    val d1a = Upsert.readCommitted(spark, view, "day")
      .filter(col("day") === "d1" && col("cat") === "a")
      .select(col("n_rows"), col("sum_qty"),
        col("sum_amt").cast("string")).collect().head
    assert(d1a.getLong(0) == 3L && d1a.getLong(1) == 2L + 4L + 10L, s"$d1a")
    assert(BigDecimal(d1a.getString(2)) == BigDecimal("4.750000"), s"$d1a")
  }

  test("idempotent at tip; an update touching no aggregated column moves nothing") {
    val src = tmp("ivsrc2")
    val view = tmp("ivview2")
    Upsert.mergeByKey(spark, src, rows(
      ("d1", "a", 1L, 2L, 1.0), ("d1", "a", 2L, 3L, 2.0)), "day", Seq("k"))
    IncrementalView.register(spark, view, src, "day",
      Seq("day", "cat"), Seq("qty", "amt"), "day")
    IncrementalView.sync(spark, view)
    val vTip = TxnLog.currentVersion(spark, view)
    // at tip: no-op, no commit
    val s = IncrementalView.sync(spark, view)
    assert(s.groupsTouched == 0L && s.fromVersion == s.toVersion)
    assert(TxnLog.currentVersion(spark, view) == vTip)
    // update ONLY the un-aggregated key payload: the change feed nets a
    // zero delta for the group, so the view is not even merged
    Upsert.mergeByKey(spark, src,
      rows(("d1", "a", 1L, 2L, 1.0)), "day", Seq("k"))
    val s2 = IncrementalView.sync(spark, view)
    assert(s2.groupsTouched == 0L,
      s"zero-net group deltas must not rewrite the view: $s2")
    assert(TxnLog.currentVersion(spark, view) == vTip)
    assertFresh(view, src)
  }

  test("bootstrap is the SNAPSHOT, not a feed replay: adopted tables start exact") {
    // a CONVERT-adopted table's pre-adoption rows never rode the change
    // feed — a feed-from-zero bootstrap would silently miss them all and
    // the first source delete would drive a group negative. The snapshot
    // bootstrap starts exact and the feed takes over from the cursor.
    val src = tmp("ivadopt")
    val view = tmp("ivadoptview")
    import spark.implicits._
    rows(("d1", "a", 1L, 2L, 1.0), ("d1", "a", 2L, 3L, 2.0),
      ("d2", "b", 3L, 5L, 4.0))
      .write.partitionBy("day").parquet(src)
    IncrementalView.register(spark, view, src, "day",
      Seq("day", "cat"), Seq("qty", "amt"), "day")
    // a plain directory with no manifest has no feed to sync from later
    val e0 = intercept[IllegalArgumentException] {
      IncrementalView.sync(spark, view)
    }
    assert(e0.getMessage.contains("CONVERT"), e0.getMessage)
    Upsert.convert(spark, src, "day")
    val s1 = IncrementalView.sync(spark, view)
    assert(s1.groupsTouched == 2L, s"adopted rows must all be counted: $s1")
    assertFresh(view, src)
    // post-adoption churn rides the feed incrementally — including a
    // delete of a pre-adoption row, the case a feed bootstrap breaks on
    Upsert.deleteByKey(spark, src,
      rows(("d1", "a", 1L, 0L, 0.0)).select("day", "k"), "day", Seq("k"))
    val s2 = IncrementalView.sync(spark, view)
    assert(s2.groupsTouched == 1L, s"$s2")
    assertFresh(view, src)
  }

  test("the view is a managed table: its OWN change feed drives a downstream mirror") {
    // the CDC chain composes: source feed -> view sync -> the view's feed
    // -> any consumer (a dashboard mirror here). Each hop is O(changes).
    val src = tmp("ivchain")
    val view = tmp("ivchainview")
    val mirror = java.nio.file.Files.createTempDirectory("ivchainmir").toString + "/m"
    val ckpt = java.nio.file.Files.createTempDirectory("ivchainckpt").toString
    Upsert.mergeByKey(spark, src, rows(
      ("d1", "a", 1L, 2L, 1.0), ("d1", "b", 2L, 3L, 2.0)), "day", Seq("k"))
    IncrementalView.register(spark, view, src, "day",
      Seq("day", "cat"), Seq("qty"), "day")
    IncrementalView.sync(spark, view)
    import graft.streaming.ChangeFeedStream
    def mirrored(): Set[(String, String, Long, Long)] = {
      import spark.implicits._
      Upsert.readCommitted(spark, mirror, "day")
        .select("day", "cat", "n_rows", "sum_qty")
        .as[(String, String, Long, Long)].collect().toSet
    }
    def viewRows(): Set[(String, String, Long, Long)] = {
      import spark.implicits._
      Upsert.readCommitted(spark, view, "day")
        .select("day", "cat", "n_rows", "sum_qty")
        .as[(String, String, Long, Long)].collect().toSet
    }
    ChangeFeedStream.mirrorTo(spark, view, "day", Seq("cat"), mirror, ckpt)
    assert(mirrored() == viewRows(), "mirror after the view's bootstrap")
    // churn the SOURCE; the delta flows hop by hop
    Upsert.mergeByKey(spark, src, rows(
      ("d1", "a", 3L, 10L, 0.5), ("d2", "c", 4L, 7L, 1.0)), "day", Seq("k"))
    IncrementalView.sync(spark, view)
    ChangeFeedStream.mirrorTo(spark, view, "day", Seq("cat"), mirror, ckpt)
    assert(mirrored() == viewRows(), "mirror after source churn flowed through")
    assert(mirrored().exists { case (d, c, n, q) => d == "d1" && c == "a" && n == 2L && q == 12L },
      s"the churned group must have flowed through both hops: ${mirrored()}")
  }

  test("a crash between the merge and the cursor write replays WITHOUT double-applying") {
    // relative (cur + delta) updates recomputed against the live view
    // would double-count the applied partitions; the recovery re-derives
    // against the recorded pre-merge basis snapshot, so the replay's
    // absolute rows are identical and the re-merge converges.
    val src = tmp("ivcrash")
    val view = tmp("ivcrashview")
    Upsert.mergeByKey(spark, src, rows(
      ("d1", "a", 1L, 2L, 1.0), ("d1", "b", 2L, 3L, 2.0),
      ("d2", "a", 3L, 5L, 3.0)), "day", Seq("k"))
    IncrementalView.register(spark, view, src, "day",
      Seq("day", "cat"), Seq("qty", "amt"), "day")
    IncrementalView.sync(spark, view)
    val srcV1 = TxnLog.currentVersion(spark, src)
    val viewBasis = TxnLog.currentVersion(spark, view)
    // the batch a sync would apply: an update + an insert + a delete
    Upsert.mergeByKey(spark, src, rows(
      ("d1", "a", 1L, 10L, 1.0), ("d2", "c", 4L, 1L, 4.0)), "day", Seq("k"))
    Upsert.deleteByKey(spark, src,
      rows(("d1", "b", 2L, 0L, 0.0)).select("day", "k"), "day", Seq("k"))
    val srcV2 = TxnLog.currentVersion(spark, src)
    IncrementalView.sync(spark, view) // the "crashed" sync: merge applied…
    assertFresh(view, src)
    // …but its clean cursor never landed: restore the in-flight record
    graft.batch.IncrementalViewTestHook.simulateCrashAfterMerge(
      spark, view, src, srcV1, srcV2, viewBasis)
    // more source churn BEFORE anyone notices the crash
    Upsert.mergeByKey(spark, src,
      rows(("d2", "a", 5L, 2L, 0.5)), "day", Seq("k"))
    // one sync: completes the in-flight batch against its basis (exact
    // replay, no double-apply), then processes the newer commits
    val s = IncrementalView.sync(spark, view)
    assert(s.groupsTouched > 0, s"$s")
    assertFresh(view, src)
    // and the cursor is clean: the next sync is a no-op
    assert(IncrementalView.sync(spark, view).groupsTouched == 0L)
    assertFresh(view, src)
  }

  test("NULL sum values: incremental == rebuild exactly, including sum = NULL groups") {
    // the signed fold must reproduce the rebuild's NULL-vs-0 distinction:
    // a group whose every c is NULL rebuilds to sum_c = NULL; only the
    // materialized non-null count can tell that apart from sum_c = 0.
    val src = tmp("ivnull")
    val view = tmp("ivnullview")
    def nrows(kvs: (String, String, Long, Option[Long], Double)*): DataFrame = {
      import spark.implicits._
      kvs.toDF("day", "cat", "k", "qty", "amt")
    }
    Upsert.mergeByKey(spark, src, nrows(
      ("d1", "a", 1L, Some(2L), 1.0), ("d1", "a", 2L, None, 2.0),
      ("d1", "b", 3L, None, 3.0)), "day", Seq("k"))
    IncrementalView.register(spark, view, src, "day",
      Seq("day", "cat"), Seq("qty", "amt"), "day")
    IncrementalView.sync(spark, view)
    assertFresh(view, src)
    import spark.implicits._
    def qtyOf(cat: String): Option[Long] = {
      val r = Upsert.readCommitted(spark, view, "day")
        .filter(col("cat") === cat).select("sum_qty").collect().head
      if (r.isNullAt(0)) None else Some(r.getLong(0))
    }
    assert(qtyOf("b").isEmpty, "bootstrap all-NULL group must carry sum_qty = NULL")
    // a brand-new all-NULL group arrives through the FEED (the r16 gap:
    // the incremental path materialized 0 here)
    Upsert.mergeByKey(spark, src,
      nrows(("d1", "c", 4L, None, 4.0), ("d1", "c", 5L, None, 5.0)),
      "day", Seq("k"))
    IncrementalView.sync(spark, view)
    assertFresh(view, src)
    assert(qtyOf("c").isEmpty, "feed-born all-NULL group must carry sum_qty = NULL")
    // the group's LAST non-null value is updated to NULL: sum 2 -> NULL
    Upsert.mergeByKey(spark, src,
      nrows(("d1", "a", 1L, None, 1.0)), "day", Seq("k"))
    IncrementalView.sync(spark, view)
    assertFresh(view, src)
    assert(qtyOf("a").isEmpty, "losing the last non-null value must flip the sum to NULL")
    // and back: a non-null value returns, the sum returns
    Upsert.mergeByKey(spark, src,
      nrows(("d1", "c", 4L, Some(7L), 4.0)), "day", Seq("k"))
    IncrementalView.sync(spark, view)
    assertFresh(view, src)
    assert(qtyOf("c").contains(7L), "a returning non-null value must revive the sum")
  }

  test("a crashed BOOTSTRAP retries at its pinned tip: no orphan groups after a full-group delete") {
    // without the pin, a retry re-aggregates at the NEW tip: a group
    // fully deleted between crash and retry is absent from the absolute
    // batch, the keyed merge never deletes it, and the partially-applied
    // orphan stays in the view forever.
    val src = tmp("ivbcrash")
    val view = tmp("ivbcrashview")
    Upsert.mergeByKey(spark, src, rows(
      ("d1", "a", 1L, 2L, 1.0), ("d2", "b", 2L, 3L, 2.0)), "day", Seq("k"))
    IncrementalView.register(spark, view, src, "day",
      Seq("day", "cat"), Seq("qty", "amt"), "day")
    val pin = TxnLog.currentVersion(spark, src)
    // "crashed" bootstrap: the merge fully applied, the clean cursor
    // never landed — the pin record is what the retry finds
    IncrementalView.sync(spark, view)
    graft.batch.IncrementalViewTestHook.simulateCrashDuringBootstrap(
      spark, view, src, pin)
    // the d2/b group is FULLY deleted from the source before the retry
    Upsert.deleteByKey(spark, src,
      rows(("d2", "b", 2L, 0L, 0.0)).select("day", "k"), "day", Seq("k"))
    val s = IncrementalView.sync(spark, view)
    assert(s.groupsTouched > 0, s"$s")
    assertFresh(view, src)
    import spark.implicits._
    val groups = Upsert.readCommitted(spark, view, "day")
      .select("day", "cat").as[(String, String)].collect().toSet
    assert(groups == Set(("d1", "a")),
      s"the deleted group must NOT survive as a bootstrap orphan: $groups")
    // clean cursor: next sync is a no-op
    assert(IncrementalView.sync(spark, view).groupsTouched == 0L)
  }

  test("MIN/MAX views: signed fast path for inserts, extremum-loss recompute only for deletes that hit it") {
    val src = tmp("ivmm")
    val view = tmp("ivmmview")
    def check(): Unit = {
      val cols = Seq("day", "cat", "n_rows", "min_qty", "max_qty", "min_amt")
      val got = Upsert.readCommitted(spark, view, "day").select(cols.map(col): _*)
      val want = IncrementalView.aggregateOf(
        Upsert.readCommitted(spark, src, "day"), Seq("day", "cat"),
        Seq.empty, Seq("qty", "amt"), Seq("qty"))
        .select(cols.map(col): _*)
      assert(got.except(want).isEmpty && want.except(got).isEmpty,
        s"view != rebuild:\nview: ${got.orderBy("day", "cat").collect().toSeq}\n" +
          s"def:  ${want.orderBy("day", "cat").collect().toSeq}")
    }
    Upsert.mergeByKey(spark, src, rows(
      ("d1", "a", 1L, 5L, 1.5), ("d1", "a", 2L, 9L, 0.5),
      ("d2", "b", 3L, 7L, 2.0)), "day", Seq("k"))
    IncrementalView.register(spark, view, src, "day",
      Seq("day", "cat"), Seq.empty, "day",
      minCols = Seq("qty", "amt"), maxCols = Seq("qty"))
    IncrementalView.sync(spark, view)
    check()
    // INSERTS only improve extrema: pure merge arithmetic, ZERO recompute
    Upsert.mergeByKey(spark, src, rows(
      ("d1", "a", 4L, 3L, 9.9), ("d2", "b", 5L, 11L, 0.1)), "day", Seq("k"))
    val sIns = IncrementalView.sync(spark, view)
    assert(sIns.recomputedGroups == 0L && sIns.recomputeParts.isEmpty,
      s"insert-only churn must stay on the signed fast path: $sIns")
    check()
    // deleting a NON-extremum row: still no recompute
    Upsert.deleteByKey(spark, src,
      rows(("d1", "a", 1L, 0L, 0.0)).select("day", "k"), "day", Seq("k"))
    val sMid = IncrementalView.sync(spark, view)
    assert(sMid.recomputedGroups == 0L,
      s"losing a middle value must not trigger a recompute: $sMid")
    check()
    // deleting the CURRENT max of d1/a (qty 9): exactly that group
    // recomputes, and the scan is pruned to exactly its partition —
    // d2 sees churn too (an insert) but must NOT be in the recompute
    Upsert.mergeByKey(spark, src, rows(("d2", "b", 6L, 8L, 5.0)), "day", Seq("k"))
    Upsert.deleteByKey(spark, src,
      rows(("d1", "a", 2L, 0L, 0.0)).select("day", "k"), "day", Seq("k"))
    val sLoss = IncrementalView.sync(spark, view)
    assert(sLoss.recomputedGroups == 1L,
      s"exactly the extremum-loss group recomputes: $sLoss")
    assert(sLoss.recomputeParts == Seq("d1"),
      s"the recompute scan must be pruned to the loss group's partition: $sLoss")
    check()
    // an UPDATE that moves the minimum amt away (delete+insert legs)
    Upsert.mergeByKey(spark, src, rows(("d2", "b", 5L, 11L, 6.0)), "day", Seq("k"))
    val sUpd = IncrementalView.sync(spark, view)
    assert(sUpd.recomputedGroups == 1L && sUpd.recomputeParts == Seq("d2"), s"$sUpd")
    check()
    // full-group delete: the group vanishes, no recompute for it
    Upsert.deleteByKey(spark, src,
      rows(("d1", "a", 3L, 0L, 0.0), ("d1", "a", 4L, 0L, 0.0))
        .select("day", "k"), "day", Seq("k"))
    IncrementalView.sync(spark, view)
    check()
    import spark.implicits._
    val groups = Upsert.readCommitted(spark, view, "day")
      .select("day", "cat").as[(String, String)].collect().toSet
    assert(groups == Set(("d2", "b")), s"$groups")
  }

  test("refusal matrix: unregistered, second source, bad registration, corrupted view") {
    val src = tmp("ivsrc3")
    val src2 = tmp("ivsrc3b")
    val view = tmp("ivview3")
    Upsert.mergeByKey(spark, src,
      rows(("d1", "a", 1L, 2L, 1.0), ("d1", "a", 2L, 5L, 2.0),
        ("d1", "a", 3L, 1L, 3.0)), "day", Seq("k"))
    Upsert.mergeByKey(spark, src2, rows(("d1", "a", 1L, 2L, 1.0)), "day", Seq("k"))
    val e1 = intercept[IllegalArgumentException] {
      IncrementalView.sync(spark, view)
    }
    assert(e1.getMessage.contains("no materialized-view registration"), e1.getMessage)
    // registration invariants
    val e2 = intercept[IllegalArgumentException] {
      IncrementalView.register(spark, view, src, "day",
        Seq("cat"), Seq("qty"), "day")
    }
    assert(e2.getMessage.contains("must be one of the group"), e2.getMessage)
    IncrementalView.register(spark, view, src, "day",
      Seq("day", "cat"), Seq("qty"), "day")
    val e3 = intercept[IllegalArgumentException] {
      IncrementalView.register(spark, view, src, "day",
        Seq("day", "cat"), Seq("qty"), "day")
    }
    assert(e3.getMessage.contains("already has a view registration"), e3.getMessage)
    IncrementalView.sync(spark, view)
    // one view follows one source: cross-wiring the cursor is loud
    val viewMeta = new java.io.File(s"$view/_graft_meta")
    assert(viewMeta.exists)
    val e4 = intercept[IllegalArgumentException] {
      // re-register pointing elsewhere is refused above; a cursor left by
      // an older deployment is the way the mismatch reaches sync
      graft.batch.IncrementalViewTestHook.syncAgainstWrongSource(spark, view, src2)
    }
    assert(e4.getMessage.contains("one view follows one source"), e4.getMessage)
    // corrupted view: shrink a group out-of-band, then delete enough
    // source rows to drive its count negative — the sync must refuse
    import spark.implicits._
    Upsert.mergeByKey(spark, view,
      Seq(("d1", "a", 1L, 2L, 1L)).toDF("day", "cat", "n_rows", "sum_qty", "nn_qty"),
      "day", Seq("cat"))
    Upsert.deleteByKey(spark, src,
      rows(("d1", "a", 1L, 0L, 0.0), ("d1", "a", 2L, 0L, 0.0))
        .select("day", "k"), "day", Seq("k"))
    val e5 = intercept[IllegalArgumentException] {
      IncrementalView.sync(spark, view)
    }
    assert(e5.getMessage.contains("NEGATIVE"), e5.getMessage)
  }

  test("racing creates of one view: exactly one registers, every other refuses") {
    val view = tmp("ivrace")
    // eight distinct definitions, so a silently-winning later create would
    // show as a registration that is not the one create that succeeded
    val srcs = (0 until 8).map(i => s"/src-$i")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(srcs.size)
    val start = new java.util.concurrent.CountDownLatch(1)
    val outcomes =
      try {
        val fs = srcs.map(src => pool.submit(new java.util.concurrent.Callable[Option[String]] {
          def call(): Option[String] = {
            start.await()
            try {
              IncrementalView.register(spark, view, src, "day",
                Seq("day", "cat"), Seq("qty"), "day")
              None
            } catch { case e: IllegalArgumentException => Some(e.getMessage) }
          }
        }))
        start.countDown()
        fs.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
      } finally pool.shutdownNow()
    val winners = srcs.zip(outcomes).collect { case (src, None) => src }
    assert(winners.size == 1, s"exactly one create may succeed: $outcomes")
    assert(outcomes.flatten.forall(_.contains("already has a view registration")), outcomes)
    assert(IncrementalView.spec(spark, view).map(_.src) == winners.headOption)
  }
}
