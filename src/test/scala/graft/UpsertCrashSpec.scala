package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.DataFrame

import graft.batch.{ChangeFeed, Upsert}
import graft.core.TxnLog

/** Crash recovery of the merge write protocol. A merge takes ONE claim over
  * every touched partition, stages every partition's tagged split in one
  * write, then per partition installs the change record and publishes
  * retain-first, and ends once. Each on-disk state a crash can leave
  * behind a two-partition merge is built here directly from a clean run's
  * before and after images, with no hook in main code:
  *
  *   1. the begin only;
  *   2. the staged write done;
  *   3. the first partition's change record installed;
  *   4. the first partition retained and installed, the second untouched;
  *   5. both partitions installed, no end.
  *
  * In each, every committed view (readCommitted, readAsOf the tip, the
  * change feed, history) shows exactly the pre-merge table. Once the claim
  * is past the staleness horizon, the next merge of both partitions must
  * repair them, land on exactly the pre-merge table plus its own delta,
  * and feed exactly that delta: no row of the crashed merge, none twice. */
class UpsertCrashSpec extends SparkSpec {

  private type Row = (String, String, Double)
  private type Change = (String, String, Double, String, Long)

  private val D1 = "2026-05-01"
  private val D2 = "2026-05-02"
  private val D3 = "2026-05-03"

  private def rows(df: DataFrame): Set[Row] = {
    import spark.implicits._
    df.select("day", "k", "v").as[Row].collect().toSet
  }

  private def feed(t: String, from: Long): Set[Change] = {
    import spark.implicits._
    ChangeFeed.readChanges(spark, t, "day", from)
      .select("day", "k", "v", ChangeFeed.ChangeTypeCol, ChangeFeed.CommitVersionCol)
      .as[Change].collect().toSet
  }

  private def hist(t: String): Seq[(Long, String, Seq[String])] = {
    import spark.implicits._
    Upsert.history(spark, t).select("version", "operation", "partitions")
      .as[(Long, String, Seq[String])].collect().toSeq
  }

  private def merge(t: String, changes: Seq[(String, String, Double, Boolean)]): Unit = {
    import spark.implicits._
    Upsert.mergeByKey(spark, t, changes.toDF("day", "k", "v", "del"), "day", Seq("k"),
      deleteWhen = Some("del"))
  }

  private def copyTree(src: Path, dst: Path): Unit = {
    val walk = Files.walk(src)
    try walk.forEach { p =>
      val q = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    } finally walk.close()
  }

  /** The merge every state crashes: D1 updates k1 and inserts k7, D2
    * deletes k3 and updates k4. D3 is not touched. */
  private val crashed = Seq(
    (D1, "k1", 11.0, false), (D1, "k7", 70.0, false),
    (D2, "k3", 0.0, true), (D2, "k4", 44.0, false))

  /** The recovering merge: D1 updates k2, D2 inserts k8. */
  private val recovering = Seq((D1, "k2", 22.0, false), (D2, "k8", 80.0, false))

  private final class Fixture(
      val base: Path, val clean: Path, val begin: Long,
      val before: Set[Row], val beforeFeed: Set[Change],
      val beforeHist: Seq[(Long, String, Seq[String])])

  private lazy val fx: Fixture = {
    val root = Files.createTempDirectory("upsert-crash")
    val base = root.resolve("base")
    merge(base.toString, Seq(
      (D1, "k1", 10.0, false), (D1, "k2", 20.0, false),
      (D2, "k3", 30.0, false), (D2, "k4", 40.0, false),
      (D3, "k5", 50.0, false)))
    merge(base.toString, Seq((D3, "k6", 60.0, false)))
    val clean = root.resolve("clean")
    copyTree(base, clean)
    merge(clean.toString, crashed)
    val ops = TxnLog.commitsSince(spark, clean.toString, 0L)
    val begin = ops.filter(_.op == "upsert-begin").last
    val end = ops.filter(_.op == "upsert-end").last
    // the clean run is the protocol the states cut short: one claim and
    // one end, each naming both partitions
    assert(begin.partitions == Set(D1, D2) && end.partitions == Set(D1, D2) &&
      end.ref.contains(begin.version), s"clean run: $ops")
    assert(rows(Upsert.readCommitted(spark, clean.toString, "day")) ==
      Set((D1, "k1", 11.0), (D1, "k2", 20.0), (D1, "k7", 70.0),
        (D2, "k4", 44.0), (D3, "k5", 50.0), (D3, "k6", 60.0)))
    new Fixture(base, clean, begin.version,
      rows(Upsert.readCommitted(spark, base.toString, "day")),
      feed(base.toString, 0L), hist(base.toString))
  }

  /** A copy of the pre-merge table left as a crash after `step` leaves it. */
  private def crashedAfter(step: Int): String = {
    val t = Files.createTempDirectory(s"upsert-crash-$step").resolve("t")
    copyTree(fx.base, t)
    val claim = TxnLog.begin(spark, t.toString, "upsert", Set(D1, D2),
      TxnLog.currentVersion(spark, t.toString))
    assert(claim.version == fx.begin, "the copy claims the clean run's version")
    val changes = Paths.get(s"$t/_graft_changes/v${fx.begin}")
    val history = Paths.get(s"$t/_graft_history/v${fx.begin}")
    def install(d: String): Unit = {
      Files.createDirectories(history)
      Files.move(t.resolve(s"day=$d"), history.resolve(s"day=$d"))
      copyTree(fx.clean.resolve(s"day=$d"), t.resolve(s"day=$d"))
    }
    def record(d: String): Unit = copyTree(
      fx.clean.resolve(s"_graft_changes/v${fx.begin}/c_$d"), changes.resolve(s"c_$d"))
    if (step >= 2) Seq(D1, D2).foreach { d =>
      copyTree(fx.clean.resolve(s"day=$d"),
        changes.resolve(s".stage/0/_graft_part=$d/_graft_dest=data"))
    }
    if (step >= 3) record(D1)
    if (step >= 4) install(D1)
    if (step >= 5) { record(D2); install(D2) }
    t.toString
  }

  private val steps = Seq(
    1 -> "the begin only",
    2 -> "the staged write done",
    3 -> "the first change record installed",
    4 -> "the first partition installed, the second untouched",
    5 -> "both partitions installed, no end")

  steps.foreach { case (step, name) =>
    test(s"crash after $name: reads show the pre-image, the next merge repairs both") {
      val t = crashedAfter(step)
      val tip = TxnLog.currentVersion(spark, t)
      assert(rows(Upsert.readCommitted(spark, t, "day")) == fx.before, "readCommitted")
      assert(rows(Upsert.readAsOf(spark, t, tip, "day")) == fx.before, "readAsOf(tip)")
      assert(feed(t, 0L) == fx.beforeFeed, "readChanges")
      assert(hist(t) == (fx.begin, "upsert-begin", Seq(D1, D2)) +: fx.beforeHist,
        "history: the pre-merge commits and one unclosed begin")

      // the next writer takes over once the claim is past the staleness
      // horizon, repairs both partitions, then merges on the pre-image
      val prev = TxnLog.clock
      TxnLog.clock = () => System.currentTimeMillis() + 31L * 60 * 1000
      try merge(t, recovering) finally TxnLog.clock = prev
      val expected = fx.before - ((D1, "k2", 20.0)) +
        ((D1, "k2", 22.0)) + ((D2, "k8", 80.0))
      assert(rows(Upsert.readCommitted(spark, t, "day")) == expected, "committed after repair")
      assert(rows(spark.read.parquet(t)) == expected, "live dirs after repair")
      val end = TxnLog.commitsSince(spark, t, fx.begin)
        .filter(_.op == "upsert-end").map(c => c.version -> c.partitions)
      assert(end.size == 1 && end.head._2 == Set(D1, D2), s"one end: $end")
      val delta = Set[Change](
        (D1, "k2", 20.0, "delete", end.head._1), (D1, "k2", 22.0, "insert", end.head._1),
        (D2, "k8", 80.0, "insert", end.head._1))
      assert(feed(t, fx.begin) == delta, "the feed carries exactly the new merge")
      assert(feed(t, 0L) == fx.beforeFeed ++ delta, "no row repeated or dropped")
      assert(!Files.exists(Paths.get(s"$t/_graft_history/v${fx.begin}")),
        "the crashed claim's retained pre-images were consumed by the repair")
    }
  }
}
