package graft

import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.batch.{DeletionVectors, LiquidClustering, Upsert}
import graft.core.TxnLog

/** Liquid clustering: candidates come from the txn log (unchurned
  * partitions pay nothing), unchanged bytes are fingerprint-skipped,
  * already-in-order churn is recognized from footer stats with zero
  * rewrite, and only genuinely drifted partitions move bytes — with the
  * usual claims, DV materialization, and time-travel exactness. */
class LiquidClusteringSpec extends SparkSpec {

  private def tmp(): String = Files.createTempDirectory("liquid").toString + "/t"

  /** `n` rows with keys in SCRAMBLED order (deterministic), so a merge's
    * multi-file output interleaves key ranges — drifted layout. */
  private def scrambled(day: String, lo: Int, n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map(i => (day, ((i * 37) % n + lo).toLong, s"v$i"))
      .toDF("day", "k", "v")
  }

  private def filesOf(t: String, dir: String): Seq[(String, Long)] = {
    val d = new java.io.File(t, dir)
    d.listFiles().filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.length)).sortBy(_._1).toSeq
  }

  private def rowsOf(t: String): Map[Long, String] = {
    import spark.implicits._
    Upsert.readCommitted(spark, t, "day")
      .select("k", "v").as[(Long, String)].collect().toMap
  }

  test("first pass clusters all; quiet table -> zero candidates; churn -> only that partition") {
    val t = tmp()
    Upsert.mergeByKey(spark, t,
      scrambled("d1", 0, 200).unionByName(scrambled("d2", 1000, 200))
        .unionByName(scrambled("d3", 2000, 200)), "day", Seq("k"))
    val before = rowsOf(t)
    LiquidClustering.setClusterBy(spark, t, Seq("k"))
    assert(LiquidClustering.clusterSpec(spark, t).contains(Seq("k")))

    val r1 = LiquidClustering.optimize(spark, t, "day")
    assert(r1.mode == "full", s"first pass has no version floor: $r1")
    assert(r1.candidates == 3 && r1.rewritten.nonEmpty, s"$r1")
    assert(rowsOf(t) == before, "clustering must be row-identical")

    // quiet table: the log vouches for every partition — none even listed
    val r2 = LiquidClustering.optimize(spark, t, "day")
    assert(r2.mode == "incremental" && r2.candidates == 0,
      s"no churn must mean no candidates: $r2")

    // churn exactly one partition: it is the only candidate
    val d2Before = filesOf(t, "day=d2")
    Upsert.mergeByKey(spark, t, scrambled("d1", 0, 200), "day", Seq("k"))
    val r3 = LiquidClustering.optimize(spark, t, "day")
    assert(r3.mode == "incremental" && r3.candidates == 1,
      s"only the churned partition is examined: $r3")
    assert(filesOf(t, "day=d2") == d2Before,
      "unchurned partitions keep byte-identical files")
    assert(rowsOf(t) == before, "re-merge of identical rows + layout = same table")
  }

  test("in-order churn is recognized tight from footers: recorded, zero bytes rewritten") {
    val t = tmp()
    Upsert.mergeByKey(spark, t, scrambled("d1", 0, 300), "day", Seq("k"))
    LiquidClustering.setClusterBy(spark, t, Seq("k"))
    LiquidClustering.optimize(spark, t, "day")
    // compaction that already folded the layout (the optimized-write path)
    // churns the partition — but leaves it range-clustered
    (1 to 3).foreach(_ => Upsert.mergeByKey(spark, t, scrambled("d1", 0, 300), "day", Seq("k")))
    assert(Upsert.compactPartitions(spark, t, "day", minFilesToCompact = 2,
      layoutCols = Seq("k")) >= 0)
    val filesBefore = filesOf(t, "day=d1")
    val r = LiquidClustering.optimize(spark, t, "day")
    assert(r.recognizedTight == Seq("day=d1") && r.rewritten.isEmpty,
      s"layout-folding compaction must be recognized, not redone: $r")
    assert(filesOf(t, "day=d1") == filesBefore, "tight recognition moves no bytes")
    // and the recognition STICKS: next pass sees no candidates
    assert(LiquidClustering.optimize(spark, t, "day").candidates == 0)
  }

  test("a DV-carrying partition is never 'tight': the pass materializes the deletes") {
    val t = tmp()
    import spark.implicits._
    Upsert.mergeByKey(spark, t, scrambled("d1", 0, 100), "day", Seq("k"))
    LiquidClustering.setClusterBy(spark, t, Seq("k"))
    LiquidClustering.optimize(spark, t, "day")
    DeletionVectors.deleteVectored(spark, t,
      Seq(("d1", 5L), ("d1", 6L)).toDF("day", "k"), "day", Seq("k"))
    val vPre = TxnLog.currentVersion(spark, t)
    val r = LiquidClustering.optimize(spark, t, "day")
    assert(r.rewritten == Seq("day=d1"), s"DV'd partition must rewrite: $r")
    assert(!rowsOf(t).contains(5L) && rowsOf(t).size == 98)
    // version-defining rewrite: the pre-purge snapshot still has the rows
    // logically deleted (DVs applied) but resolves through the retained
    // generation, and the pre-DV snapshot still shows them
    assert(Upsert.readAsOf(spark, t, vPre, "day").count() == 98)
  }

  test("spec change and truncated history degrade honestly to a full pass") {
    val t = tmp()
    Upsert.mergeByKey(spark, t,
      scrambled("d1", 0, 120).unionByName(scrambled("d2", 500, 120)), "day", Seq("k"))
    LiquidClustering.setClusterBy(spark, t, Seq("k"))
    LiquidClustering.optimize(spark, t, "day")
    // spec change wipes recorded state: full re-evaluation on new keys
    LiquidClustering.setClusterBy(spark, t, Seq("v"))
    val r1 = LiquidClustering.optimize(spark, t, "day")
    assert(r1.mode == "full" && r1.candidates == 2, s"$r1")
    // pile up commits, truncate the manifest below the recorded version:
    // the log can no longer vouch — full listing, but fingerprints still
    // skip the partitions whose bytes did not change
    (1 to 12).foreach(i =>
      Upsert.mergeByKey(spark, t, scrambled("d1", 0, 120), "day", Seq("k")))
    TxnLog.truncate(spark, t, keep = 3)
    val r2 = LiquidClustering.optimize(spark, t, "day")
    assert(r2.mode == "full", s"truncated history must not be vouched for: $r2")
    assert(r2.skippedUnchanged >= 1, s"unchanged d2 skips by fingerprint: $r2")
  }

  test("a CLUSTER BY set while a pass runs stands: the pass drops its records, keeps the new spec") {
    val t = tmp()
    def churn(): Unit = Upsert.mergeByKey(spark, t,
      Seq("d1", "d2", "d3", "d4").zipWithIndex
        .map { case (d, i) => scrambled(d, i * 1000, 150) }.reduce(_ unionByName _),
      "day", Seq("k"))
    churn()
    LiquidClustering.setClusterBy(spark, t, Seq("k"))
    implicit val ec: ExecutionContext = ExecutionContext.global
    Seq(Seq("v"), Seq("k", "v"), Seq("k")).foreach { next =>
      churn()
      // the spec changes once the pass is under way: at its first Spark job
      val jobStarted = new CountDownLatch(1)
      val probe = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobStarted.countDown()
      }
      spark.sparkContext.addSparkListener(probe)
      val pass =
        try {
          val running = Future(LiquidClustering.optimize(spark, t, "day"))
          assert(jobStarted.await(60, TimeUnit.SECONDS), "the pass ran no job")
          LiquidClustering.setClusterBy(spark, t, next)
          Await.result(running, 120.seconds)
        } finally spark.sparkContext.removeSparkListener(probe)
      assert(pass.rewritten.nonEmpty, s"the racing pass rewrote nothing: $pass")
      assert(LiquidClustering.clusterSpec(spark, t).contains(next),
        s"the spec set mid-pass was lost: ${LiquidClustering.clusterSpec(spark, t)}")
      // no version floor or fingerprint survived from the racing pass
      val after = LiquidClustering.optimize(spark, t, "day")
      assert(after.mode == "full" && after.skippedUnchanged == 0, s"$after")
    }
  }

  test("a busy partition is skipped, not fatal — and is re-examined next pass") {
    val t = tmp()
    Upsert.mergeByKey(spark, t,
      scrambled("d1", 0, 150).unionByName(scrambled("d2", 500, 150)), "day", Seq("k"))
    LiquidClustering.setClusterBy(spark, t, Seq("k"))
    // a concurrent writer holds d1 when the pass reaches it
    val claim = TxnLog.begin(spark, t, "upsert", Set("d1"),
      TxnLog.currentVersion(spark, t))
    val r1 = LiquidClustering.optimize(spark, t, "day")
    assert(r1.skippedBusy == Seq("day=d1"),
      s"the held partition is reported busy: $r1")
    assert(r1.rewritten == Seq("day=d2"),
      s"the rest of the pass still runs: $r1")
    // writer ABORTS (nothing changed) — the next pass must still see d1
    // (the floor did not advance past the churn that made it a candidate)
    TxnLog.abort(spark, t, claim)
    val r2 = LiquidClustering.optimize(spark, t, "day")
    assert(r2.rewritten == Seq("day=d1") && r2.skippedBusy.isEmpty,
      s"the busy partition is caught up next pass: $r2")
    // quiet from here
    assert(LiquidClustering.optimize(spark, t, "day").candidates == 0)
  }

  test("time travel to pre-layout versions and refusal without a spec") {
    val t = tmp()
    Upsert.mergeByKey(spark, t, scrambled("d1", 0, 80), "day", Seq("k"))
    val v1 = TxnLog.currentVersion(spark, t)
    val before = rowsOf(t)
    val e = intercept[IllegalArgumentException] {
      LiquidClustering.optimize(spark, t, "day")
    }
    assert(e.getMessage.contains("CLUSTER BY"), e.getMessage)
    LiquidClustering.setClusterBy(spark, t, Seq("k"))
    LiquidClustering.optimize(spark, t, "day")
    import spark.implicits._
    val asOf = Upsert.readAsOf(spark, t, v1, "day")
      .select("k", "v").as[(Long, String)].collect().toMap
    assert(asOf == before, "pre-layout snapshot must be exact")
  }
}
