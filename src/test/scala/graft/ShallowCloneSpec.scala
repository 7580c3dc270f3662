package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.batch._
import graft.core.TxnLog

/** Shallow (zero-copy) clone: metadata-only creation, pinned-source
  * reads, copy-on-write localization on merge, and graduation to an
  * ordinary table via materialize + DROP FEATURE. */
class ShallowCloneSpec extends SparkSpec {

  private def tmp(p: String): String =
    Files.createTempDirectory(p).toString + "/t"

  private def seed(t: String): Unit = {
    import spark.implicits._
    Upsert.mergeByKey(spark, t,
      Seq(("d1", 1L, 10.0), ("d1", 2L, 20.0),
        ("d2", 3L, 30.0), ("d3", 4L, 40.0))
        .toDF("day", "k", "v"),
      "day", Seq("k"))
  }

  private def rowsOf(t: String): Set[(String, Long, Double)] = {
    import spark.implicits._
    Upsert.readCommitted(spark, t, "day")
      .select("day", "k", "v").as[(String, Long, Double)].collect().toSet
  }

  private def parquetsUnder(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isFile) { if (f.getName.endsWith(".parquet")) Seq(f) else Nil }
      else Option(f.listFiles()).map(_.toSeq.flatMap(walk)).getOrElse(Nil)
    walk(new java.io.File(dir))
  }

  test("create is metadata-only; reads serve the PINNED snapshot, immune " +
      "to later source writes") {
    import spark.implicits._
    val src = tmp("scsrc"); seed(src)
    val dst = tmp("scdst")
    val pinned = ShallowClone.create(spark, src, dst, "day")
    assert(pinned == TxnLog.currentVersion(spark, src))
    assert(parquetsUnder(dst).isEmpty,
      "a shallow clone must copy ZERO data files at creation")
    assert(TableFeatures.features(spark, dst)
      .get(ShallowClone.Feature).contains("reader"),
      "shallow-clone is a reader-level feature")
    assert(rowsOf(dst) == rowsOf(src))
    // source moves on; the clone does not
    Upsert.mergeByKey(spark, src,
      Seq(("d1", 1L, 99.0), ("d4", 9L, 90.0)).toDF("day", "k", "v"),
      "day", Seq("k"))
    assert(rowsOf(dst) == Set(("d1", 1L, 10.0), ("d1", 2L, 20.0),
      ("d2", 3L, 30.0), ("d3", 4L, 40.0)),
      "the clone reads its pinned version, not the source tip")
  }

  test("copy-on-write merge: only the touched partition localizes; the " +
      "source is untouched bytes; re-localize never clobbers merged data") {
    import spark.implicits._
    val src = tmp("scw"); seed(src)
    val srcFiles = parquetsUnder(src).map(f => f.getPath -> f.lastModified()).toMap
    val dst = tmp("scwd")
    ShallowClone.create(spark, src, dst, "day")
    val touched = ShallowClone.mergeByKey(spark, dst,
      Seq(("d1", 1L, 11.0), ("d1", 5L, 50.0)).toDF("day", "k", "v"),
      "day", Seq("k"))
    assert(touched == Seq("d1"))
    assert(ShallowClone.localizedParts(spark, dst, "day") == Set("d1"),
      "only the touched partition may localize")
    assert(rowsOf(dst) == Set(("d1", 1L, 11.0), ("d1", 2L, 20.0),
      ("d1", 5L, 50.0), ("d2", 3L, 30.0), ("d3", 4L, 40.0)))
    assert(parquetsUnder(src).map(f => f.getPath -> f.lastModified()).toMap
      == srcFiles, "COW must never write into the source")
    // localize of an already-merged partition is a no-op, not a clobber
    assert(ShallowClone.localize(spark, dst, "day", Seq("d1")).isEmpty)
    assert(rowsOf(dst).contains(("d1", 1L, 11.0)))
    // the clone's own change feed starts at its writes
    val ch = ChangeFeed.readChanges(spark, dst, "day", 0L)
      .filter(col(ChangeFeed.ChangeTypeCol) === "insert")
      .select("k").as[Long].collect().toSet
    assert(ch.contains(5L), s"the merge's insert leg must ride the feed: $ch")
  }

  test("refusal matrix: every verb whose view would be PARTIAL refuses " +
      "loudly with guidance") {
    import spark.implicits._
    val src = tmp("scr"); seed(src)
    val dst = tmp("scrd")
    ShallowClone.create(spark, src, dst, "day")
    val eMerge = intercept[IllegalStateException] {
      Upsert.mergeByKey(spark, dst,
        Seq(("d1", 1L, 11.0)).toDF("day", "k", "v"), "day", Seq("k"))
    }
    assert(eMerge.getMessage.contains("ShallowClone.mergeByKey"), eMerge.getMessage)
    val eAsOf = intercept[IllegalStateException] {
      Upsert.readAsOf(spark, dst, 1L, "day")
    }
    assert(eAsOf.getMessage.contains("materialize"), eAsOf.getMessage)
    val ePoint = intercept[IllegalStateException] {
      Upsert.pointLookup(spark, dst, "k", "1")
    }
    assert(ePoint.getMessage.contains("LOCALIZED"), ePoint.getMessage)
    val eDv = intercept[IllegalStateException] {
      DeletionVectors.deleteVectored(spark, dst,
        Seq(("d1", 1L)).toDF("day", "k"), "day", Seq("k"))
    }
    assert(eDv.getMessage.contains("materialize"), eDv.getMessage)
    val eDeep = intercept[IllegalStateException] {
      Upsert.cloneTo(spark, dst, tmp("scdeep"), "day")
    }
    assert(eDeep.getMessage.contains("deep clone"), eDeep.getMessage)
    val eDdl = intercept[IllegalStateException] {
      Constraints.add(spark, dst, "pos", "v >= 0")
    }
    assert(eDdl.getMessage.contains("ADD CONSTRAINT"), eDdl.getMessage)
    val eChain = intercept[IllegalArgumentException] {
      ShallowClone.create(spark, dst, tmp("scchain"), "day")
    }
    assert(eChain.getMessage.contains("materialize"), eChain.getMessage)
    val eDrop = intercept[IllegalStateException] {
      TableFeatures.dropFeature(spark, dst, ShallowClone.Feature)
    }
    assert(eDrop.getMessage.contains("still read from the pinned source"),
      eDrop.getMessage)
    // and an unversioned source has nothing to pin
    val plain = tmp("scplain")
    import spark.implicits._
    Seq(("d1", 1L, 1.0)).toDF("day", "k", "v")
      .write.partitionBy("day").parquet(plain)
    val ePin = intercept[IllegalArgumentException] {
      ShallowClone.create(spark, plain, tmp("scpd"), "day")
    }
    assert(ePin.getMessage.contains("VERSIONED"), ePin.getMessage)
  }

  test("materialize localizes the remainder; DROP FEATURE graduates the " +
      "clone into an ordinary table (merge + time travel work)") {
    import spark.implicits._
    val src = tmp("scm"); seed(src)
    val dst = tmp("scmd")
    ShallowClone.create(spark, src, dst, "day")
    ShallowClone.mergeByKey(spark, dst,
      Seq(("d2", 3L, 33.0)).toDF("day", "k", "v"), "day", Seq("k"))
    val done = ShallowClone.materialize(spark, dst, "day")
    assert(done.toSet == Set("d1", "d3"), s"localized by materialize: $done")
    TableFeatures.dropFeature(spark, dst, ShallowClone.Feature)
    assert(!ShallowClone.isShallow(spark, dst))
    // ordinary verbs now work
    Upsert.mergeByKey(spark, dst,
      Seq(("d3", 4L, 44.0)).toDF("day", "k", "v"), "day", Seq("k"))
    val vNow = TxnLog.currentVersion(spark, dst)
    assert(rowsOf(dst) == Set(("d1", 1L, 10.0), ("d1", 2L, 20.0),
      ("d2", 3L, 33.0), ("d3", 4L, 44.0)))
    assert(Upsert.readAsOf(spark, dst, vNow, "day")
      .select("day", "k", "v").as[(String, Long, Double)].collect().toSet
      == rowsOf(dst), "time travel works after graduation")
    // deleting the departed source proves nothing remote remains
    def rmrf(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmrf)); f.delete(); ()
    }
    rmrf(new java.io.File(src))
    assert(rowsOf(dst).size == 4, "a graduated clone owns every byte")
  }

  test("a live clone PINS source retention: vacuum cannot break it; " +
      "graduation releases the pin; a deleted clone's stale ref sweeps") {
    import spark.implicits._
    val src = tmp("scpin"); seed(src)
    val dst = tmp("scpind")
    ShallowClone.create(spark, src, dst, "day")
    // rewrite a partition the clone still reads remotely — its pinned
    // content now lives ONLY in the source's retained generation
    Upsert.mergeByKey(spark, src,
      Seq(("d1", 1L, 99.0)).toDF("day", "k", "v"), "day", Seq("k"))
    // generations are keyed by the claim's BEGIN version — take the
    // newest retained dir, which is this rewrite's pre-image
    val gen = new java.io.File(s"$src/_graft_history").listFiles()
      .filter(_.getName.matches("v\\d+"))
      .maxBy(_.getName.stripPrefix("v").toLong)
    assert(gen.exists(), s"the rewrite must retain the pinned pre-image: $gen")
    Upsert.vacuumHistory(spark, src, minAgeMs = 0L) // below-pin debris may go
    assert(gen.exists(),
      "no generation above a live pin may be vacuumed")
    assert(rowsOf(dst).contains(("d1", 1L, 10.0)),
      "the clone still reads its pinned content after source vacuum")
    // graduation releases the pin; the source slims on the next vacuum
    ShallowClone.materialize(spark, dst, "day")
    TableFeatures.dropFeature(spark, dst, ShallowClone.Feature)
    assert(Upsert.vacuumHistory(spark, src, minAgeMs = 0L) > 0,
      "a graduated clone must not pin the source forever")
    assert(!gen.exists(), "the pin released with the graduation")
    assert(rowsOf(dst).contains(("d1", 1L, 10.0)), "the clone owns its bytes")
    // a clone that simply vanished is swept as stale, not pinned forever
    val dst2 = tmp("scpind2")
    ShallowClone.create(spark, src, dst2, "day")
    Upsert.mergeByKey(spark, src,
      Seq(("d2", 3L, 77.0)).toDF("day", "k", "v"), "day", Seq("k"))
    def rmrf(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmrf)); f.delete(); ()
    }
    rmrf(new java.io.File(dst2))
    assert(Upsert.vacuumHistory(spark, src, minAgeMs = 0L) > 0,
      "a deleted clone's ref is stale — it must not pin the source")
  }

  test("bulk materialize is ONE staged job, not a job per partition: " +
      "job count stays flat as partitions grow") {
    import spark.implicits._
    val src = tmp("scjobs")
    Upsert.mergeByKey(spark, src,
      (1 to 10).map(i => (f"d$i%02d", i.toLong, i * 1.0)).toDF("day", "k", "v"),
      "day", Seq("k"))
    val dst = tmp("scjobsd")
    ShallowClone.create(spark, src, dst, "day")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val done =
      try ShallowClone.materialize(spark, dst, "day")
      finally {
        Thread.sleep(200) // listener events settle (start events, upper bound)
        spark.sparkContext.removeSparkListener(listener)
      }
    assert(done.size == 10, s"all 10 partitions localize: $done")
    // one partitionBy stage job + the remote-partition probe and small
    // planning jobs — a per-partition loop would run >= 10 write jobs
    assert(jobs.get() <= 6,
      s"10-partition materialize must stay ~one data job, ran ${jobs.get()}")
  }

  test("a clone of a source with LIVE CLONES does not inherit the source's " +
      "clone-ref registry: no phantom pins, vacuum after graduation works") {
    import spark.implicits._
    val src = tmp("screfs"); seed(src)
    val cloneA = tmp("screfsa")
    ShallowClone.create(spark, src, cloneA, "day")
    // src now carries cloneA's pin in its clonerefs registry; a second
    // clone must NOT copy that registry into its own _graft_meta
    val cloneB = tmp("screfsb")
    ShallowClone.create(spark, src, cloneB, "day")
    assert(!Upsert.detail(spark, cloneB).cloneState.exists(_.startsWith("<-")),
      "a fresh clone must not report the SOURCE's other clones as its own pins")
    assert(Upsert.detail(spark, src).cloneState.count(_.startsWith("<-")) == 2,
      "the source itself pins both live clones")
    // graduate B, rewrite it, and prove phantom refs don't block its vacuum
    ShallowClone.materialize(spark, cloneB, "day")
    TableFeatures.dropFeature(spark, cloneB, ShallowClone.Feature)
    Upsert.mergeByKey(spark, cloneB,
      Seq(("d1", 1L, 77.0)).toDF("day", "k", "v"), "day", Seq("k"))
    assert(Upsert.vacuumHistory(spark, cloneB, minAgeMs = 0L) > 0,
      "an inherited clonerefs registry would pin the graduated clone's " +
        "history forever")
  }

  test("remoteParts is METADATA-ONLY: the residue probe of a feature drop " +
      "schedules no Spark job over the source snapshot's files") {
    import spark.implicits._
    val src = tmp("scmeta"); seed(src)
    val dst = tmp("scmetad")
    ShallowClone.create(spark, src, dst, "day")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val e =
      try intercept[IllegalStateException] {
        TableFeatures.dropFeature(spark, dst, ShallowClone.Feature)
      } finally {
        Thread.sleep(200) // listener events settle
        spark.sparkContext.removeSparkListener(listener)
      }
    assert(e.getMessage.contains("still read from the pinned source"),
      e.getMessage)
    assert(jobs.get() == 0,
      s"the still-remote probe must be driver-side manifest math " +
        s"(O(partitions), not O(files) at 100 TB); ran ${jobs.get()} job(s)")
  }

  test("concurrency hammer: racing COW merges and localizes never lose " +
      "pinned rows, never duplicate, fail only loudly") {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    val ec = scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newFixedThreadPool(2))
    // pure localize race: both threads race the create-exclusive rename;
    // the slice lands EXACTLY once
    val src0 = tmp("schlsrc"); seed(src0)
    val dst0 = tmp("schldst")
    ShallowClone.create(spark, src0, dst0, "day")
    val locs = Seq(1, 2).map(_ => Future(
      ShallowClone.localize(spark, dst0, "day", Seq("d1")))(ec))
      .map(f => Await.result(f, Duration.Inf))
    assert(locs.flatten == Seq("d1"),
      s"exactly one localizer may win: $locs")
    assert(Upsert.readCommitted(spark, dst0, "day")
      .filter(col("day") === "d1").count() == 2L, "no duplicated slice")

    // COW merge race on ONE partition, disjoint keys: serialized by the
    // OCC claims — each attempt either commits or fails loudly; pinned
    // rows survive every interleaving, winners' rows all land
    (1 to 3).foreach { round =>
      val src = tmp(s"schsrc$round"); seed(src)
      val dst = tmp(s"schdst$round")
      ShallowClone.create(spark, src, dst, "day")
      val attempts = Seq(100L, 200L).map { base =>
        Future(
          try {
            ShallowClone.mergeByKey(spark, dst,
              Seq(("d1", base + round, base.toDouble)).toDF("day", "k", "v"),
              "day", Seq("k"))
            Right(base)
          } catch {
            case e: graft.core.TxnLog.ConcurrentWriteException => Left(e)
          })(ec)
      }.map(f => Await.result(f, Duration.Inf))
      val won = attempts.collect { case Right(b) => b }
      assert(won.nonEmpty, "at least one racing merge must commit")
      val got = rowsOf(dst)
      assert(got.filter(_._1 == "d1").map(_._2)
        .intersect(Set(1L, 2L)) == Set(1L, 2L),
        s"pinned d1 rows must survive every interleaving: $got")
      won.foreach { b =>
        assert(got.contains(("d1", b + round, b.toDouble)),
          s"winner $b's row must land: $got")
      }
      assert(got.count(r => r._1 == "d1") == 2 + won.size,
        s"no duplicates, no losers' rows: $got")
    }
  }

  test("a localizer's install onto an existing non-empty live dir refuses " +
      "and leaves the live files as they were") {
    import spark.implicits._
    val t = tmp("scinst")
    val live = s"$t/day=d1"
    Seq((1L, 10.0)).toDF("k", "v").write.parquet(live)
    def snapshot(dir: String): Map[String, Seq[Byte]] = {
      val root = java.nio.file.Paths.get(dir)
      val walk = java.nio.file.Files.walk(root)
      try walk.filter(java.nio.file.Files.isRegularFile(_)).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path])
        .map(p => root.relativize(p).toString ->
          java.nio.file.Files.readAllBytes(p).toSeq).toMap
      finally walk.close()
    }
    val before = snapshot(live)
    // the bulk path stages `partCol=value` dirs (a name readers would
    // see if it got nested), the single path a dot-prefixed one
    Seq(s"$t/.localize-bulk-x/day=d1", s"$t/.localize-day=d1-x").foreach { staged =>
      Seq((2L, 20.0)).toDF("k", "v").write.parquet(staged)
      assert(!ShallowCloneTestHook.install(spark, staged, live), staged)
      assert(snapshot(live) == before, s"live files changed by $staged")
    }
    // onto a free name the same install succeeds
    val fresh = s"$t/day=d2"
    Seq((3L, 30.0)).toDF("k", "v").write.parquet(s"$t/.localize-day=d2-x")
    assert(ShallowCloneTestHook.install(spark, s"$t/.localize-day=d2-x", fresh))
    assert(spark.read.parquet(fresh).count() == 1L)
  }

  test("Maintain drives the lifecycle: shallow → materialize, one JSON line each") {
    val src = tmp("scmm"); seed(src)
    val dst = tmp("scmmd")
    val m = graft.core.GraftConfig.load().maintenance
    val mk = Maintain.runMode(spark, src, "shallow", Seq("day", dst), m)
    assert(mk.exists(l => l.contains("\"op\":\"shallow\"") &&
      l.contains("\"pinnedVersion\"")), s"$mk")
    assert(ShallowClone.isShallow(spark, dst))
    assert(rowsOf(dst) == rowsOf(src))
    val mat = Maintain.runMode(spark, dst, "materialize", Seq("day"), m)
    assert(mat.exists(_.contains("\"localized\":3")), s"$mat")
    TableFeatures.dropFeature(spark, dst, ShallowClone.Feature)
    assert(rowsOf(dst) == rowsOf(src))
  }
}
