package graft

import java.nio.file.Files

import scala.concurrent.duration._

import org.apache.spark.sql.functions._

import graft.batch._
import graft.TxFixture._

/** Batch service lifecycle e2e (SURVEY.md §3.1 + §5.4): submit → status
  * transitions → results; FAILED isolation; validation; pagination;
  * concurrency; registry recovery. */
class BatchSpec extends SparkSpec {

  private def await(cond: => Boolean, timeout: Duration = 60.seconds): Unit = {
    val deadline = System.currentTimeMillis() + timeout.toMillis
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(cond, "condition not met within timeout")
  }

  /** Wait for a terminal state; fail FAST with the record (incl. its error
    * message) if the batch FAILED — a bare timeout hides the actual reason.
    * Generous deadline: the shared local[4] session runs suites back to
    * back, and a cold/loaded host can push a small job past 60 s. */
  private def awaitCompleted(svc: BatchService, id: String): Unit = {
    def rec = svc.status(id).get
    val deadline = System.currentTimeMillis() + 180.seconds.toMillis
    while (rec.status != BatchStatus.Completed && rec.status != BatchStatus.Failed &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(rec.status == BatchStatus.Completed, s"batch not completed: $rec")
  }

  private lazy val sourcePath: String = {
    val p = Files.createTempDirectory("txsource").toString
    val rows = (1 to 200).map { i =>
      row(id = s"t$i", customerId = s"C${i % 20}",
        category = Seq("electronics", "books", "grocery")(i % 3),
        totalAmount = 10.0 * (i % 7 + 1),
        eventTs = ts(f"2026-01-${i % 10 + 1}%02d 10:00:00"))
    }
    df(spark, rows: _*)
      .withColumn("event_date", to_date(col("event_timestamp")))
      .write.partitionBy("event_date").mode("overwrite").parquet(p)
    p
  }

  private def newService(persist: Option[String] = None): (BatchService, BatchRegistry) = {
    val reg = new BatchRegistry(persist)
    (new BatchService(spark, reg, Files.createTempDirectory("batches").toString), reg)
  }

  test("the partition column is a service parameter, not a hardcoded name") {
    // identical data partitioned by `ds` instead of `event_date`: a service
    // constructed with partCol = "ds" must snapshot-resolve and date-prune
    // on it (the old hardcoded "event_date" threw an analysis error here)
    val p = Files.createTempDirectory("txsource-ds").toString
    val rows = (1 to 60).map { i =>
      row(id = s"t$i", customerId = s"C${i % 5}",
        category = Seq("electronics", "books", "grocery")(i % 3),
        totalAmount = 10.0 * (i % 7 + 1),
        eventTs = ts(f"2026-01-${i % 10 + 1}%02d 10:00:00"))
    }
    df(spark, rows: _*)
      .withColumn("ds", to_date(col("event_timestamp")))
      .write.partitionBy("ds").mode("overwrite").parquet(p)
    val reg = new BatchRegistry(None)
    val svc = new BatchService(spark, reg,
      Files.createTempDirectory("batches-ds").toString, partCol = "ds")
    val Right(id) = svc.submit(p,
      BatchRequest("2026-01-01", "2026-01-05", "revenue_by_category"))
    awaitCompleted(svc, id)
    val rec = svc.status(id).get
    val expected = spark.read.parquet(p)
      .filter(col("ds").between("2026-01-01", "2026-01-05")).count()
    assert(expected > 0 && rec.rowCount.contains(expected), s"rec=$rec expected=$expected")
  }

  test("lifecycle: submit -> COMPLETED with correct count, snapshot and aggregates") {
    val (svc, _) = newService()
    val Right(id) = svc.submit(sourcePath,
      BatchRequest("2026-01-01", "2026-01-05", "revenue_by_category"))
    assert(svc.status(id).get.status != null) // record exists immediately
    awaitCompleted(svc, id)
    val rec = svc.status(id).get
    val expected = spark.read.parquet(sourcePath)
      .filter(col("event_date").between("2026-01-01", "2026-01-05")).count()
    assert(rec.rowCount.contains(expected))
    // snapshot is category-partitioned and stamped with batch_id
    val raw = spark.read.parquet(rec.rawPath.get)
    assert(raw.count() == expected)
    assert(raw.select("batch_id").distinct().head().getString(0) == id)
    assert(new java.io.File(rec.rawPath.get).list().exists(_.startsWith("category=")))
    val agg = svc.readAggregated(id, "revenue_by_category")
    assert(agg.isRight && agg.toOption.get.count() == 3)
  }

  test("dynamic filters narrow the snapshot; full_report fans out") {
    val (svc, _) = newService()
    val Right(id) = svc.submit(sourcePath,
      BatchRequest("2026-01-01", "2026-01-10", "full_report",
        filters = Map("category" -> "books")))
    awaitCompleted(svc, id)
    val rec = svc.status(id).get
    val raw = spark.read.parquet(rec.rawPath.get)
    assert(raw.select("category").distinct().collect().map(_.getString(0)).toSeq == Seq("books"))
    val dir = new java.io.File(rec.aggregatedPath.get)
    assert(dir.list().toSet.intersect(Set("revenue_by_category", "hourly_trends",
      "inventory_velocity")).size == 3)
  }

  test("invalid filter column -> FAILED with clear error; other jobs unaffected") {
    val (svc, _) = newService()
    val Right(bad) = svc.submit(sourcePath,
      BatchRequest("2026-01-01", "2026-01-10", "revenue_by_category",
        filters = Map("no_such_column" -> "x")))
    val Right(good) = svc.submit(sourcePath,
      BatchRequest("2026-01-01", "2026-01-10", "revenue_by_category"))
    await(svc.status(bad).get.status == BatchStatus.Failed)
    awaitCompleted(svc, good)
    assert(svc.status(bad).get.error.get.contains("no_such_column"))
  }

  test("unknown analysisType rejected at submit") {
    val (svc, _) = newService()
    val res = svc.submit(sourcePath, BatchRequest("2026-01-01", "2026-01-10", "bogus"))
    assert(res.isLeft && res.swap.toOption.get.contains("bogus"))
  }

  test("three concurrent batches all complete") {
    val (svc, _) = newService()
    val ids = (1 to 3).map { i =>
      svc.submit(sourcePath, BatchRequest("2026-01-01", "2026-01-10",
        Seq("revenue_by_category", "channel_performance", "hourly_trends")(i - 1)))
        .toOption.get
    }
    await(ids.forall(id => svc.status(id).get.status == BatchStatus.Completed))
    assert(svc.list().size == 3)
  }

  test("pagination: stable, non-overlapping, exhaustive pages") {
    val (svc, _) = newService()
    val Right(id) = svc.submit(sourcePath,
      BatchRequest("2026-01-01", "2026-01-10", "revenue_by_category"))
    awaitCompleted(svc, id)
    val total = svc.status(id).get.rowCount.get
    val pages = (0L until total by 70).map { off =>
      svc.readData(id, off.toInt, 70).toOption.get
        .select("transaction_id").collect().map(_.getString(0)).toSeq
    }
    val all = pages.flatten
    assert(all.size == total && all.distinct.size == total)
    // offset pages are served in global key order
    assert(all == all.sorted, "offset pages must walk transaction_id order")

    // keyset walk yields exactly the same sequence, page-by-page
    var after: Option[String] = None
    val keysetAll = Iterator.continually {
      val page = svc.readDataAfter(id, after, 70).toOption.get
        .select("transaction_id").collect().map(_.getString(0)).toSeq
      after = page.lastOption
      page
    }.takeWhile(_.nonEmpty).flatten.toSeq
    assert(keysetAll == all, "keyset walk must equal the offset walk")

    // plan hygiene: both forms must be distributed top-k
    // (TakeOrderedAndProject), never a global Window / single-partition sort
    for (df <- Seq(svc.readData(id, 70, 70).toOption.get,
                   svc.readDataAfter(id, Some(all(69)), 70).toOption.get)) {
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("TakeOrderedAndProject"), s"expected top-k plan:\n$plan")
      assert(!plan.contains("Window"), s"no global window allowed:\n$plan")
      assert(!plan.contains("SinglePartition"), s"no single-partition exchange:\n$plan")
    }
    // keyset predicate reaches the parquet scan
    val kplan = svc.readDataAfter(id, Some(all(69)), 70).toOption.get
      .queryExecution.executedPlan.toString
    assert(kplan.contains("PushedFilters: [IsNotNull(transaction_id), GreaterThan(transaction_id"),
      s"keyset filter must push down:\n$kplan")

    // unknown/incomplete ids are refused
    assert(svc.readData("nope", 0, 10).isLeft)
  }

  test("pinned read schemas equal what inference reads from the published dirs") {
    val (svc, _) = newService()
    val Right(id) = svc.submit(sourcePath,
      BatchRequest("2026-01-01", "2026-01-10", "full_report"))
    awaitCompleted(svc, id)
    val rec = svc.status(id).get
    assert(svc.readData(id, 0, 1).toOption.get.schema ==
      spark.read.parquet(rec.rawPath.get).schema)
    new java.io.File(rec.aggregatedPath.get).list().foreach { a =>
      assert(svc.readAggregated(id, a).toOption.get.schema ==
        spark.read.parquet(s"${rec.aggregatedPath.get}/$a").schema, a)
    }
  }

  test("snapshot layout: files are range-clustered on the serving key") {
    val (svc, _) = newService()
    val Right(id) = svc.submit(sourcePath,
      BatchRequest("2026-01-01", "2026-01-10", "revenue_by_category"))
    awaitCompleted(svc, id)
    val raw = svc.status(id).get.rawPath.get
    val catDirs = new java.io.File(raw).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("category="))
    assert(catDirs.nonEmpty)
    // within every category partition, each file must cover a DISJOINT
    // transaction_id slice — the property that lets the keyset page's
    // pushed GreaterThan(transaction_id) skip whole row groups
    var multiFile = 0
    catDirs.foreach { dir =>
      val bounds = graft.core.LayoutOps
        .stringColumnBounds(dir.getAbsolutePath, "transaction_id")
      if (bounds.size > 1) {
        multiFile += 1
        bounds.sortBy(_._2).sliding(2).foreach {
          case Seq((fa, _, amax), (fb, bmin, _)) =>
            assert(amax < bmin, s"$fa / $fb overlap on transaction_id in ${dir.getName}")
          case _ => ()
        }
      }
    }
    assert(multiFile > 0, "need a multi-file partition to prove the clustering")
  }

  test("atomic publish: a failed rewrite never corrupts the live directory") {
    import graft.core.AtomicWrite
    val target = Files.createTempDirectory("atomic").toString + "/out"
    val v1 = df(spark, (1 to 5).map(i => row(id = s"a$i")): _*)
    AtomicWrite.publish(spark, target)(tmp => v1.write.parquet(tmp))
    assert(spark.read.parquet(target).count() == 5)

    // a rewrite that dies mid-write must leave the old tree fully readable —
    // the old overwrite-in-place would have deleted it before the crash
    intercept[RuntimeException] {
      AtomicWrite.publish(spark, target) { tmp =>
        df(spark, row(id = "b1")).write.parquet(tmp) // partial new data exists
        throw new RuntimeException("boom mid-publish")
      }
    }
    val after = spark.read.parquet(target)
    assert(after.count() == 5)
    assert(after.select("transaction_id").collect().map(_.getString(0)).toSet ==
      (1 to 5).map(i => s"a$i").toSet)
    // failure leaves no temp debris next to the target
    assert(!new java.io.File(target).getParentFile.list().exists(_.startsWith(".tmp-")))

    // a successful rewrite swaps to exactly the new tree
    AtomicWrite.publish(spark, target)(tmp =>
      df(spark, row(id = "b1"), row(id = "b2")).write.parquet(tmp))
    assert(spark.read.parquet(target)
      .select("transaction_id").collect().map(_.getString(0)).toSet == Set("b1", "b2"))
    assert(!new java.io.File(target).getParentFile.list()
      .exists(n => n.startsWith(".tmp-") || n.startsWith(".old-")))
  }

  test("aggregated pages execute distributed (TakeOrderedAndProject, no collect)") {
    val (svc, _) = newService()
    val Right(id) = svc.submit(sourcePath,
      BatchRequest("2026-01-01", "2026-01-10", "customer_segmentation"))
    awaitCompleted(svc, id)
    val full = svc.readAggregated(id, "customer_segmentation").toOption.get
    val n = full.count().toInt
    assert(n == 20) // one row per fixture customer — per-entity, NOT bounded at scale
    // page walk is ordered, non-overlapping, exhaustive
    val pages = (0 until n by 7).map { off =>
      svc.readAggregatedPage(id, "customer_segmentation", off, 7).toOption.get
        .select("customer_id").collect().map(_.getString(0)).toSeq
    }
    val walked = pages.flatten
    assert(walked.size == n && walked.distinct.size == n && walked == walked.sorted)
    // plan hygiene: distributed top-k, never a global window or 1-partition sort
    val plan = svc.readAggregatedPage(id, "customer_segmentation", 7, 7)
      .toOption.get.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k plan:\n$plan")
    assert(!plan.contains("Window"), s"no global window allowed:\n$plan")
    assert(!plan.contains("SinglePartition"), s"no single-partition exchange:\n$plan")
  }

  test("publish GCs stale crash debris; recoverSwap restores the newest tree") {
    import graft.core.AtomicWrite
    val root = Files.createTempDirectory("swapgc").toString
    val target = s"$root/out"
    def publish(n: Int): Unit = AtomicWrite.publish(spark, target)(tmp =>
      df(spark, (1 to n).map(i => row(id = s"x$i")): _*).write.parquet(tmp))
    publish(1)

    // debris from prior crashed publishes must not survive a SUCCESS —
    // a lingering .old- is a candidate a future recovery could resurrect
    val staleTmp = new java.io.File(root, ".tmp-out-deadbeef"); staleTmp.mkdirs()
    val staleOld = new java.io.File(root, ".old-out-zzzzzzzz"); staleOld.mkdirs()
    staleOld.setLastModified(System.currentTimeMillis() - 100000)
    publish(2)
    assert(!staleTmp.exists && !staleOld.exists, "success must GC crash debris")
    assert(spark.read.parquet(target).count() == 2)

    // recovery picks the NEWEST retired tree by mtime — the suffix is a
    // random UUID, so name order would be a coin flip
    val live = new java.io.File(target)
    val recent = new java.io.File(root, ".old-out-aaaa1111") // sorts FIRST by name
    assert(live.renameTo(recent))
    val ancient = new java.io.File(root, ".old-out-zzzz9999") // sorts LAST by name
    ancient.mkdirs()
    ancient.setLastModified(System.currentTimeMillis() - 3600000L)
    assert(AtomicWrite.recoverSwap(spark, target))
    assert(spark.read.parquet(target).count() == 2, "the newest tree must be restored")
    assert(!ancient.exists, "losing candidates are GC'd, not left for next time")
  }

  test("recover() skips truncated registry files and orphaned tmps") {
    val dir = Files.createTempDirectory("regbad")
    Files.writeString(dir.resolve("bad.json"), """{"batchId":"x","status":"Comp""")
    Files.writeString(dir.resolve(".b-orphan.tmp"), "garbage from a crash mid-write")
    val reg = new BatchRegistry(Some(dir.toString))
    reg.put(BatchJobRecord("b-ok",
      BatchRequest("2026-01-01", "2026-01-02", "revenue_by_category"),
      BatchStatus.Completed, 1L, rowCount = Some(5), rawPath = Some("/x")))
    val reg2 = new BatchRegistry(Some(dir.toString))
    assert(reg2.recover() == 1) // the good record, and only it
    assert(reg2.get("b-ok").exists(r =>
      r.status == BatchStatus.Completed && r.rowCount.contains(5L)))
  }

  test("registry persists terminal records and recovers after restart") {
    val persist = Files.createTempDirectory("reg").toString
    val (svc, _) = newService(Some(persist))
    val Right(id) = svc.submit(sourcePath,
      BatchRequest("2026-01-01", "2026-01-10", "revenue_by_category"))
    awaitCompleted(svc, id)
    val reg2 = new BatchRegistry(Some(persist))
    assert(reg2.recover() >= 1)
    val rec = reg2.get(id).get
    assert(rec.status == BatchStatus.Completed &&
      rec.rawPath.isDefined && rec.request.analysisType == "revenue_by_category")
  }

  test("registry retention sweep prunes old terminal records, memory and disk") {
    val persist = Files.createTempDirectory("regprune").toString
    val reg = new BatchRegistry(Some(persist))
    val now = System.currentTimeMillis()
    def rec(id: String, st: BatchStatus.Value, age: Long) = BatchJobRecord(
      batchId = id, request = BatchRequest("2026-01-01", "2026-01-02", "summary_stats"),
      status = st, submittedAt = now - age)
    reg.put(rec("old-done", BatchStatus.Completed, 10.days.toMillis))
    reg.put(rec("old-fail", BatchStatus.Failed, 9.days.toMillis))
    reg.put(rec("old-pending", BatchStatus.Pending, 10.days.toMillis)) // active: never swept
    reg.put(rec("new-done", BatchStatus.Completed, 1.days.toMillis))
    assert(reg.prune(horizonMs = 7.days.toMillis, now = now) == 2)
    assert(reg.get("old-done").isEmpty && reg.get("old-fail").isEmpty)
    assert(reg.get("old-pending").isDefined && reg.get("new-done").isDefined)
    // disk mirror pruned too: a restart recovers only the surviving records
    val reg2 = new BatchRegistry(Some(persist))
    assert(reg2.recover() == 1) // new-done (pending records are not mirrored)
    assert(reg2.get("new-done").isDefined)
    // sweep is idempotent
    assert(reg.prune(horizonMs = 7.days.toMillis, now = now) == 0)
  }
}
