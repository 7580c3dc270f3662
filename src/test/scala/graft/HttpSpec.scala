package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

import scala.concurrent.duration._

import org.apache.spark.sql.functions._

import graft.batch._
import graft.http._
import graft.TxFixture._

/** End-to-end drive of the HTTP facade over localhost: submit → poll →
  * page, envelope shapes and status codes per the reference's route
  * contract (BatchRoutes 202/400/404/409, StreamRoutes 409 single-flight,
  * ControlRoutes health/stop). */
class HttpSpec extends SparkSpec {

  private lazy val client = HttpClient.newHttpClient()

  private def get(port: Int, path: String): (Int, JVal) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), Json.parse(r.body()))
  }

  private def post(port: Int, path: String, body: String = ""): (Int, JVal) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), Json.parse(r.body()))
  }

  private def await(cond: => Boolean, timeout: Duration = 60.seconds): Unit = {
    val deadline = System.currentTimeMillis() + timeout.toMillis
    while (!cond && System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(cond, "condition not met within timeout")
  }

  private lazy val sourcePath: String = {
    val p = Files.createTempDirectory("httpsource").toString
    val rows = (1 to 150).map { i =>
      row(id = f"t$i%03d", customerId = s"C${i % 10}",
        category = Seq("electronics", "books", "grocery")(i % 3),
        totalAmount = 5.0 * (i % 5 + 1),
        eventTs = ts(f"2026-02-${i % 9 + 1}%02d 09:00:00"))
    }
    df(spark, rows: _*)
      .withColumn("event_date", to_date(col("event_timestamp")))
      .write.partitionBy("event_date").mode("overwrite").parquet(p)
    p
  }

  private def newApi(): HttpApi = {
    val reg = new BatchRegistry(None)
    val svc = new BatchService(spark, reg, Files.createTempDirectory("httpbatches").toString)
    new HttpApi(spark, svc, reg, sourcePath,
      mkStreams = () => Seq(
        spark.readStream.format("rate").option("rowsPerSecond", "1").load()
          .writeStream.format("noop").queryName("http-stream").start())).start()
  }

  test("batch list pages a >1k-record registry by keyset cursor") {
    val reg = new BatchRegistry(None)
    val base = 1700000000000L
    // 1200 records with deliberate submittedAt TIES (3 ids per timestamp)
    // so the (submittedAt DESC, batchId ASC) tie-break is really exercised
    (0 until 1200).foreach { i =>
      reg.put(BatchJobRecord(
        batchId = f"job-$i%04d",
        request = BatchRequest("2026-01-01", "2026-01-31", "revenue_by_category"),
        status = if (i % 5 == 4) BatchStatus.Pending else BatchStatus.Completed,
        submittedAt = base + (i / 3) * 1000L))
    }
    val svc = new BatchService(spark, reg, Files.createTempDirectory("httplist").toString)
    val api = new HttpApi(spark, svc, reg, sourcePath).start()
    try {
      // walk the full registry with the cursor; every id exactly once
      var cursor = Option.empty[String]
      var pages = 0
      val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
      var done = false
      while (!done) {
        val q = s"/batch/list?limit=100" + cursor.map("&after=" + _).getOrElse("")
        val (code, body) = get(api.port, q)
        assert(code == 200)
        assert((body.asObj("total") match { case JNum(n) => n.toInt; case _ => fail() }) == 1200)
        val batches = body.asObj("batches") match { case JArr(b) => b; case _ => fail() }
        batches.foreach { b =>
          val o = b.asObj
          seen += ((java.time.Instant.parse(o("submitTime").str).toEpochMilli,
            o("batchId").str))
        }
        pages += 1
        body.asObj.get("nextAfter") match {
          case Some(JStr(c)) => cursor = Some(c)
          case _             => done = true
        }
      }
      assert(pages == 12, s"1200 records / 100 per page, got $pages pages")
      assert(seen.size == 1200 && seen.distinct.size == 1200,
        "keyset pages must partition the registry without dupes or gaps")
      // global order held across page boundaries
      assert(seen.toSeq == seen.toSeq.sortBy { case (ts, id) => (-ts, id) })

      // status filter composes with the cursor
      val (fc, fb) = get(api.port, "/batch/list?limit=50&status=PENDING")
      assert(fc == 200)
      assert((fb.asObj("total") match { case JNum(n) => n.toInt; case _ => fail() }) == 240)

      // malformed cursor is a 400, not a silent full listing
      val (bc, bb) = get(api.port, "/batch/list?after=garbage")
      assert(bc == 400 && bb.asObj("error").str == "INVALID_CURSOR")
      val (sc2, sb2) = get(api.port, "/batch/list?status=NOPE")
      assert(sc2 == 400 && sb2.asObj("error").str == "INVALID_STATUS")
    } finally api.stop()
  }

  test("jsonRows renders every row byte for byte as Dataset.toJSON does") {
    val frame = spark.sql("""
      SELECT * FROM VALUES
        (1, 'héllo ✓ "q" \\ 日本', TIMESTAMP'2026-01-02 03:04:05.123456',
         DATE'2026-01-02', 12.3400BD, 1.0E-7D, array(1, NULL, 3),
         map('k', 1.5D), named_struct('a', 1, 'b', 'x'), 'dot'),
        (2, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL),
        (3, '', TIMESTAMP'1969-12-31 23:59:59', DATE'1900-01-01', -0.0001BD,
         double('NaN'), array(4), map('z', double('Infinity')),
         named_struct('a', CAST(NULL AS INT), 'b', CAST(NULL AS STRING)), '')
        AS t(id, text, ts, d, dec, dbl, arr, m, s, `a.b`)""")
      .withColumn("ts_ntz", col("ts").cast("timestamp_ntz"))
    // a duplicate column name too: both keys render, in output order
    val dup = frame.select(col("*"), (col("id") * 10).as("id"))
    for (df <- Seq(frame, dup.orderBy(frame("id")).offset(1).limit(2))) {
      val want = df.toJSON.collect().toVector
      assert(HttpApi.jsonRows(df) == want)
    }
    assert(HttpApi.jsonRows(frame).exists(_.contains("\"a.b\":\"dot\"")))
  }

  test("a served batch page is one Spark job of one stage, " +
      "with or without the pinned schema file") {
    val reg = new BatchRegistry(None)
    val svc = new BatchService(spark, reg, Files.createTempDirectory("httpjobs").toString)
    val api = new HttpApi(spark, svc, reg, sourcePath).start()
    def getRaw(path: String): String = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:${api.port}$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString()).body()
    try {
      val (_, b) = post(api.port, "/batch/run",
        """{"startDate":"2026-02-01","endDate":"2026-02-09","analysisType":"customer_segmentation"}""")
      val id = b.asObj("batchId").str
      await(get(api.port, s"/batch/status/$id")._2.asObj("status").str == "COMPLETED")
      val pages = Seq(s"/batch/data/$id?limit=20&offset=40",
        s"/batch/data/$id?limit=20&after=t050",
        s"/batch/data/$id/aggregated?limit=4&offset=2")
      val served = pages.map { p =>
        var body = ""
        val (jobs, stages) = jobsAndStages { body = getRaw(p) }
        assert(jobs == 1 && stages == 1, s"$p ran $jobs jobs, $stages stages")
        body
      }
      assert(served.forall(_.contains("\"returned\":")), served.mkString("\n"))
      // outputs published before the schema file existed read by inference
      // and serve the same bytes
      val rec = reg.get(id).get
      Seq(rec.rawPath.get, s"${rec.aggregatedPath.get}/customer_segmentation")
        .foreach(d => assert(Files.deleteIfExists(java.nio.file.Paths.get(d, "_schema.json"))))
      assert(pages.map(getRaw) == served)
    } finally api.stop()
  }

  test("/table/data: a refused version is a 400, a transient resolution failure a 503") {
    import spark.implicits._
    val t = Files.createTempDirectory("httpvfail").toString + "/t"
    graft.batch.Upsert.mergeByKey(spark, t,
      Seq(("2026-05-01", 1L, 1.0)).toDF("day", "k", "v"), "day", Seq("k"))
    val api = new HttpApi(spark, new BatchService(spark, new BatchRegistry(None),
      Files.createTempDirectory("httpvfailb").toString), new BatchRegistry(None), sourcePath).start()
    try {
      val enc = java.net.URLEncoder.encode(t, "UTF-8")
      for (q <- Seq("asOf=999", "asOfTs=1")) {
        val (c, b) = get(api.port, s"/table/data?table=$enc&partCol=day&$q")
        assert(c == 400 && b.asObj("error").str == "INVALID_VERSION", s"$q: $c $b")
      }
    } finally api.stop()
    assert(HttpApi.versionFailure(new graft.batch.Upsert.SnapshotRefused("vacuumed")) ==
      (400, "INVALID_VERSION"))
    assert(HttpApi.versionFailure(new IllegalArgumentException("no commits")) ==
      (400, "INVALID_VERSION"))
    assert(HttpApi.versionFailure(new IllegalStateException(
      "did not yield a stable snapshot in 80 attempts")) == (503, "SNAPSHOT_UNAVAILABLE"))
  }

  /** Spark jobs and stages started by `body`, streaming jobs excepted. A
    * fence job runs after `body`; the listener bus delivers in order, so
    * once the fence has ended every event of `body` has been counted. */
  private def jobsAndStages(body: => Unit): (Int, Int) = {
    import org.apache.spark.scheduler._
    val fence = "jobs-and-stages-fence"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    val fenceJob = new java.util.concurrent.atomic.AtomicInteger(-1)
    val fenced = new java.util.concurrent.CountDownLatch(1)
    def group(props: java.util.Properties) =
      Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    def counted(props: java.util.Properties) = !group(props).contains(fence) &&
      Option(props).forall(_.getProperty("sql.streaming.queryId") == null)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (group(j.properties).contains(fence)) fenceJob.set(j.jobId)
        else if (counted(j.properties)) jobs.incrementAndGet()
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        if (counted(s.properties)) stages.incrementAndGet()
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        if (j.jobId == fenceJob.get) fenced.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup(fence, fence)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(fenced.await(30, java.util.concurrent.TimeUnit.SECONDS), "fence job never ended")
    } finally sc.removeSparkListener(listener)
    (jobs.get(), stages.get())
  }

  test("health reports healthy with uptime") {
    val api = newApi()
    try {
      val (code, body) = get(api.port, "/health")
      assert(code == 200)
      assert(body.asObj("status").str == "healthy")
      assert(body.asObj("spark") == JBool(true))
      assert(body.asObj("uptime").str.nonEmpty)
    } finally api.stop()
  }

  test("batch: submit -> poll -> page walk with reference envelopes") {
    val api = newApi()
    try {
      // 400: missing fields
      val (badCode, badBody) = post(api.port, "/batch/run", """{"startDate":"2026-02-01"}""")
      assert(badCode == 400 && badBody.asObj("error").str == "INVALID_REQUEST")
      // 400: unknown analysis type
      val (bogusCode, bogusBody) = post(api.port, "/batch/run",
        """{"startDate":"2026-02-01","endDate":"2026-02-09","analysisType":"bogus"}""")
      assert(bogusCode == 400 && bogusBody.asObj("message").str.contains("bogus"))
      // 404: unknown id
      assert(get(api.port, "/batch/status/nope")._1 == 404)
      assert(get(api.port, "/batch/data/nope")._1 == 404)

      // 202 submit
      val (code, body) = post(api.port, "/batch/run",
        """{"startDate":"2026-02-01","endDate":"2026-02-09",
           "analysisType":"revenue_by_category"}""")
      assert(code == 202, s"submit: $code $body")
      assert(body.asObj("status").str == "PENDING")
      val id = body.asObj("batchId").str

      await {
        val (c, b) = get(api.port, s"/batch/status/$id")
        c == 200 && b.asObj("status").str == "COMPLETED"
      }
      val (_, rec) = get(api.port, s"/batch/status/$id")
      val total = rec.asObj("rowCount") match { case JNum(n) => n.toLong; case _ => fail() }
      assert(total == 150L)

      // page walk: 60-row pages, ids unique and exhaustive, hasMore correct
      var offset = 0
      var ids = Vector.empty[String]
      var hasMore = true
      while (hasMore) {
        val (c, b) = get(api.port, s"/batch/data/$id?limit=60&offset=$offset")
        assert(c == 200)
        val o = b.asObj
        assert(o("batchId").str == id && o("status").str == "COMPLETED")
        val page = o("page").asObj
        val data = o("data") match { case JArr(items) => items; case _ => fail() }
        assert(page("returned") == JNum(BigDecimal(data.length)))
        ids ++= data.map(_.asObj("transaction_id").str)
        hasMore = page("hasMore") == JBool(true)
        offset += 60
      }
      assert(ids.length == 150 && ids.distinct.length == 150)
      assert(ids == ids.sorted, "pages must walk key order")

      // keyset walk over HTTP chains nextAfter and matches the offset walk
      var after: Option[String] = None
      var kIds = Vector.empty[String]
      var more = true
      while (more) {
        val path = s"/batch/data/$id?limit=60" +
          after.map(k => s"&after=$k").getOrElse("&after=")
        val (c, b) = get(api.port, path)
        assert(c == 200)
        val data = b.asObj("data") match { case JArr(items) => items; case _ => fail() }
        kIds ++= data.map(_.asObj("transaction_id").str)
        val page = b.asObj("page").asObj
        after = page.get("nextAfter").map(_.str)
        more = page("hasMore") == JBool(true) && data.nonEmpty
      }
      assert(kIds == ids, "HTTP keyset walk must equal the offset walk")

      // aggregated envelope
      val (ac, ab) = get(api.port, s"/batch/data/$id/aggregated")
      assert(ac == 200)
      assert(ab.asObj("analysisType").str == "revenue_by_category")
      val aggRows = ab.asObj("data") match { case JArr(items) => items; case _ => fail() }
      assert(aggRows.length == 3) // three categories in the fixture

      // list envelope
      val (lc, lb) = get(api.port, "/batch/list?status=COMPLETED")
      assert(lc == 200)
      assert((lb.asObj("total") match { case JNum(n) => n.toInt; case _ => fail() }) >= 1)

      // 409 BATCH_NOT_READY for a FAILED job
      val (_, fbody) = post(api.port, "/batch/run",
        """{"startDate":"2026-02-01","endDate":"2026-02-09",
           "analysisType":"revenue_by_category","filters":{"no_such_col":"x"}}""")
      val fid = fbody.asObj("batchId").str
      await(get(api.port, s"/batch/status/$fid")._2.asObj("status").str == "FAILED")
      val (nc, nb) = get(api.port, s"/batch/data/$fid")
      assert(nc == 409 && nb.asObj("error").str == "BATCH_NOT_READY")
      assert(nb.asObj("status").str == "FAILED")
    } finally api.stop()
  }

  test("aggregated endpoint: distributed pages, presentation rounding, clamped params") {
    // three payment methods with equal revenue → exact share is 33.333…%;
    // the HTTP boundary must render the reference's 2dp presentation
    // (ref AnalysisAggregator.scala:114) while internals stay unrounded.
    val src = Files.createTempDirectory("httppay").toString
    val rows = (1 to 9).map { i =>
      row(id = f"p$i%02d", customerId = s"C${i % 3}",
        paymentMethod = Seq("credit_card", "upi", "wallet")(i % 3),
        totalAmount = 10.0,
        eventTs = ts("2026-03-05 09:00:00"))
    }
    df(spark, rows: _*)
      .withColumn("event_date", to_date(col("event_timestamp")))
      .write.mode("overwrite").parquet(src)
    val reg = new BatchRegistry(None)
    val svc = new BatchService(spark, reg, Files.createTempDirectory("httppayb").toString)
    val api = new HttpApi(spark, svc, reg, src).start()
    try {
      val (c, b) = post(api.port, "/batch/run",
        """{"startDate":"2026-03-01","endDate":"2026-03-09","analysisType":"payment_analysis"}""")
      assert(c == 202, s"$c $b")
      val id = b.asObj("batchId").str
      await(get(api.port, s"/batch/status/$id")._2.asObj("status").str == "COMPLETED")

      val (ac, ab) = get(api.port, s"/batch/data/$id/aggregated")
      assert(ac == 200)
      val data = ab.asObj("data") match { case JArr(items) => items; case _ => fail() }
      assert(data.length == 3)
      val shares = data.map(_.asObj("revenue_share_pct") match {
        case JNum(n) => n; case other => fail(s"non-numeric share: $other")
      })
      // every rendered share is exactly 33.33 — 2dp, not 33.33333…
      assert(shares.forall(_ == BigDecimal("33.33")), s"shares not 2dp-rounded: $shares")
      // …while the stored aggregate keeps the unrounded double
      val stored = svc.readAggregated(id, "payment_analysis").toOption.get
        .select("revenue_share_pct").collect().map(_.getDouble(0))
      assert(stored.forall(s => math.abs(s - 100.0 / 3) < 1e-9), stored.mkString(","))

      // aggregated paging over HTTP: limit=2 pages walk all 3 groups in order
      val (p1c, p1b) = get(api.port, s"/batch/data/$id/aggregated?limit=2&offset=0")
      val (p2c, p2b) = get(api.port, s"/batch/data/$id/aggregated?limit=2&offset=2")
      assert(p1c == 200 && p2c == 200)
      def methods(v: JVal) = (v.asObj("data") match { case JArr(i) => i; case _ => fail() })
        .map(_.asObj("payment_method").str)
      assert(p1b.asObj("page").asObj("hasMore") == JBool(true))
      assert((methods(p1b) ++ methods(p2b)).sorted == Seq("credit_card", "upi", "wallet"))

      // a non-positive limit is a LOUD 400 (a clamp-to-zero would serve an
      // empty page with hasMore=true — an infinite client loop); negative
      // offsets still clamp to 0 rather than 500
      val (nc, nb) = get(api.port, s"/batch/data/$id?limit=-1&offset=-5")
      assert(nc == 400, s"$nc $nb")
      assert(nb.asObj("error").str == "INVALID_REQUEST")
      val (oc, _) = get(api.port, s"/batch/data/$id?limit=5&offset=-5")
      assert(oc == 200)
    } finally api.stop()
  }

  test("stream lifecycle: start, 409 on double-start, status, stop") {
    val api = newApi()
    try {
      val (c1, b1) = post(api.port, "/stream/start")
      assert(c1 == 200 && b1.asObj("status").str == "started")
      val qids = b1.asObj("queryIds") match { case JArr(items) => items; case _ => fail() }
      assert(qids.nonEmpty)

      val (c2, b2) = post(api.port, "/stream/start")
      assert(c2 == 409 && b2.asObj("error").str == "STREAM_ALREADY_RUNNING")

      val (sc, sb) = get(api.port, "/stream/status")
      assert(sc == 200 && sb.asObj("active") == JBool(true))

      val (tc, tb) = post(api.port, "/stream/stop")
      assert(tc == 200 && tb.asObj("queriesStopped") == JNum(BigDecimal(1)))
      assert(get(api.port, "/stream/status")._2.asObj("active") == JBool(false))

      // idempotent stop reports zero with a message
      val (t2c, t2b) = post(api.port, "/stream/stop")
      assert(t2c == 200 && t2b.asObj("queriesStopped") == JNum(BigDecimal(0)))
      assert(t2b.asObj("message").str.nonEmpty)

      // restart allowed after stop
      assert(post(api.port, "/stream/start")._1 == 200)
    } finally api.stop()
  }

  test("a failed maintenance submission releases the single-flight claim") {
    val reg = new graft.batch.BatchRegistry()
    val m = graft.core.GraftConfig.Maintenance(
      128L * 1024 * 1024, 0L, 10, 2, 86400000L, Seq.empty, "zorder")
    val out = Files.createTempDirectory("maint-claim").toString
    val svc = new graft.batch.MaintenanceService(spark, reg, m, out)
    svc.shutdown() // submission will be rejected by the executor
    intercept[java.util.concurrent.RejectedExecutionException] {
      svc.submit("/tmp/maint-claim-t", "stats", Map("column" -> "v"))
    }
    // the claim must have been released: a retry fails the same LOUD way
    // instead of 409ing forever on a ghost run
    intercept[java.util.concurrent.RejectedExecutionException] {
      svc.submit("/tmp/maint-claim-t", "stats", Map("column" -> "v"))
    }
  }

  test("maintenance route: run -> registry lifecycle -> ops report") {
    // own table: the run writes a _graft_bloom sidecar, so don't mutate the
    // shared sourcePath fixture other tests scan
    val table = Files.createTempDirectory("httpmaint").toString
    val rows = (1 to 60).map { i =>
      row(id = f"m$i%03d", customerId = s"C${i % 7}",
        eventTs = ts(f"2026-03-${i % 5 + 1}%02d 09:00:00"))
    }
    df(spark, rows: _*)
      .withColumn("event_date", to_date(col("event_timestamp")))
      .repartition(4).write.partitionBy("event_date").mode("overwrite").parquet(table)
    val api = newApi()
    try {
      // client errors are loud and typed
      val (bc1, bb1) = post(api.port, "/maintenance/run",
        s"""{"mode":"defrag","table":"$table"}""")
      assert(bc1 == 400 && bb1.asObj("message").str.contains("Unknown mode"))
      val (bc2, bb2) = post(api.port, "/maintenance/run",
        s"""{"mode":"bloom","table":"$table"}""")
      assert(bc2 == 400 && bb2.asObj("message").str.contains("requires option: column"))
      assert(post(api.port, "/maintenance/run", """{"mode":"bloom"}""")._1 == 400)
      assert(get(api.port, "/maintenance/status/maint-nope")._1 == 404)

      // accepted run: 202 + PENDING, drives the Maintain bloom op
      val (c, b) = post(api.port, "/maintenance/run",
        s"""{"mode":"bloom","table":"$table","column":"customer_id"}""")
      assert(c == 202 && b.asObj("status").str == "PENDING", s"got $c $b")
      val id = b.asObj("maintenanceId").str
      assert(id.startsWith("maint-"))

      await(get(api.port, s"/maintenance/status/$id")._2.asObj("status").str == "COMPLETED")
      val (sc, sb) = get(api.port, s"/maintenance/status/$id")
      assert(sc == 200)
      val rec = sb.asObj
      assert(rec("analysisType").str == "maintenance:bloom")
      assert(rec("filters").asObj("table").str == table)
      val ops = rec("ops") match { case JArr(items) => items.map(_.asObj); case _ => fail() }
      // mode op + the three shared sweeps, same lines the CLI prints
      assert(ops.map(_("op").str) ==
        Vector("bloom-refresh", "txn-truncate", "history-vacuum", "registry-sweep"))
      val bloom = ops.head
      assert(bloom("filesIndexed") == bloom("filesTotal") &&
        bloom("filesTotal").asInstanceOf[JNum].v > 0)
      // the op really ran: sidecar on disk, and a second run reuses it
      assert(new java.io.File(s"$table/_graft_bloom/customer_id").isDirectory)

      // same registry: the run is visible through the batch surface too
      assert(get(api.port, s"/batch/status/$id")._1 == 200)

      val (c2, b2) = post(api.port, "/maintenance/run",
        s"""{"mode":"bloom","table":"$table","column":"customer_id"}""")
      assert(c2 == 202)
      val id2 = b2.asObj("maintenanceId").str
      await(get(api.port, s"/maintenance/status/$id2")._2.asObj("status").str == "COMPLETED")
      val ops2 = get(api.port, s"/maintenance/status/$id2")._2.asObj("ops") match {
        case JArr(items) => items.map(_.asObj); case _ => fail()
      }
      // incremental refresh: every file already indexed, none re-read
      assert(ops2.head("filesIndexed") == JNum(BigDecimal(0)))

      // the stats mode drives the min/max zone-map refresh over the same
      // route (footer-only build on first run)
      val (c3, b3) = post(api.port, "/maintenance/run",
        s"""{"mode":"stats","table":"$table","column":"total_amount"}""")
      assert(c3 == 202, s"got $c3 $b3")
      val id3 = b3.asObj("maintenanceId").str
      await(get(api.port, s"/maintenance/status/$id3")._2.asObj("status").str == "COMPLETED")
      val ops3 = get(api.port, s"/maintenance/status/$id3")._2.asObj("ops") match {
        case JArr(items) => items.map(_.asObj); case _ => fail()
      }
      assert(ops3.head("op").str == "stats-refresh")
      assert(ops3.head("filesTotal").asInstanceOf[JNum].v > 0)
      assert(new java.io.File(s"$table/_graft_stats/total_amount").isDirectory)

      // the composed ANN index maintains over the same route: first run
      // builds, the table is tiny so it completes in-request time
      val vecTable = Files.createTempDirectory("httpivfpq").toString + "/vectors"
      graft.batch.Upsert.mergeByKey(spark, vecTable,
        spark.range(60).select(col("id").as("vec_id"),
          concat(lit("s"), pmod(col("id"), lit(2)).cast("string")).as("shard"),
          expr("transform(sequence(0, 63), i -> " +
            "CAST(sin(CAST(vec_id * 64 + i AS DOUBLE)) AS FLOAT))").as("embedding")),
        "shard", Seq("vec_id"))
      val idxDir = Files.createTempDirectory("httpivfpq-idx").toString
      val (c4, b4) = post(api.port, "/maintenance/run",
        s"""{"mode":"ivfpq","table":"$vecTable","partCol":"shard","indexDir":"$idxDir"}""")
      assert(c4 == 202, s"got $c4 $b4")
      val id4 = b4.asObj("maintenanceId").str
      await(get(api.port, s"/maintenance/status/$id4")._2.asObj("status").str == "COMPLETED")
      val ops4 = get(api.port, s"/maintenance/status/$id4")._2.asObj("ops") match {
        case JArr(items) => items.map(_.asObj); case _ => fail()
      }
      assert(ops4.head("op").str == "ivfpq-sync")
      assert(ops4.head("rebuilt") == JBool(true))
      assert(new java.io.File(s"$idxDir/codes").isDirectory)

      // RESTORE VERSION AS OF over the same route: churn the vector
      // table, roll it back, verify the rollback committed
      val vGood = graft.core.TxnLog.currentVersion(spark, vecTable)
      graft.batch.Upsert.mergeByKey(spark, vecTable,
        spark.range(60, 63).select(col("id").as("vec_id"),
          concat(lit("s"), pmod(col("id"), lit(2)).cast("string")).as("shard"),
          expr("transform(sequence(0, 63), i -> " +
            "CAST(sin(CAST(vec_id * 64 + i AS DOUBLE)) AS FLOAT))").as("embedding")),
        "shard", Seq("vec_id"))
      val (c5, b5) = post(api.port, "/maintenance/run",
        s"""{"mode":"restore","table":"$vecTable","partCol":"shard",""" +
          s""""version":"$vGood","keys":"vec_id"}""")
      assert(c5 == 202, s"got $c5 $b5")
      val id5 = b5.asObj("maintenanceId").str
      await(get(api.port, s"/maintenance/status/$id5")._2.asObj("status").str == "COMPLETED")
      val ops5 = get(api.port, s"/maintenance/status/$id5")._2.asObj("ops") match {
        case JArr(items) => items.map(_.asObj); case _ => fail()
      }
      assert(ops5.head("op").str == "restore")
      assert(graft.batch.Upsert.readCommitted(spark, vecTable, "shard")
        .count() == 60L, "the churn rows must be rolled back")

      // deep CLONE over the same route
      val cloneDst = Files.createTempDirectory("httpclone").toString + "/t"
      val (c6, b6) = post(api.port, "/maintenance/run",
        s"""{"mode":"clone","table":"$vecTable","partCol":"shard",""" +
          s""""dstDir":"$cloneDst"}""")
      assert(c6 == 202, s"got $c6 $b6")
      val id6 = b6.asObj("maintenanceId").str
      await(get(api.port, s"/maintenance/status/$id6")._2.asObj("status").str == "COMPLETED")
      val ops6 = get(api.port, s"/maintenance/status/$id6")._2.asObj("ops") match {
        case JArr(items) => items.map(_.asObj); case _ => fail()
      }
      assert(ops6.head("op").str == "clone")
      assert(ops6.head("rows") == JNum(BigDecimal(60)))
      assert(spark.read.parquet(cloneDst).count() == 60L)

      // REORG APPLY (PURGE) over the same route: a vectored delete leaves
      // bytes behind; the reorg run materializes them out of the one
      // DV-carrying partition
      import spark.implicits._
      graft.batch.DeletionVectors.deleteVectored(spark, vecTable,
        Seq(("s0", 0L)).toDF("shard", "vec_id"), "shard", Seq("vec_id"))
      // missing partCol is a 400 (the submit-time option check), never a
      // worker-side crash
      assert(post(api.port, "/maintenance/run",
        s"""{"mode":"reorg","table":"$vecTable"}""")._1 == 400)
      val (c7, b7) = post(api.port, "/maintenance/run",
        s"""{"mode":"reorg","table":"$vecTable","partCol":"shard"}""")
      assert(c7 == 202, s"got $c7 $b7")
      val id7 = b7.asObj("maintenanceId").str
      await(get(api.port, s"/maintenance/status/$id7")._2.asObj("status").str == "COMPLETED")
      val ops7 = get(api.port, s"/maintenance/status/$id7")._2.asObj("ops") match {
        case JArr(items) => items.map(_.asObj); case _ => fail()
      }
      assert(ops7.head("op").str == "reorg-purge")
      assert(ops7.head("partitionsRewritten") == JNum(BigDecimal(1)))
      assert(spark.read.parquet(s"$vecTable/shard=s0")
        .filter(col("vec_id") === 0L).isEmpty,
        "the purged partition's files must no longer bear the deleted row")

      // CONVERT TO over the same route: adopt a plain partitioned dir.
      // Regression: 'convert' is in Maintain.modes but the service's
      // option mapping once lacked its case — submit threw a MatchError
      // (500-shaped) instead of launching; missing partCol must be a 400.
      val convDir = Files.createTempDirectory("httpconv").toString + "/t"
      Seq(("d1", 1L, 1.0), ("d2", 2L, 2.0)).toDF("day", "k", "v")
        .write.partitionBy("day").parquet(convDir)
      assert(post(api.port, "/maintenance/run",
        s"""{"mode":"convert","table":"$convDir"}""")._1 == 400)
      val (c8, b8) = post(api.port, "/maintenance/run",
        s"""{"mode":"convert","table":"$convDir","partCol":"day"}""")
      assert(c8 == 202, s"got $c8 $b8")
      val id8 = b8.asObj("maintenanceId").str
      await(get(api.port, s"/maintenance/status/$id8")._2.asObj("status").str == "COMPLETED")
      val ops8 = get(api.port, s"/maintenance/status/$id8")._2.asObj("ops") match {
        case JArr(items) => items.map(_.asObj); case _ => fail()
      }
      assert(ops8.head("op").str == "convert")
      assert(graft.core.TxnLog.currentVersion(spark, convDir) >= 1L,
        "the adopted table must have a manifest")

      // liquid clustering over the same route: first run registers the
      // CLUSTER BY spec inline and lays out all partitions; a second run
      // on the quiet table is O(0) — the txn log vouches, no candidates
      val (cL, bL) = post(api.port, "/maintenance/run",
        s"""{"mode":"cluster","table":"$vecTable","partCol":"shard",""" +
          s""""cols":"vec_id"}""")
      assert(cL == 202, s"got $cL $bL")
      val idL = bL.asObj("maintenanceId").str
      await(get(api.port, s"/maintenance/status/$idL")._2.asObj("status").str == "COMPLETED")
      val opsL = get(api.port, s"/maintenance/status/$idL")._2.asObj("ops") match {
        case JArr(items) => items.map(_.asObj); case _ => fail()
      }
      assert(opsL.head("op").str == "cluster")
      assert(opsL.head("mode").str == "full")
      val (cL2, bL2) = post(api.port, "/maintenance/run",
        s"""{"mode":"cluster","table":"$vecTable","partCol":"shard"}""")
      assert(cL2 == 202, s"got $cL2 $bL2")
      val idL2 = bL2.asObj("maintenanceId").str
      await(get(api.port, s"/maintenance/status/$idL2")._2.asObj("status").str == "COMPLETED")
      val opsL2 = get(api.port, s"/maintenance/status/$idL2")._2.asObj("ops") match {
        case JArr(items) => items.map(_.asObj); case _ => fail()
      }
      assert(opsL2.head("mode").str == "incremental" &&
        opsL2.head("candidates") == JNum(BigDecimal(0)),
        s"quiet table must list nothing: ${opsL2.head}")

      // incremental materialized view over the same route: registered
      // programmatically, refreshed by the maintenance run off the CDF
      val mvDir = Files.createTempDirectory("httpmv").toString + "/v"
      graft.batch.IncrementalView.register(spark, mvDir, vecTable, "shard",
        Seq("shard", "vec_id"), Seq.empty, "shard")
      val (cV, bV) = post(api.port, "/maintenance/run",
        s"""{"mode":"view","table":"$mvDir"}""")
      assert(cV == 202, s"got $cV $bV")
      val idV = bV.asObj("maintenanceId").str
      await(get(api.port, s"/maintenance/status/$idV")._2.asObj("status").str == "COMPLETED")
      val opsV = get(api.port, s"/maintenance/status/$idV")._2.asObj("ops") match {
        case JArr(items) => items.map(_.asObj); case _ => fail()
      }
      assert(opsV.head("op").str == "view-sync")
      val mvRows = graft.batch.Upsert.readCommitted(spark, mvDir, "shard")
      val mvWant = graft.batch.IncrementalView.aggregateOf(
        graft.batch.Upsert.readCommitted(spark, vecTable, "shard"),
        Seq("shard", "vec_id"), Seq.empty)
      assert(mvRows.select("shard", "vec_id", "n_rows")
        .except(mvWant.select("shard", "vec_id", "n_rows")).isEmpty,
        "the synced view must equal its definition")

      // SCD2 mirror over the same route: sync a dimension off the vector
      // table's change feed (full option set required — missing keys is a
      // 400, never a worker crash)
      assert(post(api.port, "/maintenance/run",
        s"""{"mode":"scd2","table":"$vecTable","partCol":"shard"}""")._1 == 400)
      val scd2Dim = Files.createTempDirectory("httpscd2").toString + "/d"
      val (c9, b9) = post(api.port, "/maintenance/run",
        s"""{"mode":"scd2","table":"$vecTable","partCol":"shard",""" +
          s""""keys":"vec_id","dimDir":"$scd2Dim"}""")
      assert(c9 == 202, s"got $c9 $b9")
      val id9 = b9.asObj("maintenanceId").str
      await(get(api.port, s"/maintenance/status/$id9")._2.asObj("status").str == "COMPLETED")
      val ops9 = get(api.port, s"/maintenance/status/$id9")._2.asObj("ops") match {
        case JArr(items) => items.map(_.asObj); case _ => fail()
      }
      assert(ops9.head("op").str == "scd2-sync")
      // bootstrap: every current source row opened a mirror version, and
      // the mirror's current slice equals the source snapshot
      val srcRows = graft.batch.Upsert.readCommitted(spark, vecTable, "shard").count()
      assert(graft.batch.Upsert.readCommitted(spark, scd2Dim, "shard")
        .filter(col(graft.batch.Scd2Mirror.ValidTo).isNull).count() == srcRows)

      // dedup band index over the same route: the ivf-family option shape
      val dedupT = Files.createTempDirectory("httpdedup").toString + "/t"
      graft.batch.Upsert.mergeByKey(spark, dedupT,
        (0L until 10L).map(i =>
          (i, s"s${i % 2}", (0 until 30).map(j => s"d${i}w$j").mkString(" ")))
          .toDF("doc_id", "src", "text"),
        "src", Seq("doc_id"))
      val dedupIdx = Files.createTempDirectory("httpdedup-idx").toString
      val (c10, b10) = post(api.port, "/maintenance/run",
        s"""{"mode":"dedup","table":"$dedupT","partCol":"src",""" +
          s""""indexDir":"$dedupIdx"}""")
      assert(c10 == 202, s"got $c10 $b10")
      val id10 = b10.asObj("maintenanceId").str
      await(get(api.port, s"/maintenance/status/$id10")._2.asObj("status").str == "COMPLETED")
      val ops10 = get(api.port, s"/maintenance/status/$id10")._2.asObj("ops") match {
        case JArr(items) => items.map(_.asObj); case _ => fail()
      }
      assert(ops10.head("op").str == "dedup-sync")
      assert(ops10.head("rebuilt") == JBool(true))
      assert(new java.io.File(s"$dedupIdx/bands").isDirectory)
    } finally api.stop()
  }

  test("table history route: DESCRIBE HISTORY over the API, newest first") {
    import spark.implicits._
    val t = Files.createTempDirectory("httphist").toString + "/t"
    graft.batch.Upsert.mergeByKey(spark, t,
      Seq(("2026-05-01", 1L, 1.0)).toDF("day", "k", "v"), "day", Seq("k"))
    graft.batch.Upsert.mergeByKey(spark, t,
      Seq(("2026-05-01", 1L, 2.0)).toDF("day", "k", "v"), "day", Seq("k"))
    val api = newApi()
    try {
      assert(get(api.port, "/table/history")._1 == 400)
      // a typo'd path must 404, never read as a healthy empty history
      assert(get(api.port, "/table/history?table=/tmp/no-such-graft-table")._1 == 404)
      val (c, b) = get(api.port,
        s"/table/history?table=${java.net.URLEncoder.encode(t, "UTF-8")}&limit=3")
      assert(c == 200, s"got $c $b")
      val hist = b.asObj("history") match {
        case JArr(items) => items.map(_.asObj); case _ => fail()
      }
      assert(hist.size == 3, s"limit honored: ${hist.size}")
      val versions = hist.map(_("version").asInstanceOf[JNum].v.toLong)
      assert(versions == versions.sorted.reverse, "newest first")
      assert(hist.head("operation").str == "upsert-end")
      assert(hist.head("partitions") == JArr(Vector(JStr("2026-05-01"))))
      // the programmatic twin agrees
      val df = graft.batch.Upsert.history(spark, t, limit = 3)
      assert(df.columns.toSeq == Seq("version", "operation", "partitions",
        "timestamp", "ref", "all_partitions", "txn"))
      assert(df.select("version").collect().map(_.getLong(0)).toSeq == versions)

      // DESCRIBE DETAIL over the API: driver metadata only
      graft.batch.Constraints.add(spark, t, "v_pos", "v > 0")
      graft.core.StatsIndex.build(spark, t, "v")
      assert(get(api.port, "/table/detail")._1 == 400)
      assert(get(api.port, "/table/detail?table=/tmp/no-such-graft-table")._1 == 404)
      val (dc, db) = get(api.port,
        s"/table/detail?table=${java.net.URLEncoder.encode(t, "UTF-8")}")
      assert(dc == 200, s"got $dc $db")
      val det = db.asObj
      assert(det("numFiles").asInstanceOf[JNum].v > 0)
      assert(det("sizeInBytes").asInstanceOf[JNum].v > 0)
      assert(det("numPartitions") == JNum(BigDecimal(1)))
      assert(det("version").asInstanceOf[JNum].v.toLong ==
        graft.core.TxnLog.currentVersion(spark, t))
      assert(det("constraints") == JArr(Vector(JStr("v_pos CHECK (v > 0)"))))
      assert(det("statsIndexes") == JArr(Vector(JStr("v"))))
      assert(det("pendingDvSidecars") == JNum(BigDecimal(0)))
      // r17 surfaces: declared table features + expectation rules/counts
      det("tableFeatures") match {
        case JArr(fs) =>
          assert(fs.contains(JStr("check-constraints (writer)")) &&
            fs.contains(JStr("in-commit-timestamps (writer)")), s"$fs")
        case other => fail(s"tableFeatures: $other")
      }
      graft.batch.Expectations.add(spark, t, "v_cap", "v < 1000000")
      graft.batch.Upsert.mergeByKey(spark, t,
        Seq(("2026-05-01", 2L, 3.0)).toDF("day", "k", "v"), "day", Seq("k"))
      val det2 = get(api.port,
        s"/table/detail?table=${java.net.URLEncoder.encode(t, "UTF-8")}")._2.asObj
      assert(det2("expectations") ==
        JArr(Vector(JStr("v_cap EXPECT (v < 1000000)"))), det2("expectations"))
      det2("lastExpectCounts") match {
        case JArr(cs) =>
          assert(cs.size == 1 && cs.head.str.startsWith("v_cap=0 @v"), s"$cs")
        case other => fail(s"lastExpectCounts: $other")
      }
      // r19 surface: declared type widenings render (none on this table)
      assert(det2("typeWidenings") == JArr(Vector()), det2("typeWidenings"))

      // shallow-clone state on the detail surface: the clone names its
      // source + pin + localized count, the source names its live pins
      val scDst = Files.createTempDirectory("httpsc").toString + "/t"
      graft.batch.ShallowClone.create(spark, t, scDst, "day")
      val detSrc = get(api.port,
        s"/table/detail?table=${java.net.URLEncoder.encode(t, "UTF-8")}")._2.asObj
      detSrc("cloneState") match {
        case JArr(cs) => assert(cs.exists(_.str.startsWith(s"<- $scDst @v")), s"$cs")
        case other => fail(s"cloneState: $other")
      }
      val detClone = get(api.port,
        s"/table/detail?table=${java.net.URLEncoder.encode(scDst, "UTF-8")}")._2.asObj
      detClone("cloneState") match {
        case JArr(cs) =>
          assert(cs.exists(s => s.str.contains(t) &&
            s.str.contains("0 localized")), s"$cs")
        case other => fail(s"cloneState: $other")
      }

      // DROP FEATURE over the API: 409 + the clearing verb while residue
      // remains, 200 once cleared, 400 on an unknown feature
      val dropBody =
        s"""{"table":"$t","feature":"check-constraints"}"""
      val (rc, rb) = post(api.port, "/table/feature/drop", dropBody)
      assert(rc == 409 && rb.asObj("message").str.contains("v_pos"),
        s"residue must 409 naming the constraint: $rc $rb")
      graft.batch.Constraints.drop(spark, t, "v_pos")
      val (okc, okb) = post(api.port, "/table/feature/drop", dropBody)
      assert(okc == 200 && okb.asObj("dropped").str == "check-constraints",
        s"$okc $okb")
      assert(post(api.port, "/table/feature/drop",
        s"""{"table":"$t","feature":"no-such-feature"}""")._1 == 400)
      assert(post(api.port, "/table/feature/drop", "{}")._1 == 400)
    } finally api.stop()
  }

  test("versioned reads over the API: /table/data asOf + /table/changes") {
    import spark.implicits._
    val t = Files.createTempDirectory("httpasof").toString + "/t"
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    graft.batch.Upsert.mergeByKey(spark, t,
      (1 to 30).map(i => (s"2026-05-0${i % 2 + 1}", i.toLong, i * 1.0))
        .toDF("day", "k", "v"), "day", Seq("k"))
    val v1 = graft.core.TxnLog.currentVersion(spark, t)
    graft.batch.Upsert.mergeByKey(spark, t,
      Seq(("2026-05-01", 2L, 99.0), ("2026-05-01", 100L, 100.0))
        .toDF("day", "k", "v"), "day", Seq("k"))
    val api = newApi()
    try {
      // parameter validation + existence probe
      assert(get(api.port, "/table/data")._1 == 400)
      assert(get(api.port, s"/table/data?table=${enc(t)}")._1 == 400)
      assert(get(api.port,
        "/table/data?table=/tmp/no-such-graft-table&partCol=day")._1 == 404)
      assert(get(api.port,
        s"/table/data?table=${enc(t)}&partCol=day&asOf=nope")._1 == 400)
      assert(get(api.port,
        s"/table/data?table=${enc(t)}&partCol=day&asOf=999")._1 == 400,
        "a version beyond the tip is a client error")

      // asOf page ≡ programmatic readAsOf (keyset walk over k)
      val (c1, b1) = get(api.port,
        s"/table/data?table=${enc(t)}&partCol=day&asOf=$v1&orderBy=k&limit=20&after=0")
      assert(c1 == 200, s"got $c1 $b1")
      val o1 = b1.asObj
      assert(o1("version") == JNum(BigDecimal(v1)))
      val rows1 = o1("data") match { case JArr(r) => r.map(_.asObj); case _ => fail() }
      assert(rows1.size == 20)
      val nextAfter = o1("page").asObj("nextAfter").str
      val (c2, b2) = get(api.port,
        s"/table/data?table=${enc(t)}&partCol=day&asOf=$v1&orderBy=k&limit=20" +
          s"&after=${enc(nextAfter)}")
      assert(c2 == 200)
      val rows2 = b2.asObj("data") match { case JArr(r) => r.map(_.asObj); case _ => fail() }
      val served = (rows1 ++ rows2).map(r =>
        (r("k").asInstanceOf[JNum].v.toLong, r("v").asInstanceOf[JNum].v.toDouble))
      val programmatic = graft.batch.Upsert.readAsOf(spark, t, v1, "day")
        .select("k", "v").as[(Long, Double)].collect().toSeq
      assert(served.toSet == programmatic.toSet &&
        served.size == programmatic.size,
        "asOf pages must reunite to exactly the programmatic snapshot")
      assert(served.exists { case (k, v) => k == 2L && v == 1.0 * 2 },
        "the pre-merge value must be served at v1")
      assert(!served.exists(_._1 == 100L), "the post-v1 insert must be absent")

      // the tip (no asOf) serves the merged state
      val (c3, b3) = get(api.port,
        s"/table/data?table=${enc(t)}&partCol=day&orderBy=k&limit=100")
      assert(c3 == 200)
      val tipRows = b3.asObj("data") match { case JArr(r) => r.map(_.asObj); case _ => fail() }
      assert(tipRows.size == 31)
      assert(tipRows.exists(r => r("k").asInstanceOf[JNum].v.toLong == 2L &&
        r("v").asInstanceOf[JNum].v.toDouble == 99.0))

      // changes page ≡ programmatic readChanges
      assert(get(api.port, s"/table/changes?table=${enc(t)}&partCol=day")._1 == 400)
      assert(get(api.port,
        s"/table/changes?table=${enc(t)}&partCol=day&from=bad")._1 == 400)
      assert(get(api.port,
        s"/table/changes?table=${enc(t)}&partCol=day&from=$v1&to=999")._1 == 400)
      val (c4, b4) = get(api.port,
        s"/table/changes?table=${enc(t)}&partCol=day&from=$v1&limit=100")
      assert(c4 == 200, s"got $c4 $b4")
      val chg = b4.asObj("data") match { case JArr(r) => r.map(_.asObj); case _ => fail() }
      val servedChanges = chg.map(r => (r("k").asInstanceOf[JNum].v.toLong,
        r("v").asInstanceOf[JNum].v.toDouble, r("_change_type").str))
      val progChanges = graft.batch.ChangeFeed.readChanges(spark, t, "day", v1)
        .select("k", "v", graft.batch.ChangeFeed.ChangeTypeCol)
        .as[(Long, Double, String)].collect().toSeq
      assert(servedChanges.toSet == progChanges.toSet &&
        servedChanges.size == progChanges.size,
        s"changes page must equal readChanges: $servedChanges vs $progChanges")
      assert(servedChanges.contains((2L, 2.0, "delete")) &&
        servedChanges.contains((2L, 99.0, "insert")) &&
        servedChanges.contains((100L, 100.0, "insert")))

      // order=desc: the "latest N first" walk — offset first page, then
      // keyset seek DOWN from its last key; bogus directions are 400s
      val (d1, db1) = get(api.port,
        s"/table/data?table=${enc(t)}&partCol=day&orderBy=k&order=desc&limit=2")
      assert(d1 == 200)
      val dRows1 = db1.asObj("data") match { case JArr(r) => r.map(_.asObj); case _ => fail() }
      assert(dRows1.map(_("k").asInstanceOf[JNum].v.toLong) == Vector(100L, 30L))
      val (d2, db2) = get(api.port, s"/table/data?table=${enc(t)}&partCol=day" +
        "&orderBy=k&order=desc&limit=2&after=30")
      assert(d2 == 200)
      val dRows2 = db2.asObj("data") match { case JArr(r) => r.map(_.asObj); case _ => fail() }
      assert(dRows2.map(_("k").asInstanceOf[JNum].v.toLong) == Vector(29L, 28L))
      assert(db2.asObj("page").asObj("nextAfter").str == "28")
      assert(get(api.port,
        s"/table/data?table=${enc(t)}&partCol=day&orderBy=k&order=sideways")._1 == 400)
    } finally api.stop()
  }

  test("keyset cursors: typed after=, timestamp walk, run trimming, tiebreak") {
    import spark.implicits._
    val t = Files.createTempDirectory("httpkeyset").toString + "/t"
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    // 40 rows; grp repeats in runs of 4 (non-unique), ts strictly increasing
    graft.batch.Upsert.mergeByKey(spark, t,
      (1 to 40).map(i => ("2026-07-01", i.toLong, ((i - 1) / 4 + 1).toLong,
          java.sql.Timestamp.valueOf(f"2026-07-01 00:00:$i%02d")))
        .toDF("day", "k", "grp", "ts"), "day", Seq("k"))
    val api = newApi()
    try {
      val base = s"/table/data?table=${enc(t)}&partCol=day"

      // a cursor the orderBy column's type cannot parse is a loud 400 —
      // previously `col(k) > "garbage"` coerced through double and served
      // a silently empty page
      val (gc, gb) = get(api.port, s"$base&orderBy=k&limit=10&after=garbage")
      assert(gc == 400 && gb.asObj("error") == JStr("INVALID_CURSOR"), s"$gc $gb")
      assert(get(api.port, s"$base&orderBy=k&tiebreak=ts&limit=10" +
        "&after=5&afterTie=garbage")._1 == 400)
      // afterTie without tiebreak, tiebreak without orderBy, tiebreak == orderBy
      assert(get(api.port, s"$base&orderBy=k&limit=10&after=5&afterTie=1")._1 == 400)
      assert(get(api.port, s"$base&tiebreak=k&limit=10")._1 == 400)
      assert(get(api.port, s"$base&orderBy=k&tiebreak=k&limit=10")._1 == 400)

      // timestamp-ordered keyset walk == offset walk, page-identical: the
      // ISO cursor echoed in nextAfter round-trips through the typed cast
      def offsetWalk(ob: String): Vector[Long] = {
        var out = Vector.empty[Long]; var off = 0; var more = true
        while (more) {
          val (c, b) = get(api.port, s"$base&orderBy=$ob&tiebreak=k&limit=7&offset=$off")
          assert(c == 200)
          val data = b.asObj("data") match { case JArr(r) => r; case _ => fail() }
          out ++= data.map(_.asObj("k").asInstanceOf[JNum].v.toLong)
          more = b.asObj("page").asObj("hasMore") == JBool(true); off += 7
        }
        out
      }
      var tsWalk = Vector.empty[Long]
      var cursor = enc("2026-06-30T00:00:00.000Z")
      var more = true
      while (more) {
        val (c, b) = get(api.port, s"$base&orderBy=ts&limit=7&after=$cursor")
        assert(c == 200, s"$c $b")
        val data = b.asObj("data") match { case JArr(r) => r; case _ => fail() }
        tsWalk ++= data.map(_.asObj("k").asInstanceOf[JNum].v.toLong)
        val page = b.asObj("page").asObj
        more = page("hasMore") == JBool(true)
        page.get("nextAfter").foreach(n => cursor = enc(n.str))
      }
      assert(tsWalk == offsetWalk("ts"),
        "timestamp keyset walk must be page-identical to offset paging")
      assert(tsWalk == (1L to 40L).toVector)

      // non-unique orderBy, run (4) narrower than the page (6): the page
      // boundary lands inside a run -> the page trims back to the last
      // complete run and the walk loses NOTHING (the r14 advisory's silent
      // data loss, now impossible)
      var grpWalk = Vector.empty[Long]
      cursor = "0"; more = true
      var sawTrimmed = false
      while (more) {
        val (c, b) = get(api.port, s"$base&orderBy=grp&limit=6&after=$cursor")
        assert(c == 200, s"$c $b")
        val data = b.asObj("data") match { case JArr(r) => r; case _ => fail() }
        val page = b.asObj("page").asObj
        if (page("hasMore") == JBool(true) &&
            page("returned").asInstanceOf[JNum].v.toInt < 6) sawTrimmed = true
        grpWalk ++= data.map(_.asObj("k").asInstanceOf[JNum].v.toLong)
        more = page("hasMore") == JBool(true)
        page.get("nextAfter").foreach(n => cursor = n.str)
      }
      assert(grpWalk.sorted == (1L to 40L).toVector,
        s"non-unique keyset walk must not skip or duplicate rows: $grpWalk")
      assert(sawTrimmed, "a 6-row page over 4-row runs must trim at least once")

      // a run WIDER than the whole page cannot be trimmed -> loud 400
      // naming the fix, never a silent skip
      val (ac, ab) = get(api.port, s"$base&orderBy=grp&limit=3&after=0")
      assert(ac == 400 && ab.asObj("error") == JStr("AMBIGUOUS_ORDER"), s"$ac $ab")
      assert(ab.asObj("message").str.contains("tiebreak"))

      // tiebreak=k makes the same limit=3 walk total: composite cursor
      // (after+afterTie), full pages, nothing lost
      var tbWalk = Vector.empty[Long]
      var aCur = "0"; var tCur = "0"; more = true
      while (more) {
        val (c, b) = get(api.port,
          s"$base&orderBy=grp&tiebreak=k&limit=3&after=$aCur&afterTie=$tCur")
        assert(c == 200, s"$c $b")
        val data = b.asObj("data") match { case JArr(r) => r; case _ => fail() }
        tbWalk ++= data.map(_.asObj("k").asInstanceOf[JNum].v.toLong)
        val page = b.asObj("page").asObj
        more = page("hasMore") == JBool(true) && data.nonEmpty
        page.get("nextAfter").foreach(n => aCur = n.str)
        page.get("nextAfterTie").foreach(n => tCur = n.str)
      }
      assert(tbWalk == (1L to 40L).toVector,
        s"tiebreak walk must serve every row exactly once in order: $tbWalk")
    } finally api.stop()
  }

  test("cursor-less first page starts a keyset walk; NULL keys live only there") {
    import spark.implicits._
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    // same shape as the keyset fixture: k unique, grp in runs of 4
    val t = Files.createTempDirectory("httpkeyset0").toString + "/t"
    graft.batch.Upsert.mergeByKey(spark, t,
      (1 to 40).map(i => ("2026-07-01", i.toLong, ((i - 1) / 4 + 1).toLong))
        .toDF("day", "k", "grp"), "day", Seq("k"))
    // and a table whose v column has a NULL run (k 1..3)
    val tn = Files.createTempDirectory("httpnulls").toString + "/t"
    graft.batch.Upsert.mergeByKey(spark, tn,
      (1 to 10).map(i => ("2026-07-01", i.toLong,
          if (i <= 3) None else Some(i.toLong)))
        .toDF("day", "k", "v"), "day", Seq("k"))
    val api = newApi()
    try {
      val base = s"/table/data?table=${enc(t)}&partCol=day"
      val baseN = s"/table/data?table=${enc(tn)}&partCol=day"

      // page 1 without after= echoes nextAfter: no manufactured
      // below-minimum cursor needed to start the walk
      var cursor: Option[String] = None
      var walk = Vector.empty[Long]; var more = true
      while (more) {
        val (c, b) = get(api.port, s"$base&orderBy=k&limit=7" +
          cursor.map(a => s"&after=$a").getOrElse(""))
        assert(c == 200, s"$c $b")
        val data = b.asObj("data") match { case JArr(r) => r; case _ => fail() }
        walk ++= data.map(_.asObj("k").asInstanceOf[JNum].v.toLong)
        val page = b.asObj("page").asObj
        more = page("hasMore") == JBool(true)
        page.get("nextAfter").foreach(n => cursor = Some(enc(n.str)))
      }
      assert(walk == (1L to 40L).toVector,
        s"a walk started from the cursor-less first page serves everything: $walk")

      // the probe row makes hasMore EXACT: an exactly-full final page no
      // longer reports hasMore=true and costs the client an empty fetch
      val (fc, fb) = get(api.port, s"$base&orderBy=k&limit=40")
      assert(fc == 200 && fb.asObj("page").asObj("hasMore") == JBool(false))
      assert(fb.asObj("page").asObj("nextAfter") == JStr("40"))

      // first-page boundary splitting a grp run: the cursor is WITHHELD
      // (resuming after=2 would skip half of run 2) and cursorNote names
      // the fix — rows are untrimmed, so offset clients are unaffected
      val (sc, sb) = get(api.port, s"$base&orderBy=grp&limit=6")
      assert(sc == 200, s"$sc $sb")
      val sPage = sb.asObj("page").asObj
      assert(sPage.get("nextAfter").isEmpty,
        s"a run-splitting first page must not emit a skipping cursor: $sPage")
      assert(sPage("cursorNote").str.contains("tiebreak"))
      assert(sb.asObj("data").asInstanceOf[JArr].items.length == 6)

      // with tiebreak the same first page IS resumable: composite cursor
      // from page 1, then the documented after+afterTie walk
      var aCur: Option[(String, String)] = None
      var tbWalk = Vector.empty[Long]; more = true
      while (more) {
        val (c, b) = get(api.port, s"$base&orderBy=grp&tiebreak=k&limit=6" +
          aCur.map { case (a, at) => s"&after=$a&afterTie=$at" }.getOrElse(""))
        assert(c == 200, s"$c $b")
        val data = b.asObj("data") match { case JArr(r) => r; case _ => fail() }
        tbWalk ++= data.map(_.asObj("k").asInstanceOf[JNum].v.toLong)
        val page = b.asObj("page").asObj
        more = page("hasMore") == JBool(true) && data.nonEmpty
        for (a <- page.get("nextAfter"); at <- page.get("nextAfterTie"))
          aCur = Some((enc(a.str), enc(at.str)))
      }
      assert(tbWalk == (1L to 40L).toVector,
        s"first-page composite cursor must chain losslessly: $tbWalk")

      // NULL keys sort first in BOTH directions and are served by the
      // cursor-less first page — the only page a strict seek can't reach
      for (dirQ <- Seq("", "&order=desc")) {
        var cur: Option[String] = None
        var ks = Vector.empty[Long]; var m = true
        while (m) {
          val (c, b) = get(api.port, s"$baseN&orderBy=v&limit=5$dirQ" +
            cur.map(a => s"&after=$a").getOrElse(""))
          assert(c == 200, s"$c $b")
          val data = b.asObj("data") match { case JArr(r) => r; case _ => fail() }
          ks ++= data.map(_.asObj("k").asInstanceOf[JNum].v.toLong)
          val page = b.asObj("page").asObj
          m = page("hasMore") == JBool(true)
          page.get("nextAfter").foreach(n => cur = Some(enc(n.str)))
        }
        assert(ks.sorted == (1L to 10L).toVector,
          s"walk '$dirQ' must serve NULL-keyed rows (page 1) and the rest: $ks")
      }
      // a sentinel-started walk skips NULLs by construction — documented
      val (nc, nb) = get(api.port, s"$baseN&orderBy=v&limit=20&after=0")
      assert(nc == 200)
      assert(nb.asObj("data").asInstanceOf[JArr].items.length == 7,
        "a strict seek addresses only non-NULL keys")
      // an all-NULL first page has no usable cursor: note, not a skip
      val (ac, ab) = get(api.port, s"$baseN&orderBy=v&limit=3")
      assert(ac == 200 && ab.asObj("page").asObj.get("nextAfter").isEmpty)
      assert(ab.asObj("page").asObj("cursorNote").str.contains("NULL"))
      // a NULL tiebreak at a composite page boundary is a loud 400 —
      // no cursor that skips rows or fails to parse on resume
      val (bc, bb) = get(api.port,
        s"$baseN&orderBy=k&tiebreak=v&limit=2&after=0&afterTie=0")
      assert(bc == 400 && bb.asObj("error") == JStr("AMBIGUOUS_ORDER"), s"$bc $bb")
    } finally api.stop()
  }

  test("cursor tail over the API: walk == programmatic drain, 409 on rewrites") {
    import spark.implicits._
    val t = Files.createTempDirectory("httptail").toString + "/t"
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    // commit 1+2: pure appends; commit 3: an UPDATE merge (insert+delete
    // legs); commit 4: a delete-only commit; then a compaction (no rows
    // changed — must contribute nothing to any tail)
    graft.batch.Upsert.mergeByKey(spark, t,
      (1 to 20).map(i => ("2026-07-01", i.toLong, i * 1.0)).toDF("day", "k", "v"),
      "day", Seq("k"))
    graft.batch.Upsert.mergeByKey(spark, t,
      (21 to 30).map(i => ("2026-07-01", i.toLong, i * 1.0)).toDF("day", "k", "v"),
      "day", Seq("k"))
    graft.batch.Upsert.mergeByKey(spark, t,
      Seq(("2026-07-01", 1L, 999.0)).toDF("day", "k", "v"), "day", Seq("k"))
    graft.batch.Upsert.deleteByKey(spark, t,
      Seq(("2026-07-01", 30L)).toDF("day", "k"), "day", Seq("k"))
    graft.batch.Upsert.compactPartitions(spark, t, "day", minFilesToCompact = 2)
    val tip = graft.core.TxnLog.currentVersion(spark, t)

    // programmatic drain under ignoreChanges (the only mode that can
    // express the update-merge's appends)
    val ckpt = Files.createTempDirectory("httptailckpt").toString
    val drained = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
    graft.streaming.TableTailStream.drain(spark, t, "day", ckpt,
      ignoreChanges = true, maxCommitsPerBatch = 1) { (df, _, _) =>
      drained ++= df.select("k", "v").as[(Long, Double)].collect()
    }

    val api = newApi()
    try {
      val base = s"/table/tail?table=${enc(t)}&partCol=day"
      // HTTP cursor walk, one commit per poll, paging inside each range
      var cursor = 0L
      var walked = Vector.empty[(Long, Double)]
      var polls = 0
      var caughtUp = false
      while (!caughtUp && polls < 50) {
        polls += 1
        var offset = 0
        var more = true
        var next = cursor
        while (more) {
          val (c, b) = get(api.port,
            s"$base&cursor=$cursor&maxCommits=1&ignoreChanges=true" +
              s"&orderBy=k&limit=7&offset=$offset")
          assert(c == 200, s"$c $b")
          val o = b.asObj
          caughtUp = o("caughtUp") == JBool(true)
          next = o("nextCursor").asInstanceOf[JNum].v.toLong
          val data = o("data") match { case JArr(r) => r.map(_.asObj); case _ => fail() }
          walked ++= data.map(r => (r("k").asInstanceOf[JNum].v.toLong,
            r("v").asInstanceOf[JNum].v.toDouble))
          more = o("page").asObj("hasMore") == JBool(true)
          offset += 7
        }
        cursor = next
      }
      assert(caughtUp && cursor == tip, s"walk must reach the tip: $cursor vs $tip")
      assert(walked.sorted == drained.toVector.sorted,
        s"HTTP cursor walk must equal the programmatic drain: " +
          s"${walked.size} vs ${drained.size} rows")

      // without the opt-in flags, the rewriting commit's range is a loud
      // 409 (never silently-wrong appends); ignoreDeletes alone does not
      // cover an update-merge either
      var c409 = 0L
      var last = (200, JObj.of("caughtUp" -> JBool(false)): JVal)
      while (last._1 == 200 &&
          last._2.asObj.get("caughtUp") != Some(JBool(true))) {
        last = get(api.port, s"$base&cursor=$c409&maxCommits=1&limit=100")
        if (last._1 == 200)
          c409 = last._2.asObj("nextCursor").asInstanceOf[JNum].v.toLong
      }
      assert(last._1 == 409 &&
        last._2.asObj("error") == JStr("REWRITE_IN_RANGE"), s"$last")
      assert(last._2.asObj("message").str.contains("ignoreChanges"))
      assert(get(api.port, s"$base&cursor=$c409&maxCommits=1" +
        "&ignoreDeletes=true&limit=100")._1 == 409,
        "ignoreDeletes must not cover an update-merge")

      // refusal matrix: bad cursors and flags are 400s
      assert(get(api.port, s"$base&cursor=garbage")._1 == 400)
      assert(get(api.port, s"$base&limit=5")._1 == 400, "cursor is required")
      assert(get(api.port, s"$base&cursor=${tip + 10}")._1 == 400,
        "a cursor beyond the tip is a client error")
      assert(get(api.port, s"$base&cursor=0&maxCommits=0")._1 == 400)
      assert(get(api.port, s"$base&cursor=0&ignoreChanges=banana")._1 == 400)

      // shape hints ride the tail too: project + filter one range (the
      // first merge is a begin+end commit PAIR, so maxCommits=2 spans
      // exactly its appends)
      val (hc, hb) = get(api.port, s"$base&cursor=0&maxCommits=2" +
        s"&ignoreChanges=true&columns=k&where=${enc("k<=3")}&orderBy=k&limit=100")
      assert(hc == 200, s"$hc $hb")
      val hRows = hb.asObj("data") match { case JArr(r) => r.map(_.asObj); case _ => fail() }
      assert(hRows.map(_("k").asInstanceOf[JNum].v.toLong) == Vector(1L, 2L, 3L) &&
        hRows.forall(_.keySet == Set("k")))
    } finally api.stop()
  }

  test("vacuum preview route: 404 on a missing path, 400 on a non-sink dir") {
    val api = newApi()
    try {
      assert(get(api.port, "/table/vacuum/preview")._1 == 400)
      assert(get(api.port,
        "/table/vacuum/preview?table=/tmp/no-such-graft-table")._1 == 404)
      val plain = Files.createTempDirectory("httpvacplain").toString
      val (c, b) = get(api.port,
        s"/table/vacuum/preview?table=${java.net.URLEncoder.encode(plain, "UTF-8")}")
      assert(c == 400 && b.asObj("error").str == "INVALID_TABLE", s"$c $b")
    } finally api.stop()
  }

  test("shape hints: columns= projection + where= pushdown on the table routes") {
    import spark.implicits._
    val t = Files.createTempDirectory("httpshape").toString + "/t"
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    graft.batch.Upsert.mergeByKey(spark, t,
      (1 to 30).map(i => (s"2026-06-0${i % 2 + 1}", i.toLong, i * 1.0))
        .toDF("day", "k", "v"), "day", Seq("k"))
    val v1 = graft.core.TxnLog.currentVersion(spark, t)
    graft.batch.Upsert.mergeByKey(spark, t,
      Seq(("2026-06-01", 2L, 99.0), ("2026-06-01", 100L, 100.0))
        .toDF("day", "k", "v"), "day", Seq("k"))
    val api = newApi()
    try {
      // projection: only the requested columns come back, in order
      val (pc, pb) = get(api.port,
        s"/table/data?table=${enc(t)}&partCol=day&columns=k,v&orderBy=k&limit=5")
      assert(pc == 200, s"got $pc $pb")
      val pRows = pb.asObj("data") match { case JArr(r) => r.map(_.asObj); case _ => fail() }
      assert(pRows.nonEmpty && pRows.forall(_.keySet == Set("k", "v")))

      // where: partition equality + range conjunct ≡ the programmatic filter
      val (wc, wb) = get(api.port, s"/table/data?table=${enc(t)}&partCol=day" +
        s"&where=${enc("day=2026-06-01;k<=10")}&orderBy=k&limit=100")
      assert(wc == 200, s"got $wc $wb")
      val wRows = wb.asObj("data") match { case JArr(r) => r.map(_.asObj); case _ => fail() }
      val served = wRows.map(r => r("k").asInstanceOf[JNum].v.toLong).toSet
      val expect = graft.batch.Upsert.readCommitted(spark, t, "day")
        .filter($"day" === "2026-06-01" && $"k" <= 10)
        .select("k").as[Long].collect().toSet
      assert(served == expect && served.nonEmpty,
        s"where page must equal the programmatic filter: $served vs $expect")

      // quoted literal + filter-on-omitted-column (where may reference
      // columns the projection drops)
      val (qc, qb) = get(api.port, s"/table/data?table=${enc(t)}&partCol=day" +
        s"&where=${enc("day='2026-06-02'")}&columns=k&orderBy=k&limit=100")
      assert(qc == 200)
      val qRows = qb.asObj("data") match { case JArr(r) => r.map(_.asObj); case _ => fail() }
      assert(qRows.size == 15 && qRows.forall(_.keySet == Set("k")))

      // shape composes with time travel: at v1, k=2 still has its pre-merge value
      val (ac, ab) = get(api.port, s"/table/data?table=${enc(t)}&partCol=day" +
        s"&asOf=$v1&where=${enc("k=2")}&columns=v&orderBy=v&limit=10")
      assert(ac == 200)
      val aRows = ab.asObj("data") match { case JArr(r) => r.map(_.asObj); case _ => fail() }
      assert(aRows.map(_("v").asInstanceOf[JNum].v.toDouble) == Vector(2.0))

      // null predicate: no v is null, so =null serves zero rows (and 200)
      val (nc, nb) = get(api.port, s"/table/data?table=${enc(t)}&partCol=day" +
        s"&where=${enc("v=null")}&limit=10")
      assert(nc == 200)
      assert((nb.asObj("data") match { case JArr(r) => r; case _ => fail() }).isEmpty)

      // refusal matrix — every bad shape is a 400, never a silent empty page
      for (bad <- Seq(
          s"columns=k,nope",
          s"where=${enc("nope=1")}",
          s"where=${enc("k~5")}",
          s"where=${enc("k=abc")}",          // uncastable literal
          s"where=${enc("k>null")}"))
        assert(get(api.port,
          s"/table/data?table=${enc(t)}&partCol=day&$bad&limit=5")._1 == 400,
          s"$bad must be refused")

      // IN-list: unquoted `|` alternatives compile to a pushed In — both
      // days come back; a quoted pipe stays a literal (matches nothing
      // here); a bad member is refused like any literal
      val (ic, ib) = get(api.port, s"/table/data?table=${enc(t)}&partCol=day" +
        s"&where=${enc("day=2026-06-01|2026-06-02;k<=4")}&orderBy=k&limit=100")
      assert(ic == 200, s"got $ic $ib")
      val iRows = ib.asObj("data") match { case JArr(r) => r.map(_.asObj); case _ => fail() }
      assert(iRows.map(_("k").asInstanceOf[JNum].v.toLong) == Vector(1L, 2L, 3L, 4L))
      // on a TYPED column a quoted pipe literal is an uncastable literal —
      // refused like any other, never a silent empty page (day is a DATE:
      // partition-dir inference)
      assert(get(api.port, s"/table/data?table=${enc(t)}&partCol=day" +
        s"&where=${enc("day='2026-06-01|2026-06-02'")}&limit=10")._1 == 400)
      // on a STRING column it is a plain character: matches nothing, 200
      val (qc2, qb2) = get(api.port, s"/table/changes?table=${enc(t)}&partCol=day" +
        s"&from=$v1&where=${enc("_change_type='insert|delete'")}&limit=10")
      assert(qc2 == 200 &&
        (qb2.asObj("data") match { case JArr(r) => r; case _ => fail() }).isEmpty,
        s"a quoted pipe is a character, not an IN separator: $qc2 $qb2")
      // unquoted on the same string column: a real IN — both legs page
      val (nc2, nb2) = get(api.port, s"/table/changes?table=${enc(t)}&partCol=day" +
        s"&from=$v1&where=${enc("_change_type=insert|delete")}&orderBy=k&limit=10")
      assert(nc2 == 200 && (nb2.asObj("data") match {
        case JArr(r) => r.size; case _ => fail() }) == 3,
        s"IN over the change types pages all legs: $nb2")
      assert(get(api.port, s"/table/data?table=${enc(t)}&partCol=day" +
        s"&where=${enc("k=1|abc")}&limit=5")._1 == 400,
        "every IN member must parse as the column's type")

      // quote-aware conjunct split: a quoted literal may contain `;` (and
      // `|`) — previously the pre-quote `;` split made such literals
      // inexpressible (they failed as malformed conjuncts)
      import graft.http.TableShape
      assert(TableShape.parseWhere("note='a;b';k>5") == Right(Seq(
        TableShape.Conjunct("note", "=", "a;b", isNull = false, quoted = true),
        TableShape.Conjunct("k", ">", "5", isNull = false))))
      assert(TableShape.parseWhere("note='x|y;z'").toOption.get.head.value == "x|y;z")
      assert(TableShape.parseWhere("note='a;k>5").isLeft,
        "an unterminated quote must fail loudly")
      // HTTP round-trip on a string column: the quoted `;` is a plain
      // character (matches nothing here), not a conjunct split
      val (sc2, sb2) = get(api.port, s"/table/changes?table=${enc(t)}&partCol=day" +
        s"&from=$v1&where=${enc("_change_type='in;sert'")}&limit=10")
      assert(sc2 == 200 &&
        (sb2.asObj("data") match { case JArr(r) => r; case _ => fail() }).isEmpty,
        s"quoted ; must parse as a literal character: $sc2 $sb2")
      assert(get(api.port, s"/table/changes?table=${enc(t)}&partCol=day" +
        s"&from=$v1&where=${enc("_change_type='in;sert")}&limit=10")._1 == 400,
        "an unterminated quote over HTTP is a 400")

      // the change feed takes the same hints: page only the inserts
      val (cc, cb) = get(api.port, s"/table/changes?table=${enc(t)}&partCol=day" +
        s"&from=$v1&where=${enc("_change_type=insert")}" +
        "&columns=k,v,_change_type&orderBy=k&limit=100")
      assert(cc == 200, s"got $cc $cb")
      val cRows = cb.asObj("data") match { case JArr(r) => r.map(_.asObj); case _ => fail() }
      assert(cRows.map(r => (r("k").asInstanceOf[JNum].v.toLong,
        r("v").asInstanceOf[JNum].v.toDouble)) == Vector((2L, 99.0), (100L, 100.0)))

      // fromTs resolves to the same range as from=v1 (the commit's own ts
      // is the exclusive cursor — "synced at T" resumes without re-reading T)
      val tsV1 = graft.core.TxnLog.commitsSince(spark, t, 0L)
        .filter(_.version == v1).head.ts
      val (tc, tb) = get(api.port, s"/table/changes?table=${enc(t)}&partCol=day" +
        s"&fromTs=$tsV1&orderBy=k&limit=100")
      assert(tc == 200, s"got $tc $tb")
      assert(tb.asObj("from") == JNum(BigDecimal(v1)))
      val tRows = tb.asObj("data") match { case JArr(r) => r.map(_.asObj); case _ => fail() }
      val vRows = {
        val (_, b) = get(api.port, s"/table/changes?table=${enc(t)}&partCol=day" +
          s"&from=$v1&orderBy=k&limit=100")
        b.asObj("data") match { case JArr(r) => r.map(_.asObj); case _ => fail() }
      }
      assert(tRows == vRows, "fromTs must serve exactly the from=v range")
      assert(get(api.port, s"/table/changes?table=${enc(t)}&partCol=day" +
        s"&fromTs=1")._1 == 400, "a timestamp below the horizon is refused")
    } finally api.stop()
  }

  test("indexed serving: via=index routes bounds through the sidecars, " +
      "refuses shapes it cannot prune") {
    import spark.implicits._
    val t = Files.createTempDirectory("httpidx").toString + "/t"
    def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
    graft.batch.Upsert.mergeByKey(spark, t,
      (1 to 64).map(i => (s"2026-08-0${i % 2 + 1}", i.toLong, i * 10.0))
        .toDF("day", "k", "v"), "day", Seq("k"))
    graft.core.StatsIndex.build(spark, t, "v")
    graft.core.BloomIndex.build(spark, t, "k")
    val api = newApi()
    val pre = s"/table/data?table=${enc(t)}&partCol=day"
    try {
      // refusal matrix: no silent fallback to a full scan, ever
      assert(get(api.port, s"$pre&via=index")._1 == 400)
      assert(get(api.port, s"$pre&via=index&asOf=1&where=${enc("v>=100")}")._1 == 400,
        "the sidecars serve the tip — time travel must refuse")
      assert(get(api.port, s"$pre&via=scan&where=${enc("v>=100")}")._1 == 400)
      val (uc, ub) = get(api.port, s"$pre&via=index&where=${enc("day=2026-08-01")}")
      assert(uc == 400 && ub.asObj("message").str.contains("k"),
        s"unindexed-only bounds must 400 and NAME the indexed columns: $ub")

      // stats range: bounds admit through the sidecar, every conjunct
      // (incl. the unindexed day) re-applies exactly
      val (rc, rb) = get(api.port, s"$pre&via=index" +
        s"&where=${enc("v>=100;v<=200;day=2026-08-01")}&orderBy=k&limit=100")
      assert(rc == 200, s"got $rc $rb")
      assert(rb.asObj("via").str == "index")
      val served = (rb.asObj("data") match {
        case JArr(r) => r.map(_.asObj); case _ => fail()
      }).map(r => r("k").asInstanceOf[JNum].v.toLong)
      val expect = graft.batch.Upsert.readCommitted(spark, t, "day")
        .filter($"v" >= 100 && $"v" <= 200 && $"day" === "2026-08-01")
        .select("k").as[Long].collect().sorted.toSeq
      assert(served == expect && served.nonEmpty,
        s"indexed page ≡ committed filter: $served vs $expect")

      // bloom equality (k has no stats sidecar): point page ≡ committed
      val (pc, pb) = get(api.port, s"$pre&via=index&where=${enc("k=7")}" +
        "&columns=day,v&orderBy=v&limit=10")
      assert(pc == 200, s"got $pc $pb")
      val pRows = pb.asObj("data") match {
        case JArr(r) => r.map(_.asObj); case _ => fail()
      }
      assert(pRows.map(r => (r("day").str, r("v").asInstanceOf[JNum].v.toDouble))
        == Vector(("2026-08-02", 70.0)))
    } finally api.stop()
  }

  test("an indexed page plans as TakeOrderedAndProject over only admitted files") {
    import spark.implicits._
    val t = Files.createTempDirectory("idxpageplan").toString + "/t"
    // range-clustered layout: each of 16 files owns a narrow v slice, so
    // a selective range admits few files and the page's top-k rides them
    (1 to 64000).map(i => (s"2026-09-0${i % 2 + 1}", i.toLong, i * 1.0))
      .toDF("day", "k", "v")
      .repartitionByRange(16, $"v").sortWithinPartitions($"v")
      .write.parquet(t)
    graft.core.StatsIndex.build(spark, t, "v")
    val (_, candidates, skipped) = graft.core.StatsIndex.rangeScan(
      spark, t, "v", Some(1000.0), Some(3000.0))
    assert(candidates.size <= 4 && skipped.size >= 12,
      s"selective range must admit few of 16 files: ${candidates.size}")
    val page = graft.batch.Upsert.rangeLookup(
        spark, t, "v", Some(1000.0), Some(3000.0))
      .filter($"v" >= 1000.0 && $"v" <= 3000.0)
      .orderBy($"v").limit(50)
    val plan = page.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"the page must stay one distributed top-k:\n$plan")
    assert(page.select("v").as[Double].collect().toSeq ==
      (1000 to 1049).map(_.toDouble))
  }

  test("shape hints compile to pushed parquet predicates") {
    import spark.implicits._
    val dir = Files.createTempDirectory("shapeplan").toString + "/t"
    (1 to 1000).map(i => (i.toLong, s"s$i")).toDF("k", "s")
      .repartition(4).write.parquet(dir)
    val df = spark.read.parquet(dir)
    val shaped = graft.http.TableShape(df,
      Map("where" -> "k>900", "columns" -> "k")) match {
      case Right(d) => d
      case Left(m)  => fail(m)
    }
    val plan = shaped.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(k,900)"),
      s"the where conjunct must reach the parquet scan:\n$plan")
    val inShaped = graft.http.TableShape(df,
      Map("where" -> "k=1|2|3", "columns" -> "k")) match {
      case Right(d) => d
      case Left(m)  => fail(m)
    }
    val inPlan = inShaped.queryExecution.executedPlan.toString
    assert(inPlan.contains("In(k, [1,2,3])"),
      s"the IN-list must reach the parquet scan too:\n$inPlan")
    assert(inShaped.as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))
    assert(plan.contains("struct<k:bigint>"),
      s"the projection must prune the read schema to k only:\n$plan")
    assert(shaped.as[Long].collect().sorted.toSeq == (901L to 1000L))
  }

  test("maintenance route: failures land FAILED with the cause") {
    val api = newApi()
    try {
      val missing = s"${Files.createTempDirectory("httpmaintgone")}/no-such-table"
      val (c, b) = post(api.port, "/maintenance/run",
        s"""{"mode":"bloom","table":"$missing","column":"customer_id"}""")
      assert(c == 202)
      val id = b.asObj("maintenanceId").str
      await(get(api.port, s"/maintenance/status/$id")._2.asObj("status").str == "FAILED")
      val rec = get(api.port, s"/maintenance/status/$id")._2.asObj
      assert(rec("errorMessage").str.nonEmpty)
      // the failed run released the single-flight claim: a retry is accepted
      assert(post(api.port, "/maintenance/run",
        s"""{"mode":"bloom","table":"$missing","column":"customer_id"}""")._1 == 202)
    } finally api.stop()
  }

  test("graceful stop: responds, then drains") {
    @volatile var stopped = false
    val reg = new BatchRegistry(None)
    val svc = new BatchService(spark, reg, Files.createTempDirectory("httpstop").toString)
    val api = new HttpApi(spark, svc, reg, sourcePath, onStop = () => stopped = true).start()
    try {
      val (c, b) = post(api.port, "/stop")
      assert(c == 200 && b.asObj("status").str == "shutting_down")
      await(stopped, 10.seconds)
    } finally api.stop()
  }
}
