package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.batch.{BatchRegistry, BatchService, Upsert}
import graft.core.{GraftConfig, Schemas}
import graft.http.{HttpApi, JArr, JNum, JStr, JVal, Json}
import graft.operators.Analytics
import graft.streaming.{StreamingDashboard, StreamingIngest}

/** `serve_live`: the paper's loop. Stream writes land beside HTTP batch
  * reads on one table, in one session.
  *
  * Set-up lands a seeded base table as JSON files and drains it through
  * `StreamingIngest` (three times, into fresh directories; the last copy is
  * served). `POST /stream/start` then runs the ingest and dashboard
  * queries. During the window one open-loop writer lands a fixed-size file
  * on a fixed schedule while two closed-loop HTTP clients submit batches,
  * poll them and read them back.
  */
object ServeLive {
  val BaseRows = 6000
  val BaseFiles = 3
  val LiveRows = 100
  val LiveIntervalMs = 500L
  val Clients = 2
  val PageSize = 100
  val PollMs = 25L
  val SetupReps = 3

  final case class Req(analysis: String, start: String, end: String, filters: Seq[(String, String)])

  /** Seeded request sequence of a fixed shape. Request i of a client asks
    * for analysis i of a fixed rotation of the eight single analyses
    * (client 2 starts half way round), over a window of fixed length
    * (1 to 30 days, cycling) with a fixed set of 0 to 2 equality-filter
    * columns. The seed draws only where the window ends and which of each
    * column's two most frequent values it filters on, so every seed
    * measures the same mix of work. */
  def requests(seed: Long, client: Int, n: Int): IndexedSeq[Req] = {
    val rng = new java.util.Random(seed * 31 + client)
    val analyses = Analytics.validAnalysisTypes.toIndexedSeq.sorted.filter(_ != "full_report")
    val windows = IndexedSeq(7, 30, 1, 14, 4, 21, 2, 10, 30)
    val filters = IndexedSeq(Nil, Seq("transaction_status"), Seq("region", "channel"), Nil,
      Seq("payment_method"), Seq("customer_tier", "category"), Nil, Seq("channel"), Seq("region"))
    (0 until n).map { j =>
      val i = j + (client - 1) * analyses.size / 2
      val len = windows(i % windows.size)
      val end = Gen.EndDay.minusDays(rng.nextInt(Gen.Days - len + 1).toLong)
      Req(analyses(i % analyses.size), end.minusDays(len - 1L).toString, end.toString,
        filters(i % filters.size).map(c => c -> Gen.valuesOf(c)(rng.nextInt(2))))
    }
  }

  def matches(r: Gen.Row, q: Req): Boolean =
    r.date >= q.start && r.date <= q.end && q.filters.forall { case (c, v) => r.fields(c) == v }

  private final case class Landed(k: Int, due: Long, landed: Long, rows: IndexedSeq[Gen.Row])
  private final case class Served(op: Long, id: String, req: Req, rowCount: Long,
      landedAtDone: Int, rawPath: String, aggRows: Vector[JVal], aggOp: Long)

  def run(spark: SparkSession, log: Log, root: String, seed: Long, seconds: Int): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup("bench-setup", "benchmark set-up and checks")
    val base = Gen.rows(seed, 0L, BaseRows)
    val per = BaseRows / BaseFiles

    // set-up, repeated into fresh directories: land + drain the base backlog
    var last = ""
    (1 to SetupReps).foreach { rep =>
      val dir = s"$root/rep$rep"
      val t0 = System.nanoTime()
      base.grouped(per).zipWithIndex.foreach { case (rows, k) =>
        land(s"$dir/drop", f"base-$k%03d", rows)
      }
      val tLanded = System.nanoTime()
      val q = log.span("streaming.ingest.drain") {
        StreamingIngest.start(spark, s"$dir/drop", s"$dir/table", s"$dir/ckpt/ingest")
      }
      q.processAllAvailable(); q.stop()
      val t1 = System.nanoTime()
      log.emit("setup", "rep" -> rep, "dur" -> (t1 - t0) / 1e9,
        "drain_s" -> (t1 - tLanded) / 1e9, "drain_rows" -> BaseRows)
      last = dir
    }
    val (drop, table) = (s"$last/drop", s"$last/table")

    // one-time boot: the service, both streams started over HTTP, one
    // warm-up request.
    // The server's threads inherit the starting thread's local properties,
    // so the job group is cleared first: jobs on HTTP handler threads then
    // carry no group, batch jobs the program's `batch` pool.
    val tBoot = System.nanoTime()
    sc.clearJobGroup()
    val cfg = GraftConfig.load(overrides = Some(s"""graft { data { base-path = "$last" } }"""))
    val registry = new BatchRegistry(None)
    val svc = new BatchService(spark, registry, s"$last/batches", poolSize = cfg.batch.threadPoolSize)
    def startStreams(trigger: Trigger): Seq[StreamingQuery] = {
      val dashSrc = StreamingIngest.enrich(spark.readStream.schema(Schemas.TransactionSchema).json(drop))
      Seq(StreamingIngest.start(spark, drop, table, s"$last/ckpt/ingest", trigger = trigger),
        StreamingDashboard.start(spark, dashSrc, s"$last/agg", s"$last/ckpt/dashboard", trigger = trigger))
    }
    @volatile var streams: Seq[StreamingQuery] = Nil
    val api = new HttpApi(spark, svc, registry, sourcePath = table,
      // the configured production trigger (graft.stream.trigger-seconds)
      mkStreams = () => {
        streams = startStreams(Trigger.ProcessingTime(cfg.stream.triggerSeconds * 1000L))
        streams
      },
      defaultPageSize = cfg.batch.defaultPageSize, maxPageSize = cfg.batch.maxPageSize).start()
    sc.setJobGroup("bench-setup", "benchmark set-up and checks")
    val landedFiles = new ConcurrentLinkedQueue[Landed]()
    val served = new ConcurrentLinkedQueue[Served]()
    try {
      val boot = new Client(api.port)
      val (sc0, sb0) = boot.post("/stream/start", "{}")
      require(sc0 == 200, s"POST /stream/start: $sc0 $sb0")
      // the warm-up request runs while the streams take their first triggers
      new Worker(0, boot, svc, spark, log, table, traced = false, landedFiles, served)
        .cycle(Req("revenue_by_category", Gen.EndDay.minusDays(6).toString, Gen.EndDay.toString, Nil),
          readback = false)
      log.emit("boot", "dur" -> (System.nanoTime() - tBoot) / 1e9)
      // both streams have finished their first trigger (the dashboard's
      // covers the whole base) before the window opens
      val firstDeadline = System.nanoTime() + 60L * 1000000000L
      while (streams.exists(_.lastProgress == null) && System.nanoTime() < firstDeadline) Thread.sleep(50L)

      // ProcessingTime triggers fire on multiples of the interval: starting
      // just after one lines the ops up with the triggers the same way in
      // every run
      val period = cfg.stream.triggerSeconds * 1000L
      Thread.sleep(period - log.now() % period + 100L)
      val t0 = log.now()
      val tEnd = t0 + seconds * 1000L
      log.value("window_start", t0)
      val nLive = (seconds * 1000L / LiveIntervalMs).toInt + 1
      val live = (0 until nLive).map(k =>
        Gen.rows(seed, BaseRows + k.toLong * LiveRows, LiveRows, liveDay = Some(Gen.EndDay)))
      val writer = new Thread(() => {
        var k = 0
        while (k < nLive && t0 + k * LiveIntervalMs < tEnd) {
          val due = t0 + k * LiveIntervalMs
          val wait = due - log.now()
          if (wait > 0) Thread.sleep(wait)
          land(drop, f"live-$k%05d", live(k))
          val at = log.now()
          landedFiles.add(Landed(k, due, at, live(k)))
          log.emit("land", "file" -> k, "due" -> due, "landed" -> at, "rows" -> LiveRows)
          k += 1
        }
      }, "bench-writer")
      val workers = (1 to Clients).map { c =>
        val reqs = requests(seed, c, 1000)
        val w = new Worker(c, new Client(api.port), svc, spark, log, table, log.traced,
          landedFiles, served)
        new Thread(() => {
          sc.setJobGroup(s"client-$c", "benchmark client")
          var i = 0
          while (log.now() < tEnd) { w.cycle(reqs(i)); i += 1 }
        }, s"bench-client-$c")
      }
      writer.start(); workers.foreach(_.start())
      writer.join(); workers.foreach(_.join())
      log.value("window_end", log.now())

      // stop the triggered streams over HTTP, drain what landed by restarting
      // both queries on their checkpoints without a trigger interval (as
      // graft.Drive does), then check the loop's outputs
      val (stc, stb) = boot.post("/stream/stop", "{}")
      log.check("stream_stop", 0, stc == 200, s"POST /stream/stop: $stc $stb")
      val drains = startStreams(Trigger.ProcessingTime(0))
      drains.foreach(_.processAllAvailable()); drains.foreach(_.stop())
      log.value("sink_files_end", Files.walk(Paths.get(table)).iterator().asScala
        .count(p => p.toString.endsWith(".parquet")))
      val files = landedFiles.asScala.toVector.sortBy(_.k)
      log.value("landed_files", files.size)
      val all = base ++ files.flatMap(_.rows)
      checkTable(spark, log, table, all)
      checkDashboard(spark, log, s"$last/agg", all)
      checkBatches(spark, log, base, files, served.asScala.toVector)
      log.value("persisted_end", sc.getPersistentRDDs.size)
    } finally {
      streams.foreach(q => scala.util.Try(q.stop()))
      api.stop(); svc.shutdown()
    }
  }

  /** Land one JSON file atomically: write a hidden name, then rename. */
  def land(dir: String, name: String, rows: Seq[Gen.Row]): Unit = {
    val d = Paths.get(dir); Files.createDirectories(d)
    val tmp = d.resolve(s".$name.tmp")
    Files.write(tmp, rows.map(_.json).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, d.resolve(s"$name.json"), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Every landed row is visible exactly once through `readTable`. */
  private def checkTable(spark: SparkSession, log: Log, table: String, all: Seq[Gen.Row]): Unit = {
    val r = StreamingIngest.readTable(spark, table)
      .agg(count(lit(1)), countDistinct(col("transaction_id")),
        sum(substring(col("transaction_id"), 5, 10).cast("long")))
      .head()
    val want = (all.size.toLong, all.size.toLong, all.map(_.id).sum)
    val got = (r.getLong(0), r.getLong(1), if (r.isNullAt(2)) 0L else r.getLong(2))
    log.check("table_exactly_once", 0, got == want, s"rows/distinct/idsum $got != $want")
  }

  /** The dashboard snapshot covers every completed-or-pending row in five
    * sliding windows, as `graft.Drive` asserts. */
  private def checkDashboard(spark: SparkSession, log: Log, aggDir: String, all: Seq[Gen.Row]): Unit = {
    val got = StreamingDashboard.readLatest(spark, aggDir).agg(sum(col("txn_count"))).head().getLong(0)
    val want = 5L * all.count(r => Set("completed", "pending")(r.fields("transaction_status")))
    log.check("dashboard_5x", 0, got == want, s"dashboard txn_count $got != $want")
  }

  /** A batch's `rowCount` must equal the independent count over the base
    * plus some prefix of the landed files (the sink commits files in landing
    * order); its aggregated page must equal `Analytics` run directly on its
    * snapshot. */
  private def checkBatches(spark: SparkSession, log: Log, base: Seq[Gen.Row],
      files: Vector[Landed], served: Vector[Served]): Unit = {
    served.foreach { s =>
      val baseCount = base.count(matches(_, s.req)).toLong
      val prefixes = files.take(s.landedAtDone).scanLeft(baseCount) {
        (acc, f) => acc + f.rows.count(matches(_, s.req))
      }
      log.check("batch_row_count", s.op, prefixes.contains(s.rowCount),
        s"${s.id} rowCount ${s.rowCount} not in ${prefixes.distinct.take(8)}... for ${s.req}")
    }
    served.filter(_.aggOp > 0).foreach { s =>
      val direct = scala.util.Try {
        val df = Analytics.runAnalysis(spark.read.parquet(s.rawPath), s.req.analysis)(s.req.analysis)
        df.orderBy(df.columns.map(col).toIndexedSeq: _*).limit(PageSize)
          .toJSON.collect().toVector.map(Json.parse)
      }
      log.check("agg_page_matches", s.aggOp,
        direct.toOption.exists(d => sameRows(d, s.aggRows)),
        s"${s.id}/${s.req.analysis}: page differs from direct Analytics (${direct.failed.toOption})")
    }
  }

  /** Equal up to the serving layer's presentation rounding (at most 2 dp). */
  def sameRows(a: Vector[JVal], b: Vector[JVal]): Boolean =
    a.size == b.size && a.zip(b).forall { case (x, y) =>
      val (mx, my) = (x.asObj, y.asObj)
      mx.keySet == my.keySet && mx.forall {
        case (k, JNum(u)) => my(k) match {
          case JNum(v) => (u - v).abs <= BigDecimal("0.0051")
          case _ => false
        }
        case (k, v) => my(k) == v
      }
    }

  /** A closed-loop HTTP client on one connection. */
  final class Client(port: Int) {
    private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    private def send(req: HttpRequest): (Int, String) = {
      val r = http.send(req, HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body())
    }
    private def uri(path: String) = URI.create(s"http://127.0.0.1:$port$path")
    def get(path: String): (Int, String) = send(HttpRequest.newBuilder(uri(path)).GET().build())
    def post(path: String, body: String): (Int, String) =
      send(HttpRequest.newBuilder(uri(path)).POST(HttpRequest.BodyPublishers.ofString(body)).build())
  }

  private final class Worker(c: Int, client: Client, svc: BatchService, spark: SparkSession,
      log: Log, table: String, traced: Boolean,
      landedFiles: ConcurrentLinkedQueue[Landed], served: ConcurrentLinkedQueue[Served]) {

    private def isoMs(j: Map[String, JVal], k: String): Option[Long] =
      j.get(k).collect { case JStr(s) => java.time.Instant.parse(s).toEpochMilli }

    /** One request: submit, poll to a terminal state, read back. */
    def cycle(q: Req, readback: Boolean = true): Unit = {
      val body = Log.obj(Seq("startDate" -> q.start, "endDate" -> q.end,
        "analysisType" -> q.analysis, "filters" -> q.filters.toMap))
      val tSubmit = log.now(); val nSubmit = System.nanoTime()
      val (_, sub) = log.op("http.submit", "client" -> c) {
        val (code, b) = log.span("http.batch.run")(client.post("/batch/run", body))
        require(code == 202, s"submit $code $b")
        Json.parse(b).asObj("batchId").str
      }
      val id = sub.getOrElse(return)
      var rec: Map[String, JVal] = Map.empty
      var status = "PENDING"
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (status != "COMPLETED" && status != "FAILED" && System.nanoTime() < deadline) {
        Thread.sleep(PollMs)
        log.op("http.status", "client" -> c) {
          val (code, b) = log.span("http.batch.status")(client.get(s"/batch/status/$id"))
          require(code == 200, s"status $code $b")
          rec = Json.parse(b).asObj
          status = rec("status").str
        }
      }
      val doneS = (System.nanoTime() - nSubmit) / 1e9
      val landedAtDone = landedFiles.size
      val rowCount = rec.get("rowCount").collect { case JNum(v) => v.toLong }.getOrElse(-1L)
      val sub2 = isoMs(rec, "submitTime"); val st = isoMs(rec, "startTime")
      val en = isoMs(rec, "endTime")
      val batchOp = log.opDone("batch", tSubmit, doneS, status == "COMPLETED",
        "client" -> c, "batch" -> id, "analysis" -> q.analysis, "rows" -> rowCount,
        "queue_ms" -> (for (a <- sub2; b <- st) yield b - a),
        "run_ms" -> (for (a <- st; b <- en) yield b - a),
        "err" -> rec.get("errorMessage").map(_.str).getOrElse(""))
      if (status != "COMPLETED" || !readback) return
      if (traced) {
        // files the batch left behind; the snapshot's newest file time splits
        // the run into its snapshot-write and analysis-write phases
        val written = Seq("rawPath", "aggregatedPath").map(k => rec.get(k).map(_.str).toSeq
          .flatMap(d => Files.walk(Paths.get(d)).iterator().asScala.filter(_.toString.endsWith(".parquet"))))
        log.emit("batch_files", "op" -> batchOp, "n" -> written.map(_.size).sum,
          "raw_done" -> written.head.map(f => Files.getLastModifiedTime(f).toMillis).maxOption,
          "start_at" -> st, "end_at" -> en)
        log.op("resolve", "client" -> c) {
          log.span("batch.upsert.readCommitted")(Upsert.readCommitted(spark, table, "event_date"))
        }
      }

      // readback: a shallow and a deep (3/4 of rowCount) offset page, then a
      // keyset walk of two pages chained from the shallow page's last key
      val deep = math.max(0L, rowCount * 3 / 4).toInt
      var lastKey = page(id, "offset=0", "shallow", rowCount, 0, None).flatMap(_.lastOption)
      page(id, s"offset=$deep", "deep", rowCount, deep, None)
      (1 to 2).foreach { _ =>
        lastKey = lastKey.flatMap(k =>
          page(id, s"after=${enc(k)}", "keyset", rowCount, -1, Some(k)).flatMap(_.lastOption))
      }

      // one aggregated page
      val (aggOp, aggRows) = log.op("agg_page", "client" -> c) {
        val (code, b) = log.span("http.batch.aggregated")(
          client.get(s"/batch/data/$id/aggregated?analysis=${q.analysis}&limit=$PageSize"))
        require(code == 200, s"aggregated $code $b")
        Json.parse(b).asObj("data") match { case JArr(xs) => xs; case o => sys.error(s"$o") }
      }
      served.add(Served(batchOp, id, q, rowCount, landedAtDone,
        rec.get("rawPath").map(_.str).getOrElse(""),
        aggRows.getOrElse(Vector.empty), if (aggRows.isDefined) aggOp else 0L))
    }

    private def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")

    /** One data page over HTTP, checked inline; returns its keys. With
      * tracing on, the same page is also read directly through
      * `BatchService` for the HTTP overhead split. */
    private def page(id: String, query: String, kind: String, rowCount: Long,
        offset: Int, after: Option[String]): Option[Vector[String]] = {
      var bytes = 0
      val (opId, keys) = log.op("page", "client" -> c, "page" -> kind) {
        val (code, b) = log.span("http.batch.data")(
          client.get(s"/batch/data/$id?$query&limit=$PageSize"))
        require(code == 200, s"page $code $b")
        bytes = b.getBytes(StandardCharsets.UTF_8).length
        Json.parse(b).asObj("data") match {
          case JArr(xs) => xs.map(_.asObj("transaction_id").str)
          case o => sys.error(s"$o")
        }
      }
      keys.foreach { ks =>
        val want = if (offset >= 0) math.max(0L, math.min(PageSize.toLong, rowCount - offset)) else -1L
        val sorted = ks.zip(ks.drop(1)).forall { case (a, b) => a < b }
        val pastAfter = after.forall(a => ks.forall(_ > a))
        log.check("page_shape", opId, sorted && pastAfter && (want < 0 || ks.size == want),
          s"$kind page of $id: ${ks.size} rows (want $want), sorted=$sorted, pastAfter=$pastAfter")
        log.emit("page_bytes", "op" -> opId, "bytes" -> bytes)
        if (traced) log.op("page_direct", "client" -> c, "page" -> kind, "of" -> opId) {
          log.span("batch.service.readData") {
            val df = if (offset >= 0) svc.readData(id, offset, PageSize) else svc.readDataAfter(id, after, PageSize)
            df.fold(m => sys.error(m), _.collect().length)
          }
        }
      }
      keys
    }
  }
}
