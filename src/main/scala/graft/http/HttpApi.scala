package graft.http

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.time.{Duration, Instant}
import java.util.concurrent.Executors

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.batch.{BatchRegistry, BatchRequest, BatchService, BatchStatus}
import graft.streaming.QueryLifecycle

/** HTTP facade over the engine — the reference's primary interface,
  * re-served on JDK 17's built-in `com.sun.net.httpserver` (zero new
  * dependencies). Route surface and envelope contract:
  *
  *   - `POST /batch/run`          → 202 {batchId, status:PENDING} | 400
  *     (routes/BatchRoutes.scala:37-111)
  *   - `GET /batch/status/:id`    → 200 record | 404 (BatchRoutes.scala:115-132)
  *   - `GET /batch/data/:id`      → 200 page envelope | 409 not-ready | 404
  *     (BatchRoutes.scala:207-274)
  *   - `GET /batch/data/:id/aggregated` → 200 | 409 | 404
  *     (BatchRoutes.scala:135-204)
  *   - `GET /batch/list`          → 200 {total, returned, batches}
  *     (BatchRoutes.scala:277-297)
  *   - `POST /stream/start|stop`, `GET /stream/status`
  *     (routes/StreamRoutes.scala:26-124; 409 single-flight guard)
  *   - `GET /health`, `POST /stop` (routes/ControlRoutes.scala:22-76)
  *
  * Physical divergence from the reference, on purpose: data pages execute
  * `BatchService.readData` (distributed TakeOrderedAndProject of ONE page)
  * and only that page is collected — the reference materializes the whole
  * snapshot on the driver per request (BatchRoutes.scala:149,221), which
  * dies at 100 TB. `rowCount` comes from the job record (captured by
  * `observe()` at write time), never a re-count. Aggregated pages go
  * through the same distributed page shape
  * (`BatchService.readAggregatedPage`) — per-customer aggregates are NOT
  * bounded at 100 TB, so they are never fully collected either.
  *
  * Every served page is one Spark job of one stage: `BatchService` reads
  * its outputs with their pinned schemas (no inference job), and the JSON
  * is rendered inside the plan ([[HttpApi.jsonRows]]), so the page's
  * top-k projects the JSON text itself and collects as per-task top-k
  * merged on the driver, with no shuffle.
  */
final class HttpApi(
    spark: SparkSession,
    service: BatchService,
    registry: BatchRegistry,
    sourcePath: String,
    mkStreams: () => Seq[StreamingQuery] = () => Nil,
    onStop: () => Unit = () => (),
    defaultPageSize: Int = 100,
    maxPageSize: Int = 10000,
    host: String = "127.0.0.1",
    bindPort: Int = 0,
    /** Maintenance job runner behind `POST /maintenance/run`; defaults to
      * one over this facade's registry with the config tree's knobs (ops
      * reports land in a scratch dir). Inject to share the app's
      * configured output root / registry dir. */
    maintenance: Option[graft.batch.MaintenanceService] = None) {

  private val maint: graft.batch.MaintenanceService = maintenance.getOrElse(
    new graft.batch.MaintenanceService(spark, registry,
      graft.core.GraftConfig.load().maintenance,
      java.nio.file.Files.createTempDirectory("graft-maint-ops").toString))

  private val lifecycle = new QueryLifecycle
  private val startTime = Instant.now()
  // Loopback by default: the facade exposes unauthenticated control routes
  // (POST /stop), so it must not bind the wildcard interface unless a
  // deployment explicitly configures a host (GraftConfig.http).
  private val server = HttpServer.create(new InetSocketAddress(host, bindPort), 0)
  server.setExecutor(Executors.newFixedThreadPool(8, r => {
    val t = new Thread(r, "http-api"); t.setDaemon(true); t
  }))

  /** Ephemeral bound port (the facade is constructed on port 0). */
  def port: Int = server.getAddress.getPort

  def start(): HttpApi = { server.start(); this }
  def stop(): Unit = { lifecycle.stopAll(); server.stop(0) }

  // ------------------------------------------------------------- dispatch

  server.createContext("/", (ex: HttpExchange) => {
    val method = ex.getRequestMethod
    val path = ex.getRequestURI.getPath
    val segs = path.split("/").filter(_.nonEmpty).toList
    try {
      (method, segs) match {
        case ("POST", "batch" :: "run" :: Nil)                => batchRun(ex)
        case ("GET", "batch" :: "status" :: id :: Nil)        => batchStatus(ex, id)
        case ("GET", "batch" :: "data" :: id :: Nil)          => batchData(ex, id)
        case ("GET", "batch" :: "data" :: id :: "aggregated" :: Nil) =>
          batchAggregated(ex, id)
        case ("GET", "batch" :: "list" :: Nil)                => batchList(ex)
        case ("POST", "stream" :: "start" :: Nil)             => streamStart(ex)
        case ("POST", "stream" :: "stop" :: Nil)              => streamStop(ex)
        case ("GET", "stream" :: "status" :: Nil)             => streamStatus(ex)
        case ("POST", "maintenance" :: "run" :: Nil)          => maintenanceRun(ex)
        case ("GET", "maintenance" :: "status" :: id :: Nil)  => maintenanceStatus(ex, id)
        case ("POST", "table" :: "feature" :: "drop" :: Nil)  => featureDrop(ex)
        case ("GET", "table" :: "history" :: Nil)             => tableHistory(ex)
        case ("GET", "table" :: "detail" :: Nil)              => tableDetail(ex)
        case ("GET", "table" :: "vacuum" :: "preview" :: Nil) => vacuumPreview(ex)
        case ("GET", "table" :: "data" :: Nil)                => tableData(ex)
        case ("GET", "table" :: "changes" :: Nil)             => tableChanges(ex)
        case ("GET", "table" :: "tail" :: Nil)                => tableTail(ex)
        case ("GET", "health" :: Nil)                         => health(ex)
        case ("POST", "stop" :: Nil)                          => stopAll(ex)
        case _ =>
          reply(ex, 404, err("NOT_FOUND", s"No route for $method $path"))
      }
    } catch {
      case e: Throwable =>
        reply(ex, 500, err("INTERNAL_ERROR", Option(e.getMessage).getOrElse(e.toString)))
    }
  })

  // --------------------------------------------------------------- batch

  private def batchRun(ex: HttpExchange): Unit = {
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    val fields =
      try Json.parse(if (body.trim.isEmpty) "{}" else body).asObj
      catch {
        case e: Exception =>
          reply(ex, 400, err("INVALID_REQUEST", s"Malformed JSON body: ${e.getMessage}"))
          return
      }
    (fields.get("startDate"), fields.get("endDate"), fields.get("analysisType")) match {
      case (Some(JStr(sd)), Some(JStr(ed)), Some(JStr(at))) =>
        val filters = fields.get("filters").map(_.asObj.map { case (k, v) => k -> v.str })
          .getOrElse(Map.empty[String, String])
        service.submit(sourcePath, BatchRequest(sd, ed, at, filters)) match {
          case Left(msg) => reply(ex, 400, err("INVALID_REQUEST", msg))
          case Right(batchId) =>
            reply(ex, 202, JObj.of("batchId" -> JStr(batchId), "status" -> JStr("PENDING")))
        }
      case _ =>
        reply(ex, 400,
          err("INVALID_REQUEST", "Missing required fields: startDate, endDate, analysisType"))
    }
  }

  private def batchStatus(ex: HttpExchange, id: String): Unit =
    registry.get(id) match {
      case Some(rec) => reply(ex, 200, recordJson(rec))
      case None      => reply(ex, 404, err("BATCH_NOT_FOUND", s"No batch job found with ID: $id"))
    }

  /** Offset pages by default; `?after=<transaction_id>` switches to keyset
    * ("seek") pagination — constant cost per page regardless of depth
    * (`BatchService.readDataAfter`). The keyset envelope carries
    * `nextAfter` (last key of the page) for the client to chain; `hasMore`
    * is `returned == limit` since a seek page never knows the remaining
    * count without a recount. */
  private def batchData(ex: HttpExchange, id: String): Unit =
    withCompleted(ex, id) { rec =>
      pageParams(ex) match {
        case Left(msg) => reply(ex, 400, err("INVALID_REQUEST", msg))
        case Right((limit, offset)) =>
          // rowCount can be absent (e.g. a record recovered from a pre-observe()
          // registry file) — then it is OMITTED from the envelope and hasMore
          // falls back to the keyset convention (full page ⇒ maybe more), rather
          // than lying with rowCount:0 / hasMore:false on a non-empty page.
          val rowCountField =
            rec.rowCount.map(t => "rowCount" -> (JNum(BigDecimal(t)): JVal)).toVector
          query(ex).get("after") match {
            case after @ Some(_) =>
              val page = service.readDataAfter(id, after, limit, maxPageSize)
                .fold(m => throw new IllegalStateException(m), identity)
              val rows = HttpApi.jsonRows(page).map(Json.parse)
              val nextAfter = rows.lastOption.map(_.asObj("transaction_id").str)
              reply(ex, 200, JObj(Vector[(String, JVal)](
                "batchId" -> JStr(id),
                "status" -> JStr("COMPLETED")) ++ rowCountField ++ Vector[(String, JVal)](
                "page" -> JObj(pageEnvelope(limit, 0, rows.length, rows.length == limit).fields ++
                  nextAfter.map(k => "nextAfter" -> (JStr(k): JVal)).toVector),
                "data" -> JArr(rows))))
            case None =>
              val page = service.readData(id, offset, limit, maxPageSize)
                .fold(m => throw new IllegalStateException(m), identity)
              val rows = HttpApi.jsonRows(page).map(Json.parse)
              val hasMore = rec.rowCount
                .map(t => offset + limit < t).getOrElse(rows.length == limit)
              reply(ex, 200, JObj(Vector[(String, JVal)](
                "batchId" -> JStr(id),
                "status" -> JStr("COMPLETED")) ++ rowCountField ++ Vector[(String, JVal)](
                "page" -> pageEnvelope(limit, offset, rows.length, hasMore),
                "data" -> JArr(rows))))
          }
      }
    }

  private def batchAggregated(ex: HttpExchange, id: String): Unit =
    withCompleted(ex, id) { rec =>
      pageParams(ex) match {
        case Left(msg) => reply(ex, 400, err("INVALID_REQUEST", msg))
        case Right((limit, offset)) =>
          val analysis = query(ex).getOrElse("analysis", rec.request.analysisType)
          // Distributed page, NOT a full collect: aggregates are not always
          // small (customer_segmentation is per-customer — hundreds of millions
          // of rows at 100 TB), so this serves through the same
          // TakeOrderedAndProject shape as the raw-data path.
          service.readAggregatedPage(id, analysis, offset, limit, maxPageSize) match {
            case Left(msg) => reply(ex, 404, err("ANALYSIS_NOT_FOUND", msg))
            case Right(df) =>
              val rows = HttpApi.jsonRows(presentationRounded(df)).map(Json.parse)
              reply(ex, 200, JObj.of(
                "batchId" -> JStr(id),
                "analysisType" -> JStr(analysis),
                "page" -> pageEnvelope(limit, offset, rows.length, rows.length == limit),
                "data" -> JArr(rows)))
          }
      }
    }

  /** Presentation rounding, applied at the serialization boundary ONLY (the
    * stored/oracle-checked internals stay unrounded — Analytics.scala:21-24):
    * the reference rounds these derived ratios for display
    * (ref AnalysisAggregator.scala:114 share 2dp, :216 fraud rate 4dp,
    * :282 daily velocity 2dp). */
  private val presentationScale: Map[String, Int] =
    Map("revenue_share_pct" -> 2, "fraud_rate_pct" -> 4, "daily_velocity" -> 2)

  private def presentationRounded(
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, round}
    presentationScale.foldLeft(df) { case (d, (c, scale)) =>
      if (d.columns.contains(c)) d.withColumn(c, round(col(c), scale)) else d
    }
  }

  /** Keyset-paginated listing: `?limit=&status=&after=<submittedAt>:<id>`.
    * `after` is the opaque cursor echoed back as `nextAfter` while more
    * pages remain — stable under concurrent submissions and O(limit) on
    * the wire however many records disk recovery loaded (offset paging
    * over an unbounded recovered registry would re-serialize ever-growing
    * prefixes). */
  private def batchList(ex: HttpExchange): Unit = {
    val q = query(ex)
    val limit = q.get("limit").flatMap(_.toIntOption).getOrElse(20).max(1)
    val status = q.get("status").flatMap(s =>
      scala.util.Try(graft.batch.BatchStatus.withName(
        s.toUpperCase.charAt(0) + s.toLowerCase.drop(1))).toOption match {
        case some @ Some(_) => some
        // tolerate exact enum casing too
        case None => scala.util.Try(graft.batch.BatchStatus.withName(s)).toOption
      })
    if (q.contains("status") && status.isEmpty) {
      reply(ex, 400, err("INVALID_STATUS", s"unknown status '${q("status")}'"))
      return
    }
    val after = q.get("after").flatMap { c =>
      val i = c.indexOf(':')
      if (i <= 0) None
      else c.take(i).toLongOption.map(ts => (ts, c.drop(i + 1)))
    }
    if (q.contains("after") && after.isEmpty) {
      reply(ex, 400, err("INVALID_CURSOR", "after must be <submittedAt>:<batchId>"))
      return
    }
    // limit+1 peek: nextAfter is emitted only when a further record exists,
    // so an exactly-full final page does not cost the client an empty fetch
    val (peek, total) = registry.listPage(limit + 1, after, status)
    val page = peek.take(limit)
    val base = Vector(
      "total" -> (JNum(BigDecimal(total)): JVal),
      "returned" -> JNum(BigDecimal(page.size)),
      "batches" -> JArr(page.toVector.map(recordJson)))
    val next = page.lastOption.filter(_ => peek.size > limit)
      .map(r => "nextAfter" -> (JStr(s"${r.submittedAt}:${r.batchId}"): JVal))
    reply(ex, 200, JObj(base ++ next))
  }

  // --------------------------------------------------------- maintenance

  /** `POST /maintenance/run` — the reference's scheduled-ops story
    * (AGENTS.md:1162-1171) over the same API as batches: body
    * `{mode, table, <mode options…>}` where mode options are `partCol`,
    * `cols`, `column`, `indexDir` per [[graft.Maintain]]'s modes. 202
    * with a registry-tracked `maintenanceId`; 400 on unknown mode /
    * missing option; 409 while a run is already active on the table
    * (single-flight — concurrent runs would only abort each other's OCC
    * claims). */
  private def maintenanceRun(ex: HttpExchange): Unit = {
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    val fields =
      try Json.parse(if (body.trim.isEmpty) "{}" else body).asObj
      catch {
        case e: Exception =>
          reply(ex, 400, err("INVALID_REQUEST", s"Malformed JSON body: ${e.getMessage}"))
          return
      }
    (fields.get("mode"), fields.get("table")) match {
      case (Some(JStr(mode)), Some(JStr(table))) =>
        val opts = fields.collect {
          case (k, JStr(v)) if k != "mode" && k != "table" => k -> v
        }.toMap
        maint.submit(table, mode, opts) match {
          case Left(msg) => reply(ex, 400, err("INVALID_REQUEST", msg))
          case Right(Left(activeId)) =>
            reply(ex, 409, JObj.of(
              "error" -> JStr("MAINTENANCE_ALREADY_RUNNING"),
              "message" -> JStr(s"Maintenance $activeId is active on $table. " +
                "Wait for it to finish."),
              "maintenanceId" -> JStr(activeId)))
          case Right(Right(id)) =>
            reply(ex, 202, JObj.of(
              "maintenanceId" -> JStr(id), "status" -> JStr("PENDING")))
        }
      case _ =>
        reply(ex, 400, err("INVALID_REQUEST", "Missing required fields: mode, table"))
    }
  }

  /** Status by id — the batch record envelope plus, once completed, the
    * per-op report (`ops`: the same JSON lines the Maintain CLI prints,
    * read back from the atomically-published report file). */
  private def maintenanceStatus(ex: HttpExchange, id: String): Unit =
    registry.get(id) match {
      case Some(rec) =>
        val ops: Vector[(String, JVal)] = rec.rawPath.flatMap { p =>
          scala.util.Try(
            Json.parse(java.nio.file.Files.readString(java.nio.file.Paths.get(p)))
          ).toOption
        }.map(a => Vector("ops" -> a)).getOrElse(Vector.empty)
        reply(ex, 200, JObj(
          (("maintenanceId" -> (JStr(rec.batchId): JVal)) +: recordJson(rec).fields) ++ ops))
      case None =>
        reply(ex, 404, err("MAINTENANCE_NOT_FOUND", s"No maintenance job found with ID: $id"))
    }

  /** `GET /table/history?table=<path>[&limit=N]` — DESCRIBE HISTORY over
    * the API: the table's retained commits, newest first (one O(tail)
    * manifest probe on the driver, no Spark job at all). */
  private def tableHistory(ex: HttpExchange): Unit = {
    val q = query(ex)
    q.get("table").filter(_.nonEmpty) match {
      case None =>
        reply(ex, 400, err("MISSING_TABLE", "table query parameter is required"))
      case Some(table) =>
        val p = new org.apache.hadoop.fs.Path(table)
        if (!p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)) {
          // a typo'd path must not read back as a healthy empty history
          reply(ex, 404, err("TABLE_NOT_FOUND", s"No table at: $table"))
          return
        }
        val limit = q.get("limit").flatMap(_.toIntOption).getOrElse(100).max(1)
        val commits = graft.core.TxnLog.commitsSince(spark, table, 0L)
          .reverse.take(limit)
        reply(ex, 200, JObj.of(
          "table" -> JStr(table),
          "returned" -> JNum(BigDecimal(commits.size)),
          "history" -> JArr(commits.toVector.map { c =>
            JObj(Vector(
              "version" -> (JNum(BigDecimal(c.version)): JVal),
              "operation" -> JStr(c.op),
              "partitions" -> JArr(c.partitions.toVector.sorted.map(JStr(_))),
              "timestamp" -> JNum(BigDecimal(c.ts)),
              "allPartitions" -> JBool(c.all)) ++
              c.ref.map(r => "ref" -> (JNum(BigDecimal(r)): JVal)).toVector ++
              c.txn.map(t => "txn" -> (JStr(t): JVal)).toVector)
          })))
    }
  }

  /** `GET /table/detail?table=<path>` — DESCRIBE DETAIL over the API: one
    * object of table-level facts from driver metadata only (no Spark
    * job). */
  private def tableDetail(ex: HttpExchange): Unit = {
    val q = query(ex)
    q.get("table").filter(_.nonEmpty) match {
      case None =>
        reply(ex, 400, err("MISSING_TABLE", "table query parameter is required"))
      case Some(table) =>
        val p = new org.apache.hadoop.fs.Path(table)
        if (!p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)) {
          // a typo'd path must not read back as an empty healthy table
          reply(ex, 404, err("TABLE_NOT_FOUND", s"No table at: $table"))
          return
        }
        val d = graft.batch.Upsert.detail(spark, table)
        def strs(xs: Seq[String]) = JArr(xs.toVector.map(JStr(_)))
        reply(ex, 200, JObj.of(
          "location" -> JStr(d.location),
          "numFiles" -> JNum(BigDecimal(d.numFiles)),
          "sizeInBytes" -> JNum(BigDecimal(d.sizeInBytes)),
          "numPartitions" -> JNum(BigDecimal(d.numPartitions)),
          "version" -> JNum(BigDecimal(d.version)),
          "constraints" -> strs(d.constraints),
          "generatedColumns" -> strs(d.generatedColumns),
          "identityColumns" -> strs(d.identityColumns),
          "mappedColumns" -> strs(d.mappedColumns),
          "bloomIndexes" -> strs(d.bloomIndexes),
          "statsIndexes" -> strs(d.statsIndexes),
          "pendingDvSidecars" -> JNum(BigDecimal(d.pendingDvSidecars)),
          "expectations" -> strs(d.expectations),
          "lastExpectCounts" -> strs(d.lastExpectCounts),
          "tableFeatures" -> strs(d.tableFeatures),
          "typeWidenings" -> strs(d.typeWidenings),
          "cloneState" -> strs(d.cloneState)))
    }
  }

  /** `POST /table/feature/drop {table, feature}` — Delta's `ALTER TABLE …
    * DROP FEATURE` over the API. 409 when residue blocks the drop (the
    * body names the remains and the clearing verb), 400 on unknown or
    * undeclared features, 503 when the drop lost its registry race too
    * many times (retryable — NOT a residue conflict). */
  private def featureDrop(ex: HttpExchange): Unit = {
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    val fields =
      try Json.parse(if (body.trim.isEmpty) "{}" else body).asObj
      catch {
        case e: Exception =>
          reply(ex, 400, err("INVALID_REQUEST", s"Malformed JSON body: ${e.getMessage}"))
          return
      }
    (fields.get("table"), fields.get("feature")) match {
      case (Some(JStr(table)), Some(JStr(feature))) =>
        try {
          graft.batch.TableFeatures.dropFeature(spark, table, feature)
          reply(ex, 200, JObj.of(
            "table" -> JStr(table), "dropped" -> JStr(feature)))
        } catch {
          case e: graft.batch.TableFeatures.ResidueException =>
            reply(ex, 409, err("FEATURE_RESIDUE", e.getMessage))
          case e: IllegalArgumentException =>
            reply(ex, 400, err("INVALID_REQUEST", e.getMessage))
          case e: IllegalStateException =>
            // contention ("still contended after N attempts") or a
            // missing residue rule — retryable/internal, never residue
            reply(ex, 503, err("FEATURE_DROP_UNAVAILABLE", e.getMessage))
        }
      case _ =>
        reply(ex, 400, err("INVALID_REQUEST", "Missing required fields: table, feature"))
    }
  }

  /** `GET /table/vacuum/preview?table=<path>[&minAgeMs=N]` — Delta's
    * `VACUUM … DRY RUN` over the API: what the streaming-sink vacuum
    * WOULD remove (exact counts/bytes, up to 1000 candidate paths),
    * deleting nothing. Driver-side file listing only — no Spark job — so
    * an operator can size a cleanup before scheduling the real
    * `POST /maintenance/run {mode:stream}`. One caveat a strict read-only
    * GET cannot have: if a previous compaction CRASHED mid-log-swap, the
    * preview completes the swap first (idempotent
    * [[graft.core.AtomicWrite.recoverSwap]] — without the repaired log
    * every data file would preview as an orphan); the response surfaces
    * that in `logSwapRepaired` instead of mutating silently. */
  private def vacuumPreview(ex: HttpExchange): Unit = {
    val q = query(ex)
    q.get("table").filter(_.nonEmpty) match {
      case None =>
        reply(ex, 400, err("MISSING_TABLE", "table query parameter is required"))
      case Some(table) =>
        val p = new org.apache.hadoop.fs.Path(table)
        if (!p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)) {
          reply(ex, 404, err("TABLE_NOT_FOUND", s"No table at: $table"))
          return
        }
        val minAge = q.get("minAgeMs").flatMap(_.toLongOption)
          .getOrElse(24L * 3600 * 1000)
        try {
          val r = graft.streaming.SinkCompaction.vacuum(
            spark, table, minAgeMs = minAge, dryRun = true)
          reply(ex, 200, JObj.of(
            "table" -> JStr(table),
            "dryRun" -> JBool(true),
            "minAgeMs" -> JNum(BigDecimal(minAge)),
            "filesToRemove" -> JNum(BigDecimal(r.filesRemoved)),
            "bytesToRemove" -> JNum(BigDecimal(r.bytesRemoved)),
            "dirsToRemove" -> JNum(BigDecimal(r.dirsRemoved)),
            "logSwapRepaired" -> JBool(r.logSwapRepaired),
            "paths" -> JArr(r.paths.toVector.map(JStr(_)))))
        } catch {
          // not a sink table / interval-mismatched or corrupt commit log —
          // client errors (require → IllegalArgument, loud-abort → IllegalState)
          case e: IllegalArgumentException =>
            reply(ex, 400, err("INVALID_TABLE", e.getMessage))
          case e: IllegalStateException =>
            reply(ex, 400, err("INVALID_TABLE", e.getMessage))
        }
    }
  }

  /** Shared preamble of the versioned-read routes: resolve `table` +
    * `partCol` or reply 400/404. The existence probe mirrors
    * [[tableDetail]] — a typo'd path must never read as an empty table. */
  private def withTable(ex: HttpExchange)(body: (String, String) => Unit): Unit = {
    val q = query(ex)
    (q.get("table").filter(_.nonEmpty), q.get("partCol").filter(_.nonEmpty)) match {
      case (None, _) =>
        reply(ex, 400, err("MISSING_TABLE", "table query parameter is required"))
      case (_, None) =>
        reply(ex, 400, err("MISSING_PART_COL", "partCol query parameter is required"))
      case (Some(table), Some(partCol)) =>
        val p = new org.apache.hadoop.fs.Path(table)
        if (!p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p))
          reply(ex, 404, err("TABLE_NOT_FOUND", s"No table at: $table"))
        else body(table, partCol)
    }
  }

  /** `GET /table/data?table=<path>&partCol=<c>[&asOf=<version>|
    * &asOfTs=<epoch-millis>][&orderBy=<col>][&after=<key>][&limit|&offset]`
    * — versioned reads over the ops API (the reference's whole point is
    * serving data over HTTP, ref BatchRoutes.scala:134-274; Delta serves
    * the same verbs as `VERSION/TIMESTAMP AS OF`). Committed-tip snapshot
    * by default; `asOf`/`asOfTs` route through [[graft.batch.Upsert
    * .readAsOf]]/[[graft.batch.Upsert.readAsOfTimestamp]]. Paging is the
    * `BatchService.readData` discipline — ONE distributed
    * TakeOrderedAndProject page is collected, never the snapshot
    * (`?after=` keyset form needs `orderBy`; the offset form totals-orders
    * by every column when `orderBy` is absent). Bad versions are 400s.
    * `&columns=a,b` and `&where=day=2026-01-01;k>5` shape the scan
    * server-side ([[TableShape]]): the projection prunes the read schema,
    * the conjuncts compile to pushed Catalyst predicates that partition
    * dirs, parquet footers, and the stats/bloom sidecars prune BEFORE any
    * row is read — the Delta Sharing predicate-hint discipline. */
  private def tableData(ex: HttpExchange): Unit = withTable(ex) { (table, partCol) =>
    val q = query(ex)
    pageParams(ex) match {
      case Left(msg) => reply(ex, 400, err("INVALID_REQUEST", msg))
      case Right((limit, offset)) =>
        val asOfRaw = q.get("asOf")
        val asOfTsRaw = q.get("asOfTs")
        if (asOfRaw.exists(_.toLongOption.isEmpty) ||
            asOfTsRaw.exists(_.toLongOption.isEmpty)) {
          reply(ex, 400, err("INVALID_VERSION",
            "asOf must be a version number, asOfTs an epoch-millis timestamp"))
          return
        }
        q.get("via") match {
          case Some("index") =>
            if (asOfRaw.isDefined || asOfTsRaw.isDefined)
              reply(ex, 400, err("INVALID_REQUEST",
                "via=index serves the TIP through the sidecars — it cannot " +
                  "time-travel; drop asOf/asOfTs or drop via=index"))
            else indexedData(ex, table, q, limit, offset)
            return
          case Some(other) =>
            reply(ex, 400, err("INVALID_REQUEST",
              s"via=$other is not a serving path (only via=index)"))
            return
          case None => ()
        }
        val resolved =
          try {
            val version = asOfRaw.map(_.toLong)
              .orElse(asOfTsRaw.map(ts =>
                graft.batch.Upsert.versionAt(spark, table, ts.toLong)))
            val df = version match {
              case Some(v) => graft.batch.Upsert.readAsOf(spark, table, v, partCol)
              case None    => graft.batch.Upsert.readCommitted(spark, table, partCol)
            }
            Right((df,
              version.getOrElse(graft.core.TxnLog.currentVersion(spark, table))))
          } catch {
            case e @ (_: IllegalArgumentException | _: IllegalStateException) => Left(e)
          }
        resolved match {
          case Left(e) =>
            val (status, code) = HttpApi.versionFailure(e)
            reply(ex, status, err(code, e.getMessage))
          case Right((df, version)) =>
            TableShape(df, q) match {
              case Left(msg) => reply(ex, 400, err("INVALID_REQUEST", msg))
              case Right(shaped) =>
                servePage(ex, shaped, limit, offset, q.get("orderBy"), q.get("after"),
                  Vector("table" -> JStr(table), "version" -> JNum(BigDecimal(version))))
            }
        }
    }
  }

  /** `GET /table/data?…&via=index&where=…` — INDEXED SERVING: route the
    * page's scan through the table's stats / bloom sidecars so only
    * ADMITTED files enter the plan ([[graft.batch.Upsert.rangeLookup]] /
    * [[graft.batch.Upsert.pointLookup]] — deletion vectors subtracted,
    * O(admitting files) instead of a committed-snapshot scan). Explicitly
    * opt-in: the sidecar path resolves files by directory listing, not
    * snapshot resolution (the staleness contract BloomIndex documents),
    * and serves only the tip — the route refuses to let that substitution
    * happen silently based on whether someone built an index.
    *
    * Admission takes EVERY `where` conjunct whose column carries a stats
    * sidecar as a composite probe ([[graft.batch.Upsert.rangeLookupAll]]
    * — admitted sets intersect, closed-bound approximation of each op;
    * every conjunct then re-applies as an exact pushed filter on the
    * pruned frame), else the first EQUALITY conjunct on a bloom-indexed
    * column. No indexed conjunct → 400 naming the indexed columns, never
    * a silent full scan. */
  private def indexedData(
      ex: HttpExchange, table: String, q: Map[String, String],
      limit: Int, offset: Int): Unit = {
    val conjs = q.get("where").filter(_.nonEmpty) match {
      case None =>
        reply(ex, 400, err("INVALID_REQUEST",
          "via=index needs a where= bound on an indexed column"))
        return
      case Some(w) => TableShape.parseWhere(w) match {
        case Left(msg) => reply(ex, 400, err("INVALID_REQUEST", msg)); return
        case Right(cs) => cs
      }
    }
    val colMap = graft.batch.ColumnMapping.mapping(spark, table)
    def phys(c: String) = graft.batch.ColumnMapping.physicalName(colMap, c)
    val statsCols = graft.core.StatsIndex.indexedColumns(spark, table).toSet
    val bloomCols = graft.core.BloomIndex.indexedColumns(spark, table).toSet
    // IN-lists (unquoted `|` alternatives) post-filter but are not probe
    // candidates: a multi-value equality is neither one range nor one
    // bloom key
    val bounded = conjs.filter(c => !c.isNull && c.op != "!=" &&
      !(!c.quoted && c.value.contains("|")))
    val statsConjs = bounded.filter(c => statsCols.contains(phys(c.column)))
    val bloomPick = bounded.find(c =>
      c.op == "=" && bloomCols.contains(phys(c.column)))
    val base = (statsConjs, bloomPick) match {
      case (cs, _) if cs.nonEmpty =>
        // typed bounds for the sidecar compares; the exact (possibly
        // strict) predicates re-apply below, so the closed ranges only
        // ADMIT. Every stats-indexed conjunct becomes a probe — the
        // admitted sets INTERSECT (files(a AND b) ≤ min, never the union).
        val fields = graft.batch.Upsert.readCommitted(spark, table,
          q.getOrElse("partCol", "")).schema.fields
          .map(f => f.name -> f.dataType).toMap
        val probes = cs.map { cj =>
          fields.get(cj.column)
            .flatMap(dt => TableShape.castLiteral(cj.value, dt)) match {
            case None =>
              reply(ex, 400, err("INVALID_REQUEST",
                s"where literal '${cj.value}' does not parse as column " +
                  s"${cj.column}'s type"))
              return
            case Some(v) => cj.op match {
              case "="        => (cj.column, Some(v), Some(v))
              case ">" | ">=" => (cj.column, Some(v), None)
              case _          => (cj.column, None, Some(v))
            }
          }
        }
        graft.batch.Upsert.rangeLookupAll(spark, table, probes)
      case (_, Some(cj)) =>
        graft.batch.Upsert.pointLookup(spark, table, cj.column, cj.value)
      case _ =>
        val have = (statsCols ++ bloomCols).toSeq.sorted
        reply(ex, 400, err("INVALID_REQUEST",
          "via=index needs a where conjunct on an indexed column " +
            s"(stats range or bloom equality); indexed: " +
            (if (have.isEmpty) "none — build a sidecar first"
             else have.mkString(", "))))
        return
    }
    TableShape(base, q) match {
      case Left(msg) => reply(ex, 400, err("INVALID_REQUEST", msg))
      case Right(shaped) =>
        servePage(ex, shaped, limit, offset, q.get("orderBy"), q.get("after"),
          Vector("table" -> JStr(table), "via" -> JStr("index")))
    }
  }

  /** `GET /table/changes?table=<path>&partCol=<c>&from=<v>[&to=<v>]
    * [&orderBy|&after|&limit|&offset|&columns|&where]` — the change feed
    * over the API (Delta `table_changes(...)`): net row deltas of commits
    * in `(from, to]`, `_change_type`/`_commit_version` tagged, served with
    * the same one-page + shape-hint discipline as `/table/data` (e.g.
    * `where=_change_type=delete` pages only the removals). `fromTs`/`toTs`
    * accept epoch-millis bounds instead (Delta's `startingTimestamp`),
    * resolved through [[graft.batch.Upsert.versionAt]]. */
  private def tableChanges(ex: HttpExchange): Unit = withTable(ex) { (table, partCol) =>
    val q = query(ex)
    pageParams(ex) match {
      case Left(msg) => reply(ex, 400, err("INVALID_REQUEST", msg))
      case Right((limit, offset)) =>
        val (fromV, fromTs) = (q.get("from"), q.get("fromTs"))
        val (toV, toTs) = (q.get("to"), q.get("toTs"))
        if (fromV.isEmpty && fromTs.isEmpty)
          reply(ex, 400, err("INVALID_REQUEST",
            "from=<version> or fromTs=<epoch-millis> is required"))
        else if ((fromV.toSeq ++ toV ++ fromTs ++ toTs)
            .exists(_.toLongOption.isEmpty))
          reply(ex, 400, err("INVALID_VERSION",
            "from/to must be version numbers, fromTs/toTs epoch-millis"))
        else {
            // timestamp bounds resolve through versionAt (Delta's
            // startingTimestamp analog): fromTs=T serves changes committed
            // AFTER T — the newest commit at-or-before T is the exclusive
            // cursor, so a mirror that recorded "synced at T" resumes
            // without re-reading T's own commit
            val feed =
              try {
                val from = fromV.map(_.toLong).getOrElse(
                  graft.batch.Upsert.versionAt(spark, table, fromTs.get.toLong))
                val to = toV.map(_.toLong).orElse(toTs.map(t =>
                  graft.batch.Upsert.versionAt(spark, table, t.toLong)))
                Right((graft.batch.ChangeFeed.readChanges(
                  spark, table, partCol, from, to), from, to))
              } catch {
                case e: IllegalArgumentException => Left(e.getMessage)
                case e: IllegalStateException    => Left(e.getMessage)
              }
            feed.flatMap { case (df, from, to) =>
              TableShape(df, q).left.map(m => s"SHAPE:$m")
                .map(shaped => (shaped, from, to))
            } match {
              case Left(msg) if msg.startsWith("SHAPE:") =>
                reply(ex, 400, err("INVALID_REQUEST", msg.stripPrefix("SHAPE:")))
              case Left(msg) => reply(ex, 400, err("INVALID_VERSION", msg))
              case Right((df, from, to)) =>
                servePage(ex, df, limit, offset, q.get("orderBy"), q.get("after"),
                  Vector("table" -> JStr(table),
                    "from" -> JNum(BigDecimal(from))) ++
                    to.map(t => "to" -> (JNum(BigDecimal(t)): JVal)))
            }
        }
    }
  }

  /** `GET /table/tail?table=<path>&partCol=<c>&cursor=<v>[&maxCommits=N]
    * [&ignoreChanges=true][&ignoreDeletes=true][&limit|&offset|&orderBy|
    * &columns|&where]` — the curl twin of [[graft.streaming
    * .TableTailStream]]: the rows commits `(cursor, nextCursor]`
    * APPENDED, `nextCursor = min(tip, cursor + maxCommits)`. STATELESS —
    * the CLIENT holds the cursor (echoed back as `nextCursor`; resume by
    * passing it as the next `cursor`), so an ops consumer can mirror a
    * table with curl plus one saved integer, the way `mirrorTo` does
    * programmatically — no server-side checkpoint. Within one cursor
    * range the rows page with the full `/table/data` discipline
    * (limit/offset/orderBy/columns/where): drain the range to
    * `hasMore=false`, THEN advance the cursor. `maxCommits` is the
    * bootstrap rate limit (Delta's `maxFilesPerTrigger` discipline at
    * this engine's unit of change): a consumer starting at cursor=0
    * against a long-lived table advances in bounded batches.
    *
    * Caught up (`cursor` = tip) is a 200 with `caughtUp:true` and an
    * unchanged `nextCursor`. A rewriting commit in range without the
    * matching opt-in flag is a 409 carrying the engine's refusal
    * (Delta's "Detected a data update…" contract — the two-tier
    * `ignoreDeletes`/`ignoreChanges` caveat documented on
    * [[graft.streaming.TableTailStream]]) — never silently-wrong
    * appends. A cursor beyond the tip or below the retained change-feed
    * horizon is a 400. */
  private def tableTail(ex: HttpExchange): Unit = withTable(ex) { (table, partCol) =>
    val q = query(ex)
    def flag(name: String): Either[String, Boolean] = q.get(name) match {
      case None                       => Right(false)
      case Some("true") | Some("1")   => Right(true)
      case Some("false") | Some("0")  => Right(false)
      case Some(other) =>
        Left(s"$name=$other is not a flag value (true/false)")
    }
    pageParams(ex) match {
      case Left(msg) => reply(ex, 400, err("INVALID_REQUEST", msg))
      case Right((limit, offset)) =>
        val parsed = for {
          cursor <- q.get("cursor")
            .toRight("cursor=<version> is required (start a new tail at " +
              "cursor=0)")
            .flatMap(c => c.toLongOption.filter(_ >= 0)
              .toRight(s"cursor=$c is not a non-negative version number"))
          maxCommits <- q.get("maxCommits") match {
            case None => Right(Int.MaxValue)
            case Some(m) => m.toIntOption.filter(_ > 0)
              .toRight(s"maxCommits=$m is not a positive integer")
          }
          ignoreChanges <- flag("ignoreChanges")
          ignoreDeletes <- flag("ignoreDeletes")
        } yield (cursor, maxCommits, ignoreChanges, ignoreDeletes)
        parsed match {
          case Left(msg) => reply(ex, 400, err("INVALID_REQUEST", msg))
          case Right((cursor, maxCommits, ignoreChanges, ignoreDeletes)) =>
            val tip = graft.core.TxnLog.currentVersion(spark, table)
            if (cursor > tip) {
              reply(ex, 400, err("INVALID_CURSOR",
                s"cursor $cursor is beyond the current tip v$tip — a tail " +
                  "cursor only ever moves to a previously echoed nextCursor"))
              return
            }
            try {
              graft.streaming.TableTailStream.readTail(spark, table, partCol,
                  cursor, ignoreChanges, maxCommits, ignoreDeletes) match {
                case None =>
                  reply(ex, 200, JObj.of(
                    "table" -> JStr(table),
                    "cursor" -> JNum(BigDecimal(cursor)),
                    "nextCursor" -> JNum(BigDecimal(cursor)),
                    "caughtUp" -> JBool(true),
                    "page" -> pageEnvelope(limit, offset, 0, hasMore = false),
                    "data" -> JArr(Vector.empty)))
                case Some((appended, next)) =>
                  TableShape(appended, q) match {
                    case Left(msg) =>
                      reply(ex, 400, err("INVALID_REQUEST", msg))
                    case Right(shaped) =>
                      servePage(ex, shaped, limit, offset,
                        q.get("orderBy"), q.get("after"),
                        Vector("table" -> JStr(table),
                          "cursor" -> JNum(BigDecimal(cursor)),
                          "nextCursor" -> JNum(BigDecimal(next)),
                          "caughtUp" -> JBool(false)))
                  }
              }
            } catch {
              // the appends-only refusal is a CONFLICT with the range's
              // content (the consumer must opt in or switch feeds) — 409,
              // exactly like the stream-start route's single-flight refusal
              case e: IllegalStateException
                  if Option(e.getMessage).exists(_.startsWith("table tail:")) =>
                reply(ex, 409, err("REWRITE_IN_RANGE", e.getMessage))
              // horizon/argument refusals from the change feed are client
              // errors: the cursor predates retained history
              case e: IllegalStateException =>
                reply(ex, 400, err("INVALID_CURSOR", e.getMessage))
              case e: IllegalArgumentException =>
                reply(ex, 400, err("INVALID_CURSOR", e.getMessage))
            }
        }
    }
  }

  /** One distributed page of `df`, serialized — the only rows that ever
    * reach the driver. Keyset form (`after` + `orderBy`): pushed seek
    * filter + TakeOrderedAndProject, constant cost at any depth, echoes
    * `nextAfter`. Offset form: total order over `orderBy` (or every
    * column), `offset(...).limit(...)`. `order=desc` flips the walk —
    * the "latest N first" serving shape (an ops console tails a table by
    * timestamp without paging from the beginning of time); the keyset
    * seek then filters `< after` and the pushed predicate prunes from the
    * other end of the clustered layout.
    *
    * Cursor discipline: `after` (and `afterTie`) are validated against
    * the cursor column's SCHEMA TYPE ([[TableShape.castLiteral]]) and
    * compared as typed literals — a string-vs-bigint comparison would
    * coerce through double (lossy above 2^53), and garbage would compile
    * to a silently empty page; both are 400s instead.
    *
    * Non-unique `orderBy` cannot lose rows silently: a `tiebreak=<col>`
    * makes the sort total and the cursor composite (`nextAfter` +
    * `nextAfterTie`, resumed via `after`+`afterTie` — seek is
    * `ob > A OR (ob = A AND tb > T)`). Without one, the page over-fetches
    * a probe row; when the boundary lands inside a run of equal keys the
    * page is TRIMMED back to the last complete run (the strict `>` seek
    * then re-serves the whole run on the next page), and a run wider than
    * the whole page — untrimmable — is a loud 400 naming the fix, never a
    * silent skip.
    *
    * Walk start: the cursor-less first page (`orderBy` without `after`)
    * over-fetches the same probe row, reports EXACT `hasMore`, and
    * echoes `nextAfter` (+`nextAfterTie`) so a keyset walk starts
    * without manufacturing a below-minimum cursor; when the first-page
    * boundary splits a run (or ends on a NULL key) the cursor is
    * WITHHELD and `cursorNote` names the fix — never a cursor that
    * would skip rows. Offset clients see identical rows (the probe is
    * never returned).
    *
    * NULLs: a strict seek (`>` / `<`) can never address a NULL key, so
    * NULLs sort FIRST in both directions and are served by the
    * cursor-less first page; a walk started from a manufactured cursor
    * (rather than page-1's echo) skips them by construction. */
  private def servePage(
      ex: HttpExchange, df: org.apache.spark.sql.DataFrame,
      limit: Int, offset: Int,
      orderBy: Option[String], after: Option[String],
      head: Vector[(String, JVal)]): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    val q = query(ex)
    val tiebreak = q.get("tiebreak").filter(_.nonEmpty)
    val badOrder = (orderBy.toSeq ++ tiebreak).filterNot(df.columns.contains)
    if (badOrder.nonEmpty) {
      reply(ex, 400, err("INVALID_REQUEST",
        s"orderBy/tiebreak column ${badOrder.head} is not a column of the " +
          s"result (have: ${df.columns.sorted.mkString(", ")})"))
      return
    }
    if (tiebreak.isDefined && orderBy.isEmpty) {
      reply(ex, 400, err("INVALID_REQUEST",
        "tiebreak=<col> refines orderBy=<col>; supply orderBy"))
      return
    }
    if (tiebreak.isDefined && tiebreak == orderBy) {
      reply(ex, 400, err("INVALID_REQUEST",
        "tiebreak must be a different column than orderBy"))
      return
    }
    val desc = q.get("order") match {
      case None | Some("asc") => false
      case Some("desc")       => true
      case Some(other) =>
        reply(ex, 400, err("INVALID_REQUEST",
          s"order=$other is not a direction (asc or desc)"))
        return
    }
    // NULLs first in BOTH directions (asc is Spark's default): a keyset
    // seek can never address a NULL, so the cursor-less first page must
    // be where they surface — symmetrically for asc and desc walks
    def dir(c: org.apache.spark.sql.Column) = if (desc) c.desc_nulls_first else c.asc
    // typed cursor literal, or Left(400 message) on a value the column's
    // type cannot parse (which compiled as-is would match nothing)
    def typed(cursorName: String, v: String, c: String)
        : Either[String, org.apache.spark.sql.Column] = {
      val dt = df.schema(c).dataType
      TableShape.castLiteral(v, dt) match {
        case None => Left(s"$cursorName cursor '$v' does not parse as " +
          s"${dt.simpleString} (column $c)")
        case Some(_) => Right(lit(v).cast(dt))
      }
    }
    def cursorOf(row: JVal, c: String): String = row.asObj.get(c) match {
      case Some(JStr(s)) => s
      case Some(other)   => other.render
      case None          => "" // column projected away — refused above
    }
    // a column's cursor VALUE, None on NULL (the JSON omits null fields)
    def cv(row: JVal, c: String): Option[String] = row.asObj.get(c)
      .collect { case JStr(s) => s; case j if j != JNull => j.render }
    after match {
      case Some(a) =>
        orderBy match {
          case None =>
            reply(ex, 400, err("INVALID_REQUEST",
              "after=<key> (keyset paging) requires orderBy=<col>"))
          case Some(ob) =>
            val aTyped = typed("after", a, ob) match {
              case Left(m)  => reply(ex, 400, err("INVALID_CURSOR", m)); return
              case Right(c) => c
            }
            def gt(c: org.apache.spark.sql.Column,
                l: org.apache.spark.sql.Column) = if (desc) c < l else c > l
            (tiebreak, q.get("afterTie")) match {
              case (Some(tb), Some(at)) =>
                val tTyped = typed("afterTie", at, tb) match {
                  case Left(m)  => reply(ex, 400, err("INVALID_CURSOR", m)); return
                  case Right(c) => c
                }
                val seek = gt(col(ob), aTyped) ||
                  (col(ob) === aTyped && gt(col(tb), tTyped))
                val page = df.filter(seek)
                  .orderBy(dir(col(ob)), dir(col(tb))).limit(limit)
                val rows = HttpApi.jsonRows(page).map(Json.parse)
                // a NULL tiebreak can slip past the ob > A arm but no
                // composite seek can ever resume past it — refuse loudly
                // (the run-too-wide 400 precedent), never emit a cursor
                // that skips rows or fails to parse on the next request
                if (rows.lastOption.exists(r => cv(r, tb).isEmpty)) {
                  reply(ex, 400, err("AMBIGUOUS_ORDER",
                    s"tiebreak=$tb has NULLs at the page boundary — a " +
                      "composite cursor cannot address them; pick a " +
                      "non-null unique tiebreak column"))
                  return
                }
                val nexts = rows.lastOption.toVector.flatMap(last => Vector(
                  "nextAfter" -> (JStr(cursorOf(last, ob)): JVal),
                  "nextAfterTie" -> (JStr(cursorOf(last, tb)): JVal)))
                reply(ex, 200, JObj(head ++ Vector[(String, JVal)](
                  "page" -> JObj(
                    pageEnvelope(limit, 0, rows.length,
                      rows.length == limit).fields ++ nexts),
                  "data" -> JArr(rows))))
              case (Some(_), None) =>
                reply(ex, 400, err("INVALID_CURSOR",
                  "tiebreak paging resumes with BOTH after= and afterTie= " +
                    "(echoed as nextAfter/nextAfterTie)"))
              case (None, Some(_)) =>
                reply(ex, 400, err("INVALID_REQUEST",
                  "afterTie=<key> requires tiebreak=<col>"))
              case (None, None) =>
                // single-column cursor: over-fetch one probe row so a page
                // boundary inside a run of equal keys is DETECTED — the
                // strict > seek would silently skip the run's remainder
                val seek = gt(col(ob), aTyped)
                val page = df.filter(seek).orderBy(dir(col(ob))).limit(limit + 1)
                val fetched = HttpApi.jsonRows(page).map(Json.parse)
                val (rows, more) =
                  if (fetched.length <= limit) (fetched, false)
                  else {
                    val kept = fetched.take(limit)
                    val boundaryKey = cursorOf(kept.last, ob)
                    if (cursorOf(fetched(limit), ob) != boundaryKey)
                      (kept, true)
                    else {
                      // boundary splits a run: trim the run off this page;
                      // the next seek (> previous key) re-serves it whole
                      val trimmed = kept.reverse
                        .dropWhile(r => cursorOf(r, ob) == boundaryKey).reverse
                      if (trimmed.isEmpty) {
                        reply(ex, 400, err("AMBIGUOUS_ORDER",
                          s"orderBy=$ob is not unique: >= $limit rows share " +
                            s"the value '$boundaryKey', so a strict keyset " +
                            "seek would skip rows — add tiebreak=<unique " +
                            "col> (cursor becomes after+afterTie) or raise " +
                            "limit past the widest run"))
                        return
                      }
                      (trimmed, true)
                    }
                  }
                val nextAfter = rows.lastOption
                  .map(r => cursorOf(r, ob))
                  .filter(_ => more)
                reply(ex, 200, JObj(head ++ Vector[(String, JVal)](
                  "page" -> JObj(
                    pageEnvelope(limit, 0, rows.length, more).fields ++
                      nextAfter.map(k => "nextAfter" -> (JStr(k): JVal)).toVector),
                  "data" -> JArr(rows))))
            }
        }
      case None =>
        val ordCols = orderBy.map(o => Seq(o) ++ tiebreak)
          .getOrElse(df.columns.toSeq.sorted)
        // over-fetch one probe row: exact hasMore, and — when ordered — a
        // first-page keyset cursor, so a walk starts WITHOUT a
        // manufactured below-minimum after=. The probe also detects a
        // boundary splitting a run of equal keys, which a strict resume
        // would silently skip: then the cursor is withheld and cursorNote
        // names the fix. Offset clients see identical rows.
        val page = df.orderBy(ordCols.map(c => dir(col(c))): _*)
          .offset(offset).limit(limit + 1)
        val fetched = HttpApi.jsonRows(page).map(Json.parse)
        val rows = fetched.take(limit)
        val more = fetched.length > limit
        val cursorFields: Vector[(String, JVal)] = orderBy match {
          case Some(ob) if rows.nonEmpty =>
            def nullNote(c: String) = Vector("cursorNote" -> (JStr(
              s"the page ends on a NULL $c — NULLs sort first and only " +
                "the cursor-less first page serves them; raise limit past " +
                "the null run to obtain a cursor"): JVal))
            tiebreak match {
              case Some(tb) =>
                (cv(rows.last, ob), cv(rows.last, tb)) match {
                  case (Some(a), Some(t)) => Vector(
                    "nextAfter" -> (JStr(a): JVal),
                    "nextAfterTie" -> (JStr(t): JVal))
                  case (None, _) => nullNote(ob)
                  case _         => nullNote(tb)
                }
              case None =>
                (cv(rows.last, ob),
                  if (more) cv(fetched(limit), ob) else None) match {
                  case (Some(a), pk) if !pk.contains(a) =>
                    Vector("nextAfter" -> (JStr(a): JVal))
                  case (Some(a), _) => Vector("cursorNote" -> (JStr(
                    s"orderBy=$ob is not unique and the page boundary " +
                      s"splits a run of '$a' — resuming from after=$a " +
                      "would skip the run's remainder; add " +
                      "tiebreak=<unique col> or raise limit"): JVal))
                  case (None, _) => nullNote(ob)
                }
            }
          case _ => Vector.empty
        }
        reply(ex, 200, JObj(head ++ Vector[(String, JVal)](
          "page" -> JObj(pageEnvelope(limit, offset, rows.length, more)
            .fields ++ cursorFields),
          "data" -> JArr(rows))))
    }
  }

  // -------------------------------------------------------------- stream

  private def streamStart(ex: HttpExchange): Unit =
    try {
      lifecycle.start(mkStreams()) match {
        case Left(_) =>
          reply(ex, 409, err("STREAM_ALREADY_RUNNING",
            "Streaming queries are already active. Stop them first."))
        case Right(statuses) =>
          reply(ex, 200, JObj.of(
            "status" -> JStr("started"),
            "queryIds" -> JArr(statuses.toVector.map(s => JStr(s.id)))))
      }
    } catch {
      case e: Exception =>
        reply(ex, 500, err("INTERNAL_ERROR", Option(e.getMessage).getOrElse(e.toString)))
    }

  private def streamStop(ex: HttpExchange): Unit = {
    val active = lifecycle.status().count(_.isActive)
    lifecycle.stopAll()
    val base = Vector[(String, JVal)](
      "status" -> JStr("stopped"),
      "queriesStopped" -> JNum(BigDecimal(active)))
    val fields =
      if (active == 0) base :+ (("message", JStr("No active streaming queries."): JVal))
      else base
    reply(ex, 200, JObj(fields))
  }

  private def streamStatus(ex: HttpExchange): Unit = {
    val statuses = lifecycle.status()
    reply(ex, 200, JObj.of(
      "active" -> JBool(statuses.exists(_.isActive)),
      "queries" -> JArr(statuses.toVector.map(s => JObj.of(
        "id" -> JStr(s.id),
        "name" -> JStr(if (s.name.isEmpty) "unnamed" else s.name),
        "isActive" -> JBool(s.isActive))))))
  }

  // ------------------------------------------------------------- control

  private def health(ex: HttpExchange): Unit = {
    val healthy = !spark.sparkContext.isStopped
    val up = Duration.between(startTime, Instant.now())
    val uptime = s"${up.toHours}h ${up.toMinutesPart}m ${up.toSecondsPart}s"
    val body = JObj.of(
      "status" -> JStr(if (healthy) "healthy" else "unhealthy"),
      "spark" -> JBool(healthy),
      "uptime" -> JStr(uptime))
    reply(ex, if (healthy) 200 else 503, body)
  }

  private def stopAll(ex: HttpExchange): Unit = {
    val stopped = lifecycle.status().count(_.isActive)
    lifecycle.stopAll()
    reply(ex, 200, JObj.of(
      "status" -> JStr("shutting_down"),
      "queriesStopped" -> JNum(BigDecimal(stopped))))
    // graceful drain off-thread so the response flushes first
    new Thread(() => { Thread.sleep(200); service.shutdown(); onStop() },
      "http-shutdown").start()
  }

  // ------------------------------------------------------------- helpers

  private def withCompleted(ex: HttpExchange, id: String)(
      f: graft.batch.BatchJobRecord => Unit): Unit =
    registry.get(id) match {
      case Some(rec) if rec.status == BatchStatus.Completed => f(rec)
      case Some(rec) =>
        reply(ex, 409, JObj.of(
          "error" -> JStr("BATCH_NOT_READY"),
          "message" -> JStr(s"Batch not completed. Current status: ${statusName(rec)}"),
          "status" -> JStr(statusName(rec))))
      case None =>
        reply(ex, 404, err("BATCH_NOT_FOUND", s"No batch job found with ID: $id"))
    }

  private def statusName(rec: graft.batch.BatchJobRecord): String =
    rec.status.toString.toUpperCase

  private def recordJson(rec: graft.batch.BatchJobRecord): JObj = {
    val base = Vector[(String, JVal)](
      "batchId" -> JStr(rec.batchId),
      "status" -> JStr(statusName(rec)),
      "analysisType" -> JStr(rec.request.analysisType),
      "sourcePath" -> JStr(sourcePath),
      "startDate" -> JStr(rec.request.startDate),
      "endDate" -> JStr(rec.request.endDate),
      "submitTime" -> JStr(Instant.ofEpochMilli(rec.submittedAt).toString))
    val opt = Vector(
      (if (rec.request.filters.nonEmpty)
        Some("filters" -> JObj(rec.request.filters.toVector.map { case (k, v) => k -> (JStr(v): JVal) }))
      else None),
      rec.startedAt.map(t => "startTime" -> (JStr(Instant.ofEpochMilli(t).toString): JVal)),
      rec.completedAt.map(t => "endTime" -> (JStr(Instant.ofEpochMilli(t).toString): JVal)),
      rec.rowCount.map(c => "rowCount" -> (JNum(BigDecimal(c)): JVal)),
      rec.rawPath.map(p => "rawPath" -> (JStr(p): JVal)),
      rec.aggregatedPath.map(p => "aggregatedPath" -> (JStr(p): JVal)),
      rec.error.map(m => "errorMessage" -> (JStr(m): JVal))).flatten
    JObj(base ++ opt)
  }

  private def pageEnvelope(limit: Int, offset: Int, returned: Int, hasMore: Boolean): JObj =
    JObj.of(
      "limit" -> JNum(BigDecimal(limit)),
      "offset" -> JNum(BigDecimal(offset)),
      "returned" -> JNum(BigDecimal(returned)),
      "hasMore" -> JBool(hasMore))

  /** Negative offsets clamp to 0; a non-positive limit is a LOUD client
    * error. Clamping limit to 0 would serve an empty page whose envelope
    * says `hasMore=true` with no `nextAfter` (the keyset convention reads
    * full-page-⇒-maybe-more, and 0 == 0), trapping a spec-following client
    * in an infinite refetch loop; letting it flow into `Dataset.limit`
    * would throw an opaque 500. */
  private def pageParams(ex: HttpExchange): Either[String, (Int, Int)] = {
    val q = query(ex)
    val limit = q.get("limit").flatMap(_.toIntOption).getOrElse(defaultPageSize)
    if (limit <= 0) Left(s"limit must be positive, got $limit")
    else Right((math.min(limit, maxPageSize),
      math.max(0, q.get("offset").flatMap(_.toIntOption).getOrElse(0))))
  }

  private def query(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&")
      .filter(_.contains("="))
      .map { kv =>
        val Array(k, v) = kv.split("=", 2)
        java.net.URLDecoder.decode(k, "UTF-8") -> java.net.URLDecoder.decode(v, "UTF-8")
      }.toMap

  private def err(code: String, message: String): JObj =
    JObj.of(
      "error" -> JStr(code),
      "message" -> JStr(message),
      "timestamp" -> JStr(Instant.now().toString))

  private def reply(ex: HttpExchange, status: Int, body: JObj): Unit = {
    val bytes = body.render.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }
}

object HttpApi {
  import org.apache.spark.sql.functions.{col, struct, to_json}

  /** The rows of `df`, one JSON object per row, byte for byte what the
    * `Dataset` JSON rendering produces (HttpSpec pins it): the same
    * generator and options, with the session time zone. The JSON is the
    * frame's final projection, `to_json(struct(*))`; the star expands to
    * the output attributes, so dotted and duplicate column names render as
    * they do there. Catalyst folds that projection into a page's
    * `TakeOrderedAndProject`, which collects as one job of one stage
    * (per-task top-k, merged on the driver). A `MapPartitions` on top of
    * the top-k instead forces a second stage that shuffles every task's
    * top-k into one partition. */
  private[graft] def jsonRows(df: DataFrame): Vector[String] =
    df.select(to_json(struct(col("*")))).collect().toVector.map(_.getString(0))

  /** Status and error code for a `/table/data` version that failed to
    * resolve. A refused version (beyond the tip, below the retention
    * horizon, vacuumed, no commits) is the client's: 400. Any other
    * `IllegalStateException` (no stable snapshot under contention, readers
    * starved by maintenance) is transient: 503, and a retry can succeed. */
  private[graft] def versionFailure(e: Throwable): (Int, String) = e match {
    case _: graft.batch.Upsert.SnapshotRefused | _: IllegalArgumentException =>
      (400, "INVALID_VERSION")
    case _ => (503, "SNAPSHOT_UNAVAILABLE")
  }
}
