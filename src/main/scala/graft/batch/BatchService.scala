package graft.batch

import java.util.UUID
import java.util.concurrent.Executors

import scala.concurrent.{ExecutionContext, Future}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.operators.Analytics

/** Batch analytics job service: submit → (PENDING → RUNNING →
  * COMPLETED/FAILED) → retrieve, over a date-partitioned transactions table.
  *
  * Parity: jobs/BatchJob.scala + routes/BatchRoutes.scala, with the
  * reference's physical anti-patterns fixed (SURVEY.md §4):
  *
  *   - ONE source scan: the filtered source is written once (snapshot); the
  *     row count comes from `observe()` metrics on that same write, not a
  *     second `count()` job (ref re-scans 3×: BatchJob.scala:65-76);
  *   - aggregations read the (small, pruned) snapshot, not the full source;
  *   - every published output (the raw snapshot and each
  *     `aggregated/<analysis>` dir) carries its schema as `_schema.json`,
  *     written inside the temp dir before the atomic swap, and is read
  *     back with that schema — no schema-inference job on any read of a
  *     dir this service wrote itself (dirs written before the file existed
  *     fall back to inference);
  *   - retrieval is a distributed top-k page (`TakeOrderedAndProject`):
  *     one job of one stage, never `toJSON.collect()` of the whole table
  *     on the driver (ref: BatchRoutes.scala:149,221 collects the full table);
  *   - user-supplied filter columns are validated against the schema up
  *     front → clean FAILED, not a mid-job analysis exception.
  *
  * Concurrency: jobs run on a fixed pool (default 8, as the reference's
  * `batch.thread-pool-size`) with each job thread tagged into the `batch`
  * FAIR scheduler pool so streaming queries keep their share
  * (SparkManager.scala:22-25, fairscheduler.xml).
  */
final class BatchService(
    spark: SparkSession,
    registry: BatchRegistry,
    outputRoot: String,
    poolSize: Int = 8,
    /** partition column of the source tables this service reads — both the
      * committed-snapshot resolution and the date-range prune key on. The
      * default matches the reference's transactions layout; a service over
      * tables partitioned on another column passes its own. */
    partCol: String = "event_date") {

  // Daemon threads: job workers must not keep the JVM alive after the
  // owning application exits (a non-daemon pool hangs standalone drivers).
  private val executor = Executors.newFixedThreadPool(poolSize, r => {
    val t = new Thread(r, "batch-job-worker")
    t.setDaemon(true)
    t
  })
  private implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(executor)

  /** Stop accepting work and release the pool (in-flight jobs finish). */
  def shutdown(): Unit = executor.shutdown()

  def submit(sourcePath: String, req: BatchRequest): Either[String, String] = {
    if (!Analytics.validAnalysisTypes.contains(req.analysisType))
      return Left(s"Unknown analysisType: ${req.analysisType}; valid: " +
        Analytics.validAnalysisTypes.toSeq.sorted.mkString(", "))
    val batchId = s"batch-${java.time.LocalDate.now()}-${UUID.randomUUID().toString.take(8)}"
    registry.put(BatchJobRecord(batchId, req, BatchStatus.Pending, System.currentTimeMillis()))
    Future(run(batchId, sourcePath, req))
    Right(batchId)
  }

  private[batch] def run(batchId: String, sourcePath: String, req: BatchRequest): Unit = {
    val sc = spark.sparkContext
    try {
      sc.setLocalProperty("spark.scheduler.pool", "batch")
      registry.update(batchId)(_.copy(
        status = BatchStatus.Running, startedAt = Some(System.currentTimeMillis())))

      // Committed-snapshot read (the Delta behavior the reference gets on
      // every read): during a concurrent multi-partition mergeByKey the job
      // sees the full pre-merge or the full post-merge state (one merge is
      // one commit), never partition A post-merge and partition B
      // pre-merge. Tables without a TxnLog manifest read plainly (zero
      // overhead).
      val source = Upsert.readCommitted(spark, sourcePath, partCol)
      val cols = source.columns.toSet
      val badFilters = req.filters.keys.filterNot(cols.contains)
      require(badFilters.isEmpty,
        s"Unknown filter column(s): ${badFilters.mkString(", ")}")

      // P4 partition-pruned date range + P5 dynamic equality filters + P6 stamps
      val filtered = req.filters.foldLeft(
        source.filter(col(partCol).between(req.startDate, req.endDate))) {
        case (df, (k, v)) => df.filter(col(k) === v)
      }
        .withColumn("batch_id", lit(batchId))
        .withColumn("processing_timestamp", current_timestamp())

      val rawPath = s"$outputRoot/$batchId/raw"
      val aggPath = s"$outputRoot/$batchId/aggregated"

      // Observation: row count rides along with the snapshot write — no 2nd
      // scan. The write lands in a temp dir and is swapped in atomically, so
      // a reader of a batch being RE-run sees complete-old or complete-new,
      // never a half-written directory (the Delta-ACID substitute).
      val obs = org.apache.spark.sql.Observation(s"batch_metrics_$batchId")
      // the snapshot's read schema: partitionBy moves `category` last, and
      // pinning it keeps its source type (inference would re-type values
      // that look numeric)
      val rawSchema = StructType(
        filtered.schema.filterNot(_.name == "category") :+ filtered.schema("category"))
      publishPinned(rawPath, rawSchema) { tmp =>
        // Snapshot layout: range-clustered on transaction_id (the serving
        // key) so each file covers a disjoint key slice and the keyset
        // pagination's pushed GreaterThan(transaction_id) skips whole row
        // groups — every page after the first reads a sliver of the
        // snapshot instead of re-scanning it. The within-partition sort
        // leads with category (a prefix of the writer's required ordering,
        // so no second sort is inserted by the partitioned write).
        //
        // Two placement constraints, both load-bearing:
        //  - observe() sits ABOVE the range exchange: RangePartitioning
        //    executes its child an extra time (boundary-sampling pass), so a
        //    metric below the exchange double-counts every row;
        //  - the partition count is explicit so AQE doesn't coalesce the
        //    (small) range shuffle into one output file and erase the
        //    clustering. Production sizes shuffle partitions from the
        //    cluster, so this inherits the right scale.
        filtered
          .repartitionByRange(
            spark.sessionState.conf.numShufflePartitions, col("transaction_id"))
          .observe(obs, count(lit(1)).as("rows"))
          .sortWithinPartitions("category", "transaction_id")
          .write.partitionBy("category").mode("overwrite").parquet(tmp)
      }
      val rowCount = obs.get("rows").asInstanceOf[Long]

      // aggregations read the pruned snapshot, not the source
      val snapshot = readPinned(rawPath)
      Analytics.runAnalysis(snapshot, req.analysisType).foreach { case (name, df) =>
        publishPinned(s"$aggPath/$name", df.schema) { tmp =>
          df.write.mode("overwrite").parquet(tmp)
        }
      }

      registry.update(batchId)(_.copy(
        status = BatchStatus.Completed, completedAt = Some(System.currentTimeMillis()),
        rowCount = Some(rowCount), rawPath = Some(rawPath), aggregatedPath = Some(aggPath)))
    } catch {
      case e: Throwable =>
        registry.update(batchId)(_.copy(
          status = BatchStatus.Failed, completedAt = Some(System.currentTimeMillis()),
          error = Some(Option(e.getMessage).getOrElse(e.toString).take(500))))
    } finally {
      sc.setLocalProperty("spark.scheduler.pool", null)
    }
  }

  def status(batchId: String): Option[BatchJobRecord] = registry.get(batchId)

  def list(limit: Int = 100): Seq[BatchJobRecord] = registry.listAll(limit)

  /** Stable-key paginated read of a batch's raw snapshot (W2), offset form.
    *
    * Plans as a single distributed `TakeOrderedAndProject(limit=offset+eff,
    * offset=offset)`: every partition computes its local top-(offset+eff) by
    * `transaction_id`, the driver merges only those — no global Window, no
    * single-partition Exchange (the previous `row_number` implementation
    * funnelled the whole snapshot through one task per page). Deep offsets
    * still cost O(offset+limit) per call — inherent to offset pagination;
    * [[readDataAfter]] is the constant-cost scale path. */
  def readData(
      batchId: String, offset: Int, limit: Int,
      maxPageSize: Int = 10000): Either[String, DataFrame] =
    withCompleted(batchId) { r =>
      val eff = math.min(limit, maxPageSize)
      Right(readPinned(r.rawPath.get)
        .orderBy(col("transaction_id"))
        .offset(offset).limit(eff))
    }

  /** Keyset ("seek") pagination: the page after `afterKey` in
    * `transaction_id` order. The predicate pushes to the parquet scan
    * (row-group min/max pruning) and the sort+limit plans as a
    * `TakeOrderedAndProject` of just `limit` rows per partition — page cost
    * is independent of how deep the walk is, the shape that survives a
    * 100 TB snapshot. `afterKey = None` returns the first page; the caller
    * chains pages with the last `transaction_id` of the previous one. */
  def readDataAfter(
      batchId: String, afterKey: Option[String], limit: Int,
      maxPageSize: Int = 10000): Either[String, DataFrame] =
    withCompleted(batchId) { r =>
      val eff = math.min(limit, maxPageSize)
      val base = readPinned(r.rawPath.get)
      val page = afterKey.fold(base)(k => base.filter(col("transaction_id") > k))
      Right(page.orderBy(col("transaction_id")).limit(eff))
    }

  /** One page of an aggregated result, executed distributed — never a full
    * driver collect. Ordered by ALL output columns (group keys lead in every
    * analysis and are unique per row, so this is a stable total order) and
    * planned as a single `TakeOrderedAndProject(limit=offset+eff,
    * offset=offset)`. Matters because aggregates are NOT always small:
    * `customer_segmentation` is per-customer — hundreds of millions of rows
    * at 100 TB — so the serving path must have the same shape as
    * [[readData]]. */
  def readAggregatedPage(
      batchId: String, analysis: String, offset: Int, limit: Int,
      maxPageSize: Int = 10000): Either[String, DataFrame] =
    readAggregated(batchId, analysis).map { df =>
      val eff = math.min(limit, maxPageSize)
      df.orderBy(df.columns.map(col).toIndexedSeq: _*).offset(offset).limit(eff)
    }

  /** Aggregated result for one analysis of a completed batch. */
  def readAggregated(batchId: String, analysis: String): Either[String, DataFrame] =
    withCompleted(batchId) { r =>
      val dir = new java.io.File(s"${r.aggregatedPath.get}/$analysis")
      if (!dir.isDirectory)
        Left(s"no analysis '$analysis' in batch $batchId; available: " +
          Option(new java.io.File(r.aggregatedPath.get).list()).map(_.sorted.mkString(", ")).getOrElse(""))
      else Right(readPinned(dir.toString))
    }

  /** Atomically publish the output `write` produces at `target`, with
    * `schema` pinned inside the tree as `_schema.json` (its
    * `StructType.json`) before the swap; the `_` prefix keeps the file out
    * of Spark's file listing. */
  private def publishPinned(target: String, schema: StructType)(
      write: String => Unit): Unit =
    graft.core.AtomicWrite.publish(spark, target) { tmp =>
      write(tmp)
      val f = new Path(tmp, ChangeFeed.SchemaFile)
      val out = f.getFileSystem(spark.sessionState.newHadoopConf()).create(f, true)
      try out.write(schema.json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }

  /** Read a published output with its pinned schema: no inference job.
    * Outputs published before the schema file existed are inferred. */
  private def readPinned(dir: String): DataFrame = {
    val f = new Path(dir, ChangeFeed.SchemaFile)
    val fs = f.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(f)) spark.read.parquet(dir)
    else {
      val in = fs.open(f)
      val json = try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      spark.read.schema(DataType.fromJson(json).asInstanceOf[StructType]).parquet(dir)
    }
  }

  private def withCompleted(batchId: String)(
      f: BatchJobRecord => Either[String, DataFrame]): Either[String, DataFrame] =
    registry.get(batchId) match {
      case None => Left(s"unknown batchId: $batchId")
      case Some(r) if r.status != BatchStatus.Completed =>
        Left(s"batch $batchId not completed (status=${r.status})")
      case Some(r) => f(r)
    }
}
