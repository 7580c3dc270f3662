package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.Schemas

/** Streaming ingestion: JSON drop-dir → typed parse → enrich → date-
  * partitioned Parquet append with checkpointing.
  *
  * Parity target: StreamingJob.scala:30-53 (Kafka → Delta). This environment
  * has no Kafka/Delta jars (SURVEY.md §7), so the source is Structured
  * Streaming's file source over a drop directory — same at-least-once
  * delivery + offset tracking via checkpoint — and the sink is the Parquet
  * file sink, whose `_spark_metadata` commit log gives exactly-once file
  * visibility to readers that go through the same path (ST2/ST8). Swapping
  * `format("kafka")`/`format("delta")` back in is a config change, not a
  * design change.
  *
  * Scale notes: the enrich step is a pure projection (codegen, no shuffle);
  * partitioning by `event_date` makes the batch side's date-range reads
  * prune at the directory level (§4 partition pruning). `maxFilesPerTrigger`
  * bounds per-microbatch work so processing time stays under the trigger
  * interval at any backlog size.
  */
object StreamingIngest {

  /** The enrichment applied to every parsed micro-batch (P6):
    * event_date partition column + ingest timestamp. */
  def enrich(parsed: DataFrame): DataFrame =
    parsed
      .withColumn("event_date", to_date(col("event_timestamp")))
      .withColumn("processing_timestamp", current_timestamp())

  /** Start the raw-ingest query: dropDir JSON → transactions Parquet.
    *
    * `schema` defaults to the reference transaction schema; an upgraded
    * producer widens it (the streaming face of Delta `schema.autoMerge`,
    * ref SparkManager.scala:36). The sink's commit log tracks files, not
    * schemas, so a restart on the SAME checkpoint with a wider schema is
    * legal: offsets resume exactly-once, old files keep the narrow footer,
    * and readers union the generations with `mergeSchema`
    * (SchemaEvolutionSpec covers the full upgrade round trip). */
  def start(
      spark: SparkSession,
      dropDir: String,
      tablePath: String,
      checkpointDir: String,
      maxFilesPerTrigger: Int = 100,
      trigger: Trigger = Trigger.ProcessingTime(0),
      schema: org.apache.spark.sql.types.StructType = Schemas.TransactionSchema): StreamingQuery = {
    // A maintenance run (SinkCompaction) crashed between its log-swap
    // renames leaves `_spark_metadata` retired to an `.old-` sibling. The
    // file sink would silently CREATE A FRESH EMPTY LOG here — resetting
    // the exactly-once ledger and orphaning every prior data file (which
    // the next vacuum would then delete). Repair before starting.
    graft.core.AtomicWrite.recoverSwap(spark, s"$tablePath/_spark_metadata")
    val raw = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(dropDir)
    enrich(raw).writeStream
      .queryName("transactions-ingest")
      .format("parquet")
      .partitionBy("event_date")
      .outputMode("append")
      .option("path", tablePath)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }

  /** Read the ingested table THROUGH the sink's commit log so in-progress
    * files are invisible (the Parquet stand-in for Delta ACID, §7.3).
    *
    * Versioned read: the file listing is resolved eagerly here, bracketed
    * by [[graft.core.TxnLog.readerState]] probes. [[SinkCompaction]] marks
    * its log swap begin/end in the same manifest, so if a swap overlapped
    * this resolution — the one window where `spark.read.parquet` silently
    * falls back from the commit log to directory listing and can see old
    * small files AND their compacted rewrites (a ~2× duplicate view) — the
    * probe disagrees and the read re-resolves. Readers therefore always
    * observe a complete pre-swap or post-swap file set, with no
    * coordination and no locks (the Delta snapshot-read analog).
    *
    * Also repairs a CRASHED maintenance log-swap first, in reader-safe
    * mode (`gcTmp = false`: never delete the `.tmp-` siblings of a
    * possibly-live maintenance publish; tolerate losing the repair rename
    * to a concurrent reader). `mergeSchema` is on so a table whose
    * producer widened the schema (see [[start]]) reads as the union of
    * generations instead of a footer-dependent subset. */
  def readTable(spark: SparkSession, tablePath: String): DataFrame = {
    val logDir = s"$tablePath/_spark_metadata"
    // how long to honor an unclosed swap mark before treating its owner as
    // crashed: the mark brackets only the milliseconds-long log publish
    // (failure paths abort their claims), so seconds of persistence means
    // a hard-killed maintenance job — readers then repair and proceed
    // instead of serving errors for the full TxnLog staleness horizon.
    // The patience is keyed on the MARK'S OWN AGE (readerState ages marks
    // by now - mark.ts), not on how long this call has been running: a
    // fresh LIVE swap that begins after a reader has already spent seconds
    // retrying through earlier contention is still honored — treating it
    // as crashed would repair/read mid-swap, and a swap bracketing the
    // whole resolution window is invisible to the before/after version
    // probe (the raw directory-listing fallback would be returned
    // undetected, a ~2× duplicate view).
    val inFlightPatienceMs = 5000L
    // back-to-back fresh swap marks (a tight maintenance loop) could
    // starve a reader forever on per-mark patience alone; a generous
    // overall cap turns that into a loud error instead of a silent hang —
    // never into a mid-swap read
    val waitCapMs = 120000L
    val waitStart = System.currentTimeMillis()
    val maxAttempts = 80
    var attempt = 0
    while (true) {
      // probe BEFORE any repair: while a swap is in flight the "missing"
      // log belongs to the live publisher — a reader restoring it
      // mid-publish would hijack the swap (the publisher recovers, but
      // there is no reason to race it)
      val probe = graft.core.TxnLog.readerState(
        spark, tablePath, staleLockMs = inFlightPatienceMs)
      val inFlight = probe._2
      // a mark older than the patience window is a crashed publisher's
      // leftover (readerState already ages it out): fall through, repair,
      // and read (the version check below still guards against a LIVE swap
      // racing the resolution — every swap's begin mark bumps the version)
      if (inFlight) {
        // a single crashed mark ages out of the flag after
        // inFlightPatienceMs; the wall cap bounds SEQUENCES of live marks
        if (System.currentTimeMillis() - waitStart > waitCapMs)
          throw new IllegalStateException(
            s"readTable: $tablePath has had swap marks in flight for over " +
              s"$waitCapMs ms — maintenance is starving readers")
        Thread.sleep(25)
      } else {
        // resolution attempts only — the in-flight wait above is bounded
        // by its patience window and must not consume this budget
        attempt += 1
        // no fresh in-flight swap → a missing log is a CRASHED swap; repair
        graft.core.AtomicWrite.recoverSwap(spark, logDir, gcTmp = false)
        try {
          // eager: the commit log and file listing are pinned here
          val df = spark.read.option("mergeSchema", "true").parquet(tablePath)
          if (graft.core.TxnLog.readerState(spark, tablePath)._1 == probe._1) return df
          // a swap landed mid-resolution (its begin mark bumped the
          // version) — the listing may be the raw directory fallback;
          // re-resolve
        } catch {
          case scala.util.control.NonFatal(e) if attempt < maxAttempts =>
            // the dir-missing instant of a concurrent swap — retry
            Thread.sleep(25)
        }
        if (attempt >= maxAttempts)
          throw new IllegalStateException(
            s"readTable: $tablePath did not yield a stable resolution in $maxAttempts attempts")
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
