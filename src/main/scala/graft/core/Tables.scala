package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided corpus (TESTDATA.md): one parquet file per
  * table under `/root/testdata/sf{N}/`. Schemas documented in FIXTURES.md §2.
  *
  * At 100 TB these would be partitioned/bucketed table roots rather than
  * single files; `load` takes any path Spark can scan, so the same code serves
  * both. Column pruning + predicate pushdown happen at this scan (verify via
  * `.explain`: `ReadSchema` / `PushedFilters`). The schema comes from the
  * file's footer on the driver ([[FooterSchema]]), so loading a table runs
  * no Spark job.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    FooterSchema.read(spark, s"$dir/$name.parquet")

  // NOTE on single-row-group corpus files: each table scans as ONE partition
  // no matter the split settings. Measured at sf0.1: widening fact scans
  // (lineitem/orders/events) with a guarded repartition made join/agg
  // queries SLOWER (the added shuffle costs more than the single-core
  // broadcast-probe it parallelizes), so loaders stay un-widened here.
  // Pipelines with heavy per-row compute (tokenize/shingle/md5 over
  // documents) DO widen at their own entry points — DedupQueries.docs,
  // TextQueries.docs — where the same guard was measured 2-5x faster.

  /** `events.ts` has shipped in two physical types across corpus generations:
    * parquet TIMESTAMP(NANOS) (read as epoch-nanos LongType via `nanosAsLong`)
    * and plain `timestamp[us]` (read natively as TIMESTAMP / TIMESTAMP_NTZ).
    * Dispatch on the LOADED dtype so both generations normalize to the same
    * session-UTC `ts_ts` TimestampType column:
    *  - LongType: all nanos-corpus values are µs-aligned (ns%1000==0,
    *    verified), so `timestamp_micros(ts div 1000)` is lossless and matches
    *    DuckDB's `CAST(ts AS TIMESTAMP)`. Integer `div` is load-bearing:
    *    double division loses precision at ~1.7e18.
    *  - TimestampNTZType: wall-clock micros; a cast under the UTC session
    *    timezone (all graft sessions pin `spark.sql.session.timeZone=UTC`)
    *    is identity on the underlying micros.
    *  - TimestampType: already the target type.
    */
  def eventsWithTs(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true") // no-op unless the file is TIMESTAMP(NANOS)
    val df = load(s, d, "events")
    val tsTs = df.schema("ts").dataType match {
      case LongType         => expr("timestamp_micros(ts div 1000)")
      case TimestampNTZType => col("ts").cast(TimestampType)
      case TimestampType    => col("ts")
      case other => throw new IllegalStateException(
        s"events.ts loaded as unsupported type $other; expected int64-nanos, timestamp, or timestamp_ntz")
    }
    df.withColumn("ts_ts", tsTs)
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     = eventsWithTs(s, d)
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
