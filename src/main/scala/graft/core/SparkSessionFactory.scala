package graft.core

import org.apache.spark.sql.SparkSession

/** Engine SparkSession builder (parity: SparkManager.scala:11-54).
  *
  * One session serves streaming + batch concurrently, isolated by FAIR
  * scheduler pools; AQE stays on (default in Spark 4) for runtime re-plan
  * (skew-join split, shuffle coalescing). Shuffle partitions default to the
  * core count locally — on a real cluster set this to ~2-3× total executor
  * cores, or leave AQE's coalescing to trim it from a higher ceiling.
  *
  * Local storage: every session graft builds starts from [[builder]],
  * which routes `file:` URIs to [[LocalFs]] through two Hadoop keys —
  * `fs.file.impl` (the `FileSystem` API: Spark's reads and writes, the
  * TxnLog) and `fs.AbstractFileSystem.file.impl` (the `FileContext` API:
  * atomic renames, Spark's streaming checkpoints). Without libhadoop the
  * stock local filesystem forks a `chmod` for every file and directory it
  * creates and a `readlink` for every `FileContext` rename; [[LocalFs]]
  * does both in-process. What lands on disk stays byte-for-byte the same:
  * the same mode bits, the same `.crc` checksum files, the same atomic
  * rename, and the scheme stays `file` (TxnLog's `O_EXCL` create keys on
  * it). Hadoop caches `FileSystem` instances JVM-wide by scheme, ignoring
  * the conf, so the keys take effect only when this session's conf is the
  * first to create a `file:` instance in the JVM — build the session
  * before touching Hadoop's local filesystem.
  */
object SparkSessionFactory {

  /** `SparkSession.builder()` with the local-storage keys set; every
    * graft entry point builds its session from here. */
  def builder(): SparkSession.Builder = SparkSession.builder()
    .config("spark.hadoop.fs.file.impl", classOf[LocalFs.Checksummed].getName)
    .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[LocalFs.Fs].getName)

  def create(
      master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
      appName: String = "graft-engine",
      shufflePartitions: Option[Int] = None,
      fairSchedulerXml: Option[String] = None,
      checkpointRoot: Option[String] = None): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val b = builder()
      .master(master)
      .appName(appName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", shufflePartitions.getOrElse(cores).toString)
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.streaming.minBatchesToRetain", "100")
      .config("spark.ui.enabled", "false")
    fairSchedulerXml.foreach(b.config("spark.scheduler.allocation.file", _))
    checkpointRoot.foreach(b.config("spark.sql.streaming.checkpointLocation", _))
    // Engine extensions: graft_dot + the interval-range join rewrite rule.
    b.withExtensions(new graft.functions.GraftExtensions)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
