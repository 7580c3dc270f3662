package graft.core

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetReadSupport
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import org.apache.spark.util.SerializableConfiguration
import org.apache.spark.util.sketch.BloomFilter

/** Per-file Bloom-filter index for point lookups on NON-layout columns —
  * the Delta Lake bloom-filter-index analog (Delta stores one filter per
  * data file and consults it before scheduling the file for scan).
  *
  * [[graft.core.LayoutOps]] makes range/equality predicates on the CLUSTER
  * keys cheap via footer min/max, but a high-cardinality column that is
  * not in the sort order gets no help: every file's [min,max] spans the
  * domain and a needle-in-haystack lookup (a GDPR subject id, a trace id)
  * reads the whole table. A Bloom filter per file answers "definitely not
  * here" from kilobytes of sidecar metadata, so the lookup schedules only
  * the files that MIGHT contain the key — false positives cost one extra
  * file scan each, never a wrong answer (membership may over-approximate,
  * never under-approximate).
  *
  * Build shape: ONE pass over the data; filters are pre-sized from parquet
  * FOOTER metadata (row count minus the column's null count, a KB-scale
  * read per file that never touches row groups), then each task folds its
  * rows into per-file partial filters keyed by `input_file_name()`
  * (Spark's mergeable `BloomFilter` sketch), partials merge by file ON
  * EXECUTORS, and the merged frame is written straight to the sidecar —
  * driver state is O(files) path strings, never filter bytes. The
  * sidecar lives beside the table (`_graft_bloom/<column>/`) as parquet
  * (file, filter bytes), so it ships with the table like Delta's index
  * files.
  *
  * Lookup shape: the sidecar is key-tested ON EXECUTORS in one pass (each
  * task deserializes the filters it read and returns (file key, admits)
  * pairs — the driver never holds filter bytes), then the
  * lookup reads ONLY the admitted files — with
  * `basePath` set to the table root so Hive partition-dir columns
  * (`event_date=…`) survive exactly as a full-table scan would produce
  * them, and with the files' ORIGINAL scheme-qualified paths so the read
  * targets the table's filesystem, not the session default. The scan plan
  * never mentions the skipped files at all, which on an object store also
  * skips their LIST/HEAD traffic. Files created AFTER the index was built
  * are unknown to it and are conservatively INCLUDED (scanned), so a
  * stale index degrades to a slower-but-correct lookup; [[refresh]]
  * restores full pruning by reading ONLY the new files (data files are
  * immutable, so existing filters never go stale in place), and
  * [[graft.batch.Upsert]]'s merge/compact/Z-order paths call it inline
  * after replacing files — the sidecar tracks write churn without waiting
  * for a scheduled Maintain rebuild. On a table with pending DELETION
  * VECTORS the lookup result is the pre-subtraction row set (same as a
  * raw `spark.read.parquet(table)`); DV-aware callers subtract pairs from
  * the result exactly as they would from a raw scan.
  *
  * Sidecar keys are scheme-stripped URI paths ONLY because
  * `input_file_name()` renders `file:///x` where Hadoop listings render
  * `file:/x` — the normalized form is a join key, never a read path.
  */
object BloomIndex {

  private def indexDir(table: String, column: String) =
    s"$table/_graft_bloom/$column"

  /** The sidecar as written, `(file, filter)`: read with its fixed schema,
    * never inferred (inference is a Spark job per read). */
  private def readSidecar(spark: SparkSession, table: String, column: String): DataFrame =
    spark.read.schema("file STRING, filter BINARY").parquet(indexDir(table, column))

  /** `input_file_name()` ⇄ Hadoop-listing normalization: both sides key
    * the sidecar by the scheme-stripped URI path. */
  private def normKey(p: String): String = new java.net.URI(p).getPath

  /** Build (or rebuild) the per-file filter sidecar for `column`. Each
    * file's filter is sized to that file's non-null count read from the
    * parquet FOOTER (row count − column null count; falls back to row
    * count when a chunk lacks null stats), so the sidecar is proportional
    * to the data without a counting pre-scan — a fixed "expected items"
    * would give a 100k-file table a 100k × max-size sidecar. `fpp` is the
    * per-file false-positive probability at that size. Files with zero
    * non-null values get an EMPTY filter (a non-null lookup value cannot
    * live there, so they are skippable, not unknown). The sidecar is
    * swapped in atomically, so a crashed rebuild never leaves a
    * half-written index for [[lookup]] to read. Returns the number of
    * files indexed. */
  def build(
      spark: SparkSession,
      table: String,
      column: String,
      fpp: Double = 0.01): Long = {
    require(spark.read.parquet(table).columns.contains(column),
      s"bloom index: no column $column")
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val files = listDataFiles(fs, root)
    writeSidecar(spark, table, column,
      filterEntries(spark, table, files, column, fpp))
    files.size.toLong // exactly one entry per data file, folded or empty
  }

  /** Per-file filters for exactly `files` — the shared data pass of
    * [[build]] (all files) and [[refresh]] (new files only), returned as a
    * (file, filter) DataFrame whose filter BYTES never touch the driver:
    * rows fold into per-file partial filters inside each task, partials
    * merge by file on executors, and the merged frame flows straight into
    * the sidecar write. mapPartitions is justified here — the sketch is an
    * imperative accumulator with no Column-expression form, and the
    * alternative (groupBy file + collect_list) would shuffle every VALUE
    * instead of shipping one filter per (task, file). Driver state is
    * O(files) path strings only (the footer-size map and the fold-key
    * collect), never O(files × filterBytes). The read pins `basePath` so a
    * filter on a PARTITION column still sees its values. When every footer
    * records the column with one Spark type and exact null counts, the
    * read pins that one-column schema and the footer counts of 0 name the
    * empty-filter files: the pass is the footer job plus the sidecar
    * write. Otherwise (a type-widened table, a partition-column index,
    * files predating the column) it merges schemas, so files predating a
    * widening evolution fold as all-null (→ empty filter, skippable), and
    * probes the fold's keys for the empty files.
    *
    * The table is read ONCE even when two actions run over `folded`
    * (the empty-file key probe, then the sidecar write): both actions
    * share the same RDD object, so its reduceByKey shuffle dependency is
    * planned once — the second action reuses the registered map outputs
    * (Spark's cross-job stage skip) and reads only the KB-scale shuffled
    * filter bytes, never the parquet again. BloomIndexSpec's one-pass
    * bytes-read probe pins this empirically; an explicit persist() would
    * add nothing (cached blocks recompute from the same scan on executor
    * loss, exactly like shuffle files) while double-counting the filter
    * bytes in input metrics. */
  private def filterEntries(
      spark: SparkSession,
      table: String,
      files: Seq[String],
      column: String,
      fpp: Double): DataFrame = {
    import spark.implicits._
    if (files.isEmpty)
      return spark.emptyDataset[(String, Array[Byte])].toDF("file", "filter")
    val footers = footerCounts(spark, files, column)
    val sizes = footers.map { case (k, (n, _)) => k -> n }
    val sizesB = spark.sparkContext.broadcast(sizes)
    // every footer records the column with one Spark type and exact null
    // counts: read with that pinned one-column schema (no inference job)
    val pinned = footers.values.map(_._2).toSeq.distinct match {
      case Seq(Some(dt)) => Some(dt)
      case _ => None
    }
    // one mergeSchema mount when the footers agree; a TYPE-WIDENED table
    // mixes physical widths across partition dirs (an int and a bigint
    // footer refuse to merge), so fall back to per-dir legs projected to
    // the fold's (file, string-value) shape BEFORE the union — the string
    // projection is width-agnostic (every allowed integral widening keeps
    // the rendered form), and each file is still read exactly once
    def projected(fs: Seq[String]): Option[DataFrame] = {
      val r = spark.read.option("basePath", table)
      val d = pinned match {
        case Some(dt) => r.schema(StructType(Seq(StructField(column, dt)))).parquet(fs: _*)
        case None => r.option("mergeSchema", "true").parquet(fs: _*)
      }
      if (!d.columns.contains(column)) None
      else Some(d.select(input_file_name().as("_f"),
        col(column).cast("string").as("_v")))
    }
    val proj: Option[DataFrame] =
      try projected(files)
      catch {
        case scala.util.control.NonFatal(_) =>
          files.groupBy(f => f.substring(0, f.lastIndexOf('/')))
            .toSeq.sortBy(_._1)
            .flatMap { case (_, group) => projected(group) }
            .reduceOption(_.unionByName(_))
      }
    val folded: org.apache.spark.rdd.RDD[(String, Array[Byte])] =
      proj match {
        case None => spark.sparkContext.emptyRDD[(String, Array[Byte])]
        case Some(p) => p
        .filter(col("_v").isNotNull)
        .rdd.mapPartitions { rows =>
          val acc = scala.collection.mutable.Map.empty[String, BloomFilter]
          rows.foreach { r =>
            val key = new java.net.URI(r.getString(0)).getPath
            val bf = acc.getOrElseUpdate(key, BloomFilter.create(
              math.max(64L, sizesB.value.getOrElse(key, 1024L)), fpp))
            bf.putString(r.getString(1))
          }
          acc.iterator.map { case (f, bf) =>
            val out = new java.io.ByteArrayOutputStream()
            bf.writeTo(out)
            (f, out.toByteArray)
          }
        }
        .reduceByKey { (a, b) =>
          val bf = BloomFilter.readFrom(new java.io.ByteArrayInputStream(a))
          bf.mergeInPlace(BloomFilter.readFrom(new java.io.ByteArrayInputStream(b)))
          val out = new java.io.ByteArrayOutputStream()
          bf.writeTo(out)
          out.toByteArray
        }
      }
    // files with no non-null values get an EMPTY filter (a non-null lookup
    // value cannot live there, so they are skippable, not unknown) — tiny
    // driver-built rows, typically few. With pinned footers their exact
    // counts of 0 name them; otherwise only the fold's KEYS come back
    val emptyKeys: Seq[String] =
      if (pinned.isDefined) files.map(normKey).filter(k => sizes.get(k).contains(0L))
      else {
        val foldedKeys = folded.keys.collect().toSet
        files.map(normKey).filterNot(foldedKeys)
      }
    val empties = emptyKeys.map { k =>
      val bf = BloomFilter.create(math.max(64L, sizes.getOrElse(k, 64L)), fpp)
      val out = new java.io.ByteArrayOutputStream()
      bf.writeTo(out)
      (k, out.toByteArray)
    }
    folded.toDF("file", "filter")
      .unionByName(empties.toDF("file", "filter"))
  }

  /** Atomic sidecar replacement: the complete new (file, filter) frame
    * lands via [[AtomicWrite.publish]], so a concurrent or
    * crash-interrupted [[lookup]] sees the whole old index, the whole new
    * one, or a clean retryable miss — never a partial parquet directory.
    * The frame is computed and written on executors (filter bytes never
    * pass through the driver); one output file keeps the lookup read to a
    * single open. */
  private def writeSidecar(
      spark: SparkSession,
      table: String,
      column: String,
      entries: DataFrame): Unit =
    AtomicWrite.publish(spark, indexDir(table, column)) { tmp =>
      entries.coalesce(1).write.parquet(tmp)
    }

  /** Incremental maintenance outcome: how much of the table the refresh
    * actually had to read. */
  final case class RefreshStats(
      filesIndexed: Long, entriesDropped: Long, filesTotal: Long)

  /** Catch the sidecar up to the table's current file set WITHOUT a full
    * rebuild: files already indexed keep their filters untouched (their
    * bytes are immutable — merges replace files, never edit them), filters
    * of files that no longer exist are dropped, and ONLY the new files are
    * read to build their filters. After a merge that rewrote k of n
    * partitions this reads k partitions' worth of freshly-written (still
    * page-cached) data instead of the whole table — the reason
    * [[graft.batch.Upsert]] can afford to call it inline after every
    * merge/compaction instead of waiting for a scheduled Maintain run.
    * A missing sidecar falls back to [[build]]. */
  def refresh(
      spark: SparkSession,
      table: String,
      column: String,
      fpp: Double = 0.01): RefreshStats = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val idx = new Path(indexDir(table, column))
    AtomicWrite.recoverSwap(spark, idx.toString)
    if (!fs.exists(idx)) {
      val n = build(spark, table, column, fpp)
      return RefreshStats(n, 0L, n)
    }
    // KEYS only on the driver — the kept filters' bytes stay on executors
    // and flow old-sidecar → new-sidecar via a broadcast semi-join
    import spark.implicits._
    val oldKeys = readSidecar(spark, table, column)
      .select("file").as[String].collect().toSet
    val current = listDataFiles(fs, root)
    val currentKeys = current.map(normKey).toSet
    val newFiles = current.filterNot(f => oldKeys.contains(normKey(f)))
    val keptCount = oldKeys.count(currentKeys)
    val dropped = oldKeys.size - keptCount
    if (newFiles.isEmpty && dropped == 0)
      return RefreshStats(0L, 0L, current.size.toLong)
    val kept = readSidecar(spark, table, column).join(
      broadcast(currentKeys.toSeq.toDF("file")), Seq("file"), "left_semi")
    writeSidecar(spark, table, column,
      kept.unionByName(filterEntries(spark, table, newFiles, column, fpp)))
    RefreshStats(newFiles.size.toLong, dropped.toLong, current.size.toLong)
  }

  /** Columns with a filter sidecar under this table — what write paths
    * consult to know which indexes to [[refresh]] after replacing files. */
  def indexedColumns(spark: SparkSession, table: String): Seq[String] = {
    val dir = new Path(s"$table/_graft_bloom")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).filter(_.isDirectory)
      .map(_.getPath.getName).filterNot(_.startsWith(".")).sorted.toSeq
  }

  /** Per-file expected insertion counts from parquet footers only: row
    * count minus the column's null count when every row group carries
    * null stats, plain row count otherwise (over-sizing is safe; an
    * under-sized filter would raise the effective fpp). Beside each count
    * rides the column's Spark type from the footer's Spark row metadata,
    * present only when that metadata names the column AND every row group
    * carries its null count — so a typed count is exact. Footer reads are
    * distributed over executors — O(files) KB-scale metadata reads, no
    * row-group IO — and the result is O(files) driver state, keyed by the
    * same normalized path the fold pass uses. */
  private[core] def footerCounts(
      spark: SparkSession,
      files: Seq[String],
      column: String): Map[String, (Long, Option[DataType])] = {
    if (files.isEmpty) return Map.empty
    val confB = spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sessionState.newHadoopConf()))
    spark.sparkContext
      .parallelize(files, math.min(files.size, 64))
      .map { full =>
        val reader = ParquetFileReader.open(
          HadoopInputFile.fromPath(new Path(full), confB.value.value))
        try {
          var rows = 0L
          var nulls = 0L
          var statsOk = true
          reader.getFooter.getBlocks.asScala.foreach { b =>
            rows += b.getRowCount
            b.getColumns.asScala
              .find(_.getPath.toDotString == column) match {
              case Some(c) if c.getStatistics != null &&
                  c.getStatistics.isNumNullsSet =>
                nulls += c.getStatistics.getNumNulls
              case _ => statsOk = false
            }
          }
          val sparkType = Option(reader.getFooter.getFileMetaData.getKeyValueMetaData
            .get(ParquetReadSupport.SPARK_METADATA_KEY))
            .flatMap(json => DataType.fromJson(json) match {
              case st: StructType => st.find(_.name == column).map(_.dataType)
              case _ => None
            })
          normKey(full) -> (if (statsOk) math.max(0L, rows - nulls) else rows,
            sparkType.filter(_ => statsOk))
        } finally reader.close()
      }
      .collect().toMap
  }

  /** The table filtered to `column = value`, scanning ONLY files whose
    * filter admits the value (plus any file newer than the index, included
    * conservatively). The candidate read pins `basePath` to the table
    * root, so Hive partition columns are recovered exactly as a full
    * scan's — lookup is schema-equivalent to
    * `spark.read.parquet(table).filter(col === value)`, just cheaper.
    * Returns (result, candidate files, skipped files) — full
    * scheme-qualified paths, exposing the pruning for callers and specs. */
  def lookup(
      spark: SparkSession,
      table: String,
      column: String,
      value: String): (DataFrame, Seq[String], Seq[String]) = {
    val (candidates, skipped) = admission(spark, table, column, value)
    val result =
      if (candidates.isEmpty)
        spark.read.parquet(table).filter(lit(false))
      else
        spark.read.option("basePath", table)
          .parquet(candidates: _*).filter(col(column) === value)
    (result, candidates, skipped)
  }

  /** The file-pruning half of [[lookup]]: (candidate files, skipped
    * files), full scheme-qualified paths, both sorted. */
  private[graft] def admission(
      spark: SparkSession,
      table: String,
      column: String,
      value: String): (Seq[String], Seq[String]) = {
    // read-path repair of a builder crashed between its swap renames; must
    // not GC .tmp- siblings that may belong to a LIVE in-flight rebuild
    AtomicWrite.recoverSwap(spark, indexDir(table, column), gcTmp = false)
    // ONE pass ON EXECUTORS: each task deserializes and key-tests the
    // filters it read and ships back (file, admits) — driver state is
    // O(files) path strings; at 100 TB / millions of files the driver never
    // materializes the O(files × filterBytes) sidecar it would choke on
    val tested = readSidecar(spark, table, column).rdd.map { r =>
      val bf = BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(r.getAs[Array[Byte]](1)))
      (r.getString(0), bf.mightContainString(value))
    }.collect()
    val knownKeys = tested.map(_._1).toSet
    val admittedKeys = tested.collect { case (k, true) => k }.toSet
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val dataFiles = listDataFiles(fs, root)
    val (known, unknown) = dataFiles.partition(f => knownKeys.contains(normKey(f)))
    // one partition over the key SET — never a per-file linear scan of the
    // admitted list (O(known × admitted) at millions of files)
    val (admitted, skippedRaw) =
      known.partition(f => admittedKeys.contains(normKey(f)))
    ((admitted ++ unknown).sorted, skippedRaw.sorted)
  }

  /** All `*.parquet` data files under the table root (recursive through
    * partition dirs; `_graft_*` sidecars and `_spark_metadata` excluded)
    * as FULL scheme-qualified path strings — safe to hand to
    * `spark.read.parquet` on any filesystem. Normalize with [[normKey]]
    * only when joining against sidecar keys. Shared with [[StatsIndex]]. */
  private[core] def listDataFiles(
      fs: org.apache.hadoop.fs.FileSystem, root: Path): Seq[String] = {
    val out = Seq.newBuilder[String]
    def walk(p: Path): Unit =
      fs.listStatus(p).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory) {
          if (!name.startsWith("_") && !name.startsWith(".")) walk(st.getPath)
        } else if (name.endsWith(".parquet")) {
          out += st.getPath.toString
        }
      }
    walk(root)
    out.result()
  }
}
