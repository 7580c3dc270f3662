package graft.core

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

/** Per-file min/max statistics index (zone map) — the Delta Lake
  * file-statistics analog (Delta records per-file column min/max in its
  * transaction log and prunes files at PLANNING time; `dataSkippingNumIndexedCols`).
  *
  * Spark's parquet reader already prunes ROW GROUPS from footer min/max,
  * but only after every file is listed, scheduled, and its footer opened —
  * at 100 TB / millions of files the per-file open+footer round trips (and
  * on an object store, the LIST/GET traffic) dominate a selective range
  * query. This sidecar hoists those same footer statistics into ONE
  * KB-to-MB-scale parquet table read once per query, so a range predicate
  * schedules only the files whose [min,max] interval intersects it — the
  * skipped files never enter the plan at all. It is the planning-time
  * complement of [[LayoutOps]]: clusterBy/zOrderBy make per-file intervals
  * NARROW, this index makes narrow intervals CHEAP to exploit.
  *
  * Build shape: footers ONLY — a distributed KB-scale metadata read per
  * file (min of row-group mins, max of maxes, null/row counts), no
  * row-group IO at all, so building costs O(files) small reads even on a
  * table of any row count. Files whose footer lacks statistics for the
  * column (foreign writers) land UNBOUNDED — never skipped, so a sparse
  * index degrades to a slower-but-correct scan, exactly like
  * [[BloomIndex]]'s unknown files. All-null files are recorded with
  * `nulls == rows` and skipped for every range probe (a range never
  * matches NULL).
  *
  * Lookup shape mirrors [[BloomIndex.lookup]] (same hazards, same fixes):
  * candidates are read via their ORIGINAL scheme-qualified paths with
  * `basePath` pinned to the table root, so Hive partition columns and
  * foreign filesystems behave exactly as a full scan; files newer than
  * the index are conservatively included; the range filter is still
  * applied to the candidate read, so parquet row-group pruning fires
  * within admitted files too. On a table with pending DELETION VECTORS the
  * result is the pre-subtraction row set, as with any raw file read.
  *
  * Maintenance is the Bloom sidecar's contract verbatim: data files are
  * immutable, so [[refresh]] keeps existing entries untouched, drops
  * vanished files, and reads only the footers of files the sidecar has
  * never seen; [[graft.batch.Upsert]]'s write paths refresh inline after
  * replacing files, and `Maintain stats <col>` / `POST /maintenance/run`
  * drive the same refresh on a schedule.
  *
  * Supported column types: integral (byte/short/int/long), date,
  * timestamp, float/double, string. [[build]] refuses other types loudly —
  * an index that could never prune is a configuration error, not a
  * degraded mode.
  */
object StatsIndex {

  private def indexDir(table: String, column: String) =
    s"$table/_graft_stats/$column"

  /** Sidecar join key — scheme-stripped URI path, matching
    * [[BloomIndex]]'s normalization (never used as a read path). */
  private[core] def normKey(p: String): String = new java.net.URI(p).getPath

  /** One file's recorded interval. Exactly one of the (lmin,lmax) /
    * (dmin,dmax) / (smin,smax) pairs is populated, per the column type;
    * `bounded = false` means footer stats were missing and the file can
    * never be skipped. */
  private[core] final case class Entry(
      file: String,
      typ: String,
      lmin: Option[Long], lmax: Option[Long],
      dmin: Option[Double], dmax: Option[Double],
      smin: Option[String], smax: Option[String],
      nulls: Long, rows: Long, bounded: Boolean)

  /** The storage type tag for a Spark column type; None = unsupported. */
  private def typeTag(dt: DataType): Option[String] = dt match {
    case ByteType | ShortType | IntegerType | LongType => Some("long")
    case DateType                                      => Some("date")
    case TimestampType | TimestampNTZType              => Some("ts")
    case FloatType | DoubleType                        => Some("double")
    case StringType                                    => Some("string")
    case _                                             => None
  }

  /** Build (or rebuild) the per-file min/max sidecar for `column`. Returns
    * the number of files indexed. Footer-only: no row-group IO.
    *
    * `typeHint` pins the storage tag to the column's DECLARED type when
    * the caller knows better than one sampled footer — a table with a
    * live type widening mixes physical widths across files, and sampling
    * a narrow footer for an int→double widening would tag the index
    * "long": double footer stats would then fold through `longValue()`,
    * truncating maxima and WRONGLY skipping files. Widening-aware
    * callers ([[graft.batch.Upsert]], Maintain) pass the registered wide
    * type. */
  def build(spark: SparkSession, table: String, column: String,
      typeHint: Option[DataType] = None): Long = {
    val df = spark.read.parquet(table)
    val schema = df.schema
    require(schema.fieldNames.contains(column), s"stats index: no column $column")
    // a Hive PARTITION column's values live in directory names, not parquet
    // footers — every file would record all-null (nulls==rows) and then be
    // skipped for EVERY probe: silent empty results. Refuse loudly; partition
    // pruning already serves these columns for free.
    if (partitionColumns(df).contains(column))
      sys.error(s"stats index: $column is a partition column of $table — " +
        "its values are in directory names, not parquet footers, so a stats " +
        "index would skip every file. Use partition pruning (a plain filter " +
        "on the column) instead.")
    val declared = typeHint.getOrElse(schema(column).dataType)
    val typ = typeTag(declared).getOrElse(
      sys.error(s"stats index: unsupported type $declared " +
        s"for $column (supported: integral, date, timestamp, float/double, string)"))
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val entries = footerEntries(spark, BloomIndex.listDataFiles(fs, root), column, typ)
    writeSidecar(spark, table, column, entries)
    entries.size.toLong
  }

  /** The Hive partition columns of a parquet-backed DataFrame (empty for
    * an unpartitioned table or a non-file relation). */
  private def partitionColumns(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.datasources.{
      HadoopFsRelation, LogicalRelation}
    df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) =>
        r.partitionSchema.fieldNames.toSeq
    }.getOrElse(Seq.empty)
  }

  /** Footer statistics for exactly `files` — the shared metadata pass of
    * [[build]] and [[refresh]]. Distributed over executors (O(files)
    * KB-scale footer reads); min/max are normalized into the storage form
    * ON the executor (long / double / UTF-8 string) so only small
    * serializable values come back. A file is `bounded` only when EVERY
    * row group carries min/max statistics for the column — a single
    * stats-less row group could hide rows outside the recorded interval.
    * A partition-column index sees no footer chunk at all (the value lives
    * in the directory name): those files fold as all-null here, which is
    * CONSERVATIVELY WRONG for pruning — so [[build]] is the wrong tool for
    * partition columns; partition pruning already serves them for free. */
  private def footerEntries(
      spark: SparkSession,
      files: Seq[String],
      column: String,
      typ: String): Seq[Entry] = {
    if (files.isEmpty) return Seq.empty
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
          var sawValues = false
          var ok = true
          var lmin = Long.MaxValue; var lmax = Long.MinValue
          var dmin = Double.PositiveInfinity; var dmax = Double.NegativeInfinity
          var smin: String = null; var smax: String = null
          reader.getFooter.getBlocks.asScala.foreach { b =>
            rows += b.getRowCount
            b.getColumns.asScala.find(_.getPath.toDotString == column) match {
              case Some(c) if c.getStatistics != null &&
                  c.getStatistics.isNumNullsSet =>
                val st = c.getStatistics
                nulls += st.getNumNulls
                if (st.getNumNulls < b.getRowCount) {
                  // row group has non-null values: its min/max must exist
                  if (!st.hasNonNullValue) ok = false
                  else {
                    sawValues = true
                    typ match {
                      case "long" | "date" | "ts" =>
                        val lo = st.genericGetMin.asInstanceOf[Number].longValue()
                        val hi = st.genericGetMax.asInstanceOf[Number].longValue()
                        if (lo < lmin) lmin = lo
                        if (hi > lmax) lmax = hi
                      case "double" =>
                        val lo = st.genericGetMin.asInstanceOf[Number].doubleValue()
                        val hi = st.genericGetMax.asInstanceOf[Number].doubleValue()
                        if (lo < dmin) dmin = lo
                        if (hi > dmax) dmax = hi
                      case "string" =>
                        val lo = st.genericGetMin
                          .asInstanceOf[org.apache.parquet.io.api.Binary]
                          .toStringUsingUTF8
                        val hi = st.genericGetMax
                          .asInstanceOf[org.apache.parquet.io.api.Binary]
                          .toStringUsingUTF8
                        if (smin == null || utf8Cmp(lo, smin) < 0) smin = lo
                        if (smax == null || utf8Cmp(hi, smax) > 0) smax = hi
                    }
                  }
                }
              case Some(_) => ok = false // stats object absent/incomplete
              case None =>
                // column not in this file's footer: either a pre-evolution
                // file (reads as all-null → skippable) or a partition
                // column (see scaladoc); count its rows as nulls
                nulls += b.getRowCount
            }
          }
          val bounded = ok
          Entry(normKey(full), typ,
            if (bounded && sawValues && (typ == "long" || typ == "date" || typ == "ts"))
              Some(lmin) else None,
            if (bounded && sawValues && (typ == "long" || typ == "date" || typ == "ts"))
              Some(lmax) else None,
            if (bounded && sawValues && typ == "double") Some(dmin) else None,
            if (bounded && sawValues && typ == "double") Some(dmax) else None,
            if (bounded && sawValues) Option(smin) else None,
            if (bounded && sawValues) Option(smax) else None,
            nulls, rows, bounded)
        } finally reader.close()
      }
      .collect().toSeq
  }

  /** Atomic sidecar replacement — same publish contract as
    * [[BloomIndex]]'s: whole old index, whole new one, or a clean
    * retryable miss. One output file keeps the probe read to one open. */
  private def writeSidecar(
      spark: SparkSession,
      table: String,
      column: String,
      entries: Seq[Entry]): Unit = {
    import spark.implicits._
    val sidecar = entries.toDF()
    AtomicWrite.publish(spark, indexDir(table, column)) { tmp =>
      sidecar.coalesce(1).write.parquet(tmp)
    }
  }

  final case class RefreshStats(
      filesIndexed: Long, entriesDropped: Long, filesTotal: Long)

  /** Catch the sidecar up to the table's current file set: existing
    * entries keep their intervals (file bytes are immutable), vanished
    * files drop, and ONLY new files pay a footer read. A missing sidecar
    * falls back to [[build]], as does a `typeHint` whose storage tag
    * differs from the sidecar's (a type widening changed the column's
    * declared KIND, e.g. int→double — old "long"-tagged entries and new
    * "double"-tagged ones cannot share one probe normalization, so the
    * whole sidecar re-tags in one footer-only pass). */
  def refresh(spark: SparkSession, table: String, column: String,
      typeHint: Option[DataType] = None): RefreshStats = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val idx = new Path(indexDir(table, column))
    AtomicWrite.recoverSwap(spark, idx.toString)
    if (!fs.exists(idx)) {
      val n = build(spark, table, column, typeHint)
      return RefreshStats(n, 0L, n)
    }
    val old = readSidecar(spark, table, column)
    val hinted = typeHint.flatMap(typeTag)
    if (old.nonEmpty && hinted.exists(_ != old.head.typ)) {
      val n = build(spark, table, column, typeHint)
      return RefreshStats(n, old.size.toLong, n)
    }
    val typ = old.headOption.map(_.typ).orElse(hinted).getOrElse(
      typeTag(spark.read.parquet(table).schema(column).dataType).getOrElse(
        sys.error(s"stats index: unsupported type for $column")))
    val current = BloomIndex.listDataFiles(fs, root)
    val currentKeys = current.map(normKey).toSet
    val oldByKey = old.map(e => e.file -> e).toMap
    val newFiles = current.filterNot(f => oldByKey.contains(normKey(f)))
    val kept = old.filter(e => currentKeys.contains(e.file))
    val dropped = old.size - kept.size
    if (newFiles.isEmpty && dropped == 0)
      return RefreshStats(0L, 0L, current.size.toLong)
    writeSidecar(spark, table, column,
      kept ++ footerEntries(spark, newFiles, column, typ))
    RefreshStats(newFiles.size.toLong, dropped.toLong, current.size.toLong)
  }

  /** Columns with a stats sidecar under this table — what write paths
    * consult to know which indexes to [[refresh]] after replacing files. */
  def indexedColumns(spark: SparkSession, table: String): Seq[String] = {
    val dir = new Path(s"$table/_graft_stats")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).filter(_.isDirectory)
      .map(_.getPath.getName).filterNot(_.startsWith(".")).sorted.toSeq
  }

  private[core] def readSidecar(
      spark: SparkSession, table: String, column: String): Seq[Entry] =
    // read with the written schema, never inferred (a Spark job per read)
    spark.read.schema(org.apache.spark.sql.Encoders.product[Entry].schema)
      .parquet(indexDir(table, column)).collect().toSeq.map { r =>
      def optL(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
      def optD(i: Int) = if (r.isNullAt(i)) None else Some(r.getDouble(i))
      def optS(i: Int) = if (r.isNullAt(i)) None else Some(r.getString(i))
      Entry(r.getString(0), r.getString(1), optL(2), optL(3), optD(4), optD(5),
        optS(6), optS(7), r.getLong(8), r.getLong(9), r.getBoolean(10))
    }

  /** A probe bound normalized to the sidecar's storage form. */
  private[core] sealed trait Bound
  private[core] final case class LBound(v: Long) extends Bound
  private[core] final case class DBound(v: Double) extends Bound
  private[core] final case class SBound(v: String) extends Bound

  private[core] def cmpBound(a: Bound, b: Bound): Int = (a, b) match {
    case (LBound(x), LBound(y)) => java.lang.Long.compare(x, y)
    case (DBound(x), DBound(y)) => java.lang.Double.compare(x, y)
    case (SBound(x), SBound(y)) => utf8Cmp(x, y)
    case _ => sys.error(s"stats index: mismatched bound types $a / $b")
  }

  /** Unsigned UTF-8 byte-order comparison — parquet footers select string
    * min/max in THIS order, and `String.compareTo` (UTF-16 code units)
    * disagrees with it for supplementary characters vs U+E000–U+FFFF;
    * mixing the two orders could wrongly skip a file containing matches.
    * Every string comparison against footer-derived bounds goes through
    * here so both sides use parquet's ordering. */
  private[core] def utf8Cmp(a: String, b: String): Int = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  /** Does `e`'s recorded interval intersect the probe `[lo, hi]` (either
    * side optional)? The shared pruning verdict for [[rangeScan]] and the
    * planner-integrated [[StatsFileIndex]]: unbounded (stats-less) files
    * are always admitted, all-null files never match a comparison, and a
    * bounded entry missing its interval (shouldn't happen) is
    * conservatively included. */
  private[core] def admitsEntry(
      e: Entry, lo: Option[Bound], hi: Option[Bound]): Boolean = {
    if (!e.bounded) return true
    if (e.nulls >= e.rows) return false // no non-null values at all
    val interval: Option[(Bound, Bound)] = (lo.orElse(hi): @unchecked) match {
      case Some(_: LBound) => for (mn <- e.lmin; mx <- e.lmax)
        yield (LBound(mn), LBound(mx))
      case Some(_: DBound) => for (mn <- e.dmin; mx <- e.dmax)
        yield (DBound(mn), DBound(mx))
      case Some(_: SBound) => for (mn <- e.smin; mx <- e.smax)
        yield (SBound(mn), SBound(mx))
      case None => None
    }
    interval match {
      case None => true
      case Some((mn, mx)) =>
        lo.forall(l => cmpBound(l, mx) <= 0) && hi.forall(h => cmpBound(h, mn) >= 0)
    }
  }

  /** Accepts the natural external types per column type: numbers for
    * integral, `java.sql.Date`/`LocalDate`/epoch-day numbers for date,
    * `java.sql.Timestamp`/`Instant`/epoch-micro numbers for timestamp,
    * numbers for double, strings for string. */
  private def normBound(typ: String, v: Any): Bound =
    (typ, v) match {
      case ("long", n: Number)               => LBound(n.longValue())
      case ("date", d: java.sql.Date)        => LBound(d.toLocalDate.toEpochDay)
      case ("date", d: java.time.LocalDate)  => LBound(d.toEpochDay)
      case ("date", n: Number)               => LBound(n.longValue())
      case ("ts", t: java.sql.Timestamp)     =>
        LBound(t.getTime * 1000L + (t.getNanos / 1000) % 1000)
      case ("ts", i: java.time.Instant)      =>
        LBound(i.getEpochSecond * 1000000L + i.getNano / 1000)
      case ("ts", n: Number)                 => LBound(n.longValue())
      case ("double", n: Number)             => DBound(n.doubleValue())
      case ("string", s: String)             => SBound(s)
      case _ => sys.error(s"stats index: bound $v (${v.getClass.getName}) " +
        s"does not match indexed type $typ")
    }

  /** The table filtered to `lo <= column <= hi` (either bound optional),
    * scanning ONLY files whose recorded interval intersects the probe
    * (plus files newer than the index, included conservatively; unbounded
    * files always included; all-null files always skipped). The candidate
    * read pins `basePath` and keeps the filter, so the result is
    * row-and-schema-equivalent to
    * `spark.read.parquet(table).filter(between)`, just cheaper. Returns
    * (result, candidate files, skipped files) as full scheme-qualified
    * paths, exposing the pruning for callers and specs. */
  def rangeScan(
      spark: SparkSession,
      table: String,
      column: String,
      lo: Option[Any],
      hi: Option[Any]): (DataFrame, Seq[String], Seq[String]) =
    rangeScanAll(spark, table, Seq((column, lo, hi)))

  /** Composite AND-of-ranges scan: each `(column, lo, hi)` probe consults
    * that column's OWN sidecar and the admitted sets INTERSECT before any
    * file is scheduled — on a table clustered by two keys,
    * files(a AND b) ≤ min(files(a), files(b)), never the union. Every
    * per-column verdict keeps [[rangeScan]]'s conservative degradations
    * (unknown files scanned, unbounded entries admitted, all-null files
    * skipped), and the conjunction of all predicates still rides the
    * candidate read for row-group pruning. This is the explicit-API twin
    * of what [[StatsFileIndex]] already does inside the planner for
    * pushed-down conjuncts. */
  def rangeScanAll(
      spark: SparkSession,
      table: String,
      probes: Seq[(String, Option[Any], Option[Any])]): (DataFrame, Seq[String], Seq[String]) = {
    val (candidates, skipped) = admissionAll(spark, table, probes)
    val pred = predicateOf(probes)
    val result =
      if (candidates.isEmpty)
        spark.read.parquet(table).filter(lit(false))
      else
        spark.read.option("basePath", table)
          .parquet(candidates: _*).filter(pred)
    (result, candidates, skipped)
  }

  /** The conjunction of all probe bounds — what [[rangeScanAll]] rides on
    * the candidate read; widening-aware callers re-apply it over their
    * own per-width read legs. */
  private[graft] def predicateOf(
      probes: Seq[(String, Option[Any], Option[Any])]): org.apache.spark.sql.Column =
    probes.flatMap { case (column, lo, hi) =>
      Seq(lo.map(v => col(column) >= lit(v)), hi.map(v => col(column) <= lit(v))).flatten
    }.reduce(_ && _)

  /** The file-pruning half of [[rangeScanAll]]: (candidate files, skipped
    * files), full scheme-qualified paths, candidates sorted. Exposed so a
    * caller that must MOUNT the candidates itself (per-width legs on a
    * type-widened table) shares exactly the admission the plain scan
    * uses. */
  private[graft] def admissionAll(
      spark: SparkSession,
      table: String,
      probes: Seq[(String, Option[Any], Option[Any])]): (Seq[String], Seq[String]) = {
    require(probes.nonEmpty, "stats index rangeScanAll: at least one probe")
    require(probes.forall { case (_, lo, hi) => lo.isDefined || hi.isDefined },
      "stats index rangeScan: at least one bound per column (a fully " +
        "unbounded probe is a table scan — read the table directly)")
    val perCol = probes.map { case (column, lo, hi) =>
      AtomicWrite.recoverSwap(spark, indexDir(table, column), gcTmp = false)
      val entries = readSidecar(spark, table, column)
      val byKey = entries.map(e => e.file -> e).toMap
      // an EMPTY sidecar (built on an empty table, or every entry dropped
      // by refresh) admits every file unconditionally — don't normalize
      // the probe bounds at all: there is no entry interval to compare
      // against, and resolving a tag from one sampled footer would be
      // nondeterministic on a mixed-width (type-widened) table
      entries.headOption match {
        case Some(h) => (byKey, lo.map(normBound(h.typ, _)), hi.map(normBound(h.typ, _)))
        case None => (byKey, None, None)
      }
    }
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val dataFiles = BloomIndex.listDataFiles(fs, root)
    // a file is scheduled only when EVERY probe's sidecar admits it (a
    // file unknown to a sidecar is admitted by that probe — conservative)
    dataFiles.sorted.partition { f =>
      val k = normKey(f)
      perCol.forall { case (byKey, loN, hiN) =>
        byKey.get(k).forall(e => admitsEntry(e, loN, hiN))
      }
    }
  }

  /** The table as an ordinary DataFrame with TRANSPARENT data skipping:
    * the returned frame's parquet relation carries a [[StatsFileIndex]]
    * over every column that has a stats sidecar, so pushed-down
    * comparison predicates prune files at PLANNING time with no special
    * API — `StatsIndex.read(spark, t).filter(col("v") > x)` schedules
    * only intersecting files, exactly like Delta's data skipping. A table
    * with no sidecars reads plainly. Sidecars are loaded once here
    * (KB-scale driver state); see [[StatsFileIndex]] for the conservative
    * degradation rules. */
  def read(spark: SparkSession, table: String): DataFrame = {
    import org.apache.spark.sql.execution.datasources.{
      HadoopFsRelation, LogicalRelation}
    val cols = indexedColumns(spark, table)
    val df = spark.read.parquet(table)
    if (cols.isEmpty) return df
    val loaded = cols.map { c =>
      AtomicWrite.recoverSwap(spark, indexDir(table, c), gcTmp = false)
      val es = readSidecar(spark, table, c)
      c -> (es.headOption.map(_.typ).getOrElse("long"),
        es.map(e => e.file -> e).toMap)
    }.toMap
    val rel = df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r
    }.getOrElse(sys.error(s"stats read: $table is not a file relation"))
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    classic.baseRelationToDataFrame(
      rel.copy(location = new StatsFileIndex(rel.location, loaded))(classic))
  }

  /** TRUE iff the files' per-file [min,max] intervals on `column` are
    * pairwise non-overlapping up to boundary equality — i.e. the file set
    * is ALREADY range-clustered on the column, so a layout rewrite would
    * move bytes without narrowing any interval. This is
    * [[graft.batch.LiquidClustering]]'s tightness probe: a churned
    * partition whose merge happened to land in key order (append-mostly
    * time keys are the common case) is recognized as satisfying the
    * layout with zero bytes rewritten. Footer-only (one metadata task per
    * file, no row IO). Conservative: a file with missing/incomplete
    * footer stats, an unsupported column type, or all-null values makes
    * the answer false — "cannot prove tight" must read as "not tight",
    * never the reverse. */
  private[graft] def disjointOn(
      spark: SparkSession,
      files: Seq[String],
      column: String,
      dt: DataType): Boolean = {
    if (files.size <= 1) return true
    val typ = typeTag(dt).getOrElse(return false)
    val entries = footerEntries(spark, files, column, typ)
    def boundsOf(e: Entry): Option[(Bound, Bound)] = typ match {
      case "long" | "date" | "ts" =>
        for (lo <- e.lmin; hi <- e.lmax) yield (LBound(lo), LBound(hi))
      case "double" =>
        for (lo <- e.dmin; hi <- e.dmax) yield (DBound(lo), DBound(hi))
      case "string" =>
        for (lo <- e.smin; hi <- e.smax) yield (SBound(lo), SBound(hi))
    }
    val bounds = entries.map { e =>
      if (!e.bounded || e.nulls > 0) return false // can't place null rows
      boundsOf(e).getOrElse(return false)
    }
    bounds.sortWith((a, b) => cmpBound(a._1, b._1) < 0)
      .sliding(2).forall {
        case Seq((_, prevMax), (nextMin, _)) => cmpBound(prevMax, nextMin) <= 0
        case _ => true
      }
  }

  /** Equality probe — a degenerate range. For high-cardinality non-layout
    * columns prefer [[BloomIndex]] (intervals on an unclustered column
    * span the domain); on a clustered/Z-ordered key this prunes like the
    * range form. */
  def pointScan(
      spark: SparkSession,
      table: String,
      column: String,
      value: Any): (DataFrame, Seq[String], Seq[String]) =
    rangeScan(spark, table, column, Some(value), Some(value))
}
