package graft.batch

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Column mapping — rename/drop WITHOUT a table rewrite, the Delta Lake
  * `columnMapping` analog (Delta separates each column's logical name
  * from the physical name stored in parquet; renames and drops edit
  * metadata only, and every existing file stays byte-identical; the
  * reference runs on full Delta, ref `SparkManager.scala:36-37`).
  *
  * The map lives in `_graft_meta/colmap-v<N>.json` ([[TableMeta]]'s
  * versioned max-wins registry, like [[Constraints]] /
  * [[GeneratedColumns]]) as physical → logical entries; an empty logical
  * name marks the physical column DROPPED. A table with no map file (the
  * overwhelmingly common case) pays one existence probe and projects
  * nothing.
  *
  * Division of labor, mirroring Delta exactly:
  *   - PHYSICAL space = the parquet files, the TxnLog/history
  *     generations, the CDF change files, and the stats/bloom sidecars
  *     (all keyed by physical column name — a rename invalidates none of
  *     them, which is the whole point);
  *   - LOGICAL space = what producers write and readers see:
  *     [[Upsert.mergeByKey]] translates incoming updates
  *     logical → physical before any file work, and
  *     [[Upsert.readCommitted]] / [[Upsert.readAsOf]] /
  *     [[ChangeFeed.readChanges]] / [[Upsert.pointLookup]] /
  *     [[Upsert.rangeLookup]] project physical → logical on the way out.
  *     Time travel therefore shows OLD versions under the CURRENT
  *     logical names, as Delta does.
  *
  * Refusals (all loud, all the same restrictions Delta enforces):
  *   - Hive PARTITION columns cannot be renamed or dropped — their values
  *     live in directory names, so the change would be a physical rewrite
  *     by definition;
  *   - columns referenced by a CHECK constraint or a generated-column
  *     expression cannot be renamed or dropped (the stored SQL text binds
  *     by name);
  *   - a new logical name may not collide with any live logical name, any
  *     OTHER column's physical name, or a dropped physical name;
  *   - writes may not resurrect a dropped physical name (the old files
  *     still carry its data, which would silently reappear).
  */
object ColumnMapping {

  private val FilePrefix = "colmap-v"

  /** The raw map, physical → logical ("" = dropped). Empty = identity. */
  def mapping(spark: SparkSession, table: String): Map[String, String] =
    TableMeta.read(spark, table, FilePrefix)

  /** The logical name a physical column reads back as; None = dropped. */
  private[batch] def logicalOf(
      m: Map[String, String], physical: String): Option[String] =
    m.get(physical) match {
      case Some("")  => None
      case Some(l)   => Some(l)
      case None      => Some(physical)
    }

  /** The physical name behind a logical column (identity when unmapped). */
  private[graft] def physicalName(m: Map[String, String], logical: String): String =
    m.collectFirst { case (p, l) if l == logical => p }.getOrElse(logical)

  /** Project a PHYSICAL frame to the logical view: dropped columns hidden,
    * renamed columns aliased. Identity (no projection node at all) for an
    * unmapped table. */
  private[batch] def applyLogical(df: DataFrame, m: Map[String, String]): DataFrame =
    if (m.isEmpty) df
    else df.select(df.columns.toSeq.flatMap { c =>
      logicalOf(m, c).map(l => if (l == c) col(c) else col(c).as(l))
    }: _*)

  /** Translate a LOGICAL frame (incoming updates) to physical column
    * names, refusing to resurrect dropped physical names and refusing
    * names that are a RENAMED column's physical name: a producer still
    * writing the OLD name (or schema-evolving a new column that happens to
    * reuse it) would otherwise pass through untranslated, merge into the
    * renamed column's physical storage, and silently reappear under the
    * NEW logical name — Delta rejects any column absent from the logical
    * schema, and so do we. Identity for an unmapped table. */
  private[batch] def applyPhysical(df: DataFrame, m: Map[String, String]): DataFrame = {
    if (m.isEmpty) return df
    val dropped = m.collect { case (p, "") => p }.toSet
    val offending = df.columns.filter(dropped)
    require(offending.isEmpty,
      s"column(s) ${offending.mkString(", ")} were DROPPED from this table; " +
        "their physical names still hold the old data and cannot be " +
        "re-added (pick a different name)")
    val stale = df.columns.filter(c => m.get(c).exists(l => l.nonEmpty && l != c))
    require(stale.isEmpty,
      stale.map(c => s"$c (renamed to ${m(c)})").mkString(", ") +
        ": not a column of this table's LOGICAL schema — writes must use " +
        "the current logical names (stale producer? re-point it at the " +
        "renamed column)")
    val byLogical = m.collect { case (p, l) if l.nonEmpty && l != p => l -> p }
    if (byLogical.isEmpty) df
    else df.select(df.columns.toSeq.map(c =>
      byLogical.get(c).map(p => col(c).as(p)).getOrElse(col(c))): _*)
  }

  /** The table's current LOGICAL column set (physical schema projected
    * through the map). */
  def logicalColumns(spark: SparkSession, table: String): Seq[String] = {
    val m = mapping(spark, table)
    spark.read.parquet(table).columns.toSeq.flatMap(p => logicalOf(m, p))
  }

  /** Rename logical column `from` to `to` — metadata only, zero file
    * churn. */
  def rename(spark: SparkSession, table: String, from: String, to: String): Unit = {
    requirePlain(to)
    val df = spark.read.parquet(table)
    val physCols = df.columns.toSeq
    // validated against the map each attempt reads (a racing edit is
    // re-checked), and once up front: a refused DDL declares no feature
    def renamed(m: Map[String, String]): Map[String, String] = {
      val logicalCols = physCols.flatMap(p => logicalOf(m, p))
      require(logicalCols.contains(from),
        s"no column $from on $table (have: ${logicalCols.sorted.mkString(", ")})")
      require(!logicalCols.contains(to), s"column $to already exists on $table")
      val phys = physicalName(m, from)
      refusePartitionColumn(df, from, phys, "rename")
      refuseReferenced(spark, table, from, phys, "rename")
      // `to` may equal the column's OWN physical name (renaming back);
      // colliding with another column's physical or a dropped physical would
      // make the logical→physical translation ambiguous or resurrecting
      require(!physCols.contains(to) || to == phys,
        s"$to collides with the physical name of another column of $table")
      require(m.get(to).forall(_.nonEmpty),
        s"$to is the physical name of a DROPPED column of $table")
      if (to == phys) m - phys else m + (phys -> to)
    }
    renamed(mapping(spark, table))
    TableFeatures.declare(spark, table, TableFeatures.ColumnMapping)
    TableMeta.update(spark, table, FilePrefix)(renamed)
  }

  /** Drop logical column `name` — metadata only, zero file churn. Old
    * files keep the bytes; every read path hides them. */
  def drop(spark: SparkSession, table: String, name: String): Unit = {
    val df = spark.read.parquet(table)
    // validated per attempt and up front, as in [[rename]]
    def dropped(m: Map[String, String]): Map[String, String] = {
      val logicalCols = df.columns.toSeq.flatMap(p => logicalOf(m, p))
      require(logicalCols.contains(name),
        s"no column $name on $table (have: ${logicalCols.sorted.mkString(", ")})")
      val phys = physicalName(m, name)
      refusePartitionColumn(df, name, phys, "drop")
      refuseReferenced(spark, table, name, phys, "drop")
      m + (phys -> "")
    }
    dropped(mapping(spark, table))
    TableFeatures.declare(spark, table, TableFeatures.ColumnMapping)
    TableMeta.update(spark, table, FilePrefix)(dropped)
  }

  private def requirePlain(name: String): Unit =
    require(name.nonEmpty && !name.exists(c =>
        c == '"' || c == '\\' || c == '=' || c == '/' || c < ' '),
      s"column name must be a plain identifier: $name")

  private def refusePartitionColumn(
      df: DataFrame, logical: String, phys: String, verb: String): Unit = {
    import org.apache.spark.sql.execution.datasources.{
      HadoopFsRelation, LogicalRelation}
    val partCols = df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) =>
        r.partitionSchema.fieldNames.toSeq
    }.getOrElse(Seq.empty)
    require(!partCols.contains(phys),
      s"cannot $verb $logical: it is a PARTITION column — its values live " +
        "in directory names, so the change would be a table rewrite")
  }

  /** Word-boundary identifier match inside stored SQL text — the shared
    * dependency check of the rename/drop refusals and the
    * [[Constraints]]/[[GeneratedColumns]] add-time guards. */
  private[batch] def mentionsColumn(sql: String, name: String): Boolean =
    ("""(?<![A-Za-z0-9_])""" + java.util.regex.Pattern.quote(name) +
      """(?![A-Za-z0-9_])""").r.findFirstIn(sql).isDefined

  /** Stored SQL (CHECK constraints, generation expressions) may only
    * reference columns whose logical name IS their physical name — the
    * merge's validation probe evaluates these expressions over the
    * caller's logical frames, so a reference to a renamed column's
    * physical name (or a dropped column) would silently skip or misbind.
    * [[rename]]/[[drop]] refuse in one direction; this guards the other
    * (adding an expression onto an already-mapped table). */
  private[batch] def refuseMappedInExpression(
      spark: SparkSession, table: String, what: String, sql: String): Unit = {
    val m = mapping(spark, table)
    m.foreach { case (p, l) =>
      require(!mentionsColumn(sql, p),
        s"$what ($sql) references $p, " +
          (if (l.isEmpty) "a DROPPED column"
           else s"the physical name of a column renamed to $l") +
          " — expressions may only reference unmapped columns")
      if (l.nonEmpty) require(!mentionsColumn(sql, l),
        s"$what ($sql) references $l, a RENAMED column — rename it back " +
          "or express the rule over unmapped columns (stored expressions " +
          "bind by name and must read identically in logical and " +
          "physical space)")
    }
  }

  /** A rename/drop of a column referenced by stored SQL text (CHECK
    * constraints, generated columns) would silently unbind the
    * expression — refuse, exactly as Delta does. Word-boundary match on
    * both the logical and physical name. */
  private def refuseReferenced(
      spark: SparkSession, table: String,
      logical: String, phys: String, verb: String): Unit = {
    def mentions(sql: String, name: String): Boolean = mentionsColumn(sql, name)
    Constraints.list(spark, table).foreach { case (n, sql) =>
      require(!mentions(sql, logical) && !mentions(sql, phys),
        s"cannot $verb $logical: constraint $n CHECK ($sql) references it — " +
          "drop the constraint first")
    }
    GeneratedColumns.list(spark, table).foreach { case (c, sql) =>
      require(c != logical && c != phys,
        s"cannot $verb $logical: it is a GENERATED column — drop the " +
          "generation rule first")
      require(!mentions(sql, logical) && !mentions(sql, phys),
        s"cannot $verb $logical: generated column $c AS ($sql) references " +
          "it — drop the generation rule first")
    }
  }
}
