package graft.batch

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.TxnLog

/** Change data feed over upsert tables — the Delta CDF
  * (`readChangeFeed` / `table_changes`) analog for the engine's
  * plain-Parquet + TxnLog storage (ref `SparkManager.scala:36-37` enables
  * Delta, whose CDF is the standard way downstream consumers incrementally
  * sync a MERGE-maintained table without re-reading it).
  *
  * Semantics: for every version-defining commit (`upsert-end`) in
  * `(fromVersion, toVersion]`, the feed carries the row-level difference of
  * the commit's touched partitions between the snapshot just before it and
  * the snapshot at it: rows present after but not before tag
  * `_change_type = "insert"`, rows present before but not after tag
  * `"delete"`, both stamped `_commit_version`. An update surfaces as
  * delete + insert of the full row (no key specification is needed — the
  * feed is exact multiset arithmetic). The defining invariant, and the
  * consumer contract:
  *
  *   snapshot(fromVersion) − deletes + inserts ≡ snapshot(toVersion)
  *
  * applied per commit in version order (or all at once after netting
  * insert/delete pairs that cancel across commits).
  *
  * Scale shape — two read paths per commit, cheapest first:
  *
  *   1. PERSISTED change files: `mergeByKey` materializes each commit's
  *      exact row delta under `_graft_changes/v<begin>/` in the same claim
  *      that publishes the data (Delta writes its `_change_data` files the
  *      same way). The feed then reads O(changed rows) — one scan of the
  *      change files, no snapshot resolution, no diff.
  *   2. SNAPSHOT DIFF fallback, for commits that predate the feature (or
  *      merges run with `graft.changeFeed.enabled=false`): one pre/post
  *      snapshot-resolution pair per commit — driver cost
  *      O(commits × metadata), executor cost bounded by the TOUCHED
  *      partitions (the partition filter prunes both the live scan and the
  *      history generation reads), never a full-table diff.
  *
  * Schema evolution: a commit that widens the table's schema (a new
  * partition carrying extra columns) yields per-commit frames of differing
  * width; frames are aligned by name with missing columns null-filled, both
  * across commits and inside the diff path's multiset subtraction — a feed
  * range spanning a widening commit is valid, not an AnalysisException.
  *
  * Horizon: change files are vacuumed together with their commit's history
  * generation ([[Upsert.vacuumHistory]]), so the feed's retention equals
  * time travel's — a range reaching below it fails loudly via readAsOf,
  * never returns a silently partial feed. */
object ChangeFeed {

  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"
  /** Root of the persisted per-commit change files, keyed by the BEGIN
    * version of the claim that wrote them (`v<begin>/c_<partition>/…`) —
    * the `upsert-end`'s `ref` points there. Subdirectories deliberately do
    * NOT use `col=value` naming (a `=` dir name would make every reader
    * re-infer a partition column): split-layout records carry the
    * partition value in the escaped `c_<p>` name itself, flat legacy/DV
    * records carry it INSIDE the files as a data column. */
  private[batch] val ChangesDir = "_graft_changes"

  /** Row-level changes committed after `fromVersion`, up to `toVersion`
    * (default: the current tip). `fromVersion = 0` feeds from the table's
    * first retained commit. */
  def readChanges(
      spark: SparkSession,
      table: String,
      partCol: String,
      fromVersion: Long,
      toVersion: Option[Long] = None): DataFrame = {
    // change files are written in PHYSICAL column space (they ride the
    // merge's own write); consumers see the current LOGICAL names, so a
    // rename never breaks a feed cursor — Delta's column-mapping CDF rule
    val colMap = ColumnMapping.mapping(spark, table)
    ColumnMapping.applyLogical(
      readChangesPhysical(spark, table,
        ColumnMapping.physicalName(colMap, partCol), fromVersion, toVersion),
      colMap)
  }

  private[batch] def readChangesPhysical(
      spark: SparkSession,
      table: String,
      partCol: String,
      fromVersion: Long,
      toVersion: Option[Long] = None): DataFrame = {
    val all = TxnLog.commitsSince(spark, table, 0L)
    val to = toVersion.getOrElse(all.lastOption.map(_.version).getOrElse(0L))
    // manifest-horizon check: a fromVersion below the retained range would
    // silently skip the truncated commits (the filter below only sees
    // survivors) — fail loudly instead of feeding a partial delta; a
    // lagging consumer must re-bootstrap from a snapshot. fromVersion = 0
    // means "from the first retained commit", i.e. the horizon itself.
    Upsert.requireRetained(all, "change feed",
      if (fromVersion > 0) fromVersion
      else all.headOption.map(_.version - 1).getOrElse(0L), to)
    require(fromVersion <= to,
      s"change feed: fromVersion $fromVersion must be <= toVersion $to")
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sessionState.newHadoopConf())
    // upsert-end commits rewrite partitions; dv-end commits delete rows
    // merge-on-read ([[DeletionVectors]]) — both change the row set, both
    // persist change files in-claim, both feed
    val dataEnds = all.filter(c =>
      (c.op == "upsert-end" || c.op == "dv-end") && c.ref.isDefined &&
      c.version > fromVersion && c.version <= to)
    // Table schema for change rows assembled from the SPLIT layout: the
    // side files carry neither the partition column (it rides the `c_<p>`
    // dir name — typed here with the same partition-inferred type every
    // table read produces) nor, for pre-widening commits, the newest data
    // columns (explicit-schema reads null-fill them, matching the
    // name-aligned union the feed guarantees). One lazy resolution per
    // read — per-side-dir schema INFERENCE would cost a driver job for
    // every commit in the range.
    lazy val tableSchema: org.apache.spark.sql.types.StructType =
      spark.read.option("mergeSchema", "true").parquet(table).schema
    val resolved = dataEnds.map(e =>
      e -> persistedChanges(spark, fs, table, e.ref.get, partCol, () => tableSchema))
    // split records from EVERY commit in the range net in ONE aggregation —
    // grouped by (commit version, partition, full row), so commits never
    // cancel against each other but the feed pays a single shuffle however
    // wide the range (per-commit netting made wide replays O(commits)
    // shuffle stages)
    val splitSides = resolved.collect { case (e, Some(SplitSides(df))) =>
      df.withColumn(CommitVersionCol, lit(e.version)) }
    val netted = splitSides
      .reduceOption(_.unionByName(_, allowMissingColumns = true))
      .map { union =>
        val base = union.columns.filterNot(_ == SideCol).toSeq
        union.groupBy(base.map(col): _*)
          .agg(sum(col(SideCol)).as("_graft_net"))
          .filter(col("_graft_net") =!= 0L)
          .withColumn(ChangeTypeCol,
            when(col("_graft_net") > 0, lit("insert")).otherwise(lit("delete")))
          .withColumn("_graft_copy",
            explode(sequence(lit(1L), abs(col("_graft_net")))))
          .drop("_graft_net", "_graft_copy")
      }
    val feeds = resolved.flatMap {
      case (e, Some(FlatRows(df))) =>
        Some(df.withColumn(CommitVersionCol, lit(e.version)))
      case (_, Some(EmptyDelta)) => None // persisted, empty — contributes nothing
      case (e, None) => diffChanges(spark, table, partCol, e)
      case (_, Some(SplitSides(_))) => None // folded into `netted` above
    } ++ netted.toSeq
    feeds.reduceOption(_.unionByName(_, allowMissingColumns = true)).getOrElse(
      // empty range: an empty frame with the table's schema + feed columns,
      // so consumers can union/apply it unconditionally
      spark.read.parquet(table).filter(lit(false))
        .withColumn(ChangeTypeCol, lit("insert"))
        .withColumn(CommitVersionCol, lit(0L)))
  }

  /** How a commit's change record is persisted on disk. */
  private sealed trait Persisted
  /** SPLIT layout: raw pre/post sides tagged ±1 in [[SideCol]], partition
    * column attached — netted by the caller across commits in one pass. */
  private final case class SplitSides(df: DataFrame) extends Persisted
  /** FLAT layout (legacy upserts + [[DeletionVectors]]): ready change rows
    * with `_change_type` and the partition column as data columns. */
  private final case class FlatRows(df: DataFrame) extends Persisted
  /** A split record whose delta is entirely empty — persisted and
    * authoritative (no diff fallback), contributing nothing. */
  private case object EmptyDelta extends Persisted

  /** Side marker used while netting split change records. */
  private val SideCol = "_graft_side"

  /** Write-time schema metadata inside a split `c_<p>/` record:
    * `{"side": <StructType.json>, "part": <DataType.json>}`. Reading it is
    * one small fs read — no inference/mergeSchema jobs on the feed path. */
  private[batch] val SchemaFile = "_schema.json"

  /** The persisted change record of the claim begun at `beginV`, or None
    * if that commit predates the feature (diff fallback). Two on-disk
    * shapes:
    *
    *   - SPLIT (current writer): `c_<p>/pre/` holds the matched pre-images
    *     and `c_<p>/post/` the upsert rows, RENAMED out of the merge's own
    *     tagged rewrite — the write side pays zero extra jobs, so the
    *     netting the feed exposes (identical-row rewrites cancel, an
    *     update is delete+insert) happens at READ time over O(changed
    *     rows) of input. The partition column rides the `c_<p>` dir name
    *     (the staged files, like the published partition, don't carry it),
    *     and sides are read with the EXPLICIT table schema — pre-widening
    *     commits null-fill, and no per-dir inference jobs run. A `c_` dir
    *     with pre/post subdirs is authoritative even when both sides are
    *     empty — an empty delta feeds as empty, no fallback.
    *   - FLAT (legacy upserts + [[DeletionVectors]]): ready change rows. A
    *     flat directory holding zero data files returns None — the diff
    *     fallback computes the same empty delta, so correctness never
    *     depends on how an old writer serialized emptiness. */
  private def persistedChanges(
      spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      table: String,
      beginV: Long,
      partCol: String,
      tableSchema: () => org.apache.spark.sql.types.StructType): Option[Persisted] = {
    val root = new org.apache.hadoop.fs.Path(s"$table/$ChangesDir/v$beginV")
    if (!fs.exists(root)) return None
    val dirs = fs.listStatus(root).filter(_.isDirectory).map(_.getPath)
      .filterNot(_.getName.startsWith("."))
    def subdir(d: org.apache.hadoop.fs.Path, name: String) =
      new org.apache.hadoop.fs.Path(d, name)
    def hasData(d: org.apache.hadoop.fs.Path) =
      fs.exists(d) && fs.listStatus(d).exists(f => f.isFile && f.getLen > 0 &&
        f.getPath.getName.endsWith(".parquet"))
    val (split, flatDirs) = dirs.partition(d =>
      fs.exists(subdir(d, "pre")) || fs.exists(subdir(d, "post")))
    val splitFrames = split.toSeq.flatMap { d =>
      val p = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(d.getName.stripPrefix("c_"))
      // write-time schema metadata (one KB-scale fs read, zero jobs);
      // records from before the metadata existed fall back to the lazily
      // resolved union table schema
      val meta = readSchemaFile(fs, subdir(d, SchemaFile))
      val sideSchema = meta.map(_._1).getOrElse(
        org.apache.spark.sql.types.StructType(
          tableSchema().filterNot(_.name == partCol)))
      val partType = meta.map(_._2).getOrElse(tableSchema()(partCol).dataType)
      def side(name: String, sign: Long): Option[DataFrame] = {
        val sd = subdir(d, name)
        if (hasData(sd))
          Some(spark.read.schema(sideSchema).parquet(sd.toString)
            .withColumn(SideCol, lit(sign)))
        else None
      }
      (side("pre", -1L).toSeq ++ side("post", 1L).toSeq)
        .reduceOption(_ unionByName _)
        .map(_.withColumn(partCol, lit(p).cast(partType)))
    }
    val flatWithData = flatDirs.filter(d =>
      fs.listStatus(d).exists(f => f.isFile && f.getLen > 0 &&
        f.getPath.getName.endsWith(".parquet")))
    val flatFrame =
      if (flatWithData.isEmpty) None
      else Some(spark.read.option("mergeSchema", "true")
        .parquet(flatWithData.map(_.toString).toIndexedSeq: _*))
    (splitFrames.nonEmpty, flatFrame) match {
      case (true, None) =>
        Some(SplitSides(
          splitFrames.reduce(_.unionByName(_, allowMissingColumns = true))))
      case (false, Some(flat)) => Some(FlatRows(flat))
      case (false, None) => if (split.nonEmpty) Some(EmptyDelta) else None
      case (true, Some(flat)) =>
        // one claim never mixes layouts today; handle it anyway by netting
        // the split sides alone per this commit and unioning the flat rows
        Some(FlatRows(flat.unionByName(
          netOne(splitFrames.reduce(_.unionByName(_, allowMissingColumns = true))),
          allowMissingColumns = true)))
    }
  }

  /** The `_schema.json` of a split record, if present. */
  private def readSchemaFile(
      fs: org.apache.hadoop.fs.FileSystem,
      f: org.apache.hadoop.fs.Path): Option[
      (org.apache.spark.sql.types.StructType,
       org.apache.spark.sql.types.DataType)] =
    if (!fs.exists(f)) None
    else scala.util.Try {
      val in = fs.open(f)
      val txt = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      val obj = graft.http.Json.parse(txt).asObj
      (org.apache.spark.sql.types.DataType.fromJson(obj("side").render)
        .asInstanceOf[org.apache.spark.sql.types.StructType],
       org.apache.spark.sql.types.DataType.fromJson(obj("part").render))
    }.toOption

  /** Net one commit's split sides alone (only the mixed-layout edge). */
  private def netOne(union: DataFrame): DataFrame = {
    val base = union.columns.filterNot(_ == SideCol).toSeq
    union.groupBy(base.map(col): _*)
      .agg(sum(col(SideCol)).as("_graft_net"))
      .filter(col("_graft_net") =!= 0L)
      .withColumn(ChangeTypeCol,
        when(col("_graft_net") > 0, lit("insert")).otherwise(lit("delete")))
      .withColumn("_graft_copy",
        explode(sequence(lit(1L), abs(col("_graft_net")))))
      .drop("_graft_net", "_graft_copy")
  }

  /** Snapshot-diff fallback for commits without persisted change files:
    * exact multiset arithmetic over the touched partitions of the pre/post
    * snapshots. None when the diff is structurally empty. */
  private def diffChanges(
      spark: SparkSession,
      table: String,
      partCol: String,
      e: TxnLog.Commit): Option[DataFrame] = {
    val touched = e.partitions.toSeq.sorted
    def at(v: Long): DataFrame = Upsert.readAsOf(spark, table, v, partCol)
      .filter(col(partCol).cast("string").isin(touched: _*))
    // align the pre/post schemas by name (missing columns null-filled):
    // a schema-widening commit reads pre narrower than post, and exceptAll
    // demands identical shapes
    val (pre, post) = aligned(at(e.version - 1), at(e.version))
    Some(post.exceptAll(pre).withColumn(ChangeTypeCol, lit("insert"))
      .unionByName(pre.exceptAll(post).withColumn(ChangeTypeCol, lit("delete")))
      .withColumn(CommitVersionCol, lit(e.version)))
  }

  /** Widen both frames to the NAME-UNION of their columns (missing ones
    * null-filled with the other side's type), so multiset ops line up
    * across schema evolution. Column order follows `a` then `b`'s extras. */
  private def aligned(a: DataFrame, b: DataFrame): (DataFrame, DataFrame) = {
    val cols = a.columns.toSeq ++ b.columns.toSeq.filterNot(a.columns.contains)
    def widen(df: DataFrame, other: DataFrame): DataFrame = {
      val have = df.columns.toSet
      df.select(cols.map(c =>
        if (have(c)) col(c)
        else lit(null).cast(other.schema(c).dataType).as(c)): _*)
    }
    (widen(a, b), widen(b, a))
  }

  /** Apply a change feed to a base snapshot: multiset-subtract the deletes,
    * add the inserts. Correct for a feed spanning MANY commits because
    * cross-commit insert/delete pairs of identical rows are netted first
    * (a row inserted at v3 and deleted at v5 must not survive a one-shot
    * application to a pre-v3 base). This is the consumer-side half of the
    * CDF contract: `applyChanges(snapshot(v0), readChanges(v0)) ≡
    * snapshot(tip)`. Base and changes are aligned by name first, so a feed
    * spanning a schema-widening commit applies to a pre-widening base (the
    * result carries the widened schema, old rows null-filled). */
  def applyChanges(base: DataFrame, changes: DataFrame): DataFrame = {
    val ins = changes.filter(col(ChangeTypeCol) === "insert")
      .drop(ChangeTypeCol, CommitVersionCol)
    val del = changes.filter(col(ChangeTypeCol) === "delete")
      .drop(ChangeTypeCol, CommitVersionCol)
    val (alignedIns, alignedDel) = aligned(ins, del)
    val netIns = alignedIns.exceptAll(alignedDel)
    val netDel = alignedDel.exceptAll(alignedIns)
    val (alignedBase, netDelB) = aligned(base, netDel)
    alignedBase.exceptAll(netDelB)
      .unionByName(netIns, allowMissingColumns = true)
  }
}
