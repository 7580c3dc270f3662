package graft.batch

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.TxnLog

/** Shallow (zero-copy) clone — Delta's `CREATE TABLE … SHALLOW CLONE`:
  * the clone is METADATA ONLY at creation (a pinned pointer at the
  * source plus the copied registries — milliseconds for a 100 TB
  * source), reads serve the pinned source snapshot, and writes localize
  * touched partitions copy-on-write. Deep clone ([[Upsert.cloneTo]])
  * pays the full data copy up front; shallow clone pays per touched
  * partition, which is the economics that make "test a migration against
  * a production-sized table" a routine operation.
  *
  * Mechanics on this engine's partition-dir format:
  *  - `create` writes the `clone-v` provenance (mode=shallow, source,
  *    pinned version, partition column), copies the KB-scale registries
  *    (constraints, generated/identity, column map, features), and
  *    declares the `shallow-clone` READER-level table feature — a build
  *    that does not know the feature would read ONLY the localized
  *    partitions and silently miss the rest, the exact wrong-data class
  *    the feature gate exists for.
  *  - A read is `localized partitions ∪ source-as-of(pinned) minus
  *    localized` — [[Upsert.readCommitted]] delegates here transparently,
  *    so every consumer of the ordinary read path (HTTP serving included)
  *    sees the full clone.
  *  - [[mergeByKey]] LOCALIZES each touched partition first — the pinned
  *    source slice (source DVs subtracted by the as-of machinery) lands
  *    in the clone's partition dir via a create-EXCLUSIVE rename
  *    (concurrent localizers race safely: both write the same pinned
  *    bytes, one rename wins, content is identical either way) — then
  *    runs the ordinary merge: OCC claims, CDF, constraints, identity,
  *    retain-first publish all inherited. The clone's own version axis
  *    begins at these writes.
  *  - [[materialize]] localizes everything;
  *    [[TableFeatures.dropFeature]] of `shallow-clone` is then legal
  *    (its residue rule: non-localized partitions remain) and GRADUATES
  *    the clone into an ordinary table — the full Delta
  *    clone-then-own lifecycle.
  *
  * Honest limitations (each refused loudly, never silently wrong):
  * time travel on the clone is undefined before materialization (the
  * axis starts at the clone's own writes); direct
  * merge/DV-delete/sidecar-lookup verbs route through their shallow
  * refusals; DDL that validates by scanning (constraints, row tracking)
  * wants the materialized table. And exactly like Delta: VACUUM on the
  * SOURCE past the pinned version breaks the clone's remote reads — they
  * fail loudly at the as-of horizon ([[Upsert.readAsOf]]'s contract),
  * never serve a partial table. */
object ShallowClone {

  /** The reader-level feature a shallow clone declares. */
  val Feature: String = TableFeatures.ShallowCloneFeature

  private val MetaPrefix = "clone-v"

  /** Whether `table` is an un-graduated shallow clone. The FEATURE is the
    * switch (not the provenance record): dropping the feature after
    * [[materialize]] graduates the table, while `clone-v` stays as
    * lineage. */
  def isShallow(spark: SparkSession, table: String): Boolean =
    TableFeatures.features(spark, table).contains(Feature)

  private[batch] def isShallowIn(features: Map[String, String]): Boolean =
    features.contains(Feature)

  private def meta(spark: SparkSession, table: String): Map[String, String] = {
    val m = TableMeta.read(spark, table, MetaPrefix)
    require(m.get("mode").contains("shallow"),
      s"$table declares the $Feature feature but carries no shallow " +
        "clone-v record — refusing to guess its source")
    m
  }

  /** Create a shallow clone of `src`'s pinned version at `dst`. Returns
    * the pinned source version. O(registry bytes), never O(data). */
  def create(
      spark: SparkSession,
      src: String,
      dst: String,
      partCol: String,
      version: Option[Long] = None): Long = {
    val dstPath = new Path(dst)
    val conf = spark.sessionState.newHadoopConf()
    val fs = dstPath.getFileSystem(conf)
    require(!fs.exists(dstPath),
      s"shallow clone: destination $dst already exists — refusing to overwrite")
    require(!isShallow(spark, src),
      s"shallow clone of a shallow clone: materialize $src first — a " +
        "pointer chain would make every read a multi-table resolution")
    val colMap = ColumnMapping.mapping(spark, src)
    val partColP = ColumnMapping.physicalName(colMap, partCol)
    val pinned = version.getOrElse(TxnLog.currentVersion(spark, src))
    require(pinned > 0L,
      s"shallow clone needs a VERSIONED source ($src has no commits): " +
        "the clone pins a version so source writes never leak into it; " +
        "merge the source once, or deep-clone instead")
    // resolve the pinned snapshot NOW — an unreadable pin (beyond the
    // manifest horizon, vacuumed generation) must fail at create, not at
    // the first read (a widened source needs its per-dir upcast legs
    // even for this probe: schema inference runs at DataFrame build)
    // (the clone does not exist yet, so this one probe resolves the
    // source's LIVE registry — at create time that IS the pinned state
    // the copy below will carry)
    Upsert.snapshotPhysical(spark, src, partColP, Some(pinned),
      TypeWidening.of(spark, src, TableFeatures.features(spark, src)))
    fs.mkdirs(dstPath)
    // registries carry over verbatim, exactly like deep clone (the
    // features registry rides along, so the clone inherits the source's
    // declared features); the source's own lineage record does not, and
    // neither does its clone-ref registry — those pins belong to the
    // source's OTHER clones, and a copy would make this clone report
    // phantom pins and block its own post-graduation vacuum forever
    val srcMeta = new Path(s"$src/_graft_meta")
    val srcFs = srcMeta.getFileSystem(conf)
    if (srcFs.exists(srcMeta)) {
      val dstMeta = new Path(s"$dst/_graft_meta")
      fs.mkdirs(dstMeta)
      srcFs.listStatus(srcMeta)
        .filter(st => st.isFile && !st.getPath.getName.startsWith(MetaPrefix) &&
          !st.getPath.getName.startsWith(RefsPrefix))
        .foreach { st =>
          org.apache.hadoop.fs.FileUtil.copy(
            srcFs, st.getPath, fs, new Path(dstMeta, st.getPath.getName),
            false, conf)
        }
    }
    TableMeta.write(spark, dst, MetaPrefix, Map(
      "mode" -> "shallow",
      "source" -> src,
      "sourceVersion" -> pinned.toString,
      "srcPartCol" -> partColP,
      "clonedAtMs" -> System.currentTimeMillis().toString))
    TableFeatures.declare(spark, dst, Feature)
    // pin the source's retention: vacuumHistory on the source now keeps
    // every generation this clone's as-of reads resolve through
    registerRef(spark, src, dst, pinned)
    pinned
  }

  /** The clone's full committed state: localized partitions plus the
    * pinned source snapshot minus them. [[Upsert.readCommitted]]
    * delegates here for shallow tables — call either. */
  def read(spark: SparkSession, table: String, partCol: String): DataFrame = {
    TableFeatures.checkRead(spark, table)
    val colMap = ColumnMapping.mapping(spark, table)
    ColumnMapping.applyLogical(
      readPhysical(spark, table,
        ColumnMapping.physicalName(colMap, partCol)), colMap)
  }

  /** The type widenings the clone CARRIED OVER at create (the source's
    * registries copy verbatim, so this is the source's widening registry
    * AS OF THE PIN) — a clone of a widened source must upcast the
    * still-remote partitions exactly like the source's own reads did at
    * the pinned version (mixed-width source partitions cannot share one
    * mergeSchema read), and [[localize]] lands its copies at exactly the
    * pin's widths.
    *
    * Resolved from the CLONE's registry, never the source's LIVE one:
    * a post-pin source widening must not retroactively change the
    * clone's read schema, and — the sharp edge — a post-pin source
    * `materialize` + `clear` (the sanctioned DROP FEATURE path, which
    * checks only the source's own partitions) must not strand clone
    * dirs that a live-registry read had localized wide. The pinned
    * snapshot's files cannot be wider than the pinned registry says, so
    * the carried map is always sufficient. */
  private def cloneWidenings(
      spark: SparkSession,
      clone: String): Map[String, org.apache.spark.sql.types.DataType] =
    TypeWidening.of(spark, clone, TableFeatures.features(spark, clone))

  private[batch] def readPhysical(
      spark: SparkSession, table: String, partColP: String): DataFrame = {
    val m = meta(spark, table)
    val (src, pinned) = (m("source"), m("sourceVersion").toLong)
    require(partColP == m("srcPartCol"),
      s"shallow clone $table is partitioned by ${m("srcPartCol")}, not $partColP")
    val localized = localizedParts(spark, table, partColP)
    val remote = Upsert.snapshotPhysical(spark, src, partColP, Some(pinned),
        cloneWidenings(spark, table))
      .filter(!col(partColP).cast("string")
        .isin(localized.toSeq.sorted: _*))
    if (localized.isEmpty) remote
    else
      // a widened clone (autoMerge on localized partitions) null-fills
      // the still-remote side — the same contract as untouched narrow
      // partitions under schema evolution. The CARRIED widenings apply
      // to the clone's own dirs too: a pre-pin source widening means
      // localized copies can mix widths exactly like the source's
      // partitions did at the pin
      Upsert.snapshotPhysical(spark, table, partColP, None,
          cloneWidenings(spark, table))
        .unionByName(remote, allowMissingColumns = true)
  }

  /** Partition values the clone has localized (its own real dirs). */
  def localizedParts(
      spark: SparkSession, table: String, partColP: String): Set[String] = {
    val root = new Path(table)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return Set.empty
    Upsert.liveDirNames(fs, table, partColP)
      .map(Upsert.unescape(_, partColP)).toSet
  }

  /** Copy-on-write localization: install the pinned source slice of each
    * named partition into the clone's own dir. Create-EXCLUSIVE — a
    * partition that already has a dir (localized, possibly since merged)
    * is never touched; concurrent localizers of one partition both write
    * the same pinned bytes and the rename loser discards its temp.
    * Returns the partitions this call localized. */
  def localize(
      spark: SparkSession,
      table: String,
      partCol: String,
      parts: Seq[String]): Seq[String] = {
    val colMap = ColumnMapping.mapping(spark, table)
    val partColP = ColumnMapping.physicalName(colMap, partCol)
    val m = meta(spark, table)
    val (src, pinned) = (m("source"), m("sourceVersion").toLong)
    val fs = new Path(table).getFileSystem(spark.sessionState.newHadoopConf())
    val remote = Upsert.snapshotPhysical(spark, src, partColP, Some(pinned),
      cloneWidenings(spark, table))
    val already = localizedParts(spark, table, partColP)
    val want = parts.distinct.filterNot(already)
    want match {
      case Seq() => Seq.empty
      case Seq(p) =>
        // single-partition fast path (the merge's COW unit): one slice job
        val live = new Path(s"$table/$partColP=${Upsert.escapeValue(p)}")
        val slice = remote.filter(col(partColP).cast("string") === p)
          .drop(partColP) // partition dirs carry the value; files never do
        if (slice.limit(1).isEmpty) Seq.empty // absent at pin
        else {
          val tmp = new Path(s"$table/.localize-${live.getName}-" +
            java.util.UUID.randomUUID.toString.take(8))
          try {
            slice.write.parquet(tmp.toString)
            if (install(fs, tmp, live)) Seq(p) else Seq.empty
          } finally { scala.util.Try(fs.delete(tmp, true)); () }
        }
      case many =>
        // bulk path (materialize's shape): ONE partitioned job writes
        // every wanted slice into a staging tree, then O(partitions)
        // exclusive renames install them — a 5,000-partition materialize
        // is one Spark job, never 5,000 sequential ones
        val stage = new Path(s"$table/.localize-bulk-" +
          java.util.UUID.randomUUID.toString.take(8))
        try {
          remote.filter(col(partColP).cast("string")
              .isin(many.toSeq.sorted: _*))
            .write.partitionBy(partColP).parquet(stage.toString)
          val staged =
            if (!fs.exists(stage)) Array.empty[org.apache.hadoop.fs.FileStatus]
            else fs.listStatus(stage).filter(st =>
              st.isDirectory && st.getPath.getName.startsWith(s"$partColP="))
          staged.flatMap { st =>
            val live = new Path(s"$table/${st.getPath.getName}")
            if (install(fs, st.getPath, live))
              Some(Upsert.unescape(st.getPath.getName, partColP))
            else None
          }.toSeq.sorted
        } finally { scala.util.Try(fs.delete(stage, true)); () }
    }
  }

  /** Exclusive dir install of a staged `tmp` at `live`: false, with
    * `live` untouched, when `live` already exists — a racing localizer (or
    * a partition merged since the existence check) loses harmlessly, both
    * staged the same pinned bytes. `FileSystem.rename` moves a dir INSIDE
    * an existing destination instead of refusing, so the install detects
    * that nested move and UNDOES it. The name that could get nested is
    * made dot-prefixed FIRST: in the bulk path `tmp` is named
    * `partCol=value`, and a crash between the nested move and its undo
    * would otherwise leave a non-dot dir that reads back as duplicate rows
    * inside the live partition — a dot-prefixed leftover is invisible to
    * readers, so the crash window surfaces nothing. */
  private[batch] def install(fs: FileSystem, tmp: Path, live: Path): Boolean = {
    val src =
      if (tmp.getName.startsWith(".")) Some(tmp)
      else {
        val dotted = new Path(tmp.getParent, s".install-${tmp.getName}")
        if (fs.rename(tmp, dotted)) Some(dotted) else None
      }
    src.exists { st =>
      fs.rename(st, live) && {
        val nested = new Path(live, st.getName)
        if (fs.exists(nested)) { fs.delete(nested, true); false }
        else true
      }
    }
  }

  /** MERGE into the shallow clone: localize the touched partitions, then
    * the ordinary merge machinery (claims, CDF, constraints, identity,
    * retain-first) — the copy-on-write write path. The plain
    * [[Upsert.mergeByKey]] refuses shallow tables and points here: a
    * merge that skipped localization would treat a remote partition as
    * brand new and silently DROP its pinned rows. */
  def mergeByKey(
      spark: SparkSession,
      table: String,
      updates: DataFrame,
      partCol: String,
      keyCols: Seq[String],
      deleteWhen: Option[String] = None): Seq[String] = {
    require(isShallow(spark, table),
      s"$table is not a shallow clone — use Upsert.mergeByKey")
    require(updates.columns.contains(partCol),
      s"shallow-clone merge needs explicit $partCol values (generated " +
        "partition columns compose after materialization)")
    val touched = updates.select(col(partCol).cast("string")).distinct()
      .collect().map(_.getString(0)).toSeq
    localize(spark, table, partCol, touched)
    Upsert.mergeByKeyAt(spark, table, updates, partCol, keyCols,
      deleteWhen, keepSuppliedIdentity = false,
      snapshotAt = None, viaShallowPath = true)
  }

  /** Localize every still-remote partition of the pinned snapshot. After
    * this, `TableFeatures.dropFeature(table, "shallow-clone")` is legal
    * and graduates the clone into an ordinary table. Returns the
    * partitions localized by this call. */
  def materialize(
      spark: SparkSession, table: String, partCol: String): Seq[String] = {
    val colMap = ColumnMapping.mapping(spark, table)
    val partColP = ColumnMapping.physicalName(colMap, partCol)
    localize(spark, table, partCol,
      remoteParts(spark, table, partColP).toSeq.sorted)
  }

  /** Pinned-source partitions the clone still reads remotely ("reads" =
    * has surviving rows at the pin). Resolved DRIVER-SIDE from the
    * source's manifest ([[Upsert.partValsAsOf]]) — no Spark job over the
    * snapshot's files, so `materialize`/`dropFeature` residue checks stay
    * O(partitions) at 100 TB. The one case metadata cannot decide — a
    * deletion vector in force at the pin may have emptied a partition —
    * falls back to a scan scoped to EXACTLY the still-remote values
    * (bounded by DV-era partitions, never the whole snapshot). */
  private[batch] def remoteParts(
      spark: SparkSession, table: String, partColP: String): Set[String] = {
    val m = meta(spark, table)
    val (src, pinned) = (m("source"), m("sourceVersion").toLong)
    val (candidates, hasDv) = Upsert.partValsAsOf(spark, src, pinned, partColP)
    val remote = candidates -- localizedParts(spark, table, partColP)
    if (remote.isEmpty || !hasDv) remote
    else
      // a widened mixed-width source needs its per-dir upcast legs even
      // for this scoped probe (schema inference runs at DataFrame build)
      Upsert.snapshotPhysical(spark, src, partColP, Some(pinned),
          cloneWidenings(spark, table))
        .filter(col(partColP).cast("string").isin(remote.toSeq.sorted: _*))
        .select(col(partColP).cast("string")).distinct()
        .collect().map(_.getString(0)).toSet
  }

  // ---- source-side retention pins ------------------------------------
  // Delta documents "VACUUM on the source breaks shallow clones" as a
  // footgun and leaves it to the operator. Here the SOURCE records each
  // live clone's pin (`clonerefs-v` registry: clone dir → pinned
  // version) and [[Upsert.vacuumHistory]] refuses to remove any history
  // generation a live pin still resolves through — a clone can only be
  // broken by deleting it, never by routine source maintenance.
  // Graduation (DROP FEATURE after [[materialize]]) releases the pin;
  // a clone directory that simply vanished is swept as stale on the
  // source's next vacuum.

  private[batch] val RefsPrefix = "clonerefs-v"

  private[batch] def registerRef(
      spark: SparkSession, src: String, dst: String, pinned: Long): Unit =
    TableMeta.update(spark, src, RefsPrefix)(_ + (dst -> pinned.toString))

  /** Release `dst`'s pin on its source (called by the feature drop after
    * graduation). Best-effort against a vanished source: the pin dies
    * with the source's own registry. */
  private[batch] def releaseRef(spark: SparkSession, dst: String): Unit = {
    val src = TableMeta.read(spark, dst, MetaPrefix).get("source")
    src.foreach { s =>
      scala.util.Try(TableMeta.update(spark, s, RefsPrefix)(_ - dst)); ()
    }
  }

  /** The LIVE pins on `src` (stale refs — clone dir gone, or no longer a
    * shallow clone — are swept here, so an abandoned clone only pins one
    * vacuum cycle). Returns the pinned versions still in force. */
  private[batch] def livePins(spark: SparkSession, src: String): Seq[Long] = {
    val refs = TableMeta.read(spark, src, RefsPrefix)
    if (refs.isEmpty) return Seq.empty
    val conf = spark.sessionState.newHadoopConf()
    val (live, stale) = refs.partition { case (dst, _) =>
      val p = new Path(dst)
      p.getFileSystem(conf).exists(p) && isShallow(spark, dst)
    }
    if (stale.nonEmpty)
      scala.util.Try(TableMeta.update(spark, src, RefsPrefix)(_ -- stale.keys))
    live.values.map(_.toLong).toSeq
  }

  /** The shallow refusal for verbs whose dir-listing view of a shallow
    * clone would be silently PARTIAL (sidecar lookups, DV deletes, deep
    * clone, scanning DDL). */
  private[batch] def refuseDirect(
      spark: SparkSession, table: String, verb: String): Unit =
    if (isShallow(spark, table))
      throw new IllegalStateException(
        s"$verb on shallow clone $table would see only the LOCALIZED " +
          "partitions and silently miss the pinned-source remainder — " +
          "materialize the clone first (ShallowClone.materialize, then " +
          s"drop the $Feature feature), or read via ShallowClone.read")
}
