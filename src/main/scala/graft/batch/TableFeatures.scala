package graft.batch

import org.apache.spark.sql.SparkSession

/** Table-feature protocol gating — the Delta protocol-versioning analog
  * (`minReaderVersion`/`minWriterVersion` + table features; the reference
  * inherits the full mechanism by enabling Delta, ref
  * SparkManager.scala:36-37). The engine has format-level features a
  * naive directory reader or out-of-band writer can MIS-read rather than
  * fail on — deletion vectors (deleted rows resurrect), column mapping
  * (physical names lie), row tracking, identity, the change feed,
  * constraints, generated columns, clustering state, in-commit
  * timestamps. This registry records which of them a table actually
  * USES, and [[checkRead]]/[[checkWrite]] refuse — loudly, naming the
  * feature — when a build that does not know a used feature opens the
  * table.
  *
  * Levels mirror Delta's reader/writer split:
  *  - `reader`: ignoring the feature returns WRONG DATA (deletion
  *    vectors, column mapping). Readers and writers must both know it.
  *  - `writer`: reads are safe without it, but an ignorant writer would
  *    corrupt the table's invariants (constraints, generated/identity
  *    columns, row tracking, CDF, clustering, in-commit timestamps).
  *    Only writers must know it.
  *
  * Features are AUTO-DECLARED by the verbs that introduce them (the DDL
  * that registers a constraint declares `check-constraints`, the first
  * vectored delete declares `deletion-vectors`, …) — a user never
  * manages this registry directly. An unknown LEVEL string is treated
  * as `reader`, the conservative direction: a future feature class this
  * build cannot even classify must refuse reads too. */
object TableFeatures {

  /** A DROP FEATURE refused because residue remains — the message names
    * the remains and the clearing verb. A dedicated type (still an
    * IllegalStateException for existing catch sites) so the HTTP layer
    * can map residue refusals to 409 CONFLICT while contention/internal
    * failures map to 5xx instead of masquerading as residue. */
  final class ResidueException(msg: String) extends IllegalStateException(msg)

  private val Prefix = "features-v"

  val DeletionVectors = "deletion-vectors"
  val ColumnMapping = "column-mapping"
  val InCommitTimestamps = "in-commit-timestamps"
  val RowTracking = "row-tracking"
  val Identity = "identity-columns"
  val ChangeDataFeed = "change-data-feed"
  val CheckConstraints = "check-constraints"
  val GeneratedColumns = "generated-columns"
  val Clustering = "clustering"
  val ShallowCloneFeature = "shallow-clone"
  val TypeWideningFeature = "type-widening"

  /** Feature → required level, for every feature THIS build implements.
    * The key set is what this build supports; the refusal matrix compares
    * a table's declared features against it. */
  val Supported: Map[String, String] = Map(
    DeletionVectors -> "reader",
    ColumnMapping -> "reader",
    InCommitTimestamps -> "writer",
    RowTracking -> "writer",
    Identity -> "writer",
    ChangeDataFeed -> "writer",
    CheckConstraints -> "writer",
    GeneratedColumns -> "writer",
    Clustering -> "writer",
    // reader: a build that does not know shallow clones reads only the
    // localized partitions — wrong data, the gate's defining case
    ShallowCloneFeature -> "reader",
    // reader: the widening registry is what makes MIXED-WIDTH partitions
    // readable (per-dir upcast legs below the union) — an unaware build's
    // single mergeSchema read dies on an int vs bigint footer merge (or a
    // vectorized-reader type mismatch), a raw Spark error instead of a
    // clean feature-gate refusal. Loud either way, never wrong data, but
    // Delta classifies typeWidening reader+writer for exactly this case
    // and the gate's contract is "name the feature you are missing"
    TypeWideningFeature -> "reader")

  /** The features `table` has declared, feature → level. */
  def features(spark: SparkSession, table: String): Map[String, String] =
    TableMeta.read(spark, table, Prefix)

  /** Record that `table` uses `feature` (idempotent; level from
    * [[Supported]]). Called by the verb that introduces the feature,
    * AFTER its own validation passes — a refused DDL must not leave a
    * feature declared. */
  def declare(spark: SparkSession, table: String, feature: String): Unit =
    declareAll(spark, table, Seq(feature))

  /** Declare several features in one registry read/write (the merge hot
    * path declares its base set per call; this keeps that one listing).
    * Declaration is NOT DDL: two concurrent merges both declaring the
    * base set must both succeed — [[TableMeta.update]] re-reads and
    * retries a lost race (monotone — features only accumulate, so the
    * loser's re-read usually finds the winner already declared everything). */
  def declareAll(spark: SparkSession, table: String, feats: Seq[String]): Unit = {
    val want = feats.map { f =>
      f -> Supported.getOrElse(f, throw new IllegalArgumentException(
        s"cannot declare unknown feature $f (this build supports: " +
          s"${Supported.keys.toSeq.sorted.mkString(", ")})"))
    }.toMap
    TableMeta.update(spark, table, Prefix)(_ ++ want)
  }

  /** Drop `feature` from `table`'s declaration — Delta's `ALTER TABLE …
    * DROP FEATURE`. A feature may be dropped only when the table carries
    * NO RESIDUE of it: nothing on disk an unaware build could mis-read or
    * fail to maintain once the gate is gone. [[residue]] names the exact
    * remains and the verb that clears them (drop the constraints, run
    * `clusterByNone`, REORG PURGE + vacuum, …) — the Delta discipline,
    * where dropping `deletionVectors` demands `REORG … APPLY (PURGE)` and
    * a truncated history before the protocol downgrade is legal.
    *
    * Concurrency: removal re-reads the registry and re-checks residue on
    * every attempt, so a verb concurrently RE-INTRODUCING the feature
    * (a merge declaring CDF, a new constraint) either lands before the
    * drop (the re-check refuses loudly) or after it (the verb's own
    * declare puts the feature back — accumulation is always safe). */
  def dropFeature(spark: SparkSession, table: String, feature: String): Unit = {
    require(Supported.contains(feature),
      s"unknown feature $feature (this build supports: " +
        s"${Supported.keys.toSeq.sorted.mkString(", ")})")
    require(features(spark, table).contains(feature),
      s"$table does not declare feature $feature — nothing to drop")
    val dropped = TableMeta.update(spark, table, Prefix) { cur =>
      // a concurrent drop that finished it leaves nothing to do
      if (cur.contains(feature)) residue(spark, table, feature).foreach { r =>
        throw new ResidueException(
          s"cannot drop feature $feature from $table: $r")
      }
      cur - feature
    }
    // graduation releases the source-retention pin the clone held
    if (dropped && feature == ShallowCloneFeature)
      ShallowClone.releaseRef(spark, table)
  }

  /** Why `feature` cannot be dropped from `table` right now — None when
    * the table is residue-free and the drop is legal. Public so callers
    * can probe droppability without catching. */
  def residue(
      spark: SparkSession, table: String, feature: String): Option[String] =
    feature match {
      case InCommitTimestamps => Some(
        "in-commit timestamps are structural in this format — every END " +
          "record carries its clamped wall-clock and TIMESTAMP AS OF " +
          "resolution depends on the unbroken axis; the feature is never " +
          "droppable")
      case CheckConstraints =>
        val cs = Constraints.list(spark, table)
        if (cs.isEmpty) None else Some(
          s"constraint(s) still registered: " +
            s"${cs.keys.toSeq.sorted.mkString(", ")} — Constraints.drop " +
            "them first")
      case GeneratedColumns =>
        val gs = graft.batch.GeneratedColumns.list(spark, table)
        if (gs.isEmpty) None else Some(
          s"generated column(s) still registered: " +
            s"${gs.keys.toSeq.sorted.mkString(", ")} — GeneratedColumns.drop " +
            "them first")
      case Identity =>
        val ids = IdentityColumns.list(spark, table)
        if (ids.isEmpty) None else Some(
          s"identity column(s) still registered: " +
            s"${ids.keys.toSeq.sorted.mkString(", ")} — IdentityColumns.drop " +
            "them first")
      case Clustering =>
        LiquidClustering.clusterSpec(spark, table).map(cols =>
          s"CLUSTER BY (${cols.mkString(", ")}) is still registered — run " +
            "LiquidClustering.clusterByNone first")
      case RowTracking =>
        if (!graft.batch.RowTracking.isEnabled(spark, table)) None
        else Some(
          "row tracking is enabled and its ids are materialized in every " +
            "data file — the feature is permanent once rows carry ids " +
            "(clone through RowTracking.strip to shed it)")
      case ChangeDataFeed =>
        sidecarResidue(spark, table, ChangeFeed.ChangesDir,
          "change-record dir(s)",
          "they age out with their generations — vacuumHistory past the " +
            "last change commit first")
      case DeletionVectors =>
        sidecarResidue(spark, table, "_graft_dv",
          "deletion-vector sidecar dir(s)",
          "REORG (Upsert.reorgPurge) materializes pending deletes, then " +
            "vacuumHistory clears the dead sidecars")
      case ColumnMapping =>
        val m = graft.batch.ColumnMapping.mapping(spark, table)
        if (m.isEmpty) None else Some(
          s"column mapping in force for physical column(s) " +
            s"${m.keys.toSeq.sorted.mkString(", ")} — physical file names " +
            "diverge from the logical schema; a deep clone writes " +
            "identity-named files")
      case ShallowCloneFeature =>
        TableMeta.read(spark, table, "clone-v").get("srcPartCol") match {
          case None => Some("no shallow clone-v record — refusing to guess")
          case Some(partColP) =>
            val remote = ShallowClone.remoteParts(spark, table, partColP)
            if (remote.isEmpty) None
            else Some(
              s"${remote.size} partition(s) still read from the pinned " +
                "source — ShallowClone.materialize localizes them; " +
                "dropping the feature now would silently truncate the " +
                s"table (first remote: ${
                  remote.toSeq.sorted.take(3).mkString(", ")})")
        }
      case TypeWideningFeature => TypeWidening.residueOf(spark, table)
      case other => Some(s"no residue rule for $other — refusing to guess")
    }

  private def sidecarResidue(
      spark: SparkSession, table: String, dir: String,
      what: String, guidance: String): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(s"$table/$dir")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) return None
    val n = fs.listStatus(p).count(_.getPath.getName.matches("v\\d+"))
    if (n == 0) None
    else Some(s"$n $what still present under $dir — $guidance")
  }

  /** Refuse to read `table` if it declares a reader-level feature this
    * build does not know. Unknown levels count as reader-level — a
    * feature class we cannot classify must gate reads too. */
  def checkRead(spark: SparkSession, table: String): Unit = {
    checkReadOf(features(spark, table), table); ()
  }

  /** [[checkRead]] against an already-read feature map — hot paths read
    * the registry ONCE and share it between the gate and the
    * shallow-clone dispatch. Returns the map for chaining. */
  private[batch] def checkReadOf(
      feats: Map[String, String], table: String): Map[String, String] = {
    val unknown = feats.collect {
      case (f, level) if !Supported.contains(f) &&
        level != "writer" => f
    }
    if (unknown.nonEmpty)
      throw new IllegalStateException(
        s"cannot READ $table: it uses reader-level table feature(s) " +
          s"${unknown.toSeq.sorted.mkString(", ")} unknown to this build — " +
          "a read that ignored them would return wrong data, not fail. " +
          s"This build supports: ${Supported.keys.toSeq.sorted.mkString(", ")}")
    feats
  }

  /** Refuse to write `table` if it declares ANY feature this build does
    * not know — an ignorant writer corrupts invariants it cannot see. */
  def checkWrite(spark: SparkSession, table: String): Unit = {
    checkWriteOf(features(spark, table), table); ()
  }

  /** [[checkWrite]] against an already-read feature map (see
    * [[checkReadOf]]). Returns the map for chaining. */
  private[batch] def checkWriteOf(
      feats: Map[String, String], table: String): Map[String, String] = {
    val unknown = feats.keys.filterNot(Supported.contains)
    if (unknown.nonEmpty)
      throw new IllegalStateException(
        s"cannot WRITE $table: it uses table feature(s) " +
          s"${unknown.toSeq.sorted.mkString(", ")} unknown to this build — " +
          "a write that ignored them would corrupt the table's invariants. " +
          s"This build supports: ${Supported.keys.toSeq.sorted.mkString(", ")}")
    feats
  }
}
