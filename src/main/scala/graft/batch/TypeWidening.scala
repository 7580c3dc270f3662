package graft.batch

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{FooterSchema, TxnLog}

/** Type widening as pure metadata — the Delta `delta.enableTypeWidening`
  * analog (Delta 3.2+; the reference enables full Delta, ref
  * SparkManager.scala:36-37): a column's DECLARED type widens (INT→LONG,
  * FLOAT→DOUBLE, DECIMAL precision-up) without rewriting a single
  * existing file. The registry records the widened type per physical
  * column; every read upcasts narrow partitions BELOW the partition
  * union (values exact — only value-preserving widenings are legal);
  * merges accept updates carrying the widened type (or anything
  * upcastable to it), and the partitions a merge touches rewrite at the
  * wide type — untouched partitions stay narrow until next touched,
  * exactly the autoMerge union-read discipline for new COLUMNS applied
  * to TYPES.
  *
  * Refused by name: narrowing (LONG→INT), lossy changes (DOUBLE→FLOAT,
  * LONG→DOUBLE — a long above 2^53 silently loses digits), and any
  * cross-kind rewrite (STRING→INT). The partition column never widens
  * (its value IS the directory name; reads type it by partition
  * inference, not by file schema).
  *
  * Feature gating: declaring a widening declares the reader-level
  * `type-widening` table feature (matching Delta's reader+writer
  * classification) — an unaware build refuses BOTH ways, by name: its
  * merge would refuse the type conflict, and its single mergeSchema
  * read would die on the int-vs-bigint footer merge that the registry's
  * per-dir upcast legs exist to avoid — a raw Spark error where the
  * gate gives a clean refusal. DROP FEATURE carries a residue rule:
  * widenings may be
  * cleared only after [[materialize]] has rewritten every narrow
  * partition at the wide type, so no file an unaware build could
  * mis-merge remains.
  *
  * 100 TB shape: `widen` is one KB-scale registry write — no data job at
  * all. The read-side upcast is a per-partition projection inside the
  * scan's codegen (no extra exchange, no extra pass); the only rewrite
  * ever paid is the REORG-class [[materialize]] a feature DROP demands,
  * scoped to the partitions still narrow.
  */
object TypeWidening {

  private val Prefix = "widen-v"

  /** Value-preserving widenings this build accepts (the Delta 3.2+ set
    * minus date→timestampNTZ, which this schema surface never uses).
    * LONG→DOUBLE is deliberately absent: doubles carry 53 mantissa bits,
    * so longs above 2^53 would round — a LOSSY change, refused. */
  def isAllowed(from: DataType, to: DataType): Boolean = (from, to) match {
    case (a, b) if a == b => false
    case (ByteType, ShortType | IntegerType | LongType) => true
    case (ShortType, IntegerType | LongType) => true
    case (IntegerType, LongType) => true
    case (FloatType, DoubleType) => true
    // byte/short/int → double is exact (53-bit mantissa ⊇ 32-bit ints)
    case (ByteType | ShortType | IntegerType, DoubleType) => true
    // decimal precision-up: integer digits and scale both non-decreasing
    case (a: DecimalType, b: DecimalType) =>
      b.scale >= a.scale && b.precision - b.scale >= a.precision - a.scale
    // integral → decimal with room for every digit of the source type
    case (ByteType, b: DecimalType) => b.precision - b.scale >= 3
    case (ShortType, b: DecimalType) => b.precision - b.scale >= 5
    case (IntegerType, b: DecimalType) => b.precision - b.scale >= 10
    case (LongType, b: DecimalType) => b.precision - b.scale >= 19
    case _ => false
  }

  /** Nullability erased recursively — two schemas that differ ONLY in
    * containsNull/nullable describe the same bytes and must never read
    * as a type conflict (a re-pack of collect_list output vs the written
    * files differs exactly this way). */
  private[batch] def ignoreNull(t: DataType): DataType = t match {
    case ArrayType(e, _) => ArrayType(ignoreNull(e), containsNull = true)
    case MapType(k, v, _) =>
      MapType(ignoreNull(k), ignoreNull(v), valueContainsNull = true)
    case StructType(fields) => StructType(fields.map(f =>
      f.copy(dataType = ignoreNull(f.dataType), nullable = true)))
    case other => other
  }

  /** `from` data reads as `to` without value loss: equal (up to
    * nullability) or widenable. */
  private[batch] def upcastable(from: DataType, to: DataType): Boolean =
    ignoreNull(from) == ignoreNull(to) || isAllowed(from, to)

  /** Declared widenings, physical column name → wide type. */
  def widenings(spark: SparkSession, table: String): Map[String, DataType] =
    TableMeta.read(spark, table, Prefix).map { case (c, t) =>
      c -> org.apache.spark.sql.catalyst.parser.CatalystSqlParser
        .parseDataType(t)
    }

  /** The widening map IFF the feature is declared in `feats` — the one
    * helper every read/merge path threads from, so no call site can
    * forget the registry-gated fetch (zero cost on unwidened tables). */
  private[batch] def of(
      spark: SparkSession, table: String,
      feats: Map[String, String]): Map[String, DataType] =
    if (feats.contains(TableFeatures.TypeWideningFeature))
      widenings(spark, table)
    else Map.empty

  /** Declare that logical `column` of `table` now carries type `to` —
    * pure metadata, no rewrite. Validates against the CURRENT effective
    * type (physical, or an earlier widening), refuses non-widenings by
    * name, and declares the reader-level table feature. */
  def widen(
      spark: SparkSession,
      table: String,
      partCol: String,
      column: String,
      to: DataType): Unit = {
    val feats = TableFeatures.checkWriteOf(
      TableFeatures.features(spark, table), table)
    require(!ShallowClone.isShallowIn(feats),
      s"type widening on shallow clone $table is undefined — the pinned " +
        "source partitions keep the source's schema; materialize first")
    val colMap = ColumnMapping.mapping(spark, table)
    val colP = ColumnMapping.physicalName(colMap, column)
    val partColP = ColumnMapping.physicalName(colMap, partCol)
    require(colP != partColP,
      s"partition column $column cannot widen — its value is the " +
        "directory name; repartition into a new table instead")
    val schema = Upsert.readCommitted(spark, table, partCol).schema
    require(schema.fieldNames.contains(column),
      s"$table has no column $column (schema: " +
        s"${schema.fieldNames.sorted.mkString(", ")})")
    val cur = widenings(spark, table).getOrElse(
      colP, schema(column).dataType)
    if (ignoreNull(cur) == ignoreNull(to)) return // idempotent re-declare
    require(isAllowed(cur, to),
      s"type widening $column: ${cur.simpleString} -> ${to.simpleString} " +
        "is not a value-preserving widening — allowed: integral up " +
        "(byte<short<int<long), float->double, byte/short/int->double, " +
        "decimal precision-up, integral->decimal; narrowing and lossy " +
        "changes (e.g. long->double) are refused, and cross-kind changes " +
        "need a rewrite")
    TableFeatures.declare(spark, table, TableFeatures.TypeWideningFeature)
    // read-modify-write of the registry (TableMeta.update): two
    // racing widenings of DISJOINT columns must both land, and two racing
    // widenings of the SAME column re-validate against whatever the other
    // registered — the wider of two COMPARABLE types survives (partitions
    // the loser already rewrote still upcast to it); incomparable
    // concurrent targets (int→bigint vs int→decimal(10,0): neither
    // upcasts to the other) refuse loudly instead of last-writer-wins
    // re-introducing the mixed-width conflict the registry exists to stop
    TableMeta.update(spark, table, Prefix) { curReg =>
      curReg.get(colP).map(
          org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseDataType) match {
        case Some(t0) if upcastable(to, t0) => curReg // t0 is ≥ to: it wins
        case Some(t0) if !upcastable(t0, to) =>
          throw new IllegalStateException(
            s"concurrent type widenings of $table.$column diverge: " +
              s"${t0.simpleString} is already registered and ${to.simpleString} " +
              "is not comparable with it — files rewritten at either width " +
              "could not upcast to the other; pick the wider of the two " +
              "explicitly")
        case _ => // none registered, or `to` is strictly wider: write it
          curReg + (colP -> to.catalogString)
      }
    }
  }

  /** Upcast any present registered column that is still narrow — the
    * per-partition projection every read leg applies below its union. */
  def applyTo(df: DataFrame, w: Map[String, DataType]): DataFrame =
    w.foldLeft(df) { case (d, (c, t)) =>
      if (d.columns.contains(c) &&
          ignoreNull(d.schema(c).dataType) != ignoreNull(t) &&
          upcastable(d.schema(c).dataType, t))
        d.withColumn(c, col(c).cast(t))
      else d
    }

  /** Live partition dirs whose FILES still carry a type narrower than a
    * registered widening (one footer-schema probe per dir). */
  def narrowParts(
      spark: SparkSession, table: String, partColP: String): Seq[String] = {
    val w = widenings(spark, table)
    if (w.isEmpty) return Seq.empty
    val root = new org.apache.hadoop.fs.Path(table)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return Seq.empty
    Upsert.liveDirNames(fs, table, partColP).filter { dirName =>
      val s = FooterSchema.read(spark, s"$table/$dirName").schema
      w.exists { case (c, t) =>
        s.fieldNames.contains(c) &&
          ignoreNull(s(c).dataType) != ignoreNull(t)
      }
    }
  }

  /** REORG-class rewrite: republish every still-narrow partition at the
    * registered wide types, under the ordinary per-partition claim +
    * retain-first publish (time-travelable like any rewrite). The verb
    * that clears the way for `clear` + DROP FEATURE. Returns the
    * partitions rewritten. */
  def materialize(
      spark: SparkSession, table: String, partCol: String): Seq[String] = {
    val colMap = ColumnMapping.mapping(spark, table)
    val partColP = ColumnMapping.physicalName(colMap, partCol)
    val w = widenings(spark, table)
    if (w.isEmpty) return Seq.empty
    val dvPairs = DeletionVectors.pairsAsOf(spark, table, Long.MaxValue,
      TxnLog.commitsSince(spark, table, 0L))
    val targets = narrowParts(spark, table, partColP)
    targets.foreach { dirName =>
      Upsert.compactOne(spark, table, partColP, dirName,
        materializes = true, dvPairs)(rows => applyTo(rows, w))
    }
    // the rewrite replaced files: catch any bloom/stats sidecars up
    // inline, exactly like the merge/compaction paths (stale sidecars
    // only degrade to conservative scans, but widenmat is the verb that
    // RESTORES uniform-width serving — leave it fully served)
    if (targets.nonEmpty) Upsert.refreshIndexSidecars(spark, table)
    targets.map(d => Upsert.unescape(d, partColP))
  }

  /** Forget the widenings — legal only once no narrow file remains (the
    * registry is what makes narrow files readable; clearing it earlier
    * would leave mixed-width partitions under a plain union). After
    * `clear`, DROP FEATURE `type-widening` passes its residue check. */
  def clear(spark: SparkSession, table: String, partCol: String): Unit = {
    val colMap = ColumnMapping.mapping(spark, table)
    val partColP = ColumnMapping.physicalName(colMap, partCol)
    val narrow = narrowParts(spark, table, partColP)
    if (narrow.nonEmpty)
      throw new IllegalStateException(
        s"cannot clear type widenings on $table: ${narrow.size} " +
          s"partition(s) still carry the narrow type (first: ${
            narrow.take(3).mkString(", ")}) — run TypeWidening" +
          ".materialize first")
    TableMeta.write(spark, table, Prefix, Map.empty)
  }

  /** Residue for DROP FEATURE: any declared widening pins the feature. */
  private[batch] def residueOf(
      spark: SparkSession, table: String): Option[String] = {
    val w = TableMeta.read(spark, table, Prefix)
    if (w.isEmpty) None
    else Some(
      s"widening(s) still declared: ${
        w.toSeq.sortBy(_._1).map { case (c, t) => s"$c->$t" }
          .mkString(", ")} — narrow files remain readable only through " +
        "the registry; TypeWidening.materialize (rewrites narrow " +
        "partitions wide) then TypeWidening.clear first")
  }
}
