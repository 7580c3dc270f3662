package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.FooterSchema

/** Persisted IVF index — the 100 TB shape of [[SimilarityQueries.topkIvf]].
  *
  * The in-query IVF path re-assigns the whole corpus to cells on every
  * probe batch: fine at test scale, but at 100 TB the assignment is a full
  * corpus scan no probe should pay. This index materializes the assignment
  * ONCE as a parquet table PARTITIONED BY CELL (`cell=<cid>/…` dirs — the
  * "bucketed by cell" layout the in-query path's scaladoc promises), plus
  * the trained codebook. A probe batch then:
  *
  *   1. scores its (few) query vectors against the broadcast codebook —
  *      centroid math only, no corpus scan;
  *   2. collects the probed CELL IDS (bounded by the codebook size K,
  *      never by the corpus);
  *   3. reads `cells/` with `cell IN (...)` — Catalyst partition-prunes
  *      the scan to exactly the probed directories (`PartitionFilters` in
  *      the plan), so executor cost is O(candidates), not O(corpus);
  *   4. exact-scores through the same [[SimilarityQueries.ivfProbeTail]]
  *      the in-query path uses — the results are row-identical
  *      (hash-parity is a spec'd contract).
  *
  * Maintenance: for a plain corpus directory, refresh on change = rebuild
  * (the codebook memo's fingerprint detects staleness at train time). For
  * a TxnLog-maintained VECTOR TABLE, [[refresh]] ([[DerivedIndex]])
  * consumes the table's change data feed instead: inserted vectors assign
  * to their cells and append, removed vectors leave their cells, and only
  * the touched cell partitions rewrite — O(changes), the
  * incremental-maintenance shape a 100 TB index needs. The codebook stays
  * fixed across refreshes (standard IVF practice); [[refresh]] triggers a
  * full retraining rebuild when the accumulated drift passes its
  * threshold. */
object IvfIndex extends DerivedIndex("cells", "cell", "vec_id") {

  private def codebookDir(indexDir: String) = s"$indexDir/codebook"

  private val built = new CorpusMemo("embeddings", "graft-ivf-index")

  /** The index directory for the corpus at `d`, built once per corpus
    * state ([[CorpusMemo]]) and reused by every probe. */
  def ensureBuilt(s: SparkSession, d: String): String = built(s, d)(build(s, d, _))

  /** Train (or reuse the memoized) codebook for the corpus at `d` and
    * materialize the cell assignment under `indexDir`. Returns the number
    * of distinct cells written. */
  def build(s: SparkSession, d: String, indexDir: String): Long = {
    write(s, SimilarityQueries.quantized(s, d),
      SimilarityQueries.codebookRows(s, d), indexDir)
    FooterSchema.read(s, dataDir(indexDir)).select("cell").distinct().count()
  }

  /** Materialize the cell assignment of `q` against `rows` plus the
    * codebook itself under `indexDir`. */
  private def write(
      s: SparkSession, q: DataFrame, rows: Seq[(Long, Seq[Long])], indexDir: String): Unit = {
    assignTo(broadcast(SimilarityQueries.centroidsDf(s, rows)), q)
      .write.mode("overwrite").partitionBy("cell").parquet(dataDir(indexDir))
    import s.implicits._
    s.createDataset(rows).toDF("cid", "cqv")
      .coalesce(1).write.mode("overwrite").parquet(codebookDir(indexDir))
  }

  /** Nearest-centroid assignment of quantized vectors (`vec_id, qv, nrm`)
    * against a broadcast codebook: `(vec_id, cell, qv, nrm)` — the shared
    * math of [[build]], [[buildFromTable]], and [[refresh]] (one
    * assignment rule, or the incremental index would drift from a full
    * rebuild). */
  private[operators] def assignTo(cent: DataFrame, q: DataFrame): DataFrame = {
    // row_number window argmax (a max(struct) groupBy was measured and
    // rejected in r20 — struct-typed max buffers plan as SortAggregate,
    // no cheaper than the window and slower per row)
    val wAssign = Window.partitionBy(col("a.vec_id")).orderBy(desc("ccos"), col("cid"))
    q.as("a").join(cent)
      .withColumn("cdot", expr("graft_dot(a.qv, cqv)"))
      .withColumn("ccos", col("cdot").cast("double") /
        (sqrt(col("a.nrm").cast("double")) * sqrt(col("cnrm").cast("double"))))
      .withColumn("crk", row_number().over(wAssign))
      .filter(col("crk") === 1)
      .select(col("a.vec_id").as("vec_id"), col("cid").as("cell"),
        col("a.qv").as("qv"), col("a.nrm").as("nrm"))
  }

  // ------------------------------------------------- table-backed variant

  private def readCodebook(s: SparkSession, indexDir: String): Seq[(Long, Seq[Long])] =
    FooterSchema.read(s, codebookDir(indexDir)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toSeq.sortBy(_._1)

  /** Quantize vector-table rows (`vec_id`, `embedding`) with the exact
    * transform the directory path uses, so table- and dir-backed indexes
    * share one scoring domain. */
  private[operators] def quantizeRows(s: SparkSession, df: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    df.withColumn("qv",
        expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))"))
      .withColumn("nrm", expr("graft_dot(qv, qv)"))
      .select("vec_id", "qv", "nrm")
  }

  /** Build the index over a TxnLog-maintained vector table (snapshot-
    * isolated read), recording the table version it reflects so
    * [[refresh]] can tail the change feed from there. `codebook` pins the
    * coarse quantizer (refresh-vs-rebuild parity needs identical
    * centroids); None trains on the table's current contents. Returns the
    * number of cells written. */
  def buildFromTable(
      s: SparkSession,
      table: String,
      partCol: String,
      indexDir: String,
      codebook: Option[Seq[(Long, Seq[Long])]] = None): Long = {
    buildSnapshot(s, table, partCol, indexDir) { src =>
      val q = quantizeRows(s, src)
      write(s, q, codebook.getOrElse(SimilarityQueries.trainCentroidsOn(q)), indexDir)
    }
    FooterSchema.read(s, dataDir(indexDir)).select("cell").distinct().count()
  }

  protected def rebuild(
      s: SparkSession, table: String, partCol: String, indexDir: String,
      pinned: Boolean): Unit =
    buildFromTable(s, table, partCol, indexDir,
      if (pinned) scala.util.Try(readCodebook(s, indexDir)).toOption else None)

  /** Deleted/updated vectors leave the cells their OLD embeddings assigned
    * to (the feed's delete rows carry the full pre-image, so the old
    * assignment recomputes from the fixed codebook); net-inserted vectors
    * assign and land in theirs. Touched cells are bounded by the codebook
    * size K, never corpus-sized. */
  protected def delta(
      s: SparkSession, indexDir: String, d: DerivedIndex.Delta): (DataFrame, DataFrame) = {
    val cent = broadcast(SimilarityQueries.centroidsDf(s, readCodebook(s, indexDir)))
    val added = assignTo(cent, quantizeRows(s, d.inserted))
    (assignTo(cent, quantizeRows(s, d.removed)).select("cell")
      .union(added.select("cell")), added)
  }

  /** Top-5 ANN over the persisted index: row-identical with
    * [[SimilarityQueries.topkIvf]] on the same corpus (same codebook, same
    * nprobe + boundary margin, same exact-scoring tail). */
  def topk(s: SparkSession, d: String, indexDir: String): DataFrame =
    probed(s, d, indexDir)._1

  /** Top-5 over the index for an arbitrary probe frame (`vec_id, qv, nrm`)
    * — the entry point for table-backed indexes, whose probe vectors come
    * from the table itself rather than a corpus directory. */
  def topkFor(s: SparkSession, probes: DataFrame, indexDir: String): DataFrame =
    probedWith(s, probes, indexDir)._1

  /** Quantized probe rows (vec_id < 20, the shared probe set) of a vector
    * TABLE, for [[topkFor]]. */
  def tableProbes(s: SparkSession, table: String, partCol: String): DataFrame =
    quantizeRows(s, graft.batch.Upsert.readCommitted(s, table, partCol))
      .filter(col("vec_id") < 20)

  /** (top-5, pruned assignment read) — the second element exposes the
    * partition-pruned scan for plan probes. */
  private[graft] def probed(
      s: SparkSession, d: String, indexDir: String): (DataFrame, DataFrame) =
    probedWith(s,
      SimilarityQueries.quantized(s, d).filter(col("vec_id") < 20), indexDir)

  /** The cells each probe searches — top-[[SimilarityQueries.IvfNprobe]]
    * centroids plus the [[SimilarityQueries.IvfProbeMargin]] boundary
    * band, as `(query_id, cell, pqv, pnrm)`. Probe-side math only
    * (K×probes centroid dots, no corpus scan); shared by the plain IVF
    * probe and [[IvfPqIndex]]'s coarse stage so both search the exact
    * cells the oracle replays. */
  private[operators] def probeCellsFor(probes: DataFrame, cent: DataFrame): DataFrame = {
    val wAssign = Window.partitionBy(col("a.vec_id")).orderBy(desc("ccos"), col("cid"))
    val wBest = Window.partitionBy(col("a.vec_id"))
    probes.as("a").join(cent)
      .withColumn("cdot", expr("graft_dot(a.qv, cqv)"))
      .withColumn("ccos", col("cdot").cast("double") /
        (sqrt(col("a.nrm").cast("double")) * sqrt(col("cnrm").cast("double"))))
      .withColumn("crk", row_number().over(wAssign))
      .withColumn("cbest", max("ccos").over(wBest))
      .filter(col("crk") <= SimilarityQueries.IvfNprobe ||
        col("ccos") >= col("cbest") - lit(SimilarityQueries.IvfProbeMargin))
      .select(col("a.vec_id").as("query_id"), col("cid").as("cell"),
        col("a.qv").as("pqv"), col("a.nrm").as("pnrm"))
  }

  private[graft] def probedWith(
      s: SparkSession, probesIn: DataFrame, indexDir: String): (DataFrame, DataFrame) = {
    val cent = broadcast(SimilarityQueries.centroidsDf(s, readCodebook(s, indexDir)))
    // probe scoring: query vectors only — K×probes centroid dots, no corpus
    val probeCells = probeCellsFor(probesIn, cent)
    // probed cell ids: bounded by K (codebook size), NEVER corpus-sized —
    // this is the one collect, and it is what turns the index read into a
    // partition-pruned scan of only the probed cell directories
    val cellIds = probeCells.select("cell").distinct()
      .collect().map(_.getLong(0)).sorted
    val prunedAssign = FooterSchema.read(s, dataDir(indexDir))
      .filter(col("cell").isin(cellIds.map(Long.box): _*))
      .select(col("vec_id"), col("cell").cast("long").as("cell"),
        col("qv"), col("nrm"))
    val (top, _) = SimilarityQueries.ivfProbeTail(probeCells, prunedAssign)
    (top, prunedAssign)
  }
}
