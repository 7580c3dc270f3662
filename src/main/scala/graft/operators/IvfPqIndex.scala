package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.FooterSchema

/** Persisted IVF-PQ index — the composed large-scale ANN shape (FAISS
  * `IndexIVFPQ`): an IVF coarse quantizer prunes the SEARCH SPACE to the
  * probed cells, product-quantization codes compress what remains, and
  * only the fixed-size shortlist ever touches a raw vector.
  *
  * [[IvfIndex]] and [[PqIndex]] each argue one half of the 100 TB story —
  * cell-partition pruning (read O(probed cells), but full vectors inside
  * them) and compressed-domain scoring (read m small ints per row, but
  * over the WHOLE corpus). Composed, a probe batch reads m ints per row
  * of only the probed cells:
  *
  *   1. score the query vectors against the broadcast COARSE codebook —
  *      the same top-[[SimilarityQueries.IvfNprobe]]-plus-margin cell
  *      selection as the plain IVF probe ([[IvfIndex.probeCellsFor]]);
  *   2. read `codes/` partition-pruned to the probed cells (`cell=<cid>/`
  *      dirs — the probed CELL IDS are bounded by the codebook size,
  *      never the corpus);
  *   3. ADC-score those codes against the broadcast (probes × m × k)
  *      integer lookup table, restricted to each query's own probed
  *      cells; shortlist [[SimilarityQueries.PqShortlist]] per query;
  *   4. exact re-rank of the shortlist with full vectors, recall@5 vs the
  *      brute ground truth — [[SimilarityQueries.pqRecallFromScores]]'s
  *      unchanged tail.
  *
  * Every stage reuses the single-index building blocks (same coarse
  * trainer/memo as `sim_topk_ivf`, same sub-codebook trainer/encoder as
  * the PQ index, same probe-cell selection as the IVF index), so the
  * whole composition is replayed exactly by the DuckDB oracle
  * (`sim_topk_ivfpq_indexed`) — the recall COST of stacking two lossy
  * stages is measured, not assumed.
  *
  * Maintenance: the corpus-dir index rebuilds via the fingerprint memo
  * ([[ensureBuilt]]). For a TxnLog-maintained VECTOR TABLE,
  * [[refresh]]/[[sync]] run the single-index protocol ([[DerivedIndex]])
  * with BOTH quantizers pinned: removed/updated vectors leave
  * the coarse cells their old embeddings assigned to, net-inserted
  * vectors assign against the pinned coarse codebook and encode against
  * the pinned PQ codebook, and only the AFFECTED `cell=` partitions
  * rewrite. Refreshed state is therefore IDENTICAL to a rebuild
  * pinned to the same two codebooks (spec'd parity); accumulated drift
  * past the threshold retrains both quantizers via [[buildFromTable]] —
  * the index shape one would actually deploy at 100 TB now has the same
  * O(changes) maintenance story as its two parents. */
object IvfPqIndex extends DerivedIndex("codes", "cell", "vec_id") {

  import SimilarityQueries.{PqM, PqSub}

  private def coarseDir(indexDir: String) = s"$indexDir/coarse"
  private def pqDir(indexDir: String) = s"$indexDir/pq"

  private val built = new CorpusMemo("embeddings", "graft-ivfpq-index")

  /** The index directory for the corpus at `d`, built once per corpus
    * state ([[CorpusMemo]]) and reused by every probe. */
  def ensureBuilt(s: SparkSession, d: String): String = built(s, d)(build(s, d, _))

  /** Train both quantizers and materialize the cell-partitioned codes
    * table: coarse codebook = the memoized IVF trainer (identical to
    * `sim_topk_ivf`'s), sub-codebooks + codes = the PQ index's trainer/
    * encoder, cell assignment = [[IvfIndex.assignTo]]. Returns the number
    * of vectors encoded. */
  def build(s: SparkSession, d: String, indexDir: String): Long = {
    val q = SimilarityQueries.quantized(s, d)
    write(s, q, SimilarityQueries.codebookRows(s, d),
      PqIndex.codebookDf(s, PqIndex.trainCodebook(s, q)), indexDir)
    FooterSchema.read(s, dataDir(indexDir)).count()
  }

  /** Cell-assign `q` against the coarse codebook and encode it against
    * `cb` into the cell-partitioned codes table; persist both codebooks. */
  private def write(
      s: SparkSession, q: DataFrame, coarse: Seq[(Long, Seq[Long])], cb: DataFrame,
      indexDir: String): Unit = {
    codesOf(s, q, broadcast(SimilarityQueries.centroidsDf(s, coarse)), cb)
      .write.mode("overwrite").partitionBy("cell").parquet(dataDir(indexDir))
    import s.implicits._
    s.createDataset(coarse).toDF("cid", "cqv")
      .coalesce(1).write.mode("overwrite").parquet(coarseDir(indexDir))
    cb.coalesce(1).write.mode("overwrite").parquet(pqDir(indexDir))
  }

  /** `(vec_id, codes, cell)` rows of `q`: each vector's coarse cell
    * ([[IvfIndex.assignTo]]) and its PQ codes ([[PqIndex.encode]]). */
  private def codesOf(s: SparkSession, q: DataFrame, cent: DataFrame, cb: DataFrame): DataFrame =
    PqIndex.encode(s, cb, q).drop("bucket")
      .join(IvfIndex.assignTo(cent, q).select("vec_id", "cell"), "vec_id")
      .select("vec_id", "codes", "cell")

  /** IVF-PQ recall@5 through the persisted index (see object doc for the
    * four probe stages). */
  def recall(s: SparkSession, d: String, indexDir: String): DataFrame =
    probed(s, d, indexDir)._1

  // ------------------------------------------------- table-backed variant

  private def readCoarse(s: SparkSession, indexDir: String): Seq[(Long, Seq[Long])] =
    FooterSchema.read(s, coarseDir(indexDir)).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toSeq.sortBy(_._1)

  private def readPq(s: SparkSession, indexDir: String): Seq[(Int, Long, Seq[Long])] =
    FooterSchema.read(s, pqDir(indexDir)).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Long](2).toSeq)).toSeq
      .sortBy(t => (t._1, t._2))

  /** Build the composed index over a TxnLog-maintained vector table
    * (snapshot-isolated read), recording the table version so [[refresh]]
    * can tail the change feed from there. `coarse`/`pq` pin the two
    * quantizers (refresh-vs-rebuild parity needs identical centroids AND
    * identical sub-codebooks); None trains each on the table's current
    * contents. Returns vectors encoded. */
  def buildFromTable(
      s: SparkSession,
      table: String,
      partCol: String,
      indexDir: String,
      coarse: Option[Seq[(Long, Seq[Long])]] = None,
      pq: Option[Seq[(Int, Long, Seq[Long])]] = None): Long =
    buildSnapshot(s, table, partCol, indexDir) { src =>
      val q = IvfIndex.quantizeRows(s, src)
      write(s, q, coarse.getOrElse(SimilarityQueries.trainCentroidsOn(q)),
        PqIndex.codebookDf(s, pq.getOrElse(PqIndex.trainCodebook(s, q))), indexDir)
    }

  protected def rebuild(
      s: SparkSession, table: String, partCol: String, indexDir: String,
      pinned: Boolean): Unit =
    if (pinned)
      buildFromTable(s, table, partCol, indexDir,
        scala.util.Try(readCoarse(s, indexDir)).toOption,
        scala.util.Try(readPq(s, indexDir)).toOption)
    else buildFromTable(s, table, partCol, indexDir)

  /** Removed/updated vectors leave the coarse cells their OLD embeddings
    * assigned to (the feed's delete rows carry the full pre-image);
    * net-inserted vectors assign against the pinned coarse codebook and
    * encode against the pinned PQ codebook. Touched cells are bounded by
    * the coarse codebook size K, never the corpus. */
  protected def delta(
      s: SparkSession, indexDir: String, d: DerivedIndex.Delta): (DataFrame, DataFrame) = {
    val cent = broadcast(SimilarityQueries.centroidsDf(s, readCoarse(s, indexDir)))
    val qNew = IvfIndex.quantizeRows(s, d.inserted)
    def cells(q: DataFrame) = IvfIndex.assignTo(cent, q).select("cell")
    (cells(IvfIndex.quantizeRows(s, d.removed)).union(cells(qNew)),
      codesOf(s, qNew, cent, PqIndex.codebookDf(s, readPq(s, indexDir))))
  }

  /** (recall frame, pruned codes read, ADC scores) — the latter two
    * expose the partition-pruned scan and the compressed-domain scoring
    * stage for plan probes (the recall tail's own 20-row joins are free
    * to pick any strategy). */
  private[graft] def probed(
      s: SparkSession, d: String, indexDir: String): (DataFrame, DataFrame, DataFrame) =
    probedWith(s, SimilarityQueries.quantized(s, d), indexDir)

  /** Recall through the index for a TxnLog vector table — probe rows and
    * exact-re-rank ground truth both from the table's committed snapshot,
    * so a refreshed and a same-codebooks-rebuilt index can be compared
    * probe-for-probe. */
  def recallFromTable(
      s: SparkSession, table: String, partCol: String, indexDir: String): DataFrame =
    probedWith(s, IvfIndex.quantizeRows(s,
      graft.batch.Upsert.readCommitted(s, table, partCol)), indexDir)._1

  private[graft] def probedWith(
      s: SparkSession, q: DataFrame, indexDir: String): (DataFrame, DataFrame, DataFrame) = {
    graft.functions.GraftFunctions.register(s)
    val probes = q.filter(col("vec_id") < 20)
    // coarse stage: probe-side centroid math only, then the probed cell
    // ids — bounded by the coarse codebook size K, never the corpus
    val cent = broadcast(SimilarityQueries.centroidsDf(s, readCoarse(s, indexDir)))
    // one action materializes the (query, probed cell) pairs — bounded by
    // probes × coarse-K, never corpus-sized
    val pcRows = IvfIndex.probeCellsFor(probes, cent)
      .select("query_id", "cell")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val cellIds = pcRows.map(_._2).distinct.sorted
    // the codes read partition-prunes to the probed cell dirs
    val pruned = FooterSchema.read(s, dataDir(indexDir))
      .filter(col("cell").isin(cellIds.map(Long.box).toIndexedSeq: _*))
      .select(col("vec_id"), col("codes"), col("cell").cast("long").as("cell"))
    import s.implicits._
    val qc = broadcast(pcRows.toDF("query_id", "cell"))
    val cb = FooterSchema.read(s, pqDir(indexDir))
    // ADC over the pruned codes, each pair restricted to the query's OWN
    // probed cells (a neighbor lives in exactly one cell, so the inner
    // join is the candidate predicate, never a duplicator)
    val parts = (0 until PqM).map { j =>
      val subP = probes.select(col("vec_id"),
        expr(s"slice(qv, ${j * PqSub + 1}, $PqSub)").as("pqv"))
      val centJ = cb.filter(col("sub") === j).select("cid", "cqv")
      val lut = broadcast(subP.as("p").join(centJ)
        .select(col("p.vec_id").as("query_id"), col("cid"),
          expr("graft_dot(p.pqv, cqv)").as("pdot")))
      pruned.select(col("vec_id").as("neighbor_id"),
          col("codes").getItem(j).as("code"), col("cell"))
        .join(lut, col("code") === col("cid"))
        .join(qc, Seq("query_id", "cell"))
        .select(col("query_id"), col("neighbor_id"), col("pdot"))
    }
    val ascore = parts.reduce(_.unionByName(_))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy("query_id", "neighbor_id").agg(sum("pdot").as("adc"))
    (SimilarityQueries.pqRecallFromScores(s, q, ascore), pruned, ascore)
  }
}
