package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.FooterSchema

/** Persisted product-quantization index — the 100 TB shape of
  * [[SimilarityQueries.pqRecall]]'s compressed-domain ANN.
  *
  * The in-query PQ path re-trains the sub-codebooks and RE-ENCODES the
  * whole corpus on every run: fine at test scale, but encoding is a full
  * corpus scan × [[SimilarityQueries.PqM]] subspaces that no steady-state
  * probe should pay. This index materializes the two artifacts once:
  *
  *   - `codebook/` — the per-subspace codebooks, (sub, cid, cqv):
  *     [[SimilarityQueries.PqM]] × [[SimilarityQueries.PqK]] rows, KBs.
  *   - `codes/` — one row per corpus vector, (vec_id, codes[m]): the
  *     ~64-longs-to-m-small-ints compression that is the whole point of
  *     PQ. Hash-bucketed on `bucket = vec_id % NumBuckets` dirs, which
  *     buys nothing at probe time (ADC scans ALL codes — they are tiny)
  *     but bounds [[refresh]]'s rewrite to the buckets holding changed
  *     vectors.
  *
  * A probe batch then builds its (probes × m × k)-int ADC lookup table
  * from the BROADCAST codebook, joins it against the codes table, and
  * never touches a raw corpus vector until the fixed-size exact re-rank —
  * the deployed compressed-ANN shape (FAISS `IndexIVFPQ`-style search
  * split, minus the IVF coarse stage that [[IvfIndex]] covers separately).
  *
  * Trainer, encoder, and scoring reuse [[SimilarityQueries]]'s exact
  * expressions (same seeding, same argmax/tiebreak, same integer ADC), so
  * the indexed query is ROW-IDENTICAL to the in-query `sim_pq_recall`
  * pipeline and shares its DuckDB oracle — what the index changes is the
  * probe-time cost, not the answer.
  *
  * Maintenance: for a plain corpus directory the fingerprint memo
  * rebuilds on change; for a TxnLog-maintained vector table, [[refresh]]
  * ([[DerivedIndex]]) consumes the change data feed — deleted vectors'
  * codes leave their buckets, net-inserted vectors encode against the
  * PINNED codebook and land in theirs, and only the affected bucket
  * partitions rewrite: O(changes), with a drift threshold that forces a
  * retraining rebuild (a codebook trained long ago quantizes a drifted
  * corpus badly). */
object PqIndex extends DerivedIndex("codes", "bucket", "vec_id") {

  import SimilarityQueries.{PqM, PqSub, PqK}

  /** Refresh-rewrite granularity of the codes table. 16 buckets keeps a
    * small-change refresh to a few partition rewrites while a full build
    * still writes only 16 dirs. */
  private[operators] val NumBuckets = 16

  private def codebookDir(indexDir: String) = s"$indexDir/codebook"

  // ----------------------------------------------------------- memoized dir

  private val built = new CorpusMemo("embeddings", "graft-pq-index")

  /** The index directory for the corpus at `d`, built once per corpus
    * state ([[CorpusMemo]]) and reused by every probe. */
  def ensureBuilt(s: SparkSession, d: String): String = built(s, d)(build(s, d, _))

  // ------------------------------------------------------- build / encode

  /** Per-subspace codebooks for a quantized corpus — EXACTLY the in-query
    * trainer ([[SimilarityQueries.pqAdcScores]]'s per-j
    * `trainCentroidsOn(subQ, vec_id < PqK, iters = 0)`): the first
    * [[SimilarityQueries.PqK]] vectors' sub-slices, no Lloyd iterations.
    * Returns (sub, cid, cqv) rows. */
  private[operators] def trainCodebook(
      s: SparkSession, q: DataFrame): Seq[(Int, Long, Seq[Long])] =
    (0 until PqM).flatMap { j =>
      val subQ = q.select(col("vec_id"),
        expr(s"slice(qv, ${j * PqSub + 1}, $PqSub)").as("qv"))
      SimilarityQueries
        .trainCentroidsOn(subQ, col("vec_id") < PqK, iters = 0)
        .map { case (cid, cqv) => (j, cid, cqv) }
    }

  private[operators] def codebookDf(
      s: SparkSession, rows: Seq[(Int, Long, Seq[Long])]): DataFrame = {
    import s.implicits._
    s.createDataset(rows).toDF("sub", "cid", "cqv")
  }

  /** Encode every vector of `q` (`vec_id, qv`) against `cb` (broadcast):
    * per subspace, nearest sub-centroid by the in-query rule (argmax
    * cosine against the sub-slice, cid tiebreak), folded to one
    * codes-array row per vector — one shuffle on vec_id, corpus-side
    * joins all broadcast. */
  private[operators] def encode(s: SparkSession, cb: DataFrame, q: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val parts = (0 until PqM).map { j =>
      val subQ = q.select(col("vec_id"),
        expr(s"slice(qv, ${j * PqSub + 1}, $PqSub)").as("sqv"))
      val centJ = broadcast(cb.filter(col("sub") === j)
        .select(col("cid"), col("cqv"),
          expr("graft_dot(cqv, cqv)").as("cnrm")))
      val w = Window.partitionBy(col("a.vec_id")).orderBy(desc("sim"), col("cid"))
      subQ.as("a").join(centJ)
        .withColumn("sim", expr("graft_dot(a.sqv, cqv)").cast("double") /
          sqrt(col("cnrm").cast("double")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("a.vec_id").as("vec_id"), lit(j).as("sub"),
          col("cid").as("code"))
    }
    parts.reduce(_.unionByName(_))
      .groupBy("vec_id")
      .agg(expr(
        "transform(array_sort(collect_list(struct(sub, code))), x -> x.code)")
        .as("codes"))
      .withColumn("bucket", pmod(col("vec_id"), lit(NumBuckets.toLong)))
  }

  /** Train + encode the corpus directory at `d` into `indexDir`. Returns
    * the number of vectors encoded. */
  def build(s: SparkSession, d: String, indexDir: String): Long = {
    val q = SimilarityQueries.quantized(s, d)
    write(s, codebookDf(s, trainCodebook(s, q)), q, indexDir)
    FooterSchema.read(s, dataDir(indexDir)).count()
  }

  /** Encode `q` against `cb` into the bucketed codes table, and persist
    * `cb` beside it. */
  private def write(s: SparkSession, cb: DataFrame, q: DataFrame, indexDir: String): Unit = {
    encode(s, cb, q).write.mode("overwrite")
      .partitionBy("bucket").parquet(dataDir(indexDir))
    cb.coalesce(1).write.mode("overwrite").parquet(codebookDir(indexDir))
  }

  // --------------------------------------------------------------- probe

  /** Compressed-domain ADC scores of `probes` (`vec_id, qv`) against the
    * PERSISTED codes: per subspace, a broadcast (probes × k) integer
    * partial-dot lookup table joins the codes on the code id — the corpus
    * side reads m small ints per row and never a raw vector. Identical
    * arithmetic to [[SimilarityQueries.pqAdcScores]] (integer sub-dots
    * summed across subspaces), so downstream results hash-match the
    * in-query pipeline. */
  private[graft] def adcScores(
      s: SparkSession, probes: DataFrame, indexDir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val cb = FooterSchema.read(s, codebookDir(indexDir))
    val codes = FooterSchema.read(s, dataDir(indexDir))
    val parts = (0 until PqM).map { j =>
      val subP = probes.select(col("vec_id"),
        expr(s"slice(qv, ${j * PqSub + 1}, $PqSub)").as("pqv"))
      val centJ = cb.filter(col("sub") === j).select("cid", "cqv")
      val lut = broadcast(subP.as("p").join(centJ)
        .select(col("p.vec_id").as("query_id"), col("cid"),
          expr("graft_dot(p.pqv, cqv)").as("pdot")))
      codes.select(col("vec_id").as("neighbor_id"),
          col("codes").getItem(j).as("code"))
        .join(lut, col("code") === col("cid"))
        .select(col("query_id"), col("neighbor_id"), col("pdot"))
    }
    parts.reduce(_.unionByName(_))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy("query_id", "neighbor_id").agg(sum("pdot").as("adc"))
  }

  /** PQ recall@5 through the persisted index: ADC shortlist from the
    * codes table, exact re-rank with full vectors, recall vs brute ground
    * truth — row-identical with [[SimilarityQueries.pqRecall]] on the
    * same corpus (shared trainer/encoder/scoring), so the two share one
    * DuckDB oracle; what the index adds is the probe-time shape (no
    * retrain, no re-encode). */
  def recall(s: SparkSession, d: String, indexDir: String): DataFrame = {
    val q = SimilarityQueries.quantized(s, d)
    SimilarityQueries.pqRecallFromScores(s, q,
      adcScores(s, q.filter(col("vec_id") < 20), indexDir))
  }

  // ------------------------------------------------- table-backed variant

  private def readCodebook(s: SparkSession, indexDir: String): Seq[(Int, Long, Seq[Long])] =
    FooterSchema.read(s, codebookDir(indexDir)).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Long](2).toSeq)).toSeq
      .sortBy(t => (t._1, t._2))

  /** Build the index over a TxnLog-maintained vector table
    * (snapshot-isolated read), recording the table version so [[refresh]]
    * can tail the change feed from there. `codebook` pins the quantizer
    * (refresh-vs-rebuild parity needs identical sub-centroids); None
    * trains on the table's current contents. Returns vectors encoded. */
  def buildFromTable(
      s: SparkSession,
      table: String,
      partCol: String,
      indexDir: String,
      codebook: Option[Seq[(Int, Long, Seq[Long])]] = None): Long =
    buildSnapshot(s, table, partCol, indexDir) { src =>
      val q = IvfIndex.quantizeRows(s, src)
      write(s, codebookDf(s, codebook.getOrElse(trainCodebook(s, q))), q, indexDir)
    }

  protected def rebuild(
      s: SparkSession, table: String, partCol: String, indexDir: String,
      pinned: Boolean): Unit =
    buildFromTable(s, table, partCol, indexDir,
      if (pinned) scala.util.Try(readCodebook(s, indexDir)).toOption else None)

  /** Net-inserted vectors encode against the pinned codebook; the touched
    * buckets are the hash homes of every changed id (a vector's old and
    * new codes share its bucket — `vec_id` is the key), bounded by
    * [[NumBuckets]]. */
  protected def delta(
      s: SparkSession, indexDir: String, d: DerivedIndex.Delta): (DataFrame, DataFrame) =
    (d.changedIds.select(pmod(col("vec_id"), lit(NumBuckets.toLong))),
      encode(s, codebookDf(s, readCodebook(s, indexDir)), IvfIndex.quantizeRows(s, d.inserted)))
}
