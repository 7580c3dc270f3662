package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.FooterSchema

/** Persisted MinHash-LSH band index — the 100 TB shape of
  * [[DedupQueries.incrementalScreen]]'s corpus side.
  *
  * The in-query screen recomputes the EXISTING corpus's band table on
  * every batch: fine at test scale, but at 100 TB that is a full corpus
  * re-shingle+re-hash no daily ingest should pay. This index materializes
  * the corpus band table ONCE — `(doc_id, band)` rows, `B` per document,
  * ~33 bytes each regardless of document length — as parquet PARTITIONED
  * BY THE BAND HASH PREFIX (`bp=<2 hex chars>`, 256 dirs). Screening a
  * batch then:
  *
  *   1. shingles + signs only the BATCH (narrow, codegen'd — the corpus
  *      is never re-read for candidates);
  *   2. equi-joins batch bands against the index on (bp, band) — with a
  *      small batch, dynamic partition pruning admits only the prefixes
  *      the batch's bands actually hash to;
  *   3. re-reads ONLY the candidate partner documents from the source
  *      table (semi-join on doc_id) and exact-Jaccard verifies — the
  *      index stores no shingles (shingle storage would be corpus-sized;
  *      candidate partners are a vanishing fraction, re-shingling them
  *      costs O(candidates)).
  *
  * Verified screen output is row-identical to computing both sides
  * in-query ([[DedupQueries.incrementalScreen]] semantics — spec'd
  * parity). Maintenance: [[refresh]] ([[DerivedIndex]]) consumes the
  * source table's change data feed — removed documents' bands leave,
  * net-inserted documents' bands land, and only the AFFECTED prefix
  * partitions rewrite (O(changed docs × B) band rows spread over
  * ≤ min(256, changes×B) prefixes), vs [[buildFromTable]]'s O(corpus).
  * Unlike the ANN indexes there is NO trained state (bands are a pure
  * per-document function), so refresh equals rebuild EXACTLY at every
  * version — no drift threshold, no retrain path. */
object DedupIndex extends DerivedIndex("bands", "bp", "doc_id", countField = "docs") {

  /** `(doc_id, band, bp)` of any frame carrying `doc_id` + `text` — the
    * one banding rule every path shares (build, refresh, screen probe),
    * or the incremental index would drift from a rebuild. Shingle-less
    * documents (<3 tokens) have NULL signatures and therefore NULL bands;
    * a NULL band can never match a band equi-join, so those rows are
    * dropped HERE — persisting them would land in the Hive default
    * partition while [[refresh]]'s per-prefix swap addresses literal
    * `bp=<hex>` dirs (and a null prefix would NPE the String sort),
    * breaking refresh ≡ rebuild on legal short documents. */
  private def bandRows(df: DataFrame): DataFrame =
    DedupQueries.bandsOf(DedupQueries.signedOf(DedupQueries.shingleOf(df)))
      .filter(col("band").isNotNull)
      .withColumn("bp", substring(col("band"), 1, 2))

  /** Build the band index over a TxnLog-maintained documents table
    * (snapshot-isolated read), recording the table version it reflects so
    * [[refresh]] can tail the change feed from there. Returns the number
    * of documents indexed. */
  def buildFromTable(
      s: SparkSession,
      table: String,
      partCol: String,
      indexDir: String): Long =
    buildSnapshot(s, table, partCol, indexDir) { docs =>
      bandRows(docs).select("doc_id", "band", "bp")
        .write.mode("overwrite").partitionBy("bp").parquet(dataDir(indexDir))
    }

  /** Bands are a pure per-document function: no state to pin or retrain. */
  override protected def trained: Boolean = false

  protected def rebuild(
      s: SparkSession, table: String, partCol: String, indexDir: String,
      pinned: Boolean): Unit =
    buildFromTable(s, table, partCol, indexDir)

  /** Net-inserted documents' bands land; the touched prefixes are the
    * changed documents' OLD homes, read from the sidecar (the text may be
    * gone, so they cannot be recomputed), plus the new bands' homes. */
  protected def delta(
      s: SparkSession, indexDir: String, d: DerivedIndex.Delta): (DataFrame, DataFrame) = {
    val added = bandRows(d.inserted).select("doc_id", "band", "bp")
    (d.live.join(d.changedIds, Seq("doc_id"), "left_semi").select("bp")
      .union(added.select("bp")), added)
  }

  /** Screen a batch of new documents (`doc_id`, `text`) against the
    * indexed corpus: verified near-dup pairs `(new_id, old_id, jaccard)`
    * with exact Jaccard ≥ `threshold`. Batch-internal duplicates are out
    * of contract (run [[DedupQueries.minhashPairs]] scoped to the batch
    * first); a batch doc_id also present in the corpus never self-pairs.
    * Candidate discovery never touches corpus text — only the band
    * sidecar; verification re-reads exactly the candidate partner rows
    * from the source table. */
  def screen(
      s: SparkSession,
      table: String,
      partCol: String,
      indexDir: String,
      batch: DataFrame,
      threshold: Double = 0.8): DataFrame = {
    // No cache: screen runs per micro-batch in the streaming pattern, and
    // a cached frame kept alive by the returned plan would accumulate
    // blocks for the session lifetime. The verify side needs only the
    // shingles (no md5 signing), so re-shingling the batch for it costs
    // O(batch tokenization) — trivial next to the candidate join it feeds.
    val bBands = bandRows(batch)
    val idx = FooterSchema.read(s, dataDir(indexDir))
    val cand = bBands.as("x").join(idx.as("y"),
        col("x.bp") === col("y.bp") && col("x.band") === col("y.band") &&
          col("x.doc_id") =!= col("y.doc_id"))
      .select(col("x.doc_id").as("new_id"), col("y.doc_id").as("old_id"))
      .distinct()
    val partners = graft.batch.Upsert.readCommitted(s, table, partCol)
      .join(cand.select(col("old_id").as("doc_id")).distinct(), Seq("doc_id"),
        "left_semi")
    val po = DedupQueries.shingleOf(partners)
      .select(col("doc_id").as("old_id"), col("sh").as("sh_o"))
    val pn = DedupQueries.shingleOf(batch)
      .select(col("doc_id").as("new_id"), col("sh").as("sh_n"))
    cand.join(pn, "new_id").join(po, "old_id")
      .withColumn("jaccard",
        size(array_intersect(col("sh_n"), col("sh_o"))).cast("double") /
          size(array_union(col("sh_n"), col("sh_o"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("new_id", "old_id", "jaccard")
  }
}
