package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryModule
import graft.core.Tables

/** Approximate-nearest-neighbor surface over the `embeddings` table
  * (`Array[Float]`, 64-dim):
  *
  *   - brute-force cosine top-k — the exactness baseline,
  *   - sign-random-projection LSH top-k — the 100 TB path: an 8-bit bucket
  *     from deterministic pseudo-random hyperplanes turns the O(n·m) scan
  *     into an equi-join on bucket id (candidates ≈ n·m/256),
  *   - cosine range search (threshold variant).
  *
  * All cosines use the exact integer quantization from
  * [[DedupQueries]] (floor(x*1000)): sums are exact longs, so the final
  * double math is bit-identical across engines and under any partitioning.
  * Hyperplane weights are a deterministic LCG of (plane, dim) — the same
  * arithmetic runs in the DuckDB oracle, so bucket assignment is
  * hash-checked too.
  *
  * Scale notes: probes are broadcast (small batch vs corpus); the LSH
  * variant shuffles on the 256-value bucket key — with uniform md5-free
  * buckets from random projections, AQE evens out residual skew. Top-k uses
  * a per-query `row_number` window AFTER the candidate join, whose partition
  * key (query id) has probe-batch cardinality — never a global sort.
  */
object SimilarityQueries extends QueryModule {

  /** Hyperplane count per LSH table. Measured on the sf0.01 corpus
    * (which is near-random — best neighbor cosine ≈0.51 ⇒ angle ≈59°):
    * planes=3 → recall@5 0.27 scanning 15% of corpus; 4 → 0.20 @ 10%;
    * 5 → 0.14 @ 5%; 8 → 0.06 @ <1%. Angular LSH is inherently weak when
    * "neighbors" are nearly orthogonal; on real clustered embeddings the
    * same construction's recall rises steeply (neighbors at cosine ≥0.9
    * collide with p=(1-θ/π)^planes ≈ 0.87 for 4 planes). Multi-table
    * OR-amplification (union of L independent tables) is the standard
    * recall knob and composes from this same bucket expression —
    * measured on this corpus by `sim_lsh_recall`: mean recall@5 0.20
    * (single table) → 0.44 (L=4, ~25% of the all-pairs scan) → 0.62
    * (L=8, ~37%); the knob follows the 1-(1-r)^L amplification curve.
    * On SEPARABLE data the same construction is near-perfect —
    * `sim_clustered_recall` measures 0.75 → 1.00 → 1.00 at L=1/4/8 on the
    * in-query mixture corpus ([[clustered]]) — confirming the 0.62 floor
    * here is the corpus's near-orthogonal geometry, not the operator. */
  private val Planes = 4

  /** Quantized vectors + exact squared norm. Dot products use the native
    * codegen'd [[graft.functions.QuantizedDot]] — measured 15-20x faster
    * than the equivalent `aggregate(zip_with(...))` higher-order plan on
    * 2.5M pair x 64-dim workloads (same exact values). */
  private[graft] def quantized(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    Tables.embeddings(s, d)
      .withColumn("qv", expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))"))
      .withColumn("nrm", expr("graft_dot(qv, qv)"))
      .select("vec_id", "label", "qv", "nrm")
  }

  /** The embedding dimensionality contract every SRP weight literal (and
    * the oracle's `p*64 + i` LCG stride) is sized to. A corpus with MORE
    * dims would be silently truncated by graft_dot's min-length loop —
    * changing buckets with no error — so any dim change must update this
    * constant AND the oracle SQL together (the `% 2001` LCG replay bakes
    * the same 64 stride). */
  private[operators] val Dims = 64

  /** Deterministic LCG hyperplane weight for (plane p, dim i), in ±1000 —
    * evaluated driver-side in Long arithmetic, value-identical to the
    * oracle's SQL replay `((1103515245 * (p*64 + i) + 12345) % 2001) - 1000`
    * for every (plane, dim). */
  private def weightOf(p: Int, i: Int): Long =
    ((1103515245L * (p * Dims + i) + 12345L) % 2001L) - 1000L

  /** Plane p's [[Dims]] weights as an `array(...)` literal for
    * [[QuantizedDot]]. graft_dot's min-length loop reproduces the
    * zip_with-over-sequence sum exactly for any vector of ≤ [[Dims]]
    * dims; see [[Dims]] for the >Dims truncation hazard. */
  private def weightsLit(p: Int): String =
    (0 until Dims).map(i => s"${weightOf(p, i)}L")
      .mkString("array(", ", ", ")")

  /** Independent LSH tables for OR-amplification (multi-table union).
    * Every consumer — the Spark bucket expressions, the DuckDB oracle SQL,
    * and the embedding-cluster candidate source — derives from this one
    * constant, so turning the knob re-synchronizes all of them. */
  private val LshTables = 8

  /** Sign-random-projection bucket for table `t` (planes t·Planes …
    * t·Planes+Planes-1, so tables use disjoint hyperplane sets).
    *
    * The per-plane dot product runs through the codegen'd
    * [[graft.functions.QuantizedDot]] against a LITERAL weight array
    * (the LCG is a pure function of (plane, dim), so the weights fold at
    * plan build): the previous `aggregate(zip_with(.., sequence(..)))`
    * form allocated a fresh index sequence plus a zipped array and
    * evaluated two lambdas per element, per plane, per row — 32× per row
    * under the 8-table family. Bucket values are bit-identical (same LCG,
    * same Long math), so the DuckDB oracle replay is unchanged. */
  private def bucketExprFor(t: Int): String =
    (0 until Planes).map { j =>
      val p = t * Planes + j
      s"""((CASE WHEN graft_dot(qv, ${weightsLit(p)}) > 0
             THEN 1 ELSE 0 END) << $j)"""
    }.mkString(" + ")

  /** Single-table bucket (= table 0 of the multi-table family). */
  private def bucketExpr: String = bucketExprFor(0)

  /** (vec_id, table, bucket) — one row per vector per table. */
  private[operators] def multiBuckets(q: DataFrame): DataFrame =
    q.withColumn("tb", explode(array((0 until LshTables).map(t =>
        struct(lit(t).as("t"), expr(bucketExprFor(t)).as("b"))): _*)))
      .select(col("vec_id"), col("tb.t").as("t"), col("tb.b").as("b"))

  private def cosine = col("dot").cast("double") /
    (sqrt(col("a.nrm").cast("double")) * sqrt(col("b.nrm").cast("double")))

  /** Brute-force cosine top-5 per probe (vec_id < 20). */
  def topkBrute(s: SparkSession, d: String): DataFrame = {
    val q = quantized(s, d)
    val probes = q.filter(col("vec_id") < 20)
    val w = Window.partitionBy(col("a.vec_id")).orderBy(desc("cosine"), col("b.vec_id"))
    probes.as("a")
      .join(q.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .withColumn("dot", expr("graft_dot(a.qv, b.qv)"))
      .withColumn("cosine", cosine)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("neighbor_id"),
        col("cosine"), col("rank"))
  }

  /** FILTERED top-5 — metadata-constrained ANN, the shape every deployed
    * vector system serves ("top-k among rows WHERE …"): the corpus
    * PRE-filters on the predicate before any distance math. Pre-filtering
    * is the correct default — post-filtering a plain top-k under-fills
    * whenever the predicate is selective (k survivors of 5 is luck, not a
    * contract) — and it is also the 100 TB plan: the predicate rides the
    * same scan that feeds the distance calc, so parquet pushdown /
    * partition dirs / stats-bloom sidecars cut BOTH the IO and the
    * O(probes × corpus) dot products by the selectivity factor. Composes
    * unchanged with the bucketed/indexed variants (filter the candidate
    * side before scoring). */
  def topkFiltered(s: SparkSession, d: String): DataFrame = {
    val q = quantized(s, d)
    val probes = q.filter(col("vec_id") < 20)
    val corpus = q.filter(col("label") % 2 === 1)
    val w = Window.partitionBy(col("a.vec_id")).orderBy(desc("cosine"), col("b.vec_id"))
    probes.as("a")
      .join(corpus.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .withColumn("dot", expr("graft_dot(a.qv, b.qv)"))
      .withColumn("cosine", cosine)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("neighbor_id"),
        col("b.label").as("neighbor_label"), col("cosine"), col("rank"))
  }

  /** LSH top-5: candidates restricted to the probe's bucket. */
  def topkLsh(s: SparkSession, d: String): DataFrame = {
    val q = quantized(s, d).withColumn("bucket", expr(bucketExpr))
    val probes = q.filter(col("vec_id") < 20)
    val w = Window.partitionBy(col("a.vec_id")).orderBy(desc("cosine"), col("b.vec_id"))
    probes.as("a")
      .join(q.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") =!= col("b.vec_id"))
      .withColumn("dot", expr("graft_dot(a.qv, b.qv)"))
      .withColumn("cosine", cosine)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("neighbor_id"),
        col("a.bucket").cast("long").as("bucket"), col("cosine"), col("rank"))
  }

  /** Range search: per probe, how many corpus vectors lie within cosine
    * ≥ 0.3, and the best match. */
  def rangeCount(s: SparkSession, d: String): DataFrame = {
    val q = quantized(s, d)
    val probes = q.filter(col("vec_id") < 20)
    probes.as("a")
      .join(q.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .withColumn("dot", expr("graft_dot(a.qv, b.qv)"))
      .withColumn("cosine", cosine)
      .groupBy(col("a.vec_id").as("query_id"))
      .agg(
        sum(when(col("cosine") >= 0.3, 1).otherwise(0)).as("n_in_range"),
        max(col("cosine")).as("best_cosine"))
  }

  /** Spherical k-means coarse quantizer for IVF: the modulo subset
    * (vec_id % 51 == 3, ≈2% of the corpus) seeds the centroids, then
    * [[IvfIters]] Lloyd iterations refine them. The stride is COPRIME to
    * the 10-component mixture geometry of the [[clustered]] corpus on
    * purpose: a multiple-of-10 stride seeds every centroid from ONE
    * component (all ids ≡ 3 mod 10), which Lloyd recovers from at 2k
    * vectors but not at 20k — measured 42% candidate scan at 10× vs ~7%
    * with coprime seeding, identical recall. Centroids are kept as
    * elementwise integer SUM vectors, never means — cosine is
    * scale-invariant, so argmax cos(x, Σ) = argmax cos(x, Σ/|cell|), and
    * integer sums keep every similarity a deterministic double of exact
    * longs (the property that lets DuckDB replay the whole loop for the
    * hash-compare; float centroid means would drift across engines).
    *
    * Per iteration: one broadcast-centroids scoring pass (K small) + a
    * (cell, dim) partial-sum shuffle with map-side combine — both scale
    * linearly in corpus size at 100 TB. Assignment tiebreak is centroid id
    * on equal similarity, so the result is partitioning-independent. Empty
    * cells drop out (both engines agree). */
  /** Measured on sf0.01 (500 vectors, 10 cells): at equal candidate scan,
    * k-means beats the raw modulo subset at every nprobe (e.g. 0.84 → 0.92
    * recall@5 at nprobe=6, T=3), and T=3/nprobe=6 scans ~10% FEWER
    * candidates than the previous 3-cell/nprobe=2 configuration while
    * lifting mean recall@5 0.89 → 0.92. */
  private val IvfIters = 3
  private[operators] val IvfNprobe = 6
  /** Multi-probe boundary margin: cells whose centroid cosine is within
    * this of the query's best cell are probed in ADDITION to the
    * [[IvfNprobe]] nearest (see [[topkIvfWithMargin]]). Value tuned by
    * measurement — see the round-8 entry in BASELINE.md. */
  private[graft] val IvfProbeMargin = 0.05
  /** Lean fixed nprobe for the SEPARABLE corpus evaluation
    * ([[ivfClusteredRecall]]): on clustered data the margin term adaptively
    * pulls in the sibling cells of the query's own cluster, so the fixed
    * floor can be far below [[IvfNprobe]] — that is the scan saving
    * multi-probe exists for. Measured at sf0.1 (n=2000, 40 cells):
    * nprobe=1 alone → recall@5 0.84 at 7.8% scan; nprobe=1 + the 0.05
    * margin → recall@5 1.00 at 9.9% scan. The margin contributes the whole
    * +0.16 for ~2% extra scan — vs nprobe=6 fixed (no margin) needing ~37%
    * scan for the same recall. */
  private[graft] val IvfClusteredNprobe = 1

  /** Trained codebook memo, per (session, dir), keyed on a CORPUS
    * FINGERPRINT. An IVF coarse quantizer is trained ONCE and reused by
    * every probe batch — the production shape — and the codebook is
    * inherently driver-sized (K centroids × 64 longs, ~50 KB at sf0.1),
    * unlike the corpus, which is never collected or cached. Deterministic
    * k-means ⇒ the memo cannot change any answer. Weak session keys so a
    * restarted session in a long-lived JVM is not pinned.
    *
    * The fingerprint is the corpus parquet files' sorted
    * (path, length, modTime) — O(files) driver metadata. A corpus dir
    * rewritten in place therefore invalidates its memo and the next IVF
    * query RETRAINS, instead of scanning new vectors against stale
    * centroids (immutable-snapshot dirs, the normal layout at scale, hit
    * the memo every time). [[invalidateCodebook]] remains for callers that
    * want to force a retrain. */
  private val codebooks =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, Map[String, (String, Seq[(Long, Seq[Long])])]]())

  /** Drop the trained codebook for `dir` (all dirs if None) so the next IVF
    * query retrains against the current corpus contents. */
  def invalidateCodebook(s: SparkSession, dir: Option[String] = None): Unit =
    codebooks.synchronized {
      val m = Option(codebooks.get(s)).getOrElse(Map.empty)
      codebooks.put(s, dir.fold(Map.empty[String, (String, Seq[(Long, Seq[Long])])])(
        d => m.view.filterKeys(k => k != d && !k.startsWith(s"$d#")).toMap))
    }

  /** The memoized codebook rows for `d`, training if absent or if the
    * corpus fingerprint changed (package-visible for the retrain spec). */
  private[graft] def codebookRows(
      s: SparkSession, d: String,
      variant: String = "plain"): Seq[(Long, Seq[Long])] = {
    val fp = CorpusMemo.fingerprint(s, d, "embeddings")
    val key = s"$d#$variant"
    codebooks.synchronized {
      val m = Option(codebooks.get(s)).getOrElse(Map.empty)
      m.get(key) match {
        case Some((oldFp, rows)) if oldFp == fp => rows
        case _ =>
          val corpus =
            if (variant == "clustered") clustered(s, d) else quantized(s, d)
          val trained = trainCentroidsOn(corpus)
          codebooks.put(s, m.updated(key, (fp, trained)))
          trained
      }
    }
  }

  private[operators] def centroidsDf(s: SparkSession, rows: Seq[(Long, Seq[Long])]): DataFrame = {
    import s.implicits._
    s.createDataset(rows).toDF("cid", "cqv")
      .withColumn("cnrm", expr("graft_dot(cqv, cqv)"))
  }

  private def ivfCentroids(s: SparkSession, d: String): DataFrame =
    centroidsDf(s, codebookRows(s, d))

  private[operators] def trainCentroidsOn(
      q: DataFrame,
      seedWhere: org.apache.spark.sql.Column = col("vec_id") % 51 === 3,
      iters: Int = IvfIters): Seq[(Long, Seq[Long])] = {
    // The quantized corpus is NOT cached on purpose: measured (sf0.1,
    // 3-run medians) to buy nothing — the build cost is the per-iteration
    // window/partial-sum shuffles, not the trivial re-scans — and a
    // corpus-sized cache is exactly what must not exist at 100 TB.
    var cent = q.filter(seedWhere)
      .select(col("vec_id").as("cid"), col("qv").as("cqv"))
    for (_ <- 0 until iters) {
      val c = broadcast(cent.withColumn("cnrm", expr("graft_dot(cqv, cqv)")))
      val w = Window.partitionBy(col("a.vec_id")).orderBy(desc("sim"), col("cid"))
      val assign = q.select("vec_id", "qv").as("a").join(c)
        // |x| omitted: constant per vector, argmax/tie order unaffected —
        // and the oracle SQL uses the identical expression.
        .withColumn("sim", expr("graft_dot(a.qv, cqv)").cast("double") /
          sqrt(col("cnrm").cast("double")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
      cent = assign
        .select(col("cid"), posexplode(col("qv")))
        .groupBy(col("cid"), col("pos"))
        .agg(sum("col").as("sv"))
        .groupBy("cid")
        .agg(expr("transform(array_sort(collect_list(struct(pos, sv))), x -> x.sv)")
          .as("cqv"))
    }
    cent.collect().toSeq
      .map(r => r.getLong(0) -> r.getSeq[Long](1))
      .sortBy(_._1)
  }

  /** IVF (inverted-file) top-5: the other standard ANN scale path next to
    * LSH. Coarse quantizer = seeded k-means ([[ivfCentroids]]); every
    * vector is assigned to its best centroid (argmax cosine, centroid-id
    * tiebreak); probes search only their [[IvfNprobe]] nearest cells. Build cost
    * is one broadcast corpus × centroids pass per Lloyd iteration
    * (embarrassingly parallel); query cost drops from O(n) to
    * O(n·nprobe/C). At 100 TB the assignment table would be written
    * bucketed by cell so probe lookups prune to the cells' buckets. */
  def topkIvf(s: SparkSession, d: String): DataFrame =
    topkIvfWithMargin(s, d, IvfProbeMargin)._1

  /** Filtered ANN through the IVF probe — [[topkFiltered]]'s predicate
    * composed with cell pruning: candidates restricted to `label % 2 = 1`
    * AFTER assignment, so the scan reads only matching rows of only
    * probed cells (selectivity × cell fraction of the corpus), while the
    * trained geometry stays predicate-independent. */
  def topkIvfFiltered(s: SparkSession, d: String): DataFrame =
    ivfProbeCore(quantized(s, d), broadcast(ivfCentroids(s, d)),
      IvfNprobe, IvfProbeMargin, col("a.label") % 2 === 1)._1

  private[graft] def topkIvfWithMargin(
      s: SparkSession, d: String, margin: Double): (DataFrame, DataFrame) =
    ivfProbeCore(quantized(s, d), broadcast(ivfCentroids(s, d)), IvfNprobe, margin)

  /** Shared IVF probe core over any (vec_id, qv, nrm) corpus and trained
    * centroid set, (nprobe, margin)-parameterized for the recall/scan
    * trade-off measurements. Returns (top-5, candidate set) — the candidate
    * set sizes the scan fraction. `candidateFilter` (over the corpus
    * alias `a`) restricts the CANDIDATE side only — filtered ANN: cell
    * training and probe-cell selection see the full corpus (the geometry
    * must not shift with the predicate), excluded rows are simply never
    * scanned or scored. */
  private[graft] def ivfProbeCore(
      q: DataFrame, cent: DataFrame,
      nprobe: Int, margin: Double,
      candidateFilter: Column = lit(true)): (DataFrame, DataFrame) = {
    val scored = q.as("a").join(cent)
      .withColumn("cdot", expr("graft_dot(a.qv, cqv)"))
      .withColumn("ccos", col("cdot").cast("double") /
        (sqrt(col("a.nrm").cast("double")) * sqrt(col("cnrm").cast("double"))))
    // Measured and rejected (r20), two variants: (1) argmax via
    // max(struct(...)) groupBy — struct-typed max buffers are not
    // hash-aggregable, so it planned a SortAggregate over the same
    // product; (2) splitting assign / probeCells into separately-filtered
    // window subtrees — it broke ReuseExchange of the shared `ranked`
    // frame, so the scoring+window ran twice (the IVF family regressed
    // ~0.1–0.4 s each at sf0.1 under both). The shared-ranked form
    // stands.
    val wAssign = Window.partitionBy(col("a.vec_id")).orderBy(desc("ccos"), col("cid"))
    val wBest = Window.partitionBy(col("a.vec_id"))
    // multi-probe: the fixed nprobe-nearest cells PLUS every boundary cell
    // whose centroid similarity sits within `margin` of the query's best —
    // a query near a Voronoi boundary probes the cells on both sides of it
    // (where its true neighbors hide), while a query deep inside one cell
    // pays nothing extra. The recall lift is concentrated exactly on the
    // queries the fixed-nprobe scheme fails.
    val ranked = scored.withColumn("crk", row_number().over(wAssign))
      .withColumn("cbest", max("ccos").over(wBest))
    val assign = ranked.filter(col("crk") === 1 && candidateFilter)
      .select(col("a.vec_id").as("vec_id"), col("cid").as("cell"),
        col("a.qv").as("qv"), col("a.nrm").as("nrm"))
    val probeCells = ranked.filter(col("a.vec_id") < 20 &&
        (col("crk") <= nprobe || col("ccos") >= col("cbest") - lit(margin)))
      .select(col("a.vec_id").as("query_id"), col("cid").as("cell"),
        col("a.qv").as("pqv"), col("a.nrm").as("pnrm"))
    ivfProbeTail(probeCells, assign)
  }

  /** Every corpus vector assigned to its nearest trained IVF cell (argmax
    * of the |x|-free cosine — |x| constant per vector, argmax unaffected —
    * cid tiebreak): the clustering front end SemDeDup-style dedup and
    * cluster-balanced sampling share. One broadcast centroids × corpus
    * pass, embarrassingly parallel; no shuffle until the consumer's own
    * rollup. At 100 TB this assignment is the persisted cell-partitioned
    * table the IVF index already maintains ([[IvfIndex]]) — consumers
    * would read it bucketed by `cid` instead of recomputing. */
  private[operators] def assignedToCells(s: SparkSession, d: String): DataFrame = {
    val q = quantized(s, d)
    val cent = broadcast(ivfCentroids(s, d))
    // Measured and rejected (r20): argmax via max(struct(csim, -cid, qv,
    // nrm)) groupBy — a struct-typed max buffer is not hash-aggregable,
    // so Spark planned a SortAggregate over the same corpus × centroids
    // product the window sorts, plus per-row struct comparisons (the IVF
    // family regressed ~0.1–0.4 s each at sf0.1). The window stands.
    val w = Window.partitionBy(col("a.vec_id")).orderBy(desc("csim"), col("cid"))
    q.as("a").join(cent)
      .withColumn("csim", expr("graft_dot(a.qv, cqv)").cast("double") /
        sqrt(col("cnrm").cast("double")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("a.vec_id").as("vec_id"), col("cid"),
        col("a.qv").as("qv"), col("a.nrm").as("nrm"))
  }

  /** Cluster-balanced down-sampling (the D4-style curation stage after
    * semantic dedup: over-dense regions of embedding space must not
    * dominate the training mix). Every trained IVF cell is sampled toward
    * a uniform per-cell target of [[ClusterSampleTarget]] vectors:
    * rate = min(1, target/|cell|), accept = deterministic 16-bit md5 of
    * the vec id under the rate threshold (the txt_source_mix discipline —
    * stable across runs/engines, no RNG state, pure projection per row).
    * Per-cell report: size, rate, sampled count. Scale shape: one
    * assignment pass + a |cells|-row broadcast back — no corpus shuffle. */
  def clusterSample(s: SparkSession, d: String): DataFrame = {
    // referenced twice (cell sizes + the sample pass) — cached so the
    // corpus × centroid assignment runs once (r21, guide §1.2)
    val assigned = assignedToCells(s, d).cache()
    val sizes = assigned.groupBy("cid").agg(count(lit(1)).as("n_vecs"))
      .withColumn("rate",
        least(lit(1.0), lit(ClusterSampleTarget) / col("n_vecs").cast("double")))
      .withColumn("threshold", floor(col("rate") * 65536.0).cast("long"))
    assigned.join(broadcast(sizes), "cid")
      .withColumn("h16",
        conv(substring(md5(col("vec_id").cast("string")), 1, 4), 16, 10)
          .cast("long"))
      .groupBy(col("cid"), col("n_vecs"), col("rate"))
      .agg(sum(when(col("h16") < col("threshold"), 1L).otherwise(0L))
        .as("n_sampled"))
      .select(col("cid"), col("n_vecs"), col("rate"), col("n_sampled"))
  }

  private[operators] val ClusterSampleTarget = 30.0

  /** Scan-and-rank tail shared by the in-query IVF probe and the
    * persisted-index probe ([[IvfIndex]]): join the probe's cells against
    * the (cell-keyed) assignment, exact-score the candidates, keep the
    * top-5. Any change here changes both paths together — the hash-parity
    * spec between them guards the contract. */
  private[operators] def ivfProbeTail(
      probeCells: DataFrame, assign: DataFrame): (DataFrame, DataFrame) = {
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), col("neighbor_id"))
    val cand = probeCells.join(assign, "cell")
      .filter(col("query_id") =!= col("vec_id"))
    val top = cand
      .withColumn("dot", expr("graft_dot(pqv, qv)"))
      .withColumn("cosine", col("dot").cast("double") /
        (sqrt(col("pnrm").cast("double")) * sqrt(col("nrm").cast("double"))))
      .withColumn("neighbor_id", col("vec_id"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("neighbor_id"), col("cell"),
        col("cosine"), col("rank"))
    (top, cand)
  }

  /** Label-affinity matrix: for a bounded probe set, how often do pairs
    * within/across embedding labels exceed cosine 0.5? Counts, not cosine
    * means — summing float cosines is accumulation-order dependent, while
    * threshold counts are exact, so the ratio is a deterministic double of
    * two integers. The shape behind "are my class clusters separable". */
  def labelAffinity(s: SparkSession, d: String): DataFrame = {
    val q = quantized(s, d)
    val probes = q.filter(col("vec_id") < 200)
    probes.as("a").join(q.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("dot", expr("graft_dot(a.qv, b.qv)"))
      .withColumn("cos", cosine)
      .groupBy(col("a.label").as("label_a"), col("b.label").as("label_b"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("cos") >= 0.5, 1L).otherwise(0L)).as("n_similar"))
      .withColumn("sim_ratio",
        col("n_similar").cast("double") / col("n_pairs").cast("double"))
  }

  /** Hard-negative mining — the contrastive-training curation step
    * (retrieval/embedding fine-tuning wants, per anchor, the most
    * SIMILAR examples of a DIFFERENT label: easy negatives teach
    * nothing): per bounded-probe anchor, the top-3 different-label
    * neighbors by cosine. Brute over the probe set here is the measured
    * ground-truth form; at scale the different-label predicate composes
    * with IVF cell pruning exactly like [[topkIvfFiltered]]'s
    * `candidateFilter` (the trained geometry is label-independent), so
    * the mining scan is probed-cells × label-fraction, never corpus². */
  def hardNegatives(s: SparkSession, d: String): DataFrame = {
    val q = quantized(s, d)
    val probes = q.filter(col("vec_id") < 100)
    val w = Window.partitionBy(col("a.vec_id"))
      .orderBy(desc("cosine"), col("b.vec_id"))
    probes.as("a")
      .join(q.as("b"), col("a.label") =!= col("b.label"))
      .withColumn("dot", expr("graft_dot(a.qv, b.qv)"))
      .withColumn("cosine", cosine)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("neighbor_id"),
        col("a.label").as("label_a"), col("b.label").as("label_b"),
        col("cosine"), col("rank"))
  }

  /** Multi-table LSH top-5: candidates are the UNION of matches across
    * [[LshTables]] independent tables (OR-amplification) — the standard
    * recall knob: each table misses independently, so recall ≈
    * 1-(1-r)^L for ~L× the candidate scan. Same equi-join shape as the
    * single table, keyed on (table, bucket). */
  def topkLshMulti(s: SparkSession, d: String): DataFrame = {
    val q = quantized(s, d)
    val tb = multiBuckets(q)
    val cand = tb.filter(col("vec_id") < 20).as("x")
      .join(tb.as("y"),
        col("x.t") === col("y.t") && col("x.b") === col("y.b") &&
          col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("qid"), col("y.vec_id").as("nid"))
      .distinct()
    val w = Window.partitionBy(col("a.vec_id")).orderBy(desc("cosine"), col("b.vec_id"))
    cand.join(q.as("a"), col("qid") === col("a.vec_id"))
      .join(q.as("b"), col("nid") === col("b.vec_id"))
      .withColumn("dot", expr("graft_dot(a.qv, b.qv)"))
      .withColumn("cosine", cosine)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("neighbor_id"),
        col("cosine"), col("rank"))
  }

  /** Deterministic mixture-of-clusters corpus derived from the embeddings
    * table — the separable-data fixture the near-random corpus cannot
    * provide (its best neighbor cosine is ≈0.51 ≈ 59°, which FLOORS angular
    * LSH recall no matter the amplification; see the [[Planes]] note).
    * Vectors 0..9 act as cluster centers; every corpus vector becomes a
    * member of cluster `vec_id % 10` via the integer mix
    * `m = 1000·center + 150·self`, so within-cluster angles are ~17°
    * (cos ≈ 0.96) and cross-cluster angles stay near-orthogonal. All
    * arithmetic is exact long math on the quantized vectors — DuckDB
    * replays the identical corpus, so recall is hash-checkable. */
  private[operators] def clustered(s: SparkSession, d: String): DataFrame = {
    val q = quantized(s, d)
    val cents = q.filter(col("vec_id") < 10)
      .select(col("vec_id").as("cid"), col("qv").as("cqv"))
    q.withColumn("cid", col("vec_id") % 10)
      .join(broadcast(cents), "cid")
      .withColumn("qv", expr("zip_with(cqv, qv, (c, v) -> 1000L * c + 150L * v)"))
      .withColumn("nrm", expr("graft_dot(qv, qv)"))
      .select(col("vec_id"), col("qv"), col("nrm"))
  }

  /** The OR-amplification curve on separable data: recall@5 vs brute-force
    * ground truth at L = 1, 4, 8 LSH tables over the [[clustered]] corpus.
    * On the near-random corpus `sim_lsh_recall` tops out at ~0.62 (L=8) —
    * method-limited, not a bug; here the same construction climbs the
    * 1-(1-r)^L curve to ≥0.9, which is the evidence the amplification knob
    * works when neighbors actually exist. Per-table candidate generation is
    * the same (t, bucket) equi-join shape as [[topkLshMulti]]. */
  def clusteredRecall(s: SparkSession, d: String): DataFrame = {
    // Measured and rejected (r20): eagerly pinning the mixture corpus and
    // bucket projection (localCheckpoint) for the seven consuming
    // subtrees — Spark's ReuseExchange already deduplicates the repeated
    // subtrees at their exchange boundaries, so the pins only added
    // serial materialization barriers (1.23 s → 1.87 s at sf0.1).
    val q = clustered(s, d)
    val probes = q.filter(col("vec_id") < 20)
    val w = Window.partitionBy(col("a.vec_id")).orderBy(desc("cosine"), col("b.vec_id"))
    val brute = probes.as("a")
      .join(q.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .withColumn("dot", expr("graft_dot(a.qv, b.qv)"))
      .withColumn("cosine", cosine)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("neighbor_id"))
    val tb = multiBuckets(q)
    def hitsAtL(l: Int, name: String): DataFrame = {
      val sub = tb.filter(col("t") < l)
      val cand = sub.filter(col("vec_id") < 20).as("x")
        .join(sub.as("y"),
          col("x.t") === col("y.t") && col("x.b") === col("y.b") &&
            col("x.vec_id") =!= col("y.vec_id"))
        .select(col("x.vec_id").as("qid"), col("y.vec_id").as("nid"))
        .distinct()
      val top = cand.join(q.as("a"), col("qid") === col("a.vec_id"))
        .join(q.as("b"), col("nid") === col("b.vec_id"))
        .withColumn("dot", expr("graft_dot(a.qv, b.qv)"))
        .withColumn("cosine", cosine)
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("a.vec_id").as("q2"), col("b.vec_id").as("n2"))
      brute.join(top, col("query_id") === col("q2") && col("neighbor_id") === col("n2"))
        .groupBy("query_id").agg(count(lit(1)).as(name))
    }
    brute.groupBy("query_id").agg(count(lit(1)).as("k"))
      .join(hitsAtL(1, "h1"), Seq("query_id"), "left")
      .join(hitsAtL(4, "h4"), Seq("query_id"), "left")
      .join(hitsAtL(8, "h8"), Seq("query_id"), "left")
      .select(
        col("query_id"),
        coalesce(col("h1"), lit(0L)).as("n_hits_l1"),
        (coalesce(col("h1"), lit(0L)).cast("double") / col("k").cast("double"))
          .as("recall_l1"),
        coalesce(col("h4"), lit(0L)).as("n_hits_l4"),
        (coalesce(col("h4"), lit(0L)).cast("double") / col("k").cast("double"))
          .as("recall_l4"),
        coalesce(col("h8"), lit(0L)).as("n_hits_l8"),
        (coalesce(col("h8"), lit(0L)).cast("double") / col("k").cast("double"))
          .as("recall_l8"))
  }

  /** Measured recall@5 of both LSH variants against brute-force ground
    * truth, per probe — the self-evaluation every ANN deployment needs
    * before trusting the approximate path, and the direct read-out of what
    * multi-table OR-amplification buys. Hit counts are integers, so the
    * recall ratios are deterministic doubles (no float accumulation). */
  def lshRecall(s: SparkSession, d: String): DataFrame = {
    val brute = topkBrute(s, d).select(col("query_id"), col("neighbor_id"))
    def hitsOf(approx: DataFrame, name: String) =
      brute.join(approx
            .select(col("query_id").as("q2"), col("neighbor_id").as("n2")),
          col("query_id") === col("q2") && col("neighbor_id") === col("n2"))
        .groupBy("query_id").agg(count(lit(1)).as(name))
    brute.groupBy("query_id").agg(count(lit(1)).as("k"))
      .join(hitsOf(topkLsh(s, d), "h1"), Seq("query_id"), "left")
      .join(hitsOf(topkLshMulti(s, d), "hm"), Seq("query_id"), "left")
      .select(
        col("query_id"),
        coalesce(col("h1"), lit(0L)).as("n_hits_single"),
        (coalesce(col("h1"), lit(0L)).cast("double") / col("k").cast("double"))
          .as("recall_single"),
        coalesce(col("hm"), lit(0L)).as("n_hits_multi"),
        (coalesce(col("hm"), lit(0L)).cast("double") / col("k").cast("double"))
          .as("recall_multi"))
  }

  /** IVF recall@5 against brute ground truth — completes the per-method
    * ANN evaluation (cell pruning trades recall differently than hashing:
    * it misses neighbors assigned to un-probed cells). */
  def ivfRecall(s: SparkSession, d: String): DataFrame =
    ivfRecallWithMargin(s, d, IvfProbeMargin)

  /** IVF multi-probe on the SEPARABLE mixture corpus ([[clustered]]) —
    * the fixture where cell pruning can actually excel (the near-random
    * corpus floors ANY cell scheme: neighbors ≈ orthogonal ⇒ spread
    * uniformly over cells, recall ≈ scan fraction; same geometry ceiling
    * the LSH recall queries document). K-means over the mixture splits
    * each true cluster into several cells; a lean fixed
    * nprobe=[[IvfClusteredNprobe]] plus the boundary margin probes exactly
    * the query's own cluster's cells — high recall at a small scan
    * fraction, measured in BASELINE.md. */
  def ivfClusteredRecall(s: SparkSession, d: String): DataFrame =
    ivfClusteredRecallWith(s, d, IvfClusteredNprobe, IvfProbeMargin)._1

  private[graft] def ivfClusteredRecallWith(
      s: SparkSession, d: String,
      nprobe: Int, margin: Double): (DataFrame, DataFrame) = {
    val corpus = clustered(s, d)
    val cent = broadcast(centroidsDf(s, codebookRows(s, d, variant = "clustered")))
    val (top, cand) = ivfProbeCore(corpus, cent, nprobe, margin)
    val probes = corpus.filter(col("vec_id") < 20)
    val w = Window.partitionBy(col("a.vec_id")).orderBy(desc("cosine"), col("b.vec_id"))
    val brute = probes.as("a")
      .join(corpus.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .withColumn("dot", expr("graft_dot(a.qv, b.qv)"))
      .withColumn("cosine", cosine)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("neighbor_id"))
    val hits = brute.join(top
          .select(col("query_id").as("q2"), col("neighbor_id").as("n2")),
        col("query_id") === col("q2") && col("neighbor_id") === col("n2"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    val recall = brute.groupBy("query_id").agg(count(lit(1)).as("k"))
      .join(hits, Seq("query_id"), "left")
      .select(
        col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / col("k").cast("double"))
          .as("recall_at_5"))
    (recall, cand)
  }

  /** Product-quantization geometry: [[PqM]] subspaces of [[PqSub]] dims
    * each (64 = 4×16), per-subspace codebooks from the same seeded
    * spherical k-means as the IVF coarse quantizer. A vector compresses to
    * m small code ints — the 100 TB ADC scan reads CODES plus a broadcast
    * (queries × m × k) lookup table of integer partial dots, never the
    * vectors: ~64 longs → 4 ints per corpus row, with the recall cost
    * measured (and oracle-replayed) rather than assumed. */
  private[operators] val PqM = 4
  private[operators] val PqSub = 16
  /** Sub-codebook size (fixed, corpus-independent): k=64 sample codewords
    * per subspace give codes of m log2(k) = 24 bits while the ADC table
    * stays (probes x m x 64) ints. The codebook is the first k vectors'
    * sub-slices (a sample codebook, no Lloyd iterations: iterating over a
    * mixture collapses codewords onto the component means and destroys
    * within-cluster variety), deterministic and replayable at any corpus
    * size. */
  private[operators] val PqK = 64
  /** ADC shortlist size for the exact re-rank: production PQ retrieves a
    * candidate shortlist by compressed-domain score and re-ranks ONLY
    * those with full vectors — recall@5 then requires the true neighbors
    * to be IN the shortlist, not exactly ordered by lossy scores. The
    * fixed size means the full-vector read shrinks relative to the corpus
    * as it grows (10% at n=500, 1% at n=5000). */
  private[operators] val PqShortlist = 50

  /** PQ-ADC recall@5 vs brute ground truth: compressed-domain shortlist
    * ([[PqShortlist]] by ADC score), then exact re-rank of the shortlist
    * with full vectors — the deployed PQ shape (the lossy score RETRIEVES,
    * the exact score RANKS). ADC scoring is exact integer arithmetic
    * (sub-dots of quantized ints summed across subspaces), the re-rank is
    * the brute cosine with the same tiebreaks, so the Spark and DuckDB
    * results agree bit-for-bit. */
  def pqRecall(s: SparkSession, d: String): DataFrame =
    pqRecallOn(s, quantized(s, d))

  /** PQ-ADC on the SEPARABLE mixture corpus ([[clustered]]) — like the
    * LSH/IVF families, the near-random corpus floors ANY lossy-distance
    * scheme (neighbors ~ orthogonal, quantization error swamps the cosine
    * gaps), while the mixture shows the method's real ceiling: sub-
    * codewords align with the mixture components. */
  def pqClusteredRecall(s: SparkSession, d: String): DataFrame =
    pqRecallOn(s, clustered(s, d))

  // Measured and rejected (r20): pinning the corpus frame for the ~12
  // consuming subtrees (localCheckpoint) — ReuseExchange already covers
  // the repeats, and the eager pin regressed both PQ recall queries
  // ~0.8 s each at sf0.1 (serial barrier + full-width materialization).
  private def pqRecallOn(s: SparkSession, q: DataFrame): DataFrame =
    pqRecallFromScores(s, q, pqAdcScores(s, q))

  /** The compressed-domain half on its own: per (probe, corpus vector)
    * ADC scores. Package-visible so the plan spec can assert its scale
    * shape (corpus rows join only BROADCAST tables — sub-codebooks and
    * the per-probe lookup table — never shuffle against each other). */
  private[graft] def pqAdcScores(s: SparkSession, d: String): DataFrame =
    pqAdcScores(s, quantized(s, d))

  private[graft] def pqAdcScores(s: SparkSession, q: DataFrame): DataFrame = {
    val parts = (0 until PqM).map { j =>
      val off = j * PqSub
      val subQ = q.select(col("vec_id"),
        expr(s"slice(qv, ${off + 1}, $PqSub)").as("qv"))
      val cent = broadcast(centroidsDf(s,
        trainCentroidsOn(subQ, col("vec_id") < PqK, iters = 0)))
      // encode: nearest sub-centroid (argmax cosine, cid tiebreak) — the
      // identical assignment rule the trainer and the oracle replay use
      val w = Window.partitionBy(col("a.vec_id")).orderBy(desc("sim"), col("cid"))
      val codes = subQ.as("a").join(cent)
        .withColumn("sim", expr("graft_dot(a.qv, cqv)").cast("double") /
          sqrt(col("cnrm").cast("double")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("a.vec_id").as("neighbor_id"), col("cid").as("code"))
      // ADC lookup table: per (query, sub-centroid) integer partial dot —
      // (probes × k) rows, broadcast; the corpus side touches codes only
      val lut = broadcast(subQ.filter(col("vec_id") < 20).as("p").join(cent)
        .select(col("p.vec_id").as("query_id"), col("cid"),
          expr("graft_dot(p.qv, cqv)").as("pdot")))
      codes.join(lut, col("code") === col("cid"))
        .select(col("query_id"), col("neighbor_id"), col("pdot"))
    }
    parts.reduce(_.unionByName(_))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy("query_id", "neighbor_id").agg(sum("pdot").as("adc"))
  }

  /** Shortlist + exact re-rank + recall-vs-brute tail over precomputed
    * ADC scores. */
  private[operators] def pqRecallFromScores(
      s: SparkSession, q: DataFrame, ascore: DataFrame): DataFrame = {
    val wTop = Window.partitionBy("query_id").orderBy(desc("adc"), col("neighbor_id"))
    val shortlist = ascore.withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= PqShortlist)
      .select("query_id", "neighbor_id")
    // exact re-rank of the shortlist: full vectors for PqShortlist rows
    // per probe, never the whole corpus
    val probesAll = q.filter(col("vec_id") < 20)
    val wR = Window.partitionBy("query_id").orderBy(desc("cosine"), col("neighbor_id"))
    val ptop = shortlist
      .join(probesAll.select(col("vec_id").as("query_id"),
        col("qv").as("pqv"), col("nrm").as("pnrm")), "query_id")
      .join(q.select(col("vec_id").as("neighbor_id"),
        col("qv").as("xqv"), col("nrm").as("xnrm")), "neighbor_id")
      .withColumn("dot", expr("graft_dot(pqv, xqv)"))
      .withColumn("cosine", col("dot").cast("double") /
        (sqrt(col("pnrm").cast("double")) * sqrt(col("xnrm").cast("double"))))
      .withColumn("rk", row_number().over(wR))
      .filter(col("rk") <= 5)
      .select("query_id", "neighbor_id")
    // brute ground truth over the SAME corpus, full vectors
    val probes = q.filter(col("vec_id") < 20)
    val wB = Window.partitionBy(col("a.vec_id")).orderBy(desc("cosine"), col("b.vec_id"))
    val brute = probes.as("a")
      .join(q.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .withColumn("dot", expr("graft_dot(a.qv, b.qv)"))
      .withColumn("cosine", cosine)
      .withColumn("rank", row_number().over(wB))
      .filter(col("rank") <= 5)
      .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("neighbor_id"))
    val hits = brute.join(ptop
          .select(col("query_id").as("q2"), col("neighbor_id").as("n2")),
        col("query_id") === col("q2") && col("neighbor_id") === col("n2"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    brute.groupBy("query_id").agg(count(lit(1)).as("k"))
      .join(hits, Seq("query_id"), "left")
      .select(
        col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / col("k").cast("double"))
          .as("recall_at_5"))
  }

  private[graft] def ivfRecallWithMargin(
      s: SparkSession, d: String, margin: Double): DataFrame = {
    val brute = topkBrute(s, d).select(col("query_id"), col("neighbor_id"))
    val hits = brute.join(topkIvfWithMargin(s, d, margin)._1
          .select(col("query_id").as("q2"), col("neighbor_id").as("n2")),
        col("query_id") === col("q2") && col("neighbor_id") === col("n2"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hits"))
    brute.groupBy("query_id").agg(count(lit(1)).as("k"))
      .join(hits, Seq("query_id"), "left")
      .select(
        col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast("double") / col("k").cast("double"))
          .as("recall_at_5"))
  }

  // --- Johnson–Lindenstrauss random projection (dimensionality-reduction
  // ANN path: JL 1984; Achlioptas 2003 for the ±1-style database-friendly
  // projections this mirrors). 64 dims → [[RpDims]] via a deterministic
  // LCG-seeded ±1000 integer matrix — the same weight scheme as the LSH
  // hyperplanes, argument-offset so the two never share a weight stream.
  private val RpDims = 16

  /** LCG weight for (projection row j, input dim i), offset by 1e6 so the
    * stream is disjoint from every LSH plane (planes use arguments
    * < 8·4·64 = 2048). */

  /** The projected vector as a [[RpDims]]-element integer array: row j is
    * Σᵢ qv[i]·w(j,i). Magnitudes: |qv|≤1000, |w|≤1000, 64 terms →
    * |rv[j]| ≤ 6.4e7; dots of two such 16-dim vectors ≤ 6.6e16, inside
    * Long for the codegen'd graft_dot. Each row is graft_dot against the
    * LITERAL weight array (same rewrite as [[bucketExprFor]] — the LCG
    * folds at plan build; values bit-identical to the oracle's replay). */
  private def rpWeightOf(j: Int, i: Int): Long =
    ((1103515245L * (j * Dims + i + 1000000L) + 12345L) % 2001L) - 1000L

  private def rpProjExpr: String =
    "array(" + (0 until RpDims).map { j =>
      (0 until Dims).map(i => s"${rpWeightOf(j, i)}L")
        .mkString("graft_dot(qv, array(", ", ", "))")
    }.mkString(", ") + ")"

  /** Shortlist sizes for the project→shortlist→re-rank pipeline — the
    * re-rank budget knob, measured at two settings like the LSH L-knob. */
  private val RpShortlists = Seq(50, 200)

  /** Measured recall@5 of the JL two-stage retrieval pipeline — project
    * to [[RpDims]] dims, take the top-R shortlist by PROJECTED cosine
    * (cheap: RpDims/64 = 1/4 of the multiplies per pair), then exact
    * re-rank only the shortlist — against brute ground truth in the
    * original space, at two shortlist budgets. The final answer is exact
    * for every true neighbor the shortlist captured, so recall@5 of the
    * finished pipeline EQUALS shortlist capture rate; plain top-5 in
    * projected space alone floors at chance here (JL distortion at k=16
    * is ~√(ln n/k) ≈ 0.5, larger than this near-random corpus's neighbor
    * gaps — the same geometry ceiling the LSH/IVF recall queries
    * document), which is exactly why deployments re-rank. Measured on
    * this corpus: 0.32 at R=50 (10% re-rank budget) → 0.73 at R=200 —
    * the knob curve a pipeline owner tunes. At 100 TB the projection is
    * a one-pass narrow map materialized next to the embedding column,
    * and it composes with IVF/LSH (bucket the 16-dim vectors) to shrink
    * both index and probe. */
  def rpRecall(s: SparkSession, d: String): DataFrame = {
    val rMax = RpShortlists.max
    // (an eager Pin of the projected corpus was measured and rejected in
    // r20 — ReuseExchange covers the repeated subtrees; the pin barrier
    // doubled this query's time at sf0.1)
    val q = quantized(s, d)
      .withColumn("rv", expr(rpProjExpr))
      .withColumn("rnrm", expr("graft_dot(rv, rv)"))
    val probes = q.filter(col("vec_id") < 20)
    val w = Window.partitionBy(col("a.vec_id")).orderBy(desc("rcos"), col("b.vec_id"))
    val shortlist = probes.as("a")
      .join(q.as("b"), col("a.vec_id") =!= col("b.vec_id"))
      .withColumn("rdot", expr("graft_dot(a.rv, b.rv)"))
      .withColumn("rcos", col("rdot").cast("double") /
        (sqrt(col("a.rnrm").cast("double")) * sqrt(col("b.rnrm").cast("double"))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= rMax)
      .select(col("a.vec_id").as("query_id"), col("b.vec_id").as("neighbor_id"),
        col("rank"))
    val brute = topkBrute(s, d).select(col("query_id"), col("neighbor_id"))
    def hitsAt(r: Int, name: String) =
      brute.join(shortlist.filter(col("rank") <= r)
            .select(col("query_id").as("q2"), col("neighbor_id").as("n2")),
          col("query_id") === col("q2") && col("neighbor_id") === col("n2"))
        .groupBy("query_id").agg(count(lit(1)).as(name))
    val hitCols = RpShortlists.map(r => (r, s"h$r"))
    hitCols.foldLeft(brute.groupBy("query_id").agg(count(lit(1)).as("k"))) {
        case (acc, (r, name)) => acc.join(hitsAt(r, name), Seq("query_id"), "left")
      }
      .select(col("query_id") +: hitCols.flatMap { case (r, name) => Seq(
        coalesce(col(name), lit(0L)).as(s"n_hits_r$r"),
        (coalesce(col(name), lit(0L)).cast("double") / col("k").cast("double"))
          .as(s"recall_r$r")) }: _*)
  }

  val queries: Map[String, Q] = Map(
    "sim_rp_recall" -> (rpRecall _),
    "sim_clustered_recall" -> (clusteredRecall _),
    "sim_lsh_recall" -> (lshRecall _),
    "sim_ivf_recall" -> (ivfRecall _),
    "sim_ivf_clustered_recall" -> (ivfClusteredRecall _),
    "sim_topk_lsh_multi" -> (topkLshMulti _),
    "sim_topk_brute" -> (topkBrute _),
    "sim_topk_filtered" -> (topkFiltered _),
    "sim_topk_lsh" -> (topkLsh _),
    "sim_topk_ivf" -> (topkIvf _),
    "sim_topk_ivf_filtered" -> (topkIvfFiltered _),
    "sim_topk_ivf_indexed" -> ((s: SparkSession, d: String) => {
      // probe through the persisted cell-partitioned index (built once per
      // corpus state via the fingerprint memo — repeated invocations reuse
      // it, so bench rounds past the first measure the PROBE, and nothing
      // leaks a corpus-sized copy per run). Row-identical with
      // sim_topk_ivf (shared codebook + tail), so the two share one
      // oracle — what the index adds is the SCAN shape (partition-pruned
      // cells), probed by IvfIndexSpec; build vs probe cost is reported
      // separately by the bench's ivf_index_build / ivf_index_probe.
      IvfIndex.topk(s, d, IvfIndex.ensureBuilt(s, d))
    }),
    "sim_range_count" -> (rangeCount _),
    "sim_label_affinity" -> (labelAffinity _),
    "sim_hard_negatives" -> (hardNegatives _),
    "sim_pq_recall" -> (pqRecall _),
    "sim_pq_clustered_recall" -> (pqClusteredRecall _),
    "sim_topk_pq_indexed" -> ((s: SparkSession, d: String) => {
      // PQ through the PERSISTED index (codebook + codes table, built once
      // per corpus state via the fingerprint memo): no retrain, no corpus
      // re-encode at probe time — the ADC scan reads the codes table plus
      // a broadcast LUT. Row-identical with sim_pq_recall by construction
      // (shared trainer/encoder/scoring), so the two share one oracle;
      // build vs probe cost is reported by the bench's pq_index_build /
      // pq_index_probe split.
      PqIndex.recall(s, d, PqIndex.ensureBuilt(s, d))
    }),
    "sim_topk_ivfpq_indexed" -> ((s: SparkSession, d: String) => {
      // the composed large-scale shape (FAISS IndexIVFPQ): coarse cells
      // prune the search space, PQ codes compress what remains — the
      // probe reads m small ints per row of ONLY the probed cell dirs.
      // The full two-stage pipeline (coarse training, cell probing, PQ
      // encoding, cell-gated ADC, re-rank) is replayed by the oracle, so
      // the stacked-lossiness recall cost is measured, not assumed.
      IvfPqIndex.recall(s, d, IvfPqIndex.ensureBuilt(s, d))
    }),
    "sim_cluster_sample" -> (clusterSample _),
  )

  // ----------------------------------------------------------------- oracle

  private[operators] val qCte =
    """q AS (
         SELECT vec_id, label,
           list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
         FROM embeddings),
       n AS (
         SELECT vec_id, label, qv,
           list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * qv[i])) AS nrm
         FROM q)"""

  /** DuckDB lists are 1-based; Spark `sequence(0,…)` is 0-based — the (i-1)
    * here keeps the LCG argument identical. */
  private def sqlBucketFor(t: Int): String =
    (0 until Planes).map { j =>
      val p = t * Planes + j
      s"""((CASE WHEN list_sum(list_transform(range(1, len(qv) + 1),
             i -> qv[i] * (((1103515245 * ($p * 64 + (i - 1)) + 12345) % 2001) - 1000)))
             > 0 THEN 1 ELSE 0 END) << $j)"""
    }.mkString(" + ")

  private def sqlBucket: String = sqlBucketFor(0)

  /** One (vec_id, t, b) row per vector per table, as a UNION ALL chain
    * (reads a CTE `n(vec_id, qv, …)`; shared with the DedupQueries
    * embedding-cluster oracle, which prunes candidates with the same
    * multi-table buckets). */
  private[operators] val sqlMultiTb: String =
    (0 until LshTables).map(t =>
      s"SELECT vec_id, $t AS t, ${sqlBucketFor(t)} AS b FROM n")
      .mkString("\n UNION ALL ")

  private val dotSql =
    "list_sum(list_transform(range(1, len(a.qv) + 1), i -> a.qv[i] * b.qv[i]))"
  private val cosSql =
    s"CAST($dotSql AS DOUBLE) / (SQRT(CAST(a.nrm AS DOUBLE)) * SQRT(CAST(b.nrm AS DOUBLE)))"

  /** The seeded-Lloyd centroid chain, unrolled [[IvfIters]] times —
    * mirrors [[ivfCentroids]] step for step (same |x|-free similarity,
    * same cid tiebreak, integer sum-vector centroids, 64-dim). Ends in a
    * CTE `cent(cid, cqv, cnrm)`. */
  private[operators] val sqlCentChain: String = {
    def step(centName: String, i: Int): String =
      s"""a$i AS (
           SELECT vec_id, qv, cid FROM (
             SELECT nn.vec_id, nn.qv, c.cid,
                    ROW_NUMBER() OVER (PARTITION BY nn.vec_id ORDER BY
                      CAST(list_sum(list_transform(range(1, len(nn.qv) + 1), i -> nn.qv[i] * c.cqv[i])) AS DOUBLE) /
                      SQRT(CAST(list_sum(list_transform(range(1, len(c.cqv) + 1), i -> c.cqv[i] * c.cqv[i])) AS DOUBLE)) DESC,
                      c.cid) AS rk
             FROM n nn CROSS JOIN $centName c) WHERE rk = 1),
         cent${i + 1} AS (
           SELECT cid, list(sv ORDER BY p) AS cqv FROM (
             SELECT cid, p, CAST(SUM(qv[p + 1]) AS BIGINT) AS sv
             FROM a$i CROSS JOIN range(64) r(p) GROUP BY 1, 2) GROUP BY cid)"""
    val chain = (0 until IvfIters).map(i => step(s"cent$i", i)).mkString(",\n       ")
    s"""cent0 AS (SELECT vec_id AS cid, qv AS cqv FROM n WHERE vec_id % 51 = 3),
       $chain,
       cent AS (SELECT cid, cqv,
         list_sum(list_transform(range(1, len(cqv) + 1), i -> cqv[i] * cqv[i])) AS cnrm
         FROM cent$IvfIters)"""
  }

  /** The [[clustered]] mixture corpus in DuckDB — ends in a CTE
    * `n(vec_id, qv, nrm)` so [[sqlMultiTb]] and [[cosSql]] apply unchanged. */
  private val clusteredCte =
    """q AS (
         SELECT vec_id,
           list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
         FROM embeddings),
       cents AS (SELECT vec_id AS cid, qv AS cqv FROM q WHERE vec_id < 10),
       m AS (
         SELECT v.vec_id,
           list_transform(range(1, len(v.qv) + 1), i -> 1000 * c.cqv[i] + 150 * v.qv[i]) AS qv
         FROM q v JOIN cents c ON (v.vec_id % 10) = c.cid),
       n AS (
         SELECT vec_id, qv,
           list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * qv[i])) AS nrm
         FROM m)"""

  private def sqlHitsAtL(l: Int, name: String): String =
    s"""cand_$name AS (
         SELECT DISTINCT x.vec_id AS query_id, y.vec_id AS neighbor_id
         FROM mtb x JOIN mtb y
           ON x.t = y.t AND x.b = y.b AND x.vec_id < 20 AND x.vec_id <> y.vec_id
         WHERE x.t < $l AND y.t < $l),
       top_$name AS (
         SELECT * FROM (
           SELECT c.query_id, c.neighbor_id,
                  ROW_NUMBER() OVER (PARTITION BY c.query_id
                    ORDER BY $cosSql DESC, c.neighbor_id) AS rank
           FROM cand_$name c
           JOIN n a ON a.vec_id = c.query_id
           JOIN n b ON b.vec_id = c.neighbor_id) WHERE rank <= 5),
       $name AS (
         SELECT b.query_id, COUNT(*) AS n
         FROM btop b JOIN top_$name t
           ON b.query_id = t.query_id AND b.neighbor_id = t.neighbor_id
         GROUP BY 1)"""

  /** The IVF recall evaluation in DuckDB over whatever corpus CTE `n`
    * precedes it — shared verbatim by `sim_ivf_recall` (raw embeddings,
    * [[IvfNprobe]]) and `sim_ivf_clustered_recall` (separable mixture,
    * lean [[IvfClusteredNprobe]] + the same margin). */
  private def sqlIvfRecallBody(nprobe: Int): String = s"""bscored AS (
         SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $cosSql AS cosine
         FROM n a JOIN n b ON a.vec_id < 20 AND a.vec_id <> b.vec_id),
       btop AS (
         SELECT * FROM (
           SELECT query_id, neighbor_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id) AS rank
           FROM bscored) WHERE rank <= 5),
       $sqlCentChain,
       cscored AS (
         SELECT a.vec_id, cid,
           CAST(list_sum(list_transform(range(1, len(a.qv) + 1), i -> a.qv[i] * cqv[i])) AS DOUBLE) /
             (SQRT(CAST(a.nrm AS DOUBLE)) * SQRT(CAST(cnrm AS DOUBLE))) AS ccos
         FROM n a CROSS JOIN cent),
       cranked AS (
         SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                     ORDER BY ccos DESC, cid) AS crk,
                MAX(ccos) OVER (PARTITION BY vec_id) AS cbest
         FROM cscored),
       assign AS (
         SELECT r.vec_id, r.cid AS cell, n.qv, n.nrm
         FROM cranked r JOIN n USING (vec_id) WHERE crk = 1),
       probecells AS (
         SELECT r.vec_id AS query_id, r.cid AS cell, n.qv AS pqv, n.nrm AS pnrm
         FROM cranked r JOIN n USING (vec_id)
         WHERE r.vec_id < 20
           AND (crk <= $nprobe OR ccos >= cbest - $IvfProbeMargin)),
       icand AS (
         SELECT p.query_id, a.vec_id AS neighbor_id,
           CAST(list_sum(list_transform(range(1, len(p.pqv) + 1), i -> p.pqv[i] * a.qv[i])) AS DOUBLE) /
             (SQRT(CAST(p.pnrm AS DOUBLE)) * SQRT(CAST(a.nrm AS DOUBLE))) AS cosine
         FROM probecells p JOIN assign a
           ON p.cell = a.cell AND a.vec_id <> p.query_id),
       itop AS (
         SELECT * FROM (
           SELECT query_id, neighbor_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id) AS rank
           FROM icand) WHERE rank <= 5),
       hits AS (
         SELECT b.query_id, COUNT(*) AS n_hits
         FROM btop b JOIN itop i
           ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
         GROUP BY 1),
       base AS (SELECT query_id, COUNT(*) AS k FROM btop GROUP BY 1)
       SELECT base.query_id,
              CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
              CAST(COALESCE(n_hits, 0) AS DOUBLE) / CAST(k AS DOUBLE) AS recall_at_5
       FROM base LEFT JOIN hits ON base.query_id = hits.query_id"""

  /** Per-subspace PQ replay for the oracle: slice the quantized vectors,
    * rerun the seeded k-means chain on the slice, encode the corpus, and
    * emit the probe-side ADC lookup table — the DuckDB mirror of one
    * `j`-iteration of [[pqRecall]]'s loop. */
  private def sqlPqChain(j: Int): String = {
    val off = j * PqSub
    def step(centName: String, i: Int): String =
      s"""a${j}_$i AS (
           SELECT vec_id, qv, cid FROM (
             SELECT nn.vec_id, nn.qv, c.cid,
                    ROW_NUMBER() OVER (PARTITION BY nn.vec_id ORDER BY
                      CAST(list_sum(list_transform(range(1, len(nn.qv) + 1), i -> nn.qv[i] * c.cqv[i])) AS DOUBLE) /
                      SQRT(CAST(list_sum(list_transform(range(1, len(c.cqv) + 1), i -> c.cqv[i] * c.cqv[i])) AS DOUBLE)) DESC,
                      c.cid) AS rk
             FROM n$j nn CROSS JOIN $centName c) WHERE rk = 1),
         cent${j}_${i + 1} AS (
           SELECT cid, list(sv ORDER BY p) AS cqv FROM (
             SELECT cid, p, CAST(SUM(qv[p + 1]) AS BIGINT) AS sv
             FROM a${j}_$i CROSS JOIN range($PqSub) r(p) GROUP BY 1, 2) GROUP BY cid)"""
    s"""n$j AS (SELECT vec_id, qv[${off + 1}:${off + PqSub}] AS qv FROM n),
       cent${j}_0 AS (SELECT vec_id AS cid, qv AS cqv FROM n$j WHERE vec_id < $PqK),
       pcent$j AS (SELECT cid, cqv,
         list_sum(list_transform(range(1, len(cqv) + 1), i -> cqv[i] * cqv[i])) AS cnrm
         FROM cent${j}_0),
       code$j AS (
         SELECT vec_id, cid AS code FROM (
           SELECT nn.vec_id, c.cid,
                  ROW_NUMBER() OVER (PARTITION BY nn.vec_id ORDER BY
                    CAST(list_sum(list_transform(range(1, len(nn.qv) + 1), i -> nn.qv[i] * c.cqv[i])) AS DOUBLE) /
                    SQRT(CAST(cnrm AS DOUBLE)) DESC, c.cid) AS rk
           FROM n$j nn CROSS JOIN pcent$j c) WHERE rk = 1),
       lut$j AS (
         SELECT p.vec_id AS query_id, c.cid,
                list_sum(list_transform(range(1, len(p.qv) + 1), i -> p.qv[i] * c.cqv[i])) AS pdot
         FROM n$j p CROSS JOIN pcent$j c WHERE p.vec_id < 20)"""
  }

  private lazy val sqlPqBody: String = s"""${(0 until PqM).map(sqlPqChain).mkString(",\n       ")},
       ascore AS (
         SELECT query_id, neighbor_id, SUM(pdot) AS adc FROM (
           ${(0 until PqM).map(j =>
             s"SELECT l.query_id, x.vec_id AS neighbor_id, l.pdot FROM code$j x JOIN lut$j l ON l.cid = x.code")
             .mkString("\n           UNION ALL ")}
         ) WHERE query_id <> neighbor_id GROUP BY 1, 2),
       shortlist AS (
         SELECT * FROM (
           SELECT query_id, neighbor_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY adc DESC, neighbor_id) AS rank
           FROM ascore) WHERE rank <= $PqShortlist),
       rescored AS (
         SELECT sl.query_id, sl.neighbor_id, $cosSql AS cosine
         FROM shortlist sl
         JOIN n a ON a.vec_id = sl.query_id
         JOIN n b ON b.vec_id = sl.neighbor_id),
       ptop AS (
         SELECT * FROM (
           SELECT query_id, neighbor_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id) AS rank
           FROM rescored) WHERE rank <= 5),
       bscored AS (
         SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $cosSql AS cosine
         FROM n a JOIN n b ON a.vec_id < 20 AND a.vec_id <> b.vec_id),
       btop AS (
         SELECT * FROM (
           SELECT query_id, neighbor_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id) AS rank
           FROM bscored) WHERE rank <= 5),
       hits AS (
         SELECT b.query_id, COUNT(*) AS n_hits
         FROM btop b JOIN ptop p
           ON b.query_id = p.query_id AND b.neighbor_id = p.neighbor_id
         GROUP BY 1),
       base AS (SELECT query_id, COUNT(*) AS k FROM btop GROUP BY 1)
       SELECT base.query_id,
              CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
              CAST(COALESCE(n_hits, 0) AS DOUBLE) / CAST(k AS DOUBLE) AS recall_at_5
       FROM base LEFT JOIN hits ON base.query_id = hits.query_id"""

  /** The composed IVF-PQ replay: the coarse chain's cell assignment and
    * probed cells ([[sqlCentChain]] + the nprobe/margin rule) gate which
    * (query, neighbor) pairs the PQ ADC ([[sqlPqChain]]) scores; the
    * shortlist/re-rank/recall tail is [[sqlPqBody]]'s unchanged. Mirrors
    * [[IvfPqIndex.probed]] stage for stage. */
  private lazy val sqlIvfPqBody: String = s"""$sqlCentChain,
       cscored AS (
         SELECT a.vec_id, cid,
           CAST(list_sum(list_transform(range(1, len(a.qv) + 1), i -> a.qv[i] * cqv[i])) AS DOUBLE) /
             (SQRT(CAST(a.nrm AS DOUBLE)) * SQRT(CAST(cnrm AS DOUBLE))) AS ccos
         FROM n a CROSS JOIN cent),
       cranked AS (
         SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                     ORDER BY ccos DESC, cid) AS crk,
                MAX(ccos) OVER (PARTITION BY vec_id) AS cbest
         FROM cscored),
       assign AS (SELECT vec_id, cid AS cell FROM cranked WHERE crk = 1),
       probecells AS (
         SELECT vec_id AS query_id, cid AS cell FROM cranked
         WHERE vec_id < 20 AND (crk <= $IvfNprobe OR ccos >= cbest - $IvfProbeMargin)),
       cand AS (
         SELECT p.query_id, a.vec_id AS neighbor_id
         FROM probecells p JOIN assign a
           ON p.cell = a.cell AND a.vec_id <> p.query_id),
       ${(0 until PqM).map(sqlPqChain).mkString(",\n       ")},
       ascore AS (
         SELECT s.query_id, s.neighbor_id, SUM(s.pdot) AS adc FROM (
           ${(0 until PqM).map(j =>
             s"SELECT l.query_id, x.vec_id AS neighbor_id, l.pdot FROM code$j x JOIN lut$j l ON l.cid = x.code")
             .mkString("\n           UNION ALL ")}
         ) s JOIN cand c
           ON c.query_id = s.query_id AND c.neighbor_id = s.neighbor_id
         GROUP BY 1, 2),
       shortlist AS (
         SELECT * FROM (
           SELECT query_id, neighbor_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY adc DESC, neighbor_id) AS rank
           FROM ascore) WHERE rank <= $PqShortlist),
       rescored AS (
         SELECT sl.query_id, sl.neighbor_id, $cosSql AS cosine
         FROM shortlist sl
         JOIN n a ON a.vec_id = sl.query_id
         JOIN n b ON b.vec_id = sl.neighbor_id),
       ptop AS (
         SELECT * FROM (
           SELECT query_id, neighbor_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id) AS rank
           FROM rescored) WHERE rank <= 5),
       bscored AS (
         SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $cosSql AS cosine
         FROM n a JOIN n b ON a.vec_id < 20 AND a.vec_id <> b.vec_id),
       btop AS (
         SELECT * FROM (
           SELECT query_id, neighbor_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id) AS rank
           FROM bscored) WHERE rank <= 5),
       hits AS (
         SELECT b.query_id, COUNT(*) AS n_hits
         FROM btop b JOIN ptop p
           ON b.query_id = p.query_id AND b.neighbor_id = p.neighbor_id
         GROUP BY 1),
       base AS (SELECT query_id, COUNT(*) AS k FROM btop GROUP BY 1)
       SELECT base.query_id,
              CAST(COALESCE(n_hits, 0) AS BIGINT) AS n_hits,
              CAST(COALESCE(n_hits, 0) AS DOUBLE) / CAST(k AS DOUBLE) AS recall_at_5
       FROM base LEFT JOIN hits ON base.query_id = hits.query_id"""

  /** Final cell assignment over the trained chain — CTE
    * `afinal(vec_id, cid)`, mirroring [[assignedToCells]] (|x|-free
    * similarity, cid tiebreak). Follows [[qCte]] and [[sqlCentChain]]. */
  private[operators] val sqlAssignFinal: String =
    """afinal AS (
         SELECT vec_id, cid FROM (
           SELECT nn.vec_id, c.cid,
                  ROW_NUMBER() OVER (PARTITION BY nn.vec_id ORDER BY
                    CAST(list_sum(list_transform(range(1, len(nn.qv) + 1), i -> nn.qv[i] * c.cqv[i])) AS DOUBLE) /
                    SQRT(CAST(c.cnrm AS DOUBLE)) DESC,
                    c.cid) AS rk
           FROM n nn CROSS JOIN cent c) WHERE rk = 1)"""

  /** Deterministic 16-bit md5 accept hash of an id column, DuckDB form —
    * the txt_source_mix discipline (strpos over the hex alphabet). */
  private def sqlHash16(idExpr: String): String = {
    def nib(i: Int) =
      s"(strpos('0123456789abcdef', substring(md5(CAST($idExpr AS VARCHAR)), $i, 1)) - 1)"
    s"CAST(${nib(1)} * 4096 + ${nib(2)} * 256 + ${nib(3)} * 16 + ${nib(4)} AS BIGINT)"
  }

  val oracleSql: Map[String, String] = oracleSqlBase +
    // the indexed probe is row-identical with the in-query IVF by contract
    // (shared codebook, nprobe/margin, and scoring tail) — same oracle
    ("sim_topk_ivf_indexed" -> oracleSqlBase("sim_topk_ivf")) +
    ("sim_cluster_sample" -> s"""WITH $qCte,
       $sqlCentChain,
       $sqlAssignFinal,
       sizes AS (
         SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_vecs,
                LEAST(1.0, $ClusterSampleTarget / CAST(COUNT(*) AS DOUBLE)) AS rate,
                CAST(FLOOR(LEAST(1.0, $ClusterSampleTarget / CAST(COUNT(*) AS DOUBLE)) * 65536.0) AS BIGINT) AS threshold
         FROM afinal GROUP BY 1)
       SELECT f.cid, s.n_vecs, s.rate,
         CAST(SUM(CASE WHEN ${sqlHash16("f.vec_id")} < s.threshold THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
       FROM afinal f JOIN sizes s USING (cid)
       GROUP BY 1, 2, 3""") +
    ("sim_pq_recall" -> s"WITH $qCte,\n       $sqlPqBody") +
    ("sim_pq_clustered_recall" -> s"WITH $clusteredCte,\n       $sqlPqBody") +
    // the indexed PQ probe is row-identical with the in-query PQ pipeline
    // by contract (persisted codebook/codes == the in-query trainer's and
    // encoder's output) — same oracle
    ("sim_topk_pq_indexed" -> s"WITH $qCte,\n       $sqlPqBody") +
    ("sim_topk_ivfpq_indexed" -> s"WITH $qCte,\n       $sqlIvfPqBody")

  /** The JL projection in DuckDB — same LCG weights, 1-based lists so the
    * (i-1) keeps the argument identical to Spark's 0-based sequence. */
  private def rpSqlProj: String = (0 until RpDims).map { j =>
    s"""list_sum(list_transform(range(1, len(qv) + 1),
         i -> qv[i] * (((1103515245 * ($j * 64 + (i - 1) + 1000000) + 12345) % 2001) - 1000)))"""
  }.mkString(",\n         ")

  private lazy val oracleSqlBase: Map[String, String] = Map(
    "sim_rp_recall" -> s"""WITH $qCte,
       r AS (
         SELECT vec_id, [$rpSqlProj] AS rv FROM n),
       rn AS (
         SELECT vec_id, rv,
           list_sum(list_transform(range(1, len(rv) + 1), i -> rv[i] * rv[i])) AS rnrm
         FROM r),
       rscored AS (
         SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           CAST(list_sum(list_transform(range(1, len(a.rv) + 1), i -> a.rv[i] * b.rv[i])) AS DOUBLE) /
             (SQRT(CAST(a.rnrm AS DOUBLE)) * SQRT(CAST(b.rnrm AS DOUBLE))) AS rcos
         FROM rn a JOIN rn b ON a.vec_id < 20 AND a.vec_id <> b.vec_id),
       shortlist AS (
         SELECT * FROM (
           SELECT query_id, neighbor_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY rcos DESC, neighbor_id) AS rank
           FROM rscored) WHERE rank <= ${RpShortlists.max}),
       bscored AS (
         SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $cosSql AS cosine
         FROM n a JOIN n b ON a.vec_id < 20 AND a.vec_id <> b.vec_id),
       btop AS (
         SELECT * FROM (
           SELECT query_id, neighbor_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id) AS rank
           FROM bscored) WHERE rank <= 5),
       ${RpShortlists.map(r => s"""h$r AS (
         SELECT b.query_id, COUNT(*) AS n
         FROM btop b JOIN shortlist s
           ON b.query_id = s.query_id AND b.neighbor_id = s.neighbor_id
         WHERE s.rank <= $r GROUP BY 1)""").mkString(",\n       ")},
       base AS (SELECT query_id, COUNT(*) AS k FROM btop GROUP BY 1)
       SELECT base.query_id,
              ${RpShortlists.map(r =>
                s"""CAST(COALESCE(h$r.n, 0) AS BIGINT) AS n_hits_r$r,
              CAST(COALESCE(h$r.n, 0) AS DOUBLE) / CAST(k AS DOUBLE) AS recall_r$r""")
                .mkString(",\n              ")}
       FROM base ${RpShortlists.map(r =>
         s"LEFT JOIN h$r ON base.query_id = h$r.query_id").mkString("\n       ")}""",
    "sim_clustered_recall" -> s"""WITH $clusteredCte,
       mtb AS ($sqlMultiTb),
       bscored AS (
         SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $cosSql AS cosine
         FROM n a JOIN n b ON a.vec_id < 20 AND a.vec_id <> b.vec_id),
       btop AS (
         SELECT * FROM (
           SELECT query_id, neighbor_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id) AS rank
           FROM bscored) WHERE rank <= 5),
       ${sqlHitsAtL(1, "h1")},
       ${sqlHitsAtL(4, "h4")},
       ${sqlHitsAtL(8, "h8")},
       base AS (SELECT query_id, COUNT(*) AS k FROM btop GROUP BY 1)
       SELECT base.query_id,
              CAST(COALESCE(h1.n, 0) AS BIGINT) AS n_hits_l1,
              CAST(COALESCE(h1.n, 0) AS DOUBLE) / CAST(k AS DOUBLE) AS recall_l1,
              CAST(COALESCE(h4.n, 0) AS BIGINT) AS n_hits_l4,
              CAST(COALESCE(h4.n, 0) AS DOUBLE) / CAST(k AS DOUBLE) AS recall_l4,
              CAST(COALESCE(h8.n, 0) AS BIGINT) AS n_hits_l8,
              CAST(COALESCE(h8.n, 0) AS DOUBLE) / CAST(k AS DOUBLE) AS recall_l8
       FROM base
       LEFT JOIN h1 ON base.query_id = h1.query_id
       LEFT JOIN h4 ON base.query_id = h4.query_id
       LEFT JOIN h8 ON base.query_id = h8.query_id""",
    "sim_hard_negatives" -> s"""WITH $qCte
       SELECT query_id, neighbor_id, label_a, label_b, cosine, rank
       FROM (
         SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           a.label AS label_a, b.label AS label_b,
           $cosSql AS cosine,
           ROW_NUMBER() OVER (PARTITION BY a.vec_id
             ORDER BY $cosSql DESC, b.vec_id) AS rank
         FROM n a JOIN n b ON a.label <> b.label
         WHERE a.vec_id < 100)
       WHERE rank <= 3""",
    "sim_label_affinity" -> s"""WITH $qCte
       SELECT a.label AS label_a, b.label AS label_b,
         COUNT(*) AS n_pairs,
         CAST(SUM(CASE WHEN $cosSql >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_similar,
         CAST(SUM(CASE WHEN $cosSql >= 0.5 THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS sim_ratio
       FROM n a JOIN n b ON a.vec_id < b.vec_id
       WHERE a.vec_id < 200
       GROUP BY 1, 2""",
    "sim_lsh_recall" -> s"""WITH $qCte,
       bucketed AS (SELECT vec_id, qv, nrm, $sqlBucket AS bucket FROM n),
       mtb AS ($sqlMultiTb),
       bscored AS (
         SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $cosSql AS cosine
         FROM n a JOIN n b ON a.vec_id < 20 AND a.vec_id <> b.vec_id),
       btop AS (
         SELECT * FROM (
           SELECT query_id, neighbor_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id) AS rank
           FROM bscored) WHERE rank <= 5),
       lscored AS (
         SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $cosSql AS cosine
         FROM bucketed a JOIN bucketed b
           ON a.bucket = b.bucket AND a.vec_id < 20 AND a.vec_id <> b.vec_id),
       ltop AS (
         SELECT * FROM (
           SELECT query_id, neighbor_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id) AS rank
           FROM lscored) WHERE rank <= 5),
       mcand AS (
         SELECT DISTINCT x.vec_id AS query_id, y.vec_id AS neighbor_id
         FROM mtb x JOIN mtb y
           ON x.t = y.t AND x.b = y.b AND x.vec_id < 20 AND x.vec_id <> y.vec_id),
       mscored AS (
         SELECT c.query_id, c.neighbor_id, $cosSql AS cosine
         FROM mcand c
         JOIN n a ON a.vec_id = c.query_id
         JOIN n b ON b.vec_id = c.neighbor_id),
       mtop AS (
         SELECT * FROM (
           SELECT query_id, neighbor_id,
                  ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, neighbor_id) AS rank
           FROM mscored) WHERE rank <= 5),
       h1 AS (
         SELECT b.query_id, COUNT(*) AS n1
         FROM btop b JOIN ltop l
           ON b.query_id = l.query_id AND b.neighbor_id = l.neighbor_id
         GROUP BY 1),
       hm AS (
         SELECT b.query_id, COUNT(*) AS nm
         FROM btop b JOIN mtop m
           ON b.query_id = m.query_id AND b.neighbor_id = m.neighbor_id
         GROUP BY 1),
       base AS (SELECT query_id, COUNT(*) AS k FROM btop GROUP BY 1)
       SELECT base.query_id,
              CAST(COALESCE(n1, 0) AS BIGINT) AS n_hits_single,
              CAST(COALESCE(n1, 0) AS DOUBLE) / CAST(k AS DOUBLE) AS recall_single,
              CAST(COALESCE(nm, 0) AS BIGINT) AS n_hits_multi,
              CAST(COALESCE(nm, 0) AS DOUBLE) / CAST(k AS DOUBLE) AS recall_multi
       FROM base
       LEFT JOIN h1 ON base.query_id = h1.query_id
       LEFT JOIN hm ON base.query_id = hm.query_id""",
    "sim_ivf_recall" -> s"""WITH $qCte,
       ${sqlIvfRecallBody(IvfNprobe)}""",
    "sim_ivf_clustered_recall" -> s"""WITH $clusteredCte,
       ${sqlIvfRecallBody(IvfClusteredNprobe)}""",
    "sim_topk_lsh_multi" -> s"""WITH $qCte,
       mtb AS ($sqlMultiTb),
       cand AS (
         SELECT DISTINCT x.vec_id AS query_id, y.vec_id AS neighbor_id
         FROM mtb x JOIN mtb y
           ON x.t = y.t AND x.b = y.b AND x.vec_id < 20 AND x.vec_id <> y.vec_id),
       scored AS (
         SELECT c.query_id, c.neighbor_id, $cosSql AS cosine
         FROM cand c
         JOIN n a ON a.vec_id = c.query_id
         JOIN n b ON b.vec_id = c.neighbor_id),
       ranked AS (
         SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY cosine DESC, neighbor_id) AS rank
         FROM scored)
       SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5""",
    "sim_topk_brute" -> s"""WITH $qCte,
       scored AS (
         SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $cosSql AS cosine
         FROM n a JOIN n b ON a.vec_id < 20 AND a.vec_id <> b.vec_id),
       ranked AS (
         SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY cosine DESC, neighbor_id) AS rank
         FROM scored)
       SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5""",
    "sim_topk_filtered" -> s"""WITH $qCte,
       scored AS (
         SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                b.label AS neighbor_label, $cosSql AS cosine
         FROM n a JOIN n b
           ON a.vec_id < 20 AND a.vec_id <> b.vec_id AND b.label % 2 = 1),
       ranked AS (
         SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY cosine DESC, neighbor_id) AS rank
         FROM scored)
       SELECT query_id, neighbor_id, neighbor_label, cosine, rank
       FROM ranked WHERE rank <= 5""",
    "sim_topk_lsh" -> s"""WITH $qCte,
       bucketed AS (SELECT vec_id, qv, nrm, $sqlBucket AS bucket FROM n),
       scored AS (
         SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
                CAST(a.bucket AS BIGINT) AS bucket, $cosSql AS cosine
         FROM bucketed a JOIN bucketed b
           ON a.bucket = b.bucket AND a.vec_id < 20 AND a.vec_id <> b.vec_id),
       ranked AS (
         SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY cosine DESC, neighbor_id) AS rank
         FROM scored)
       SELECT query_id, neighbor_id, bucket, cosine, rank FROM ranked WHERE rank <= 5""",
    "sim_topk_ivf" -> s"""WITH $qCte,
       $sqlCentChain,
       scored AS (
         SELECT a.vec_id, cid,
           CAST(list_sum(list_transform(range(1, len(a.qv) + 1), i -> a.qv[i] * cqv[i])) AS DOUBLE) /
             (SQRT(CAST(a.nrm AS DOUBLE)) * SQRT(CAST(cnrm AS DOUBLE))) AS ccos
         FROM n a CROSS JOIN cent),
       ranked AS (
         SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                     ORDER BY ccos DESC, cid) AS crk,
                MAX(ccos) OVER (PARTITION BY vec_id) AS cbest
         FROM scored),
       assign AS (
         SELECT r.vec_id, r.cid AS cell, n.qv, n.nrm
         FROM ranked r JOIN n USING (vec_id) WHERE crk = 1),
       probecells AS (
         SELECT r.vec_id AS query_id, r.cid AS cell, n.qv AS pqv, n.nrm AS pnrm
         FROM ranked r JOIN n USING (vec_id)
         WHERE r.vec_id < 20
           AND (crk <= $IvfNprobe OR ccos >= cbest - $IvfProbeMargin)),
       cand AS (
         SELECT p.query_id, a.vec_id AS neighbor_id, p.cell,
           CAST(list_sum(list_transform(range(1, len(p.pqv) + 1), i -> p.pqv[i] * a.qv[i])) AS DOUBLE) /
             (SQRT(CAST(p.pnrm AS DOUBLE)) * SQRT(CAST(a.nrm AS DOUBLE))) AS cosine
         FROM probecells p JOIN assign a
           ON p.cell = a.cell AND a.vec_id <> p.query_id),
       topk AS (
         SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY cosine DESC, neighbor_id) AS rank
         FROM cand)
       SELECT query_id, neighbor_id, cell, cosine, rank FROM topk WHERE rank <= 5""",
    "sim_topk_ivf_filtered" -> s"""WITH $qCte,
       $sqlCentChain,
       scored AS (
         SELECT a.vec_id, cid,
           CAST(list_sum(list_transform(range(1, len(a.qv) + 1), i -> a.qv[i] * cqv[i])) AS DOUBLE) /
             (SQRT(CAST(a.nrm AS DOUBLE)) * SQRT(CAST(cnrm AS DOUBLE))) AS ccos
         FROM n a CROSS JOIN cent),
       ranked AS (
         SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                     ORDER BY ccos DESC, cid) AS crk,
                MAX(ccos) OVER (PARTITION BY vec_id) AS cbest
         FROM scored),
       assign AS (
         SELECT r.vec_id, r.cid AS cell, n.qv, n.nrm
         FROM ranked r JOIN n USING (vec_id) WHERE crk = 1 AND n.label % 2 = 1),
       probecells AS (
         SELECT r.vec_id AS query_id, r.cid AS cell, n.qv AS pqv, n.nrm AS pnrm
         FROM ranked r JOIN n USING (vec_id)
         WHERE r.vec_id < 20
           AND (crk <= $IvfNprobe OR ccos >= cbest - $IvfProbeMargin)),
       cand AS (
         SELECT p.query_id, a.vec_id AS neighbor_id, p.cell,
           CAST(list_sum(list_transform(range(1, len(p.pqv) + 1), i -> p.pqv[i] * a.qv[i])) AS DOUBLE) /
             (SQRT(CAST(p.pnrm AS DOUBLE)) * SQRT(CAST(a.nrm AS DOUBLE))) AS cosine
         FROM probecells p JOIN assign a
           ON p.cell = a.cell AND a.vec_id <> p.query_id),
       topk AS (
         SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY cosine DESC, neighbor_id) AS rank
         FROM cand)
       SELECT query_id, neighbor_id, cell, cosine, rank FROM topk WHERE rank <= 5""",
    "sim_range_count" -> s"""WITH $qCte
       SELECT a.vec_id AS query_id,
         CAST(SUM(CASE WHEN $cosSql >= 0.3 THEN 1 ELSE 0 END) AS BIGINT) AS n_in_range,
         MAX($cosSql) AS best_cosine
       FROM n a JOIN n b ON a.vec_id < 20 AND a.vec_id <> b.vec_id
       GROUP BY 1""",
  )
}
