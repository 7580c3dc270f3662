package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.QueryModule
import graft.core.Tables

/** Deduplication operators for a training-data pipeline, over `documents`
  * and `embeddings`:
  *
  *   - exact dedup (normalized-text `dropDuplicates`),
  *   - MinHash + LSH banding near-dup pairs (shingle → 16 signatures →
  *     8 bands → bucket join → exact-Jaccard verify),
  *   - SimHash (16-bit, md5-derived hyperplanes),
  *   - n-gram Jaccard pairwise similarity,
  *   - embedding-cosine near-dup pairs (quantized exact arithmetic).
  *
  * Engine-portability trick making all of this oracle-checkable: the hash
  * family is `md5(seed || value)` and MinHash takes the LEXICOGRAPHIC min of
  * the hex digests — uniform order statistics without any engine-specific
  * integer hash. SimHash bits come from hex digits of the same digests.
  * Cosines are computed over `floor(x*1000)` integer quantization so every
  * sum is exact and the final double division is bit-identical across
  * engines (no order-dependent float accumulation).
  *
  * Scale path (100 TB): the LSH join is the whole point — candidate pairs
  * come from an equi-join on (band, bucket-hash), never an O(n²) cross
  * product; the verify stage touches only candidates. Signatures are
  * per-row projections (codegen'd, no shuffle); the bucket join shuffles
  * (band_hash) keys which are ~uniform by construction (md5), so no skew.
  * The brute-force pair queries are deliberately bounded to a fixed probe
  * set (`doc_id`/`vec_id` predicates) — the pattern for "batch of new items
  * vs corpus", which is how near-dup screening runs incrementally.
  */
object DedupQueries extends QueryModule {

  private val K = 16 // minhash signatures; must be a multiple of 4 (digest slicing)
  private val B = 8  // bands of 2 signatures each
  require(K % 4 == 0, s"K=$K: digest slicing derives 4 signatures per md5")

  /** Adds `toks` + the distinct 3-gram shingle set `sh` to any frame with
    * a `text` column (shared with [[DedupIndex]], which shingles table
    * rows and probe batches rather than the corpus directory). The 3-gram
    * construction is the native [[graft.functions.Ngrams3]] (r21, guide §4:
    * one compiled pass instead of an interpreted transform lambda per
    * token); `array_distinct` stays the built-in — both produce the
    * first-occurrence order of the old
    * `array_distinct(transform(sequence(...), i -> concat_ws(' ', ...)))`,
    * and a null `text` shingles to an empty array, as its `array()` did. */
  private[graft] def shingleOf(df: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.withColumn("toks", TextQueries.toks(col("text")))
      .withColumn("sh", expr("array_distinct(coalesce(graft_ngrams3(toks), array()))"))
  }

  private def docs(s: SparkSession, d: String): DataFrame = {
    val raw = Tables.documents(s, d)
    // A small corpus arrives as a single-row-group parquet file → ONE scan
    // partition, serializing the shingle+md5 pipeline on one core. Widen to
    // the cluster's parallelism first (the raw-text shuffle is trivial next
    // to the per-shingle hashing it parallelizes). At real scale the scan
    // already has ≥ parallelism partitions and this is a no-op.
    val par = s.sparkContext.defaultParallelism
    val wide = if (raw.rdd.getNumPartitions < par) raw.repartition(par) else raw
    shingleOf(wide)
  }

  /** doc_id + 3-gram shingle set + the K lexicographic-min signatures.
    * Hashing cost is K/4 md5 calls per shingle, not K: each 128-bit digest
    * is sliced into four independent 32-bit (8-hex-char) chunks and the min
    * is taken per chunk — identical uniform order statistics (min of fixed-
    * width lowercase hex = numeric min), 4× less hashing on the hot path.
    * The four chunk minima per digest fold in ONE `aggregate` pass (struct
    * accumulator) instead of 4 transform+array_min passes — fewer
    * intermediate arrays, measurably faster on the signature hot path.
    * `'{'` (0x7b) sorts above every hex char, so it is the fold's top
    * sentinel; shingle-less docs get NULL sigs (array_min-on-empty
    * semantics, matching the oracle's list_aggregate 'min'). */
  /** Adds `sigs` (the K-element MinHash signature array) to a shingled
    * frame ([[shingleOf]] output). The md5-slice-min fold is the native
    * [[graft.functions.MinhashSigs]] expression (r21, guide §4): the old
    * form ran 4 interpreted `aggregate(transform(sh, md5(...)))` lambda
    * chains per row, allocating a 4-field struct per shingle per seed —
    * same digests, same minima, bit-identical sigs (empty-shingle docs get
    * NULL sig elements, the array_min-on-empty semantics the oracle's
    * list_aggregate 'min' shares). */
  private[operators] def signedOf(base: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(base.sparkSession)
    base.withColumn("sigs", expr("graft_minhash(sh)"))
  }

  private def signed(s: SparkSession, d: String): DataFrame =
    signedOf(docs(s, d))

  private[operators] def bandsOf(df: DataFrame): DataFrame = {
    // Band b pairs sig(b) and sig(b+B): with 4 signatures sliced per digest,
    // the two live in DIFFERENT md5 digests (seeds b/4 and b/4+2) — pairing
    // adjacent slices (sig 2b, 2b+1) would correlate the two hashes within a
    // band and weaken the minhash independence assumption.
    val bandCols = (0 until B).map(b =>
      expr(s"md5(concat('$b|', sigs[$b], sigs[${b + B}]))"))
    df.withColumn("band", explode(array(bandCols: _*)))
      .select("doc_id", "band")
  }

  // ---------------------------------------------------------------- queries

  /** Exact dedup: double the corpus, dropDuplicates on normalized text. */
  def exactDedup(s: SparkSession, d: String): DataFrame = {
    val doc = Tables.documents(s, d)
      .withColumn("norm", regexp_replace(lower(trim(col("text"))), "\\s+", " "))
    val doubled = doc.unionByName(doc)
    val nIn = doubled.agg(count(lit(1)).as("n_input"))
    val nOut = doubled.dropDuplicates("norm").agg(count(lit(1)).as("n_after_dedup"))
    nIn.crossJoin(nOut)
  }

  /** MinHash+LSH near-dup pairs verified with exact Jaccard ≥ 0.8. */
  def minhashPairs(s: SparkSession, d: String): DataFrame = {
    // Cache only what downstream stages read (doc_id, shingles, sigs) —
    // carrying text/toks through the cache roughly doubles materialization.
    val sig = signed(s, d)
      .select(col("doc_id"), col("sh"), col("sigs"))
      .cache()
    val bands = bandsOf(sig)
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
      // cached because it is REFERENCED TWICE below (one broadcast into
      // each signature probe): an uncached 2nd reference re-runs the whole
      // band explode + self-join + distinct over the corpus cache
      // (plan-audited: the two-half shape doubled the InMemoryTableScan
      // count from 8 to 24 before this). 2 bigint cols, candidate-bounded.
      .cache()
    val sa = sig.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val sb = sig.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    // Verify joins keyed the SCALE-correct way round: ONLY the bare 2-col
    // banded candidate list (a vanishing fraction of the corpus) is ever
    // broadcast — once into each signature probe, so the corpus-sized
    // signature frames STREAM through both (the planner's stats-derived
    // choice was to broadcast sa/sb themselves, which inverts at scale,
    // guide §3.1). The final pair-up of the two candidate-bounded halves
    // is deliberately UNHINTED: its sides carry the shingle arrays, whose
    // total size is corpus-growth-coupled under band skew, so the planner/
    // AQE must stay free to shuffle it rather than die at the 8 GB
    // broadcast cap (r20 verdict: never force-broadcast an array-carrying
    // candidate join). Inner equi-joins — row-identical.
    val withA = sa.join(broadcast(cand), "doc_a")
    val withB = sb.join(broadcast(cand), "doc_b")
    withA.join(withB, Seq("doc_a", "doc_b"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .filter(col("jaccard") >= 0.8)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Corpus split for the incremental screen: the top [[NewTailFrac]] of
    * the doc_id range is "the new batch", the rest "the already-ingested
    * corpus" — RELATIVE, so the batch:corpus ratio stays a realistic
    * daily-increment shape at every scale factor (a fixed id constant
    * inverts into batch ≫ corpus as the corpus grows). */
  private val NewTailFrac = 0.9

  /** INCREMENTAL near-dup screen — the shape dedup actually runs at
    * 100 TB: a batch of NEW documents is checked against the EXISTING
    * corpus (new × old banded equi-join), never the corpus against itself
    * (the full [[minhashPairs]] self-join is the one-time bootstrap; daily
    * ingest re-pairing the whole corpus would be quadratic in corpus
    * growth). Batch-internal duplicates are a separate pre-pass
    * ([[minhashPairs]] scoped to the batch) by design — this operator's
    * contract is exactly "which arrivals duplicate something we already
    * have". The persisted form of the corpus side is
    * [[DedupIndex]] (band sidecar + change-feed refresh, screen
    * row-identical to this in-query computation — spec'd parity); here
    * both sides derive in-query so the DuckDB oracle replays the whole
    * pipeline. */
  def incrementalScreen(s: SparkSession, d: String): DataFrame = {
    val sig = signed(s, d)
      .select(col("doc_id"), col("sh"), col("sigs"))
      .cache()
    // the split threshold rides the plan as a broadcast scalar — no
    // driver-side collect. floor() BEFORE the integer cast: a bare
    // double→long cast truncates in Spark but rounds in DuckDB, so the
    // two engines would disagree by 1 whenever max*frac has a fractional
    // part ≥ 0.5 — floor makes both sides exact (the repo-wide pattern,
    // e.g. floor(rate*65536) in TextQueries).
    val thr = sig.agg(
      floor(max(col("doc_id")) * NewTailFrac).cast("long").as("thr"))
    val sigT = sig.crossJoin(broadcast(thr))
    val newBands = bandsOf(sigT.filter(col("doc_id") >= col("thr")))
    val oldBands = bandsOf(sigT.filter(col("doc_id") < col("thr")))
    val cand = newBands.as("x").join(oldBands.as("y"),
        col("x.band") === col("y.band"))
      .select(col("x.doc_id").as("new_id"), col("y.doc_id").as("old_id"))
      .distinct()
      .cache() // referenced twice below — see minhashPairs
    val sn = sig.select(col("doc_id").as("new_id"), col("sh").as("sh_n"))
    val so = sig.select(col("doc_id").as("old_id"), col("sh").as("sh_o"))
    // only the 2-col candidate list is broadcast (into both probes); the
    // array-carrying pair-up stays unhinted (see minhashPairs)
    val withN = sn.join(broadcast(cand), "new_id")
    val withO = so.join(broadcast(cand), "old_id")
    withN.join(withO, Seq("new_id", "old_id"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_n"), col("sh_o"))).cast("double") /
          size(array_union(col("sh_n"), col("sh_o"))).cast("double"))
      .filter(col("jaccard") >= 0.8)
      .select("new_id", "old_id", "jaccard")
  }

  /** Near-dup cluster formation — the step after pair generation in a real
    * dedup pipeline: connected components over the verified MinHash pair
    * graph, labeled by each component's minimum doc_id. Implemented as
    * distributed min-label propagation iterated to fixpoint (every step is
    * a tiny equi-join + min-aggregate on the PAIR graph, whose size is the
    * LSH candidate output — orders of magnitude below the corpus);
    * `localCheckpoint` truncates lineage so the loop cannot grow the plan.
    * The label (= component minimum) is iteration-order independent, which
    * is what makes the result oracle-checkable against a recursive-CTE
    * transitive closure. */
  def clusters(s: SparkSession, d: String): DataFrame =
    connectedComponents(s, minhashPairs(s, d).select("doc_a", "doc_b"))
      .select(col("id").as("doc_id"), col("cluster"), col("n_members"))

  /** Canonical-document selection — the KEEP policy that turns near-dup
    * clusters into an actual dedup decision (the step every published
    * pipeline runs after clustering: keep ONE representative per cluster,
    * drop the rest). The representative is the cluster's highest
    * [[TextQueries.withQuality]] score, doc_id as the deterministic tie
    * break; the report is the per-source removal bill — docs and
    * whitespace-token mass dropped — the number a curation run budgets by.
    *
    * Scale shape: the cluster labels come from the banded pair list +
    * pointer-doubling CC (never all-pairs); the winner per cluster is ONE
    * argmax aggregation (`max(struct(score, -id))` — no window, map-side
    * combined), the join back is an equi-join on cluster, and the report
    * is a |sources|-row agg. Everything is bounded by CLUSTERED docs, a
    * small fraction of the corpus. */
  def keepBest(s: SparkSession, d: String): DataFrame = {
    val labeled = connectedComponents(s, minhashPairs(s, d)
        .select("doc_a", "doc_b"))
      .select(col("id").as("doc_id"), col("cluster"))
    // Quality is scored AFTER pruning to the clustered docs (broadcast
    // join on the CC output — a vanishing corpus fraction): the previous
    // form ran the tokenize+quality projection over the WHOLE corpus and
    // paid a second full documents scan for `source`, then inner-joined
    // the tiny label set anyway — all of that per-doc work was thrown
    // away for every unclustered doc (guide §1.2: don't compute what you
    // discard). Per-doc quality is a pure projection, so scoring the
    // pruned rows is row-identical.
    val member = graft.core.Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("text"))
      .join(broadcast(labeled), "doc_id")
      .withColumn("toks", TextQueries.toks(col("text")))
      .transform(TextQueries.withQuality)
      .select(col("doc_id"), col("cluster"), col("source"),
        col("n_tokens"), col("quality_score"))
    val winners = member.groupBy("cluster")
      .agg(max(struct(col("quality_score"),
        (-col("doc_id")).as("neg_id"))).as("w"))
    val marked = member.join(winners, "cluster")
      .withColumn("kept",
        col("quality_score") === col("w.quality_score") &&
          -col("doc_id") === col("w.neg_id"))
    marked.groupBy("source").agg(
      count(lit(1)).as("clustered_docs"),
      sum(col("kept").cast("long")).as("kept_docs"),
      sum((!col("kept")).cast("long")).as("removed_docs"),
      sum(when(!col("kept"), col("n_tokens")).otherwise(lit(0L)))
        .as("removed_tokens"))
  }

  /** Distributed connected components over an undirected pair list
    * (`doc_a`, `doc_b`): min-label propagation ACCELERATED by pointer
    * doubling, to fixpoint. Labels = component minimum (iteration-order
    * independent). Returns (id, cluster, n_members) for every node
    * appearing in a pair.
    *
    * Convergence: plain propagation needs ~diameter rounds — a 1000-doc
    * near-dup chain (routine in a crawled corpus: A≈B≈C≈…) would need 1000
    * shuffles. Each round here additionally shortcuts `label(x) ←
    * label(label(x))` (path halving, the Shiloach–Vishkin / large-star
    * idea), so the distance a label travels doubles per round and the loop
    * converges in O(log diameter) rounds (≤ 64 covers any 64-bit-id graph).
    * Exiting unconverged is a SILENT wrong answer for a dedup pipeline, so
    * it throws instead.
    *
    * The pair graph is materialized once and partitioned to ITS size (one
    * partition per ~1M pairs), not the upstream scan's: every propagation
    * step is a join on this frame, and wide exchanges over a few-hundred-row
    * graph would pay ~32 task launches per tiny stage. `localCheckpoint`
    * truncates lineage so the loop cannot grow the plan; each round's blocks
    * are unpersisted as soon as the next round's frame is materialized, so
    * block-manager usage is O(graph), not O(graph × rounds). */
  /** Eager localCheckpoint plus a thunk that frees its blocks — an
    * iterative loop that checkpoints per round would otherwise hold every
    * round's blocks until the ContextCleaner happens to GC them
    * ([[graft.core.Pin]] has the full rationale). */
  private def checkpointed(df: DataFrame): (DataFrame, () => Unit) =
    graft.core.Pin(df)

  /** Rounds the most recent [[connectedComponents]] call took to converge —
    * scale observability for the stress suite (pointer doubling must keep
    * this O(log diameter), not O(diameter)). Driver-side, last-call-wins;
    * not meaningful under concurrent CC runs. */
  @volatile private[graft] var lastCcRounds: Int = -1

  def connectedComponents(s: SparkSession, pairList: DataFrame): DataFrame = {
    val (rawPairs, freeRaw) = checkpointed(pairList)
    val nPairs = rawPairs.count()
    val parts = math.max(1L, math.min(nPairs / 1000000L,
      s.sparkContext.defaultParallelism.toLong)).toInt
    val pairs = rawPairs.repartition(parts)
    val (edges, freeEdges) = checkpointed(pairs.unionByName(
      pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b"))))
    freeRaw()
    // Initialize labels at the ROUND-1 state directly: label₀ =
    // min(id, min 1-hop neighbor) is one aggregation over the (symmetric)
    // edge list — exactly what the first propagation round would produce,
    // for one groupBy instead of a join+window+checkpoint+count round.
    // Any init that is an upper bound ≥ the component minimum converges to
    // the same fixpoint, so the oracle answer is unchanged.
    var (labels, freeLabels) = checkpointed(
      edges.groupBy(col("doc_a").as("id"))
        .agg(least(min(col("doc_b")), min(col("doc_a"))).as("label")))
    var changed = 1L
    var iter = 0
    val maxIter = 64
    while (changed > 0 && iter < maxIter) {
      // 1-hop propagation AND pointer doubling in ONE join+aggregate:
      // label(label(x)) is exactly a propagation step over the auxiliary
      // edge (x → label(x)) (labels only ever take node-id values, so the
      // lookup always resolves), so augmenting the edge list with the
      // current label edges lets min-over-neighbors compute
      // min(nlabel, hlabel) in the same aggregation — the previous form
      // paid a separate labels self-join plus a second left join per
      // round; per-round result is identical (least of the same three
      // values), so convergence and the fixpoint are unchanged.
      val aug = edges.unionByName(
        labels.select(col("id").as("doc_a"), col("label").as("doc_b")))
      val prop = aug.join(labels, col("doc_b") === col("id"))
        .groupBy(col("doc_a").as("pid")).agg(min("label").as("nlabel"))
      // carry the previous label in the checkpointed frame: the convergence
      // count then reads it directly instead of paying a join per iteration
      val (next, freeNext) = checkpointed(labels
        .join(prop, col("id") === col("pid"), "left")
        .select(col("id"),
          least(col("label"),
            coalesce(col("nlabel"), col("label"))).as("label"),
          col("label").as("prev")))
      changed = next.filter(col("label") =!= col("prev")).count()
      freeLabels() // previous round's checkpoint blocks
      labels = next.drop("prev")
      freeLabels = freeNext
      iter += 1
    }
    freeEdges()
    lastCcRounds = iter
    require(changed == 0,
      s"connectedComponents did not converge after $maxIter rounds " +
        s"($changed labels still changing) — result would be silently wrong")
    val sizes = labels.groupBy(col("label").as("cluster"))
      .agg(count(lit(1)).as("n_members"))
    labels.select(col("id"), col("label").as("cluster"))
      .join(sizes, "cluster")
      .select("id", "cluster", "n_members")
  }

  /** Winnowing fingerprint near-dup pairs (Schleimer/Wilkerson/Aiken, the
    * MOSS scheme — the rolling-hash fingerprinting named in the pipeline
    * brief): per document, Rabin-Karp polynomial hashes of all character
    * k-grams (k=8, base 257 mod 2^31-1, Horner with per-step mod so every
    * intermediate fits a long in both engines), then the minimum of each
    * sliding window of w=4 consecutive hashes, distinct, is the
    * fingerprint set. Near-dups share fingerprints, so candidate pairs
    * come from an EQUI-JOIN on fingerprint value (the same scale shape as
    * the LSH bucket join — never all-pairs) over a bounded probe set,
    * scored by overlap coefficient |A∩B| / min(|A|,|B|).
    *
    * All-integer arithmetic (character codepoints, modular Horner, integer
    * counts) makes the whole pipeline bit-identical in DuckDB; the only
    * double is the final ratio of two integers. */
  def winnowPairs(s: SparkSession, d: String): DataFrame =
    winnowPairsOf(docs(s, d).filter(col("doc_id") < 50))

  /** Same pipeline over any (doc_id, text) frame — separated so specs can
    * drive it on synthetic documents with hand-checkable overlaps. */
  private[graft] def winnowPairsOf(docsDf: DataFrame): DataFrame = {
    // The whole per-document fingerprint pipeline (codepoints → K=8
    // Rabin-Karp k-gram hashes → W=4 window minima → distinct) is the
    // native [[graft.functions.WinnowFps]] expression (r21, guide §4):
    // the interpreted form ran ~12 lambda invocations per CHARACTER per
    // document; values are identical — same modular Horner on the same
    // codepoints, same window minima, same distinct. (History: the r20
    // in-language Horner unroll was measured-and-rejected at 1.51→2.41 s
    // because it STAYED interpreted and just flattened the tree; the
    // compiled pass is the form that actually removes the lambda tax.)
    graft.functions.GraftFunctions.register(docsDf.sparkSession)
    val fp = docsDf
      .withColumn("norm", regexp_replace(lower(trim(col("text"))), "\\s+", " "))
      .withColumn("fps", expr("graft_winnow(norm)"))
      .select(col("doc_id"), col("fps"), size(col("fps")).as("n_fp"))
    val ex = fp.select(col("doc_id"), col("n_fp"), explode(col("fps")).as("h"))
    ex.as("a").join(ex.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n_fp").as("nfa"), col("b.n_fp").as("nfb"))
      .agg(countDistinct(col("a.h")).as("n_shared"))
      .withColumn("overlap",
        col("n_shared").cast("double") / least(col("nfa"), col("nfb")).cast("double"))
      .filter(col("overlap") >= 0.2) // max observed overlap on this corpus ≈ 0.29
      .select("doc_a", "doc_b", "n_shared", "overlap")
  }

  /** 16-bit SimHash per document (frequency-weighted token hyperplanes).
    *
    * (r20, measured and rejected: folding all 16 bit counters into ONE
    * aggregate pass with md5 bound once per token via a struct
    * accumulator — the per-token 16-field struct allocation in the
    * interpreted lambda cost MORE than the 16 repeated md5 calls it
    * saved (0.30 → 0.48 s at sf0.1) and its allocation churn taxed the
    * rest of the bench round. The 16-filter projection stands.) */
  def simhash(s: SparkSession, d: String): DataFrame = {
    val bitSums = (0 until 16).map { b =>
      val pos = b / 4 + 1
      val shift = b % 4
      // tokens whose md5-derived bit b is 1
      expr(s"""size(filter(toks, t ->
           ((instr('0123456789abcdef', substring(md5(t), $pos, 1)) - 1) >> $shift) & 1 = 1))""")
        .as(s"c$b")
    }
    val withCounts = docs(s, d).select(col("doc_id") +: col("toks") +: bitSums: _*)
    // NB: '+' binds tighter than '<<' in both Spark SQL and DuckDB — each
    // shift term needs its own parentheses.
    val hashExpr = (0 until 16).map { b =>
      s"((CASE WHEN 2 * c$b - size(toks) > 0 THEN 1 ELSE 0 END) << $b)"
    }.mkString(" + ")
    withCounts
      .withColumn("simhash", expr(hashExpr).cast("long"))
      .select("doc_id", "simhash")
  }

  /** Pairwise token-set (1-gram) Jaccard for a bounded probe set
    * (doc_id < 50) against itself — the standalone similarity operator
    * without LSH pruning. (3-gram Jaccard is exercised by the MinHash
    * verify stage; token-set overlap carries real signal on this corpus.) */
  def ngramJaccard(s: SparkSession, d: String): DataFrame = {
    val g = docs(s, d).filter(col("doc_id") < 50)
      .select(col("doc_id"), array_distinct(col("toks")).as("ts"))
    g.as("a").join(g.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (size(array_intersect(col("a.ts"), col("b.ts"))).cast("double") /
          size(array_union(col("a.ts"), col("b.ts"))).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
  }

  /** Embedding near-dup pairs: probe batch (vec_id < 200) vs corpus, exact
    * quantized cosine ≥ 0.4. */
  def embeddingPairs(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val q = Tables.embeddings(s, d)
      .withColumn("qv", expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))"))
      .withColumn("nrm", expr("graft_dot(qv, qv)"))
      .select("vec_id", "qv", "nrm")
    val probes = q.filter(col("vec_id") < 200)
    probes.as("a").join(q.as("b"), col("a.vec_id") < col("b.vec_id"))
      .withColumn("dot", expr("graft_dot(a.qv, b.qv)"))
      .withColumn("cosine",
        col("dot").cast("double") /
          (sqrt(col("a.nrm").cast("double")) * sqrt(col("b.nrm").cast("double"))))
      .filter(col("cosine") >= 0.4)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"), col("cosine"))
  }

  /** LSH-sourced candidate pairs for embedding cluster formation: the
    * multi-table SRP bucket equi-join from [[SimilarityQueries]]
    * (OR-amplified over 4 tables) generates candidates, then exact
    * quantized cosine ≥ 0.4 verifies them — the production near-dup shape
    * (hash-join on (table, bucket), never a probe × corpus theta join).
    * Pruning is ~(2^planes)/L ≈ 4× fewer exact cosines here, and the join
    * is a hash join instead of a nested loop; LSH misses are inherent to
    * the method and the DuckDB oracle reproduces the identical bucket
    * arithmetic, so the pruned graph is still hash-checked. */
  private def embeddingCandidatePairs(s: SparkSession, d: String): DataFrame = {
    val q = SimilarityQueries.quantized(s, d)
    // the (vec_id, t, b) bucket table is 3 narrow cols but costs 32
    // graft_dot evaluations per vector to build — cached so the self-join
    // below (two references) computes it once (r21, guide §1.2)
    val tb = SimilarityQueries.multiBuckets(q).cache()
    val cand = tb.filter(col("vec_id") < 200).as("x")
      .join(tb.as("y"),
        col("x.t") === col("y.t") && col("x.b") === col("y.b") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_a"), col("y.vec_id").as("vec_b"))
      .distinct()
      .cache() // referenced twice below — see minhashPairs
    // only the bare 2-col candidate list is broadcast (into both probes);
    // the corpus vectors stream through each, and the vector-carrying
    // pair-up of the two halves stays UNHINTED so the planner/AQE can
    // shuffle it — a forced broadcast there is corpus-growth-coupled
    // under bucket skew (see minhashPairs)
    val withA = q.select(col("vec_id").as("vec_a"), col("qv").as("qa"),
        col("nrm").as("na"))
      .join(broadcast(cand), "vec_a")
    val withB = q.select(col("vec_id").as("vec_b"), col("qv").as("qb"),
        col("nrm").as("nb"))
      .join(broadcast(cand), "vec_b")
    withA.join(withB, Seq("vec_a", "vec_b"))
      .withColumn("cosine",
        expr("graft_dot(qa, qb)").cast("double") /
          (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
      .filter(col("cosine") >= 0.4)
      .select("vec_a", "vec_b")
  }

  /** Same cluster formation reused over the embedding-cosine pair graph —
    * the operator is pair-source agnostic. Pairs come from the LSH bucket
    * join, not the exact all-pairs probe join ([[embeddingPairs]] remains
    * the exactness baseline). */
  def embeddingClusters(s: SparkSession, d: String): DataFrame =
    connectedComponents(s, embeddingCandidatePairs(s, d)
        .select(col("vec_a").as("doc_a"), col("vec_b").as("doc_b")))
      .select(col("id").as("vec_id"), col("cluster"), col("n_members"))

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic near-dup
    * removal with the pairwise quadratic BOUNDED BY CLUSTERING — vectors
    * are first assigned to their trained IVF cell
    * ([[SimilarityQueries.assignedToCells]]), exact quantized cosine runs
    * only WITHIN a cell (Σ|cell|² work, never corpus², the paper's core
    * trick), duplicate groups are closed transitively (pointer-doubling
    * [[connectedComponents]] — pairs never cross cells, so components
    * stay cell-local), and each group keeps its min-id representative.
    * Per-cell retention report. Cross-cell near-dups are inherently
    * missed — that is SemDeDup's stated recall trade, and the oracle
    * replays the identical cell geometry so the pruned answer is still
    * hash-checked. At 100 TB: the assignment is the persisted
    * cell-partitioned IVF table, and within-cell self-joins shuffle on
    * `cid` — dense cells bound memory, not the corpus. */
  def semanticDedup(s: SparkSession, d: String): DataFrame = {
    // assignment (corpus × broadcast-centroid join + per-vector argmax
    // window) is referenced THREE times below (both sides of the
    // within-cell self-join + the retention rollup) — cached so it runs
    // once (r21, guide §1.2; the sig-cache discipline of minhashPairs)
    val assigned = SimilarityQueries.assignedToCells(s, d).cache()
    val pairs = assigned.as("x").join(assigned.as("y"),
        col("x.cid") === col("y.cid") && col("x.vec_id") < col("y.vec_id"))
      .withColumn("cosine", expr("graft_dot(x.qv, y.qv)").cast("double") /
        (sqrt(col("x.nrm").cast("double")) * sqrt(col("y.nrm").cast("double"))))
      .filter(col("cosine") >= SemDedupTau)
      .select(col("x.vec_id").as("doc_a"), col("y.vec_id").as("doc_b"))
    val cc = connectedComponents(s, pairs)
      .select(col("id").as("vec_id"), col("cluster"))
    assigned.join(cc, Seq("vec_id"), "left")
      .withColumn("kept",
        col("cluster").isNull || col("cluster") === col("vec_id"))
      .groupBy(col("cid"))
      .agg(
        count(lit(1)).as("n_vecs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"))
      .select(col("cid"), col("n_vecs"), col("n_kept"),
        (col("n_vecs") - col("n_kept")).as("n_dropped"),
        ((col("n_vecs") - col("n_kept")).cast("double") /
          col("n_vecs").cast("double")).as("drop_frac"))
  }

  /** SemDeDup similarity threshold: the corpus is random-ish, so 0.4 (the
    * same bar the exact embedding near-dup queries use) marks the
    * semantically-redundant tail rather than the paper's 0.95+ web-dup
    * bar. */
  private val SemDedupTau = 0.4

  /** Cross-source near-duplicate LEAKAGE matrix — the contamination
    * report a source-mixed training corpus needs before anyone trusts a
    * held-out source as an eval set: the same banded MinHash candidate
    * generation as [[minhashPairs]] (never all-pairs), verified pairs
    * restricted to DIFFERENT sources, rolled up per unordered source
    * pair with the distinct leaked documents counted on each side.
    * The VERIFIED PAIRS are the broadcast side of both source joins —
    * they passed a 0.8-Jaccard bar, a vanishing fraction of the corpus —
    * while the corpus-sized (doc_id, source) projection streams through
    * as the probe side (broadcasting it instead would push billions of
    * rows through the driver at 100 TB). */
  def crossSourceLeakage(s: SparkSession, d: String): DataFrame = {
    val sig = signed(s, d)
      .select(col("doc_id"), col("sh"), col("sigs"))
      .cache()
    val bands = bandsOf(sig)
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
      .cache() // referenced twice below — see minhashPairs
    val sa = sig.select(col("doc_id").as("doc_a"), col("sh").as("sh_a"))
    val sb = sig.select(col("doc_id").as("doc_b"), col("sh").as("sh_b"))
    // only the 2-col candidate list is broadcast (into both probes); the
    // shingle-carrying pair-up stays unhinted (see minhashPairs)
    val verified = sa.join(broadcast(cand), "doc_a")
      .join(sb.join(broadcast(cand), "doc_b"), Seq("doc_a", "doc_b"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))).cast("double"))
      .filter(col("jaccard") >= 0.8)
      .select("doc_a", "doc_b")
      // cached: the verified pair list (already a vanishing corpus
      // fraction after the 0.8 bar) is referenced twice by the source
      // attach — uncached, each reference re-runs the ENTIRE verify
      // pipeline (bands + self-join + both probes + pair-up)
      .cache()
    val srcs = Tables.documents(s, d).select(col("doc_id"), col("source"))
    // same discipline for the source attach: the bare 2-col verified pair
    // list is broadcast into BOTH (doc_id, source) probes; the pair-up of
    // the two narrow halves is unhinted
    val withA = srcs.select(col("doc_id").as("doc_a"), col("source").as("src_a"))
      .join(broadcast(verified), "doc_a")
    val withB = srcs.select(col("doc_id").as("doc_b"), col("source").as("src_b"))
      .join(broadcast(verified), "doc_b")
    withA.join(withB, Seq("doc_a", "doc_b"))
      .filter(col("src_a") =!= col("src_b"))
      .withColumn("src_lo", least(col("src_a"), col("src_b")))
      .withColumn("src_hi", greatest(col("src_a"), col("src_b")))
      .groupBy("src_lo", "src_hi")
      .agg(
        count(lit(1)).as("n_pairs"),
        countDistinct(when(col("src_a") === col("src_lo"), col("doc_a"))
          .otherwise(col("doc_b"))).as("n_docs_lo"),
        countDistinct(when(col("src_a") === col("src_lo"), col("doc_b"))
          .otherwise(col("doc_a"))).as("n_docs_hi"))
  }

  val queries: Map[String, Q] = Map(
    "dedup_clusters" -> (clusters _),
    "dedup_keep_best" -> (keepBest _),
    "dedup_embedding_clusters" -> (embeddingClusters _),
    "dedup_exact" -> (exactDedup _),
    "dedup_minhash_pairs" -> (minhashPairs _),
    "dedup_incremental" -> (incrementalScreen _),
    "dedup_simhash" -> (simhash _),
    "dedup_winnow_pairs" -> (winnowPairs _),
    "dedup_ngram_jaccard" -> (ngramJaccard _),
    "dedup_embedding_pairs" -> (embeddingPairs _),
    "dedup_semantic" -> (semanticDedup _),
    "dedup_cross_source" -> (crossSourceLeakage _),
  )

  // ----------------------------------------------------------------- oracle

  private val docsCte =
    """docs AS (
         SELECT doc_id, text,
                regexp_split_to_array(trim(text), '\s+') AS toks
         FROM documents),
       shingled AS (
         SELECT doc_id, toks,
                CASE WHEN len(toks) >= 3
                     THEN list_distinct(list_transform(range(1, len(toks) - 1),
                            i -> array_to_string(toks[i:i+2], ' ')))
                     ELSE [] END AS sh
         FROM docs)"""

  private val sigSelect = (0 until K).map { k =>
    val (sd, c) = (k / 4, k % 4)
    s"list_aggregate(list_transform(sh, x -> substring(md5('$sd|' || x), ${c * 8 + 1}, 8)), 'min') AS sig$k"
  }.mkString(", ")

  private val bandList = (0 until B).map(b =>
    s"md5('$b|' || sig$b || sig${b + B})").mkString("[", ", ", "]")

  val oracleSql: Map[String, String] = Map(
    "dedup_keep_best" -> s"""WITH RECURSIVE $docsCte,
         sig AS (SELECT doc_id, sh, $sigSelect FROM shingled),
         bands AS (SELECT doc_id, UNNEST($bandList) AS band FROM sig),
         cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
                  FROM bands x JOIN bands y
                  ON x.band = y.band AND x.doc_id < y.doc_id),
         pairs AS (
           SELECT doc_a, doc_b FROM cand
           JOIN sig a ON a.doc_id = doc_a
           JOIN sig b ON b.doc_id = doc_b
           WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                 CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.8),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                   UNION ALL SELECT doc_b, doc_a FROM pairs),
         reach(src, dst) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         labels AS (SELECT src AS doc_id, MIN(dst) AS cluster FROM reach GROUP BY 1),
         qdocs AS (
           SELECT doc_id, src.source,
                  CAST(len(toks) AS BIGINT) AS n_tokens,
                  ${TextQueries.sqlQuality} AS quality_score
           FROM docs
           JOIN (SELECT doc_id, source FROM documents) src USING (doc_id)),
         member AS (
           SELECT l.cluster, q.doc_id, q.source, q.n_tokens, q.quality_score,
                  ROW_NUMBER() OVER (PARTITION BY l.cluster
                    ORDER BY q.quality_score DESC, q.doc_id ASC) AS rn
           FROM labels l JOIN qdocs q USING (doc_id))
       SELECT source,
         CAST(COUNT(*) AS BIGINT) AS clustered_docs,
         CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
         CAST(SUM(CASE WHEN rn = 1 THEN 0 ELSE 1 END) AS BIGINT) AS removed_docs,
         CAST(SUM(CASE WHEN rn = 1 THEN 0 ELSE n_tokens END) AS BIGINT) AS removed_tokens
       FROM member GROUP BY 1""",
    "dedup_semantic" -> s"""WITH RECURSIVE ${SimilarityQueries.qCte},
         ${SimilarityQueries.sqlCentChain},
         ${SimilarityQueries.sqlAssignFinal},
         spairs AS (
           SELECT x.vec_id AS src, y.vec_id AS dst
           FROM afinal x JOIN afinal y ON x.cid = y.cid AND x.vec_id < y.vec_id
           JOIN n a ON a.vec_id = x.vec_id
           JOIN n b ON b.vec_id = y.vec_id
           WHERE CAST(list_sum(list_transform(range(1, len(a.qv) + 1), i -> a.qv[i] * b.qv[i])) AS DOUBLE) /
                 (SQRT(CAST(a.nrm AS DOUBLE)) * SQRT(CAST(b.nrm AS DOUBLE))) >= 0.4),
         sedges AS (SELECT src, dst FROM spairs
                    UNION ALL SELECT dst, src FROM spairs),
         sreach(src, dst) AS (
           SELECT DISTINCT src, src FROM sedges
           UNION
           SELECT r.src, e.dst FROM sreach r JOIN sedges e ON r.dst = e.src),
         slabels AS (SELECT src AS vec_id, MIN(dst) AS cluster
                     FROM sreach GROUP BY 1)
       SELECT f.cid,
         CAST(COUNT(*) AS BIGINT) AS n_vecs,
         CAST(SUM(CASE WHEN l.cluster IS NULL OR l.cluster = f.vec_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         CAST(SUM(CASE WHEN l.cluster IS NULL OR l.cluster = f.vec_id THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
         CAST(SUM(CASE WHEN l.cluster IS NULL OR l.cluster = f.vec_id THEN 0 ELSE 1 END) AS DOUBLE) / COUNT(*) AS drop_frac
       FROM afinal f LEFT JOIN slabels l ON l.vec_id = f.vec_id
       GROUP BY 1""",
    "dedup_clusters" -> s"""WITH RECURSIVE $docsCte,
         sig AS (SELECT doc_id, sh, $sigSelect FROM shingled),
         bands AS (SELECT doc_id, UNNEST($bandList) AS band FROM sig),
         cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
                  FROM bands x JOIN bands y
                  ON x.band = y.band AND x.doc_id < y.doc_id),
         pairs AS (
           SELECT doc_a, doc_b FROM cand
           JOIN sig a ON a.doc_id = doc_a
           JOIN sig b ON b.doc_id = doc_b
           WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                 CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.8),
         edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                   UNION ALL SELECT doc_b, doc_a FROM pairs),
         reach(src, dst) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         labels AS (SELECT src AS doc_id, MIN(dst) AS cluster FROM reach GROUP BY 1),
         sizes AS (SELECT cluster, COUNT(*) AS n_members FROM labels GROUP BY 1)
       SELECT l.doc_id, l.cluster, s.n_members
       FROM labels l JOIN sizes s USING (cluster)""",
    "dedup_embedding_clusters" ->
      s"""WITH RECURSIVE q AS (
           SELECT vec_id,
             list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
           FROM embeddings),
         n AS (
           SELECT vec_id, qv,
             list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * qv[i])) AS nrm
           FROM q),
         mtb AS (${SimilarityQueries.sqlMultiTb}),
         cand AS (
           SELECT DISTINCT x.vec_id AS va, y.vec_id AS vb
           FROM mtb x JOIN mtb y
             ON x.t = y.t AND x.b = y.b
            AND x.vec_id < 200 AND x.vec_id < y.vec_id),
         pairs AS (
           SELECT va AS src0, vb AS dst0
           FROM cand
           JOIN n a ON a.vec_id = va
           JOIN n b ON b.vec_id = vb
           WHERE CAST(list_sum(list_transform(range(1, len(a.qv) + 1), i -> a.qv[i] * b.qv[i])) AS DOUBLE) /
                 (SQRT(CAST(a.nrm AS DOUBLE)) * SQRT(CAST(b.nrm AS DOUBLE))) >= 0.4),
         edges AS (SELECT src0 AS src, dst0 AS dst FROM pairs
                   UNION ALL SELECT dst0, src0 FROM pairs),
         reach(src, dst) AS (
           SELECT DISTINCT src, src FROM edges
           UNION
           SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
         labels AS (SELECT src AS vec_id, MIN(dst) AS cluster FROM reach GROUP BY 1),
         sizes AS (SELECT cluster, COUNT(*) AS n_members FROM labels GROUP BY 1)
       SELECT l.vec_id, l.cluster, s.n_members
       FROM labels l JOIN sizes s USING (cluster)""",
    "dedup_exact" ->
      """WITH u AS (
           SELECT regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
           FROM documents
           UNION ALL
           SELECT regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
           FROM documents)
         SELECT (SELECT COUNT(*) FROM u) AS n_input,
                (SELECT COUNT(DISTINCT norm) FROM u) AS n_after_dedup""",
    "dedup_minhash_pairs" -> s"""WITH $docsCte,
         sig AS (SELECT doc_id, sh, $sigSelect FROM shingled),
         bands AS (SELECT doc_id, UNNEST($bandList) AS band FROM sig),
         cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
                  FROM bands x JOIN bands y
                  ON x.band = y.band AND x.doc_id < y.doc_id)
       SELECT doc_a, doc_b,
         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS jaccard
       FROM cand
       JOIN sig a ON a.doc_id = doc_a
       JOIN sig b ON b.doc_id = doc_b
       WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
             CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.8""",
    "dedup_cross_source" -> s"""WITH $docsCte,
         sig AS (SELECT doc_id, sh, $sigSelect FROM shingled),
         bands AS (SELECT doc_id, UNNEST($bandList) AS band FROM sig),
         cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
                  FROM bands x JOIN bands y
                  ON x.band = y.band AND x.doc_id < y.doc_id),
         verified AS (
           SELECT doc_a, doc_b FROM cand
           JOIN sig a ON a.doc_id = doc_a
           JOIN sig b ON b.doc_id = doc_b
           WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                 CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.8),
         tagged AS (
           SELECT v.doc_a, v.doc_b, da.source AS src_a, db.source AS src_b
           FROM verified v
           JOIN documents da ON da.doc_id = v.doc_a
           JOIN documents db ON db.doc_id = v.doc_b
           WHERE da.source <> db.source)
       SELECT LEAST(src_a, src_b) AS src_lo,
              GREATEST(src_a, src_b) AS src_hi,
              CAST(COUNT(*) AS BIGINT) AS n_pairs,
              CAST(COUNT(DISTINCT CASE WHEN src_a = LEAST(src_a, src_b)
                   THEN doc_a ELSE doc_b END) AS BIGINT) AS n_docs_lo,
              CAST(COUNT(DISTINCT CASE WHEN src_a = LEAST(src_a, src_b)
                   THEN doc_b ELSE doc_a END) AS BIGINT) AS n_docs_hi
       FROM tagged GROUP BY 1, 2""",
    "dedup_incremental" -> s"""WITH $docsCte,
         sig AS (SELECT doc_id, sh, $sigSelect FROM shingled),
         bands AS (SELECT doc_id, UNNEST($bandList) AS band FROM sig),
         thr AS (SELECT CAST(FLOOR(MAX(doc_id) * $NewTailFrac) AS BIGINT) AS t FROM docs),
         cand AS (SELECT DISTINCT x.doc_id AS new_id, y.doc_id AS old_id
                  FROM bands x JOIN bands y ON x.band = y.band
                  CROSS JOIN thr
                  WHERE x.doc_id >= thr.t AND y.doc_id < thr.t)
       SELECT new_id, old_id,
         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
         CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS jaccard
       FROM cand
       JOIN sig a ON a.doc_id = new_id
       JOIN sig b ON b.doc_id = old_id
       WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
             CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) >= 0.8""",
    "dedup_simhash" -> {
      val cs = (0 until 16).map { b =>
        val pos = b / 4 + 1
        val shift = b % 4
        s"""len(list_filter(toks, t ->
            ((strpos('0123456789abcdef', substring(md5(t), $pos, 1)) - 1) >> $shift) & 1 = 1)) AS c$b"""
      }.mkString(", ")
      val h = (0 until 16).map(b =>
        s"((CASE WHEN 2 * c$b - len(toks) > 0 THEN 1 ELSE 0 END) << $b)").mkString(" + ")
      s"""WITH $docsCte,
          counts AS (SELECT doc_id, toks, $cs FROM shingled)
        SELECT doc_id, CAST($h AS BIGINT) AS simhash FROM counts"""
    },
    "dedup_winnow_pairs" ->
      """WITH norm AS (
           SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
           FROM documents WHERE doc_id < 50),
         cp AS (
           SELECT doc_id,
             list_transform(range(1, length(norm) + 1),
               p -> CAST(ord(substring(norm, p, 1)) AS BIGINT)) AS cps
           FROM norm),
         hs AS (
           SELECT doc_id,
             CASE WHEN len(cps) >= 8 THEN
               list_transform(range(0, len(cps) - 7),
                 p -> list_reduce(list_transform(range(1, 9), i -> cps[p + i]),
                   (acc, c) -> (acc * 257 + c) % 2147483647))
             ELSE [] END AS hashes
           FROM cp),
         fp AS (
           SELECT doc_id,
             CASE WHEN len(hashes) >= 4 THEN
               list_distinct(list_transform(range(0, len(hashes) - 3),
                 q -> list_min(hashes[q + 1 : q + 4])))
             ELSE [] END AS fps
           FROM hs),
         sized AS (SELECT doc_id, fps, len(fps) AS n_fp FROM fp),
         ex AS (SELECT doc_id, n_fp, UNNEST(fps) AS h FROM sized),
         pairs AS (
           SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_fp AS nfa, b.n_fp AS nfb,
                  COUNT(DISTINCT a.h) AS n_shared
           FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
           GROUP BY 1, 2, 3, 4)
         SELECT doc_a, doc_b, n_shared,
                CAST(n_shared AS DOUBLE) / CAST(LEAST(nfa, nfb) AS DOUBLE) AS overlap
         FROM pairs
         WHERE CAST(n_shared AS DOUBLE) / CAST(LEAST(nfa, nfb) AS DOUBLE) >= 0.2""",
    "dedup_ngram_jaccard" -> s"""WITH $docsCte,
       ts AS (SELECT doc_id, list_distinct(toks) AS ts FROM shingled WHERE doc_id < 50)
       SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE) /
         CAST(len(list_distinct(list_concat(a.ts, b.ts))) AS DOUBLE) AS jaccard
       FROM ts a JOIN ts b ON a.doc_id < b.doc_id
       WHERE CAST(len(list_intersect(a.ts, b.ts)) AS DOUBLE) /
             CAST(len(list_distinct(list_concat(a.ts, b.ts))) AS DOUBLE) >= 0.5""",
    "dedup_embedding_pairs" ->
      """WITH q AS (
           SELECT vec_id,
             list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
           FROM embeddings),
         n AS (
           SELECT vec_id, qv,
             list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * qv[i])) AS nrm
           FROM q)
         SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           CAST(list_sum(list_transform(range(1, len(a.qv) + 1), i -> a.qv[i] * b.qv[i])) AS DOUBLE) /
           (SQRT(CAST(a.nrm AS DOUBLE)) * SQRT(CAST(b.nrm AS DOUBLE))) AS cosine
         FROM n a JOIN n b ON a.vec_id < b.vec_id
         WHERE a.vec_id < 200
           AND CAST(list_sum(list_transform(range(1, len(a.qv) + 1), i -> a.qv[i] * b.qv[i])) AS DOUBLE) /
               (SQRT(CAST(a.nrm AS DOUBLE)) * SQRT(CAST(b.nrm AS DOUBLE))) >= 0.4""",
  )
}
