package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.batch.Upsert

/** Materialized training-shard writer — the terminal sink of the text
  * pipeline. [[TextQueries.packSequencesSharded]] REPORTS the
  * concat-and-chunk layout; this verb actually WRITES it: one row per
  * packed sequence carrying the exact L=[[TextQueries.PackLen]]-token
  * payload plus its occupancy manifest (n_docs / n_full_docs / n_tokens /
  * first_doc / last_doc — the same numbers the accounting query emits, so
  * the two are spec-comparable row for row). The destination is a MANAGED
  * table (partitioned by source, keyed by seq_id, written through
  * [[Upsert.mergeByKey]]), so the shards inherit the whole storage
  * surface for free: OCC claims, change feed, time travel, RESTORE,
  * constraints, HTTP serving.
  *
  * 100 TB shape: offsets are the two-phase sharded form (no per-source
  * single-partition window); the payload assembly is one exchange keyed
  * (source, seq_id) — each sequence gathers the ≤2 documents that
  * straddle it (fan-in bounded by docs-per-sequence, never corpus-wide);
  * the merge rewrites only the source partitions the pack touched.
  * Re-packing after corpus growth upserts by (source, seq_id): appended
  * docs extend a source's token stream, so only its tail sequences
  * change — the merge's claim machinery keeps concurrent source packs
  * serialized per partition.
  */
object PackWriter extends graft.QueryModule {

  /** Tokens per packed sequence — the published layout constant a
    * consumer of the shard table sizes its reader against. */
  val SeqLen: Int = TextQueries.PackLen

  /** The packed rows: payload + manifest columns, one row per
    * (source, seq_id). Deterministic for a fixed corpus — contributions
    * gather via `array_sort` on their running offset, so assembly order
    * is independent of task scheduling. */
  def packedRows(s: SparkSession, d: String): DataFrame =
    assemble(plainContribs(TextQueries.shardedOffsets(s, d)))

  /** Ordinary document contributions: each doc weighs 1, represents
    * itself. [[sync]]'s tail-rewrite adds WEIGHTED pseudo-contributions
    * (the old tail row standing in for every doc already packed into
    * it), which is why the weights are explicit columns. */
  private def plainContribs(withOffsets: DataFrame): DataFrame =
    withOffsets.select(col("source"), col("toks"),
      col("start_off"), col("end_off"),
      lit(1L).as("w_docs"), lit(1L).as("w_full"),
      col("doc_id").as("fd"), col("doc_id").as("ld"))

  /** Cut contributions into L-token sequences and aggregate payload +
    * manifest. `w_full` counts only when the contribution lands fully
    * inside its sequence — true by construction for a tail pseudo-row,
    * decided by the offsets for a real doc. */
  private def assemble(contribs: DataFrame): DataFrame = {
    val L = TextQueries.PackLen
    contribs
      .withColumn("seq_id",
        explode(expr(s"sequence(start_off DIV $L, (end_off - 1) DIV $L)")))
      .withColumn("lo", greatest(col("start_off"), col("seq_id") * L))
      .withColumn("hi", least(col("end_off"), (col("seq_id") + lit(1L)) * L))
      .withColumn("part", expr(
        "slice(toks, CAST(lo - start_off + 1 AS INT), CAST(hi - lo AS INT))"))
      .groupBy("source", "seq_id")
      .agg(
        expr("flatten(transform(array_sort(collect_list(" +
          "struct(start_off, part))), x -> x.part))").as("toks"),
        sum(col("w_docs")).as("n_docs"),
        sum(when(col("start_off") >= col("seq_id") * L &&
                 col("end_off") <= (col("seq_id") + lit(1L)) * L,
          col("w_full")).otherwise(0L)).as("n_full_docs"),
        sum(col("hi") - col("lo")).as("n_tokens"),
        min(col("fd")).as("first_doc"),
        max(col("ld")).as("last_doc"))
  }

  /** Pack the corpus at `d` into managed table `table`. Returns the
    * partition values (sources) the merge touched. */
  def write(spark: SparkSession, d: String, table: String): Seq[String] =
    Upsert.mergeByKey(spark, table, packedRows(spark, d),
      "source", Seq("seq_id"))

  // ---- declared occupancy queries over MATERIALIZED shard tables ------
  //
  // These read a REAL shard table back (not the accounting plan), so the
  // DuckDB oracle pins `write` ≡ accounting and `sync` ≡ accounting at
  // the query level — the scalatest `sync ≡ re-pack` invariant, enforced
  // per corpus by the correctness gate itself.

  private val packedTables = new CorpusMemo("documents", "graft-pack-occ")

  /** Build (once per corpus state — [[CorpusMemo]], so bench rounds past
    * the first measure the READ) the two shard tables the occupancy
    * queries read: `shard_w` = one-shot [[write]]; `shard_s` = a managed
    * docs table seeded with each source's first ~3/5 of doc ids,
    * bootstrap-synced, grown by the remaining wave, synced again — both
    * must roll up to the identical pure-SQL accounting. */
  private[graft] def ensurePacked(
      s: SparkSession, d: String): (String, String) = {
    val root = packedTables(s, d) { root =>
      write(s, d, s"$root/shard_w")
      val docsDf = graft.core.Tables.documents(s, d)
        .select("source", "doc_id", "text")
      // per-source cut at 3/5 of the max doc id: wave 2 appends stay
      // strictly above every wave-1 doc (the sync append discipline)
      val cuts = docsDf.groupBy("source")
        .agg((max("doc_id") * 3L / 5L).as("cut"))
      val docsT = s"$root/docs"
      graft.batch.Upsert.mergeByKey(s, docsT,
        docsDf.join(broadcast(cuts), Seq("source"))
          .filter(col("doc_id") <= col("cut")).drop("cut"),
        "source", Seq("doc_id"))
      sync(s, docsT, "source", s"$root/shard_s")
      graft.batch.Upsert.mergeByKey(s, docsT,
        docsDf.join(broadcast(cuts), Seq("source"))
          .filter(col("doc_id") > col("cut")).drop("cut"),
        "source", Seq("doc_id"))
      sync(s, docsT, "source", s"$root/shard_s")
    }
    (s"$root/shard_w", s"$root/shard_s")
  }

  /** Per-source fill curve of a shard table: sequence count, full
    * sequences, held tokens, per-sequence doc contributions. */
  private def occupancyOf(shard: DataFrame): DataFrame = {
    val L = TextQueries.PackLen.toLong
    shard.groupBy("source").agg(
      count(lit(1)).as("n_seqs"),
      sum(when(col("n_tokens") === lit(L), 1L).otherwise(0L)).as("full_seqs"),
      sum("n_tokens").as("tokens"),
      sum("n_docs").as("doc_contribs"),
      sum("n_full_docs").as("full_docs"),
      max("last_doc").as("last_doc"))
  }

  val queries: Map[String, Q] = Map(
    "pack_occupancy" -> ((s: SparkSession, d: String) =>
      occupancyOf(Upsert.readCommitted(s, ensurePacked(s, d)._1, "source"))),
    "pack_occupancy_synced" -> ((s: SparkSession, d: String) =>
      occupancyOf(Upsert.readCommitted(s, ensurePacked(s, d)._2, "source"))))

  /** Both shard tables must equal the pure accounting — one shared SQL. */
  private lazy val occupancySql: String = s"""
    SELECT source,
      CAST(COUNT(*) AS BIGINT) AS n_seqs,
      CAST(SUM(CASE WHEN n_tokens = ${TextQueries.PackLen} THEN 1 ELSE 0 END)
        AS BIGINT) AS full_seqs,
      CAST(SUM(n_tokens) AS BIGINT) AS tokens,
      CAST(SUM(n_docs) AS BIGINT) AS doc_contribs,
      CAST(SUM(n_full_docs) AS BIGINT) AS full_docs,
      MAX(last_doc) AS last_doc
    FROM (${TextQueries.packSql}) q GROUP BY source"""

  val oracleSql: Map[String, String] = Map(
    "pack_occupancy" -> occupancySql,
    "pack_occupancy_synced" -> occupancySql)

  // ---- incremental pack: consume the source table's change feed -------

  final case class SyncStats(
      rebuilt: Boolean, newDocs: Long, seqsWritten: Long,
      fromVersion: Long, toVersion: Long)

  private def cursorFile(shard: String) =
    new org.apache.hadoop.fs.Path(s"$shard/_graft_meta/pack_cursor.json")

  /** Per-source packed state a completed sync records in its cursor:
    * the stream length (sum of held tokens) and the last packed doc —
    * exactly the aggregates [[sync]] otherwise has to recompute by
    * scanning the whole shard manifest. |sources|-sized, rides the same
    * crash-safe cursor file. */
  private type SrcState = Map[String, (Long, Long)]

  private def readCursor(s: SparkSession, shard: String)
      : Option[(Long, Option[Long], Option[SrcState])] = {
    val p = cursorFile(shard)
    val fs = p.getFileSystem(s.sessionState.newHadoopConf())
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val txt =
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    val o = graft.http.Json.parse(txt).asObj
    def num(k: String): Option[Long] = o.get(k).map {
      case graft.http.JNum(n) => n.toLong
      case other => throw new IllegalStateException(s"pack cursor $k: $other")
    }
    val state: Option[SrcState] = o.get("state").map {
      case graft.http.JObj(fields) => fields.map {
        case (src, graft.http.JObj(f)) =>
          val m = f.toMap
          def v(k: String) = m(k) match {
            case graft.http.JNum(n) => n.toLong
            case other =>
              throw new IllegalStateException(s"pack cursor state $k: $other")
          }
          src -> (v("t"), v("ld"))
        case (src, other) =>
          throw new IllegalStateException(s"pack cursor state $src: $other")
      }.toMap
      case other => throw new IllegalStateException(s"pack cursor state: $other")
    }
    Some((num("version").getOrElse(
      throw new IllegalStateException("pack cursor without version")),
      num("applyingTo"), state))
  }

  private def writeCursor(
      s: SparkSession, shard: String, v: Long, applyingTo: Option[Long],
      state: Option[SrcState]): Unit = {
    val stateField = state.map(m =>
      m.toSeq.sortBy(_._1).map { case (src, (t, ld)) =>
        s"${graft.http.Json.quote(src)}:" + s"""{"t":$t,"ld":$ld}"""
      }.mkString(""","state":{""", ",", "}")).getOrElse("")
    graft.core.AtomicWrite.replaceFile(s, cursorFile(shard),
      (s"""{"version":$v""" +
        applyingTo.map(t => s""","applyingTo":$t""").getOrElse("") +
        stateField + "}")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** Catch the shard table up with an APPEND-ONLY managed documents table
    * by consuming its change feed — the production pack maintenance:
    * re-packing 100 TB nightly is not a plan; appended docs extend only
    * their source's TAIL, so sync rewrites exactly one row per grown
    * source (the partial tail sequence, payload + weighted manifest
    * carried over) plus the fresh rows after it. `sync ≡ full re-pack at
    * every version` is the spec'd invariant.
    *
    * Packing assigns offsets in doc_id order, so the layout is only
    * incrementally maintainable under the append discipline: every
    * appended doc_id must be ABOVE the source's last packed doc, and
    * update/delete legs refuse loudly (a corpus rewrite invalidates
    * offsets corpus-wide — delete the shard table and re-pack; that is a
    * REORG-class rewrite, not a sync).
    *
    * Crash-safe without a second ledger: the cursor marks `applyingTo`
    * BEFORE the merge; on recovery the legs re-read and docs already
    * packed (doc_id ≤ the source's last packed — exactly the applied
    * half, BECAUSE appends are doc-ordered) filter out instead of
    * refusing. Bootstrap (no cursor) packs the snapshot pinned AS OF the
    * version it records — never a racing live read.
    *
    * O(growth), not O(table): a completed sync's cursor carries the
    * |sources|-row packed state (stream length + last packed doc), so
    * the steady path reads NOTHING from the shard table except the grown
    * sources' tail rows — fetched by (source, seq_id) key, pushed down
    * to the scan. The full-manifest state aggregate runs only on crash
    * recovery (the table, not a pre-merge cursor, is the authority on
    * whether the interrupted merge applied) and under pre-state cursors.
    * The shard table is sync-owned: content-preserving maintenance
    * (compaction, clustering) keeps the cached state exact by
    * construction.
    *
    * `partCol` names the DOCS table's partition column; the shard table
    * always keys its partitions `source` (the pack schema), so ingestion
    * renames `partCol` → `source`. */
  def sync(
      spark: SparkSession,
      srcTable: String,
      partCol: String,
      shardTable: String,
      maxCommits: Long = Long.MaxValue): SyncStats = {
    require(maxCommits >= 1L, "pack sync: maxCommits must be >= 1")
    val L = TextQueries.PackLen
    // the docs table may partition on any column; the shard table always
    // keys its partitions "source" — rename at ingestion so the whole
    // pack pipeline speaks one name
    def sized(df: DataFrame): DataFrame =
      df.withColumn("toks", TextQueries.toks(col("text")))
        .withColumn("n_tokens", size(col("toks")).cast("long"))
        .filter(col("n_tokens") > 0)
        .select(col(partCol).as("source"), col("doc_id"),
          col("toks"), col("n_tokens"))
    readCursor(spark, shardTable) match {
      case None =>
        // bootstrap: pack the snapshot AS OF the recorded version (the
        // pinned-bootstrap discipline — a live read could include commits
        // the cursor would then skip)
        val v = graft.core.TxnLog.currentVersion(spark, srcTable)
        val snap = sized(Upsert.readAsOf(spark, srcTable, v, partCol))
        val rows = assemble(plainContribs(TextQueries.shardedOffsetsOf(snap)))
          .cache()
        val nSeqs = rows.count()
        val nDocs = snap.count()
        Upsert.mergeByKey(spark, shardTable, rows, "source", Seq("seq_id"))
        val st: SrcState = rows.groupBy("source").agg(
            sum("n_tokens").as("t"), max("last_doc").as("ld"))
          .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
          .toMap
        rows.unpersist()
        writeCursor(spark, shardTable, v, None, Some(st))
        SyncStats(rebuilt = true, nDocs, nSeqs, 0L, v)
      case Some((from, applying, cursorState)) =>
        // bounded steps (Delta's maxFilesPerTrigger at commit
        // granularity): a shard table restarted after a week of source
        // churn catches up in absorbable, individually-committed steps
        val srcTip = graft.core.TxnLog.currentVersion(spark, srcTable)
        val tip = applying.getOrElse(
          math.min(srcTip, if (Long.MaxValue - maxCommits < from) Long.MaxValue
            else from + maxCommits))
        val recovering = applying.isDefined
        if (!recovering && tip <= from)
          return SyncStats(rebuilt = false, 0L, 0L, from, from)
        // the feed and the shard state each feed several actions below
        // (refusal checks, counts, offsets, tails) — cache both so the
        // sync reads each ONCE, not once per action
        val legs = graft.batch.ChangeFeed.readChanges(
          spark, srcTable, partCol, from, Some(tip)).cache()
        val nonInsert = legs
          .filter(col(graft.batch.ChangeFeed.ChangeTypeCol) =!= "insert")
          .limit(1).count()
        require(nonInsert == 0L,
          s"pack sync: $srcTable changed non-append rows since v$from — " +
            "the packed layout assigns offsets in doc order, so a corpus " +
            "rewrite invalidates them corpus-wide; delete the shard table " +
            "and re-pack (a REORG-class rewrite, not a sync)")
        // per-source packed state — the stream length (sum of held
        // tokens, contiguous by construction) and the last packed doc.
        // The completed-sync cursor carries it, so the steady path never
        // scans the shard table for state (O(growth), not O(table)).
        // Recovery ignores the cursor copy and recomputes from the table:
        // whether the interrupted merge applied is knowable only from the
        // table itself, and the recomputed state is exactly what makes
        // the replay filter already-packed docs (exactly-once). The same
        // scan backstops pre-state cursors.
        val stateMap: SrcState =
          cursorState.filter(_ => !recovering).getOrElse {
            Upsert.readCommitted(spark, shardTable, "source")
              .groupBy("source").agg(
                sum("n_tokens").as("t"), max("last_doc").as("ld"))
              .collect()
              .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
              .toMap
          }
        import spark.implicits._
        val state = stateMap.toSeq
          .map { case (src, (t, ld)) => (src, t, ld) }
          .toDF("source", "t_s", "last_packed")
        val fresh = sized(legs).join(broadcast(state), Seq("source"), "left")
        if (!recovering) {
          val bad = fresh.filter(col("last_packed").isNotNull &&
              col("doc_id") <= col("last_packed"))
            .select("source", "doc_id").limit(3)
            .collect().map(r => s"${r.getString(0)}/${r.getLong(1)}")
          require(bad.isEmpty,
            s"pack sync: appended docs below their source's last packed " +
              s"doc (${bad.mkString(", ")}) — packing is doc_id-ordered " +
              "and append-only; out-of-order backfill needs a re-pack")
        }
        val newDocs = fresh
          .filter(col("last_packed").isNull ||
            col("doc_id") > col("last_packed"))
          .withColumn("base", coalesce(col("t_s"), lit(0L)))
          .drop("t_s", "last_packed")
          .cache()
        val nDocs = newDocs.count()
        if (nDocs == 0L) {
          newDocs.unpersist(); legs.unpersist()
          writeCursor(spark, shardTable, tip, None, Some(stateMap))
          return SyncStats(rebuilt = false, 0L, 0L, from, tip)
        }
        // batch offsets (two-phase, per source) shifted by the packed
        // stream length
        val offsets = TextQueries.shardedOffsetsOf(
            newDocs.select("source", "doc_id", "toks", "n_tokens"))
          .join(broadcast(newDocs.select("source", "base").distinct()),
            Seq("source"))
          .withColumn("start_off", col("start_off") + col("base"))
          .withColumn("end_off", col("end_off") + col("base"))
        // the grown sources' PARTIAL tails re-enter as weighted
        // pseudo-contributions: old payload + carried manifest, so the
        // rewritten row equals what a from-scratch pack would emit.
        // Fetched by KEY — an OR-chain of (source, seq_id) literals the
        // scan pushes down (partition pruning on source, stats pruning on
        // seq_id) — never a second pass over the shard table.
        val grownPairs = newDocs.select("source", "base").distinct()
          .filter(col("base") % L =!= 0 && col("base") > 0)
          .collect().map(r => (r.getString(0), r.getLong(1)))
        val plain = plainContribs(offsets)
        val contribs =
          if (grownPairs.isEmpty) plain
          else {
            val keyed = grownPairs.map { case (src, base) =>
              col("source") === src && col("seq_id") === lit((base - 1L) / L)
            }.reduce(_ || _)
            val tails = Upsert.readCommitted(spark, shardTable, "source")
              .filter(keyed)
              .select(col("source"), col("toks"),
                (col("seq_id") * L).as("start_off"),
                (col("seq_id") * L + col("n_tokens")).as("end_off"),
                col("n_docs").as("w_docs"), col("n_full_docs").as("w_full"),
                col("first_doc").as("fd"), col("last_doc").as("ld"))
            plain.unionByName(tails)
          }
        val rows = assemble(contribs).cache()
        val nSeqs = rows.count()
        // the applyingTo marker carries NO state: recovery must learn
        // what applied from the table, never from a pre-merge snapshot
        writeCursor(spark, shardTable, from, Some(tip), None)
        Upsert.mergeByKey(spark, shardTable, rows, "source", Seq("seq_id"))
        // roll the |sources|-row state forward from the applied docs —
        // appends only grow a source's stream and its max doc_id
        val deltas = newDocs.groupBy("source").agg(
            sum("n_tokens").as("dt"), max("doc_id").as("dld"),
            max("base").as("b"))
          .collect()
          .map(r => r.getString(0) -> (r.getLong(3) + r.getLong(1), r.getLong(2)))
          .toMap
        rows.unpersist(); newDocs.unpersist(); legs.unpersist()
        writeCursor(spark, shardTable, tip, None, Some(stateMap ++ deltas))
        SyncStats(rebuilt = false, nDocs, nSeqs, from, tip)
    }
  }
}
