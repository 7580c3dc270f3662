package graft

import java.nio.file.Files

import graft.operators.{IvfPqIndex, SimilarityQueries}

/** The composed IVF-PQ index: cell-partition-pruned codes scan, broadcast
  * compressed-domain scoring, and a MEASURED recall cost for stacking the
  * two lossy stages (the DuckDB oracle replays the whole composition —
  * this spec covers the scan shape and determinism). */
class IvfPqSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private lazy val idx: String = {
    val p = Files.createTempDirectory("ivfpq-index").toString
    assert(IvfPqIndex.build(spark, dir, p) > 0)
    p
  }

  private def recallRows(df: org.apache.spark.sql.DataFrame) =
    df.select("query_id", "n_hits", "recall_at_5")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)

  test("the codes read prunes to the probed cell partitions") {
    val (_, pruned, _) = IvfPqIndex.probed(spark, dir, idx)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("cell"),
      s"expected a cell partition filter in the codes scan:\n$plan")
    // semantic, not cosmetic: fewer code rows than the corpus whenever
    // the probes miss at least one cell
    val total = spark.read.parquet(s"$idx/codes").count()
    val nCells = spark.read.parquet(s"$idx/codes")
      .select("cell").distinct().count()
    val probedCells = pruned.select("cell").distinct().count()
    assert(probedCells <= nCells)
    if (probedCells < nCells)
      assert(pruned.count() < total,
        s"pruned codes ${pruned.count()} must be < corpus $total")
  }

  test("composed recall is measured and well above chance; probes are deterministic") {
    val r1 = recallRows(IvfPqIndex.recall(spark, dir, idx))
    assert(r1.length == 20)
    val mean = r1.map(_._3).sum / r1.length
    info(f"ivf-pq recall@5 mean $mean%.2f")
    // two stacked lossy stages on the near-random corpus: recall floors
    // below plain PQ's (the coarse stage's cells cost a few true
    // neighbors) but far above the ~5/500 chance level
    assert(mean >= 0.4, f"composed recall collapsed: $mean%.2f")
    // and strictly cheaper candidates than all-pairs: a probed-cell
    // candidate set cannot exceed (probes x corpus)
    val r2 = recallRows(IvfPqIndex.recall(spark, dir, idx))
    assert(r1.toSeq == r2.toSeq, "repeated probes must be identical")
  }

  test("the ADC stage joins codes only against broadcast tables") {
    val (_, _, ascore) = IvfPqIndex.probed(spark, dir, idx)
    val plan = ascore.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"a SortMergeJoin means the codes side shuffled against a non-broadcast table:\n$plan")
    assert(SimilarityQueries.quantized(spark, dir)
      .filter(org.apache.spark.sql.functions.col("vec_id") < 20).count() == 20)
  }

  // ---------------------------------------- table-backed incremental index

  import org.apache.spark.sql.functions._

  private def vectorTable(n: Int): String = {
    val table = Files.createTempDirectory("ivfpq-table").toString + "/vectors"
    graft.batch.Upsert.mergeByKey(spark, table, vecRows(0 until n, 0.0),
      "shard", Seq("vec_id"))
    table
  }

  private def vecRows(ids: Seq[Int], shift: Double) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(ids.map(i => org.apache.spark.sql.Row(i.toLong)), 4),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType))))
      .withColumn("shard", concat(lit("s"), (col("vec_id") % 4).cast("string")))
      .withColumn("embedding", expr(
        s"transform(sequence(0, 63), i -> CAST(sin(CAST(vec_id * 64 + i AS DOUBLE) + $shift) AS FLOAT))"))

  /** (vec_id → (codes, cell)) — the full index content, parity unit. */
  private def codesOf(indexDir: String): Map[Long, (List[Long], Long)] =
    spark.read.parquet(s"$indexDir/codes")
      .select(col("vec_id"), col("codes"), col("cell").cast("long"))
      .collect().map(r => r.getLong(0) -> (r.getSeq[Long](1).toList, r.getLong(2)))
      .toMap

  private def cellFiles(indexDir: String): Map[String, Set[(String, Long)]] = {
    val root = new java.io.File(s"$indexDir/codes")
    root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("cell="))
      .map(d => d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet)
      .toMap
  }

  private def pinnedCoarse(indexDir: String): Seq[(Long, Seq[Long])] =
    spark.read.parquet(s"$indexDir/coarse").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toSeq.sortBy(_._1)

  private def pinnedPq(indexDir: String): Seq[(Int, Long, Seq[Long])] =
    spark.read.parquet(s"$indexDir/pq").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Long](2).toSeq)).toSeq
      .sortBy(t => (t._1, t._2))

  test("refresh consumes the change feed and matches a same-codebooks rebuild") {
    import spark.implicits._
    val table = vectorTable(1500)
    val idx1 = Files.createTempDirectory("ivfpq-refresh").toString
    assert(IvfPqIndex.buildFromTable(spark, table, "shard", idx1) == 1500L)
    val coarse = pinnedCoarse(idx1)
    val pq = pinnedPq(idx1)

    // churn: 3 inserts, 3 updates, 2 deletes
    graft.batch.Upsert.mergeByKey(spark, table,
      vecRows(1500 until 1503, 0.0), "shard", Seq("vec_id"))
    graft.batch.Upsert.mergeByKey(spark, table,
      vecRows(100 until 103, 1.7), "shard", Seq("vec_id"))
    graft.batch.Upsert.deleteByKey(spark, table,
      (200 until 202).map(i => (s"s${i % 4}", i.toLong)).toDF("shard", "vec_id"),
      "shard", Seq("vec_id"))

    val before = cellFiles(idx1)
    val stats = IvfPqIndex.refresh(spark, table, "shard", idx1)
    assert(!stats.rebuilt && stats.changedRows == 8L,
      s"expected an incremental refresh of 8 changed vectors: $stats")
    // O(changes): only the affected cells' files changed
    val after = cellFiles(idx1)
    val touched = (before.keySet ++ after.keySet)
      .count(k => before.get(k) != after.get(k))
    assert(touched <= stats.partitionsTouched,
      s"file churn $touched must be bounded by partitionsTouched ${stats.partitionsTouched}")
    assert(touched < before.size,
      s"refresh must not rewrite the whole codes table ($touched of ${before.size})")

    // parity: a from-scratch rebuild pinned to BOTH codebooks produces the
    // identical (codes, cell) table
    val idx2 = Files.createTempDirectory("ivfpq-rebuild").toString
    IvfPqIndex.buildFromTable(spark, table, "shard", idx2, Some(coarse), Some(pq))
    assert(codesOf(idx1) == codesOf(idx2),
      "refreshed codes+cells must equal a same-codebooks rebuild")
    val codes = codesOf(idx1)
    assert(!(200 until 202).exists(i => codes.contains(i.toLong)))
    assert((1500 until 1503).forall(i => codes.contains(i.toLong)))
    // and the composed probe answers identically through both indexes
    def probeRows(d: String) = recallRows(
      IvfPqIndex.recallFromTable(spark, table, "shard", d)).toSeq
    assert(probeRows(idx1) == probeRows(idx2))
  }

  test("a refresh that crashed mid-swap is detected and rebuilt, never swept") {
    val table = vectorTable(800)
    val idxDir = Files.createTempDirectory("ivfpq-crash").toString
    IvfPqIndex.buildFromTable(spark, table, "shard", idxDir)
    val coarse = pinnedCoarse(idxDir)
    val pq = pinnedPq(idxDir)
    graft.batch.Upsert.mergeByKey(spark, table,
      vecRows(800 until 805, 0.0), "shard", Seq("vec_id"))
    val tip = graft.core.TxnLog.currentVersion(spark, table)
    val victim = new java.io.File(s"$idxDir/codes").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell=")).head
    val staging = new java.io.File(s"$idxDir/.refresh-v$tip")
    assert(staging.mkdirs())
    assert(victim.renameTo(new java.io.File(staging, victim.getName)),
      "fixture: move the live cell into the staging dir (torn swap state)")
    val stats = IvfPqIndex.refresh(spark, table, "shard", idxDir)
    assert(stats.rebuilt, s"torn swap must force a rebuild: $stats")
    assert(!staging.exists(), "staging debris is swept after the rebuild")
    val idx2 = Files.createTempDirectory("ivfpq-crash-ref").toString
    IvfPqIndex.buildFromTable(spark, table, "shard", idx2, Some(coarse), Some(pq))
    assert(codesOf(idxDir) == codesOf(idx2),
      "recovered index must equal a clean same-codebooks rebuild — no lost codes")
    assert(IvfPqIndex.refresh(spark, table, "shard", idxDir).changedRows == 0L)
  }

  test("streaming vector ingestion keeps the composed index fresh (e2e)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val table = vectorTable(300)
    val idxDir = Files.createTempDirectory("ivfpq-stream").toString
    assert(IvfPqIndex.sync(spark, table, "shard", idxDir).rebuilt)

    // the steady-state 100 TB shape: vectors arrive as a STREAM, each
    // micro-batch merges exactly-once, and the index catches up by
    // consuming the change feed — never a corpus re-encode
    val mem = MemoryStream[Long]
    val ckpt = Files.createTempDirectory("ivfpq-stream-ckpt").toString
    val q = mem.toDF().select(col("value").as("vec_id"))
      .withColumn("shard", concat(lit("s"), (col("vec_id") % 4).cast("string")))
      .withColumn("embedding", expr(
        "transform(sequence(0, 63), i -> " +
          "CAST(sin(CAST(vec_id * 64 + i AS DOUBLE)) AS FLOAT))"))
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch(graft.streaming.StreamingUpsert.mergeBatch(
        spark, table, "shard", Seq("vec_id"), "vec-ingest") _)
      .start()
    try {
      mem.addData(300L until 310L: _*)
      q.processAllAvailable()
      val s1 = IvfPqIndex.sync(spark, table, "shard", idxDir)
      assert(!s1.rebuilt && s1.changedRows == 10L, s"catch-up 1: $s1")
      mem.addData(310L until 315L: _*)
      q.processAllAvailable()
      val s2 = IvfPqIndex.sync(spark, table, "shard", idxDir)
      assert(!s2.rebuilt && s2.changedRows == 5L, s"catch-up 2: $s2")
    } finally q.stop()
    // the incrementally-maintained index equals a pinned rebuild over the
    // final table state — streaming ingestion lost nothing
    val ref = Files.createTempDirectory("ivfpq-stream-ref").toString
    IvfPqIndex.buildFromTable(spark, table, "shard", ref,
      Some(pinnedCoarse(idxDir)), Some(pinnedPq(idxDir)))
    assert(codesOf(idxDir) == codesOf(ref))
    assert(codesOf(idxDir).keySet.max == 314L)
  }

  test("sync builds a missing index, then refreshes it (the Maintain entry)") {
    val table = vectorTable(200)
    val idxDir = Files.createTempDirectory("ivfpq-sync").toString
    val s0 = IvfPqIndex.sync(spark, table, "shard", idxDir)
    assert(s0.rebuilt, s"no index yet → build: $s0")
    graft.batch.Upsert.mergeByKey(spark, table,
      vecRows(200 until 203, 0.0), "shard", Seq("vec_id"))
    val s1 = IvfPqIndex.sync(spark, table, "shard", idxDir)
    assert(!s1.rebuilt && s1.changedRows == 3L, s"tip catch-up: $s1")
    // the Maintain mode wires the same entry
    val m = graft.core.GraftConfig.Maintenance(
      128L * 1024 * 1024, 0L, 10, 2, 86400000L, Seq.empty, "zorder")
    val ops = graft.Maintain.runMode(spark, table, "ivfpq",
      Seq("shard", idxDir), m)
    assert(ops.exists(_.contains("\"op\":\"ivfpq-sync\"")), ops.mkString("\n"))
  }
}
