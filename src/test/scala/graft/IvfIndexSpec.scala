package graft

import java.nio.file.Files

import graft.operators.{IvfIndex, SimilarityQueries}

/** The persisted IVF index: hash-parity with the in-query probe, and a
  * genuinely partition-pruned scan — the two properties that make it the
  * 100 TB ANN path (same answers, O(probed cells) read). */
class IvfIndexSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private lazy val idx: String = {
    val p = Files.createTempDirectory("ivf-index").toString
    val cells = IvfIndex.build(spark, dir, p)
    assert(cells > 0, "index must hold at least one cell")
    p
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("query_id", "neighbor_id", "cell", "cosine", "rank")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
      .sortBy(t => (t._1, t._5))

  test("persisted-index probe is row-identical with the in-query IVF") {
    val inQuery = rows(SimilarityQueries.topkIvf(spark, dir))
    val indexed = rows(IvfIndex.topk(spark, dir, idx))
    assert(inQuery.nonEmpty)
    assert(indexed.toSeq == inQuery.toSeq,
      s"indexed probe must be row-identical: ${indexed.take(3).toSeq} vs ${inQuery.take(3).toSeq}")
  }

  test("the index read prunes to the probed cell partitions") {
    val (_, pruned) = IvfIndex.probed(spark, dir, idx)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("cell"),
      s"expected a cell partition filter in the scan:\n$plan")
    // and the pruning is semantic, not cosmetic: the pruned read touches
    // only probed cells, a strict subset of the corpus when cells > probes
    val total = spark.read.parquet(s"$idx/cells").count()
    val scanned = pruned.count()
    val nCells = spark.read.parquet(s"$idx/cells").select("cell").distinct().count()
    val probedCells = pruned.select("cell").distinct().count()
    assert(probedCells <= nCells)
    if (probedCells < nCells)
      assert(scanned < total, s"pruned scan $scanned must be < corpus $total")
  }

  // ---------------------------------------- table-backed incremental index

  /** A TxnLog-maintained vector table with `n` deterministic 64-dim
    * embeddings across 4 shard partitions, built entirely through merges
    * (so the change feed carries its whole history). */
  private def vectorTable(n: Int): String = {
    val table = Files.createTempDirectory("ivf-table").toString + "/vectors"
    graft.batch.Upsert.mergeByKey(spark, table, vecRows(0 until n, 0.0),
      "shard", Seq("vec_id"))
    table
  }

  private def vecRows(ids: Seq[Int], shift: Double) = {
    import org.apache.spark.sql.functions._
    spark.createDataFrame(
      spark.sparkContext.parallelize(ids.map(i => org.apache.spark.sql.Row(i.toLong)), 4),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType))))
      .withColumn("shard", concat(lit("s"), (col("vec_id") % 4).cast("string")))
      .withColumn("embedding", expr(
        s"transform(sequence(0, 63), i -> CAST(sin(CAST(vec_id * 64 + i AS DOUBLE) + $shift) AS FLOAT))"))
  }

  private def cellsOf(indexDir: String): Set[(Long, Long)] = {
    import org.apache.spark.sql.functions.col
    // the cell partition column reads back as INT from dir-name inference
    spark.read.parquet(s"$indexDir/cells")
      .select(col("vec_id"), col("cell").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  private def cellFiles(indexDir: String): Map[String, Set[(String, Long)]] = {
    val root = new java.io.File(s"$indexDir/cells")
    root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("cell="))
      .map(d => d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet)
      .toMap
  }

  test("refresh consumes the change feed and matches a same-codebook rebuild") {
    import spark.implicits._
    val table = vectorTable(1500)
    val idx1 = Files.createTempDirectory("ivf-refresh").toString
    assert(IvfIndex.buildFromTable(spark, table, "shard", idx1) > 1)
    val codebook = spark.read.parquet(s"$idx1/codebook")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toSeq.sortBy(_._1)

    // churn bounded well under the cell count: 10 inserts, 5 updates
    // (shifted embeddings), 5 deletes — the locality claim needs changes
    // that plausibly miss most cells
    graft.batch.Upsert.mergeByKey(spark, table,
      vecRows(1500 until 1510, 0.0), "shard", Seq("vec_id"))
    graft.batch.Upsert.mergeByKey(spark, table,
      vecRows(100 until 105, 1.7), "shard", Seq("vec_id"))
    graft.batch.Upsert.deleteByKey(spark, table,
      (200 until 205).map(i => (s"s${i % 4}", i.toLong)).toDF("shard", "vec_id"),
      "shard", Seq("vec_id"))

    val before = cellFiles(idx1)
    val stats = IvfIndex.refresh(spark, table, "shard", idx1)
    assert(!stats.rebuilt && stats.changedRows == 20L,
      s"expected an incremental refresh of 20 changed vectors: $stats")
    // O(changes): only the affected cell partitions' files changed, a
    // strict subset of the index
    val after = cellFiles(idx1)
    val touched = (before.keySet ++ after.keySet)
      .count(k => before.get(k) != after.get(k))
    assert(touched <= stats.partitionsTouched,
      s"file churn $touched must be bounded by partitionsTouched ${stats.partitionsTouched}")
    assert(touched < before.size,
      s"refresh must not rewrite the whole index ($touched of ${before.size} cells)")

    // parity: a from-scratch rebuild PINNED TO THE SAME CODEBOOK holds the
    // identical assignment, and the probe results match row-for-row
    val idx2 = Files.createTempDirectory("ivf-rebuild").toString
    IvfIndex.buildFromTable(spark, table, "shard", idx2, Some(codebook))
    assert(cellsOf(idx1) == cellsOf(idx2),
      "refreshed cells must equal a same-codebook rebuild")
    val probes = IvfIndex.tableProbes(spark, table, "shard")
    assert(rows(IvfIndex.topkFor(spark, probes, idx1)).toSeq ==
      rows(IvfIndex.topkFor(spark, probes, idx2)).toSeq)
    // deleted vectors are really gone; updated ones moved with their state
    assert(!cellsOf(idx1).exists { case (id, _) => id >= 200 && id < 205 })
    assert((1500 until 1510).forall(id => cellsOf(idx1).exists(_._1 == id.toLong)))
  }

  test("a refresh that crashed mid-swap is detected and rebuilt, never swept") {
    import spark.implicits._
    val table = vectorTable(800)
    val idxDir = Files.createTempDirectory("ivf-crash").toString
    IvfIndex.buildFromTable(spark, table, "shard", idxDir)
    val codebook = spark.read.parquet(s"$idxDir/codebook")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toSeq.sortBy(_._1)
    // new commits arrive, and a refresh of them dies BETWEEN deleting a
    // live cell dir and renaming its staged replacement in: the staged
    // copy is the ONLY surviving image of that cell's unchanged vectors
    graft.batch.Upsert.mergeByKey(spark, table,
      vecRows(800 until 805, 0.0), "shard", Seq("vec_id"))
    val tip = graft.core.TxnLog.currentVersion(spark, table)
    val cellsRoot = new java.io.File(s"$idxDir/cells")
    val victim = cellsRoot.listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell=")).head
    val staging = new java.io.File(s"$idxDir/.refresh-v$tip")
    assert(staging.mkdirs())
    assert(victim.renameTo(new java.io.File(staging, victim.getName)),
      "fixture: move the live cell into the staging dir (torn swap state)")
    // the next refresh must NOT sweep the staging dir (that would destroy
    // the cell — its rows are not in the change feed); it must detect the
    // torn swap and rebuild from the source table with the pinned codebook
    val stats = IvfIndex.refresh(spark, table, "shard", idxDir)
    assert(stats.rebuilt, s"torn swap must force a rebuild: $stats")
    assert(!new java.io.File(s"$idxDir/.refresh-v$tip").exists(),
      "staging debris is swept after the rebuild")
    val idx2 = Files.createTempDirectory("ivf-crash-ref").toString
    IvfIndex.buildFromTable(spark, table, "shard", idx2, Some(codebook))
    assert(cellsOf(idxDir) == cellsOf(idx2),
      "recovered index must equal a clean same-codebook rebuild — no lost vectors")
    // and the index is caught up: a subsequent refresh is a no-op
    assert(IvfIndex.refresh(spark, table, "shard", idxDir).changedRows == 0L)
  }

  test("refresh is a no-op at the tip and rebuilds past the drift threshold") {
    import spark.implicits._
    val table = vectorTable(100)
    val idxDir = Files.createTempDirectory("ivf-drift").toString
    IvfIndex.buildFromTable(spark, table, "shard", idxDir)
    val s0 = IvfIndex.refresh(spark, table, "shard", idxDir)
    assert(!s0.rebuilt && s0.changedRows == 0L, s"caught-up refresh: $s0")
    // replace 80% of the corpus: far past the default 20% drift threshold
    graft.batch.Upsert.mergeByKey(spark, table,
      vecRows(0 until 80, 2.9), "shard", Seq("vec_id"))
    val s1 = IvfIndex.refresh(spark, table, "shard", idxDir)
    assert(s1.rebuilt, s"80% churn must trigger a retraining rebuild: $s1")
    // the rebuilt index reflects the new state and serves probes
    val probes = IvfIndex.tableProbes(spark, table, "shard")
    assert(rows(IvfIndex.topkFor(spark, probes, idxDir)).nonEmpty)
    // and a subsequent refresh is caught up again
    assert(IvfIndex.refresh(spark, table, "shard", idxDir).changedRows == 0L)
  }

  test("a corpus rewrite is caught at rebuild (fresh codebook, fresh cells)") {
    // build against the same corpus twice: deterministic → same cell count
    val p2 = Files.createTempDirectory("ivf-index2").toString
    val c1 = IvfIndex.build(spark, dir, p2)
    val c2 = IvfIndex.build(spark, dir, p2) // overwrite mode: rebuild in place
    assert(c1 == c2)
    assert(rows(IvfIndex.topk(spark, dir, p2)).toSeq ==
      rows(IvfIndex.topk(spark, dir, idx)).toSeq)
  }
}
