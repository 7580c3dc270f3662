package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{IvfIndex, PqIndex, SimilarityQueries}

/** The persisted PQ index: hash-parity with the in-query PQ pipeline, and
  * CDF-driven incremental maintenance of the codes table — same answers,
  * O(changes) upkeep, no probe-time retrain/re-encode. */
class PqIndexSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"
  private lazy val idx: String = {
    val p = Files.createTempDirectory("pq-index").toString
    assert(PqIndex.build(spark, dir, p) > 0, "index must encode the corpus")
    p
  }

  private def recallRows(df: org.apache.spark.sql.DataFrame) =
    df.select("query_id", "n_hits", "recall_at_5")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)

  test("persisted-index recall is row-identical with the in-query PQ pipeline") {
    val inQuery = recallRows(SimilarityQueries.pqRecall(spark, dir))
    val indexed = recallRows(PqIndex.recall(spark, dir, idx))
    assert(inQuery.nonEmpty)
    assert(indexed.toSeq == inQuery.toSeq,
      s"indexed PQ must be row-identical: ${indexed.take(3).toSeq} vs ${inQuery.take(3).toSeq}")
  }

  test("the probe reads codes + broadcast LUT, never a corpus-sized shuffle") {
    val probes = SimilarityQueries.quantized(spark, dir)
      .filter(col("vec_id") < 20)
    val plan = PqIndex.adcScores(spark, probes, idx)
      .queryExecution.executedPlan.toString
    // every join on the corpus-side path is a broadcast-hash join: the
    // codes never shuffle against anything
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"a SortMergeJoin means the corpus side shuffled:\n$plan")
  }

  // ---------------------------------------- table-backed incremental index

  private def vectorTable(n: Int): String = {
    val table = Files.createTempDirectory("pq-table").toString + "/vectors"
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

  private def codesOf(indexDir: String): Map[Long, List[Long]] = {
    spark.read.parquet(s"$indexDir/codes")
      .select(col("vec_id"), col("codes"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
  }

  private def bucketFiles(indexDir: String): Map[String, Set[(String, Long)]] = {
    val root = new java.io.File(s"$indexDir/codes")
    root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("bucket="))
      .map(d => d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet)
      .toMap
  }

  private def pinnedCodebook(indexDir: String): Seq[(Int, Long, Seq[Long])] =
    spark.read.parquet(s"$indexDir/codebook").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Long](2).toSeq)).toSeq
      .sortBy(t => (t._1, t._2))

  test("refresh consumes the change feed and matches a same-codebook rebuild") {
    import spark.implicits._
    val table = vectorTable(1500)
    val idx1 = Files.createTempDirectory("pq-refresh").toString
    assert(PqIndex.buildFromTable(spark, table, "shard", idx1) == 1500L)
    val codebook = pinnedCodebook(idx1)

    // churn whose hash homes cover a strict subset of the 16 buckets:
    // 3 inserts, 3 updates, 2 deletes → ≤ 8 affected buckets
    graft.batch.Upsert.mergeByKey(spark, table,
      vecRows(1500 until 1503, 0.0), "shard", Seq("vec_id"))
    graft.batch.Upsert.mergeByKey(spark, table,
      vecRows(100 until 103, 1.7), "shard", Seq("vec_id"))
    graft.batch.Upsert.deleteByKey(spark, table,
      (200 until 202).map(i => (s"s${i % 4}", i.toLong)).toDF("shard", "vec_id"),
      "shard", Seq("vec_id"))

    val before = bucketFiles(idx1)
    val stats = PqIndex.refresh(spark, table, "shard", idx1)
    assert(!stats.rebuilt && stats.changedRows == 8L,
      s"expected an incremental refresh of 8 changed vectors: $stats")
    // O(changes): only the affected buckets' files changed
    val after = bucketFiles(idx1)
    val touched = (before.keySet ++ after.keySet)
      .count(k => before.get(k) != after.get(k))
    assert(touched <= stats.partitionsTouched,
      s"file churn $touched must be bounded by partitionsTouched ${stats.partitionsTouched}")
    assert(touched < before.size,
      s"refresh must not rewrite the whole codes table ($touched of ${before.size})")

    // parity: a from-scratch rebuild pinned to the same codebook encodes
    // the identical codes table
    val idx2 = Files.createTempDirectory("pq-rebuild").toString
    PqIndex.buildFromTable(spark, table, "shard", idx2, Some(codebook))
    assert(codesOf(idx1) == codesOf(idx2),
      "refreshed codes must equal a same-codebook rebuild")
    // deleted vectors are gone; inserted ones encoded
    val codes = codesOf(idx1)
    assert(!(200 until 202).exists(i => codes.contains(i.toLong)))
    assert((1500 until 1503).forall(i => codes.contains(i.toLong)))
    // and probe scores agree between the two indexes
    val probes = IvfIndex.tableProbes(spark, table, "shard")
    def scores(d: String) = PqIndex.adcScores(spark, probes, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(scores(idx1) == scores(idx2))
  }

  test("a refresh that crashed mid-swap is detected and rebuilt, never swept") {
    val table = vectorTable(800)
    val idxDir = Files.createTempDirectory("pq-crash").toString
    PqIndex.buildFromTable(spark, table, "shard", idxDir)
    val codebook = pinnedCodebook(idxDir)
    graft.batch.Upsert.mergeByKey(spark, table,
      vecRows(800 until 805, 0.0), "shard", Seq("vec_id"))
    val tip = graft.core.TxnLog.currentVersion(spark, table)
    val victim = new java.io.File(s"$idxDir/codes").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("bucket=")).head
    val staging = new java.io.File(s"$idxDir/.refresh-v$tip")
    assert(staging.mkdirs())
    assert(victim.renameTo(new java.io.File(staging, victim.getName)),
      "fixture: move the live bucket into the staging dir (torn swap state)")
    val stats = PqIndex.refresh(spark, table, "shard", idxDir)
    assert(stats.rebuilt, s"torn swap must force a rebuild: $stats")
    assert(!staging.exists(), "staging debris is swept after the rebuild")
    val idx2 = Files.createTempDirectory("pq-crash-ref").toString
    PqIndex.buildFromTable(spark, table, "shard", idx2, Some(codebook))
    assert(codesOf(idxDir) == codesOf(idx2),
      "recovered index must equal a clean same-codebook rebuild — no lost codes")
    assert(PqIndex.refresh(spark, table, "shard", idxDir).changedRows == 0L)
  }

  test("sync builds a missing index, then refreshes it (the Maintain entry)") {
    val table = vectorTable(200)
    val idxDir = Files.createTempDirectory("pq-sync").toString
    val s0 = PqIndex.sync(spark, table, "shard", idxDir)
    assert(s0.rebuilt, s"no index yet → build: $s0")
    assert(codesOf(idxDir).size == 200)
    graft.batch.Upsert.mergeByKey(spark, table,
      vecRows(200 until 203, 0.0), "shard", Seq("vec_id"))
    val s1 = PqIndex.sync(spark, table, "shard", idxDir)
    assert(!s1.rebuilt && s1.changedRows == 3L, s"existing index → refresh: $s1")
    assert(codesOf(idxDir).size == 203)
    // same entry for the IVF index shape
    val ivfDir = Files.createTempDirectory("ivf-sync").toString
    assert(IvfIndex.sync(spark, table, "shard", ivfDir).rebuilt)
    assert(IvfIndex.sync(spark, table, "shard", ivfDir).changedRows == 0L)
  }

  test("refresh is a no-op at the tip and rebuilds past the drift threshold") {
    val table = vectorTable(100)
    val idxDir = Files.createTempDirectory("pq-drift").toString
    PqIndex.buildFromTable(spark, table, "shard", idxDir)
    val s0 = PqIndex.refresh(spark, table, "shard", idxDir)
    assert(!s0.rebuilt && s0.changedRows == 0L, s"caught-up refresh: $s0")
    graft.batch.Upsert.mergeByKey(spark, table,
      vecRows(0 until 80, 2.9), "shard", Seq("vec_id"))
    val s1 = PqIndex.refresh(spark, table, "shard", idxDir)
    assert(s1.rebuilt, s"80% churn must trigger a retraining rebuild: $s1")
    assert(PqIndex.refresh(spark, table, "shard", idxDir).changedRows == 0L)
  }
}
