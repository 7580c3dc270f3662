package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.batch.Upsert
import graft.operators.DedupIndex

/** Persisted MinHash band index: screening a new batch against the indexed
  * corpus finds exactly the planted near-dups without re-reading corpus
  * text for candidates, the change-feed refresh keeps the sidecar equal to
  * a rebuild while rewriting only affected prefix partitions, and sync
  * builds when absent. */
class DedupIndexSpec extends SparkSpec {

  /** Deterministic pseudo-text with per-doc-disjoint vocabulary (shared
    * vocab words make unrelated docs near-dup via shingle overlap — the
    * planted pairs must be the ONLY pairs). `dupOf` docs copy another
    * doc's text plus one extra word — shingle Jaccard 28/29 ≈ 0.97,
    * comfortably over 0.8. */
  private def text(i: Long): String =
    (0 until 30).map(j => s"d${i}w$j").mkString(" ")

  private def docsDf(ids: Seq[Long], dupOf: Map[Long, Long] = Map.empty): DataFrame = {
    import spark.implicits._
    ids.map { i =>
      val t = dupOf.get(i).map(o => text(o) + " extra").getOrElse(text(i))
      (i, s"s${i % 2}", t)
    }.toDF("doc_id", "src", "text")
  }

  private def pairs(df: DataFrame): Set[(Long, Long)] = {
    import spark.implicits._
    df.select("new_id", "old_id").as[(Long, Long)].collect().toSet
  }

  /** (bp dir name -> (file name -> mtime)) map of the band sidecar. */
  private def prefixFiles(indexDir: String): Map[String, Map[String, Long]] = {
    val root = new java.io.File(s"$indexDir/bands")
    root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("bp="))
      .map(d => d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap)
      .toMap
  }

  test("screen finds exactly the planted near-dups; candidates never read corpus text") {
    val t = Files.createTempDirectory("dedupidx").toString + "/t"
    // corpus: 30 base docs; batch: 10 docs of which 5 duplicate corpus docs
    Upsert.mergeByKey(spark, t, docsDf(0L until 30L), "src", Seq("doc_id"))
    val idx = Files.createTempDirectory("dedupidx-idx").toString
    assert(DedupIndex.buildFromTable(spark, t, "src", idx) == 30L)
    val batch = docsDf(40L until 50L,
      dupOf = (45L until 50L).map(i => i -> (i - 40L)).toMap)
    val found = DedupIndex.screen(spark, t, "src", idx, batch)
    assert(pairs(found) == (45L until 50L).map(i => (i, i - 40L)).toSet,
      s"exactly the planted pairs: ${pairs(found)}")
    // every verified jaccard is the planted 28/29
    import spark.implicits._
    val js = found.select("jaccard").as[Double].collect()
    assert(js.forall(j => math.abs(j - 28.0 / 29.0) < 1e-12))
    // the sidecar is bands only — no text, no shingles stored
    val cols = spark.read.parquet(s"$idx/bands").columns.toSet
    assert(cols == Set("doc_id", "band", "bp"),
      s"index must store band rows only, got $cols")
  }

  test("refresh == rebuild after churn, rewriting only affected prefixes") {
    val t = Files.createTempDirectory("dedupidx2").toString + "/t"
    Upsert.mergeByKey(spark, t, docsDf(0L until 30L), "src", Seq("doc_id"))
    val idx = Files.createTempDirectory("dedupidx2-idx").toString
    DedupIndex.buildFromTable(spark, t, "src", idx)
    val before = prefixFiles(idx)
    // churn: insert 2, update 1 (text changes), delete 1
    Upsert.mergeByKey(spark, t, docsDf(Seq(100L, 101L)), "src", Seq("doc_id"))
    Upsert.mergeByKey(spark, t,
      docsDf(Seq(7L), dupOf = Map(7L -> 20L)), "src", Seq("doc_id"))
    Upsert.deleteByKey(spark, t,
      docsDf(Seq(3L)).select("src", "doc_id"), "src", Seq("doc_id"))
    val st = DedupIndex.refresh(spark, t, "src", idx)
    assert(!st.rebuilt && st.changedRows == 4L, s"got $st")
    // content parity: the refreshed sidecar equals a from-scratch rebuild
    val idx2 = Files.createTempDirectory("dedupidx2-re").toString
    DedupIndex.buildFromTable(spark, t, "src", idx2)
    import spark.implicits._
    def bands(d: String): Set[(Long, String)] =
      spark.read.parquet(s"$d/bands").select("doc_id", "band")
        .as[(Long, String)].collect().toSet
    assert(bands(idx) == bands(idx2), "refresh must equal rebuild exactly")
    // bounded maintenance: untouched prefixes byte-identical (names+mtimes),
    // and the touched count matches what the refresh reported
    val after = prefixFiles(idx)
    val changed = before.keySet.union(after.keySet).count { p =>
      before.get(p) != after.get(p)
    }
    assert(changed <= st.partitionsTouched,
      s"$changed prefix dirs changed, refresh reported ${st.partitionsTouched}")
    assert(before.keySet.intersect(after.keySet).exists(p =>
        before(p) == after(p)),
      "at least one untouched prefix must remain byte-identical")
  }

  test("screen tracks the feed: deleted partners vanish, inserted ones appear") {
    val t = Files.createTempDirectory("dedupidx3").toString + "/t"
    Upsert.mergeByKey(spark, t, docsDf(0L until 30L), "src", Seq("doc_id"))
    val idx = Files.createTempDirectory("dedupidx3-idx").toString
    DedupIndex.buildFromTable(spark, t, "src", idx)
    val batch = docsDf(Seq(40L, 41L), dupOf = Map(40L -> 5L))
    assert(pairs(DedupIndex.screen(spark, t, "src", idx, batch)) == Set((40L, 5L)))
    // the partner leaves the corpus → refresh → the pair is gone
    Upsert.deleteByKey(spark, t,
      docsDf(Seq(5L)).select("src", "doc_id"), "src", Seq("doc_id"))
    DedupIndex.refresh(spark, t, "src", idx)
    assert(pairs(DedupIndex.screen(spark, t, "src", idx, batch)).isEmpty,
      "a deleted corpus doc must stop matching after refresh")
    // a new corpus doc duplicating batch doc 41 → refresh → pair appears
    Upsert.mergeByKey(spark, t,
      docsDf(Seq(200L), dupOf = Map(200L -> 41L)), "src", Seq("doc_id"))
    DedupIndex.refresh(spark, t, "src", idx)
    assert(pairs(DedupIndex.screen(spark, t, "src", idx, batch)) == Set((41L, 200L)),
      "an inserted near-dup must match after refresh")
  }

  test("streaming document ingestion: each wave screens, then joins the corpus (e2e)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val t = Files.createTempDirectory("dedupidx5").toString + "/t"
    Upsert.mergeByKey(spark, t, docsDf(0L until 20L), "src", Seq("doc_id"))
    val idx = Files.createTempDirectory("dedupidx5-idx").toString
    DedupIndex.buildFromTable(spark, t, "src", idx)

    // the steady-state shape: documents ARRIVE as a stream; each
    // micro-batch is screened against the index (the dedup decision),
    // merged exactly-once, and the index catches up off the change feed —
    // the corpus is never re-shingled
    val mem = MemoryStream[Long]
    val ckpt = Files.createTempDirectory("dedupidx5-ckpt").toString
    val screened = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    val q = mem.toDF().select(col("value").as("doc_id"))
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val ids = batch.as[Long].collect().toSeq
        if (ids.nonEmpty) {
          // waves plant one duplicate each: doc 100+i duplicates doc i
          val docs = docsDf(ids,
            dupOf = ids.filter(_ >= 100L).map(i => i -> (i - 100L)).toMap)
          screened ++= pairs(DedupIndex.screen(spark, t, "src", idx, docs))
          Upsert.mergeByKey(spark, t, docs, "src", Seq("doc_id"))
          DedupIndex.refresh(spark, t, "src", idx)
        }
        ()
      }
      .start()
    try {
      mem.addData(100L, 50L)
      q.processAllAvailable()
      assert(screened.toSet == Set((100L, 0L)), s"wave 1 screen: $screened")
      // wave 2: 101 duplicates seed doc 1; 150 duplicates doc 50, which
      // was NOT in the seed corpus — it arrived in wave 1. Catching
      // (150, 50) proves the refresh really made wave-1 docs screenable.
      mem.addData(101L, 150L)
      q.processAllAvailable()
    } finally q.stop()
    assert(screened.toSet == Set((100L, 0L), (101L, 1L), (150L, 50L)),
      s"$screened")
    // and a post-hoc duplicate of wave-1's doc 50 is caught via the index —
    // matching BOTH 50 and 150 (150 is itself a copy of 50, so all three
    // texts coincide; the screen reports every indexed partner)
    val probe = docsDf(Seq(999L), dupOf = Map(999L -> 50L))
    assert(pairs(DedupIndex.screen(spark, t, "src", idx, probe)) ==
      Set((999L, 50L), (999L, 150L)),
      "wave-1 and wave-2 docs must be screenable partners after the refreshes")
  }

  test("shingle-less short documents: build, screen, and refresh all survive") {
    import spark.implicits._
    val t = Files.createTempDirectory("dedupidx6").toString + "/t"
    // corpus mixes normal docs with legal <3-token docs (NULL signatures →
    // NULL bands) — these must simply be invisible to the band index, not
    // crash it or pollute a Hive default partition
    val seed = docsDf(0L until 10L).unionByName(
      Seq((900L, "s0", "hi"), (901L, "s1", "one two")).toDF("doc_id", "src", "text"))
    Upsert.mergeByKey(spark, t, seed, "src", Seq("doc_id"))
    val idx = Files.createTempDirectory("dedupidx6-idx").toString
    DedupIndex.buildFromTable(spark, t, "src", idx)
    val bandDirs = new java.io.File(s"$idx/bands").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(!bandDirs.exists(_.contains("__HIVE_DEFAULT_PARTITION__")),
      s"short docs must never persist a null band prefix: $bandDirs")
    // a batch containing a short doc screens fine (short doc matches nothing)
    val batch = docsDf(Seq(40L), dupOf = Map(40L -> 5L)).unionByName(
      Seq((41L, "s1", "tiny")).toDF("doc_id", "src", "text"))
    assert(pairs(DedupIndex.screen(spark, t, "src", idx, batch)) == Set((40L, 5L)))
    // churn a SHORT doc (the r15 advisory's crash shape: a changed doc with
    // no shingles put a null in refresh's affected-prefix sort) and a
    // normal doc in the same range; refresh must equal a rebuild
    Upsert.mergeByKey(spark, t,
      Seq((900L, "s0", "hi there")).toDF("doc_id", "src", "text"),
      "src", Seq("doc_id"))
    Upsert.mergeByKey(spark, t,
      docsDf(Seq(300L), dupOf = Map(300L -> 2L)), "src", Seq("doc_id"))
    val st = DedupIndex.refresh(spark, t, "src", idx)
    assert(!st.rebuilt, s"short-doc churn must refresh incrementally: $st")
    val idx2 = Files.createTempDirectory("dedupidx6-re").toString
    DedupIndex.buildFromTable(spark, t, "src", idx2)
    def bands(d: String): Set[(Long, String)] =
      spark.read.parquet(s"$d/bands").select("doc_id", "band")
        .as[(Long, String)].collect().toSet
    assert(bands(idx) == bands(idx2),
      "refresh must equal rebuild exactly with short docs in the churn")
  }

  test("sync builds when absent, refreshes when present") {
    val t = Files.createTempDirectory("dedupidx4").toString + "/t"
    Upsert.mergeByKey(spark, t, docsDf(0L until 10L), "src", Seq("doc_id"))
    val idx = Files.createTempDirectory("dedupidx4-idx").toString
    val s1 = DedupIndex.sync(spark, t, "src", idx)
    assert(s1.rebuilt, "first sync must build")
    assert(s1.changedRows == 0L, s"a first build reads nothing from the feed: $s1")
    assert(new java.io.File(s"$idx/meta.json").isFile)
    val s2 = DedupIndex.sync(spark, t, "src", idx)
    assert(!s2.rebuilt && s2.changedRows == 0L, s"no-op sync at the tip: $s2")
  }
}
