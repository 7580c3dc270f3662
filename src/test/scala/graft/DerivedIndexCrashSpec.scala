package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.batch.Upsert
import graft.operators.{DedupIndex, DerivedIndex, IvfIndex, IvfPqIndex, PqIndex}

/** Crash recovery of the one change-feed refresh protocol, for every index
  * that uses it. A refresh stages the touched partitions into
  * `.refresh-v<tip>`, swaps them in one at a time, deletes the staging dir
  * and only then advances `meta.json`. Each on-disk state a crash can leave
  * behind is built here directly from a clean refresh's before and after
  * images:
  *
  *   1. staging written, nothing installed;
  *   2. one live partition deleted, its staged copy not yet renamed;
  *   3. every partition renamed, staging not deleted;
  *   4. staging deleted, meta not yet advanced.
  *
  * From each, the next refresh must end equal to a clean rebuild pinned to
  * the same trained state, and the refresh after it must be a no-op. */
class DerivedIndexCrashSpec extends SparkSpec {

  private final case class Case(
      name: String,
      index: DerivedIndex,
      dataSubdir: String,
      indexPart: String,
      srcPart: String,
      seed: () => String,
      churn: String => Unit,
      build: (String, String) => Unit,
      pinnedBuild: (String, String, String) => Unit)

  private def tmp(p: String): String = Files.createTempDirectory(p).toString

  private def vecRows(ids: Seq[Int], shift: Double): DataFrame =
    spark.range(ids.head, ids.last + 1).select(col("id").as("vec_id"))
      .withColumn("shard", concat(lit("s"), (col("vec_id") % 4).cast("string")))
      .withColumn("embedding", expr("transform(sequence(0, 63), i -> " +
        s"CAST(sin(CAST(vec_id * 64 + i AS DOUBLE) + $shift) AS FLOAT))"))

  private def vecTable(): String = {
    val t = tmp("crash-vec") + "/vectors"
    Upsert.mergeByKey(spark, t, vecRows(0 until 400, 0.0), "shard", Seq("vec_id"))
    t
  }

  /** 5 inserts, 3 updates, 2 deletes: under the drift threshold. */
  private def vecChurn(t: String): Unit = {
    Upsert.mergeByKey(spark, t, vecRows(400 until 405, 0.0), "shard", Seq("vec_id"))
    Upsert.mergeByKey(spark, t, vecRows(10 until 13, 1.7), "shard", Seq("vec_id"))
    Upsert.deleteByKey(spark, t,
      vecRows(20 until 22, 0.0).select("shard", "vec_id"), "shard", Seq("vec_id"))
  }

  private def docs(ids: Seq[Long], copyOf: Map[Long, Long] = Map.empty): DataFrame = {
    import spark.implicits._
    ids.map { i =>
      (i, s"s${i % 2}", (0 until 30).map(j => s"d${copyOf.getOrElse(i, i)}w$j").mkString(" "))
    }.toDF("doc_id", "src", "text")
  }

  private def docTable(): String = {
    val t = tmp("crash-docs") + "/t"
    Upsert.mergeByKey(spark, t, docs(0L until 30L), "src", Seq("doc_id"))
    t
  }

  /** 2 inserts, 1 text update, 1 delete. */
  private def docChurn(t: String): Unit = {
    Upsert.mergeByKey(spark, t, docs(Seq(100L, 101L)), "src", Seq("doc_id"))
    Upsert.mergeByKey(spark, t, docs(Seq(7L), Map(7L -> 20L)), "src", Seq("doc_id"))
    Upsert.deleteByKey(spark, t, docs(Seq(3L)).select("src", "doc_id"), "src", Seq("doc_id"))
  }

  private def coarseOf(dir: String): Seq[(Long, Seq[Long])] =
    spark.read.parquet(dir).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toSeq.sortBy(_._1)

  private def subCodebookOf(dir: String): Seq[(Int, Long, Seq[Long])] =
    spark.read.parquet(dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getSeq[Long](2).toSeq)).toSeq
      .sortBy(t => (t._1, t._2))

  private val cases = Seq(
    Case("ivf", IvfIndex, "cells", "cell", "shard", () => vecTable(), vecChurn,
      (t, d) => IvfIndex.buildFromTable(spark, t, "shard", d),
      (t, from, d) => IvfIndex.buildFromTable(spark, t, "shard", d,
        Some(coarseOf(s"$from/codebook")))),
    Case("pq", PqIndex, "codes", "bucket", "shard", () => vecTable(), vecChurn,
      (t, d) => PqIndex.buildFromTable(spark, t, "shard", d),
      (t, from, d) => PqIndex.buildFromTable(spark, t, "shard", d,
        Some(subCodebookOf(s"$from/codebook")))),
    Case("ivfpq", IvfPqIndex, "codes", "cell", "shard", () => vecTable(), vecChurn,
      (t, d) => IvfPqIndex.buildFromTable(spark, t, "shard", d),
      (t, from, d) => IvfPqIndex.buildFromTable(spark, t, "shard", d,
        Some(coarseOf(s"$from/coarse")), Some(subCodebookOf(s"$from/pq")))),
    Case("dedup", DedupIndex, "bands", "bp", "src", () => docTable(), docChurn,
      (t, d) => DedupIndex.buildFromTable(spark, t, "src", d),
      (t, _, d) => DedupIndex.buildFromTable(spark, t, "src", d)))

  /** Every data row, partition value included, as a comparable string,
    * sorted so a duplicated row shows — partition values read back with
    * inferred types, so all go through string. */
  private def contents(c: Case, dir: String): Seq[String] = {
    val df = spark.read.parquet(s"$dir/${c.dataSubdir}")
    df.select(df.columns.sorted.map(n => col(n).cast("string")): _*)
      .collect().map(_.mkString("|")).toSeq.sorted
  }

  private def copyTree(src: Path, dst: Path): Unit =
    Files.walk(src).forEach { p =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))

  /** partition dir name -> its data file names. */
  private def partitions(c: Case, dir: String): Map[String, Set[String]] =
    new java.io.File(s"$dir/${c.dataSubdir}").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith(s"${c.indexPart}="))
      .map(d => d.getName -> d.list().filter(_.endsWith(".parquet")).toSet)
      .toMap

  /** The index before the churn, after a clean refresh of it, the
    * partitions that refresh rewrote, the tip it reached, and the pinned
    * rebuild every recovery must equal. */
  private final case class Fixture(
      table: String, before: String, after: String, touched: Seq[String],
      tip: Long, reference: Seq[String])

  private val fixtures = scala.collection.mutable.Map.empty[String, Fixture]

  private def fixture(c: Case): Fixture = fixtures.getOrElseUpdate(c.name, {
    val table = c.seed()
    val before = tmp(s"crash-${c.name}-before")
    c.build(table, before)
    c.churn(table)
    val after = tmp(s"crash-${c.name}-after")
    copyTree(Path.of(before), Path.of(after))
    val st = c.index.refresh(spark, table, c.srcPart, after)
    assert(!st.rebuilt && st.changedRows > 0, s"clean refresh: $st")
    val (pb, pa) = (partitions(c, before), partitions(c, after))
    val touched = (pb.keySet ++ pa.keySet).filter(k => pb.get(k) != pa.get(k)).toSeq.sorted
    val ref = tmp(s"crash-${c.name}-ref")
    c.pinnedBuild(table, before, ref)
    assert(contents(c, after) == contents(c, ref), "a clean refresh equals a pinned rebuild")
    Fixture(table, before, after, touched,
      graft.core.TxnLog.currentVersion(spark, table), contents(c, ref))
  })

  /** A copy of the pre-churn index, advanced by the refresh's own file
    * operations, in the refresh's own order, up to the crash point of
    * `state`. */
  private def crashedAt(c: Case, f: Fixture, state: Int): String = {
    val dir = Path.of(tmp(s"crash-${c.name}-s$state"))
    copyTree(Path.of(f.before), dir)
    val data = dir.resolve(c.dataSubdir)
    val staging = dir.resolve(s".refresh-v${f.tip}")
    Files.createDirectories(staging)
    f.touched.map(p => Path.of(f.after, c.dataSubdir, p)).filter(Files.exists(_))
      .foreach(p => copyTree(p, staging.resolve(p.getFileName)))
    def install(p: String): Unit = {
      deleteTree(data.resolve(p))
      if (Files.exists(staging.resolve(p))) Files.move(staging.resolve(p), data.resolve(p))
    }
    state match {
      case 1 =>
      case 2 =>
        val k = f.touched.indexWhere(p =>
          Files.exists(data.resolve(p)) && Files.exists(staging.resolve(p)))
        assert(k >= 0, s"fixture: no partition both live and staged in ${f.touched}")
        f.touched.take(k).foreach(install)
        deleteTree(data.resolve(f.touched(k)))
      case _ =>
        f.touched.foreach(install)
        if (state == 4) deleteTree(staging)
    }
    dir.toString
  }

  for (c <- cases; state <- 1 to 4)
    test(s"${c.name}: refresh recovers from crash state $state and then is a no-op") {
      val f = fixture(c)
      val dir = crashedAt(c, f, state)
      val st = c.index.refresh(spark, f.table, c.srcPart, dir)
      // states 1-3 leave staging newer than meta: only a pinned rebuild is
      // safe; state 4 left none, so the feed re-applies over its own result
      assert(st.rebuilt == (state < 4), s"state $state: $st")
      assert(!Files.exists(Path.of(dir, s".refresh-v${f.tip}")), "staging is swept")
      assert(contents(c, dir) == f.reference,
        s"state $state must recover to the pinned rebuild")
      val again = c.index.refresh(spark, f.table, c.srcPart, dir)
      assert(again == DerivedIndex.RefreshStats(rebuilt = false, 0L, 0L, f.tip, f.tip),
        s"the refresh after recovery must be a no-op: $again")
    }
}
