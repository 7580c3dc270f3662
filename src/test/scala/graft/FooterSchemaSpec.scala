package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.LongType

import graft.batch.{TypeWidening, Upsert}
import graft.core.{FooterSchema, Tables}
import graft.operators.{IvfIndex, MediaOps}

/** Differential check of [[FooterSchema.read]] against
  * `spark.read.parquet` on every kind of input the program routes through
  * it: same schema, same rows both ways, and no Spark job where the
  * footer path applies. Jobs are counted with a job group and the status
  * tracker. */
class FooterSchemaSpec extends SparkSpec {

  private val corpus = "perfbench/data/sf0.001"
  private def tmp(p: String) = Files.createTempDirectory(p).toString

  /** Runs `body` under a fresh job group; returns its value and the
    * number of Spark jobs it ran. */
  private def jobs[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val g = s"footer-schema-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(g, g)
    try {
      val a = body
      (a, sc.statusTracker.getJobIdsForGroup(g).length)
    } finally sc.clearJobGroup()
  }

  /** The helper's read plans with no job and equals Spark's own. */
  private def same(path: String): Unit = {
    val (mine, n) = jobs(FooterSchema.read(spark, path))
    assert(n == 0, s"$path: planning the read ran $n Spark job(s)")
    equal(mine, spark.read.parquet(path), path)
  }

  private def equal(mine: DataFrame, theirs: DataFrame, what: String): Unit = {
    assert(mine.schema == theirs.schema,
      s"$what: ${mine.schema.treeString} vs ${theirs.schema.treeString}")
    assert(mine.exceptAll(theirs).isEmpty && theirs.exceptAll(mine).isEmpty,
      s"$what: rows differ")
  }

  private def withConf[A](k: String, v: String)(body: => A): A = {
    val saved = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally saved match {
      case Some(s) => spark.conf.set(k, s)
      case None    => spark.conf.unset(k)
    }
  }

  test("every corpus table reads as spark.read.parquet does, with no job") {
    Tables.all.filterNot(_ == "events").foreach(t => same(s"$corpus/$t.parquet"))
  }

  test("events reads alike under nanosAsLong on and off and inferTimestampNTZ off") {
    val events = s"$corpus/events.parquet"
    Seq("true", "false").foreach { v =>
      withConf("spark.sql.legacy.parquet.nanosAsLong", v)(same(events))
    }
    withConf("spark.sql.parquet.inferTimestampNTZ.enabled", "false")(same(events))
  }

  private def seed(t: String): Unit = {
    import spark.implicits._
    Upsert.mergeByKey(spark, t,
      (1 to 40).map(i => (s"d${i % 2}", i.toLong, i)).toDF("day", "k", "v"),
      "day", Seq("k"))
  }

  test("a partition dir after a plain merge, an auto-merge widening, " +
      "a declared widening and a compaction") {
    import spark.implicits._
    val t = tmp("footer-merge") + "/t"
    seed(t)
    Upsert.mergeByKey(spark, t,
      Seq(("d0", 2L, 7), ("d0", 100L, 8)).toDF("day", "k", "v"), "day", Seq("k"))
    same(s"$t/day=d0")
    same(s"$t/day=d1")

    spark.conf.set("graft.schema.autoMerge.enabled", "true")
    try Upsert.mergeByKey(spark, t,
      Seq(("d0", 4L, 9, "eu")).toDF("day", "k", "v", "region"), "day", Seq("k"))
    finally spark.conf.unset("graft.schema.autoMerge.enabled")
    assert(spark.read.parquet(s"$t/day=d0").columns.contains("region"))
    same(s"$t/day=d0")

    TypeWidening.widen(spark, t, "day", "v", LongType)
    Upsert.mergeByKey(spark, t,
      Seq(("d1", 3L, 5000000000L)).toDF("day", "k", "v"), "day", Seq("k"))
    assert(spark.read.parquet(s"$t/day=d1").schema("v").dataType == LongType)
    same(s"$t/day=d1")
    assert(TypeWidening.narrowParts(spark, t, "day") == Seq("day=d0"))

    (0 until 3).foreach { i =>
      Upsert.mergeByKey(spark, t,
        Seq(("d1", 200L + i, i.toLong)).toDF("day", "k", "v"), "day", Seq("k"))
    }
    assert(Upsert.compactPartitions(spark, t, "day", minFilesToCompact = 2) >= 1)
    same(s"$t/day=d1")
    same(s"$t/day=d0")
  }

  test("an IVF index data dir and a kind-partitioned media dir") {
    val idx = tmp("footer-ivf")
    IvfIndex.build(spark, corpus, idx)
    same(s"$idx/cells")
    same(s"$idx/codebook")
    val media = tmp("footer-media") + "/m"
    MediaOps.writePartitioned(MediaOps.syntheticCorpus(spark, 30), media)
    same(media)
    assert(FooterSchema.read(spark, media).columns.last == "kind")
  }

  test("an empty dir and a missing path fail as Spark fails") {
    def failure(read: String => DataFrame, p: String): Class[_] =
      intercept[Throwable](read(p)).getClass
    Seq(tmp("footer-empty"), tmp("footer-missing") + "/nothing").foreach { p =>
      assert(failure(FooterSchema.read(spark, _), p) ==
        failure(spark.read.parquet(_), p), p)
    }
  }

  test("a dir with a _spark_metadata sink log defers to Spark's log-based read") {
    val src = tmp("footer-sink-src")
    val out = tmp("footer-sink") + "/out"
    spark.range(10).toDF("id").write.mode("overwrite").parquet(src)
    val q = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
      .writeStream.format("parquet")
      .option("checkpointLocation", tmp("footer-sink-ck"))
      .trigger(Trigger.AvailableNow()).start(out)
    q.awaitTermination()
    // a stray file the log does not name: only a log-based read skips it
    spark.range(100, 103).toDF("id").coalesce(1).write.parquet(s"$out/stray")
    Files.list(java.nio.file.Paths.get(s"$out/stray")).forEach { f =>
      if (f.getFileName.toString.endsWith(".parquet"))
        Files.move(f, java.nio.file.Paths.get(s"$out/${f.getFileName}"))
    }
    val (mine, n) = jobs(FooterSchema.read(spark, out))
    assert(n >= 1, "the sink dir must take Spark's inference, not a footer")
    equal(mine, spark.read.parquet(out), out)
    assert(mine.count() == 10L)
  }

  test("planning rel_range_join_auto runs zero Spark jobs") {
    val (_, n) = jobs(SparkEntry.queries("rel_range_join_auto")(spark, corpus)
      .queryExecution.executedPlan)
    assert(n == 0, s"planning ran $n Spark job(s)")
  }
}
