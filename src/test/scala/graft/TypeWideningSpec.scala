package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.batch.{ChangeFeed, ShallowClone, TableFeatures, TypeWidening, Upsert}
import graft.core.TxnLog

/** Type widening (the Delta `enableTypeWidening` analog): declaring
  * INT→LONG / FLOAT→DOUBLE / DECIMAL-up is pure metadata — reads upcast
  * narrow partitions below the union, merges accept the wide type and
  * rewrite only the partitions they touch, time travel and the change
  * feed stay exact across the widening, and DROP FEATURE demands the
  * materialize-then-clear residue discipline. */
class TypeWideningSpec extends SparkSpec {

  private def tmp(p: String) = Files.createTempDirectory(p).toString

  private def seedInt(t: String): Unit = {
    import spark.implicits._
    Upsert.mergeByKey(spark, t,
      Seq(("a", 1L, 10), ("a", 2L, 20), ("b", 1L, 30))
        .toDF("day", "k", "v"), "day", Seq("k"))
  }

  private def vType(t: String, part: String): DataType =
    spark.read.parquet(s"$t/day=$part").schema("v").dataType

  test("INT→LONG is pure metadata: reads upcast, the merge accepts the " +
      "wide type, only touched partitions rewrite wide") {
    import spark.implicits._
    val t = tmp("widen") + "/t"
    seedInt(t)
    val v0 = TxnLog.currentVersion(spark, t)
    TypeWidening.widen(spark, t, "day", "v", LongType)
    // no data job ran: both partitions still physically INT
    assert(vType(t, "a") == IntegerType && vType(t, "b") == IntegerType)
    // but every read presents LONG, values exact
    val r = Upsert.readCommitted(spark, t, "day")
    assert(r.schema("v").dataType == LongType)
    assert(r.select("v").as[Long].collect().sorted.toSeq == Seq(10L, 20L, 30L))
    // the feature is declared at reader level (mixed-width partitions
    // need the registry's per-dir upcast legs — an unaware build's one
    // mergeSchema read fails the footer merge), and DESCRIBE DETAIL
    // surfaces the widening
    assert(TableFeatures.features(spark, t)
      .get(TableFeatures.TypeWideningFeature).contains("reader"))
    assert(Upsert.detail(spark, t).typeWidenings == Seq("v -> bigint"))
    // a merge carrying genuinely-long values lands; it touches only day=a
    Upsert.mergeByKey(spark, t,
      Seq(("a", 2L, 9999999999L)).toDF("day", "k", "v"), "day", Seq("k"))
    assert(vType(t, "a") == LongType, "touched partition rewrites wide")
    assert(vType(t, "b") == IntegerType, "untouched partition stays narrow")
    val r1 = Upsert.readCommitted(spark, t, "day")
    assert(r1.select("v").as[Long].collect().sorted.toSeq ==
      Seq(10L, 30L, 9999999999L))
    // time travel to the pre-widening version: values exact (presented
    // under the current wide type — one stable schema for the timeline)
    val back = Upsert.readAsOf(spark, t, v0, "day")
    assert(back.schema("v").dataType == LongType)
    assert(back.select("v").as[Long].collect().sorted.toSeq ==
      Seq(10L, 20L, 30L))
  }

  test("the change feed stays exact across the widening commit") {
    import spark.implicits._
    val t = tmp("widen-cdf") + "/t"
    seedInt(t)
    TypeWidening.widen(spark, t, "day", "v", LongType)
    Upsert.mergeByKey(spark, t,
      Seq(("a", 2L, 9999999999L)).toDF("day", "k", "v"), "day", Seq("k"))
    val feed = ChangeFeed.readChanges(spark, t, "day", 0L)
      .select(col("k"), col("v").cast("long"),
        col(ChangeFeed.ChangeTypeCol).as("ct"))
      .as[(Long, Long, String)].collect().toSet
    // the widened merge feeds a delete of the narrow pre-image and an
    // insert of the wide row, alongside the seed inserts
    assert(feed.contains((2L, 20L, "insert")), s"$feed")
    assert(feed.contains((2L, 20L, "delete")), s"$feed")
    assert(feed.contains((2L, 9999999999L, "insert")), s"$feed")
  }

  test("refusal matrix: narrowing, lossy and cross-kind changes, the " +
      "partition column, unknown columns — all refused by name") {
    import spark.implicits._
    val t = tmp("widen-refuse") + "/t"
    Upsert.mergeByKey(spark, t,
      Seq(("a", 1L, 10L, "x")).toDF("day", "k", "v", "s"),
      "day", Seq("k"))
    def refuses(col: String, to: DataType, what: String): Unit = {
      val e = intercept[IllegalArgumentException] {
        TypeWidening.widen(spark, t, "day", col, to)
      }
      assert(e.getMessage.contains(what), s"$col->$to: ${e.getMessage}")
    }
    refuses("v", IntegerType, "not a value-preserving widening") // narrow
    refuses("v", DoubleType, "not a value-preserving widening")  // lossy
    refuses("s", LongType, "not a value-preserving widening")    // kind
    refuses("day", LongType, "partition column")
    refuses("nope", LongType, "no column nope")
    // an UNDECLARED wider-type merge refuses with the widening hint
    val e = intercept[Exception] {
      Upsert.mergeByKey(spark, t,
        Seq(("a", 1L, 1.5, "y")).toDF("day", "k", "v", "s"),
        "day", Seq("k"))
    }
    assert(e.getMessage.contains("type conflict") &&
      e.getMessage.contains("TypeWidening.widen"), e.getMessage)
    // updates NARROWER than the table are benign (cast up, no refusal)
    Upsert.mergeByKey(spark, t,
      Seq(("a", 1L, 11, "y")).toDF("day", "k", "v", "s"), "day", Seq("k"))
    val r = Upsert.readCommitted(spark, t, "day")
    assert(r.schema("v").dataType == LongType)
    assert(r.select("v").as[Long].collect().toSeq == Seq(11L))
  }

  test("concurrent widenings of disjoint columns all land in the registry") {
    import spark.implicits._
    val t = tmp("widen-race") + "/t"
    val cols = (0 until 8).map(i => s"c$i")
    Upsert.mergeByKey(spark, t,
      Seq(("a", 1L)).toDF("day", "k")
        .select(col("day") +: col("k") +: cols.map(c => lit(1).as(c)): _*),
      "day", Seq("k"))
    // every thread reads the registry, then installs its edit; a racer's
    // edit landing in between must be re-read, never overwritten
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cols.size)
    val start = new java.util.concurrent.CountDownLatch(1)
    try {
      val fs = cols.map(c => pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = {
          start.await()
          TypeWidening.widen(spark, t, "day", c, LongType)
        }
      }))
      start.countDown()
      fs.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    val w = TypeWidening.widenings(spark, t)
    assert(cols.filterNot(c => w.get(c).contains(LongType)).isEmpty,
      s"lost widenings: registry holds ${w.keys.toSeq.sorted}")
    assert(Upsert.readCommitted(spark, t, "day").schema.filter(f =>
      cols.contains(f.name)).forall(_.dataType == LongType))
  }

  test("float→double and decimal precision-up widen; long→double never") {
    assert(TypeWidening.isAllowed(FloatType, DoubleType))
    assert(TypeWidening.isAllowed(DecimalType(10, 2), DecimalType(14, 4)))
    assert(!TypeWidening.isAllowed(DecimalType(10, 2), DecimalType(10, 1)))
    assert(!TypeWidening.isAllowed(LongType, DoubleType))
    assert(TypeWidening.isAllowed(IntegerType, DoubleType))
    assert(TypeWidening.isAllowed(LongType, DecimalType(19, 0)))
    assert(!TypeWidening.isAllowed(LongType, DecimalType(18, 0)))
  }

  test("DROP FEATURE: residue names the widening; materialize rewrites " +
      "the narrow partitions; clear then drop succeeds") {
    import spark.implicits._
    val t = tmp("widen-drop") + "/t"
    seedInt(t)
    TypeWidening.widen(spark, t, "day", "v", LongType)
    val e = intercept[TableFeatures.ResidueException] {
      TableFeatures.dropFeature(spark, t, TableFeatures.TypeWideningFeature)
    }
    assert(e.getMessage.contains("v->bigint") &&
      e.getMessage.contains("materialize"), e.getMessage)
    // clear refuses while narrow files remain
    val e2 = intercept[IllegalStateException] {
      TypeWidening.clear(spark, t, "day")
    }
    assert(e2.getMessage.contains("narrow"), e2.getMessage)
    // materialize rewrites exactly the narrow partitions, wide
    val rewritten = TypeWidening.materialize(spark, t, "day")
    assert(rewritten == Seq("a", "b"), s"$rewritten")
    assert(vType(t, "a") == LongType && vType(t, "b") == LongType)
    assert(TypeWidening.narrowParts(spark, t, "day").isEmpty)
    // values intact, rewrite time-travelable like any rewrite
    val r = Upsert.readCommitted(spark, t, "day")
    assert(r.select("v").as[Long].collect().sorted.toSeq == Seq(10L, 20L, 30L))
    TypeWidening.clear(spark, t, "day")
    TableFeatures.dropFeature(spark, t, TableFeatures.TypeWideningFeature)
    assert(!TableFeatures.features(spark, t)
      .contains(TableFeatures.TypeWideningFeature))
    // post-drop reads are plain (every file is wide)
    assert(Upsert.readCommitted(spark, t, "day").count() == 3L)
  }

  test("a shallow clone of a widened source upcasts its remote reads and " +
      "localizes its copies wide") {
    import spark.implicits._
    val t = tmp("widen-src") + "/t"
    seedInt(t)
    TypeWidening.widen(spark, t, "day", "v", LongType)
    Upsert.mergeByKey(spark, t,
      Seq(("a", 2L, 9999999999L)).toDF("day", "k", "v"), "day", Seq("k"))
    // the source is now mixed-width: day=a LONG, day=b INT
    assert(vType(t, "a") == LongType && vType(t, "b") == IntegerType)
    val c = tmp("widen-clone") + "/c"
    ShallowClone.create(spark, t, c, "day")
    val r = ShallowClone.read(spark, c, "day")
    assert(r.schema("v").dataType == LongType)
    assert(r.select("v").as[Long].collect().sorted.toSeq ==
      Seq(10L, 30L, 9999999999L))
    // copy-on-write localization of the NARROW partition lands wide —
    // the clone's own partitions stay uniform
    assert(ShallowClone.localize(spark, c, "day", Seq("b")) == Seq("b"))
    assert(spark.read.parquet(s"$c/day=b").schema("v").dataType == LongType)
    assert(ShallowClone.read(spark, c, "day")
      .select("v").as[Long].collect().sorted.toSeq ==
      Seq(10L, 30L, 9999999999L))
  }

  test("widen is idempotent, and merged updates land at EXACTLY the " +
      "registered type — union coercion cannot overshoot it") {
    import spark.implicits._
    val t = tmp("widen-exact") + "/t"
    seedInt(t)
    TypeWidening.widen(spark, t, "day", "v", DecimalType(19, 0))
    // re-declaring the same widening is a no-op, not a refusal
    TypeWidening.widen(spark, t, "day", "v", DecimalType(19, 0))
    // LONG updates into a still-INT partition under a decimal(19,0)
    // widening: both sides must cast to the REGISTERED type — plain
    // union coercion of decimal(19,0) with bigint would write
    // decimal(20,0), a partition no registry comparison ever matches
    Upsert.mergeByKey(spark, t,
      Seq(("a", 2L, 9999999999L)).toDF("day", "k", "v"), "day", Seq("k"))
    assert(vType(t, "a") == DecimalType(19, 0),
      s"partition must land at the registered type: ${vType(t, "a")}")
    assert(TypeWidening.narrowParts(spark, t, "day") == Seq("day=b"),
      "only the untouched partition stays narrow")
    TypeWidening.materialize(spark, t, "day")
    TypeWidening.clear(spark, t, "day")
    TableFeatures.dropFeature(spark, t, TableFeatures.TypeWideningFeature)
    val r = Upsert.readCommitted(spark, t, "day")
    assert(r.select(col("v").cast("long")).as[Long].collect().sorted.toSeq ==
      Seq(10L, 30L, 9999999999L))
  }

  test("deep clone of a mixed-width widened source copies wide and stays " +
      "consistent with the carried registry") {
    import spark.implicits._
    val t = tmp("widen-deep") + "/t"
    seedInt(t)
    TypeWidening.widen(spark, t, "day", "v", LongType)
    Upsert.mergeByKey(spark, t,
      Seq(("a", 2L, 9999999999L)).toDF("day", "k", "v"), "day", Seq("k"))
    assert(vType(t, "a") == LongType && vType(t, "b") == IntegerType)
    val c = tmp("widen-deepdst") + "/c"
    Upsert.cloneTo(spark, t, c, "day")
    // the copy lands WIDE everywhere, matching the carried widen registry
    assert(vType(c, "a") == LongType && vType(c, "b") == LongType)
    assert(TypeWidening.narrowParts(spark, c, "day").isEmpty)
    assert(Upsert.readCommitted(spark, c, "day")
      .select("v").as[Long].collect().sorted.toSeq ==
      Seq(10L, 30L, 9999999999L))
  }

  test("a clone pins the source's widening registry at create: a post-pin " +
      "source widening does not leak in, and the source's sanctioned " +
      "materialize+clear cannot strand the clone") {
    import spark.implicits._
    val t = tmp("widen-straddle") + "/t"
    seedInt(t)
    val c = tmp("widen-straddledst") + "/c"
    ShallowClone.create(spark, t, c, "day")
    // localized BEFORE the source widening: lands at the pin's width
    assert(ShallowClone.localize(spark, c, "day", Seq("b")) == Seq("b"))
    assert(spark.read.parquet(s"$c/day=b").schema("v").dataType ==
      IntegerType)
    TypeWidening.widen(spark, t, "day", "v", LongType)
    // the post-pin widening does NOT retroactively change the clone: its
    // carried registry (copied at create) predates the declaration, the
    // pinned snapshot's files are all narrow, so reads and any further
    // localizations stay at the pin's width
    val r = ShallowClone.read(spark, c, "day")
    assert(r.schema("v").dataType == IntegerType)
    assert(r.select("v").as[Int].collect().sorted.toSeq == Seq(10, 20, 30))
    // the sharp edge the pinned registry closes: the source widens a
    // partition, then legally MATERIALIZES and CLEARS its widenings
    // (the residue check sees only the source's own partitions). A clone
    // resolving the source's LIVE registry would have localized wide and
    // now mix widths under an empty map — the carried registry keeps the
    // clone consistent and readable throughout
    Upsert.mergeByKey(spark, t,
      Seq(("a", 2L, 9999999999L)).toDF("day", "k", "v"), "day", Seq("k"))
    TypeWidening.materialize(spark, t, "day")
    TypeWidening.clear(spark, t, "day")
    TableFeatures.dropFeature(spark, t, TableFeatures.TypeWideningFeature)
    val r2 = ShallowClone.read(spark, c, "day")
    assert(r2.schema("v").dataType == IntegerType)
    assert(r2.select("v").as[Int].collect().sorted.toSeq == Seq(10, 20, 30),
      "clone still serves the pinned narrow snapshot after the source " +
        "graduated its widening")
  }

  test("Maintain drives the widening lifecycle: widen declares, widenmat " +
      "rewrites + clears") {
    val t = tmp("widen-maint") + "/t"
    seedInt(t)
    val m = graft.core.GraftConfig.load().maintenance
    val l1 = graft.Maintain.runMode(spark, t, "widen",
      Seq("day", "v", "bigint"), m)
    assert(l1.size == 1 && l1.head.contains("\"op\":\"widen\""), s"$l1")
    assert(Upsert.readCommitted(spark, t, "day")
      .schema("v").dataType == LongType)
    val l2 = graft.Maintain.runMode(spark, t, "widenmat", Seq("day"), m)
    assert(l2.head.contains("\"partitionsRewritten\":2"), s"$l2")
    assert(vType(t, "a") == LongType && vType(t, "b") == LongType)
    TableFeatures.dropFeature(spark, t, TableFeatures.TypeWideningFeature)
    assert(Upsert.readCommitted(spark, t, "day").count() == 3L)
  }

  test("sidecar-admitted lookups thread the widening registry: point and " +
      "range lookups serve mixed-width tables row-identical to a " +
      "committed read") {
    import spark.implicits._
    val t = tmp("widen-index") + "/t"
    seedInt(t)
    // sidecars built BEFORE the widening (entries over narrow files)
    require(graft.core.BloomIndex.build(spark, t, "k") > 0)
    require(graft.core.StatsIndex.build(spark, t, "v") > 0)
    TypeWidening.widen(spark, t, "day", "v", LongType)
    Upsert.mergeByKey(spark, t,
      Seq(("a", 2L, 9999999999L)).toDF("day", "k", "v"), "day", Seq("k"))
    // mixed widths persist by design until widenmat; the merge's inline
    // sidecar refresh already caught both indexes up
    assert(vType(t, "a") == LongType && vType(t, "b") == IntegerType)
    // a from-scratch bloom BUILD over the mixed file set must also work:
    // the one mergeSchema mount refuses int-vs-bigint footers, so the
    // fold falls back to per-dir legs projected to strings pre-union
    require(graft.core.BloomIndex.build(spark, t, "k") > 0)
    // pointLookup's admitted files span BOTH widths of v: the per-dir
    // legs upcast below the union instead of one failing mergeSchema read
    val p = Upsert.pointLookup(spark, t, "k", "1")
    assert(p.schema("v").dataType == LongType)
    assert(p.select("v").as[Long].collect().sorted.toSeq == Seq(10L, 30L))
    // range lookup ON the widened column: bounds compare at the wide
    // type on every leg, and the result is row-identical to
    // readCommitted + filter (the via=index route's contract)
    val rl = Upsert.rangeLookup(spark, t, "v", Some(10L), Some(9999999999L))
    assert(rl.schema("v").dataType == LongType)
    val viaIndex = rl.select("day", "k", "v")
      .as[(String, Long, Long)].collect().toSet
    val viaScan = Upsert.readCommitted(spark, t, "day")
      .filter(col("v") >= 10L && col("v") <= 9999999999L)
      .select("day", "k", "v").as[(String, Long, Long)].collect().toSet
    assert(viaIndex == viaScan && viaIndex.map(_._3) ==
      Set(10L, 30L, 9999999999L), s"$viaIndex vs $viaScan")
  }

  test("a KIND-changing widening re-tags the stats sidecar to the wide " +
      "type and refuses the bloom string probe it would silently break") {
    import spark.implicits._
    val t = tmp("widen-kind") + "/t"
    seedInt(t)
    require(graft.core.BloomIndex.build(spark, t, "v") > 0)
    require(graft.core.StatsIndex.build(spark, t, "v") > 0)
    TypeWidening.widen(spark, t, "day", "v", DoubleType)
    Upsert.mergeByKey(spark, t,
      Seq(("a", 2L, 2.5)).toDF("day", "k", "v"), "day", Seq("k"))
    assert(vType(t, "a") == DoubleType && vType(t, "b") == IntegerType)
    // the merge's refresh saw the registered DOUBLE hint, tag "long" ≠
    // "double" → the sidecar re-tagged in one footer-only rebuild; int
    // footer maxima fold through doubleValue (exact), never truncated
    val rl = Upsert.rangeLookup(spark, t, "v", Some(2.0), Some(25.0))
    assert(rl.schema("v").dataType == DoubleType)
    assert(rl.select("v").as[Double].collect().sorted.toSeq ==
      Seq(2.5, 10.0))
    // bloom folds per-file STRING forms; int→double re-renders them
    // ("10" vs "10.0"), so no single probe admits both widths — the
    // point lookup refuses loudly, naming the clearing verb
    val e = intercept[IllegalStateException] {
      Upsert.pointLookup(spark, t, "v", "10")
    }
    assert(e.getMessage.contains("widenmat") ||
      e.getMessage.contains("materialize"), e.getMessage)
    // ...and widenmat clears the way: materialize leaves the table
    // uniform wide AND refreshes the sidecars inline (rewritten files
    // re-index), the widening clears, and the probe serves again at the
    // wide type's string form
    TypeWidening.materialize(spark, t, "day")
    TypeWidening.clear(spark, t, "day")
    TableFeatures.dropFeature(spark, t, TableFeatures.TypeWideningFeature)
    val p = Upsert.pointLookup(spark, t, "v", "10.0")
    assert(p.select("k").as[Long].collect().toSeq == Seq(1L))
  }

  test("widening composes with autoMerge: one merge adds a column AND " +
      "carries the widened type") {
    import spark.implicits._
    val t = tmp("widen-automerge") + "/t"
    seedInt(t)
    TypeWidening.widen(spark, t, "day", "v", LongType)
    val saved = spark.conf.getOption("graft.schema.autoMerge.enabled")
    spark.conf.set("graft.schema.autoMerge.enabled", "true")
    try {
      Upsert.mergeByKey(spark, t,
        Seq(("a", 3L, 8589934592L, "eu")).toDF("day", "k", "v", "region"),
        "day", Seq("k"))
    } finally {
      saved.fold(spark.conf.unset("graft.schema.autoMerge.enabled"))(
        v => spark.conf.set("graft.schema.autoMerge.enabled", v))
    }
    val r = Upsert.readCommitted(spark, t, "day")
    assert(r.schema("v").dataType == LongType)
    val rows = r.select("k", "v", "region")
      .as[(Long, Long, Option[String])].collect().toSet
    assert(rows.contains((3L, 8589934592L, Some("eu"))))
    assert(rows.contains((1L, 10L, None)) || rows.contains((1L, 30L, None)))
  }
}
