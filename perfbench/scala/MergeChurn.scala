package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.batch.Upsert
import graft.core.{BloomIndex, StatsIndex, TxnLog}

/** `merge_churn`: writes beside reads in the storage layer.
  *
  * An 8-partition managed table with Bloom (key) and stats (value)
  * sidecars. One writer thread applies seeded `Upsert.mergeByKey` waves
  * (updates, inserts and a `deleteWhen` share, on two partitions each)
  * and compacts after every second wave; one reader thread, until the
  * writer's last wave ends, loops over a committed aggregate read, with a
  * point lookup and a range lookup every sixth iteration each. Set-up ends
  * with one wave and one read of each kind on a spare copy, so the window
  * opens on warm code. Every concurrent read is checked against the states the
  * writer's waves allow (a committed read as a snapshot; a sidecar lookup,
  * which is exact only on a quiescent table, value by value), and the final
  * table and a final point and range lookup against the benchmark's own
  * key → value model.
  */
object MergeChurn {
  val Partitions = 8
  val RowsPerPartition = 1500
  val WavePartitions = 2
  val Updates = 200; val Inserts = 40; val Deletes = 20 // per touched partition
  val CompactEvery = 2
  val SetupReps = 3
  val Ranges: IndexedSeq[(Long, Long)] = IndexedSeq((0L, 9999L), (500000L, 509999L), (990000L, 999999L))
  val ProbeKeys = 64

  def day(p: Int): String = f"2026-06-${p + 1}%02d"
  def key(i: Int): String = f"k$i%07d"
  def partOf(i: Int): Int = i % Partitions

  final case class Wave(parts: Seq[Int], upserts: Map[Int, Long], deletes: Set[Int]) {
    def rows: Int = upserts.size + deletes.size
  }

  /** Seeded waves over the key space, applied to `live` as they are made. */
  final class Waves(seed: Long) {
    private val rng = new java.util.Random(seed * 7919 + 17)
    val initial: Map[Int, Long] =
      (0 until Partitions * RowsPerPartition).map(i => i -> rng.nextInt(1000000).toLong).toMap
    private val live = mutable.Map[Int, Long]() ++= initial
    private var nextKey = Partitions * RowsPerPartition
    private def keysIn(p: Int) = live.keysIterator.filter(partOf(_) == p).toIndexedSeq.sorted

    def next(): Wave = {
      val parts = rng.ints(0, Partitions).distinct().limit(WavePartitions).toArray.toSeq.sorted
      val up = mutable.Map[Int, Long](); val del = mutable.Set[Int]()
      parts.foreach { p =>
        val ks = keysIn(p)
        val chosen = rng.ints(0, ks.size).distinct().limit(Updates + Deletes).toArray.map(ks(_))
        chosen.take(Updates).foreach(k => up(k) = rng.nextInt(1000000).toLong)
        chosen.drop(Updates).foreach(del += _)
        (0 until Inserts).foreach { _ =>
          while (partOf(nextKey) != p) nextKey += 1
          up(nextKey) = rng.nextInt(1000000).toLong; nextKey += 1
        }
      }
      val w = Wave(parts, up.toMap, del.toSet)
      live ++= w.upserts; live --= w.deletes
      w
    }
  }

  /** Data files under the table's partition directories (history,
    * sidecars and logs live under `_`-prefixed directories). */
  def dataFiles(table: String): Set[String] =
    Files.walk(Paths.get(table)).iterator().asScala.map(_.toString)
      .filter(f => f.endsWith(".parquet") && !f.contains("/_")).toSet

  def frame(spark: SparkSession, w: Wave): DataFrame = {
    import spark.implicits._
    (w.upserts.toSeq.map { case (k, v) => (day(partOf(k)), key(k), v, false) } ++
      w.deletes.toSeq.map(k => (day(partOf(k)), key(k), 0L, true)))
      .toDF("day", "k", "v", "del")
  }

  private final case class Read(op: Long, kind: String, t0: Long, t1: Long,
      perPart: Map[String, (Long, Long)], probe: Int, range: Int)

  def run(spark: SparkSession, log: Log, root: String, seed: Long, seconds: Int): Unit = {
    import spark.implicits._
    val sc = spark.sparkContext
    sc.setJobGroup("bench-setup", "benchmark set-up and checks")
    val waves = new Waves(seed)
    val initDf = waves.initial.toSeq.map { case (k, v) => (day(partOf(k)), key(k), v) }.toDF("day", "k", "v")
      .cache()
    initDf.count()
    var table = ""
    (1 to SetupReps).foreach { rep =>
      table = s"$root/rep$rep/table"
      val t0 = System.nanoTime()
      log.span("batch.upsert.mergeByKey")(Upsert.mergeByKey(spark, table, initDf, "day", Seq("k")))
      log.span("core.bloom.build")(BloomIndex.build(spark, table, "k"))
      log.span("core.stats.build")(StatsIndex.build(spark, table, "v"))
      log.emit("setup", "rep" -> rep, "dur" -> (System.nanoTime() - t0) / 1e9)
    }
    initDf.unpersist()
    // warm-up on the previous set-up copy, with a wave of another seed: a
    // session's first wave and reads pay JIT warm-up, which must not land
    // in the window (counted in setup_s, as serve_live's boot is)
    val tWarm = System.nanoTime()
    val spare = s"$root/rep${SetupReps - 1}/table"
    Upsert.mergeByKey(spark, spare, frame(spark, new Waves(seed + 1).next()), "day", Seq("k"),
      deleteWhen = Some("del"))
    Upsert.readCommitted(spark, spare, "day").groupBy("day").agg(count(lit(1)), sum("v")).collect()
    Upsert.pointLookup(spark, spare, "k", key(0)).collect()
    Upsert.rangeLookup(spark, spare, "v", Some(Ranges(0)._1), Some(Ranges(0)._2)).collect()
    log.emit("boot", "dur" -> (System.nanoTime() - tWarm) / 1e9)

    val rng = new java.util.Random(seed * 104729 + 3)
    val probeKeys = IndexedSeq.fill(ProbeKeys)(rng.nextInt(Partitions * RowsPerPartition))
    val applied = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Wave, Long, Long)]()
    val reads = new java.util.concurrent.ConcurrentLinkedQueue[Read]()
    val t0 = log.now(); val tEnd = t0 + seconds * 1000L
    log.value("window_start", t0)

    /** A read may race a writer's install or a compaction and fail with a
      * missing-file error, the documented retryable outcome: that attempt
      * is counted as a retry, not as a timing, and the read is repeated
      * after a back-off long enough to outlast a compaction. */
    def retrying(kind: String)(attempt: => Option[(Read, Long)]): Unit = {
      var tries = 0; var done = false
      while (!done && tries < 6) {
        val t = log.now()
        attempt match {
          case Some((r, _)) => reads.add(r.copy(t0 = t, t1 = log.now())); done = true
          case None => tries += 1; log.emit("retry", "kind" -> kind); Thread.sleep(250L * tries)
        }
      }
      if (!done) log.check("read_gave_up", 0, ok = false, s"$kind failed $tries times")
    }

    val writer = new Thread(() => {
      sc.setJobGroup("merge", "benchmark writer")
      var i = 0; var broken = false
      while (!broken && log.now() < tEnd) {
        val w = waves.next()
        val (_, v0) = log.op("txnlog.probe")(log.span("core.txnlog.currentVersion")(
          TxnLog.currentVersion(spark, table)))
        val before = if (log.traced) dataFiles(table) else Set.empty[String]
        val ws = log.now()
        val (mOp, r) = log.op("merge", "wave" -> (i + 1), "rows" -> w.rows) {
          log.span("batch.upsert.mergeByKey")(
            Upsert.mergeByKey(spark, table, frame(spark, w), "day", Seq("k"), deleteWhen = Some("del")))
        }
        val we = log.now()
        // a wave that threw leaves the model unknowable: stop writing
        if (r.isEmpty) broken = true
        else {
          i += 1
          applied.add((i, w, ws, we))
          val v1 = TxnLog.currentVersion(spark, table)
          log.emit("version", "op" -> mOp, "before" -> v0.getOrElse(-1L), "after" -> v1)
          if (log.traced) log.emit("files_written", "op" -> mOp, "n" -> (dataFiles(table) -- before).size)
          if (i % CompactEvery == 0 && log.now() < tEnd)
            log.op("compact", "wave" -> i) {
              log.span("batch.upsert.compactPartitions")(Upsert.compactPartitions(spark, table, "day"))
            }
        }
      }
    }, "bench-writer")

    val reader = new Thread(() => {
      sc.setJobGroup("read", "benchmark reader")
      var i = 0
      // read until the writer's last wave ends, so every wave meets the
      // same read load
      while (log.now() < tEnd || writer.isAlive) {
        // every iteration a committed read; every sixth a point lookup,
        // and every sixth, three later, a range lookup
        val probe = (i / 6) % ProbeKeys; val range = (i / 6) % Ranges.size
        retrying("read") {
          val (op, rows) = log.op("read") {
            val nr = System.nanoTime()
            val df = log.span("batch.upsert.readCommitted")(Upsert.readCommitted(spark, table, "day"))
            log.emit("resolve", "dur" -> (System.nanoTime() - nr) / 1e9)
            log.span("read.collect")(df.groupBy("day").agg(count(lit(1)), sum("v")).collect())
          }
          rows.map(rs => Read(op, "read", 0, 0,
            rs.map(r => r.get(0).toString -> (r.getLong(1), r.getLong(2))).toMap, -1, -1) -> op)
        }
        if (i % 6 == 1) retrying("point") {
          val (op, rows) = log.op("point") {
            val df = log.span("batch.upsert.pointLookup")(
              Upsert.pointLookup(spark, table, "k", key(probeKeys(probe))))
            val got = df.select("day", "v").collect()
            if (log.traced) log.emit("admit", "index" -> "bloom", "files" -> df.inputFiles.length)
            got
          }
          rows.map(rs => Read(op, "point", 0, 0,
            rs.groupBy(_.get(0).toString).map { case (d, g) => d -> (g.length.toLong, g.map(_.getLong(1)).sum) },
            probe, -1) -> op)
        }
        if (i % 6 == 4) retrying("range") {
          val (lo, hi) = Ranges(range)
          val (op, rows) = log.op("range") {
            val df = log.span("batch.upsert.rangeLookup")(
              Upsert.rangeLookup(spark, table, "v", Some(lo), Some(hi)))
            val got = df.groupBy("day").agg(count(lit(1)), sum("v")).collect()
            if (log.traced) log.emit("admit", "index" -> "stats", "files" -> df.inputFiles.length)
            got
          }
          rows.map(rs => Read(op, "range", 0, 0,
            rs.map(r => r.get(0).toString -> (r.getLong(1), r.getLong(2))).toMap, -1, range) -> op)
        }
        if (log.traced && i % 2 == 1) log.emit("table_files", "at" -> log.now(),
          "files" -> Upsert.readCommitted(spark, table, "day").inputFiles.length)
        i += 1
      }
    }, "bench-reader")

    writer.start(); reader.start(); writer.join(); reader.join()
    log.value("window_end", log.now())
    sc.setJobGroup("bench-setup", "benchmark set-up and checks")
    check(spark, log, table, waves.initial, applied.asScala.toVector, reads.asScala.toVector, probeKeys)
    log.value("persisted_end", sc.getPersistentRDDs.size)
    val live = Upsert.readCommitted(spark, table, "day").inputFiles
      .map(f => Files.size(Paths.get(new java.net.URI(f)))).sum
    val all = Files.walk(Paths.get(table)).iterator().asScala.filter(Files.isRegularFile(_))
      .map(Files.size).sum
    log.value("space_amp_end", all.toDouble / live)
  }

  private def check(spark: SparkSession, log: Log, table: String, start: Map[Int, Long],
      applied: Vector[(Int, Wave, Long, Long)], reads: Vector[Read], probeKeys: IndexedSeq[Int]): Unit = {
    // replay: per state j (after j measured waves), per-partition aggregates
    val state = mutable.Map[Int, Long]() ++= start
    def aggOf(pred: Long => Boolean): Map[String, (Long, Long)] =
      state.iterator.filter(kv => pred(kv._2)).toSeq.groupBy(kv => day(partOf(kv._1)))
        .map { case (d, kvs) => d -> (kvs.size.toLong, kvs.map(_._2).sum) }
    def snap() = (aggOf(_ => true), Ranges.map { case (lo, hi) => aggOf(v => v >= lo && v <= hi) },
      probeKeys.map(k => state.get(k).map(v => Map(day(partOf(k)) -> (1L, v))).getOrElse(Map.empty)))
    val states = mutable.ArrayBuffer(snap())
    applied.sortBy(_._1).foreach { case (_, w, _, _) =>
      state ++= w.upserts; state --= w.deletes; states += snap()
    }
    def stateOf(r: Read, j: Int) = r.kind match {
      case "read" => states(j)._1
      case "range" => states(j)._2(r.range)
      case _ => states(j)._3(r.probe)
    }
    reads.foreach { r =>
      // states a read may see: from waves finished before it began to waves
      // begun before it ended
      val lo = applied.count(_._4 <= r.t0)
      val hi = applied.count(_._3 < r.t1)
      val ok =
        if (r.kind == "read")
          // readCommitted is a snapshot: partitions mix only neighbouring
          // states (one wave in flight)
          (lo to math.max(lo, hi - 1)).exists { j =>
            val (a, b) = (stateOf(r, j), stateOf(r, math.min(j + 1, hi)))
            (a.keySet ++ b.keySet ++ r.perPart.keySet).forall { d =>
              val got = r.perPart.get(d)
              got == a.get(d) || got == b.get(d)
            }
          }
        else
          // sidecar lookups resolve files by directory listing, and are
          // exact only on a quiescent table: under churn a partition being
          // swapped may be missing, but what is there must be some state's
          r.perPart.forall { case (d, got) => (lo to hi).exists(j => stateOf(r, j).get(d).contains(got)) }
      log.check(s"${r.kind}_consistent", r.op, ok,
        s"${r.kind} saw ${r.perPart.toSeq.sorted.take(8)} outside states $lo..$hi")
    }
    // on the quiescent table the lookups are exact
    val last = states.size - 1
    def perDay(rows: Array[org.apache.spark.sql.Row]) =
      rows.groupBy(_.get(0).toString).map { case (d, g) => d -> (g.length.toLong, g.map(_.getLong(1)).sum) }
    val point = perDay(Upsert.pointLookup(spark, table, "k", key(probeKeys(0))).select("day", "v").collect())
    log.check("point_final", 0, point == states(last)._3(0), s"final point lookup $point != ${states(last)._3(0)}")
    val (lo0, hi0) = Ranges(0)
    val range = perDay(Upsert.rangeLookup(spark, table, "v", Some(lo0), Some(hi0)).select("day", "v").collect())
    log.check("range_final", 0, range == states(last)._2(0), s"final range lookup $range != ${states(last)._2(0)}")
    // the final table equals the model, row for row
    val got = Upsert.readCommitted(spark, table, "day").select("day", "k", "v").collect()
      .map(r => (r.get(0).toString, r.getString(1), r.getLong(2))).toSet
    val want = state.iterator.map { case (k, v) => (day(partOf(k)), key(k), v) }.toSet
    log.check("final_table", 0, got == want,
      s"final table differs: ${(got -- want).take(3)} extra, ${(want -- got).take(3)} missing")
  }
}
