package graft

import java.nio.file.Files

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}

import graft.batch.Upsert
import graft.core.TxnLog

/** Filesystem-call budget of snapshot resolution's metadata half.
  *
  * Against an object store every metadata call is a network round trip, so
  * the contract is O(generations + 1) LIST calls and ZERO per-partition
  * exists/HEAD probes — resolving 10k partitions through a handful of
  * generations must cost a handful of round trips, not 20k sequential
  * HEADs on the driver. Driven against a call-counting local FileSystem. */
class ResolutionCostSpec extends SparkSpec {

  import ResolutionCostSpec._

  private def seedMergedTable(nParts: Int): String = {
    import spark.implicits._
    val table = Files.createTempDirectory(s"res-cost-$nParts").toString
    val days = (1 to nParts).map(i => f"2026-03-$i%02d")
    days.map(d => (d, "a", 1.0)).toDF("day", "k", "v")
      .write.partitionBy("day").mode("overwrite").parquet(table)
    // one single-partition merge per partition → one retained generation
    // per partition
    days.foreach { d =>
      Upsert.mergeByKey(spark, table,
        Seq((d, "a", 2.0)).toDF("day", "k", "v"), "day", Seq("k"))
    }
    table
  }

  private def countedResolve(table: String, version: Long, nParts: Int)
      : (Upsert.ResolvedDirs, Long, Long) = {
    val fs = new CountingFs
    fs.initialize(new java.net.URI("file:///"), spark.sessionState.newHadoopConf())
    val all = TxnLog.commitsSince(spark, table, 0L)
    val liveDirs = (1 to nParts).map(i => f"day=2026-03-$i%02d")
    CountingFs.reset()
    val r = Upsert.resolveDirs(fs, table, version, "day", all, liveDirs)
    (r, CountingFs.lists.get(), CountingFs.stats.get())
  }

  test("resolving all partitions through history costs one LIST per generation, zero exists") {
    val nParts = 12
    val table = seedMergedTable(nParts)
    // v0 = before any merge: every partition resolves through its retained
    // generation (12 generations, one per partition merge)
    val (r, lists, stats) = countedResolve(table, 0L, nParts)
    assert(r.fromHistory.size == nParts, s"all from history: ${r.fromHistory}")
    assert(r.liveVals.isEmpty)
    assert(lists == nParts.toLong,
      s"one listStatus per consulted generation, got $lists for $nParts generations")
    assert(stats == 0L, s"zero per-partition exists/getFileStatus probes, got $stats")
  }

  test("resolving at the tip consults no generation at all") {
    val nParts = 8
    val table = seedMergedTable(nParts)
    val tip = TxnLog.currentVersion(spark, table)
    val (r, lists, stats) = countedResolve(table, tip, nParts)
    assert(r.liveVals.size == nParts && r.fromHistory.isEmpty)
    assert(lists == 0L && stats == 0L,
      s"tip resolution is pure manifest math: lists=$lists stats=$stats")
  }

  test("the metadata budget does not scale with partition count at fixed generations") {
    // same single consulted generation, 4× the partitions: the call count
    // must stay flat (this is the 10k-partition object-store shape)
    import spark.implicits._
    def build(nParts: Int): (String, Int) = {
      val table = Files.createTempDirectory(s"res-flat-$nParts").toString
      val days = (1 to nParts).map(i => f"2026-04-$i%02d")
      days.map(d => (d, "a", 1.0)).toDF("day", "k", "v")
        .write.partitionBy("day").mode("overwrite").parquet(table)
      // ONE merge touching ONE partition → exactly one generation
      Upsert.mergeByKey(spark, table,
        Seq((days.head, "a", 2.0)).toDF("day", "k", "v"), "day", Seq("k"))
      (table, nParts)
    }
    def callsAtV0(tn: (String, Int)): Long = {
      val (table, n) = tn
      val (_, lists, stats) = countedResolve(table, 0L, n)
      lists + stats
    }
    val small = callsAtV0(build(6))
    val large = callsAtV0(build(24))
    assert(small == large,
      s"metadata calls must be partition-count-independent: $small vs $large")
    assert(small == 1L, s"one generation → one LIST, got $small")
  }
}

object ResolutionCostSpec {
  /** Local filesystem that counts CALLER-facing metadata calls — each
    * counted call models one object-store round trip. `exists` routes
    * through `getFileStatus`, so `stats` counts every per-path HEAD-like
    * probe. RawLocalFileSystem implements listStatus via internal
    * getFileStatus/listStatus calls per child; a reentrancy guard keeps
    * those implementation details out of the round-trip count. */
  final class CountingFs extends RawLocalFileSystem {
    private def counted[T](ctr: java.util.concurrent.atomic.AtomicLong)(body: => T): T =
      if (CountingFs.inCall.get) body
      else {
        ctr.incrementAndGet()
        CountingFs.inCall.set(true)
        try body finally CountingFs.inCall.set(false)
      }
    override def listStatus(p: Path): Array[FileStatus] =
      counted(CountingFs.lists)(super.listStatus(p))
    override def getFileStatus(p: Path): FileStatus =
      counted(CountingFs.stats)(super.getFileStatus(p))
  }
  object CountingFs {
    val lists = new java.util.concurrent.atomic.AtomicLong
    val stats = new java.util.concurrent.atomic.AtomicLong
    private val inCall = new ThreadLocal[java.lang.Boolean] {
      override def initialValue: java.lang.Boolean = false
    }
    def reset(): Unit = { lists.set(0); stats.set(0) }
  }
}
