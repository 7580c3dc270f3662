package graft

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.batch.Upsert
import graft.core.SparkSessionFactory

/** Micro-benchmarks of the storage layer — the write-path costs the query
  * bench can't see: MERGE throughput, small-file compaction, and committed
  * snapshot reads under concurrent writer churn. Run by [[Bench]] after the
  * query rounds on a throwaway local table; results land in the `storage`
  * field of bench_detail.json (and the final stdout line) next to their
  * committed baseline entries in bench_baseline.json, so a storage-layer
  * regression is as visible round-over-round as a query regression.
  *
  * Sizes are deliberately modest (the point is RELATIVE drift of the
  * claim/retain/publish machinery, not data throughput — that is what the
  * query bench measures): the timings are dominated by the per-partition
  * commit protocol, which is exactly the part unique to this engine. */
object StorageBench {

  /** Run the three micro-benchmarks; returns (name, seconds) pairs.
    * `rowsPerPartition`/`partitions` size the table; the spec runs tiny. */
  def run(
      spark: SparkSession,
      partitions: Int = 8,
      rowsPerPartition: Int = 25000,
      churnMerges: Int = 4): Seq[(String, Double)] = {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-storage-bench").toString
    val table = s"$root/table"
    val days = (1 to partitions).map(i => f"2026-06-$i%02d")
    def frame(vOffset: Double, rows: Int) =
      spark.range(rows.toLong * partitions).select(
        element_at(typedLit(days), (col("id") % partitions + 1).cast("int")).as("day"),
        concat(lit("k"), (col("id") / partitions).cast("long").cast("string")).as("k"),
        (col("id").cast("double") + vOffset).as("v"))
    def time(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }

    frame(0.0, rowsPerPartition).write.partitionBy("day").parquet(table)

    // MERGE: update half the keys + insert a fresh quarter, every partition
    val updates = frame(0.5, rowsPerPartition / 2)
      .unionByName(frame(0.0, rowsPerPartition)
        .withColumn("k", concat(lit("new"), col("k")))
        .limit(partitions * rowsPerPartition / 4))
    val tMerge = time {
      Upsert.mergeByKey(spark, table, updates, "day", Seq("k"))
    }

    // COMPACT: the merge above left ≥2 file sets per partition; force a
    // low-target compaction so every partition qualifies
    val tCompact = time {
      Upsert.compactPartitions(spark, table, "day",
        targetBytes = 512L * 1024 * 1024, minFilesToCompact = 2)
    }

    // DELETION VECTORS: scattered single-row deletes, one per partition —
    // the merge-on-read shape whose whole point is writing a KB sidecar
    // instead of rewriting `partitions` × `rowsPerPartition` rows; the
    // paired read measures the broadcast-anti-join subtraction a DV'd
    // table pays until the next rewrite materializes
    val dvKeys = days.map(d => (d, "k7")).toDF("day", "k")
    val tDvDelete = time {
      graft.batch.DeletionVectors.deleteVectored(
        spark, table, dvKeys, "day", Seq("k"))
    }
    val tDvRead = time {
      require(Upsert.readCommitted(spark, table, "day").count() > 0)
    }

    // readCommitted UNDER CHURN: a writer merges small deltas in the
    // background while the reader takes committed snapshots — the
    // contention shape of a serving table being continuously upserted
    val churnErr = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val churn = new Thread(() => {
      try (1 to churnMerges).foreach { i =>
        Upsert.mergeByKey(spark, table,
          Seq((days(i % partitions), s"churn$i", i.toDouble)).toDF("day", "k", "v"),
          "day", Seq("k"))
      } catch { case t: Throwable => churnErr.set(t) }
    }, "storage-bench-churn")
    var reads = 0
    var retries = 0
    val tRead = time {
      churn.start()
      while (churn.isAlive) { // read continuously for the churn window
        // a live-resolved partition can race a writer's install at
        // EXECUTION time — the documented contract is a loud retryable
        // missing-file error, never a torn result; a real consumer
        // retries, so the bench reader does too (and the retry cost is
        // part of what this measures)
        try { Upsert.readCommitted(spark, table, "day").count(); reads += 1 }
        catch {
          case e: Throwable
              if Option(e.getMessage).exists(_.contains("FILE_NOT_EXIST")) &&
                retries < 50 =>
            retries += 1
        }
      }
      churn.join()
    }
    if (churnErr.get != null) throw churnErr.get
    require(reads > 0, "no committed read completed during churn")

    // INDEX SIDECARS: full builds (bloom reads the data once; stats reads
    // FOOTERS only), then a range scan through the stats index, then a
    // merge on the INDEXED table — the merge now pays the O(new files)
    // incremental refresh of BOTH sidecars; the delta vs storage_merge
    // above is the cost of keeping the indexes current
    val tBloomBuild = time {
      require(graft.core.BloomIndex.build(spark, table, "k") > 0)
    }
    val tStatsBuild = time {
      require(graft.core.StatsIndex.build(spark, table, "v") > 0)
    }
    val tStatsScan = time {
      val (res, _, _) = graft.core.StatsIndex.rangeScan(
        spark, table, "v", Some(0.0), Some(rowsPerPartition.toDouble))
      require(res.count() > 0)
    }
    val tMergeIndexed = time {
      Upsert.mergeByKey(spark, table, frame(0.25, rowsPerPartition / 2),
        "day", Seq("k"))
    }

    // RESTORE: roll back an incident touching 2 of `partitions` days —
    // the manifest probe scopes the rewrite to exactly the churned
    // partitions, so the cost argues O(churn since v), never O(table)
    val vGood = graft.core.TxnLog.currentVersion(spark, table)
    Upsert.mergeByKey(spark, table,
      Seq((days(0), "bad1", -1.0), (days(1), "bad2", -2.0)).toDF("day", "k", "v"),
      "day", Seq("k"))
    val tRestore = time {
      val parts = Upsert.restoreTo(spark, table, vGood, "day", Seq("k"))
      require(parts.size == 2,
        s"restore must rewrite only the churned partitions: $parts")
    }

    // CLONE: an independent copy of the committed snapshot — one data
    // pass (row count rides the write via observe(), never a re-read)
    val tClone = time {
      require(Upsert.cloneTo(spark, table, s"$root/clone", "day") > 0)
    }

    // shallow clone economics: CREATE is metadata-only (pin + registry
    // copy — must be orders cheaper than the deep copy above), and the
    // first write pays exactly ONE partition's localization + merge (the
    // copy-on-write unit, independent of table size)
    val tShallowCreate = time {
      require(graft.batch.ShallowClone.create(
        spark, table, s"$root/shallow", "day") > 0)
    }
    val tShallowCow = time {
      require(graft.batch.ShallowClone.mergeByKey(spark, s"$root/shallow",
        Seq((days(0), "k1", -100.0)).toDF("day", "k", "v"),
        "day", Seq("k")) == Seq(days(0)))
    }
    // bulk localization of everything still remote: ONE partitioned job +
    // O(partitions) renames — the materialize shape
    val tShallowMaterialize = time {
      require(graft.batch.ShallowClone.materialize(
        spark, s"$root/shallow", "day").size == partitions - 1)
    }

    // REORG PURGE: fresh scattered DVs on 2 of `partitions` days, then
    // the forced materialization — the cost argues O(DV-carrying
    // partitions), never O(table) (the earlier dv sidecars' file names
    // were all rewritten away by the merges above, so only these two
    // partitions qualify). Includes the inline sidecar refresh the purge
    // pays on an indexed table, like storage_merge_indexed does.
    val dvDays = Seq(days(2 % partitions), days(3 % partitions)).distinct
    graft.batch.DeletionVectors.deleteVectored(spark, table,
      dvDays.map(d => (d, "k9")).toDF("day", "k"), "day", Seq("k"))
    val tReorg = time {
      val parts = Upsert.reorgPurge(spark, table, "day")
      require(parts.size == dvDays.size,
        s"purge must rewrite only the DV-carrying partitions: $parts")
    }

    // LIQUID CLUSTERING: first pass lays out every partition; the second
    // pass is the nightly shape — nothing churned, so the txn log vouches
    // and the pass must cost METADATA only (no listing, no data IO). The
    // in-bench requires pin the O(churn) claim, not just the wall time.
    graft.batch.LiquidClustering.setClusterBy(spark, table, Seq("k"))
    val tClusterFull = time {
      val r = graft.batch.LiquidClustering.optimize(spark, table, "day")
      require(r.mode == "full" && r.candidates == partitions, s"$r")
    }
    val tClusterQuiet = time {
      val r = graft.batch.LiquidClustering.optimize(spark, table, "day")
      require(r.mode == "incremental" && r.candidates == 0,
        s"quiet pass must examine nothing: $r")
    }

    // INCREMENTAL VIEW: bootstrap is one snapshot-aggregate pass pinned
    // at the tip; the steady-state sync consumes ONE merge's changes —
    // the O(changes) claim is the delta between the two.
    val viewDir = s"$root/view"
    graft.batch.IncrementalView.register(spark, viewDir, table, "day",
      Seq("day", "k"), Seq("v"), "day")
    val tViewBootstrap = time {
      graft.batch.IncrementalView.sync(spark, viewDir)
    }
    // churn ONE day: the sync's merge must rewrite one view partition,
    // not the whole view (the nightly economics)
    Upsert.mergeByKey(spark, table,
      frame(9.0, rowsPerPartition / 100).filter(col("day") === days.head),
      "day", Seq("k"))
    val tViewSync = time {
      val st = graft.batch.IncrementalView.sync(spark, viewDir)
      require(st.groupsTouched > 0, s"$st")
    }

    // PACK: the text pipeline's terminal sink — the sf0.001 corpus
    // through sharded offsets, (source, seq_id)-keyed payload assembly,
    // and the managed-table merge: the full write path a training-shard
    // materialization pays, as one tracked number.
    val tPack = time {
      require(graft.operators.PackWriter.write(
        spark, "/root/testdata/sf0.001", s"$root/pack").nonEmpty)
    }

    // PACK SYNC: the incremental form — a managed docs table bootstraps
    // (untimed), a ~5%-of-corpus append wave lands, and the timed sync
    // consumes the change feed. The claim is O(growth): compare against
    // storage_pack's full-pack bar — the sync pays the wave + one tail
    // row per grown source, never a corpus re-pack.
    val packDocs = s"$root/packdocs"
    val packShard = s"$root/packshard"
    val corpus = graft.core.Tables.documents(spark, "/root/testdata/sf0.001")
      .select("source", "doc_id", "text")
    Upsert.mergeByKey(spark, packDocs, corpus, "source", Seq("doc_id"))
    graft.operators.PackWriter.sync(spark, packDocs, "source", packShard)
    // the wave grows ONE source — the daily-increment shape the sync is
    // for: one shard partition rewrites (its tail + fresh rows), the
    // other 19 sources' shards are untouched. A wave touching every
    // source degenerates to the full merge (and measures the merge, not
    // the increment).
    val maxDocId = corpus.agg(max("doc_id")).head.getLong(0)
    val oneSrc = corpus.select("source").orderBy("source").limit(1)
      .head.getString(0)
    val wave = corpus.filter(col("source") === oneSrc)
      .orderBy(col("doc_id").desc).limit(25)
      .withColumn("doc_id", col("doc_id") + maxDocId + 1L)
    Upsert.mergeByKey(spark, packDocs, wave, "source", Seq("doc_id"))
    val tPackSync = time {
      val st = graft.operators.PackWriter.sync(
        spark, packDocs, "source", packShard)
      require(!st.rebuilt && st.newDocs > 0, s"pack sync must be incremental: $st")
    }

    // SERVING: the one-distributed-page discipline of the HTTP table
    // routes, measured at the plan level (the socket adds microseconds;
    // the claim under test is the page's plan shape) — an offset page
    // deep in the total order, the keyset form of the same depth (seek
    // pushed to the scan, constant cost at any depth), and an indexed
    // page (stats-sidecar admission + exact filter, O(admitting files))
    val tServeOffset = time {
      require(Upsert.readCommitted(spark, table, "day")
        .orderBy(col("k")).offset(rowsPerPartition / 4).limit(100)
        .toJSON.collect().length == 100)
    }
    val tServeKeyset = time {
      require(Upsert.readCommitted(spark, table, "day")
        .filter(col("k") > s"k${rowsPerPartition / 4}")
        .orderBy(col("k")).limit(100)
        .toJSON.collect().length == 100)
    }
    val tServeIndexed = time {
      require(Upsert.rangeLookup(spark, table, "v",
          Some(1.0), Some(rowsPerPartition.toDouble))
        .filter(col("v") >= 1.0 && col("v") <= rowsPerPartition.toDouble)
        .orderBy(col("v")).limit(100)
        .toJSON.collect().length == 100)
    }

    // best-effort cleanup; timings are already taken
    scala.util.Try {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm); f.delete(); ()
      }
      rm(new java.io.File(root))
    }
    Seq(
      "storage_merge" -> tMerge,
      "storage_compact" -> tCompact,
      "storage_dv_delete" -> tDvDelete,
      "storage_dv_read" -> tDvRead,
      "storage_read_committed_churn" -> tRead / reads,
      "storage_bloom_build" -> tBloomBuild,
      "storage_stats_build" -> tStatsBuild,
      "storage_stats_scan" -> tStatsScan,
      "storage_merge_indexed" -> tMergeIndexed,
      "storage_restore" -> tRestore,
      "storage_clone" -> tClone,
      "storage_shallow_create" -> tShallowCreate,
      "storage_shallow_cow" -> tShallowCow,
      "storage_shallow_materialize" -> tShallowMaterialize,
      "storage_reorg" -> tReorg,
      "storage_cluster_full" -> tClusterFull,
      "storage_cluster_quiet" -> tClusterQuiet,
      "storage_view_bootstrap" -> tViewBootstrap,
      "storage_view_sync" -> tViewSync,
      "storage_serve_offset" -> tServeOffset,
      "storage_serve_keyset" -> tServeKeyset,
      "storage_serve_indexed" -> tServeIndexed,
      "storage_pack" -> tPack,
      "storage_packsync" -> tPackSync)
  }

  /** Standalone entry (`runMain graft.StorageBench [repeats]`): the
    * storage micro-bench alone on a fresh local session, one JSON line
    * per run — for quiet-host regression checks without paying for the
    * full query bench around it. */
  def main(args: Array[String]): Unit = {
    val spark = SparkSessionFactory.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .appName("graft-storage-bench").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val n = args.headOption.map(_.toInt).getOrElse(2)
    try (1 to n).foreach { i =>
      val r = run(spark)
      println(r.map { case (k, v) => s""""$k":${f"$v%.3f"}""" }
        .mkString(s"""{"run":$i,""", ",", "}"))
    } finally spark.stop()
  }
}
