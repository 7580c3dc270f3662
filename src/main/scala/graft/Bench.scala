package graft

import org.apache.spark.sql.DataFrame

import graft.core.SparkSessionFactory

/** Benchmark entry point (driver contract): runs every declared query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * The action is `count()` on the query result — full plan execution with
  * no driver-side row materialization. One tiny warm-up job runs first so
  * JVM/codegen startup cost is not charged to the first query.
  */
object Bench {

  /** One bench round over `queries`: timings for the queries that ran,
    * `errors` (exception class + message) for the ones that threw. A broken
    * query must NEVER surface as a fast "timing" — time-to-fail is not a
    * measurement — so it contributes no entry to the timing map at all.
    * Factored out of [[main]] so the failure path is unit-testable. */
  def runRound(queries: Seq[(String, () => Unit)])
      : (Seq[(String, Double)], Map[String, String]) = {
    val errs = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val times = queries.flatMap { case (name, run) =>
      val t0 = System.nanoTime()
      try { run(); Some(name -> (System.nanoTime() - t0) / 1e9) }
      catch {
        case e: Throwable =>
          errs(name) = s"${e.getClass.getSimpleName}: " +
            Option(e.getMessage).getOrElse("").replaceAll("\\s+", " ").take(200)
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          None
      }
    }
    (times, errs.toMap)
  }

  /** Minimal JSON string escape for builder-controlled keys/messages. */
  def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSessionFactory.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.functions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    spark.range(1000000L).selectExpr("sum(id)").collect() // JVM/codegen warm-up
    // Scan warm-up so the alphabetically-first query isn't charged the
    // first read of each corpus file: the file-status cache, the page cache
    // and the scan's code paths (count() reads row-group stats only, no
    // data pages — steady-state throughput is the metric). It pre-pays no
    // schema discovery: Tables.load takes each schema from one footer on
    // the driver, with no job. Older corpus generations wrote events.parquet
    // as TIMESTAMP(NANOS), which reads only with this flag set; a no-op on
    // the current timestamp[us] corpus.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.core.Tables.all.foreach { t =>
      // Not a gate: a table that fails here fails again in every query
      // that reads it, and those failures land in the bench line's
      // `errors`. The warm-up only says which table and why, up front.
      try graft.core.Tables.load(spark, sfDir, t).count()
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"bench warm-up: table $t failed to load: $e")
      }
    }

    // Dev-only subset filter (driver never sets it): comma-separated names.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }

    // Per-query estimator across rounds: median, except at exactly 2
    // rounds where BenchGuard.estimate substitutes the min (the median of
    // 2 is a mean — one contaminated round would pollute the headline; see
    // BenchGuard.TwoRoundSpreadLimit for the r14 incident this closes).
    def med(xs: Seq[Double]): Double = BenchGuard.estimate(xs)

    // The suite runs SPARK_GRAFT_REPEAT times (default 3) and reports the
    // per-query MEDIAN across rounds: the host's ±50% run-to-run CPU
    // variance (BASELINE.md) makes single-run timings unadjudicable, and
    // round 1 additionally carries ~2× of JIT/codegen warm-up (measured
    // round totals 102.8/52.0/47.7 s on identical code). A wall-clock
    // budget (SPARK_GRAFT_BENCH_BUDGET_SEC, default 600) stops early on a
    // slow host — EXCEPT under detected contention (a round that blew the
    // whole budget, or a >3× round-total spread), where [[BenchGuard]]
    // keeps running extra rounds up to SPARK_GRAFT_BENCH_MAX_ROUNDS
    // (default max(repeat,5)) and a 2× elapsed-budget hard stop, so the
    // report is a median across the contention wave — never a single
    // inflated round with repeat=1. The system load average is sampled at
    // each round start and recorded in the JSON so a reader can attribute
    // an inflated round to ambient load without re-running.
    val repeat = sys.env.get("SPARK_GRAFT_REPEAT")
      .flatMap(s => scala.util.Try(s.toInt).toOption).getOrElse(3).max(1)
    val budgetMs = sys.env.get("SPARK_GRAFT_BENCH_BUDGET_SEC")
      .flatMap(s => scala.util.Try(s.toLong).toOption).getOrElse(600L) * 1000L
    val maxRounds = sys.env.get("SPARK_GRAFT_BENCH_MAX_ROUNDS")
      .flatMap(s => scala.util.Try(s.toInt).toOption).getOrElse(repeat.max(5))
    def loadAvg: Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    val benchStart = System.currentTimeMillis()
    val rounds = scala.collection.mutable.ArrayBuffer.empty[Seq[(String, Double)]]
    val loads = scala.collection.mutable.ArrayBuffer.empty[Double]

    // Recorded per-query baseline medians (quiet-host run, committed as
    // bench_baseline.json and referenced from BASELINE.md): lets the
    // artifact self-adjudicate — `outliers` marks queries whose BEST round
    // is >3× baseline (contention the rounds never escaped, or a real
    // regression), and `trusted_total` (sum of per-query MINIMUM across
    // rounds) stays usable when contention junk inflates the medians.
    val baseline: Map[String, Double] =
      try {
        // resolved from the working directory (the driver runs sbt from the
        // repo root, same as bench_detail.json); SPARK_GRAFT_BASELINE
        // overrides for launchers with a different cwd
        val txt = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(sys.env.getOrElse(
            "SPARK_GRAFT_BASELINE", "bench_baseline.json"))), "UTF-8")
        graft.http.Json.parse(txt).asObj("queries").asObj.collect {
          case (k, graft.http.JNum(n)) => k -> n.toDouble
        }
      } catch { case scala.util.control.NonFatal(_) => Map.empty }

    // Errors across all rounds: name -> "ExceptionClass: message". A query
    // in here is EXCLUDED from every total/median (its partial timings, if
    // any round succeeded, are discarded too — a flaky query is not a
    // measurement either) and surfaces in the "errors" field of BOTH JSON
    // lines, so a consumer reading the artifact alone sees the failure.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]

    // Baseline comparison restricted to queries BOTH runs cover, so newly
    // added queries don't inflate the blown-baseline contention trigger.
    def comparable(round: Map[String, Double]): Double =
      round.collect { case (q, t) if baseline.contains(q) => t }.sum
    lazy val baselineComparableTotal =
      selected.flatMap { case (n, _) => baseline.get(n) }.sum

    def errorsJson(): String =
      errors.map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")

    // storage-layer micro-bench results (merge/compact/read-under-churn,
    // IVF index build/probe), populated once after the query rounds; empty
    // until then. Failures go to storageError, NOT the query `errors` map:
    // n_queries_ok counts queries only, and consumers of `errors` must see
    // query names only.
    var storageResults: Seq[(String, Double)] = Nil
    var storageError: Option[String] = None
    def storageJson(): String = storageResults
      .map { case (k, v) => "\"" + k + f"""":$v%.3f""" }.mkString("{", ",", "}")
    def storageErrJson(): String = storageError.fold("null")(jstr)

    // medians-so-far over the completed rounds (the final call is the
    // report; in-loop calls checkpoint it to disk)
    def detailJson(): String = {
      val byRound = rounds.toSeq.map(_.toMap)
      val results = selected.flatMap { case (name, _) =>
        val xs = byRound.flatMap(_.get(name))
        if (errors.contains(name) || xs.isEmpty) None else Some(name -> med(xs))
      }
      val qs = results.map { case (k, v) => "\"" + k + f"""":$v%.3f""" }
        .mkString("{", ",", "}")
      val roundTotals = rounds.map(_.map(_._2).sum)
      val roundsJson = roundTotals.map(t => f"$t%.3f").mkString("[", ",", "]")
      val contended = BenchGuard.isContended(roundTotals.toSeq, budgetMs) ||
        BenchGuard.baselineBlown(byRound.map(comparable), baselineComparableTotal)
      val loadsJson = loads.map(l => f"$l%.2f").mkString("[", ",", "]")
      val total = results.map(_._2).sum
      val trusted = BenchGuard.trustedTotal(byRound.map(_.filterNot(kv => errors.contains(kv._1))))
      val outs = BenchGuard.outliers(byRound, baseline)
        .map("\"" + _ + "\"").mkString("[", ",", "]")
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","repeat":${rounds.size},"round_totals":$roundsJson,"contended":$contended,"load":$loadsJson,"trusted_total":$trusted%.3f,"outliers":$outs,"n_queries":${selected.size},"n_queries_ok":${selected.size - errors.size},"errors":${errorsJson()},"storage":${storageJson()},"storage_error":${storageErrJson()},"queries":$qs,"sf":"$sfDir"}"""
    }
    def writeDetail(): Unit =
      try {
        val p = java.nio.file.Paths.get("bench_detail.json")
        java.nio.file.Files.write(p, (detailJson() + "\n").getBytes("UTF-8"))
      } catch { case scala.util.control.NonFatal(_) => () }

    var lastRoundMs = 0L
    def roundTotalsSoFar = rounds.toSeq.map(_.map(_._2).sum)
    while (BenchGuard.shouldRunAnother(
        roundTotalsSoFar,
        System.currentTimeMillis() - benchStart, lastRoundMs,
        repeat, budgetMs, maxRounds,
        extraContended = BenchGuard.baselineBlown(
          rounds.toSeq.map(r => comparable(r.toMap)), baselineComparableTotal))) {
      val r0 = System.currentTimeMillis()
      loads += loadAvg
      val (times, errs) = runRound(selected.map { case (name, fn) =>
        name -> (() => { fn(spark, sfDir).count(); () })
      })
      errs.foreach { case (n, e) => errors(n) = e }
      rounds += times
      lastRoundMs = System.currentTimeMillis() - r0
      // checkpoint after EVERY round: a contended run may legally exceed
      // the soft budget, and an external timeout kill must still leave the
      // latest medians on disk rather than no artifact at all
      writeDetail()
    }
    // Storage-layer micro-bench AFTER the query rounds (never inside them —
    // its writes would contend with the query timings): two runs, per-op
    // minimum, reported in the separate "storage" field so query totals stay
    // comparable against bench_baseline.json's query envelope. A failure is
    // a loud storage_error entry, not a silent absence — and not a query
    // `errors` entry, which would under-count n_queries_ok.
    def recordStorageFailure(what: String, e: Throwable): Unit = {
      val msg = s"$what: ${e.getClass.getSimpleName}: " +
        Option(e.getMessage).getOrElse("").replaceAll("\\s+", " ").take(200)
      storageError = Some(storageError.fold(msg)(prev => s"$prev; $msg"))
      System.err.println(s"[bench] $what FAILED: ${e.getMessage}")
    }
    // dev-only: SPARK_GRAFT_SKIP_STORAGE=1 drops the storage/index micro
    // benches from a targeted SPARK_GRAFT_ONLY run (a 2-query scaling
    // probe should not pay the full storage suite). NEVER set for
    // official or envelope-folded runs — their storage map is part of
    // the artifact.
    val skipStorage = sys.env.get("SPARK_GRAFT_SKIP_STORAGE").contains("1")
    storageResults =
      if (skipStorage) Nil
      else try {
        val runs = Seq.fill(2)(StorageBench.run(spark))
        runs.head.map { case (k, _) => k -> runs.flatMap(_.toMap.get(k)).min }
      } catch {
        case e: Throwable => recordStorageFailure("storage bench", e); Nil
      }
    // ANN index economics, split so the headline is honest: the BUILD is a
    // once-per-corpus-state cost (IVF: full assignment + partitioned write;
    // PQ: train + encode; IVF-PQ: both), the PROBE is the steady-state
    // per-batch cost — the number that argues the 100 TB story (IVF-PQ's
    // probe scans the compressed codes of ONLY the probed cells). A fresh
    // directory isolates the build timing from the query rounds' memoized
    // index; min of two probes, like the storage ops.
    val annIndexes: Seq[(String, String => Any, String => DataFrame)] = Seq(
      ("ivf", graft.operators.IvfIndex.build(spark, sfDir, _),
        graft.operators.IvfIndex.topk(spark, sfDir, _)),
      ("pq", graft.operators.PqIndex.build(spark, sfDir, _),
        graft.operators.PqIndex.recall(spark, sfDir, _)),
      ("ivfpq", graft.operators.IvfPqIndex.build(spark, sfDir, _),
        graft.operators.IvfPqIndex.recall(spark, sfDir, _)))
    storageResults = storageResults ++ (
      if (skipStorage) Nil
      else annIndexes.flatMap { case (name, build, probe) =>
        try {
          val idx = java.nio.file.Files.createTempDirectory(s"graft-bench-$name").toString
          val t0 = System.nanoTime()
          build(idx)
          val tBuild = (System.nanoTime() - t0) / 1e9
          val tProbe = (1 to 2).map { _ =>
            val p0 = System.nanoTime()
            probe(idx).count()
            (System.nanoTime() - p0) / 1e9
          }.min
          val p = new org.apache.hadoop.fs.Path(idx)
          scala.util.Try(
            p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true))
          Seq(s"${name}_index_build" -> tBuild, s"${name}_index_probe" -> tProbe)
        } catch {
          case e: Throwable => recordStorageFailure(s"$name index bench", e); Nil
        }
      })

    val byRound = rounds.toSeq.map(_.toMap)
    val actualRounds = rounds.size
    val results: Seq[(String, Double)] = selected.flatMap { case (name, _) =>
      val xs = byRound.flatMap(_.get(name))
      if (errors.contains(name) || xs.isEmpty) None else Some(name -> med(xs))
    }
    val roundTotals = rounds.map(_.map(_._2).sum)
    val roundsJson = roundTotals.map(t => f"$t%.3f").mkString("[", ",", "]")
    val contended = BenchGuard.isContended(roundTotals.toSeq, budgetMs) ||
      BenchGuard.baselineBlown(byRound.map(comparable), baselineComparableTotal)
    val loadsJson = loads.map(l => f"$l%.2f").mkString("[", ",", "]")
    val total = results.map(_._2).sum
    // Full per-query detail: one stdout line (for humans/BASELINE.md) plus
    // the file written above. It is ~2.5 KB for 80+ queries.
    writeDetail() // re-write with the storage results included
    println(detailJson())
    // The LAST stdout line is the machine-readable one the external driver
    // parses — and the driver keeps only the final 2000 characters of output
    // (with sbt's "[success] …" epilogue inside that window). The full
    // per-query map does not fit, so the final line carries the total plus a
    // fixed headline subset and MUST stay well under ~1800 chars.
    val headline = Seq(
      "rel_pricing_summary", "rel_filter_eq", "rel_join_fact_fact",
      "rel_join_broadcast_dims", "rel_asof_join", "rel_range_join_auto",
      "rel_window_share", "rel_rank_per_group", "rel_cube", "rel_pivot",
      "ana_revenue_by_category", "ana_customer_segmentation",
      "ana_fraud_analysis", "evt_sliding_window", "evt_session_window",
      "sql_join_graph", "dedup_exact", "dedup_minhash_pairs",
      "sim_topk_brute", "sim_topk_ivf", "txt_quality", "txt_ngram_top",
      "media_feature_sim", "txt_tfidf", "rel_stats_agg", "rel_locf")
    val byName = results.toMap
    val hs = headline.flatMap(n => byName.get(n).map(v => "\"" + n + f"""":$v%.2f"""))
      .mkString("{", ",", "}")
    val median = med(results.map(_._2))
    // round_totals + load + the contended flag expose run-to-run host
    // variance (co-tenant CPU waves distort single rounds up to 10× —
    // BASELINE.md): a reader can tell a contended round from a code
    // regression without re-running, and a contended run reports medians
    // across extra rounds instead of one inflated round. trusted_total
    // (per-query min across rounds) is the number to compare against
    // BASELINE.md when contended=true; outliers lists queries whose BEST
    // round is >3× their recorded baseline median (capped to 8 names here —
    // the full list is in the detail file).
    val trusted = BenchGuard.trustedTotal(byRound.map(_.filterNot(kv => errors.contains(kv._1))))
    val outliers = BenchGuard.outliers(byRound, baseline)
    val outsJson = (outliers.take(8).map("\"" + _ + "\"") ++
      (if (outliers.size > 8) Seq("\"…\"") else Nil)).mkString("[", ",", "]")
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$hs,"n_queries":${selected.size},"n_queries_ok":${selected.size - errors.size},"errors":${errorsJson()},"storage":${storageJson()},"storage_error":${storageErrJson()},"repeat":$actualRounds,"round_totals":$roundsJson,"contended":$contended,"load":$loadsJson,"trusted_total":$trusted%.3f,"n_outliers":${outliers.size},"outliers":$outsJson,"median_sec":$median%.3f,"detail":"bench_detail.json","sf":"$sfDir"}""")
    spark.stop()
  }
}
