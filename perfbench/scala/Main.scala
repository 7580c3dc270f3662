package perfbench

import graft.core.SparkSessionFactory

/** One benchmark run in one JVM: `perfbench.Main --workload <w> --seed <n>
  * --seconds <s> --trace <0|1> --work <dir> --out <log.jsonl>
  * [--data <sf dir>] [--pinned <tsv>]`.
  *
  * Drives the program only through its public functions and routes, on
  * Spark `local[4]`, and writes the run's event log to `--out`;
  * `perfbench/run.py` turns that log into metrics.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toInt
    val log = new Log(traced = args("trace") == "1")
    val work = args("work")

    val t0 = System.nanoTime()
    val spark = SparkSessionFactory.create(master = "local[4]", appName = s"perfbench-$workload",
      shufflePartitions = Some(4),
      fairSchedulerXml = Some("conf/fairscheduler.xml").filter(f => new java.io.File(f).isFile))
    spark.sparkContext.setLogLevel("ERROR")
    log.value("spark_boot_s", (System.nanoTime() - t0) / 1e9)
    val probe = new Probe(spark, log, log.traced)
    var ok = false
    try {
      workload match {
        case "serve_live" => ServeLive.run(spark, log, s"$work/serve_live", seed, seconds)
        case "merge_churn" => MergeChurn.run(spark, log, s"$work/merge_churn", seed, seconds)
        case "query_catalog" => QueryCatalog.run(spark, log, args("data"), args("pinned"), seed, seconds)
        case other => sys.error(s"unknown workload $other")
      }
      ok = true
    } catch {
      case e: Throwable =>
        log.check("run_completed", 0, ok = false, Log.describe(e))
        e.printStackTrace()
    } finally {
      probe.close()
      log.writeTo(args("out"))
      spark.stop()
    }
    // exit explicitly: threads the program leaves behind must not hold the JVM
    sys.exit(if (ok) 0 else 3)
  }
}
