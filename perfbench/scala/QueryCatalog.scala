package perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** `query_catalog`: a fixed subset of `SparkEntry.queries` (the names in
  * `perfbench/data/catalog_rows.tsv`) over a fixed copy of the sf0.001
  * corpus, one thread, in an order shuffled by the seed.
  *
  * Set-up is three warm-up passes; the first pays JIT warm-up and the
  * program's per-session memoized builds, so the timed passes that follow
  * in the same session carry no one-time work. Each query is timed
  * as planning (forcing `queryExecution.executedPlan`) plus execution (a
  * `collect`), and its row count is checked against the count pinned in
  * `perfbench/data/catalog_rows.tsv`.
  */
object QueryCatalog {
  val SetupReps = 3
  /** Timed passes the end-to-end figures pool: a fixed count, so a slow
    * host that fits fewer passes in the window is compared like for like
    * (later passes run warmer and read faster). */
  val PooledPasses = 3

  def family(name: String): String = name.takeWhile(_ != '_')

  def run(spark: SparkSession, log: Log, dataDir: String, pinnedPath: String,
      seed: Long, seconds: Int): Unit = {
    val sc = spark.sparkContext
    val pinned: Map[String, Long] = scala.io.Source.fromFile(pinnedPath).getLines()
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(n, r) = l.split('\t'); n -> r.toLong }.toMap
    val names = pinned.keys.toIndexedSeq.sorted
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"pinned queries missing from SparkEntry.queries: $unknown")
    val rng = new java.util.Random(seed)
    def order(): IndexedSeq[String] = new scala.util.Random(rng).shuffle(names)

    /** Plan then execute one query; returns its row count. */
    def once(name: String, measured: Boolean, pass: Int): Unit = {
      var planS = 0.0; var phases = Map.empty[String, Long]
      val (op, rows) = log.op("query", "name" -> name, "family" -> family(name),
        "measured" -> measured, "pass" -> pass) {
        val n0 = System.nanoTime()
        val df = log.span(s"operators.$name.plan") {
          val d = SparkEntry.queries(name)(spark, dataDir)
          d.queryExecution.executedPlan
          d
        }
        planS = (System.nanoTime() - n0) / 1e9
        phases = df.queryExecution.tracker.phases.map { case (k, p) => k -> (p.endTimeMs - p.startTimeMs) }
        log.span(s"operators.$name.exec")(df.collect().length.toLong)
      }
      log.emit("query_plan", "op" -> op, "plan_s" -> planS, "phases" -> phases)
      rows.foreach(n => log.check("row_count", op, n == pinned(name), s"$name returned $n rows, pinned ${pinned(name)}"))
    }

    sc.setJobGroup("catalog", "benchmark catalog pass")
    (1 to SetupReps).foreach { p =>
      val t0 = System.nanoTime()
      order().foreach(once(_, measured = false, p))
      log.emit("setup", "rep" -> p, "dur" -> (System.nanoTime() - t0) / 1e9)
    }
    log.value("queries", names.size)

    val start = log.now(); val tEnd = start + seconds * 1000L
    log.value("window_start", start)
    log.value("pooled_passes", PooledPasses)
    var pass = 0
    // whole passes only, at least PooledPasses: every timed pass covers
    // every query, so pooling the passes weighs every query alike
    while (pass < PooledPasses || log.now() < tEnd) {
      pass += 1
      val tp = System.nanoTime()
      order().foreach(once(_, measured = true, SetupReps + pass))
      log.emit("pass", "n" -> pass, "dur" -> (System.nanoTime() - tp) / 1e9)
    }
    log.value("window_end", log.now())
    log.value("persisted_end", sc.getPersistentRDDs.size)
  }
}
