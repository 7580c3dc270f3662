package graft

/** Always-on plan-hygiene probes over headline queries (the automated form
  * of the dev-only `graft.Plans` eyeball tool): a plan regression — lost
  * filter pushdown, a broadcast join degrading to shuffle, a top-n
  * becoming a global sort, a candidate join degenerating to a cross
  * product — fails `sbt test` instead of surfacing as a silent slowdown
  * three rounds later.
  *
  * Assertions read the INITIAL physical plan (AQE may re-plan at runtime,
  * but the static plan is where pushdown/broadcast/top-k shape is decided
  * from file statistics, and it is deterministic for the fixed sf0.001
  * input).
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("equality filter pushes to the parquet scan") {
    val p = planOf("rel_filter_eq")
    assert(p.contains("PushedFilters: [") && p.contains("EqualTo"), p)
  }

  test("date-range filter pushes both bounds to the scan") {
    val p = planOf("rel_filter_date_range")
    // half-open range: >= lower bound, < day-after-upper-bound
    assert(p.contains("GreaterThanOrEqual") && p.contains("LessThan"), p)
  }

  test("dimension joins broadcast (no shuffled dim join)") {
    val p = planOf("rel_join_broadcast_dims")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("top-n revenue query plans as distributed TakeOrderedAndProject") {
    val p = planOf("rel_top_revenue_orders")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("offset/limit plans as top-k, not a global sort") {
    val p = planOf("rel_offset_limit")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
  }

  test("aggregation runs partial+final (map-side combine present)") {
    val p = planOf("ana_revenue_by_category")
    val hashAggs = "HashAggregate".r.findAllIn(p).size
    assert(hashAggs >= 2, s"expected partial+final HashAggregate:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("minhash candidate generation is an equi-join, never a cross product") {
    val p = planOf("dedup_minhash_pairs")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("LSH bucket join is an equi-join, never a cross product") {
    val p = planOf("sim_topk_lsh")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("winnow candidate pairs join on fingerprint value, never cross product") {
    val p = planOf("dedup_winnow_pairs")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("cleaning pipeline dedup joins on fingerprint, never cross product") {
    val p = planOf("txt_clean_pipeline")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("SCD2 reconstruction shuffles once: both window passes share the user_id exchange") {
    val p = planOf("evt_scd2")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(shuffles == 1, s"expected exactly 1 hash exchange, got $shuffles:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("incremental dedup screen joins bands, never cross product; split is a broadcast scalar") {
    val p = planOf("dedup_incremental")
    assert(!p.contains("CartesianProduct"), p)
    // the ONLY nested-loop is the 1-row threshold crossJoin riding as a
    // broadcast — candidate generation itself must be the band equi-join
    assert(p.contains("band"), p)
  }

  test("chunk dedup accounting joins on the fingerprint, never cross product") {
    val p = planOf("txt_rag_chunks")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("text quality pipeline has no codegen barriers (no object ops/UDFs)") {
    // The initial AQE plan string doesn't render WholeStageCodegen spans, so
    // assert the absence of the operators that would break them instead.
    val p = planOf("txt_quality")
    for (barrier <- Seq("DeserializeToObject", "MapPartitions", "BatchEvalPython", "SerializeFromObject"))
      assert(!p.contains(barrier), s"codegen barrier $barrier:\n$p")
  }

  test("single-row-group JSON scan is widened before the per-row parse") {
    val p = planOf("evt_json_extract")
    assert(p.contains("RoundRobinPartitioning"), p)
  }

  test("SQL top-k over aggregate plans as TakeOrderedAndProject, not a global sort") {
    val p = planOf("sql_topk_over_agg")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), s"no global sort exchange:\n$p")
  }

  test("SQL NOT IN plans as an anti join, never an unbounded cross product") {
    val p = planOf("sql_not_in_anti")
    assert(p.contains("LeftAnti"), s"expected an anti join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("SQL IN-over-HAVING plans as a semi join against the re-aggregate") {
    val p = planOf("sql_in_having")
    assert(p.contains("LeftSemi"), s"expected a semi join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("cross-source leakage never broadcasts a raw corpus projection") {
    // The r16 weak mark: the source labels joined in as
    // broadcast(documents.select(doc_id, source)) — a corpus-sized build
    // side that OOMs the driver at 100 TB. The fixed plan broadcasts the
    // VERIFIED PAIRS (post-0.8-Jaccard, vanishing fraction) and streams
    // the corpus projection. Probe: no broadcast join may build from a
    // subtree that is nothing but project/filter over the documents scan.
    import org.apache.spark.sql.catalyst.optimizer.BuildLeft
    import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, ProjectExec, SparkPlan}
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
    def rawCorpusProjection(p: SparkPlan): Boolean = p match {
      case s: FileSourceScanExec => s.toString.contains("documents")
      case pr: ProjectExec => rawCorpusProjection(pr.child)
      case f: FilterExec => rawCorpusProjection(f.child)
      case _ => false
    }
    val plan = SparkEntry.queries("dedup_cross_source")(spark, dir)
      .queryExecution.sparkPlan
    val bad = plan.collect {
      case j: BroadcastHashJoinExec
        if rawCorpusProjection(if (j.buildSide == BuildLeft) j.left else j.right) => j
      case j: BroadcastNestedLoopJoinExec
        if rawCorpusProjection(if (j.buildSide == BuildLeft) j.left else j.right) => j
    }
    assert(bad.isEmpty, s"corpus-sized broadcast build side:\n${bad.mkString("\n")}")
  }

  test("dsir selection has no doc-grained single-partition window") {
    // The r16 weak mark: the keep-set came from row_number()/count() over
    // Window.partitionBy() — every raw doc's stats through ONE task. The
    // fixed plan cuts by threshold; an unpartitioned window is only legal
    // over aggregated metadata (the 256-bucket weight table, the coarse
    // score-bucket list), never over a frame whose nearest aggregate is
    // doc-grained.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    def topAggs(p: SparkPlan): Seq[BaseAggregateExec] = p match {
      case a: BaseAggregateExec => Seq(a)
      case o => o.children.flatMap(topAggs)
    }
    val plan = SparkEntry.queries("txt_dsir_select")(spark, dir)
      .queryExecution.sparkPlan
    val bad = plan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty &&
        topAggs(w.child).exists(_.groupingExpressions.exists(
          _.references.exists(_.name == "doc_id"))) => w
    }
    assert(bad.isEmpty, s"doc-grained unpartitioned window:\n${bad.mkString("\n")}")
  }

  test("BPE token accounting stays inside codegen: the merge loop is pure string expressions") {
    val p = planOf("txt_bpe_tokens")
    for (barrier <- Seq("DeserializeToObject", "MapPartitions", "BatchEvalPython", "SerializeFromObject"))
      assert(!p.contains(barrier), s"codegen barrier $barrier:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("perceptual-hash dedup joins on bands, never a cross product") {
    val p = planOf("media_phash_pairs")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("keep-best selection: argmax aggregation, no per-cluster window, no cross product") {
    val p = planOf("dedup_keep_best")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the winner per cluster is max(struct(score, -id)) — an ordinary
    // partial+final aggregate; a Window over clusters would serialize the
    // clustered-docs frame through sort-per-partition machinery instead
    assert(!p.contains("Window"), s"winner must be an argmax agg, not a window:\n$p")
  }

  test("classifier selection broadcasts the weight table and never ranks " +
      "docs through an unpartitioned window") {
    val p = planOf("txt_classifier_select")
    assert(p.contains("BroadcastHashJoin"),
      s"the 256-row weight table must be the broadcast side:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // keep = per-doc threshold; a global rank would show up as an
    // unpartitioned Window over the doc-grained score frame
    assert(!p.contains("Window"), s"keep must be a threshold, not a rank:\n$p")
  }

  test("exact-substring dedup exchanges on the shingle key, never all-pairs") {
    val p = planOf("txt_exact_substr")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the occurrence count and the coverage union are keyed windows
    // (shingle, doc) — a Window.partitionBy() here would pull the whole
    // exploded frame through one task
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = SparkEntry.queries("txt_exact_substr")(spark, dir)
      .queryExecution.sparkPlan
    val bad = plan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(bad.isEmpty, s"unpartitioned window:\n${bad.mkString("\n")}")
  }

  test("exact-substring CUT: rank and count share the shingle exchange, " +
      "no unpartitioned window, no cross product") {
    val p = planOf("txt_exact_substr_cut")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = SparkEntry.queries("txt_exact_substr_cut")(spark, dir)
      .queryExecution.sparkPlan
    assert(!plan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }.exists(_ => true), s"unpartitioned window:\n$plan")
    // the n_occ count and the first-occurrence rank must ride ONE
    // shingle-keyed exchange, not two
    val exchanges = "Exchange hashpartitioning\\(sh".r.findAllIn(plan.toString).size
    assert(exchanges <= 1, s"shingle exchanged $exchanges times:\n$plan")
  }

  test("DCLM composed pipeline: broadcast classifier weights, no " +
      "unpartitioned window, no cross product across all three stages") {
    // the declared query materializes the |sources|-row rollup eagerly
    // (and drops its doc-grained cache) — probe the underlying plan it
    // executes, exposed for exactly this purpose
    val df = graft.operators.TextQueries.dclmPipelinePlan(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"the weight table must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = df.queryExecution.sparkPlan
    assert(!plan.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }.exists(_ => true), s"unpartitioned window:\n$plan")
  }

  test("BPE training round: one aggregation exchange over the vocab, " +
      "champion via TakeOrdered, no cross product") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, desc, expr}
    val vocab = Seq(("data", 3L), ("date", 2L)).toDF("w", "cnt")
      .withColumn("sym",
        expr("concat('|', regexp_replace(w, '(.)', '$1|'))"))
    val round = graft.operators.TextQueries.pairCounts(vocab)
      .orderBy(desc("c"), col("l"), col("r")).limit(1)
    val p = round.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 1,
      s"one pair-count exchange per round:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"the champion pick must be a TakeOrdered, not a global sort:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("tokenizer-true budget select: BPE counting adds no explode and no " +
      "extra exchange over the whitespace form") {
    val p = planOf("txt_budget_select_bpe")
    for (barrier <- Seq("DeserializeToObject", "BatchEvalPython", "Generate"))
      assert(!p.contains(barrier), s"per-doc BPE count must be a scalar " +
        s"expression, found $barrier:\n$p")
    val exchanges = "Exchange".r.findAllIn(p).size
    val wsExchanges = "Exchange".r.findAllIn(planOf("txt_budget_select")).size
    assert(exchanges <= wsExchanges,
      s"BPE form exchanges $exchanges > whitespace form $wsExchanges:\n$p")
  }

  test("row_number pagination bounds its unpartitioned window at 150 rows") {
    // Spark's InferWindowGroupLimit bounds the Window's input: a
    // WindowGroupLimit, or for an unpartitioned row_number (this query) a
    // top-150 TakeOrderedAndProject, so the single-partition window sorts
    // 150 rows, not the whole table
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    object aqe extends AdaptiveSparkPlanHelper
    val plan = SparkEntry.queries("rel_window_pagination")(spark, dir)
      .queryExecution.executedPlan
    val windows = aqe.collect(plan) { case w: WindowExec => w }
    assert(windows.nonEmpty, plan.toString)
    windows.foreach { w =>
      val limits = aqe.collect(w.child) {
        case g: WindowGroupLimitExec => g.limit
        case t: TakeOrderedAndProjectExec => t.limit
      }
      assert(limits.nonEmpty && limits.forall(_ <= 150),
        s"expected a limit of at most 150 under the Window:\n$plan")
    }
  }

  test("runtime bloom filter prunes the fact side of a selective fact-fact join") {
    // At 100 TB the win is shuffle-volume reduction: a selective dimension
    // predicate is turned into a bloom filter applied to the fact side
    // BEFORE its shuffle, so non-joining rows never leave the scan stage.
    // Thresholds are sized for the tiny fixture (the optimizer gates the
    // rewrite on scan-size estimates that default to cluster scale).
    import org.apache.spark.sql.functions._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> conf.getOption(k))
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val ord = spark.read.parquet(s"$dir/orders.parquet")
      .filter(col("o_totalprice") > 400000.0) // selective creation side
    def query() = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
    // ground truth under default confs (no injected filter)
    val expected = query().collect().map(_.toString).sorted.toSeq
    conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force a shuffle join
    try {
      val j = query()
      val optimized = j.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain"),
        s"expected an injected bloom runtime filter:\n$optimized")
      // and the filtered plan still returns the exact join result
      assert(j.collect().map(_.toString).sorted.toSeq == expected)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
