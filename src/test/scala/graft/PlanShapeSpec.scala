package graft

import org.apache.spark.sql.DataFrame

/** Executable scale claims: assert the PHYSICAL PLAN SHAPE of
  * representative queries, not just their results — a regression that
  * silently swaps a broadcast join for a sort-merge join, or adds a
  * shuffle to a row-local projection, passes every value check and
  * still ruins the 100 TB story. The bench SF is small; these run on
  * sf0.001 because plan shape (unlike timing) is SF-independent here
  * (the broadcast sides are bounded collections: eval-gram index,
  * domain tables).
  */
class PlanShapeSpec extends SparkSpec {

  private def plan(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, TestSpark.sfDir)
    df.queryExecution.executedPlan.toString
  }

  private def countOf(s: String, token: String): Int =
    s.sliding(token.length).count(_ == token)

  test("q76 repetition signals: row-local, no joins, single exchange") {
    val p = plan("q76_repetition")
    assert(!p.contains("Join"), "row-local signals must not join")
    // the only exchange is the final global orderBy
    assert(countOf(p, "Exchange") <= 1, p.linesIterator.take(5).mkString)
  }

  test("q78 decontamination: eval-gram index broadcast, never merged") {
    val p = plan("q78_decontaminate")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"),
      "train side must stream against a broadcast eval index")
  }

  test("q79 packing: one shuffle for the shard window + output sort") {
    val p = plan("q79_seq_packing")
    assert(p.contains("Window"))
    assert(countOf(p, "Exchange") <= 2,
      "packing must shuffle once on the shard key (plus the output sort)")
  }

  test("q22 text quality: projection only, no shuffle before the sort") {
    val p = plan("q22_text_quality")
    assert(!p.contains("Join"))
    assert(countOf(p, "Exchange") <= 1)
  }

  test("q14 enrichment join broadcasts the dimension side") {
    val p = plan("q14_join_enrich")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q90 vocab: distributed top-k; rank window only over survivors") {
    val df = SparkEntry.queries("q90_vocab")(spark, TestSpark.sfDir)
    assert(PlanAudit.globalWindows(df.queryExecution.optimizedPlan) == 0,
      "a partition-less Window must sit above a limit, never the full " +
        "token table")
    assert(df.queryExecution.executedPlan.toString
        .contains("TakeOrderedAndProject"),
      "top-k must plan as TakeOrderedAndProject (distributed), not a " +
        "global sort + filter")
  }

  test("q83 bm25: only broadcast joins — no full-corpus length shuffle") {
    val p = plan("q83_bm25")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "doc lengths must ride the term-hit frame, not join the corpus")
  }

  test("q80 redaction: row-local regexp chain, no shuffle before sort") {
    val p = plan("q80_redact_pii")
    assert(!p.contains("Join"))
    assert(countOf(p, "Exchange") <= 1)
  }

  // BNLJ counting must walk the TREE, not the rendered string: the
  // semdedup queries cache their assignment, and a MATERIALIZED
  // InMemoryRelation renders its cached build plan (which legitimately
  // contains the tiny single-row centroid crossJoin) into the string —
  // twice. The pair join itself must never nest-loop.
  private def topLevelBnlj(name: String): Int = {
    val df: DataFrame = SparkEntry.queries(name)(spark, TestSpark.sfDir)
    df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.joins
          .BroadcastNestedLoopJoinExec => b
    }.size
  }

  test("q96 semdedup: within-cell equi-join, never a cartesian pair scan") {
    val p = plan("q96_semdedup")
    assert(!p.contains("CartesianProduct"),
      "pairs must come from the cell equi-join, not an all-pairs scan")
    assert(p.contains("Join"), "expected the within-cell self-join")
    // the centroid broadcasts sit inside the cached assignment build;
    // the pair join above the cache must be a pure equi-join
    assert(topLevelBnlj("q96_semdedup") === 0,
      "the within-cell pair join must not nest-loop")
  }

  test("q107 fitted semdedup: within-cell equi-join under fitted cells") {
    val p = plan("q107_semdedup_fitted")
    assert(!p.contains("CartesianProduct"),
      "pairs must come from the fitted-cell equi-join, not all-pairs")
    assert(p.contains("Join"), "expected the within-cell self-join")
    assert(topLevelBnlj("q107_semdedup_fitted") === 0,
      "the within-cell pair join must not nest-loop")
  }

  test("q97 quality classifier: one kernel pass, no join, no shuffle") {
    val p = plan("q97_quality_classifier")
    assert(!p.contains("Join"))
    assert(countOf(p, "Exchange") <= 1) // output sort only
    assert(countOf(p, "graft_text_stats") == 1 &&
           countOf(p, "graft_token_hashes") == 0,
      "all features, the stopword hits included, must come from ONE " +
        "text_stats pass (a staged column, not per-feature re-inlining)")
  }

  test("q110 gradient step: one pass, no join, each kernel staged once") {
    val p = plan("q110_quality_grad")
    assert(!p.contains("Join"), "a batch gradient is one corpus pass")
    assert(countOf(p, "graft_text_stats") == 1 &&
           countOf(p, "graft_token_hashes") == 0,
      "features, the stopword hits included, must come from ONE " +
        "text_stats pass (a staged column, not per-term re-inlining)")
  }

  /** Every operator of every plan `body` executes, AQE stages included:
    * a query-execution listener collects the executed plans, and a
    * sentinel query, whose success event follows all of theirs, ends
    * the collection. */
  private def executedOps(body: => Unit)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    object walk extends AdaptiveSparkPlanHelper
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String,
                    qe: org.apache.spark.sql.execution.QueryExecution,
                    ns: Long): Unit =
        if (qe.analyzed.output.exists(_.name == "graft_sentinel"))
          flushed.countDown()
        else plans.add(qe.executedPlan)
      def onFailure(f: String,
                    qe: org.apache.spark.sql.execution.QueryExecution,
                    e: Exception): Unit = plans.add(qe.executedPlan)
    }
    spark.listenerManager.register(listener)
    try {
      body
      // events arrive in order: the sentinel's success follows them all
      spark.range(1).toDF("graft_sentinel").collect()
      assert(flushed.await(30, java.util.concurrent.TimeUnit.SECONDS))
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq.flatMap(p => walk.collect(p) { case n => n })
  }

  private def kernelCalls(ops: Seq[org.apache.spark.sql.execution.SparkPlan])
      : Int =
    ops.map(_.expressions.map(_.collect {
      case t: graft.functions.TextStats => t }.size).sum).sum

  test("prepareCorpus scores each document with one codegen'd kernel " +
      "call: no CodegenFallback operator, one graft_text_stats") {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    val ops = executedOps(
      graft.llm.Pipelines.prepareCorpus(catalog.table("documents"),
        org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text")).collect())
    val fallback = ops.filter(_.expressions.exists(
      _.exists(_.isInstanceOf[CodegenFallback])))
    assert(fallback.isEmpty, "interpreted expressions take their operator " +
      "out of whole-stage codegen: " + fallback.map(_.nodeName).mkString(", "))
    val kernels = kernelCalls(ops)
    assert(kernels == 1, s"$kernels text_stats calls in the executed " +
      "plans: the floor must not re-run the kernel in a pushed Filter")
  }

  test("scoreCorpus evaluates the kernel once per row: its quality floor " +
      "reads the staged struct, never a pushed-down kernel call") {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    val ops = executedOps(
      graft.llm.Pipelines.scoreCorpus(catalog.table("documents"),
        org.apache.spark.sql.functions.col("text")).collect())
    val kernels = kernelCalls(ops)
    assert(kernels == 1, s"$kernels text_stats calls in the executed " +
      "plans: a Filter pushed below the scoring projection inlines the " +
      "kernel once per reference")
    assert(!ops.exists(_.expressions.exists(
      _.exists(_.isInstanceOf[CodegenFallback]))))
  }

  test("q98 chunking: row-local explode, no shuffle before the sort") {
    val p = plan("q98_chunk_docs")
    assert(!p.contains("Join"))
    assert(countOf(p, "Exchange") <= 1)
  }

  test("q99 bpe pairs: two partial-agg shuffles + distributed top-k") {
    val p = plan("q99_bpe_pairs")
    assert(p.contains("TakeOrderedAndProject"),
      "top-20 must be distributed, not a global sort")
    assert(!p.contains("Join"))
    // word-freq groupBy + pair groupBy, each with map-side combine
    assert(countOf(p, "Exchange") <= 2)
    assert(countOf(p, "HashAggregate") >= 4,
      "both groupBys must have partial (map-side) aggregation")
  }

  test("q100 mixture weights: corpus reduced before any join") {
    val p = plan("q100_mixture_weights")
    assert(!p.contains("SortMergeJoin"),
      "the normalizer must broadcast against the tiny counts frame")
    assert(PlanAudit.globalWindows(
      SparkEntry.queries("q100_mixture_weights")(spark, TestSpark.sfDir)
        .queryExecution.optimizedPlan) == 0,
      "no global window — the Σw normalizer is a broadcast crossJoin")
  }

  test("q167 rolling DAU: the day grid is the broadcast side of the " +
      "range join; the event log is never nested-loop scanned twice") {
    val p = plan("q167_rolling_dau")
    assert(p.contains("BroadcastNestedLoopJoin"),
      "an inequality join against a tiny grid must broadcast the grid")
    assert(!p.contains("CartesianProduct"), p.linesIterator.take(5)
      .mkString)
  }

  test("q161 profile: ONE scan feeds the whole per-column census") {
    // string count, not tree collect: under AQE the executedPlan root
    // hides its unexecuted subtree from collect()
    val n = countOf(plan("q161_profile"), "Scan parquet")
    assert(n == 1, s"profiling must not rescan per column: $n scans")
  }

  test("q157 ewma / q164 rolling window: entity-partitioned only — " +
      "no global window anywhere") {
    for (q <- Seq("q157_ewma", "q164_rolling_window",
        "q169_debounce", "q170_twa")) {
      val df = SparkEntry.queries(q)(spark, TestSpark.sfDir)
      assert(PlanAudit.globalWindows(df.queryExecution.optimizedPlan)
        == 0, s"$q must keep every window entity-partitioned")
    }
  }

  test("round-7 analytics cohort: partitioned windows only, and " +
      "q191's dimensions broadcast") {
    for (q <- Seq("q186_gini", "q187_keywords", "q193_item_similarity",
        "q194_trimmed_mean", "q195_session_stats",
        "q199_anomaly_days")) {
      val df = SparkEntry.queries(q)(spark, TestSpark.sfDir)
      assert(PlanAudit.globalWindows(df.queryExecution.optimizedPlan)
        == 0, s"$q must keep every window partitioned")
    }
    val p = plan("q191_ratio_to_parent")
    assert(p.contains("BroadcastHashJoin"),
      "nation/region dims must broadcast against the fact side")
    assert(!p.contains("CartesianProduct"))
  }

  test("q212 shuffle-sharding: NO global window — the whole point of " +
      "the bucket decomposition; windows stay bucket-partitioned") {
    val df = SparkEntry.queries("q212_shuffle_shards")(spark,
      TestSpark.sfDir)
    assert(PlanAudit.globalWindows(df.queryExecution.optimizedPlan)
      == 0, "the exact global rank must come from bucket offsets + " +
      "bucket-partitioned row_number, never a partition-less window")
    assert(!plan("q212_shuffle_shards").contains("CartesianProduct"))
  }

  test("q210 cusum: both windows share ONE region sort (single " +
      "window exchange), none global") {
    val df = SparkEntry.queries("q210_cusum")(spark, TestSpark.sfDir)
    assert(PlanAudit.globalWindows(df.queryExecution.optimizedPlan)
      == 0)
    // prefix-sum and running-min fold into Window nodes over the same
    // (k, o) sort order — no second sort between them
    val p = plan("q210_cusum")
    assert(countOf(p, "Window") <= 2 &&
      p.contains("Window"), "closed form must stay windowed")
  }

  test("q207 bitmap overlap: word-aligned equi-joins only — never a " +
      "member-grain pair join") {
    val p = plan("q207_bitmap_overlap")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("HashAggregate"),
      "bitmap build must be a word-keyed aggregate")
  }

  test("q205 bfs / q216 rollup / q218 bootstrap: no cartesian, no " +
      "global window") {
    for (q <- Seq("q205_bfs_hops", "q216_bom_rollup",
        "q218_bootstrap_ci", "q213_negative_sampling",
        "q208_rfm", "q215_target_encoding")) {
      val df = SparkEntry.queries(q)(spark, TestSpark.sfDir)
      assert(PlanAudit.globalWindows(df.queryExecution.optimizedPlan)
        == 0, s"$q must keep every window partitioned")
      assert(!df.queryExecution.executedPlan.toString
        .contains("CartesianProduct"), s"$q planned a cartesian")
    }
  }

  test("round-8 cohort: every window partitioned (ABC/PPS via band " +
      "decomposition, sweep/burstiness/RLE entity-keyed), no " +
      "cartesian anywhere") {
    for (q <- Seq("q246_max_concurrency", "q248_reconcile_columns",
        "q249_autocorr", "q252_abc_pareto", "q254_burstiness",
        "q256_kcore", "q258_session_rle", "q259_assoc_rules",
        "q263_histogram_bins", "q264_vocab_overlap",
        "q266_pps_sample", "q267_gap_fill", "q269_dpo_pairs",
        "q271_watermark_advisor")) {
      val df = SparkEntry.queries(q)(spark, TestSpark.sfDir)
      assert(PlanAudit.globalWindows(df.queryExecution.optimizedPlan)
        == 0, s"$q must keep every window partitioned")
      assert(!df.queryExecution.executedPlan.toString
        .contains("CartesianProduct"), s"$q planned a cartesian")
    }
  }

  test("dense-cube guard: a product between the broadcast threshold " +
      "and the cap plans a NON-broadcast dense join and stays dense") {
    import org.apache.spark.sql.functions._
    // 250 x 250 = 62,500 cells: above Domains.BroadcastCubeCells
    // (32,768), under Domains.MaxCubeCells (100,000) — the sparse side
    // must not be broadcast, and the result must still be the full
    // dense cube
    val wide = spark.range(62500L).select(
      (col("id") % 250).as("a"), expr("id div 250").as("b"))
    val parts = (0 until 250).mkString("[", ",", "]")
    val q = graft.jx.QueryParser.parse(
      s"""{"from": "w",
           "edges": [
             {"name": "a", "value": "a",
              "domain": {"type": "set", "partitions": $parts}},
             {"name": "b", "value": "b",
              "domain": {"type": "set", "partitions": $parts}}],
           "select": [{"name": "n", "aggregate": "count"}]}""")
    val df = graft.jx.Runner.runOn(wide, q)
    assert(!df.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"),
      "above Domains.BroadcastCubeCells the dense join must " +
        "shuffle the sparse side, not broadcast it")
    assert(df.count() === 62500L)
  }

  test("q358 wide cube: the 37.5k-cell dense join is non-broadcast " +
      "end to end (SortMergeJoin on the null-safe keys)") {
    val p = plan("q358_wide_cube")
    assert(p.contains("SortMergeJoin"),
      "the merge-hinted dense join must survive to the physical plan")
    assert(!p.contains("BroadcastHashJoin"),
      "a 37.5k-cell sparse side must not be broadcast")
  }

  test("dense-cube guard refinement: DefaultDomain static bounds " +
      "that trip the threshold are refined by counting the ACTUAL " +
      "domains — a small cube over low-cardinality keys still runs " +
      "and still broadcasts") {
    import org.apache.spark.sql.functions._
    // two implicit DefaultDomain(1000) edges: static bound ~10^6
    // (over both thresholds), actual domains 6 x 4 = 24 cells
    val wide = spark.range(6000L).select(
      pmod(col("id"), lit(6L)).as("a"), pmod(col("id"), lit(4L)).as("b"))
    val q = graft.jx.QueryParser.parse(
      """{"from": "w",
          "edges": [{"name": "a", "value": "a"},
                    {"name": "b", "value": "b"}],
          "select": [{"name": "n", "aggregate": "count"}]}""")
    val df = graft.jx.Runner.runOn(wide, q)
    assert(df.count() === 24L,
      "the refined product is under both thresholds — dense 6x4 cube")
    assert(df.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"),
      "a 24-cell sparse side must still broadcast after refinement")
  }
}
