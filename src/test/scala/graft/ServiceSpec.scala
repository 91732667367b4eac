package graft

import com.fasterxml.jackson.databind.ObjectMapper

class ServiceSpec extends SparkSpec {
  private val mapper = new ObjectMapper()
  private def q(json: String): com.fasterxml.jackson.databind.JsonNode =
    mapper.readTree(Service.query(spark, TestSpark.sfDir, json))

  test("list format returns row objects") {
    val r = q("""{"from": "region", "sort": ["r_regionkey"]}""")
    assert(r.get("data").size === 5)
    assert(r.get("data").get(0).get("r_name").asText.nonEmpty)
  }

  test("table format returns header + positional rows") {
    val r = q(
      """{"from": "orders", "groupby": ["o_orderstatus"],
          "select": [{"name": "n", "aggregate": "count"}],
          "sort": ["o_orderstatus"], "format": "table"}""")
    assert(r.get("header").get(0).asText === "o_orderstatus")
    assert(r.get("data").get(0).isArray)
    assert(r.get("data").size === 3)
  }

  test("cube format returns dense nested arrays") {
    val r = q(
      """{"from": "orders",
          "edges": [{"name": "st", "value": "o_orderstatus",
                     "domain": {"type": "set",
                                "partitions": ["O", "F", "P", "X"]}}],
          "select": [{"name": "n", "aggregate": "count"}],
          "format": "cube"}""")
    assert(r.get("edges").get(0).asText === "st")
    assert(r.get("domains").get(0).size === 4)
    val data = r.get("data").get("n")
    assert(data.size === 4)
    assert(data.get(3).asLong === 0L) // dense empty partition
  }

  test("malformed JX ends in IllegalArgumentException: truncated " +
      "JSON, wrongly typed clauses, unknown operator, unknown table") {
    val bad = Seq(
      "truncated JSON" -> """{"from": "orders", "where": {"eq":""",
      "empty body" -> "",
      "not an object" -> """["orders"]""",
      "text limit" -> """{"from": "orders", "limit": "x"}""",
      "negative limit" -> """{"from": "orders", "limit": -1}""",
      "array where" -> """{"from": "orders", "where": []}""",
      "number groupby" -> """{"from": "orders", "groupby": 5}""",
      "number sort" -> """{"from": "orders", "sort": 5}""",
      "domain without bounds" -> """{"from": "orders", "edges": [{"name":
          "p", "value": "o_totalprice", "domain": {"type": "range"}}],
          "format": "cube"}""",
      "unknown operator" ->
        """{"from": "orders", "where": {"frobnicate": ["o_orderkey", 1]}}""",
      "unknown table" -> """{"from": "no_such_table"}""")
    val wrong = bad.flatMap { case (what, json) =>
      try {
        Service.query(spark, TestSpark.sfDir, json)
        Some(s"$what: answered")
      } catch {
        case _: IllegalArgumentException => None
        case e: Throwable => Some(s"$what: ${e.getClass.getName}")
      }
    }
    assert(wrong.isEmpty, wrong.mkString("; "))
  }

  test("service default limit bounds unlimited setop queries") {
    val r = q("""{"from": "lineitem", "select": ["l_orderkey"]}""")
    assert(r.get("data").size <= Service.DefaultLimit)
  }

  test("service default limit also bounds unlimited AGGREGATE " +
      "queries (no unbounded driver collect from a raw groupby)") {
    import org.apache.spark.sql.functions._
    // a view with > DefaultLimit distinct group keys
    val wide = spark.range(Service.DefaultLimit * 2 + 500)
      .select(col("id").as("k"), (col("id") % 7).as("v"))
    val views = Map("wide" -> wide)
    val r1 = mapper.readTree(Service.query(spark, TestSpark.sfDir,
      """{"from": "wide", "groupby": ["k"],
          "select": [{"name": "n", "aggregate": "count"}],
          "sort": ["k"]}""", views))
    assert(r1.get("data").size === Service.DefaultLimit.toInt)
    // an explicit limit still wins
    val r2 = mapper.readTree(Service.query(spark, TestSpark.sfDir,
      """{"from": "wide", "groupby": ["k"],
          "select": [{"name": "n", "aggregate": "count"}],
          "sort": ["k"], "limit": 3}""", views))
    assert(r2.get("data").size === 3)
  }

  test("edges/cube queries are EXEMPT from the service default limit: " +
      "a cube whose domain product exceeds the cap stays dense and " +
      "correct (r10 advice: injected limit corrupted large cubes)") {
    import org.apache.spark.sql.functions._
    val n = 30000L // 150 x 100 = 15000 cells > DefaultLimit = 10000
    val wide = spark.range(n).select(
      (col("id") % 150).as("a"), expr("(id div 150) % 100").as("b"))
    val views = Map("wide_cube" -> wide)
    val aParts = (0 until 150).mkString("[", ",", "]")
    val bParts = (0 until 100).mkString("[", ",", "]")
    val r = mapper.readTree(Service.query(spark, TestSpark.sfDir,
      s"""{"from": "wide_cube",
           "edges": [
             {"name": "a", "value": "a",
              "domain": {"type": "set", "partitions": $aParts}},
             {"name": "b", "value": "b",
              "domain": {"type": "set", "partitions": $bParts}}],
           "select": [{"name": "n", "aggregate": "count"}],
           "format": "cube"}""", views))
    val data = r.get("data").get("n")
    assert(data.size === 150)
    assert(data.get(0).size === 100)
    // every row of the input is accounted for — nothing was truncated
    val total = (0 until 150).flatMap(i => (0 until 100).map(j =>
      data.get(i).get(j).asLong)).sum
    assert(total === n)
  }

  test("limit + format:cube is rejected at the service surface with " +
      "the actual reason, not toCube's low-level density error") {
    val ex = intercept[IllegalArgumentException] {
      Service.query(spark, TestSpark.sfDir,
        """{"from": "orders",
            "edges": [{"name": "st", "value": "o_orderstatus",
                       "domain": {"type": "set",
                                  "partitions": ["F", "O", "P"]}}],
            "select": [{"name": "n", "aggregate": "count"}],
            "format": "cube", "limit": 2}""")
    }
    assert(ex.getMessage.contains("format:cube"),
      s"expected the user-facing cube/limit message, got: ${ex.getMessage}")
  }

  test("dense-cube domain-product guard: a 3-edge DefaultDomain query " +
      "over high-cardinality keys fails loudly instead of densifying " +
      "10^9 cells onto the driver (r11 verdict ask #1)") {
    import org.apache.spark.sql.functions._
    // each edge takes the implicit DefaultDomain(1000); all three keys
    // have >1000 distinct values, so the true product is 1000^3 — far
    // above the collect-protection cap
    val wide = spark.range(50000L).select(
      col("id").as("a"), col("id").as("b"), col("id").as("c"))
    val ex = intercept[IllegalArgumentException] {
      Service.query(spark, TestSpark.sfDir,
        """{"from": "wide_guard",
            "edges": [{"name": "a", "value": "a"},
                      {"name": "b", "value": "b"},
                      {"name": "c", "value": "c"}],
            "select": [{"name": "n", "aggregate": "count"}]}""",
        Map("wide_guard" -> wide))
    }
    assert(ex.getMessage.contains(
        s"cap of ${graft.jx.Domains.MaxCubeCells} cells"),
      s"guard must name the cell cap, got: ${ex.getMessage}")
  }

  test("registered LLM-output views are queryable through the service") {
    import org.apache.spark.sql.functions._
    // publish two pipeline stages as JX views: classifier scores and
    // the SemDeDup survivor set over hashed-BoW vectors
    val docs = catalog.table("documents")
    val scored = graft.llm.QualityModel.classify(docs, col("text"))
      .select(col("doc_id"), col("lang"), col("score"), col("keep"))
    val vecs = graft.llm.Featurize.hashedBow(docs, col("doc_id"),
      col("text"), dim = 32)
    val survivors = graft.llm.SemDedup.semanticDedup(vecs, col("doc_id"),
      col("v"), nlist = 8, threshold = 0.95).select("doc_id")
    val views = Map("quality" -> scored, "dedup_survivors" -> survivors)
    // aggregate JX over the classifier frame
    val r1 = mapper.readTree(Service.query(spark, TestSpark.sfDir,
      """{"from": "quality", "groupby": ["keep"],
          "select": [{"name": "n", "aggregate": "count"}],
          "sort": ["keep"]}""", views))
    val total = (0 until r1.get("data").size)
      .map(i => r1.get("data").get(i).get("n").asLong).sum
    assert(total === docs.count())
    // setop JX over the survivor frame, service limit applied
    val r2 = mapper.readTree(Service.query(spark, TestSpark.sfDir,
      """{"from": "dedup_survivors", "where": {"lt": ["doc_id", 5]},
          "sort": ["doc_id"]}""", views))
    assert(r2.get("data").size > 0)
    assert(r2.get("data").get(0).get("doc_id").asLong >= 0)
    // base tables still resolve alongside registered views
    val r3 = mapper.readTree(Service.query(spark, TestSpark.sfDir,
      """{"from": "region", "sort": ["r_regionkey"]}""", views))
    assert(r3.get("data").size === 5)
  }

  test("round-7 operator outputs publish as JX views: golden records " +
      "and the profiling census compose with JX aggregation") {
    import org.apache.spark.sql.functions._
    val entry = SparkEntry.queries
    val views = Map(
      "golden" -> entry("q163_golden_record")(spark, TestSpark.sfDir),
      "census" -> entry("q161_profile")(spark, TestSpark.sfDir))
    // JX aggregate over the survivorship frame: cluster-size histogram
    val r1 = mapper.readTree(Service.query(spark, TestSpark.sfDir,
      """{"from": "golden", "groupby": ["n_members"],
          "select": [{"name": "n", "aggregate": "count"}],
          "sort": ["n_members"]}""", views))
    assert(r1.get("data").size > 0)
    // JX filter over the census: columns with any nulls
    val r2 = mapper.readTree(Service.query(spark, TestSpark.sfDir,
      """{"from": "census", "where": {"gte": ["n_distinct", 1]},
          "select": ["col_name", "n_rows"],
          "sort": ["col_name"]}""", views))
    assert(r2.get("data").size === 5)
  }

  test("meta.columns and meta.tables see registered views with the " +
      "virtual flag") {
    import org.apache.spark.sql.functions._
    val docs = catalog.table("documents")
    val scored = graft.llm.QualityModel.classify(docs, col("text"))
      .select(col("doc_id"), col("score"))
    val views = Map("quality_scores" -> scored)
    val r = mapper.readTree(Service.query(spark, TestSpark.sfDir,
      """{"from": "meta.columns",
          "where": {"eq": ["table_name", {"literal": "quality_scores"}]},
          "sort": ["column_name"]}""", views))
    val rows = (0 until r.get("data").size).map(r.get("data").get(_))
    assert(rows.map(_.get("column_name").asText) ===
      Seq("doc_id", "score"))
    assert(rows.forall(_.get("virtual").asBoolean),
      "registered views must carry virtual=true")
    // the view also shows in meta.tables; base tables stay virtual=false
    val r2 = mapper.readTree(Service.query(spark, TestSpark.sfDir,
      """{"from": "meta.tables", "sort": ["table_name"]}""", views))
    val byName = (0 until r2.get("data").size)
      .map(r2.get("data").get(_))
      .map(n => n.get("table_name").asText -> n).toMap
    assert(byName("quality_scores").get("virtual").asBoolean)
    assert(byName("quality_scores").get("n_columns").asInt === 2)
    assert(!byName("events").get("virtual").asBoolean)
  }

  test("evaluation frames publish as views: JX edges over the " +
       "calibration table, JX top-k over chi2 features") {
    import org.apache.spark.sql.functions._
    val docs = catalog.table("documents")
    val scored = graft.llm.QualityModel.classify(docs, col("text"))
    val calib = graft.llm.Eval.calibrationBins(scored, col("score"),
      coalesce(col("lang") === "en", lit(false)))
    val vecs = graft.llm.Featurize.hashedBow(docs, col("doc_id"),
        col("text"), dim = 32)
      .join(docs.select(col("doc_id"),
        coalesce(col("lang") === "en", lit(false)).as("y")),
        Seq("doc_id"))
    val chi2 = graft.llm.Eval.chiSquaredSlots(vecs, col("v"), col("y"))
    val views = Map("calibration" -> calib, "chi2_features" -> chi2)
    // aggregate the calibration table through JX: total docs
    val r1 = mapper.readTree(Service.query(spark, TestSpark.sfDir,
      """{"from": "calibration",
          "select": [{"name": "total", "value": "n",
                      "aggregate": "sum"}]}""", views))
    assert(r1.get("data").get(0).get("total").asLong === docs.count())
    // top-informative slots by JX sort+limit over the chi2 frame
    val r2 = mapper.readTree(Service.query(spark, TestSpark.sfDir,
      """{"from": "chi2_features",
          "sort": [{"value": "chi2", "sort": -1}],
          "limit": 3}""", views))
    assert(r2.get("data").size === 3)
    val top = r2.get("data").get(0).get("chi2").asDouble
    val third = r2.get("data").get(2).get("chi2").asDouble
    assert(top >= third)
  }

  test("event-analytics frames publish as views: JX where over the " +
       "funnel, JX edges over cohort retention") {
    import org.apache.spark.sql.functions._
    val ev = catalog.table("events")
    val views = Map(
      "funnel" -> graft.operators.Funnel.summary(ev, col("user_id"),
        col("ts"), col("event_type"), Seq("view", "click", "purchase")),
      "retention" -> graft.operators.Retention.cohortRetention(ev,
        col("user_id"), col("ts"), maxWeeks = 3))
    // funnel through JX: conversion of the final step
    val r1 = mapper.readTree(Service.query(spark, TestSpark.sfDir,
      """{"from": "funnel",
          "where": {"eq": {"step": "purchase"}},
          "select": ["step_ix", "n_users", "conv"]}""", views))
    assert(r1.get("data").size === 1)
    assert(r1.get("data").get(0).get("conv").asDouble > 0.0)
    // retention through JX edges: per week offset, total active
    val r2 = mapper.readTree(Service.query(spark, TestSpark.sfDir,
      """{"from": "retention",
          "edges": [{"name": "wk", "value": "wk",
                     "domain": {"type": "set",
                                "partitions": [0, 1, 2, 3]}}],
          "select": [{"name": "active", "value": "n_active",
                      "aggregate": "sum"}]}""", views))
    assert(r2.get("data").size === 4)
    assert(r2.get("data").get(0).get("active").asLong > 0L)
  }

  test("scd2 dimension and pagerank frames publish as views: JX " +
       "groupby over current state, JX top-k over centrality") {
    import org.apache.spark.sql.functions._
    val ev = catalog.table("events")
    val li = catalog.table("lineitem")
    val views = Map(
      "user_state" -> graft.operators.Scd.buildType2(ev,
        col("user_id"), col("ts"), col("event_type")),
      "part_rank" -> graft.operators.Graph.pageRank(
        graft.operators.Graph.coOccurrenceEdges(li,
          col("l_orderkey"), col("l_partkey")), iterations = 2))
    // current state distribution through JX: open intervals only
    val r1 = mapper.readTree(Service.query(spark, TestSpark.sfDir,
      """{"from": "user_state",
          "where": {"missing": "valid_to"},
          "groupby": ["attr"],
          "select": [{"name": "n", "aggregate": "count"}]}""", views))
    assert(r1.get("data").size >= 1)
    val total = (0 until r1.get("data").size)
      .map(i => r1.get("data").get(i).get("n").asLong).sum
    // exactly one current row per entity
    val nUsers = ev.select(col("user_id")).distinct().count()
    assert(total === nUsers)
    // top-central parts through JX sort+limit
    val r2 = mapper.readTree(Service.query(spark, TestSpark.sfDir,
      """{"from": "part_rank",
          "sort": [{"value": "pr", "sort": -1}],
          "limit": 5}""", views))
    assert(r2.get("data").size === 5)
    assert(r2.get("data").get(0).get("pr").asDouble >=
      r2.get("data").get(4).get("pr").asDouble)
  }

  test("a registered view over a staged artifact keeps serving " +
      "across requests") {
    import org.apache.spark.sql.functions._
    val Staged = graft.operators.Staged
    try {
      Staged.clear()
      var builds = 0
      def viewFrame = Staged.getOrBuild(spark, "svc-staged/view") {
        builds += 1
        catalog.table("region")
          .select(col("r_regionkey"), col("r_name"))
      }
      val views = Map("staged_view" -> viewFrame)
      val json = """{"from": "staged_view", "select": ["r_name"],
                     "sort": ["r_regionkey"]}"""
      val answers = (1 to 5).map { i =>
        // other staged artifacts are built between requests
        Staged.getOrBuild(spark, s"svc-staged/other-$i") {
          spark.range(3).select(col("id"))
        }
        val r = mapper.readTree(
          Service.query(spark, TestSpark.sfDir, json, views))
        assert(r.get("data").size === 5)
        r.toString
      }
      assert(answers.distinct.size === 1,
        "every request must return the same rows")
      assert(viewFrame.count() === 5L)
      assert(builds === 1, "the view's artifact is built once")
    } finally Staged.clear()
  }
}
