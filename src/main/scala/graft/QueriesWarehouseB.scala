package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType, StructType}
import graft.etl.{Lineage, LogParse, MozLog}
import graft.jx.{Formats, QueryParser, Runner}
import graft.llm.{Contamination, Dedup, Multimodal, Pipelines, Similarity, TextAnalysis}
import graft.meta.MetaColumns
import graft.operators.{CountMin, Joins, Kmv, Sessionize, SetOps}
import graft.streaming.EventStream
import graft.tables.Catalog

/** Query + oracle definitions — warehouse analytics: TPC-H-ish BI, time series, stats, DQ, dimensional/CDC.
  * Concatenated into SparkEntry.queries / SparkEntry.oracleSql (the
  * driver contract); see SparkEntry's scaladoc for the output and
  * floating-point conventions every entry follows. */
private[graft] object QueriesWarehouseB {
  import QueryShared._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- funnel step-gap quantiles (where do users stall): per-user
    //     reach times from Funnel.reachTimes pivoted to legs, then
    //     p50/p90 per leg via ExactQuantile's distributed rank
    //     selection — integer microseconds, leg-partitioned
    //     everything; composes the funnel and quantile operators the
    //     way a product dashboard actually does. ---
    "q204_funnel_gaps" -> { (spark, dir) =>
      val ev = tbl(spark, dir, "events")
      val rt = graft.operators.Funnel.reachTimes(ev, col("user_id"),
        col("ts"), col("event_type"), Seq("view", "click", "purchase"))
      val us = unix_micros(col("t").cast("timestamp"))
      val byUser = rt.groupBy(col("user"))
        .agg(max(when(col("step_ix") === 1, us)).as("__t1"),
          max(when(col("step_ix") === 2, us)).as("__t2"),
          max(when(col("step_ix") === 3, us)).as("__t3"))
      val gaps = byUser.select(explode(array(
          struct(lit("view->click").as("leg"),
            (col("__t2") - col("__t1")).as("gap")),
          struct(lit("click->purchase").as("leg"),
            (col("__t3") - col("__t2")).as("gap")))).as("g"))
        .select(col("g.leg").as("leg"), col("g.gap").as("gap"))
        .filter(col("gap").isNotNull)
      val p50 = graft.operators.ExactQuantile.quantileDisc(gaps,
          col("leg"), col("gap"), 0.5)
        .select(col("grp").as("leg"), col("n").as("n_users"),
          col("q").cast("long").as("p50_us"))
      val p90 = graft.operators.ExactQuantile.quantileDisc(gaps,
          col("leg"), col("gap"), 0.9)
        .select(col("grp").as("leg"), col("q").cast("long").as("p90_us"))
      p50.join(p90, Seq("leg")).orderBy(col("leg"))
    },


    // --- word-packed bitmap index for audience overlap: which buyer
    //     populations do order priorities share? Membership packs 64
    //     customers per word (operators/Bitmap), so the pairwise
    //     intersection joins |sets|²·(members/64) word rows instead
    //     of member-grain pairs, and every count is exact-integer
    //     popcount — the segment-overlap matrix at 1/64th the
    //     bandwidth of a distinct-pair self-join. ---
    "q207_bitmap_overlap" -> { (spark, dir) =>
      val o = tbl(spark, dir, "orders")
      val words = graft.operators.Bitmap.bitmapWords(o,
        col("o_orderpriority"), col("o_custkey"))
      graft.operators.Bitmap.overlap(words)
        .orderBy(col("sa"), col("sb"))
    },


    // --- RFM segmentation: per-customer recency (days since last
    //     order vs the corpus max date), frequency (order count),
    //     monetary (exact cents) -> quintile scores via ntile(5)
    //     WITHIN the customer's market segment (entity-partitioned
    //     windows with a custkey tiebreak — deterministic and never
    //     global), rolled up to cell counts. ntile is SQL-standard
    //     identical across engines given the same total order. ---
    "q208_rfm" -> { (spark, dir) =>
      val o = tbl(spark, dir, "orders")
      val c = tbl(spark, dir, "customer")
      val ref = o.agg(max(to_date(col("o_orderdate"))).as("__ref"))
      val per = o.groupBy(col("o_custkey"))
        .agg(max(to_date(col("o_orderdate"))).as("__last"),
          count(lit(1)).as("__f"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("__m"))
        .join(c.select(col("c_custkey").as("o_custkey"),
          col("c_mktsegment").as("segment")), Seq("o_custkey"))
        .crossJoin(broadcast(ref))
        .withColumn("__r", datediff(col("__ref"), col("__last")))
      val w = (m: Column) => org.apache.spark.sql.expressions.Window
        .partitionBy(col("segment")).orderBy(m, col("o_custkey"))
      per
        .withColumn("r_q", ntile(5).over(w(col("__r"))))
        .withColumn("f_q", ntile(5).over(w(col("__f"))))
        .withColumn("m_q", ntile(5).over(w(col("__m"))))
        .groupBy(col("segment"), col("r_q"), col("f_q"), col("m_q"))
        .agg(count(lit(1)).as("n_customers"),
          sum(col("__m")).as("sum_m_cents"))
        .orderBy(col("segment"), col("r_q"), col("f_q"), col("m_q"))
    },


    // --- Benford first-digit audit (fraud/data-entry screening):
    //     leading-digit distribution of the two money columns, as
    //     exact integer counts plus the per-source total (the
    //     log10-expected curve is analysis-side — keeping the output
    //     integer keeps the hash-compare exact). The share window
    //     runs over the 18-row digit census, not the corpus. ---
    "q209_benford" -> { (spark, dir) =>
      def digits(df: DataFrame, c: String, src: String) =
        df.select(substring(floor(col(c)).cast("long").cast("string"),
            1, 1).cast("int").as("digit"))
          .groupBy(col("digit")).agg(count(lit(1)).as("n"))
          .withColumn("source", lit(src))
      val g = digits(tbl(spark, dir, "orders"), "o_totalprice",
          "orders.o_totalprice")
        .unionByName(digits(tbl(spark, dir, "lineitem"),
          "l_extendedprice", "lineitem.l_extendedprice"))
      g.withColumn("n_total", sum(col("n")).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("source"))))
        .select(col("source"), col("digit"), col("n"), col("n_total"))
        .orderBy(col("source"), col("digit"))
    },


    // --- CUSUM change detection on daily revenue per region: the
    //     max(0, s+d) recursion via its closed form (prefix sum minus
    //     running min — two windows sharing ONE region-partitioned
    //     sort, operators/ChangeDetect). Deviations stay integer
    //     (n·cents − total), so the n×-scaled statistic hash-compares
    //     exactly; every threshold crossing/reset is preserved. ---
    "q210_cusum" -> { (spark, dir) =>
      val o = tbl(spark, dir, "orders")
      val c = tbl(spark, dir, "customer")
      val n = tbl(spark, dir, "nation")
      val r = tbl(spark, dir, "region")
      val daily = o
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name").as("region"),
          to_date(col("o_orderdate")).as("day"))
        .agg(sum(round(col("o_totalprice") * 100).cast("long"))
          .as("cents"))
      graft.operators.ChangeDetect.cusum(daily, col("region"),
          col("day"), col("cents"))
        .select(col("k").as("region"), col("o").as("day"), col("cusum"))
        .orderBy(col("region"), col("day"))
    },


    // --- Holt double-exponential smoothing (level + trend) per user,
    //     α = β = 1/2: the EWMA fold's trend-aware sibling. Both
    //     state updates are sums halved (×0.5 is exponent
    //     arithmetic), evaluated in a pinned order, so the final
    //     (level, trend, one-step forecast) hash-compares UNROUNDED
    //     against the oracle's list_reduce over the same
    //     (ts, event_id)-sorted sequence. ---
    "q214_holt" -> { (spark, dir) =>
      val ev = tbl(spark, dir, "events")
      ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          array_sort(collect_list(struct(col("ts"), col("event_id"),
            col("value")))).as("__seq"))
        .withColumn("__vals", expr("transform(__seq, x -> x.value)"))
        .withColumn("__st", expr("""
          aggregate(slice(__vals, 2, size(__vals)),
            array(element_at(__vals, 1), cast(0.0 as double)),
            (s, x) -> array(
              ((x + element_at(s, 1)) + element_at(s, 2)) / 2.0,
              ((((x + element_at(s, 1)) + element_at(s, 2)) / 2.0
                 - element_at(s, 1)) + element_at(s, 2)) / 2.0))"""))
        .select(col("user_id"), col("n_events"),
          element_at(col("__st"), 1).as("level"),
          element_at(col("__st"), 2).as("trend"),
          (element_at(col("__st"), 1) + element_at(col("__st"), 2))
            .as("forecast"))
        .orderBy(col("user_id"))
    },


    // --- hierarchy rollup over materialized-path keys (BOM / org /
    //     category-tree subtree totals): ancestors of a div-10 path
    //     key enumerate ROW-LOCALLY (explode of <= depth values), so
    //     the whole rollup is scan -> explode -> one ancestor-keyed
    //     agg — no per-level edge joins, no recursion
    //     (operators/Hierarchy). The oracle walks the same chain
    //     arithmetically; totals land on existing parts only. ---
    "q216_bom_rollup" -> { (spark, dir) =>
      val p = tbl(spark, dir, "part")
      graft.operators.Hierarchy.subtreeRollup(p, col("p_partkey"),
          round(col("p_retailprice") * 100).cast("long"),
          base = 10, depth = 5)
        .orderBy(col("node"))
    },


    // --- join-key skew audit (the detection side of q60/q61's
    //     salting): the 20 heaviest l_partkey keys with the table
    //     totals alongside — the census a planner/operator consults
    //     before choosing salting or AQE skew-split. Distributed
    //     top-k (TakeOrdered), never a global sort. ---
    "q217_skew_audit" -> { (spark, dir) =>
      val li = tbl(spark, dir, "lineitem")
      val counts = li.groupBy(col("l_partkey").as("key"))
        .agg(count(lit(1)).as("n"))
      val tot = li.agg(count(lit(1)).as("n_rows"),
        countDistinct(col("l_partkey")).as("n_keys"))
      counts.orderBy(col("n").desc, col("key")).limit(20)
        .crossJoin(broadcast(tot))
        .orderBy(col("n").desc, col("key"))
    },


    // --- deterministic Poisson bootstrap (Chamandy-style, the
    //     resampling that works distributed): 20 replicates of the
    //     mean order value per priority, weights = Poisson(1) via
    //     md5 uniforms against FIXED integer CDF thresholds — no
    //     RNG, engine-replayable; exact integer Σw / Σw·x per
    //     replicate, one final division (operators/Resample). The
    //     replicate spread IS the sampling uncertainty. ---
    "q218_bootstrap_ci" -> { (spark, dir) =>
      val o = tbl(spark, dir, "orders")
      graft.operators.Resample.bootstrapMeans(o,
          col("o_orderpriority"), col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long"),
          replicates = 20, seed = "ci")
        .orderBy(col("g"), col("r"))
    },


    // --- cohort LTV curves (the money complement of q135's
    //     retention): users cohorted by first-event week, purchase
    //     cents accumulated by cohort age in weeks (cohort-
    //     partitioned cumulative window over the pre-aggregated
    //     (cohort, age) frame), LTV-per-user as one exact-integer
    //     division. ---
    "q220_cohort_ltv" -> { (spark, dir) =>
      val ev = tbl(spark, dir, "events")
      val first = ev.groupBy(col("user_id"))
        .agg(to_date(date_trunc("week", min(col("ts").cast("timestamp"))))
          .as("cohort"))
      val sizes = first.groupBy(col("cohort"))
        .agg(countDistinct(col("user_id")).as("n_users"))
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"),
          to_date(col("ts").cast("timestamp")).as("day"),
          round(col("value") * 100).cast("long").as("cents"))
        .join(first, Seq("user_id"))
        .groupBy(col("cohort"),
          expr("cast(datediff(day, cohort) as bigint) div 7")
            .as("age_week"))
        .agg(sum(col("cents")).as("cents"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("cohort")).orderBy(col("age_week"))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, org.apache.spark.sql.expressions.Window
          .currentRow)
      purch.withColumn("cum_cents", sum(col("cents")).over(w))
        .join(sizes, Seq("cohort"))
        .select(col("cohort"), col("age_week"), col("n_users"),
          col("cum_cents"),
          (col("cum_cents").cast("double")
            / col("n_users").cast("double")).as("ltv_cents"))
        .orderBy(col("cohort"), col("age_week"))
    },


    // --- daily latency/value bands (the p50/p95 ops dashboard):
    //     event values as exact cents, both quantiles per day via
    //     ExactQuantile's distributed histogram-refine selection —
    //     real data points, bit-exact, no global sort. ---
    "q223_daily_bands" -> { (spark, dir) =>
      val ev = tbl(spark, dir, "events")
      val daily = ev.select(
        to_date(col("ts").cast("timestamp")).as("day"),
        round(col("value") * 100).cast("long").as("cents"))
      val p50 = graft.operators.ExactQuantile.quantileDisc(daily,
          col("day"), col("cents"), 0.5)
        .select(col("grp").as("day"), col("n").as("n_events"),
          col("q").cast("long").as("p50_cents"))
      val p95 = graft.operators.ExactQuantile.quantileDisc(daily,
          col("day"), col("cents"), 0.95)
        .select(col("grp").as("day"),
          col("q").cast("long").as("p95_cents"))
      p50.join(p95, Seq("day")).orderBy(col("day"))
    },


    // --- TPC-H Q3 shape (shipping-priority top orders): 3-way join
    //     + grouped revenue + top-10. Revenue in EXACT integer
    //     10⁻⁴-dollar units (cents × (100 − discount%)) so the
    //     ranking and the hash gate are immune to FP summation order
    //     — the q170 fixed-point discipline applied to the classic
    //     join-agg benchmark shape. Dims broadcast, fact never
    //     re-shuffles. ---
    "q224_tpch_q3" -> { (spark, dir) =>
      val c = tbl(spark, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
      val o = tbl(spark, dir, "orders")
        .filter(col("o_orderdate") < lit("1997-01-01").cast("date"))
      val li = tbl(spark, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1996-06-30").cast("date"))
      li.join(broadcast(o.join(broadcast(c),
            col("o_custkey") === col("c_custkey"))),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), to_date(col("o_orderdate"))
          .as("o_orderdate"), col("o_orderpriority"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long")
            * (lit(100L) - round(col("l_discount") * 100).cast("long")))
          .as("revenue_c4"))
        .orderBy(col("revenue_c4").desc, col("l_orderkey"))
        .limit(10)
    },


    // --- TPC-H Q5 shape (local-supplier volume): the 6-table
    //     snowflake join with the customer-nation = supplier-nation
    //     equality, revenue per nation in the same exact fixed
    //     point. All dims broadcast; the one big shuffle is the
    //     final nation rollup. ---
    "q225_tpch_q5" -> { (spark, dir) =>
      val li = tbl(spark, dir, "lineitem")
      val o = tbl(spark, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("date") &&
          col("o_orderdate") < lit("1997-01-01").cast("date"))
      val c = tbl(spark, dir, "customer")
      val s = tbl(spark, dir, "supplier")
      val n = tbl(spark, dir, "nation")
      val r = tbl(spark, dir, "region").filter(col("r_name") === "ASIA")
      li.join(broadcast(o), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(s), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long")
            * (lit(100L) - round(col("l_discount") * 100).cast("long")))
          .as("revenue_c4"))
        .orderBy(col("revenue_c4").desc, col("n_name"))
    },


    // --- FK / inclusion-dependency DISCOVERY via KMV containment
    //     probes (data-catalog profiling): each candidate child
    //     column's 256-hash sketch is probed exactly against the
    //     parent column — true FKs report containment 1.0 (the
    //     parent side is never sketched); the deliberate reverse
    //     pair (orderkey probed against partkey) reports only the
    //     accidental value overlap of the two dense id ranges —
    //     the asymmetry that tells parent from child. The whole matrix costs
    //     |pairs| tiny probes, never a table join
    //     (operators/Kmv.containmentProbe). ---
    "q226_fk_discovery" -> { (spark, dir) =>
      val li = tbl(spark, dir, "lineitem")
      val o = tbl(spark, dir, "orders")
      val p = tbl(spark, dir, "part")
      val s = tbl(spark, dir, "supplier")
      val c = tbl(spark, dir, "customer")
      def pair(cn: String, chi: DataFrame, ck: Column,
               pn: String, par: DataFrame, pk: Column) =
        graft.operators.Kmv.containmentProbe(chi, ck, par, pk, 256)
          .select(lit(cn).as("child_col"), lit(pn).as("parent_col"),
            col("k_child"), col("probe_hits"),
            col("child_distinct_est"), col("containment"))
      pair("lineitem.l_orderkey", li, col("l_orderkey"),
          "orders.o_orderkey", o, col("o_orderkey"))
        .unionByName(pair("lineitem.l_partkey", li, col("l_partkey"),
          "part.p_partkey", p, col("p_partkey")))
        .unionByName(pair("lineitem.l_suppkey", li, col("l_suppkey"),
          "supplier.s_suppkey", s, col("s_suppkey")))
        .unionByName(pair("orders.o_custkey", o, col("o_custkey"),
          "customer.c_custkey", c, col("c_custkey")))
        .unionByName(pair("orders.o_orderkey", o, col("o_orderkey"),
          "part.p_partkey", p, col("p_partkey")))
        .orderBy(col("child_col"), col("parent_col"))
    },


    // --- quantile normalization (the rank-based feature transform):
    //     value -> percent_rank within its event type, competition
    //     rank over the raw value (ties share a rank, so the
    //     transform is a pure function of the VALUE — deterministic
    //     without an id tiebreak), summarized per decile with the
    //     decile cut as an exact INTEGER comparison
    //     ((rank-1)·10 div (n-1)) so no boundary can waver. ---
    "q227_quantile_norm" -> { (spark, dir) =>
      val ev = tbl(spark, dir, "events")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("cents"))
      ev.select(col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
        .withColumn("__rk", rank().over(w))
        .withColumn("__n", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("event_type"))))
        .withColumn("decile", least(
          expr("((__rk - 1) * 10) div (__n - 1)"), lit(9L)))
        .groupBy(col("event_type"), col("decile"))
        .agg(count(lit(1)).as("n"),
          min(col("cents")).as("min_cents"),
          max(col("cents")).as("max_cents"))
        .orderBy(col("event_type"), col("decile"))
    },


    // --- data-freshness audit (ingestion ops): per event type, the
    //     latest event time, its lag behind the corpus watermark in
    //     exact minutes, and a staleness flag — the "is this feed
    //     still flowing" census every pipeline dashboard runs. One
    //     scan + a broadcast 1-row max frame. ---
    "q228_freshness" -> { (spark, dir) =>
      val ev = tbl(spark, dir, "events")
      val per = ev.groupBy(col("event_type"))
        .agg(max(unix_micros(col("ts").cast("timestamp")))
          .as("__last_us"), count(lit(1)).as("n_events"))
      val glob = per.agg(max(col("__last_us")).as("__wm_us"))
      per.crossJoin(broadcast(glob))
        .select(col("event_type"), col("n_events"),
          date_format(expr("timestamp_micros(__last_us)"),
            "yyyy-MM-dd HH:mm:ss").as("last_event"),
          expr("(__wm_us - __last_us) div 60000000")
            .as("lag_minutes"),
          (col("__wm_us") - col("__last_us") >
            lit(7L * 24 * 3600 * 1000000L)).as("stale_7d"))
        .orderBy(col("event_type"))
    },


    // --- EXACT two-sample Kolmogorov-Smirnov drift per event type:
    //     early vs late half of the time range (integer-µs midpoint
    //     split), D = max |F_a − F_b| computed as an INTEGER ratio
    //     (max |cum_a·n_b − cum_b·n_a| over n_a·n_b) — the
    //     distribution-drift monitor with no libm and no tolerance.
    //     Cumulative counts run over the per-type DISTINCT value
    //     frame (type-partitioned windows, bounded by cardinality),
    //     never the event grain. ---
    "q229_ks_drift" -> { (spark, dir) =>
      val ev = tbl(spark, dir, "events")
      val us = unix_micros(col("ts").cast("timestamp"))
      val b = ev.agg(min(us).as("lo"), max(us).as("hi")).collect()(0)
      val mid = b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 2
      val tagged = ev.select(col("event_type"),
        round(col("value") * 100).cast("long").as("cents"),
        when(us <= mid, lit(1L)).otherwise(lit(0L)).as("__a"))
      val byVal = tagged.groupBy(col("event_type"), col("cents"))
        .agg(sum(col("__a")).as("__ca"),
          sum(lit(1L) - col("__a")).as("__cb"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("cents"))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, org.apache.spark.sql.expressions.Window
          .currentRow)
      val wt = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type"))
      byVal
        .withColumn("__cuma", sum(col("__ca")).over(w))
        .withColumn("__cumb", sum(col("__cb")).over(w))
        .withColumn("__na", sum(col("__ca")).over(wt))
        .withColumn("__nb", sum(col("__cb")).over(wt))
        .groupBy(col("event_type"))
        .agg(max(col("__na")).as("n_a"), max(col("__nb")).as("n_b"),
          max(abs(col("__cuma") * col("__nb")
            - col("__cumb") * col("__na"))).as("d_num"))
        .withColumn("d_den", col("n_a") * col("n_b"))
        .withColumn("d", col("d_num").cast("double")
          / col("d_den").cast("double"))
        .orderBy(col("event_type"))
    },


    // --- Markov next-event prediction hit rate (in-sample
    //     resubstitution readout of q158's transition model): the
    //     predicted successor of each event kind is its argmax
    //     transition (ties -> lexicographically smallest), and every
    //     observed transition scores a hit iff it matches — exact
    //     integer hit ratios per antecedent kind. ---
    "q230_markov_hitrate" -> { (spark, dir) =>
      val ev = tbl(spark, dir, "events")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val pairs = ev
        .select(col("user_id"), col("event_type"), col("ts"),
          col("event_id"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .select(col("event_type").as("prev_type"), col("next_type"))
      val counts = pairs.groupBy(col("prev_type"), col("next_type"))
        .agg(count(lit(1)).as("__c"))
      val pred = counts.groupBy(col("prev_type"))
        .agg(min(struct((-col("__c")).as("__nc"),
          col("next_type").as("__nt"))).as("__m"))
        .select(col("prev_type"), col("__m.__nt").as("predicted"))
      pairs.join(broadcast(pred), Seq("prev_type"))
        .groupBy(col("prev_type"), col("predicted"))
        .agg(count(lit(1)).as("n_transitions"),
          sum(when(col("next_type") === col("predicted"), 1L)
            .otherwise(0L)).as("n_hits"))
        .withColumn("hit_rate", col("n_hits").cast("double")
          / col("n_transitions").cast("double"))
        .orderBy(col("prev_type"))
    },


    // --- EXACT WEIGHTED quantiles (quantity-weighted price points):
    //     for q = num/den, the smallest price whose cumulative quantity
    //     weight reaches q of the total — every comparison an integer
    //     product (cw·den ≥ num·tw), so the selection is hash-exact.
    //     The event grain collapses to the per-group distinct-value
    //     grid before any window runs (ExactQuantile scale note). ---
    "q231_weighted_quantiles" -> { (spark, dir) =>
      val li = tbl(spark, dir, "lineitem")
      graft.operators.ExactQuantile.weightedQuantileDisc(
          li, col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long"),
          col("l_quantity").cast("long"),
          Seq(("p25_cents", 1, 4), ("p50_cents", 1, 2),
            ("p75_cents", 3, 4), ("p90_cents", 9, 10)))
        .withColumnRenamed("grp", "l_returnflag")
        .orderBy(col("l_returnflag"))
    },


    // --- Seasonal decomposition by moving averages (the classical
    //     trend/seasonal split, all-integer until one final division):
    //     trend at day d = centered 7-day sum of daily cents (RANGE
    //     window over the epoch-day axis, so calendar gaps disqualify
    //     a window instead of silently shifting it — only days with a
    //     FULL ±3 neighborhood contribute); detrended·7 = 7·cents −
    //     trend_num stays integer; the weekday seasonal is
    //     Σ detrended·7 / (7·n_days) — one division of exact integer
    //     sums, order-independent, unrounded hash match. ---
    "q232_seasonal_decomp" -> { (spark, dir) =>
      val ev = tbl(spark, dir, "events")
      val daily = ev
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
        .withColumn("__eday", datediff(col("day"), lit("1970-01-01")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("__eday"))
        .rangeBetween(-3, 3)
      daily
        .withColumn("__wn", count(lit(1)).over(w))
        .withColumn("__ws", sum(col("cents")).over(w))
        .filter(col("__wn") === 7)
        .withColumn("dow", dayofweek(col("day")) - 1)
        .withColumn("__d7", col("cents") * 7 - col("__ws"))
        .groupBy(col("event_type"), col("dow"))
        .agg(count(lit(1)).as("n_days"),
          sum(col("__d7")).as("seasonal_num"))
        .withColumn("seasonal_cents", col("seasonal_num").cast("double")
          / (col("n_days") * 7).cast("double"))
        .orderBy(col("event_type"), col("dow"))
    },


    // --- INCREMENTAL retrieval-index statistics (q125's merge-into-
    //     model discipline on the search side): the history corpus's
    //     (term, df, cf) table is PERSISTED to parquet; the new batch
    //     contributes only its own stats, merged by additive sums —
    //     history text is never re-tokenized. The oracle REBUILDS the
    //     stats from the full corpus: a hash match on the top-100 df
    //     terms proves incremental ≡ batch on real data. Exact
    //     integer counts end to end. ---
    "q234_incr_term_stats" -> { (spark, dir) =>
      val docs = tbl(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
      val hist = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
      val batch = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      val tmp = Scratch.dir("graft_q234").toString
      graft.sources.Sinks.writeBlocks(
        graft.llm.Relevance.termStats(hist, col("doc_id"), col("text")),
        tmp + "/stats", Nil)
      val base = graft.sources.Sinks.read(spark, tmp + "/stats")
      graft.llm.Relevance.mergeTermStats(base,
          graft.llm.Relevance.termStats(batch, col("doc_id"),
            col("text")))
        .orderBy(col("df").desc, col("term").asc)
        .limit(100)
    },


    // --- TIME-DECAY multi-touch attribution (q201's linear credit
    //     replaced by a dyadic half-life): a view m whole minutes
    //     before the purchase weighs 2^−m — exact IEEE, the weight is
    //     a power of two — and each conversion's credits normalize by
    //     the value-sorted fold of its weights, so every FP operation
    //     happens in an identical pinned order in both engines and
    //     the daily credit column hash-matches UNROUNDED. ---
    "q236_decay_attribution" -> { (spark, dir) =>
      val ev = tbl(spark, dir, "events")
      val us = unix_micros(col("ts").cast("timestamp"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_id"),
          us.as("p_us"))
      val v = ev.filter(col("event_type") === "view")
        .select(col("user_id"), to_date(col("ts")).as("day"),
          us.as("v_us"))
      val cand = p.join(v, Seq("user_id"))
        .filter(col("v_us") <= col("p_us") &&
          col("v_us") >= col("p_us") - 3600000000L)
        .withColumn("__m", expr("(p_us - v_us) div 60000000"))
        .withColumn("__w", lit(1.0)
          / expr("CAST(shiftleft(CAST(1 AS BIGINT), __m) AS DOUBLE)"))
      val tot = cand.groupBy(col("p_id"))
        .agg(expr("aggregate(array_sort(collect_list(__w)), " +
          "CAST(0.0 AS DOUBLE), (s, x) -> s + x)").as("__tw"))
      cand.join(tot, Seq("p_id"))
        .withColumn("__credit", col("__w") / col("__tw"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_touches"),
          array_sort(collect_list(col("__credit"))).as("__cs"))
        .select(col("day"), col("n_touches"),
          expr("aggregate(__cs, CAST(0.0 AS DOUBLE), (s, x) -> s + x)")
            .as("credit"))
        .orderBy(col("day"))
    },


    // --- INCREMENTAL distinct-actives maintenance on persisted KMV
    //     sketches (q234's merge-into-index discipline on the sketch
    //     side): the nightly job persists one 128-hash sketch per day;
    //     the monthly estimate merges the SKETCH TABLE (k smallest of
    //     the union — identical to sketching the whole stream), never
    //     re-reading event history. KMV is a deterministic data
    //     function (md5 order), so the estimate itself sits under the
    //     hash gate, with the exact count alongside. ---
    "q238_incr_kmv_actives" -> { (spark, dir) =>
      val k = 128
      val ev = tbl(spark, dir, "events")
        .select(to_date(col("ts")).as("day"), col("user_id"))
      val tmp = Scratch.dir("graft_q238").toString
      val wd = org.apache.spark.sql.expressions.Window
        .partitionBy(col("day")).orderBy(col("h"))
      graft.sources.Sinks.writeBlocks(ev.select(col("day"),
          graft.operators.Kmv.h48(col("user_id")).as("h"))
        .distinct()
        .withColumn("__rn", row_number().over(wd))
        .filter(col("__rn") <= k)
        .select(col("day"), col("h")), tmp + "/sketches", Nil)
      val persisted = graft.sources.Sinks.read(spark, tmp + "/sketches")
      val merged = graft.operators.Kmv.merge(
        Seq(persisted.select(col("h"))), k)
      val exact = ev.agg(countDistinct(col("user_id")).cast("double")
        .as("n_exact"))
      graft.operators.Kmv.estimate(merged, k).crossJoin(exact)
        .select(round(col("distinct_est"), 6).as("distinct_est"),
          col("n_exact"),
          (abs(col("distinct_est") - col("n_exact")) <=
            col("n_exact") * 0.2).as("within_20pct"))
    },


    // --- WINSORIZED means per event type: clip cents at the exact
    //     discrete p05/p95 (the q231 integer-threshold rule with unit
    //     weights), then one integer sum / one division — the robust
    //     mean that, unlike the trimmed mean (q194), keeps n constant.
    //     ---
    "q239_winsorize" -> { (spark, dir) =>
      val ev = tbl(spark, dir, "events")
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
      val cuts = graft.operators.ExactQuantile.weightedQuantileDisc(
          ev, col("event_type"), col("cents"), lit(1L),
          Seq(("p05", 1, 20), ("p95", 19, 20)))
        .select(col("grp").as("event_type"), col("p05"), col("p95"))
      ev.join(broadcast(cuts), Seq("event_type"))
        .withColumn("__wv",
          least(greatest(col("cents"), col("p05")), col("p95")))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), max(col("p05")).as("p05_cents"),
          max(col("p95")).as("p95_cents"),
          sum(col("__wv")).as("wsum_cents"))
        .withColumn("winsorized_mean_cents",
          col("wsum_cents").cast("double") / col("n").cast("double"))
        .orderBy(col("event_type"))
    },


    // --- REGRESSION evaluation (q115's readout for continuous
    //     targets): the model predicts each type's ROUNDED-cent train
    //     mean (round-half-up integer division, so the prediction is
    //     an integer and every residual stays integer); MAE / MSE /
    //     R² on the held-out half are ratios of exact integer sums —
    //     unrounded hash match, no overflow (|res| ≤ 5·10⁴ cents,
    //     squared ≤ 2.5·10⁹, summed ≪ 2⁶³). ---
    "q241_regression_metrics" -> { (spark, dir) =>
      val ev = tbl(spark, dir, "events")
        .select(col("event_type"), col("event_id"),
          round(col("value") * 100).cast("long").as("cents"))
      val train = ev.filter(pmod(col("event_id"), lit(2)) === 0)
      val test = ev.filter(pmod(col("event_id"), lit(2)) === 1)
      val model = train.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_train"), sum(col("cents")).as("__s"))
        .withColumn("pred_cents",
          expr("(2 * __s + n_train) div (2 * n_train)"))
        .select(col("event_type"), col("n_train"), col("pred_cents"))
      val tm = test.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_test"), sum(col("cents")).as("__ts"))
        .withColumn("__tmean",
          expr("(2 * __ts + n_test) div (2 * n_test)"))
        .select(col("event_type"), col("n_test"), col("__tmean"))
      test.join(broadcast(model), Seq("event_type"))
        .join(broadcast(tm), Seq("event_type"))
        .groupBy(col("event_type"))
        .agg(max(col("n_train")).as("n_train"),
          max(col("n_test")).as("n_test"),
          max(col("pred_cents")).as("pred_cents"),
          sum(abs(col("cents") - col("pred_cents"))).as("mae_num"),
          sum((col("cents") - col("pred_cents"))
            * (col("cents") - col("pred_cents"))).as("sse"),
          sum((col("cents") - col("__tmean"))
            * (col("cents") - col("__tmean"))).as("sst"))
        .withColumn("mae_cents", col("mae_num").cast("double")
          / col("n_test").cast("double"))
        .withColumn("r2", lit(1.0) - col("sse").cast("double")
          / col("sst").cast("double"))
        .orderBy(col("event_type"))
    },


    // --- LONGEST CONSECUTIVE-DAY STREAK per user (gaps-and-islands):
    //     distinct purchase days per user, island id = epoch_day −
    //     row_number (constant within a run of consecutive days),
    //     longest island per user with the EARLIEST start as the tie
    //     break — exact integers and dates end to end. The engagement
    //     readout behind "N-day streak" product features. ---
    "q243_longest_streak" -> { (spark, dir) =>
      val ev = tbl(spark, dir, "events")
      val days = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("day"))
      val islands = days
        .withColumn("__isl",
          datediff(col("day"), lit("1970-01-01"))
            - row_number().over(w))
        .groupBy(col("user_id"), col("__isl"))
        .agg(count(lit(1)).as("streak_days"),
          min(col("day")).as("streak_start"))
      islands.groupBy(col("user_id"))
        .agg(max(struct(col("streak_days").as("__l"),
          (-datediff(col("streak_start"), lit("1970-01-01")))
            .as("__negstart"),
          col("streak_start").as("__s"))).as("__m"))
        .select(col("user_id"), col("__m.__l").as("streak_days"),
          col("__m.__s").as("streak_start"))
        .filter(col("streak_days") >= 3)
        .orderBy(col("user_id"))
    },


    // --- EVENT-TIME DISORDER CENSUS — the measurement that SIZES a
    //     watermark (q233 shows what a delay drops; this shows what
    //     the data needs): in arrival order (event_id), each event's
    //     lateness = running-max(event time) − event time; per type,
    //     the share of out-of-order events and exact integer-minute
    //     lateness quantiles via the q231 threshold rule. ---
    "q244_disorder_census" -> { (spark, dir) =>
      val ev = tbl(spark, dir, "events")
        .select(col("event_type"), col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("us"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("event_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, -1)
      val late = ev
        .withColumn("__late_us", greatest(
          coalesce(max(col("us")).over(w) - col("us"), lit(0L)),
          lit(0L)))
        .withColumn("late_min", expr("__late_us div 60000000"))
      val qs = graft.operators.ExactQuantile.weightedQuantileDisc(
          late, col("event_type"), col("late_min"), lit(1L),
          Seq(("p50_late_min", 1, 2), ("p90_late_min", 9, 10),
            ("p99_late_min", 99, 100)))
        .select(col("grp").as("event_type"), col("p50_late_min"),
          col("p90_late_min"), col("p99_late_min"))
      late.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("late_min") > 0, 1L).otherwise(0L))
            .as("n_disordered"),
          max(col("late_min")).as("max_late_min"))
        .join(qs, Seq("event_type"))
        .orderBy(col("event_type"))
    },


    // --- SWEEP-LINE MAX CONCURRENCY: each event opens a session of
    //     (cents % 3600 + 60) seconds; per type, the peak number of
    //     simultaneously-open sessions and the earliest time it is
    //     reached. ±1 endpoint explode (one scan), running sum over
    //     a type-partitioned window — the resource-sizing census
    //     behind pool/limit/autoscale decisions. ---
    "q246_max_concurrency" -> { (spark, dir) =>
      val ev = tbl(spark, dir, "events")
        .withColumn("us", unix_micros(col("ts").cast("timestamp")))
        .withColumn("dur_s",
          expr("CAST(round(value * 100) AS BIGINT) % 3600 + 60"))
      graft.operators.Sweep.maxConcurrent(ev, col("event_type"),
          col("us"), col("us") + col("dur_s") * lit(1000000L))
        .select(col("grp").as("event_type"), col("max_concurrent"),
          col("at_us"))
        .orderBy(col("event_type"))
    },


    // --- COLUMN-LEVEL RECONCILIATION: documents vs a deterministic
    //     "v2" snapshot (doc_id%13 deleted, %7 source rewritten, %11
    //     n_chars bumped, %17 re-inserted under a shifted id); one
    //     full-outer join on the key, melted per-column change
    //     census with IS DISTINCT FROM null semantics. ---
    "q248_reconcile_columns" -> { (spark, dir) =>
      val docs = tbl(spark, dir, "documents")
        .select(col("doc_id"), col("source"), col("lang"),
          col("n_chars"))
      val v2 = docs.filter(pmod(col("doc_id"), lit(13)) =!= 0)
        .withColumn("source",
          when(pmod(col("doc_id"), lit(7)) === 0, lit("migrated"))
            .otherwise(col("source")))
        .withColumn("n_chars",
          when(pmod(col("doc_id"), lit(11)) === 0, col("n_chars") + 1)
            .otherwise(col("n_chars")))
        .unionByName(docs.filter(pmod(col("doc_id"), lit(17)) === 0)
          .select((col("doc_id") + lit(1000000L)).as("doc_id"),
            col("source"), col("lang"), col("n_chars")))
      graft.operators.Reconcile.columnDiffCensus(docs, v2, "doc_id",
        Seq("source", "lang", "n_chars"))
    },


    // --- LAG-k AUTOCORRELATION of the per-type daily count series
    //     (calendar-aligned: day d joins day d+k on the day grid, so
    //     gaps pair only where both ends exist): Pearson r from
    //     exact integer power sums (the q181 OLS discipline); num /
    //     den ints are the hash gate, r divides once at the end. ---
    "q249_autocorr" -> { (spark, dir) =>
      val daily = tbl(spark, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("x"))
        .select(col("event_type"),
          datediff(col("day"), lit("1970-01-01")).cast("long")
            .as("eday"),
          col("x"))
      val withLag = daily.withColumn("lag",
        explode(array(lit(1), lit(2), lit(3), lit(7))))
      val pairs = withLag.alias("a").join(daily.alias("b"),
          col("a.event_type") === col("b.event_type") &&
          col("b.eday") === col("a.eday") + col("a.lag"))
        .select(col("a.event_type").as("event_type"), col("a.lag").as("lag"),
          col("a.x").as("x"), col("b.x").as("y"))
      pairs.groupBy(col("event_type"), col("lag"))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("__sx"), sum(col("y")).as("__sy"),
          sum(col("x") * col("x")).as("__sxx"),
          sum(col("y") * col("y")).as("__syy"),
          sum(col("x") * col("y")).as("__sxy"))
        .select(col("event_type"), col("lag"), col("n"),
          (col("n") * col("__sxy") - col("__sx") * col("__sy"))
            .as("num"),
          (col("n") * col("__sxx") - col("__sx") * col("__sx"))
            .as("den_x"),
          (col("n") * col("__syy") - col("__sy") * col("__sy"))
            .as("den_y"))
        .withColumn("r",
          when(col("den_x") > 0 && col("den_y") > 0,
            col("num").cast("double") /
              (sqrt(col("den_x").cast("double")) *
                sqrt(col("den_y").cast("double")))))
        .orderBy(col("event_type"), col("lag"))
    },


    // --- TOKEN-BUCKET RATE-LIMITER REPLAY: per user, which events a
    //     3-token bucket (1 token/minute refill, 1/event) would have
    //     accepted — all-integer lazy-refill fold, replayed in the
    //     oracle as a DuckDB list_reduce over a BIGINT[4] state
    //     (list-shaped: v1.0.0 list_reduce mutates STRUCT
    //     accumulator fields in place, field-by-field). ---
    "q250_rate_limit" -> { (spark, dir) =>
      val ev = tbl(spark, dir, "events")
      graft.operators.RateLimit.tokenBucket(ev, col("user_id"),
          unix_micros(col("ts").cast("timestamp")), col("event_id"),
          capacity = 3L)
        .select(col("entity").as("user_id"), col("n_events"),
          col("n_accepted"), col("n_rejected"), col("tokens_left"))
        .orderBy(col("user_id"))
    },


    // --- ABC / PARETO CLASSIFICATION of parts by revenue: cumulative
    //     revenue share in (cents desc, partkey) order; A ≤ 80%,
    //     B ≤ 95%, C rest — integer threshold compares (cum·5 ≤
    //     tot·4), no division. The global cumsum runs WITHOUT a
    //     global window: bit-length revenue bands (cents desc ⇔
    //     (band desc, cents desc) — band boundaries are exact), a
    //     ≤64-row band census prefix-sum, and an intra-band window
    //     partitioned by band (the q212 histogram-offset shape). ---
    "q252_abc_pareto" -> { (spark, dir) =>
      val rev = tbl(spark, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
          .as("cents"))
      val banded = rev.withColumn("band", length(bin(col("cents"))))
      val bandTot = banded.groupBy(col("band"))
        .agg(sum(col("cents")).as("__bc"))
      // prefix over the ≤64-row band census WITHOUT a global window:
      // strictly-higher bands (larger revenue, earlier in the cum
      // order) sum via a tiny non-equi self-join
      val bandBefore = bandTot.alias("x")
        .join(broadcast(bandTot.select(col("band").as("__b2"),
          col("__bc").as("__bc2"))), col("__b2") > col("band"), "left")
        .groupBy(col("band"))
        .agg(coalesce(sum(col("__bc2")), lit(0L)).as("__before"))
      val iw = org.apache.spark.sql.expressions.Window
        .partitionBy(col("band"))
        .orderBy(col("cents").desc, col("l_partkey"))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, org.apache.spark.sql.expressions.Window
          .currentRow)
      val tot = rev.agg(sum(col("cents")).as("__tot"))
      banded.join(broadcast(bandBefore), Seq("band"))
        .withColumn("__cum", col("__before") + sum(col("cents")).over(iw))
        .crossJoin(broadcast(tot))
        .withColumn("class",
          when(col("__cum") * 5 <= col("__tot") * 4, lit("A"))
            .when(col("__cum") * 20 <= col("__tot") * 19, lit("B"))
            .otherwise(lit("C")))
        .groupBy(col("class"))
        .agg(count(lit(1)).as("n_parts"),
          sum(col("cents")).as("class_cents"))
        .orderBy(col("class"))
    },


    // --- INTER-ARRIVAL BURSTINESS census (bot/abuse shape signal):
    //     per user, integer-minute gaps between consecutive events
    //     (entity-partitioned lag), exact power sums, and the
    //     coefficient-of-variation² as an exact integer num/den pair
    //     (cv2 = (n·Σd²−(Σd)²) / (Σd)²) with the double dividing
    //     once at the end. High cv² = bursty, ~0 = metronomic. ---
    "q254_burstiness" -> { (spark, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      val gaps = tbl(spark, dir, "events")
        .select(col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("us"),
          col("event_id"))
        .withColumn("__prev", lag(col("us"), 1).over(w))
        .filter(col("__prev").isNotNull)
        .select(col("user_id"), expr("(us - __prev) div 60000000")
          .as("d"))
      gaps.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_gaps"),
          sum(col("d")).as("sum_min"),
          sum(col("d") * col("d")).as("__sdd"),
          max(col("d")).as("max_gap_min"))
        .withColumn("var_num",
          col("n_gaps") * col("__sdd") - col("sum_min") * col("sum_min"))
        .withColumn("cv2",
          when(col("sum_min") > 0, col("var_num").cast("double") /
            (col("sum_min") * col("sum_min")).cast("double")))
        .select(col("user_id"), col("n_gaps"), col("sum_min"),
          col("max_gap_min"), col("var_num"), col("cv2"))
        .orderBy(col("user_id"))
    },


    // --- ORDER-INDEPENDENT CONTENT FINGERPRINT per source (the
    //     partition-manifest primitive: compare fingerprints, row-diff
    //     only what moved): modular md5 content sum — commutative, so
    //     partitioning/row order never changes it. ---
    "q255_table_fingerprint" -> { (spark, dir) =>
      graft.operators.Fingerprint.contentFingerprint(
          tbl(spark, dir, "documents"), col("source"),
          Seq(col("doc_id"), col("lang"), col("n_chars")))
        .select(col("grp").as("source"), col("n_rows"), col("fp"))
        .orderBy(col("source"))
    },


    // --- INCREMENTAL MANIFEST MERGE law on real data: fingerprint the
    //     even/odd doc_id halves separately, merge additively, and
    //     compare against fingerprinting the whole table — the oracle
    //     replays both paths, so a hash match PROVES the additive
    //     composition (what lets a 100 TB manifest update per
    //     partition without re-scanning history). ---
    "q257_fingerprint_merge" -> { (spark, dir) =>
      val docs = tbl(spark, dir, "documents")
      val cols = Seq(col("doc_id"), col("lang"), col("n_chars"))
      def fp(d: org.apache.spark.sql.DataFrame) =
        graft.operators.Fingerprint.contentFingerprint(d,
          col("source"), cols)
      val whole = fp(docs)
      val merged = graft.operators.Fingerprint.merge(
        fp(docs.filter(pmod(col("doc_id"), lit(2)) === 0)),
        fp(docs.filter(pmod(col("doc_id"), lit(2)) =!= 0)))
      whole.join(merged.select(col("grp"),
          col("n_rows").as("n_rows_merged"),
          col("fp").as("fp_merged")), Seq("grp"))
        .select(col("grp").as("source"), col("n_rows"), col("fp"),
          col("n_rows_merged"), col("fp_merged"),
          (col("fp") === col("fp_merged") &&
            col("n_rows") === col("n_rows_merged")).as("merge_ok"))
        .orderBy(col("source"))
    },


    // --- SESSION RUN-LENGTH ENCODING census: per user, consecutive
    //     same-event-type runs (the sequence-compression readout for
    //     training-data prep: how redundant are raw event streams).
    //     Lag-change flags + running sum = run ids (the SCD2 island
    //     machinery), exact integer ratio emitted as num/den. ---
    "q258_session_rle" -> { (spark, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      val runs = tbl(spark, dir, "events")
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("us"))
        .withColumn("__chg",
          when(lag(col("event_type"), 1).over(w).isNull ||
            lag(col("event_type"), 1).over(w) =!= col("event_type"),
            1L).otherwise(0L))
        .withColumn("__run", sum(col("__chg")).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("user_id"))
            .orderBy(col("us"), col("event_id"))
            .rowsBetween(org.apache.spark.sql.expressions.Window
              .unboundedPreceding, org.apache.spark.sql.expressions
              .Window.currentRow)))
      val perRun = runs.groupBy(col("user_id"), col("__run"))
        .agg(count(lit(1)).as("__len"))
      perRun.groupBy(col("user_id"))
        .agg(sum(col("__len")).as("n_events"),
          count(lit(1)).as("n_runs"),
          max(col("__len")).as("longest_run"))
        .withColumn("compression",
          col("n_events").cast("double") / col("n_runs").cast("double"))
        .orderBy(col("user_id"))
    },


    // --- ASSOCIATION RULES over order baskets: directed part pairs
    //     with support (shared-basket count), confidence = supp(a,b)
    //     / supp(a) and lift = supp(a,b)·N / (supp(a)·supp(b)) — all
    //     exact integer numerators/denominators, the doubles divide
    //     once. Pair volume is Σ|basket|² (baskets are small), never
    //     catalog². Top 100 by support with a full deterministic
    //     tiebreak. ---
    "q259_assoc_rules" -> { (spark, dir) =>
      val li = tbl(spark, dir, "lineitem")
      val pairs = graft.operators.Graph.coOccurrenceEdgesWeighted(li,
        col("l_orderkey"), col("l_partkey"))
      val item = li.select(col("l_orderkey").as("g"),
          col("l_partkey").as("i")).distinct()
        .groupBy(col("i")).agg(count(lit(1)).as("n_i"))
      val baskets = li.agg(
        count_distinct(col("l_orderkey")).as("__nb"))
      pairs.filter(col("w") >= 3)
        .join(item.select(col("i").as("src"), col("n_i").as("n_src")),
          Seq("src"))
        .join(item.select(col("i").as("dst"), col("n_i").as("n_dst")),
          Seq("dst"))
        .crossJoin(broadcast(baskets))
        .select(col("src"), col("dst"), col("w").as("support"),
          col("n_src"), col("n_dst"),
          (col("w") * col("__nb")).as("lift_num"),
          (col("n_src") * col("n_dst")).as("lift_den"),
          (col("w").cast("double") / col("n_src").cast("double"))
            .as("confidence"),
          ((col("w") * col("__nb")).cast("double") /
            (col("n_src") * col("n_dst")).cast("double")).as("lift"))
        .orderBy(col("support").desc, col("src"), col("dst"))
        .limit(100)
    },


    // --- CONTINUOUS (interpolated) percentiles — the SQL-standard
    //     percentile_cont complement to the discrete q231 rule: exact
    //     per-group percentile() at DYADIC fractions over integer
    //     cents, so index = (n−1)·p and the linear interpolation are
    //     exact IEEE in both engines (dyadic products of ints < 2^53)
    //     and the doubles hash-match unrounded. The per-group exact
    //     aggregate is the small-group form; unbounded value grids
    //     use ExactQuantile's histogram-refine instead. ---
    "q262_percentile_cont" -> { (spark, dir) =>
      tbl(spark, dir, "lineitem")
        .select(col("l_returnflag"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("v"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          expr("percentile(v, array(0.25D, 0.5D, 0.75D))").as("__p"))
        .select(col("l_returnflag"), col("n"),
          col("__p").getItem(0).as("p25_cents"),
          col("__p").getItem(1).as("p50_cents"),
          col("__p").getItem(2).as("p75_cents"))
        .orderBy(col("l_returnflag"))
    },


    // --- EQUI-WIDTH HISTOGRAM profiling: per event type, 10 integer
    //     bins over the cents range [min, max] — bin edges and
    //     assignment in pure integer arithmetic (bin = (v−lo)·10 div
    //     (hi−lo+1)), the numeric-distribution census a profiler
    //     (q161) reports next to its null/distinct counts. Two
    //     passes: a per-type min/max census (broadcast back), then
    //     the binned count — the corpus shuffles once on the type. ---
    "q263_histogram_bins" -> { (spark, dir) =>
      val ev = tbl(spark, dir, "events")
        .select(col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("v"))
      val bounds = ev.groupBy(col("event_type"))
        .agg(min(col("v")).as("__lo"), max(col("v")).as("__hi"))
      ev.join(broadcast(bounds), Seq("event_type"))
        .withColumn("bin",
          expr("(v - __lo) * 10 div (__hi - __lo + 1)").cast("int"))
        .groupBy(col("event_type"), col("bin"))
        .agg(count(lit(1)).as("n"),
          min(col("v")).as("bin_min"), max(col("v")).as("bin_max"))
        .orderBy(col("event_type"), col("bin"))
    },


    // --- DETERMINISTIC PPS (probability-proportional-to-size)
    //     SAMPLING: a fixed step-S grid over the cumulative revenue
    //     line — part p is drawn n_hits = cum div S − (cum−cents)
    //     div S times (big spenders can be drawn multiply, the PPS
    //     contract). Zero RNG, exact integers, and the cumulative
    //     line is built WITHOUT a global window via q252's bit-length
    //     band decomposition. The audit-sampling primitive. ---
    "q266_pps_sample" -> { (spark, dir) =>
      val rev = tbl(spark, dir, "lineitem")
        .groupBy(col("l_partkey"))
        .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
          .as("cents"))
      val banded = rev.withColumn("band", length(bin(col("cents"))))
      val bandTot = banded.groupBy(col("band"))
        .agg(sum(col("cents")).as("__bc"))
      val bandBefore = bandTot.alias("x")
        .join(broadcast(bandTot.select(col("band").as("__b2"),
          col("__bc").as("__bc2"))), col("__b2") > col("band"), "left")
        .groupBy(col("band"))
        .agg(coalesce(sum(col("__bc2")), lit(0L)).as("__before"))
      val iw = org.apache.spark.sql.expressions.Window
        .partitionBy(col("band"))
        .orderBy(col("cents").desc, col("l_partkey"))
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, org.apache.spark.sql.expressions.Window
          .currentRow)
      val tot = rev.agg(sum(col("cents")).as("__tot"))
      banded.join(broadcast(bandBefore), Seq("band"))
        .withColumn("__cum", col("__before") + sum(col("cents")).over(iw))
        .crossJoin(broadcast(tot))
        .withColumn("__s", expr("__tot div 200 + 1"))
        .withColumn("n_hits",
          expr("__cum div __s - (__cum - cents) div __s"))
        .filter(col("n_hits") >= 1)
        .select(col("l_partkey"), col("cents"), col("__cum").as("cum"),
          col("n_hits"))
        .orderBy(col("l_partkey"))
    },


    // --- CALENDAR GAP FILL (series densification): each type's daily
    //     count series completed onto its full [min, max] day grid
    //     with explicit zeros — the precondition for q232/q249-style
    //     window math to mean what it says. The grid generates from
    //     a per-type census row (sequence + explode), never from a
    //     driver loop. ---
    "q267_gap_fill" -> { (spark, dir) =>
      val daily = tbl(spark, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val grid = daily.groupBy(col("event_type"))
        .agg(min(col("day")).as("__lo"), max(col("day")).as("__hi"))
        .select(col("event_type"),
          explode(expr("sequence(__lo, __hi, interval 1 day)"))
            .as("day"))
      grid.join(daily, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"),
          coalesce(col("n"), lit(0L)).as("n"),
          col("n").isNull.as("filled"))
        .orderBy(col("event_type"), col("day"))
    },


    // --- COMPACTION PLANNER (next-fit bin packing): per source, how
    //     many ~4000-char output files a size-DESC next-fit pass
    //     would produce from its documents — the planning census a
    //     small-file compactor (Sinks.compact) runs before touching
    //     data. Ordered integer fold per source (the q250 state
    //     machinery; next-fit is the O(1)-state streaming packing,
    //     honest 2× bound vs optimal). ---
    "q274_compaction_planner" -> { (spark, dir) =>
      val cap = 4000L
      val lists = tbl(spark, dir, "documents")
        .select(col("source"), col("doc_id"), col("n_chars"))
        .groupBy(col("source"))
        .agg(sum(col("n_chars")).as("total_chars"),
          count(lit(1)).as("n_files"),
          array_sort(collect_list(struct((-col("n_chars")).as("__neg"),
            col("doc_id").as("__id"), col("n_chars").as("__sz"))))
            .as("__xs"))
      val init = array(lit(0L), lit(cap))
      val st = org.apache.spark.sql.functions.aggregate(col("__xs"),
        init, (s, e) => {
          val sz = e.getField("__sz")
          when(element_at(s, 2) + sz <= cap,
            array(element_at(s, 1), element_at(s, 2) + sz))
            .otherwise(array(element_at(s, 1) + 1, sz))
        })
      lists.select(col("source"), col("n_files"), col("total_chars"),
          st.as("__st"))
        .select(col("source"), col("n_files"), col("total_chars"),
          element_at(col("__st"), 1).as("n_bins"))
        .withColumn("fill_frac", col("total_chars").cast("double") /
          (col("n_bins") * cap).cast("double"))
        .orderBy(col("source"))
    },


    // --- SURROGATE KEY ASSIGNMENT without a global window: dense
    //     deterministic ids for the distinct (source, lang) dimension
    //     tuples via the q212 bucket-offset rank over the md5 order —
    //     the conformed-dimension build step, reproducible across
    //     reruns and resharding. ---
    "q275_surrogate_keys" -> { (spark, dir) =>
      val dims = tbl(spark, dir, "documents")
        .select(concat_ws("|", col("source"), col("lang")).as("dim"))
        .distinct()
      graft.llm.Sharding.globalShuffleShards(dims, col("dim"),
          seed = "dim1", shardSize = 1000000L)
        .select(col("id").as("dim"), col("rn").as("sk"))
        .orderBy(col("sk"))
    },


    // --- VALUE-DOMAIN DRIFT: exact median cents per type, first half
    //     of the backlog vs second (time midpoint) — the value-shift
    //     complement to q260's order drift and q229's KS distance,
    //     via the integer-threshold quantile rule twice. ---
    "q276_quantile_shift" -> { (spark, dir) =>
      val ev = tbl(spark, dir, "events")
        .select(col("event_type"),
          unix_micros(col("ts").cast("timestamp")).as("us"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      val b = ev.agg(min(col("us")).as("lo"), max(col("us")).as("hi"))
        .collect()(0)
      val mid = b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 2
      def med(half: org.apache.spark.sql.DataFrame, name: String) =
        graft.operators.ExactQuantile.weightedQuantileDisc(half,
            col("event_type"), col("cents"), lit(1L),
            Seq((name, 1, 2)))
          .select(col("grp").as("event_type"),
            col("total_w").as(name + "_n"), col(name))
      med(ev.filter(col("us") <= mid), "p50_first")
        .join(med(ev.filter(col("us") > mid), "p50_second"),
          Seq("event_type"))
        .withColumn("shift_cents",
          col("p50_second") - col("p50_first"))
        .orderBy(col("event_type"))
    },


    // --- REFERENTIAL-INTEGRITY CENSUS across the star schema (the
    //     FK complement to q203's unique/null/range rules): per
    //     relation, child rows, distinct child keys, orphans (keys
    //     with no parent) — left-anti joins on the keys only. ---
    "q277_fk_orphans" -> { (spark, dir) =>
      def fk(name: String, child: org.apache.spark.sql.DataFrame,
             ck: String, parent: org.apache.spark.sql.DataFrame,
             pk: String) = {
        val orphan = child.select(col(ck)).join(
          parent.select(col(pk).as(ck)), Seq(ck), "left_anti")
        child.agg(count(lit(1)).as("n_child"),
            count_distinct(col(ck)).as("n_keys"))
          .crossJoin(broadcast(
            orphan.agg(count(lit(1)).as("n_orphan_rows"))))
          .withColumn("relation", lit(name))
          .select(col("relation"), col("n_child"), col("n_keys"),
            col("n_orphan_rows"),
            (col("n_orphan_rows") === 0).as("intact"))
      }
      val li = tbl(spark, dir, "lineitem")
      val orders = tbl(spark, dir, "orders")
      val cust = tbl(spark, dir, "customer")
      val nation = tbl(spark, dir, "nation")
      fk("lineitem.l_orderkey->orders", li, "l_orderkey",
          orders.select(col("o_orderkey").as("l_orderkey")),
          "l_orderkey")
        .unionByName(fk("orders.o_custkey->customer", orders,
          "o_custkey", cust.select(col("c_custkey").as("o_custkey")),
          "o_custkey"))
        .unionByName(fk("customer.c_nationkey->nation", cust,
          "c_nationkey",
          nation.select(col("n_nationkey").as("c_nationkey")),
          "c_nationkey"))
        .orderBy(col("relation"))
    },


    // --- K-ANONYMITY / L-DIVERSITY AUDIT over quasi-identifiers
    //     (source, n_chars div 100) with `lang` as the sensitive
    //     attribute: equivalence-class census, min class size (the
    //     k), share of rows in classes below k=5, and min distinct
    //     sensitive values per class (the l) — the privacy readout a
    //     training corpus release runs before publication. Exact
    //     integers end to end. ---
    "q278_k_anonymity" -> { (spark, dir) =>
      val classes = tbl(spark, dir, "documents")
        .select(col("source"), expr("n_chars div 100").as("len_bucket"),
          col("lang"))
        .groupBy(col("source"), col("len_bucket"))
        .agg(count(lit(1)).as("__sz"),
          count_distinct(col("lang")).as("__l"))
      classes.agg(
          count(lit(1)).as("n_classes"),
          sum(col("__sz")).as("n_rows"),
          min(col("__sz")).as("k_anonymity"),
          min(col("__l")).as("l_diversity"),
          sum(when(col("__sz") < 5, col("__sz")).otherwise(0L))
            .as("rows_below_k5"))
        .withColumn("frac_below_k5",
          col("rows_below_k5").cast("double") /
            col("n_rows").cast("double"))
    },


    // --- RESHARD MOVEMENT CENSUS (the resharding-cost planner):
    //     going from k=8 to 9 shards, what fraction of keys moves
    //     under (a) mod placement (≈ 8/9 move — the naive scheme's
    //     cliff) vs (b) RANGE placement on the md5 space (only ≈ 1/9
    //     move — why consistent/range sharding wins). Pure integer
    //     hash math, one scan. ---
    "q279_reshard_census" -> { (spark, dir) =>
      val k = 8
      val h = conv(substring(md5(col("doc_id").cast("string")
        .cast(org.apache.spark.sql.types.BinaryType)), 1, 8), 16, 10)
        .cast("long")
      tbl(spark, dir, "documents")
        .select(col("doc_id"), h.as("__h"))
        .select(col("doc_id"),
          pmod(col("__h"), lit(k.toLong)).as("__m8"),
          pmod(col("__h"), lit((k + 1).toLong)).as("__m9"),
          expr(s"__h * $k div 4294967296").as("__r8"),
          expr(s"__h * ${k + 1} div 4294967296").as("__r9"))
        .agg(count(lit(1)).as("n_keys"),
          sum(when(col("__m8") =!= col("__m9"), 1L).otherwise(0L))
            .as("moved_mod"),
          sum(when(col("__r8") =!= col("__r9"), 1L).otherwise(0L))
            .as("moved_range"))
        .withColumn("frac_moved_mod", col("moved_mod").cast("double")
          / col("n_keys").cast("double"))
        .withColumn("frac_moved_range",
          col("moved_range").cast("double") /
            col("n_keys").cast("double"))
    },


    // --- SAMPLE REPRESENTATIVENESS audit: does the deterministic 10%
    //     md5 sample (Pipelines.hashBucket < 10) preserve the
    //     language mix? Per lang: population/sample counts, expected
    //     sample count, chi² term — exact integer counts, the
    //     expected/term doubles computed by the identical pinned
    //     expression both engines. ---
    "q280_sample_representativeness" -> { (spark, dir) =>
      val docs = tbl(spark, dir, "documents")
        .select(col("doc_id"), col("lang"),
          (Pipelines.hashBucket(col("doc_id"), 100) < 10)
            .as("__in_sample"))
      val per = docs.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_pop"),
          sum(when(col("__in_sample"), 1L).otherwise(0L))
            .as("n_samp"))
      val tot = per.agg(sum(col("n_pop")).as("__tp"),
        sum(col("n_samp")).as("__ts"))
      per.crossJoin(broadcast(tot))
        .withColumn("expected",
          col("n_pop").cast("double") * col("__ts").cast("double") /
            col("__tp").cast("double"))
        .withColumn("chi2_term",
          (col("n_samp").cast("double") - col("expected")) *
            (col("n_samp").cast("double") - col("expected")) /
            col("expected"))
        .select(col("lang"), col("n_pop"), col("n_samp"),
          col("expected"), col("chi2_term"))
        .orderBy(col("lang"))
    },


    // --- RETENTION FORECAST (storage-reclaim planning): events
    //     bucketed by age in 7-day steps behind the backlog's max
    //     event time; per bucket, rows and value-cents, plus the
    //     cumulative share a "drop buckets older than this" TTL
    //     would reclaim — exact integers, the cumulative via a tiny
    //     bucket-keyed non-equi self-join (≤ a few dozen rows), not
    //     a global window. ---
    "q284_retention_forecast" -> { (spark, dir) =>
      val ev = tbl(spark, dir, "events")
        .select(unix_micros(col("ts").cast("timestamp")).as("us"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      val mx = ev.agg(max(col("us")).as("__mx"))
      val buckets = ev.crossJoin(broadcast(mx))
        .withColumn("age_bucket",
          expr("(__mx - us) div (7L * 86400000000)"))
        .groupBy(col("age_bucket"))
        .agg(count(lit(1)).as("n_rows"), sum(col("cents")).as("cents"))
      val older = buckets.select(col("age_bucket").as("__b2"),
        col("n_rows").as("__n2"))
      buckets.join(broadcast(older), col("__b2") >= col("age_bucket"),
          "left")
        .groupBy(col("age_bucket"))
        .agg(max(col("n_rows")).as("n_rows"), max(col("cents")).as("cents"),
          sum(col("__n2")).as("rows_reclaimed_if_ttl_here"))
        .orderBy(col("age_bucket"))
    },


    // --- DICTIONARY-ENCODING PLANNER (columnar layout sizing): per
    //     string column of documents, cardinality vs row count and
    //     the exact byte arithmetic of plain vs dictionary encoding
    //     (distinct-value bytes + a 4-byte code per row) — the
    //     decision table behind parquet encoding choices. One scan
    //     per column over a melted projection. ---
    "q285_dict_encoding_planner" -> { (spark, dir) =>
      val docs = tbl(spark, dir, "documents")
      val melted = docs.select(explode(array(
          struct(lit("lang").as("column"), col("lang").as("v")),
          struct(lit("source").as("column"), col("source").as("v"))))
          .as("m"))
        .select(col("m.column").as("column"), col("m.v").as("v"))
      melted.groupBy(col("column"))
        .agg(count(lit(1)).as("n_rows"),
          count_distinct(col("v")).as("n_distinct"),
          sum(expr("octet_length(v)")).as("bytes_plain"))
        .join(melted.distinct().groupBy(col("column"))
          .agg(sum(expr("octet_length(v)")).as("__dict_bytes")),
          Seq("column"))
        .withColumn("bytes_dict",
          col("__dict_bytes") + col("n_rows") * 4)
        .withColumn("dict_wins", col("bytes_dict") < col("bytes_plain"))
        .select(col("column"), col("n_rows"), col("n_distinct"),
          col("bytes_plain"), col("bytes_dict"), col("dict_wins"))
        .orderBy(col("column"))
    },


    // --- SHIP-DELAY SLA census: order-date -> ship-date lag per
    //     priority class, with exact integer-day p50/p90 (the q231
    //     threshold rule) and the share beyond a 90-day SLA — exact
    //     integers, one broadcast-ready fact-dim equi-join. ---
    "q286_ship_delay_sla" -> { (spark, dir) =>
      val delays = tbl(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate"))
        .join(tbl(spark, dir, "orders")
          .select(col("o_orderkey").as("l_orderkey"),
            col("o_orderdate"), col("o_orderpriority")),
          Seq("l_orderkey"))
        .select(col("o_orderpriority"),
          datediff(col("l_shipdate"), col("o_orderdate")).cast("long")
            .as("delay_days"))
      val qs = graft.operators.ExactQuantile.weightedQuantileDisc(
          delays, col("o_orderpriority"), col("delay_days"), lit(1L),
          Seq(("p50_days", 1, 2), ("p90_days", 9, 10)))
        .select(col("grp").as("o_orderpriority"), col("p50_days"),
          col("p90_days"))
      delays.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          max(col("delay_days")).as("max_days"),
          sum(when(col("delay_days") > 90, 1L).otherwise(0L))
            .as("n_breach"))
        .join(broadcast(qs), Seq("o_orderpriority"))
        .withColumn("breach_frac", col("n_breach").cast("double") /
          col("n").cast("double"))
        .orderBy(col("o_orderpriority"))
    },


    // --- SHUFFLE-PARTITION SIZING census (the
    //     spark.sql.shuffle.partitions decision, measured instead of
    //     guessed): hash lineitem's join key into the P=32 reduce
    //     buckets a shuffle would build (portable 48-bit md5 — the
    //     planner's view of hash partitioning), estimate per-bucket
    //     bytes at a 64 B/row width, and flag buckets exceeding a
    //     4 MiB task budget. Emits the bucket table plus the skew
    //     ratio (max·P/total — 1.0 is perfectly even); at 100 TB this
    //     one aggregate answers "does P need to grow, and is the key
    //     skewed or just big". ---
    "q338_shuffle_sizing" -> rounded("skew_ratio" -> 6)({
      (spark, dir) =>
      val kmv = graft.operators.Kmv
      val buckets = tbl(spark, dir, "lineitem")
        .select(pmod(kmv.h48(col("l_orderkey")), lit(32L))
          .as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_rows"))
        .withColumn("bytes", col("n_rows") * 64L)
        .withColumn("spills", col("bytes") > lit(4L * 1024 * 1024))
      val tot = buckets.agg(sum(col("n_rows")).as("__tot"),
        max(col("n_rows")).as("__mx"),
        sum(when(col("spills"), 1L).otherwise(0L)).as("__nspill"))
      buckets.crossJoin(broadcast(tot))
        .withColumn("skew_ratio",
          (col("__mx") * 32L).cast("double") /
            col("__tot").cast("double"))
        .select(col("bucket"), col("n_rows"), col("bytes"),
          col("spills"), col("__mx").as("max_bucket_rows"),
          col("__nspill").as("n_spilling"), col("skew_ratio"))
        .orderBy(col("bucket"))
    }),


    // --- SALT PLANNER with realized balance (the q60/q61 salted
    //     operators' missing WHY: how much salt does each hot key
    //     need?): per event_type, salt_factor = ceil(n / target)
    //     rows-per-task, then the plan is PROVEN on the data — rows
    //     are salted by the portable md5 hash and the realized
    //     largest sub-task is compared to the ceil bound, with
    //     imbalance = realized·salt/n (1.0 = perfectly even). The
    //     before/after max-task columns are the headline: what the
    //     straggler task costs now vs under the plan. One aggregate
    //     over the salted grain; no data rewrite to find out. ---
    "q339_salt_planner" -> rounded("imbalance" -> 6)({ (spark, dir) =>
      val kmv = graft.operators.Kmv
      val target = 2000L
      val ev = tbl(spark, dir, "events").select(col("event_type"),
        col("event_id"))
      val plan = ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("salt_factor",
          expr(s"(n + $target - 1) div $target"))
        .withColumn("ceil_bound",
          expr("(n + salt_factor - 1) div salt_factor"))
      val realized = ev.join(broadcast(plan), Seq("event_type"))
        .withColumn("salt",
          pmod(kmv.h48(col("event_id")), col("salt_factor")))
        .groupBy(col("event_type"), col("salt"))
        .agg(count(lit(1)).as("__sub"))
        .groupBy(col("event_type"))
        .agg(max(col("__sub")).as("actual_max_subtask"))
      val heads = plan.agg(max(col("n")).as("__before"))
      plan.join(realized, Seq("event_type"))
        .crossJoin(broadcast(heads))
        .crossJoin(broadcast(realized
          .agg(max(col("actual_max_subtask")).as("__after"))))
        .withColumn("imbalance",
          (col("actual_max_subtask") * col("salt_factor"))
            .cast("double") / col("n").cast("double"))
        .select(col("event_type"), col("n"), col("salt_factor"),
          col("ceil_bound"), col("actual_max_subtask"),
          col("imbalance"), col("__before").as("max_task_before"),
          col("__after").as("max_task_after"))
        .orderBy(col("event_type"))
    })
  )

  def oracleSql: Map[String, String] = Map(

    "q204_funnel_gaps" -> """
      WITH s1 AS (SELECT user_id, min(ts) AS t FROM events
                  WHERE event_type = 'view' GROUP BY 1),
      s2 AS (SELECT e.user_id, min(e.ts) AS t
             FROM events e JOIN s1 USING (user_id)
             WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1),
      s3 AS (SELECT e.user_id, min(e.ts) AS t
             FROM events e JOIN s2 USING (user_id)
             WHERE e.event_type = 'purchase' AND e.ts > s2.t
             GROUP BY 1),
      g AS (SELECT 'view->click' AS leg,
                   epoch_us(s2.t) - epoch_us(s1.t) AS gap
            FROM s2 JOIN s1 USING (user_id)
            UNION ALL
            SELECT 'click->purchase',
                   epoch_us(s3.t) - epoch_us(s2.t)
            FROM s3 JOIN s2 USING (user_id)),
      r AS (SELECT leg, gap,
                   row_number() OVER (PARTITION BY leg ORDER BY gap)
                     AS rnk,
                   count(*) OVER (PARTITION BY leg) AS n
            FROM g)
      SELECT leg, CAST(max(n) AS BIGINT) AS n_users,
             CAST(max(CASE WHEN rnk = CAST(ceil(0.5 * n) AS BIGINT)
                           THEN gap END) AS BIGINT) AS p50_us,
             CAST(max(CASE WHEN rnk = CAST(ceil(0.9 * n) AS BIGINT)
                           THEN gap END) AS BIGINT) AS p90_us
      FROM r GROUP BY leg ORDER BY leg""",


    "q207_bitmap_overlap" -> """
      WITH w AS (SELECT o_orderpriority AS s, o_custkey // 64 AS word,
                        -- DuckDB range-checks 1::BIGINT << 63; the
                        -- sign-bit word is its literal two's-complement
                        -- value (Spark's shiftleft wraps silently)
                        bit_or(CASE WHEN o_custkey % 64 = 63
                          THEN -9223372036854775807 - 1
                          ELSE 1::BIGINT << CAST(o_custkey % 64 AS INT)
                          END) AS bits
                 FROM orders GROUP BY 1, 2),
      tot AS (SELECT s, CAST(sum(bit_count(bits)) AS BIGINT) AS n
              FROM w GROUP BY 1),
      p AS (SELECT a.s AS sa, b.s AS sb,
                   CAST(sum(bit_count(a.bits & b.bits)) AS BIGINT)
                     AS n_common
            FROM w a JOIN w b ON a.word = b.word AND a.s < b.s
            GROUP BY 1, 2)
      SELECT sa, sb, ta.n AS n_a, tb.n AS n_b, p.n_common
      FROM p JOIN tot ta ON ta.s = p.sa JOIN tot tb ON tb.s = p.sb
      ORDER BY sa, sb""",


    "q208_rfm" -> """
      WITH per AS (
        SELECT o_custkey, max(CAST(o_orderdate AS DATE)) AS last_d,
               count(*) AS f,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS m
        FROM orders GROUP BY 1),
      j AS (SELECT per.*, c_mktsegment AS segment,
                   date_diff('day', last_d,
                     (SELECT max(CAST(o_orderdate AS DATE)) FROM orders))
                     AS r
            FROM per JOIN customer ON c_custkey = o_custkey),
      s AS (SELECT segment,
                   ntile(5) OVER (PARTITION BY segment
                                  ORDER BY r, o_custkey) AS r_q,
                   ntile(5) OVER (PARTITION BY segment
                                  ORDER BY f, o_custkey) AS f_q,
                   ntile(5) OVER (PARTITION BY segment
                                  ORDER BY m, o_custkey) AS m_q,
                   m
            FROM j)
      SELECT segment, r_q, f_q, m_q,
             CAST(count(*) AS BIGINT) AS n_customers,
             CAST(sum(m) AS BIGINT) AS sum_m_cents
      FROM s GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4""",


    "q209_benford" -> """
      WITH d AS (
        SELECT 'orders.o_totalprice' AS source,
               CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
                 AS VARCHAR), 1, 1) AS INT) AS digit
        FROM orders
        UNION ALL
        SELECT 'lineitem.l_extendedprice',
               CAST(substr(CAST(CAST(floor(l_extendedprice) AS BIGINT)
                 AS VARCHAR), 1, 1) AS INT)
        FROM lineitem),
      g AS (SELECT source, digit, count(*) AS n FROM d GROUP BY 1, 2)
      SELECT source, digit, n,
             CAST(sum(n) OVER (PARTITION BY source) AS BIGINT)
               AS n_total
      FROM g ORDER BY source, digit""",


    "q210_cusum" -> """
      WITH daily AS (
        SELECT r_name AS region, CAST(o_orderdate AS DATE) AS day,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                    AS BIGINT) AS cents
        FROM orders JOIN customer ON o_custkey = c_custkey
             JOIN nation ON c_nationkey = n_nationkey
             JOIN region ON n_regionkey = r_regionkey
        GROUP BY 1, 2),
      st AS (SELECT region, count(*) AS n,
                    CAST(sum(cents) AS BIGINT) AS tot
             FROM daily GROUP BY 1),
      p AS (SELECT daily.region, day,
                   CAST(sum(st.n * cents - st.tot) OVER (
                     PARTITION BY daily.region ORDER BY day
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS p
            FROM daily JOIN st USING (region))
      SELECT region, day,
             CAST(p - least(min(p) OVER (
               PARTITION BY region ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0)
               AS BIGINT) AS cusum
      FROM p ORDER BY region, day""",


    "q214_holt" -> """
      WITH f AS (SELECT user_id, count(*) AS n_events,
                        list_reduce(list([value] ORDER BY ts, event_id),
                          (s, x) -> CASE WHEN len(s) = 1
                            THEN [((x[1] + s[1]) + 0) / 2.0,
                                  ((((x[1] + s[1]) + 0) / 2.0 - s[1])
                                    + 0) / 2.0]
                            ELSE [((x[1] + s[1]) + s[2]) / 2.0,
                                  ((((x[1] + s[1]) + s[2]) / 2.0
                                    - s[1]) + s[2]) / 2.0]
                            END) AS st
                 FROM events GROUP BY user_id)
      SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
             st[1] AS level, COALESCE(st[2], 0.0) AS trend,
             st[1] + COALESCE(st[2], 0.0) AS forecast
      FROM f ORDER BY user_id""",


    "q216_bom_rollup" -> """
      WITH pr AS (SELECT p_partkey AS node,
                         CAST(round(p_retailprice * 100) AS BIGINT)
                           AS cents
                  FROM part),
      anc AS (SELECT node // d AS anc, cents
              FROM pr CROSS JOIN
                   (SELECT unnest([1, 10, 100, 1000, 10000, 100000])
                      AS d) dd
              WHERE node // d >= 1)
      SELECT a.anc AS node, CAST(count(*) AS BIGINT) AS n_subtree,
             CAST(sum(cents) AS BIGINT) AS sum_subtree
      FROM anc a
      WHERE a.anc IN (SELECT node FROM pr)
      GROUP BY 1 ORDER BY 1""",


    "q217_skew_audit" -> """
      WITH c AS (SELECT l_partkey AS key, count(*) AS n
                 FROM lineitem GROUP BY 1),
      t AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_keys
            FROM lineitem)
      SELECT key, CAST(n AS BIGINT) AS n, t.n_rows, t.n_keys
      FROM c, t ORDER BY n DESC, key LIMIT 20""",


    "q218_bootstrap_ci" -> """
      WITH b AS (SELECT o_orderpriority AS g, o_orderkey AS id,
                        CAST(round(o_totalprice * 100) AS BIGINT) AS x
                 FROM orders),
      e AS (SELECT g, id, x, CAST(r AS INT) AS r
            FROM b CROSS JOIN
                 (SELECT unnest(generate_series(1, 20)) AS r) rr),
      u AS (SELECT g, r, x,
                   CAST(('0x' || substring(md5('ci:'
                     || CAST(id AS VARCHAR) || ':'
                     || CAST(r AS VARCHAR)), 1, 8)) AS BIGINT) AS u
            FROM e),
      w AS (SELECT g, r, x,
              (CASE WHEN u >= 1580030168 THEN 1 ELSE 0 END)
              + (CASE WHEN u >= 3160060337 THEN 1 ELSE 0 END)
              + (CASE WHEN u >= 3950075421 THEN 1 ELSE 0 END)
              + (CASE WHEN u >= 4213413783 THEN 1 ELSE 0 END)
              + (CASE WHEN u >= 4279248373 THEN 1 ELSE 0 END)
              + (CASE WHEN u >= 4292415291 THEN 1 ELSE 0 END)
              + (CASE WHEN u >= 4294609777 THEN 1 ELSE 0 END) AS w
            FROM u)
      SELECT g, r, CAST(sum(w) AS BIGINT) AS sum_w,
             CAST(sum(w * x) AS BIGINT) AS sum_wx,
             CAST(sum(w * x) AS DOUBLE) / CAST(sum(w) AS DOUBLE)
               AS mean
      FROM w GROUP BY 1, 2 ORDER BY 1, 2""",


    "q220_cohort_ltv" -> """
      WITH fst AS (SELECT user_id,
                          CAST(date_trunc('week', min(ts)) AS DATE)
                            AS cohort
                   FROM events GROUP BY 1),
      sizes AS (SELECT cohort,
                       CAST(count(DISTINCT user_id) AS BIGINT)
                         AS n_users
                FROM fst GROUP BY 1),
      p AS (SELECT f.cohort,
                   date_diff('day', f.cohort, CAST(e.ts AS DATE)) // 7
                     AS age_week,
                   CAST(sum(CAST(round(e.value * 100) AS BIGINT))
                        AS BIGINT) AS cents
            FROM events e JOIN fst f USING (user_id)
            WHERE e.event_type = 'purchase'
            GROUP BY 1, 2),
      c AS (SELECT cohort, CAST(age_week AS BIGINT) AS age_week,
                   CAST(sum(cents) OVER (PARTITION BY cohort
                     ORDER BY age_week
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS cum_cents
            FROM p)
      SELECT c.cohort, c.age_week, s.n_users, c.cum_cents,
             CAST(c.cum_cents AS DOUBLE) / CAST(s.n_users AS DOUBLE)
               AS ltv_cents
      FROM c JOIN sizes s USING (cohort)
      ORDER BY cohort, age_week""",


    "q223_daily_bands" -> """
      WITH d AS (SELECT CAST(ts AS DATE) AS day,
                        CAST(round(value * 100) AS BIGINT) AS cents
                 FROM events),
      r AS (SELECT day, cents,
                   row_number() OVER (PARTITION BY day ORDER BY cents)
                     AS rnk,
                   count(*) OVER (PARTITION BY day) AS n
            FROM d)
      SELECT day, CAST(max(n) AS BIGINT) AS n_events,
             CAST(max(CASE WHEN rnk = CAST(ceil(0.5 * n) AS BIGINT)
                           THEN cents END) AS BIGINT) AS p50_cents,
             CAST(max(CASE WHEN rnk = CAST(ceil(0.95 * n) AS BIGINT)
                           THEN cents END) AS BIGINT) AS p95_cents
      FROM r GROUP BY day ORDER BY day""",


    "q224_tpch_q3" -> """
      SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
             o_orderpriority,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT)))
               AS BIGINT) AS revenue_c4
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < DATE '1997-01-01'
        AND l_shipdate > DATE '1996-06-30'
      GROUP BY 1, 2, 3
      ORDER BY revenue_c4 DESC, l_orderkey LIMIT 10""",


    "q225_tpch_q5" -> """
      SELECT n_name,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(round(l_discount * 100) AS BIGINT)))
               AS BIGINT) AS revenue_c4
      FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           JOIN supplier ON l_suppkey = s_suppkey
                        AND c_nationkey = s_nationkey
           JOIN nation ON s_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= DATE '1996-01-01'
        AND o_orderdate < DATE '1997-01-01'
      GROUP BY 1 ORDER BY revenue_c4 DESC, n_name""",


    "q226_fk_discovery" -> """
      WITH
      sk1 AS (SELECT h FROM (SELECT DISTINCT CAST(('0x' || substring(
                md5(CAST(l_orderkey AS VARCHAR)), 1, 12)) AS BIGINT)
                AS h FROM lineitem) ORDER BY h LIMIT 256),
      ph1 AS (SELECT DISTINCT CAST(('0x' || substring(
                md5(CAST(o_orderkey AS VARCHAR)), 1, 12)) AS BIGINT)
                AS h FROM orders),
      r1 AS (SELECT 'lineitem.l_orderkey' AS child_col,
                    'orders.o_orderkey' AS parent_col,
                    CAST((SELECT count(*) FROM sk1) AS BIGINT)
                      AS k_child,
                    CAST((SELECT count(*) FROM sk1
                          WHERE h IN (SELECT h FROM ph1)) AS BIGINT)
                      AS probe_hits,
                    (SELECT CASE WHEN count(*) < 256
                       THEN CAST(count(*) AS DOUBLE)
                       ELSE CAST(255 AS DOUBLE)
                            * CAST(281474976710656 AS DOUBLE)
                            / CAST(max(h) AS DOUBLE) END FROM sk1)
                      AS child_distinct_est),
      sk2 AS (SELECT h FROM (SELECT DISTINCT CAST(('0x' || substring(
                md5(CAST(l_partkey AS VARCHAR)), 1, 12)) AS BIGINT)
                AS h FROM lineitem) ORDER BY h LIMIT 256),
      ph2 AS (SELECT DISTINCT CAST(('0x' || substring(
                md5(CAST(p_partkey AS VARCHAR)), 1, 12)) AS BIGINT)
                AS h FROM part),
      r2 AS (SELECT 'lineitem.l_partkey', 'part.p_partkey',
                    CAST((SELECT count(*) FROM sk2) AS BIGINT),
                    CAST((SELECT count(*) FROM sk2
                          WHERE h IN (SELECT h FROM ph2)) AS BIGINT),
                    (SELECT CASE WHEN count(*) < 256
                       THEN CAST(count(*) AS DOUBLE)
                       ELSE CAST(255 AS DOUBLE)
                            * CAST(281474976710656 AS DOUBLE)
                            / CAST(max(h) AS DOUBLE) END FROM sk2)),
      sk3 AS (SELECT h FROM (SELECT DISTINCT CAST(('0x' || substring(
                md5(CAST(l_suppkey AS VARCHAR)), 1, 12)) AS BIGINT)
                AS h FROM lineitem) ORDER BY h LIMIT 256),
      ph3 AS (SELECT DISTINCT CAST(('0x' || substring(
                md5(CAST(s_suppkey AS VARCHAR)), 1, 12)) AS BIGINT)
                AS h FROM supplier),
      r3 AS (SELECT 'lineitem.l_suppkey', 'supplier.s_suppkey',
                    CAST((SELECT count(*) FROM sk3) AS BIGINT),
                    CAST((SELECT count(*) FROM sk3
                          WHERE h IN (SELECT h FROM ph3)) AS BIGINT),
                    (SELECT CASE WHEN count(*) < 256
                       THEN CAST(count(*) AS DOUBLE)
                       ELSE CAST(255 AS DOUBLE)
                            * CAST(281474976710656 AS DOUBLE)
                            / CAST(max(h) AS DOUBLE) END FROM sk3)),
      sk4 AS (SELECT h FROM (SELECT DISTINCT CAST(('0x' || substring(
                md5(CAST(o_custkey AS VARCHAR)), 1, 12)) AS BIGINT)
                AS h FROM orders) ORDER BY h LIMIT 256),
      ph4 AS (SELECT DISTINCT CAST(('0x' || substring(
                md5(CAST(c_custkey AS VARCHAR)), 1, 12)) AS BIGINT)
                AS h FROM customer),
      r4 AS (SELECT 'orders.o_custkey', 'customer.c_custkey',
                    CAST((SELECT count(*) FROM sk4) AS BIGINT),
                    CAST((SELECT count(*) FROM sk4
                          WHERE h IN (SELECT h FROM ph4)) AS BIGINT),
                    (SELECT CASE WHEN count(*) < 256
                       THEN CAST(count(*) AS DOUBLE)
                       ELSE CAST(255 AS DOUBLE)
                            * CAST(281474976710656 AS DOUBLE)
                            / CAST(max(h) AS DOUBLE) END FROM sk4)),
      sk5 AS (SELECT h FROM (SELECT DISTINCT CAST(('0x' || substring(
                md5(CAST(o_orderkey AS VARCHAR)), 1, 12)) AS BIGINT)
                AS h FROM orders) ORDER BY h LIMIT 256),
      r5 AS (SELECT 'orders.o_orderkey', 'part.p_partkey',
                    CAST((SELECT count(*) FROM sk5) AS BIGINT),
                    CAST((SELECT count(*) FROM sk5
                          WHERE h IN (SELECT h FROM ph2)) AS BIGINT),
                    (SELECT CASE WHEN count(*) < 256
                       THEN CAST(count(*) AS DOUBLE)
                       ELSE CAST(255 AS DOUBLE)
                            * CAST(281474976710656 AS DOUBLE)
                            / CAST(max(h) AS DOUBLE) END FROM sk5)),
      u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2
            UNION ALL SELECT * FROM r3 UNION ALL SELECT * FROM r4
            UNION ALL SELECT * FROM r5)
      SELECT child_col, parent_col, k_child, probe_hits,
             child_distinct_est,
             CAST(probe_hits AS DOUBLE) / CAST(k_child AS DOUBLE)
               AS containment
      FROM u ORDER BY child_col, parent_col""",


    "q227_quantile_norm" -> """
      WITH r AS (SELECT event_type,
                        CAST(round(value * 100) AS BIGINT) AS cents,
                        rank() OVER (PARTITION BY event_type
                                     ORDER BY round(value * 100)) AS rk,
                        count(*) OVER (PARTITION BY event_type) AS n
                 FROM events),
      d AS (SELECT event_type, cents,
                   least((rk - 1) * 10 // (n - 1), 9) AS decile
            FROM r)
      SELECT event_type, CAST(decile AS BIGINT) AS decile,
             CAST(count(*) AS BIGINT) AS n,
             min(cents) AS min_cents, max(cents) AS max_cents
      FROM d GROUP BY 1, 2 ORDER BY event_type, decile""",


    "q228_freshness" -> """
      WITH agg AS (SELECT event_type, max(epoch_us(ts)) AS last_us,
                          CAST(count(*) AS BIGINT) AS n_events
                   FROM events GROUP BY 1),
      g AS (SELECT max(last_us) AS wm_us FROM agg)
      SELECT event_type, n_events,
             strftime(make_timestamp(last_us), '%Y-%m-%d %H:%M:%S')
               AS last_event,
             CAST((g.wm_us - last_us) // 60000000 AS BIGINT)
               AS lag_minutes,
             (g.wm_us - last_us) > 604800000000 AS stale_7d
      FROM agg, g ORDER BY event_type""",


    "q229_ks_drift" -> """
      WITH b AS (SELECT min(epoch_us(ts)) AS lo, max(epoch_us(ts)) AS hi
                 FROM events),
      t AS (SELECT event_type,
                   CAST(round(value * 100) AS BIGINT) AS cents,
                   CASE WHEN epoch_us(ts) <= b.lo + (b.hi - b.lo) // 2
                        THEN 1 ELSE 0 END AS a
            FROM events, b),
      v AS (SELECT event_type, cents, CAST(sum(a) AS BIGINT) AS ca,
                   CAST(sum(1 - a) AS BIGINT) AS cb
            FROM t GROUP BY 1, 2),
      c AS (SELECT event_type,
                   CAST(sum(ca) OVER (PARTITION BY event_type
                     ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS BIGINT) AS cuma,
                   CAST(sum(cb) OVER (PARTITION BY event_type
                     ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS BIGINT) AS cumb,
                   CAST(sum(ca) OVER (PARTITION BY event_type)
                     AS BIGINT) AS na,
                   CAST(sum(cb) OVER (PARTITION BY event_type)
                     AS BIGINT) AS nb
            FROM v)
      SELECT event_type, max(na) AS n_a, max(nb) AS n_b,
             CAST(max(abs(cuma * nb - cumb * na)) AS BIGINT) AS d_num,
             max(na) * max(nb) AS d_den,
             CAST(max(abs(cuma * nb - cumb * na)) AS DOUBLE)
               / CAST(max(na) * max(nb) AS DOUBLE) AS d
      FROM c GROUP BY 1 ORDER BY 1""",


    "q230_markov_hitrate" -> """
      WITH s AS (SELECT user_id, event_type,
                        lead(event_type) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS next_type
                 FROM events),
      p AS (SELECT event_type AS prev_type, next_type FROM s
            WHERE next_type IS NOT NULL),
      c AS (SELECT prev_type, next_type, count(*) AS c
            FROM p GROUP BY 1, 2),
      pr AS (SELECT prev_type, next_type AS predicted FROM (
               SELECT prev_type, next_type, row_number() OVER (
                 PARTITION BY prev_type ORDER BY c DESC, next_type)
                 AS rn
               FROM c) WHERE rn = 1)
      SELECT p.prev_type, pr.predicted,
             CAST(count(*) AS BIGINT) AS n_transitions,
             CAST(sum(CASE WHEN p.next_type = pr.predicted
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
             CAST(sum(CASE WHEN p.next_type = pr.predicted
                           THEN 1 ELSE 0 END) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS hit_rate
      FROM p JOIN pr USING (prev_type)
      GROUP BY 1, 2 ORDER BY prev_type""",


    "q231_weighted_quantiles" -> """
      WITH pv AS (SELECT l_returnflag, CAST(round(l_extendedprice * 100)
                           AS BIGINT) AS v,
                         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT)
                           AS w
                  FROM lineitem GROUP BY 1, 2),
      c AS (SELECT l_returnflag, v,
                   CAST(sum(w) OVER (PARTITION BY l_returnflag ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS cw,
                   CAST(sum(w) OVER (PARTITION BY l_returnflag)
                     AS BIGINT) AS tw
            FROM pv)
      SELECT l_returnflag, max(tw) AS total_w,
             min(CASE WHEN cw * 4 >= tw * 1 THEN v END) AS p25_cents,
             min(CASE WHEN cw * 2 >= tw * 1 THEN v END) AS p50_cents,
             min(CASE WHEN cw * 4 >= tw * 3 THEN v END) AS p75_cents,
             min(CASE WHEN cw * 10 >= tw * 9 THEN v END) AS p90_cents
      FROM c GROUP BY 1 ORDER BY 1""",


    "q232_seasonal_decomp" -> """
      WITH daily AS (SELECT event_type,
                            CAST(date_trunc('day', ts) AS DATE) AS day,
                            CAST(sum(CAST(round(value * 100) AS BIGINT))
                              AS BIGINT) AS cents
                     FROM events GROUP BY 1, 2),
      d2 AS (SELECT event_type, day, cents,
                    date_diff('day', DATE '1970-01-01', day) AS eday
             FROM daily),
      t AS (SELECT event_type, day, cents,
                   count(*) OVER (PARTITION BY event_type ORDER BY eday
                     RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS wn,
                   CAST(sum(cents) OVER (PARTITION BY event_type
                     ORDER BY eday RANGE BETWEEN 3 PRECEDING AND
                     3 FOLLOWING) AS BIGINT) AS ws
            FROM d2)
      SELECT event_type, CAST(dayofweek(day) AS INT) AS dow,
             CAST(count(*) AS BIGINT) AS n_days,
             CAST(sum(cents * 7 - ws) AS BIGINT) AS seasonal_num,
             CAST(sum(cents * 7 - ws) AS DOUBLE)
               / CAST(count(*) * 7 AS DOUBLE) AS seasonal_cents
      FROM t WHERE wn = 7 GROUP BY 1, 2 ORDER BY 1, 2""",


    "q234_incr_term_stats" -> """
      WITH tk AS (SELECT doc_id, unnest(list_filter(
                    string_split_regex(lower(trim(text)), '\s+'),
                    x -> length(x) > 0)) AS term
                  FROM documents),
      tf AS (SELECT doc_id, term, count(*) AS tf
             FROM tk GROUP BY 1, 2)
      SELECT term, CAST(count(*) AS BIGINT) AS df,
             CAST(sum(tf) AS BIGINT) AS cf
      FROM tf GROUP BY term
      ORDER BY df DESC, term ASC LIMIT 100""",


    "q236_decay_attribution" -> """
      WITH p AS (SELECT user_id, event_id AS p_id, epoch_us(ts) AS p_us
                 FROM events WHERE event_type = 'purchase'),
      v AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
                   epoch_us(ts) AS v_us
            FROM events WHERE event_type = 'view'),
      c AS (SELECT p.p_id, v.day,
                   1.0 / CAST(1::BIGINT <<
                     ((p.p_us - v.v_us) // 60000000) AS DOUBLE) AS w
            FROM p JOIN v ON p.user_id = v.user_id
              AND v.v_us <= p.p_us
              AND v.v_us >= p.p_us - 3600000000),
      tw AS (SELECT p_id,
                    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                      list(w ORDER BY w)), (s, x) -> s + x) AS twv
             FROM c GROUP BY p_id),
      cr AS (SELECT c.day, c.w / tw.twv AS credit
             FROM c JOIN tw USING (p_id))
      SELECT day, CAST(count(*) AS BIGINT) AS n_touches,
             list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list(credit ORDER BY credit)), (s, x) -> s + x)
               AS credit
      FROM cr GROUP BY day ORDER BY day""",


    "q238_incr_kmv_actives" -> """
      WITH d AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE)
                   AS day,
                        CAST(('0x' || substring(md5(
                          CAST(user_id AS VARCHAR)), 1, 12)) AS BIGINT)
                          AS h
                 FROM events),
      s AS (SELECT day, h FROM d QUALIFY row_number() OVER (
              PARTITION BY day ORDER BY h) <= 128),
      u AS (SELECT DISTINCT h FROM s),
      k AS (SELECT h FROM u ORDER BY h LIMIT 128),
      agg AS (SELECT count(*) AS c, max(h) AS hk FROM k),
      est AS (SELECT CASE WHEN c < 128 THEN CAST(c AS DOUBLE)
                          ELSE CAST(127 AS DOUBLE)
                               * CAST(281474976710656 AS DOUBLE)
                               / CAST(hk AS DOUBLE) END AS e
              FROM agg),
      ex AS (SELECT CAST(count(DISTINCT user_id) AS DOUBLE)
               AS n_exact FROM events)
      SELECT round(e, 6) AS distinct_est, n_exact,
             abs(e - n_exact) <= n_exact * 0.2 AS within_20pct
      FROM est, ex""",


    "q239_winsorize" -> """
      WITH e AS (SELECT event_type,
                        CAST(round(value * 100) AS BIGINT) AS cents
                 FROM events),
      pv AS (SELECT event_type, cents AS v,
                    CAST(count(*) AS BIGINT) AS w
             FROM e GROUP BY 1, 2),
      c AS (SELECT event_type, v,
                   CAST(sum(w) OVER (PARTITION BY event_type ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS cw,
                   CAST(sum(w) OVER (PARTITION BY event_type)
                     AS BIGINT) AS tw
            FROM pv),
      cuts AS (SELECT event_type,
                      min(CASE WHEN cw * 20 >= tw * 1 THEN v END)
                        AS p05,
                      min(CASE WHEN cw * 20 >= tw * 19 THEN v END)
                        AS p95
               FROM c GROUP BY 1)
      SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
             max(cuts.p05) AS p05_cents, max(cuts.p95) AS p95_cents,
             CAST(sum(least(greatest(e.cents, cuts.p05), cuts.p95))
               AS BIGINT) AS wsum_cents,
             CAST(sum(least(greatest(e.cents, cuts.p05), cuts.p95))
               AS DOUBLE) / CAST(count(*) AS DOUBLE)
               AS winsorized_mean_cents
      FROM e JOIN cuts USING (event_type)
      GROUP BY 1 ORDER BY 1""",


    "q241_regression_metrics" -> """
      WITH e AS (SELECT event_type, event_id,
                        CAST(round(value * 100) AS BIGINT) AS cents
                 FROM events),
      tr AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_train,
                    CAST(sum(cents) AS BIGINT) AS s
             FROM e WHERE event_id % 2 = 0 GROUP BY 1),
      m AS (SELECT event_type, n_train,
                   (2 * s + n_train) // (2 * n_train) AS pred_cents
            FROM tr),
      te AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_test,
                    CAST(sum(cents) AS BIGINT) AS ts
             FROM e WHERE event_id % 2 = 1 GROUP BY 1),
      tm AS (SELECT event_type, n_test,
                    (2 * ts + n_test) // (2 * n_test) AS tmean
             FROM te)
      SELECT e.event_type, max(m.n_train) AS n_train,
             max(tm.n_test) AS n_test,
             max(m.pred_cents) AS pred_cents,
             CAST(sum(abs(e.cents - m.pred_cents)) AS BIGINT)
               AS mae_num,
             CAST(sum((e.cents - m.pred_cents)
               * (e.cents - m.pred_cents)) AS BIGINT) AS sse,
             CAST(sum((e.cents - tm.tmean)
               * (e.cents - tm.tmean)) AS BIGINT) AS sst,
             CAST(sum(abs(e.cents - m.pred_cents)) AS DOUBLE)
               / CAST(max(tm.n_test) AS DOUBLE) AS mae_cents,
             1.0 - CAST(sum((e.cents - m.pred_cents)
                     * (e.cents - m.pred_cents)) AS DOUBLE)
                   / CAST(sum((e.cents - tm.tmean)
                     * (e.cents - tm.tmean)) AS DOUBLE) AS r2
      FROM e JOIN m USING (event_type) JOIN tm USING (event_type)
      WHERE e.event_id % 2 = 1
      GROUP BY 1 ORDER BY 1""",


    "q243_longest_streak" -> """
      WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
                    FROM events WHERE event_type = 'purchase'),
      i AS (SELECT user_id, day,
                   date_diff('day', DATE '1970-01-01', day)
                     - row_number() OVER (PARTITION BY user_id
                         ORDER BY day) AS isl
            FROM days),
      g AS (SELECT user_id, isl,
                   CAST(count(*) AS BIGINT) AS streak_days,
                   min(day) AS streak_start
            FROM i GROUP BY 1, 2),
      b AS (SELECT user_id, streak_days, streak_start,
                   row_number() OVER (PARTITION BY user_id
                     ORDER BY streak_days DESC, streak_start ASC) AS rn
            FROM g)
      SELECT user_id, streak_days, streak_start
      FROM b WHERE rn = 1 AND streak_days >= 3
      ORDER BY user_id""",


    // Running-max lateness replay + the q231 integer-threshold
    // quantile rule over per-minute lateness (weight = row count).
    "q244_disorder_census" -> """
      WITH e AS (SELECT event_type, event_id, epoch_us(ts) AS us
                 FROM events),
      l AS (SELECT event_type,
                   greatest(coalesce(max(us) OVER (PARTITION BY
                     event_type ORDER BY event_id ROWS BETWEEN
                     UNBOUNDED PRECEDING AND 1 PRECEDING) - us,
                     0), 0) // 60000000 AS late_min
            FROM e),
      pv AS (SELECT event_type, late_min AS v,
                    CAST(count(*) AS BIGINT) AS w
             FROM l GROUP BY 1, 2),
      c AS (SELECT event_type, v,
                   CAST(sum(w) OVER (PARTITION BY event_type ORDER BY v
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS BIGINT) AS cw,
                   CAST(sum(w) OVER (PARTITION BY event_type)
                     AS BIGINT) AS tw
            FROM pv),
      qs AS (SELECT event_type,
                    min(CASE WHEN cw * 2 >= tw * 1 THEN v END)
                      AS p50_late_min,
                    min(CASE WHEN cw * 10 >= tw * 9 THEN v END)
                      AS p90_late_min,
                    min(CASE WHEN cw * 100 >= tw * 99 THEN v END)
                      AS p99_late_min
             FROM c GROUP BY 1),
      agg AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(CASE WHEN late_min > 0 THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_disordered,
                     CAST(max(late_min) AS BIGINT) AS max_late_min
              FROM l GROUP BY 1)
      SELECT agg.event_type, agg.n, agg.n_disordered, agg.max_late_min,
             qs.p50_late_min, qs.p90_late_min, qs.p99_late_min
      FROM agg JOIN qs USING (event_type)
      ORDER BY agg.event_type""",


    // sweep-line replay: ±1 endpoints, running sum; at equal t the -1
    // sorts first (d ascending) exactly as the engine pins it
    "q246_max_concurrency" -> """
      WITH e AS (SELECT event_type, epoch_us(ts) AS us,
                        CAST(round(value * 100) AS BIGINT) % 3600 + 60
                          AS dur_s
                 FROM events),
      p AS (SELECT event_type, us AS t, 1 AS d FROM e
            UNION ALL
            SELECT event_type, us + dur_s * 1000000, -1 FROM e),
      r AS (SELECT event_type, t,
                   CAST(sum(d) OVER (PARTITION BY event_type
                     ORDER BY t, d ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW) AS BIGINT) AS run
            FROM p),
      m AS (SELECT event_type, max(run) AS max_concurrent
            FROM r GROUP BY 1)
      SELECT r.event_type, m.max_concurrent,
             CAST(min(r.t) AS BIGINT) AS at_us
      FROM r JOIN m ON r.event_type = m.event_type
                   AND r.run = m.max_concurrent
      GROUP BY 1, 2 ORDER BY 1""",


    "q248_reconcile_columns" -> """
      WITH prev AS (SELECT doc_id, source, lang, n_chars
                    FROM documents),
      v2 AS (SELECT doc_id,
                    CASE WHEN doc_id % 7 = 0 THEN 'migrated'
                         ELSE source END AS source,
                    lang,
                    CASE WHEN doc_id % 11 = 0 THEN n_chars + 1
                         ELSE n_chars END AS n_chars
             FROM documents WHERE doc_id % 13 <> 0
             UNION ALL
             SELECT doc_id + 1000000, source, lang, n_chars
             FROM documents WHERE doc_id % 17 = 0),
      j AS (SELECT p.doc_id AS pk, c.doc_id AS ck,
                   p.source AS ps, c.source AS cs,
                   p.lang AS pl, c.lang AS cl,
                   p.n_chars AS pn, c.n_chars AS cn
            FROM prev p FULL OUTER JOIN v2 c ON p.doc_id = c.doc_id)
      SELECT metric, n FROM (
        SELECT 'added' AS metric, CAST(sum(CASE WHEN pk IS NULL
                 THEN 1 ELSE 0 END) AS BIGINT) AS n FROM j
        UNION ALL SELECT 'removed', CAST(sum(CASE WHEN ck IS NULL
                 THEN 1 ELSE 0 END) AS BIGINT) FROM j
        UNION ALL SELECT 'matched', CAST(sum(CASE WHEN pk IS NOT NULL
                 AND ck IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                 FROM j
        UNION ALL SELECT 'changed_any', CAST(sum(CASE WHEN
                 pk IS NOT NULL AND ck IS NOT NULL AND
                 (ps IS DISTINCT FROM cs OR pl IS DISTINCT FROM cl
                  OR pn IS DISTINCT FROM cn) THEN 1 ELSE 0 END)
                 AS BIGINT) FROM j
        UNION ALL SELECT 'changed:source', CAST(sum(CASE WHEN
                 pk IS NOT NULL AND ck IS NOT NULL AND
                 ps IS DISTINCT FROM cs THEN 1 ELSE 0 END) AS BIGINT)
                 FROM j
        UNION ALL SELECT 'changed:lang', CAST(sum(CASE WHEN
                 pk IS NOT NULL AND ck IS NOT NULL AND
                 pl IS DISTINCT FROM cl THEN 1 ELSE 0 END) AS BIGINT)
                 FROM j
        UNION ALL SELECT 'changed:n_chars', CAST(sum(CASE WHEN
                 pk IS NOT NULL AND ck IS NOT NULL AND
                 pn IS DISTINCT FROM cn THEN 1 ELSE 0 END) AS BIGINT)
                 FROM j)
      ORDER BY metric""",


    "q249_autocorr" -> """
      WITH daily AS (SELECT event_type,
                            date_diff('day', DATE '1970-01-01',
                              CAST(ts AS DATE)) AS eday,
                            CAST(count(*) AS BIGINT) AS x
                     FROM events GROUP BY 1, 2),
      lags(lag) AS (VALUES (1), (2), (3), (7)),
      pr AS (SELECT a.event_type, l.lag, a.x AS x, b.x AS y
             FROM daily a CROSS JOIN lags l
             JOIN daily b ON b.event_type = a.event_type
                         AND b.eday = a.eday + l.lag),
      s AS (SELECT event_type, lag, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(x) AS BIGINT) AS sx,
                   CAST(sum(y) AS BIGINT) AS sy,
                   CAST(sum(x * x) AS BIGINT) AS sxx,
                   CAST(sum(y * y) AS BIGINT) AS syy,
                   CAST(sum(x * y) AS BIGINT) AS sxy
            FROM pr GROUP BY 1, 2)
      SELECT event_type, lag, n,
             n * sxy - sx * sy AS num,
             n * sxx - sx * sx AS den_x,
             n * syy - sy * sy AS den_y,
             CASE WHEN n * sxx - sx * sx > 0 AND
                       n * syy - sy * sy > 0 THEN
               CAST(n * sxy - sx * sy AS DOUBLE) /
                 (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
                  sqrt(CAST(n * syy - sy * sy AS DOUBLE)))
             END AS r
      FROM s ORDER BY event_type, lag""",


    "q250_rate_limit" -> rateLimitSql,


    "q252_abc_pareto" -> """
      WITH rev AS (SELECT l_partkey,
                          CAST(sum(CAST(round(l_extendedprice * 100)
                            AS BIGINT)) AS BIGINT) AS cents
                   FROM lineitem GROUP BY 1),
      c AS (SELECT l_partkey, cents,
                   CAST(sum(cents) OVER (ORDER BY cents DESC,
                     l_partkey ROWS BETWEEN UNBOUNDED PRECEDING AND
                     CURRENT ROW) AS BIGINT) AS cum,
                   CAST(sum(cents) OVER () AS BIGINT) AS tot
            FROM rev)
      SELECT CASE WHEN cum * 5 <= tot * 4 THEN 'A'
                  WHEN cum * 20 <= tot * 19 THEN 'B'
                  ELSE 'C' END AS class,
             CAST(count(*) AS BIGINT) AS n_parts,
             CAST(sum(cents) AS BIGINT) AS class_cents
      FROM c GROUP BY 1 ORDER BY 1""",


    "q254_burstiness" -> """
      WITH g AS (SELECT user_id,
                        (epoch_us(ts) - lag(epoch_us(ts)) OVER
                          (PARTITION BY user_id
                           ORDER BY epoch_us(ts), event_id))
                          // 60000000 AS d
                 FROM events),
      s AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
                   CAST(sum(d) AS BIGINT) AS sum_min,
                   CAST(sum(d * d) AS BIGINT) AS sdd,
                   CAST(max(d) AS BIGINT) AS max_gap_min
            FROM g WHERE d IS NOT NULL GROUP BY 1)
      SELECT user_id, n_gaps, sum_min, max_gap_min,
             n_gaps * sdd - sum_min * sum_min AS var_num,
             CASE WHEN sum_min > 0 THEN
               CAST(n_gaps * sdd - sum_min * sum_min AS DOUBLE) /
                 CAST(sum_min * sum_min AS DOUBLE)
             END AS cv2
      FROM s ORDER BY user_id""",


    "q255_table_fingerprint" -> """
      WITH r AS (SELECT source,
        (CASE WHEN doc_id IS NULL THEN 'N'
              ELSE CAST(strlen(CAST(doc_id AS VARCHAR)) AS VARCHAR)
                   || ':' || CAST(doc_id AS VARCHAR) END) ||
        (CASE WHEN lang IS NULL THEN 'N'
              ELSE CAST(strlen(lang) AS VARCHAR) || ':' || lang END) ||
        (CASE WHEN n_chars IS NULL THEN 'N'
              ELSE CAST(strlen(CAST(n_chars AS VARCHAR)) AS VARCHAR)
                   || ':' || CAST(n_chars AS VARCHAR) END) AS rend
        FROM documents)
      SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CAST(('0x' || substring(md5(rend), 1, 8))
                 AS BIGINT) % 2147483647) % 2147483647 AS BIGINT) AS fp
      FROM r GROUP BY source ORDER BY source""",


    "q257_fingerprint_merge" -> """
      WITH r AS (SELECT source, doc_id,
        (CASE WHEN doc_id IS NULL THEN 'N'
              ELSE CAST(strlen(CAST(doc_id AS VARCHAR)) AS VARCHAR)
                   || ':' || CAST(doc_id AS VARCHAR) END) ||
        (CASE WHEN lang IS NULL THEN 'N'
              ELSE CAST(strlen(lang) AS VARCHAR) || ':' || lang END) ||
        (CASE WHEN n_chars IS NULL THEN 'N'
              ELSE CAST(strlen(CAST(n_chars AS VARCHAR)) AS VARCHAR)
                   || ':' || CAST(n_chars AS VARCHAR) END) AS rend
        FROM documents),
      h AS (SELECT source, doc_id,
                   CAST(('0x' || substring(md5(rend), 1, 8))
                     AS BIGINT) % 2147483647 AS hh
            FROM r),
      whole AS (SELECT source, CAST(count(*) AS BIGINT) AS n_rows,
                       CAST(sum(hh) % 2147483647 AS BIGINT) AS fp
                FROM h GROUP BY 1),
      ev AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(hh) % 2147483647 AS BIGINT) AS f
             FROM h WHERE doc_id % 2 = 0 GROUP BY 1),
      od AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(hh) % 2147483647 AS BIGINT) AS f
             FROM h WHERE doc_id % 2 <> 0 GROUP BY 1),
      m AS (SELECT coalesce(ev.source, od.source) AS source,
                   CAST(coalesce(ev.n, 0) + coalesce(od.n, 0)
                     AS BIGINT) AS n_rows_merged,
                   CAST((coalesce(ev.f, 0) + coalesce(od.f, 0))
                     % 2147483647 AS BIGINT) AS fp_merged
            FROM ev FULL OUTER JOIN od ON ev.source = od.source)
      SELECT w.source, w.n_rows, w.fp, m.n_rows_merged, m.fp_merged,
             (w.fp = m.fp_merged AND w.n_rows = m.n_rows_merged)
               AS merge_ok
      FROM whole w JOIN m USING (source) ORDER BY source""",


    "q258_session_rle" -> """
      WITH e AS (SELECT user_id, event_type, event_id,
                        epoch_us(ts) AS us
                 FROM events),
      r AS (SELECT user_id, us, event_id,
                   CASE WHEN lag(event_type) OVER (PARTITION BY
                       user_id ORDER BY us, event_id)
                     IS DISTINCT FROM event_type THEN 1 ELSE 0 END
                     AS chg
            FROM e),
      rr AS (SELECT user_id, CAST(sum(chg) OVER (PARTITION BY user_id
               ORDER BY us, event_id ROWS UNBOUNDED PRECEDING)
               AS BIGINT) AS run
             FROM r),
      pr AS (SELECT user_id, run, CAST(count(*) AS BIGINT) AS len
             FROM rr GROUP BY 1, 2)
      SELECT user_id, CAST(sum(len) AS BIGINT) AS n_events,
             CAST(count(*) AS BIGINT) AS n_runs,
             CAST(max(len) AS BIGINT) AS longest_run,
             CAST(sum(len) AS DOUBLE) / CAST(count(*) AS DOUBLE)
               AS compression
      FROM pr GROUP BY 1 ORDER BY 1""",


    "q259_assoc_rules" -> """
      WITH m AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i
                 FROM lineitem),
      p AS (SELECT a.i AS src, b.i AS dst,
                   CAST(count(*) AS BIGINT) AS support
            FROM m a JOIN m b USING (g) WHERE a.i <> b.i
            GROUP BY 1, 2),
      it AS (SELECT i, CAST(count(*) AS BIGINT) AS n_i
             FROM m GROUP BY 1),
      nb AS (SELECT CAST(count(DISTINCT g) AS BIGINT) AS n FROM m)
      SELECT p.src, p.dst, p.support, a.n_i AS n_src, d.n_i AS n_dst,
             p.support * nb.n AS lift_num,
             a.n_i * d.n_i AS lift_den,
             CAST(p.support AS DOUBLE) / CAST(a.n_i AS DOUBLE)
               AS confidence,
             CAST(p.support * nb.n AS DOUBLE) /
               CAST(a.n_i * d.n_i AS DOUBLE) AS lift
      FROM p JOIN it a ON a.i = p.src JOIN it d ON d.i = p.dst
      CROSS JOIN nb
      WHERE p.support >= 3
      ORDER BY p.support DESC, p.src, p.dst LIMIT 100""",


    "q262_percentile_cont" -> """
      WITH v AS (SELECT l_returnflag,
                        CAST(round(l_extendedprice * 100) AS BIGINT)
                          AS v
                 FROM lineitem)
      SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
             quantile_cont(v, 0.25) AS p25_cents,
             quantile_cont(v, 0.5) AS p50_cents,
             quantile_cont(v, 0.75) AS p75_cents
      FROM v GROUP BY 1 ORDER BY 1""",


    "q263_histogram_bins" -> """
      WITH e AS (SELECT event_type,
                        CAST(round(value * 100) AS BIGINT) AS v
                 FROM events),
      b AS (SELECT event_type, min(v) AS lo, max(v) AS hi
            FROM e GROUP BY 1)
      SELECT e.event_type,
             CAST((e.v - b.lo) * 10 // (b.hi - b.lo + 1) AS INT)
               AS bin,
             CAST(count(*) AS BIGINT) AS n,
             CAST(min(e.v) AS BIGINT) AS bin_min,
             CAST(max(e.v) AS BIGINT) AS bin_max
      FROM e JOIN b USING (event_type)
      GROUP BY 1, 2 ORDER BY 1, 2""",


    "q266_pps_sample" -> """
      WITH rev AS (SELECT l_partkey,
                          CAST(sum(CAST(round(l_extendedprice * 100)
                            AS BIGINT)) AS BIGINT) AS cents
                   FROM lineitem GROUP BY 1),
      c AS (SELECT l_partkey, cents,
                   CAST(sum(cents) OVER (ORDER BY cents DESC,
                     l_partkey ROWS BETWEEN UNBOUNDED PRECEDING AND
                     CURRENT ROW) AS BIGINT) AS cum,
                   CAST(sum(cents) OVER () AS BIGINT) AS tot
            FROM rev),
      s AS (SELECT l_partkey, cents, cum, tot // 200 + 1 AS step
            FROM c)
      SELECT l_partkey, cents, cum,
             CAST(cum // step - (cum - cents) // step AS BIGINT)
               AS n_hits
      FROM s
      WHERE cum // step - (cum - cents) // step >= 1
      ORDER BY l_partkey""",


    "q267_gap_fill" -> """
      WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
                            CAST(count(*) AS BIGINT) AS n
                     FROM events GROUP BY 1, 2),
      bounds AS (SELECT event_type, min(day) AS lo, max(day) AS hi
                 FROM daily GROUP BY 1),
      grid AS (SELECT event_type,
                      CAST(unnest(generate_series(CAST(lo AS
                        TIMESTAMP), CAST(hi AS TIMESTAMP),
                        INTERVAL 1 DAY)) AS DATE) AS day
               FROM bounds)
      SELECT g.event_type, g.day,
             CAST(coalesce(d.n, 0) AS BIGINT) AS n,
             d.n IS NULL AS filled
      FROM grid g LEFT JOIN daily d
        ON d.event_type = g.event_type AND d.day = g.day
      ORDER BY g.event_type, g.day""",


    // next-fit fold over size-desc docs, [bins, last_fill] list state
    // (the q250 list-not-struct discipline), cap 4000 chars
    "q274_compaction_planner" -> """
      WITH l AS (SELECT source, CAST(count(*) AS BIGINT) AS n_files,
                        CAST(sum(n_chars) AS BIGINT) AS total_chars,
                        list_prepend([CAST(0 AS BIGINT), 4000],
                          list([CAST(0 AS BIGINT), n_chars]
                            ORDER BY n_chars DESC, doc_id)) AS xs
                 FROM documents GROUP BY source),
      f AS (SELECT source, n_files, total_chars,
                   list_reduce(xs, (s, x) -> CASE
                     WHEN s[2] + x[2] <= 4000
                       THEN [s[1], s[2] + x[2]]
                     ELSE [s[1] + 1, x[2]] END) AS st
            FROM l)
      SELECT source, n_files, total_chars, st[1] AS n_bins,
             CAST(total_chars AS DOUBLE) /
               CAST(st[1] * 4000 AS DOUBLE) AS fill_frac
      FROM f ORDER BY source""",


    "q275_surrogate_keys" -> """
      WITH d AS (SELECT DISTINCT source || '|' || lang AS dim
                 FROM documents),
      h AS (SELECT dim, md5('dim1:' || dim) AS h FROM d)
      SELECT dim, CAST(row_number() OVER (ORDER BY h, dim)
               AS BIGINT) AS sk
      FROM h ORDER BY sk""",


    "q276_quantile_shift" -> """
      WITH e AS (SELECT event_type, epoch_us(ts) AS us,
                        CAST(round(value * 100) AS BIGINT) AS cents
                 FROM events),
      bounds AS (SELECT min(us) + (max(us) - min(us)) // 2 AS mid
                 FROM e),
      pv1 AS (SELECT event_type, cents AS v,
                     CAST(count(*) AS BIGINT) AS w
              FROM e, bounds WHERE us <= mid GROUP BY 1, 2),
      c1 AS (SELECT event_type, v,
                    CAST(sum(w) OVER (PARTITION BY event_type
                      ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS BIGINT) AS cw,
                    CAST(sum(w) OVER (PARTITION BY event_type)
                      AS BIGINT) AS tw
             FROM pv1),
      q1 AS (SELECT event_type, max(tw) AS p50_first_n,
                    min(CASE WHEN cw * 2 >= tw THEN v END)
                      AS p50_first
             FROM c1 GROUP BY 1),
      pv2 AS (SELECT event_type, cents AS v,
                     CAST(count(*) AS BIGINT) AS w
              FROM e, bounds WHERE us > mid GROUP BY 1, 2),
      c2 AS (SELECT event_type, v,
                    CAST(sum(w) OVER (PARTITION BY event_type
                      ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                      AND CURRENT ROW) AS BIGINT) AS cw,
                    CAST(sum(w) OVER (PARTITION BY event_type)
                      AS BIGINT) AS tw
             FROM pv2),
      q2 AS (SELECT event_type, max(tw) AS p50_second_n,
                    min(CASE WHEN cw * 2 >= tw THEN v END)
                      AS p50_second
             FROM c2 GROUP BY 1)
      SELECT q1.event_type, q1.p50_first_n, q1.p50_first,
             q2.p50_second_n, q2.p50_second,
             q2.p50_second - q1.p50_first AS shift_cents
      FROM q1 JOIN q2 USING (event_type)
      ORDER BY q1.event_type""",


    "q277_fk_orphans" -> """
      WITH r1 AS (SELECT 'lineitem.l_orderkey->orders' AS relation,
                         CAST(count(*) AS BIGINT) AS n_child,
                         CAST(count(DISTINCT l_orderkey) AS BIGINT)
                           AS n_keys,
                         CAST(sum(CASE WHEN o.o_orderkey IS NULL
                           THEN 1 ELSE 0 END) AS BIGINT)
                           AS n_orphan_rows
                  FROM lineitem l LEFT JOIN orders o
                    ON l.l_orderkey = o.o_orderkey),
      r2 AS (SELECT 'orders.o_custkey->customer',
                    CAST(count(*) AS BIGINT),
                    CAST(count(DISTINCT o_custkey) AS BIGINT),
                    CAST(sum(CASE WHEN c.c_custkey IS NULL
                      THEN 1 ELSE 0 END) AS BIGINT)
             FROM orders o LEFT JOIN customer c
               ON o.o_custkey = c.c_custkey),
      r3 AS (SELECT 'customer.c_nationkey->nation',
                    CAST(count(*) AS BIGINT),
                    CAST(count(DISTINCT c_nationkey) AS BIGINT),
                    CAST(sum(CASE WHEN n.n_nationkey IS NULL
                      THEN 1 ELSE 0 END) AS BIGINT)
             FROM customer c LEFT JOIN nation n
               ON c.c_nationkey = n.n_nationkey),
      u AS (SELECT * FROM r1 UNION ALL SELECT * FROM r2
            UNION ALL SELECT * FROM r3)
      SELECT relation, n_child, n_keys, n_orphan_rows,
             n_orphan_rows = 0 AS intact
      FROM u ORDER BY relation""",


    "q278_k_anonymity" -> """
      WITH cls AS (SELECT source, n_chars // 100 AS len_bucket,
                          CAST(count(*) AS BIGINT) AS sz,
                          CAST(count(DISTINCT lang) AS BIGINT) AS l
                   FROM documents GROUP BY 1, 2)
      SELECT CAST(count(*) AS BIGINT) AS n_classes,
             CAST(sum(sz) AS BIGINT) AS n_rows,
             CAST(min(sz) AS BIGINT) AS k_anonymity,
             CAST(min(l) AS BIGINT) AS l_diversity,
             CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT)
               AS rows_below_k5,
             CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS DOUBLE)
               / CAST(sum(sz) AS DOUBLE) AS frac_below_k5
      FROM cls""",


    "q279_reshard_census" -> """
      WITH h AS (SELECT doc_id,
                        CAST(('0x' || substring(md5(
                          CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
                          AS hh
                 FROM documents),
      s AS (SELECT doc_id, hh % 8 AS m8, hh % 9 AS m9,
                   hh * 8 // 4294967296 AS r8,
                   hh * 9 // 4294967296 AS r9
            FROM h)
      SELECT CAST(count(*) AS BIGINT) AS n_keys,
             CAST(sum(CASE WHEN m8 <> m9 THEN 1 ELSE 0 END)
               AS BIGINT) AS moved_mod,
             CAST(sum(CASE WHEN r8 <> r9 THEN 1 ELSE 0 END)
               AS BIGINT) AS moved_range,
             CAST(sum(CASE WHEN m8 <> m9 THEN 1 ELSE 0 END)
               AS DOUBLE) / CAST(count(*) AS DOUBLE)
               AS frac_moved_mod,
             CAST(sum(CASE WHEN r8 <> r9 THEN 1 ELSE 0 END)
               AS DOUBLE) / CAST(count(*) AS DOUBLE)
               AS frac_moved_range
      FROM s""",


    "q280_sample_representativeness" -> """
      WITH d AS (SELECT lang,
                        CAST(('0x' || substring(md5(
                          CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER)
                          % 100 < 10 AS in_sample
                 FROM documents),
      per AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_pop,
                     CAST(sum(CASE WHEN in_sample THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_samp
              FROM d GROUP BY 1),
      tot AS (SELECT CAST(sum(n_pop) AS BIGINT) AS tp,
                     CAST(sum(n_samp) AS BIGINT) AS ts
              FROM per)
      SELECT lang, n_pop, n_samp,
             CAST(n_pop AS DOUBLE) * CAST(ts AS DOUBLE) /
               CAST(tp AS DOUBLE) AS expected,
             (CAST(n_samp AS DOUBLE) - CAST(n_pop AS DOUBLE) *
                CAST(ts AS DOUBLE) / CAST(tp AS DOUBLE)) *
             (CAST(n_samp AS DOUBLE) - CAST(n_pop AS DOUBLE) *
                CAST(ts AS DOUBLE) / CAST(tp AS DOUBLE)) /
             (CAST(n_pop AS DOUBLE) * CAST(ts AS DOUBLE) /
                CAST(tp AS DOUBLE)) AS chi2_term
      FROM per CROSS JOIN tot ORDER BY lang""",

    "q284_retention_forecast" -> retentionForecastSql,

    "q285_dict_encoding_planner" -> dictPlannerSql,


    "q286_ship_delay_sla" -> """
      WITH d AS (SELECT o.o_orderpriority,
                        CAST(date_diff('day',
                          CAST(o.o_orderdate AS DATE),
                          CAST(l.l_shipdate AS DATE)) AS BIGINT)
                          AS delay_days
                 FROM lineitem l JOIN orders o
                   ON o.o_orderkey = l.l_orderkey),
      pv AS (SELECT o_orderpriority, delay_days AS v,
                    CAST(count(*) AS BIGINT) AS w
             FROM d GROUP BY 1, 2),
      c AS (SELECT o_orderpriority, v,
                   CAST(sum(w) OVER (PARTITION BY o_orderpriority
                     ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND
                     CURRENT ROW) AS BIGINT) AS cw,
                   CAST(sum(w) OVER (PARTITION BY o_orderpriority)
                     AS BIGINT) AS tw
            FROM pv),
      qs AS (SELECT o_orderpriority,
                    min(CASE WHEN cw * 2 >= tw THEN v END) AS p50_days,
                    min(CASE WHEN cw * 10 >= tw * 9 THEN v END)
                      AS p90_days
             FROM c GROUP BY 1),
      agg AS (SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
                     CAST(max(delay_days) AS BIGINT) AS max_days,
                     CAST(sum(CASE WHEN delay_days > 90 THEN 1 ELSE 0
                       END) AS BIGINT) AS n_breach
              FROM d GROUP BY 1)
      SELECT a.o_orderpriority, a.n, a.max_days, a.n_breach,
             q.p50_days, q.p90_days,
             CAST(a.n_breach AS DOUBLE) / CAST(a.n AS DOUBLE)
               AS breach_frac
      FROM agg a JOIN qs q USING (o_orderpriority)
      ORDER BY a.o_orderpriority""",


    "q338_shuffle_sizing" -> """
      WITH b AS (SELECT CAST(('0x' || substring(md5(
                   CAST(l_orderkey AS VARCHAR)), 1, 12)) AS BIGINT)
                   % 32 AS bucket
                 FROM lineitem),
      bk AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows
             FROM b GROUP BY 1),
      bb AS (SELECT bucket, n_rows, n_rows * 64 AS bytes,
                    (n_rows * 64 > 4194304) AS spills
             FROM bk),
      t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS tot,
                   CAST(max(n_rows) AS BIGINT) AS mx,
                   CAST(sum(CASE WHEN spills THEN 1 ELSE 0 END)
                     AS BIGINT) AS nspill
            FROM bb)
      SELECT bb.bucket, bb.n_rows, CAST(bb.bytes AS BIGINT) AS bytes,
             bb.spills, t.mx AS max_bucket_rows,
             t.nspill AS n_spilling,
             round(t.mx * 32 * 1.0 / t.tot, 6) AS skew_ratio
      FROM bb CROSS JOIN t ORDER BY bb.bucket""",


    "q339_salt_planner" -> """
      WITH p AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
                 FROM events GROUP BY 1),
      pl AS (SELECT event_type, n,
                    (n + 1999) // 2000 AS salt_factor
             FROM p),
      pl2 AS (SELECT *, (n + salt_factor - 1) // salt_factor
                AS ceil_bound FROM pl),
      r AS (SELECT e.event_type,
                   CAST(('0x' || substring(md5(
                     CAST(e.event_id AS VARCHAR)), 1, 12)) AS BIGINT)
                     % pl2.salt_factor AS salt
            FROM events e JOIN pl2 USING (event_type)),
      sub AS (SELECT event_type, salt, CAST(count(*) AS BIGINT) AS c
              FROM r GROUP BY 1, 2),
      rz AS (SELECT event_type, CAST(max(c) AS BIGINT)
               AS actual_max_subtask
             FROM sub GROUP BY 1),
      hb AS (SELECT CAST(max(n) AS BIGINT) AS before_ FROM pl2),
      ha AS (SELECT CAST(max(actual_max_subtask) AS BIGINT) AS after_
             FROM rz)
      SELECT pl2.event_type, pl2.n,
             CAST(pl2.salt_factor AS BIGINT) AS salt_factor,
             CAST(pl2.ceil_bound AS BIGINT) AS ceil_bound,
             rz.actual_max_subtask,
             round(rz.actual_max_subtask * pl2.salt_factor * 1.0
               / pl2.n, 6) AS imbalance,
             hb.before_ AS max_task_before, ha.after_ AS max_task_after
      FROM pl2 JOIN rz USING (event_type)
      CROSS JOIN hb CROSS JOIN ha
      ORDER BY pl2.event_type"""
  )
}
