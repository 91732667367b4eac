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

/** Query + oracle definitions — ETL surfaces: log/JSON parsing, typed sinks, lineage, schema merge.
  * Concatenated into SparkEntry.queries / SparkEntry.oracleSql (the
  * driver contract); see SparkEntry's scaladoc for the output and
  * floating-point conventions every entry follows. */
private[graft] object QueriesEtl {
  import QueryShared._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- M6 T3/T4: structured-log-line parse (roundtrip through a raw
    //     text form, with malformed noise lines quarantined out) ---
    "q32_etl_parse" -> rounded("sum_value" -> 4)({ (spark, dir) =>
      val events = tbl(spark, dir, "events")
      val good = events.select(concat_ws("|", lit("EVT"), col("event_id"),
        col("event_type"), col("value")).as("line"))
      val noise = events.filter(col("event_id") % 10 === 0)
        .select(concat(lit("GARBAGE "), col("event_id")).as("line"))
      val lines = SetOps.concat(Seq(good, noise))
      LogParse.parseDelimited(lines, col("line"), "EVT",
          Seq(("event_id", LongType), ("event_type", StringType),
              ("value", DoubleType)))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
        .orderBy(col("event_type"))
    }),


    // --- M6 T7: etl lineage chain (two stages, flattened out) ---
    "q33_etl_lineage" -> { (spark, dir) =>
      val docs = tbl(spark, dir, "documents")
      val t0 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
      val withHead = Lineage.withEtl(docs, col("doc_id"), "raw-docs",
        col("source"), "extract", t0, "rev1")
      val staged = withHead.withColumn("etl",
        Lineage.etlStage(col("doc_id") + 1000000L, col("etl"), "join", t0,
          "rev1"))
      staged.select(col("doc_id"),
          col("etl.id").as("etl_id"),
          col("etl.type").as("etl_type"),
          col("etl.source.id").as("parent_id"),
          col("etl.source.source.bucket").as("root_bucket"),
          col("etl.source.source.key").as("root_key"),
          col("etl.timestamp").as("etl_ts"),
          col("etl.revision").as("etl_rev"))
        .orderBy(col("doc_id"))
    },


    // --- S1/2j: JSON-lines payload decode (from_json with schema) ---
    "q35_json_decode" -> { (spark, dir) =>
      val events = tbl(spark, dir, "events")
      events.select(col("event_type"),
          from_json(col("props"), new StructType().add("k", IntegerType))
            .getField("k").as("k"))
        .groupBy(col("event_type"))
        .agg(count(col("k")).as("n_k"), sum(col("k")).as("sum_k"))
        .orderBy(col("event_type"))
    },


    // --- §2k T3: mozlog typed-ADT transform end-to-end. Structured
    //     log lines are GENERATED from the events table (one test per
    //     user, one subtest per event, deterministic status mapping,
    //     plus non-JSON noise), parsed by the typed flatMap, and
    //     assembled into per-test docs with the status-priority
    //     rollup; the oracle re-derives the same docs from events
    //     directly ---
    "q49_mozlog_tests" -> { (spark, dir) =>
      val events = tbl(spark, dir, "events")
      val statusOf = when(col("event_type") === "error", "FAIL")
        .when(col("event_type") === "purchase", "TIMEOUT")
        .otherwise("PASS")
      val statusLines = events.select(to_json(struct(
        lit("test_status").as("action"),
        col("event_id").as("time"),
        concat(lit("test_"), col("user_id")).as("test"),
        concat(lit("sub_"), col("event_id")).as("subtest"),
        statusOf.as("status"),
        lit("PASS").as("expected"))).as("line"))
      val endLines = events.groupBy(col("user_id"))
        .agg(max(col("event_id")).as("m"))
        .select(to_json(struct(
          lit("test_end").as("action"),
          (col("m") + 1).as("time"),
          concat(lit("test_"), col("user_id")).as("test"),
          lit("OK").as("status"),
          lit("OK").as("expected"))).as("line"))
      val noise = events.filter(col("event_id") % 7 === 0)
        .select(concat(lit("not json "), col("event_id")).as("line"))
      val lines = SetOps.concat(Seq(statusLines, endLines, noise))
      MozLog.testDocs(MozLog.parse(lines, col("line")))
        .orderBy(col("test"))
    },


    // --- §2j JSON scrub: dirty JSON-lines ingest (bare NaN values,
    //     fully broken lines) through the lenient decoder; dirt lands
    //     as nulls / an all-null quarantine group, never an error ---
    "q52_json_scrub" -> rounded("sum_v" -> 4)({ (spark, dir) =>
      val events = tbl(spark, dir, "events")
      val json = to_json(struct(col("event_id").as("id"),
        col("event_type").as("t"), col("value").as("v")))
      val dirty = when(col("event_id") % 17 === 0, lit("{broken"))
        .when(col("event_id") % 10 === 0,
          regexp_replace(json, "\"v\":[-0-9.Ee+]+", "\"v\":NaN"))
        .otherwise(json)
      val parsed = LogParse.parseJsonLenient(
        events.select(dirty.as("line")), col("line"),
        new StructType().add("id", LongType).add("t", StringType)
          .add("v", DoubleType))
      parsed.groupBy(col("t"))
        .agg(count(lit(1)).as("n_rows"), count(col("id")).as("n_id"),
          count(col("v")).as("n_v"), sum(col("v")).as("sum_v"))
        .orderBy(col("t"))
    }),


    // --- S2 + T8: partitioned block sink + backfill read-back. The
    //     events are written as (event_type, day)-partitioned parquet
    //     blocks to a fresh dir and re-read; the oracle aggregates the
    //     source directly, so the write->read roundtrip must be
    //     lossless (incl. the partition-column date typing) ---
    "q54_sink_blocks" -> rounded("sum_value" -> 4)({ (spark, dir) =>
      val events = tbl(spark, dir, "events")
      val out = Scratch.dir("graft_q54")
        .toString
      // repartition on the block key before the partitioned write: one
      // file per block instead of (tasks × blocks) small files — the
      // small-files guard every partitioned 100 TB sink needs
      graft.sources.Sinks.writeBlocks(
        events.withColumn("day", to_date(col("ts")))
          .repartition(col("event_type"), col("day")), out,
        Seq("event_type", "day"))
      graft.sources.Sinks.read(spark, out)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"),
             countDistinct(col("day")).as("n_days"))
        .orderBy(col("event_type"))
    }),


    // --- S6: time-rolled sink with retention — rows older than the
    //     cutoff never reach the partition dirs (epoch-ms "now" so the
    //     cutoff is TZ-independent: 2024-01-31T00:00Z - 10 days) ---
    "q55_sink_rollover" -> rounded("sum_value" -> 4)({ (spark, dir) =>
      val events = tbl(spark, dir, "events")
      val out = Scratch.dir("graft_q55")
        .toString
      graft.sources.Sinks.writeRollover(events, out, col("ts"),
        retainDays = 10, now = new java.sql.Timestamp(1706659200000L))
      graft.sources.Sinks.read(spark, out)
        .groupBy(col("__date"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
        .orderBy(col("__date"))
    }),


    // --- 2j typed-JSON + S5: encode to type-suffixed JSON lines,
    //     write them through a TEXT sink (the ES-shaped egress), read
    //     back, decode, and aggregate; oracle aggregates the source ---
    "q57_typed_json_sink" -> rounded("sum_v" -> 4)({ (spark, dir) =>
      val events = tbl(spark, dir, "events")
      val sel = events.select(col("event_id"), col("event_type"),
        col("value"), col("ts"))
      val encSchema = graft.etl.TypedJson.encode(sel).schema
      val out = Scratch.dir("graft_q57")
        .toString
      graft.etl.TypedJson.encodeJsonLines(sel)
        .write.mode("overwrite").text(out)
      val back = spark.read.text(out)
        .select(from_json(col("value"), encSchema).as("j"))
        .select(col("j.*"))
      graft.etl.TypedJson.decode(back)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_v"),
             max(col("ts")).as("max_ts_unix"))
        .orderBy(col("event_type"))
    }),


    // --- S7: split sink — one computed frame fanned out to two sinks
    //     (full copy + filtered copy), both read back and compared ---
    "q62_split_sink" -> { (spark, dir) =>
      val events = tbl(spark, dir, "events")
      val d1 = Scratch.dir("graft_q62a")
        .toString
      val d2 = Scratch.dir("graft_q62b")
        .toString
      graft.sources.Sinks.split(events, Seq(
        df => graft.sources.Sinks.replace(df, d1),
        df => graft.sources.Sinks.replace(
          df.filter(col("event_type") =!= "error"), d2)))
      val a = graft.sources.Sinks.read(spark, d1).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_all"))
      val b = graft.sources.Sinks.read(spark, d2).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_filtered"))
      a.join(b, Seq("event_type"), "left")
        .select(col("event_type"), col("n_all"),
          coalesce(col("n_filtered"), lit(0L)).as("n_filtered"))
        .orderBy(col("event_type"))
    },


    // --- 2k T4: perfherder-style marked-JSON extraction from mixed
    //     log lines (marker lines decoded, plain lines skipped);
    //     doubles roundtrip losslessly through Spark's shortest-repr
    //     formatting, so the oracle aggregates the source directly ---
    "q68_perfherder" -> rounded("avg_value" -> 6)({ (spark, dir) =>
      val events = tbl(spark, dir, "events")
      val lines = events.select(
        when(col("event_id") % 3 === 0,
          concat(lit("PERFHERDER_DATA: {\"suite\": \""), col("event_type"),
            lit("\", \"value\": "), col("value"), lit("}")))
          .otherwise(concat(lit("plain log line "), col("event_id")))
          .as("line"))
      LogParse.parseMarkedJson(lines, col("line"), "PERFHERDER_DATA",
          new StructType().add("suite", StringType)
            .add("value", DoubleType))
        .groupBy(col("suite"))
        .agg(count(lit(1)).as("n"), avg(col("value")).as("avg_value"))
        .orderBy(col("suite"))
    }),


    // --- 2k T5: lcov-style DA-line coverage aggregation, sections
    //     keyed by order status; SF/noise lines filtered out ---
    "q69_coverage" -> { (spark, dir) =>
      val orders = tbl(spark, dir, "orders")
      val da = orders.select(col("o_orderstatus").as("sk"),
        concat(lit("DA:"), col("o_orderkey") % 1000, lit(","),
          when(col("o_totalprice") > 150000, 1).otherwise(0)).as("line"))
      val noise = orders.filter(col("o_orderkey") % 11 === 0)
        .select(col("o_orderstatus").as("sk"),
          concat(lit("SF:file_"), col("o_orderstatus")).as("line"))
      LogParse.coverageFromDaLines(SetOps.concat(Seq(da, noise)),
          col("sk"), col("line"))
        .orderBy(col("source_file"))
    },


    // --- dynamic-schema merge policy: two heterogeneous frames
    //     (disjoint optional columns + a long-vs-double conflict on
    //     `value`) merged by the widening rules and unioned; missing
    //     columns land as null (JX missing semantics) ---
    "q71_schema_merge" -> rounded("sum_v" -> 4)({ (spark, dir) =>
      val events = tbl(spark, dir, "events")
      val a = events.filter(col("event_id") % 2 === 0)
        .select(col("event_id"), col("event_type"), col("value"))
      val b = events.filter(col("event_id") % 2 === 1)
        .select(col("event_id"), col("user_id"),
          col("value").cast(LongType).as("value"))
      graft.tables.SchemaMerge.unionAll(Seq(a, b))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_v"),
          count(col("user_id")).as("n_user"))
        .orderBy(col("event_type"))
    }),


    // --- corrupt-record quarantine (robust ingestion): a mixed
    //     JSON-lines feed where every 7th line is truncated;
    //     PERMISSIVE from_json nulls the malformed rows and the
    //     census groups them under the null key — the
    //     quarantine-don't-crash contract every lake ingest needs,
    //     mirrored by json_valid in the oracle. Row-local except the
    //     tiny census aggregate. ---
    "q196_json_quarantine" -> { (spark, dir) =>
      val ev = tbl(spark, dir, "events")
      val lines = ev.select(
        when(pmod(col("event_id"), lit(7)) === 0,
          concat(lit("{\"k\": "), col("event_id")))
          .otherwise(concat(lit("{\"k\": "), col("event_id"),
            lit(", \"t\": \""), col("event_type"), lit("\"}")))
          .as("line"))
      lines
        .withColumn("__j", from_json(col("line"),
          new StructType().add("k", LongType).add("t", StringType)))
        .select(col("__j.t").as("t"))
        .groupBy(col("t")).agg(count(lit(1)).as("n"))
        .orderBy(col("t"))
    },


    // --- LOG TEMPLATE MINING (Drain-style): events rendered as log
    //     lines; clusters keyed by (token count, first token), a
    //     position becomes <*> when >1 distinct token appears there.
    //     Two narrow exchanges ((cluster, pos) census + cluster
    //     reassembly), the line text never self-joins. ---
    "q247_log_templates" -> { (spark, dir) =>
      val ev = tbl(spark, dir, "events")
      val lines = ev.select(concat(
          format_string("%s user=%d took %d ms", col("event_type"),
            col("user_id"),
            expr("CAST(round(value * 100) AS BIGINT) % 1000")),
          when(pmod(col("user_id"), lit(10)) === 0, lit(" flagged"))
            .otherwise(lit(""))).as("line"))
      graft.etl.LogTemplate.mine(lines, col("line"), minSupport = 2L)
        .orderBy(col("n_lines").desc, col("template"))
    }
  )

  def oracleSql: Map[String, String] = Map(

    "q32_etl_parse" -> """
      SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_value
      FROM events GROUP BY 1 ORDER BY 1""",


    "q33_etl_lineage" -> """
      SELECT doc_id, doc_id + 1000000 AS etl_id, 'join' AS etl_type,
             doc_id AS parent_id, 'raw-docs' AS root_bucket,
             source AS root_key, TIMESTAMP '2026-01-01' AS etl_ts,
             'rev1' AS etl_rev
      FROM documents ORDER BY doc_id""",


    "q35_json_decode" -> """
      SELECT event_type, count(*) AS n_k,
             CAST(sum(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT)
               AS sum_k
      FROM events GROUP BY 1 ORDER BY 1""",


    // re-derives the per-test docs straight from events: subtest status
    // mapping (error->FAIL, purchase->TIMEOUT, else PASS), expected
    // PASS, test_end always OK/OK; worst-status rollup order
    // TIMEOUT > FAIL > PASS > OK
    "q49_mozlog_tests" -> """
      WITH s AS (
        SELECT user_id, event_id,
               CASE WHEN event_type = 'error' THEN 'FAIL'
                    WHEN event_type = 'purchase' THEN 'TIMEOUT'
                    ELSE 'PASS' END AS st
        FROM events)
      SELECT 'test_' || user_id AS test,
             count(*) AS n_subtests,
             CAST(sum(CASE WHEN st <> 'PASS' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_failed,
             'OK' AS end_status,
             CASE WHEN sum(CASE WHEN st = 'TIMEOUT' THEN 1 ELSE 0 END) > 0
                    THEN 'TIMEOUT'
                  WHEN sum(CASE WHEN st = 'FAIL' THEN 1 ELSE 0 END) > 0
                    THEN 'FAIL'
                  ELSE 'PASS' END AS status,
             sum(CASE WHEN st <> 'PASS' THEN 1 ELSE 0 END) = 0 AS ok,
             string_agg('sub_' || event_id, ',' ORDER BY event_id)
               AS subtests_csv
      FROM s GROUP BY user_id ORDER BY test""",


    // the scrub semantics re-derived: %17 lines are fully broken (all
    // fields null), %10 lines lose only the NaN value; nothing errors
    "q52_json_scrub" -> """
      WITH m AS (
        SELECT CASE WHEN event_id % 17 = 0 THEN NULL
                    ELSE event_type END AS t,
               CASE WHEN event_id % 17 = 0 THEN NULL
                    ELSE event_id END AS id,
               CASE WHEN event_id % 17 = 0 OR event_id % 10 = 0 THEN NULL
                    ELSE value END AS v
        FROM events)
      SELECT t, count(*) AS n_rows, count(id) AS n_id, count(v) AS n_v,
             round(sum(v), 4) AS sum_v
      FROM m GROUP BY t ORDER BY t""",


    "q54_sink_blocks" -> """
      SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_value,
             count(DISTINCT CAST(ts AS DATE)) AS n_days
      FROM events GROUP BY 1 ORDER BY 1""",


    // cutoff = 2024-01-31T00:00Z - 10 days
    "q55_sink_rollover" -> """
      SELECT CAST(ts AS DATE) AS __date, count(*) AS n,
             round(sum(value), 4) AS sum_value
      FROM events WHERE ts >= TIMESTAMP '2024-01-21 00:00:00'
      GROUP BY 1 ORDER BY 1""",


    // ts encodes as truncated unix seconds (monotonic, so max commutes)
    "q57_typed_json_sink" -> """
      SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_v,
             CAST(max(epoch_us(ts) // 1000000) AS DOUBLE) AS max_ts_unix
      FROM events GROUP BY 1 ORDER BY 1""",


    "q62_split_sink" -> """
      SELECT event_type, count(*) AS n_all,
             count(*) FILTER (WHERE event_type <> 'error') AS n_filtered
      FROM events GROUP BY 1 ORDER BY 1""",


    "q68_perfherder" -> """
      SELECT event_type AS suite, count(*) AS n,
             round(avg(value), 6) AS avg_value
      FROM events WHERE event_id % 3 = 0
      GROUP BY 1 ORDER BY 1""",


    "q69_coverage" -> """
      SELECT o_orderstatus AS source_file,
             count(*) AS lines_total,
             CAST(sum(CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END)
               AS BIGINT) AS lines_covered,
             round(CAST(sum(CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0
                            END) AS DOUBLE) / count(*), 6) AS coverage
      FROM orders GROUP BY 1 ORDER BY 1""",


    // widen policy mirrored: value long-vs-double -> double (Spark's
    // double->long cast truncates toward zero, hence trunc());
    // columns absent from a frame -> null
    "q71_schema_merge" -> """
      WITH u AS (
        SELECT event_id, event_type, value, NULL AS user_id
        FROM events WHERE event_id % 2 = 0
        UNION ALL
        SELECT event_id, NULL, CAST(trunc(value) AS DOUBLE), user_id
        FROM events WHERE event_id % 2 = 1)
      SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_v,
             count(user_id) AS n_user
      FROM u GROUP BY 1 ORDER BY 1""",


    "q196_json_quarantine" -> """
      WITH l AS (SELECT event_id,
                   CASE WHEN event_id % 7 = 0
                        THEN '{"k": ' || event_id
                        ELSE '{"k": ' || event_id || ', "t": "'
                             || event_type || '"}' END AS line
                 FROM events)
      SELECT CASE WHEN json_valid(line)
                  THEN json_extract_string(line, '$.t') END AS t,
             CAST(count(*) AS BIGINT) AS n
      FROM l GROUP BY 1 ORDER BY 1""",


    "q247_log_templates" -> """
      WITH lines AS (SELECT event_type || ' user=' ||
                            CAST(user_id AS VARCHAR) || ' took ' ||
                            CAST(CAST(round(value * 100) AS BIGINT)
                              % 1000 AS VARCHAR) || ' ms' ||
                            CASE WHEN user_id % 10 = 0 THEN ' flagged'
                                 ELSE '' END AS line
                     FROM events),
      toks AS (SELECT list_filter(string_split_regex(trim(line),
                 '[ \t\n\f\r]+'), x -> length(x) > 0) AS tk
               FROM lines),
      t2 AS (SELECT tk, len(tk) AS nt, tk[1] AS t0
             FROM toks WHERE len(tk) > 0),
      pos AS (SELECT nt, t0, generate_subscripts(tk, 1) AS pos,
                     unnest(tk) AS tok
              FROM t2),
      census AS (SELECT nt, t0, pos, CAST(count(*) AS BIGINT)
                          AS n_lines,
                        count(DISTINCT tok) = 1 AS fixed,
                        min(tok) AS tok
                 FROM pos GROUP BY 1, 2, 3),
      tmpl AS (SELECT nt, t0, max(n_lines) AS n_lines,
                      CAST(sum(CASE WHEN fixed THEN 0 ELSE 1 END)
                        AS BIGINT) AS n_wild,
                      string_agg(CASE WHEN fixed THEN tok
                                      ELSE '<*>' END, ' '
                        ORDER BY pos) AS template
               FROM census GROUP BY 1, 2)
      SELECT template, n_lines, n_wild FROM tmpl WHERE n_lines >= 2
      ORDER BY n_lines DESC, template"""
  )
}
