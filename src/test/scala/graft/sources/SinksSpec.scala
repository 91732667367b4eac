package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SinksSpec extends SparkSpec {

  private def tmpDir(): String =
    graft.Scratch.dir("graft_sink").toString

  test("rollover sink: date partitions on disk, retention filter applied") {
    val out = tmpDir()
    val events = catalog.table("events")
    Sinks.writeRollover(events, out, col("ts"), retainDays = 20,
      now = java.sql.Timestamp.valueOf("2024-01-31 00:00:00"))
    val dirs = new java.io.File(out).listFiles().map(_.getName)
      .filter(_.startsWith("__date=")).sorted
    assert(dirs.nonEmpty)
    // retention: nothing older than 2024-01-11
    assert(dirs.head >= "__date=2024-01-11")
    // read back respects the partition layout
    val back = spark.read.parquet(out)
    assert(back.count() ===
      events.filter(col("ts") >= lit(java.sql.Timestamp.valueOf(
        "2024-01-11 00:00:00"))).count())
  }

  test("partition pruning: a date filter scans only matching partitions") {
    val out = tmpDir()
    val events = catalog.table("events")
    Sinks.writeRollover(events, out, col("ts"), retainDays = 10000,
      now = java.sql.Timestamp.valueOf("2024-01-31 00:00:00"))
    val pruned = spark.read.parquet(out)
      .filter(col("__date") === "2024-01-05")
    val plan = pruned.queryExecution.executedPlan.toString
    // the scan must report a partition filter, not a post-scan filter
    assert(pruned.count() > 0)
    assert(plan.contains("PartitionFilters: [isnotnull(__date"),
      s"no partition pruning in plan:\n$plan")
  }

  test("split sink: both destinations see the same computed frame once") {
    val out1 = tmpDir(); val out2 = tmpDir()
    val df = catalog.table("orders").filter(col("o_totalprice") > 100000)
    Sinks.split(df, Seq(
      d => d.write.mode("overwrite").parquet(s"$out1/a"),
      d => d.groupBy("o_orderstatus").count()
        .write.mode("overwrite").parquet(s"$out2/b")))
    val a = spark.read.parquet(s"$out1/a")
    val b = spark.read.parquet(s"$out2/b")
    assert(a.count() === df.count())
    assert(b.agg(sum("count")).collect().head.getLong(0) === df.count())

    // once: the input's projection evaluates each row exactly once
    // across both sinks; a shuffled frame (4 shuffle partitions, AQE
    // on) reaches each sink as the one partition AQE coalesced it to
    val evaluated = spark.sparkContext.longAccumulator("split.evaluated")
    val touch = udf { (id: Long) => evaluated.add(1); id }
      .asNondeterministic()
    val conf = spark.conf
    val saved = Seq("spark.sql.shuffle.partitions",
      "spark.sql.adaptive.enabled").map(k => k -> conf.get(k))
    conf.set("spark.sql.shuffle.partitions", "4")
    conf.set("spark.sql.adaptive.enabled", "true")
    val blocks = tmpDir() + "/blocks"; val json = tmpDir() + "/json"
    try {
      val grouped = spark.range(0, 200, 1, 4).select(touch(col("id")).as("id"))
        .groupBy((col("id") % 7).as("k")).agg(count(lit(1)).as("n"))
      Sinks.split(grouped, Seq(
        d => Sinks.writeBlocks(d, blocks, Nil),
        d => Sinks.writeBlocks(d, json, Nil, "json")))
    } finally saved.foreach { case (k, v) => conf.set(k, v) }
    assert(evaluated.value === 200L)
    assert(TableLog.live(blocks).size === 1 && TableLog.live(json).size === 1,
      s"one file per sink, got ${TableLog.live(blocks)} and " +
        s"${TableLog.live(json)}")
    assert(Sinks.read(spark, blocks).agg(sum("n")).head().getLong(0) === 200L)
    assert(TableLog.read(spark, json, "json")._1.count() === 7L)
  }

  test("json-lines block interop (S1/S2 format roundtrip)") {
    val out = tmpDir()
    val docs = catalog.table("documents")
    Sinks.writeBlocks(docs, s"$out/blocks", Seq("source"), format = "json")
    val back = spark.read.json(s"$out/blocks")
    assert(back.count() === docs.count())
    assert(back.columns.toSet === docs.columns.toSet)
  }

  test("catalog reads json-lines and csv tables with inferred schema") {
    val out = tmpDir()
    val docs = catalog.table("documents").limit(20)
    docs.coalesce(1).write.mode("overwrite")
      .json(s"$out/jdocs.json")
    docs.coalesce(1).write.mode("overwrite").option("header", "true")
      .csv(s"$out/cdocs.csv")
    val cat = new graft.tables.Catalog(spark, out)
    assert(cat.baseTables.toSet === Set("jdocs", "cdocs"))
    assert(cat.table("jdocs").count() === 20)
    val csv = cat.table("cdocs")
    assert(csv.count() === 20)
    // inferSchema: numeric column came back numeric, queryable by JX
    val r = graft.jx.Runner.runOn(csv, graft.jx.QueryParser.parse(
      """{"from": "x",
          "select": [{"name": "total_chars", "value": "n_chars",
                      "aggregate": "sum"}]}"""))
    assert(r.collect().head.getDouble(0) > 0)
  }

  test("compact: file count collapses to ceil(rows/target), content " +
       "byte-identical, old layout gone") {
    import spark.implicits._
    val out = tmpDir() + "/frag"
    // simulate a micro-batch sink's droppings: 32 tiny files
    val rows = spark.range(1000).select($"id",
      concat(lit("v"), $"id").as("payload"))
    rows.repartition(32).write.parquet(out)
    val before = rows.collect().map(_.toString).sorted
    val oldFiles = TableLog.live(out).toSet
    val (nBefore, nAfter) = Sinks.compact(spark, out,
      targetRowsPerFile = 500)
    assert(nBefore === 32 && nAfter === 2,
      s"expected 32 -> 2 files, got $nBefore -> $nAfter")
    val after = Sinks.read(spark, out).collect()
      .map(_.toString).sorted
    assert(after.toSeq === before.toSeq, "content must be unchanged")
    val live = TableLog.live(out)
    assert(live.size === 2 && live.forall(f => !oldFiles.contains(f)),
      s"the old layout must leave the live set, got $live")
  }

  test("deleteByKey: only victim-bearing files are rewritten; " +
       "survivors and untouched bytes are exactly preserved") {
    import spark.implicits._
    val out = tmpDir() + "/cow"
    // range-clustered layout: ids 0..999 over 10 files -> victims
    // 100..149 live in (at most) two files
    val rows = spark.range(1000).select($"id",
      concat(lit("v"), $"id").as("payload"))
    rows.repartitionByRange(10, $"id").write.parquet(out)
    def listing() = TableLog.live(out).toSet
    val before = listing()
    val victims = spark.range(100, 150).toDF("id")
    val (rewritten, deleted) =
      Sinks.deleteByKey(spark, out, "id", victims)
    assert(deleted === 50L)
    assert(rewritten >= 1 && rewritten <= 2,
      s"range-clustered victims must hit <=2 files, rewrote $rewritten")
    val after = listing()
    // untouched files survive with identical paths
    assert((before -- after).size === rewritten)
    assert((after -- before).nonEmpty, "the rewritten files must be live")
    // content = source minus victims
    val got = Sinks.read(spark, out).select($"id").as[Long]
      .collect().sorted.toSeq
    assert(got === ((0L until 100L) ++ (150L until 1000L)).toSeq)
    // deleting a key that is absent is a no-op
    val (r2, d2) = Sinks.deleteByKey(spark, out, "id",
      spark.range(5000, 5010).toDF("id"))
    assert(r2 === 0 && d2 === 0L)
    assert(listing() === after)
  }

  test("deleteByKey starts 5 Spark jobs for a hit and 2 for a miss: the " +
       "victim set is a checkpoint both the census and the rewrite read") {
    import spark.implicits._
    val out = tmpDir() + "/cow_jobs"
    spark.range(1000).select($"id", concat(lit("v"), $"id").as("payload"))
      .repartitionByRange(10, $"id").write.parquet(out)
    val n = jobsPerTag { tagged =>
      tagged("hit")(assert(Sinks.deleteByKey(spark, out, "id",
        spark.range(100, 150).toDF("id"))._2 === 50L))
      tagged("miss")(assert(Sinks.deleteByKey(spark, out, "id",
        spark.range(5000, 5010).toDF("id")) === ((0, 0L))))
    }
    // a persisted victim set started 6 and 3
    assert((n("hit"), n("miss")) === ((5, 2)))
    assert(Sinks.read(spark, out).count() === 950L)
  }
}
