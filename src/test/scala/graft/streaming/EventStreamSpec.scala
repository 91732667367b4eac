package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Streaming semantics: batch/stream parity, watermarked dedup, session
  * windows (SURVEY.md §2l). */
class EventStreamSpec extends SparkSpec {

  test("tumbling agg over the backlog equals the batch aggregation") {
    val stream = EventStream.readTable(spark, graft.TestSpark.sfDir,
      "events")
    val agg = EventStream.tumblingAgg(stream, "ts", "1 day", "1 day",
      "event_type")
    val streamed = EventStream.runToCompletion(spark, agg)
      .select(col("window.start").as("day"), col("event_type"), col("n"))
      .collect().map(r => (r.get(0).toString, r.getString(1),
        r.getLong(2))).toSet
    val batch = catalog.table("events")
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.get(0).toString, r.getString(1),
        r.getLong(2))).toSet
    assert(streamed === batch)
  }

  test("session windows group gap-bounded bursts per user") {
    val stream = EventStream.readTable(spark, graft.TestSpark.sfDir,
      "events")
    val sessions = EventStream.runToCompletion(spark,
      EventStream.sessionAgg(stream, "ts", "30 minutes", "1 day",
        "user_id"))
    val total = sessions.agg(sum("n")).collect().head.getLong(0)
    assert(total === catalog.table("events").count())
    // session count per user matches the batch Sessionize operator
    val streamSessions = sessions.groupBy("user_id")
      .agg(count(lit(1)).as("ns"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batchSessions = graft.operators.Sessionize
      .withSessionIds(catalog.table("events"), col("user_id"), col("ts"),
        1800L)
      .groupBy(col("user_id"))
      .agg((max(col("session_id")) + 1).as("ns"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamSessions === batchSessions)
  }

  test("custom keyed state: running counts match batch totals") {
    val stream = EventStream.readTable(spark, graft.TestSpark.sfDir,
      "events")
    val out = EventStream.runToCompletion(spark,
      EventStream.runningCounts(stream, "user_id"), mode = "update")
    // last update per user equals the batch count
    val finalCounts = out.groupBy("user_id")
      .agg(max("n_events").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = catalog.table("events").groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(finalCounts === batch)
  }

  test("watermarked dedup suppresses replayed keys") {
    val stream = EventStream.readTable(spark, graft.TestSpark.sfDir,
      "events")
    val deduped = EventStream.dedupByKey(stream, "ts", "1 hour",
      "user_id", "event_type")
    val out = EventStream.runToCompletion(spark,
      deduped.groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n")), mode = "complete")
    // after key+ts dedup, grouping by key counts distinct ts per key
    assert(out.count() > 0)
  }

  test("runningCountsTtl: idle key expires at event-time TTL, restarts") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, java.sql.Timestamp)]
    def ts(h: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:00:00")
    // zero watermark delay: watermark = each batch's max event time;
    // TTL 1h of EVENT time — deterministic, no wall-clock dependence
    val counted = EventStream.runningCountsTtl(
      input.toDF().toDF("user_id", "ts"), "user_id", "ts",
      watermark = "0 seconds", ttlMs = 3600L * 1000)
    val name = "graft_ttl_spec"
    val q = counted.writeStream.format("memory").queryName(name)
      .outputMode("update").start()
    try {
      input.addData((1L, ts(0)), (2L, ts(0))); q.processAllAvailable()
      // watermark -> 00:00; both keys counted once
      input.addData((2L, ts(3))); q.processAllAvailable()
      // watermark -> 03:00 > key1's 01:00 timeout; fires NEXT batch
      input.addData((3L, ts(3))); q.processAllAvailable()
      // key1's expiry tombstone emitted in this batch
      input.addData((1L, ts(4))); q.processAllAvailable()
      // key1 re-appears after expiry: count restarts at 1
    } finally q.stop()
    val rows = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows.count(_ == (1L, 1L)) == 2,
      s"key1 should expire then restart at 1: $rows")
    assert(rows.contains((1L, -1L)),
      s"key1 should emit an expiry tombstone: $rows")
    assert(!rows.contains((1L, 2L)),
      s"key1 must not carry its count across the TTL gap: $rows")
    assert(rows.contains((2L, 2L)), s"key2 stayed alive: $rows")
    spark.catalog.dropTempView(name)
  }

  test("streamingTokenBucket: state carries across micro-batches — " +
      "burst drains the bucket, idle minutes refill it") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[(Long, java.sql.Timestamp, Long)]
    def ts(m: Int, s: Int) =
      java.sql.Timestamp.valueOf(f"2026-01-01 00:$m%02d:$s%02d")
    val limited = EventStream.streamingTokenBucket(
      input.toDF().toDF("user_id", "ts", "event_id"),
      "user_id", "ts", "event_id", capacity = 2L)
    val name = "graft_bucket_spec"
    val q = limited.writeStream.format("memory").queryName(name)
      .outputMode("update").start()
    try {
      // batch 1: 3 events in minute 0 against capacity 2 -> 1 reject
      input.addData((1L, ts(0, 1), 1L), (1L, ts(0, 2), 2L),
        (1L, ts(0, 3), 3L))
      q.processAllAvailable()
      // batch 2: minute 2 (2 idle minutes refill to cap... the bucket
      // was at 0, +2 -> 2): both events of the new burst accepted,
      // PROVING the (tokens, last) state crossed the batch boundary
      input.addData((1L, ts(2, 1), 4L), (1L, ts(2, 2), 5L))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(rows.contains((1L, 3L, 2L, 1L, 0L)),
      s"after batch 1: 2 accepted, 1 rejected, bucket empty: $rows")
    assert(rows.contains((1L, 5L, 4L, 1L, 0L)),
      s"after batch 2: refill let both through (acc 4), no new " +
        s"rejects — state crossed the batch boundary: $rows")
  }

  test("runningCountsTws: transformWithState twin of the TTL semantics") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    // transformWithState requires the RocksDB provider (the one a
    // large deployment runs anyway); restore the session default after
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(Long, java.sql.Timestamp)]
      def ts(h: Int) =
        java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:00:00")
      val counted = EventStream.runningCountsTws(
        input.toDF().toDF("user_id", "ts"), "user_id", "ts",
        watermark = "0 seconds", ttlMs = 3600L * 1000)
      val name = "graft_tws_spec"
      val q = counted.writeStream.format("memory").queryName(name)
        .outputMode("update").start()
      try {
        input.addData((1L, ts(0)), (2L, ts(0))); q.processAllAvailable()
        input.addData((2L, ts(3))); q.processAllAvailable()
        input.addData((3L, ts(3))); q.processAllAvailable()
        input.addData((1L, ts(4))); q.processAllAvailable()
      } finally q.stop()
      val rows = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(rows.count(_ == (1L, 1L)) == 2,
        s"key1 should expire then restart at 1: $rows")
      assert(rows.contains((1L, -1L)),
        s"key1's timer should emit an expiry tombstone: $rows")
      assert(!rows.contains((1L, 2L)),
        s"key1 must not carry its count across the TTL gap: $rows")
      assert(rows.contains((2L, 2L)), s"key2 stayed alive: $rows")
      spark.catalog.dropTempView(name)
    } finally prevProvider match {
      case Some(p) => spark.conf.set(providerKey, p)
      case None    => spark.conf.unset(providerKey)
    }
  }

  test("LAW: interval join over a MULTI-batch backlog keeps batch " +
      "parity when the watermark covers the backlog span — and a " +
      "short watermark really drops rows") {
    import spark.implicits._
    // a 2-user view/purchase backlog split so the MATCHING sides of
    // the old pairs arrive in DIFFERENT micro-batches, after a newer
    // batch has already pushed the watermark forward: a same-batch
    // pair always joins (both rows are present in the batch), so the
    // late-drop hazard only bites when one side must come from STATE
    // a short watermark has already evicted
    val dir = graft.Scratch.dir("graft_ivj_multi").toString
    def base(d: Int): Long = 1700000000000L + d.toLong * 86400000L
    def view(u: Long, t: Long) =
      (u, new java.sql.Timestamp(t), "view")
    def purchase(u: Long, t: Long) =
      (u, new java.sql.Timestamp(t + 600000L), "purchase")
    val chunks = Seq[Seq[(Long, java.sql.Timestamp, String)]](
      // file 1 (days 10/11): complete pairs — advances the watermark
      Seq(view(1L, base(10)), purchase(1L, base(10)),
          view(2L, base(11)), purchase(2L, base(11))),
      // file 2 (day 0, far OLDER): views only — must survive in state
      Seq(view(1L, base(0)), view(2L, base(0))),
      // file 3 (day 0): the matching purchases, one batch later
      Seq(purchase(1L, base(0)), purchase(2L, base(0))))
      .map(_.toDF("user_id", "ts", "event_type"))
    val stream = EventStream.replay(chunks, dir)
    val batchDf = chunks.reduce(_ unionByName _)
    val batchPairs = batchDf.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("a_ts"))
      .join(batchDf.filter(col("event_type") === "purchase")
          .select(col("user_id").as("b_user"), col("ts").as("b_ts")),
        col("user_id") === col("b_user") &&
          col("b_ts") >= col("a_ts") &&
          col("b_ts") <= col("a_ts") + expr("interval 30 minutes"))
      .count()
    assert(batchPairs === 4L,
      "precondition: 2 same-batch pairs + 2 cross-batch day-0 pairs")
    // the hazard is real: a 1-hour watermark late-drops file 2's rows
    val short = drained(stream, "1 hour")
    assert(short < batchPairs,
      s"expected the short watermark to drop pairs, got $short")
    // the derived span watermark restores exact batch parity
    val span = EventStream.backlogSpanWatermark(batchDf, "ts")
    val safe = drained(stream, span)
    assert(safe === batchPairs)
  }

  /** Drain the replayed backlog (one file per micro-batch) through
    * the interval join at the given watermark; returns emitted pair
    * count. */
  private def drained(stream: org.apache.spark.sql.DataFrame,
                      watermark: String): Long = {
    val views = stream.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("a_ts"))
    val purchases = stream.filter(col("event_type") === "purchase")
      .select(col("user_id").as("b_user"), col("ts").as("b_ts"))
    val joined = EventStream.intervalJoin(
      views, "a_ts", purchases, "b_ts",
      col("user_id") === col("b_user") &&
        col("b_ts") >= col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr("interval 30 minutes"),
      watermark)
    EventStream.runToCompletion(spark, joined, mode = "append").count()
  }

  test("LAW: LEFT OUTER interval join — inner matches emit in-batch; " +
      "unmatched rows flush ONLY once a sentinel batch pushes the " +
      "watermark past their interval") {
    import spark.implicits._
    val dir = graft.Scratch.dir("graft_loj").toString
    def t(m: Int) = new java.sql.Timestamp(1700000000000L + m * 60000L)
    // drain the whole source after `arrived` lands behind what it holds
    def drain(arrived: org.apache.spark.sql.DataFrame)
        : Seq[(Long, Boolean)] = {
      val stream = EventStream.replay(Seq(arrived), dir)
      val views = stream.filter(col("event_type") === "view")
        .select(col("user_id").as("a_user"), col("ts").as("a_ts"))
      val purchases = stream.filter(col("event_type") === "purchase")
        .select(col("user_id").as("b_user"), col("ts").as("b_ts"))
      val joined = EventStream.leftOuterIntervalJoin(
        views, "a_ts", purchases, "b_ts",
        col("a_user") === col("b_user") &&
          col("b_ts") >= col("a_ts") &&
          col("b_ts") <= col("a_ts") + expr("interval 30 minutes"),
        watermark = "1 second")
      EventStream.runToCompletion(spark, joined, mode = "append")
        .filter(col("a_user") >= 0)
        .select(col("a_user"), col("b_ts").isNotNull)
        .as[(Long, Boolean)].collect().toSeq
    }
    // without a sentinel: the match emits, the unmatched view is
    // STILL IN STATE at stream end (its interval never passed the
    // watermark) — this is the trap the sentinel exists for
    // ONE real batch: user 1 matches inside 30 min, user 2 never does
    val without = drain(
      Seq((1L, t(0), "view"), (1L, t(10), "purchase"), (2L, t(5), "view"))
        .toDF("user_id", "ts", "event_type"))
    assert(without === Seq((1L, true)),
      s"only the inner match should emit without a sentinel: $without")
    // sentinel file (far future, one row per side, negative users):
    // final watermark passes every real interval -> outer rows flush
    val withSentinel = drain(
      Seq((-1L, t(100000), "view"), (-2L, t(100000), "purchase"))
        .toDF("user_id", "ts", "event_type")).sortBy(_._1)
    assert(withSentinel === Seq((1L, true), (2L, false)),
      s"sentinel must flush user 2 as unmatched: $withSentinel")
  }

  test("LAW: FULL OUTER interval join flushes BOTH sides' unmatched " +
      "rows after the sentinel") {
    import spark.implicits._
    val dir = graft.Scratch.dir("graft_foj").toString
    def t(m: Int) = new java.sql.Timestamp(1700000000000L + m * 60000L)
    // user 1 matches; user 2: view only; user 3: purchase only
    val stream = EventStream.replay(Seq(
      Seq((1L, t(0), "view"), (1L, t(10), "purchase"),
        (2L, t(5), "view"), (3L, t(7), "purchase")),
      Seq((-1L, t(100000), "view"), (-2L, t(100000), "purchase")))
      .map(_.toDF("user_id", "ts", "event_type")), dir)
    val views = stream.filter(col("event_type") === "view")
      .select(col("user_id").as("a_user"), col("ts").as("a_ts"))
    val purchases = stream.filter(col("event_type") === "purchase")
      .select(col("user_id").as("b_user"), col("ts").as("b_ts"))
    val joined = EventStream.fullOuterIntervalJoin(
      views, "a_ts", purchases, "b_ts",
      col("a_user") === col("b_user") &&
        col("b_ts") >= col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr("interval 30 minutes"),
      watermark = "1 second")
    val rows = EventStream.runToCompletion(spark, joined,
        mode = "append")
      .filter(coalesce(col("a_user"), lit(0L)) >= 0 &&
        coalesce(col("b_user"), lit(0L)) >= 0)
      .select(coalesce(col("a_user"), col("b_user")),
        col("a_ts").isNotNull, col("b_ts").isNotNull)
      .as[(Long, Boolean, Boolean)].collect().toSeq.sorted
    assert(rows === Seq((1L, true, true), (2L, true, false),
      (3L, false, true)),
      s"both unmatched sides must flush: $rows")
  }

  test("streaming funnel: a LATE early-step event in a later " +
      "micro-batch revises the chain to the batch answer") {
    import spark.implicits._
    val dir = graft.Scratch.dir("graft_funnel_ooo").toString + "/ev"
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val stream = EventStream.replay(Seq(
      // file 1: the user's click and purchase arrive FIRST
      Seq((1L, ts("2024-01-01 10:10:00"), "click"),
        (1L, ts("2024-01-01 10:20:00"), "purchase")),
      // file 2: the view that STARTED the funnel arrives late
      Seq((1L, ts("2024-01-01 10:00:00"), "view")))
      .map(_.toDF("user_id", "ts", "event_type")), dir)
    val reached = EventStream.streamingFunnel(stream, "user_id", "ts",
      "event_type", Seq("view", "click", "purchase"))
    val updates = EventStream.runToCompletion(spark, reached,
        mode = "update")
      .select($"user_id", $"reached").as[(Long, Int)].collect().toSeq
    // batch 1 alone reaches nothing (no view yet); batch 2's late
    // view unlocks the whole chain
    assert(updates.contains((1L, 0)))
    assert(updates.contains((1L, 3)))
    val finalReached = updates.groupBy(_._1).view
      .mapValues(_.map(_._2).max).toMap
    assert(finalReached === Map(1L -> 3))
  }

  test("stream-static anti-join drops rows whose key is in the store") {
    import spark.implicits._
    val stream = EventStream.readTable(spark, graft.TestSpark.sfDir,
      "events")
    // store = the even user ids seen in the batch table
    val store = catalog.table("events")
      .filter(col("user_id") % 2 === 0)
      .select(col("user_id")).distinct()
    val survivors = EventStream.dedupAgainstStore(stream,
      col("user_id"), store)
    val out = EventStream.runToCompletion(spark, survivors,
        mode = "append")
      .select(col("user_id")).as[Long].collect()
    val batchOdd = catalog.table("events")
      .filter(col("user_id") % 2 === 1).count()
    assert(out.nonEmpty && out.forall(_ % 2 == 1))
    assert(out.length === batchOdd)
  }

  test("REGRESSION: a TIMESTAMP_NTZ event-time column is normalized, " +
    "not a plan-time crash, and keeps batch parity") {
    // the 2026-08 testdata regeneration flipped events.ts to NTZ and
    // crashed every watermark op; this test feeds an NTZ frame
    // DELIBERATELY so the next writer change cannot regress silently
    import spark.implicits._
    val ntz = Seq(
      (1L, "click", "2026-01-01 00:05:00", 1.0),
      (1L, "click", "2026-01-01 00:10:00", 2.0),
      (2L, "view", "2026-01-01 02:00:00", 3.0),
      (2L, "view", "2026-01-01 02:01:00", 4.0))
      .toDF("user_id", "event_type", "s", "value")
      .withColumn("ts", col("s").cast("timestamp_ntz")).drop("s")
    assert(ntz.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    // normalizeEventTime: values preserved under the UTC session tz
    val norm = EventStream.normalizeEventTime(ntz)
    assert(norm.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(norm.select(unix_micros(col("ts"))).as[Long].collect().sorted
      === ntz.select(col("ts").cast("timestamp")).select(
        unix_micros(col("ts"))).as[Long].collect().sorted)
    // every watermark-taking op accepts the RAW NTZ frame (each
    // normalizes at its own boundary) — via a real streaming source
    val dir = graft.Scratch.dir("graft_ntz")
      .toString + "/events"
    val stream = EventStream.replay(Seq(ntz), dir)
    assert(stream.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampNTZType)
    val tumbled = EventStream.runToCompletion(spark,
      EventStream.tumblingAgg(stream, "ts", "1 hour", "1 hour",
        "event_type"))
    assert(tumbled.agg(sum("n")).collect().head.getLong(0) === 4L)
    val sessions = EventStream.runToCompletion(spark,
      EventStream.sessionAgg(stream, "ts", "30 minutes", "1 day",
        "user_id"))
    assert(sessions.count() === 2L) // one gap-bounded burst per user
    val deduped = EventStream.runToCompletion(spark,
      EventStream.dedupByKey(stream, "ts", "1 hour", "user_id"),
      mode = "append")
    assert(deduped.count() === 4L) // distinct (user, ts) all survive
    // batch sessionize over the NTZ column: same session split
    val batchSessions = graft.operators.Sessionize
      .withSessionIds(ntz, col("user_id"), col("ts"), 1800L)
      .groupBy(col("user_id")).agg((max(col("session_id")) + 1).as("ns"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(batchSessions === Map(1L -> 1L, 2L -> 1L))
  }

  test("replay: a second call into the same dir continues the file " +
      "numbering and never back-dates below the existing files — the " +
      "mtime floor keeps (mtime, path) replay order even when the " +
      "earlier files carry later stamps") {
    import spark.implicits._
    val dir = graft.Scratch.dir("graft_replay_floor").toString + "/src"
    val mk = (i: Long) => Seq((i, i)).toDF("a", "b")
    EventStream.replay(Seq(mk(0), mk(1)), dir)
    // simulate the hazard: the existing files carry stamps LATER than
    // the fresh t0 = now − 1000·size an append would compute
    val future = System.currentTimeMillis() + 3600L * 1000L
    new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
      .zipWithIndex
      .foreach { case (f, i) => f.setLastModified(future + i * 1000L) }
    val stream = EventStream.replay(Seq(mk(2), mk(3), mk(4)), dir)
    val all = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(all.map(_.getName).toSeq === (0 until 5)
      .map(i => f"part-$i%05d.parquet"))
    val stamps = all.map(_.lastModified()).toSeq
    assert(stamps.zip(stamps.tail).forall { case (a, b) => a < b },
      s"mtimes must ascend strictly in name order: $stamps")
    // the stream replays both calls' parts, one per micro-batch
    val q = stream.writeStream.format("noop")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.map(_.numInputRows).toSeq === Seq.fill(5)(1L))
  }

  test("a drain leaves no temp view behind, and its frame still " +
      "collects the drained rows") {
    import spark.implicits._
    val scratch = graft.Scratch.dir("graft_drain_views").toString
    val frames = (1 to 3).map { i =>
      val parts = Seq((0L until i.toLong).map(k => (k, k * 10)).toDF("a", "b"))
      EventStream.runToCompletion(spark,
        EventStream.replay(parts, s"$scratch/src$i").groupBy($"a")
          .agg(sum($"b").as("s")))
    }
    val views = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_stream_"))
    assert(views.isEmpty, s"drains left views: ${views.toSeq}")
    frames.zipWithIndex.foreach { case (df, i) =>
      assert(df.as[(Long, Long)].collect().sorted.toSeq ===
        (0L to i.toLong).map(k => (k, k * 10)))
    }
  }

  test("replay returns its stream without starting a Spark job: the " +
      "schema comes from the first file's footer") {
    import spark.implicits._
    val scratch = graft.Scratch.dir("graft_replay_jobs").toString
    val part = Seq((1L, "a"), (2L, "b")).toDF("id", "s")
    var stream: org.apache.spark.sql.DataFrame = null
    val n = jobsPerTag { tagged =>
      tagged("write")(part.coalesce(1).write.parquet(s"$scratch/plain"))
      tagged("replay") {
        stream = EventStream.replay(Seq(part), s"$scratch/src")
      }
    }
    info(s"jobs: write ${n("write")}, replay ${n("replay")}")
    assert(n("write") >= 1)
    assert(n("replay") === n("write"),
      "building the stream must add no job to the part's own write")
    assert(stream.isStreaming)
    assert(stream.schema.map(f => (f.name, f.dataType)) ===
      part.schema.map(f => (f.name, f.dataType)))
  }

  test("streaming pipeline observability: per-batch stage metrics " +
      "ride each micro-batch; a healthy run completes with full " +
      "history") {
    import spark.implicits._
    val dir = graft.Scratch.dir("graft_sobs_ok").toString + "/docs"
    // 3 chronological batches, each keeps exactly half
    val mk = (base: Long) => (0L until 10L)
      .map(i => (base + i, if (i % 2 == 0) 1L else -1L, "en"))
      .toDF("doc_id", "v", "lang")
    val stream = EventStream.replay(Seq(mk(0), mk(100), mk(200)), dir)
    val obs = new StreamPipelineObserver(keptFloor = Some(0.2))
    val kept = obs.checkpoint("quality",
      obs.checkpoint("raw", stream).filter(col("v") > 0))
    val out = EventStream.runToCompletion(spark,
      kept.groupBy(col("lang")).agg(count(lit(1)).as("n")),
      observer = Some(obs))
    assert(out.select(max(col("n"))).collect().head.getLong(0) === 15L)
    // one (quality) stage row per micro-batch, each 10 -> 5
    val h = obs.history
    assert(h.map(_._1).distinct.size === 3, s"history=$h")
    assert(h.forall { case (_, stage, nIn, nKept, frac) =>
      stage == "quality" && nIn == 10L && nKept == 5L && frac == 0.5
    }, s"history=$h")
    assert(obs.violation.isEmpty)
  }

  test("streaming circuit breaker: a batch below the kept floor " +
      "stops the query mid-stream and rethrows CurationAborted") {
    import spark.implicits._
    val dir = graft.Scratch.dir("graft_sobs_trip").toString + "/docs"
    val good = (base: Long) => (0L until 10L)
      .map(i => (base + i, 1L, "en")).toDF("doc_id", "v", "lang")
    val poison = (100L until 110L)
      .map(i => (i, -1L, "en")).toDF("doc_id", "v", "lang")
    val stream = EventStream.replay(Seq(good(0), poison, good(200)), dir)
    val obs = new StreamPipelineObserver(keptFloor = Some(0.2))
    val kept = obs.checkpoint("quality",
      obs.checkpoint("raw", stream).filter(col("v") > 0))
    val e = intercept[graft.llm.CurationAborted] {
      EventStream.runToCompletion(spark,
        kept.groupBy(col("lang")).agg(count(lit(1)).as("n")),
        observer = Some(obs))
    }
    assert(e.stage.contains("quality") && e.stage.contains("batch 1"),
      e.toString)
    assert(e.nIn === 10L && e.nKept === 0L)
    // the healthy first batch's metrics were recorded before the trip
    assert(obs.history.exists { case (b, _, nIn, nKept, _) =>
      b == 0L && nIn == 10L && nKept == 10L })
    assert(obs.violation.nonEmpty)
    // the aborted drain leaves no memory-sink view behind either
    val views = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_stream_"))
    assert(views.isEmpty, s"the aborted drain left views: ${views.toSeq}")
  }

  test("streamingManifest: k-cap holds, duplicate KMV hashes dedup, " +
      "and the streamed manifest equals a single-batch build") {
    import spark.implicits._
    val mk = (ids: Seq[Long]) => ids.map(i =>
        (i % 2, (i * 37) % 2147483647L, i % 5 + 1)) // kh collides: 5 distinct
      .toDF("shard", "h", "kh")
    val all = (0L until 40L)
    def drain(s: org.apache.spark.sql.DataFrame) =
      EventStream.runToCompletion(spark,
          EventStream.streamingManifest(s, k = 3), mode = "update")
        .groupBy(col("shard"))
        .agg(max(struct(col("n_rows"), col("fp"), col("k_count"),
          col("h_k"))).as("f"))
        .select(col("shard"), col("f.n_rows"), col("f.fp"),
          col("f.k_count"), col("f.h_k"))
        .as[(Long, Long, Long, Long, Long)].collect().toSet
    val streamed = drain(EventStream.replay(
      Seq(mk(all.take(20)), mk(all.drop(20))),
      graft.Scratch.dir("graft_smf1").toString + "/a"))
    // only 5 distinct kh values exist but k=3 caps the sketch
    assert(streamed.forall(_._4 == 3L))
    // same rows as ONE batch -> identical manifest (order-independent
    // set functions; this is the law the q309 oracle proves on real
    // data against DuckDB)
    assert(drain(EventStream.replay(Seq(mk(all)),
      graft.Scratch.dir("graft_smf2").toString + "/b")) === streamed)
  }

  test("observer ingest skips a batch missing any registered metric " +
      "instead of shifting the positional stage pairing") {
    import org.apache.spark.sql.Row
    val obs = new StreamPipelineObserver(keptFloor = Some(0.2))
    // register 3 checkpoints against a dummy (batch) frame — only the
    // names matter for the pairing logic under test
    import spark.implicits._
    val dummy = Seq(1L).toDF("x")
    obs.checkpoint("raw",
      obs.checkpoint("quality", obs.checkpoint("dedup", dummy)))
    val run = java.util.UUID.randomUUID()
    def om(pairs: (String, Long)*) = {
      val m = new java.util.HashMap[String, Row]()
      pairs.foreach { case (n, v) =>
        m.put("graft_sobs_" + n, Row(v)) }
      m
    }
    // batch 0: all three present -> two stage rows, no violation
    assert(obs.ingestMetrics(run, 0L,
      om("dedup" -> 100L, "quality" -> 80L, "raw" -> 60L)).isEmpty)
    // NOTE registration order above is dedup -> quality -> raw
    assert(obs.history.map(t => (t._1, t._2, t._3, t._4)) ===
      Seq((0L, "quality", 100L, 80L), (0L, "raw", 80L, 60L)))
    // batch 1: the middle metric is absent; naive sliding(2) would
    // pair (dedup 100, raw 1) as a fake 1% "quality" stage and trip
    // the breaker — the fix skips the batch entirely
    assert(obs.ingestMetrics(run, 1L,
      om("dedup" -> 100L, "raw" -> 1L)).isEmpty)
    assert(obs.history.count(_._1 == 1L) === 0)
    assert(obs.violation.isEmpty)
    // batch 2: complete again -> recorded normally
    assert(obs.ingestMetrics(run, 2L,
      om("dedup" -> 10L, "quality" -> 10L, "raw" -> 10L)).isEmpty)
    assert(obs.history.count(_._1 == 2L) === 2)
  }

  test("LAW: streamingTrainingArtifacts absorbs a REDELIVERED batch — " +
      "every folded manifest equals the clean two-batch ingest " +
      "(at-least-once key-dedup; without it a replay doubles " +
      "per-gram df counts and digest sums)") {
    import spark.implicits._
    def mkDocs(ids: Seq[Long]) = ids.map(i =>
        (i, s"s${i % 3}", s"alpha beta w$i gamma delta w$i tail"))
      .toDF("doc_id", "source", "text")
    val b0 = mkDocs(0L to 14L)
    val b1 = mkDocs(15L to 29L)
    def ingest(tag: String, batches: Seq[org.apache.spark.sql.DataFrame]) = {
      val src = graft.Scratch.dir(s"graft_sta_$tag").toString + "/docs"
      EventStream.streamingTrainingArtifacts(spark,
        EventStream.replay(batches, src),
        graft.Scratch.dir(s"graft_sta_${tag}m").toString,
        graft.Scratch.dir(s"graft_sta_${tag}c").toString, k = 4)
    }
    val clean = ingest("clean", Seq(b0, b1))
    val replay = ingest("replay", Seq(b0, b1, b0)) // b0 redelivered
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    // cap manifest folds through CapSample.truncate (its own law)
    val cs = graft.operators.CapSample
    assert(rows(cs.truncate(replay._1, "source", Seq("h", "doc_id"), 4))
      === rows(cs.truncate(clean._1, "source", Seq("h", "doc_id"), 4)))
    // per-doc manifests: key-dedup makes redelivery a no-op
    assert(rows(replay._2) === rows(clean._2), "sh3 shingle arrays")
    assert(rows(replay._3) === rows(clean._3), "g8 postings")
    assert(rows(replay._4) === rows(clean._4), "eval grams")
    assert(rows(replay._5) === rows(clean._5), "content hashes")
    assert(rows(replay._6) === rows(clean._6), "quality scores")
    // and the clean ingest itself is non-degenerate
    assert(clean._5.count() === 30L)
    assert(clean._2.count() === 40L, // 30 base + 10 variants (id%3==0)
      "sh3 must carry base ∪ variant corpus rows")
    // the score image is the q359 axis: exact distinct-token counts
    // ("alpha beta w$i gamma delta w$i tail" has 6 distinct tokens)
    assert(clean._6.count() === 30L)
    assert(clean._6.select("score").distinct().collect()
      .map(_.getLong(0)).toSet === Set(6L))
  }

  test("streamingTrainingArtifacts commits each batch's appends through " +
      "TableLog: every store has a manifest per batch, and reading the " +
      "returned frames starts no Spark job") {
    import spark.implicits._
    import graft.sources.{Sinks, TableLog}
    val docs = (0L until 12L).map(i =>
        (i, s"s${i % 2}", s"alpha beta w$i gamma delta w$i tail"))
      .toDF("doc_id", "source", "text")
    val man = graft.Scratch.dir("graft_sta_log").toString
    val out = EventStream.streamingTrainingArtifacts(spark,
      EventStream.replay(
        Seq(docs.filter($"doc_id" < 6L), docs.filter($"doc_id" >= 6L)),
        graft.Scratch.dir("graft_sta_log_src").toString + "/docs"),
      man, graft.Scratch.dir("graft_sta_log_ck").toString, k = 4)
    val stores = Seq("cap", "sh3", "g8", "evalg", "hash", "score")
      .map(d => s"$man/$d")
    stores.foreach { st =>
      assert(java.nio.file.Files.isDirectory(
        java.nio.file.Paths.get(st, TableLog.Dir)), st)
      // manifest 0 is the empty table's bootstrap, then one per batch
      assert(TableLog.generation(st) === 2L, st)
    }
    val frames = out.productIterator.map {
      case df: org.apache.spark.sql.DataFrame => df }.toSeq
    def names(fs: Seq[String]) =
      fs.map(f => new org.apache.hadoop.fs.Path(f).getName).toSet
    // each returned frame reads exactly its store's committed files
    val n = jobsPerTag { tagged =>
      tagged("read")(frames.zip(stores).foreach { case (df, st) =>
        Sinks.read(spark, st)
        assert(names(df.inputFiles.toSeq) === names(TableLog.live(st)), st)
      })
    }
    assert(n("read") === 0, "reading the committed stores started a job")
    assert(frames(4).count() === 12L)
  }
}
