package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery,
  Trigger}
import org.apache.spark.sql.types._
import graft.sources.{NioLocalFileSystem, Sinks}

/** Structured Streaming layer (SURVEY.md §2l).
  *
  * The reference is an at-least-once micro-batch pipeline driven by a work
  * queue (public repo `activedata_etl/etl.py`): no event time, no
  * watermarks; duplicates are suppressed by deterministic doc ids. The
  * Spark re-expression keeps those semantics (file stream + checkpoint +
  * [[dedupByKey]]) and ADDS event-time operators (tumbling / sliding /
  * session windows with watermarks) that a 100 TB continuous pipeline
  * needs for bounded state.
  */
object EventStream {
  private val runIds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Shared daemon pool for overlapping INDEPENDENT per-batch sink
    * jobs inside a foreachBatch (guide §2.6): at local backlog sizes
    * each manifest append is a ~single-partition write whose wall is
    * job + commit overhead, so running them concurrently pays max,
    * not sum. Spark actions are thread-safe; job-description
    * thread-locals are irrelevant here. Bounded at 6 threads — enough
    * for one batch's fan-out, never a fleet. */
  private lazy val sinkPool =
    java.util.concurrent.Executors.newFixedThreadPool(6,
      (r: Runnable) => {
        val t = new Thread(r, "graft-sink-pool")
        t.setDaemon(true)
        t
      })

  private def onPool(f: => Unit)
      : java.util.concurrent.Future[_] =
    sinkPool.submit(new Runnable { def run(): Unit = f })

  /** Await every future, rethrowing the FIRST failure (unwrapped from
    * ExecutionException so callers see the real error). */
  private def awaitAll(fs: Seq[java.util.concurrent.Future[_]]): Unit =
    fs.foreach { f =>
      try f.get()
      catch {
        case e: java.util.concurrent.ExecutionException =>
          throw e.getCause
      }
    }

  /** Normalize a frame's event-time flavor: every top-level
    * `TIMESTAMP_NTZ` column becomes `TIMESTAMP`. A 100 TB lake contains
    * BOTH flavors (writers differ on the UTC-adjusted flag — the
    * 2026-08 testdata regeneration flipped `events.ts` from one to the
    * other), but Spark's event-time machinery (`withWatermark`,
    * `window`, `session_window`, `unix_micros`, timestamp encoders)
    * accepts only `TimestampType`. The session time zone is pinned UTC
    * everywhere in this engine, so the cast preserves wall-clock values
    * exactly and batch-parity oracles are unaffected. Applied at every
    * event-time boundary so no caller can feed an NTZ column into a
    * watermark and crash at plan time. */
  def normalizeEventTime(df: DataFrame): DataFrame =
    df.schema.fields.collect {
      case f if f.dataType == TimestampNTZType => f.name
    }.foldLeft(df)((d, c) => d.withColumn(c, col(c).cast(TimestampType)))

  /** Column-level twin of [[normalizeEventTime]] for ops that take the
    * event-time column by name: identity on TIMESTAMP, value-preserving
    * (UTC session) cast on TIMESTAMP_NTZ. */
  private def asEventTime(tsCol: String): Column =
    col(tsCol).cast(TimestampType)

  /** Replay `parts` as a file stream over `dir`, one micro-batch per
    * part, in order: each part is written as ONE parquet file after
    * whatever `dir` already holds, with the next sequenced name and a
    * strictly later mtime (the file source orders by (mtime, path);
    * stamping both replaces a sleep between writes). The mtimes start
    * at max(now − 1000·size, newest existing file + 1 s), so a later
    * call — the arrives-while-stopped half of a checkpoint-resume
    * drain — never back-dates below the files an earlier call wrote.
    * The stream reads one file per trigger and is typed from the first
    * file's footer ([[graft.sources.TableLog.footerSchema]]), so
    * building it starts no Spark job. Each part is written by Spark
    * into a `.`-prefixed stage dir, through the session's
    * [[NioLocalFileSystem]], and only its data file is moved out. */
  def replay(parts: Seq[DataFrame], dir: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    require(parts.nonEmpty, "replay needs at least one part")
    def name(i: Int) = f"part-$i%05d.parquet"
    Files.createDirectories(Paths.get(dir))
    val existing = Option(new java.io.File(dir).listFiles()).toSeq
      .flatten.filter(_.getName.endsWith(".parquet"))
    val t0 = math.max(System.currentTimeMillis() - 1000L * parts.size,
      existing.map(_.lastModified() + 1000L).maxOption
        .getOrElse(Long.MinValue))
    val spark = parts.head.sparkSession
    NioLocalFileSystem.install(spark)
    parts.zipWithIndex.foreach { case (p, k) =>
      val stage = s"$dir/.stage$k"
      p.coalesce(1).write.parquet(stage)
      val f = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = Paths.get(dir, name(existing.size + k))
      Files.move(f.toPath, dst)
      dst.toFile.setLastModified(t0 + k * 1000L)
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(stage))
    }
    val (schema, nanos) = graft.sources.TableLog.footerSchema(spark,
      Paths.get(dir, name(0)))
    graft.sources.TableLog.micros(spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir), nanos)
  }

  /** The single-file parquet table `dir/name.parquet` as a file stream,
    * typed as the batch reader ([[graft.sources.TableLog.read]]) types
    * it, from the same footer step and nanos conversion, then with
    * [[normalizeEventTime]] (NTZ columns crash watermarks and windows). */
  def readTable(spark: SparkSession, dir: String, name: String): DataFrame = {
    val file = java.nio.file.Paths.get(dir, s"$name.parquet")
    val (schema, nanos) = graft.sources.TableLog.footerSchema(spark, file)
    // the file-stream source lists directories, so stream the parent
    // dir with a glob filter
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", s"$name.parquet").parquet(dir)
    normalizeEventTime(graft.sources.TableLog.micros(stream, nanos))
  }

  /** At-least-once replay suppression: drop duplicate keys, with a
    * watermark bounding the dedup state (SURVEY.md §2l — the reference
    * relies on deterministic `_id` overwrite; a 100 TB stream needs the
    * state bound). */
  def dedupByKey(events: DataFrame, tsCol: String, watermark: String,
                 keys: String*): DataFrame =
    events.withColumn(tsCol, asEventTime(tsCol))
      .withWatermark(tsCol, watermark)
      .dropDuplicates(keys :+ tsCol)

  /** [[dedupByKey]] on the MODERN API (`dropDuplicatesWithinWatermark`,
    * Spark 3.5+): suppression state for a key expires `watermark`
    * after its FIRST occurrence's event time — state is bounded by
    * the redelivery horizon, not by distinct-key count. Unlike
    * `dropDuplicates(keys :+ ts)` the duplicate does NOT need an
    * identical event time: a redelivered row with a jittered
    * timestamp still dedups, which is the realistic queue semantics
    * (the reference's at-least-once redelivery carries the original
    * doc id but a new delivery time). */
  def dedupByKeyWithinWatermark(events: DataFrame, tsCol: String,
                                watermark: String,
                                keys: String*): DataFrame =
    events.withColumn(tsCol, asEventTime(tsCol))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys.toSeq)

  /** Tumbling event-time aggregation. */
  def tumblingAgg(events: DataFrame, tsCol: String, width: String,
                  watermark: String, groupCols: String*): DataFrame =
    events.withColumn(tsCol, asEventTime(tsCol))
      .withWatermark(tsCol, watermark)
      .groupBy((window(col(tsCol), width) +: groupCols.map(col))
        .toIndexedSeq: _*)
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** Session windows (gap-based), the streaming twin of
    * operators.Sessionize. */
  def sessionAgg(events: DataFrame, tsCol: String, gap: String,
                 watermark: String, entity: String): DataFrame =
    events.withColumn(tsCol, asEventTime(tsCol))
      .withWatermark(tsCol, watermark)
      .groupBy(session_window(col(tsCol), gap), col(entity))
      .agg(count(lit(1)).as("n"))

  /** Custom keyed state (SURVEY.md §2m): per-entity running event count
    * via `mapGroupsWithState` — the template for arbitrary user state
    * (session carts, dedup sets, counters) that outlives micro-batches.
    * State is per-key on executors, checkpoint-backed; nothing on the
    * driver. */
  def runningCounts(events: DataFrame, entity: String): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    // NoTimeout: state never expires — correct for a bounded backlog
    // drain (q72), unbounded on a continuous stream with unbounded
    // distinct keys. The continuous form is [[runningCountsTtl]].
    events.select(col(entity).cast("long")).as[Long]
      .groupByKey(identity)
      .mapGroupsWithState[Long, (Long, Long)](
        GroupStateTimeout.NoTimeout()) { (key, rows, state) =>
        val total = state.getOption.getOrElse(0L) + rows.size
        state.update(total)
        (key, total)
      }
      .toDF(entity, "n_events")
  }

  /** [[runningCounts]] with BOUNDED state: per-key counts whose state
    * expires `ttl` after the key's last event (EVENT time, enforced by
    * the stream's watermark — deterministic under replay, unlike a
    * wall-clock ProcessingTimeTimeout). A key idle past the TTL emits a
    * `(key, -1)` tombstone as its state is dropped; if it re-appears
    * later its count restarts from zero. This is the trade a continuous
    * 100 TB stream must make: total state is bounded by the keys active
    * within the TTL horizon instead of growing with every key ever
    * seen, at the cost of counts resetting across idle gaps. */
  def runningCountsTtl(events: DataFrame, entity: String, tsCol: String,
                       watermark: String, ttlMs: Long): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events.withColumn(tsCol, asEventTime(tsCol))
      .withWatermark(tsCol, watermark)
      .select(col(entity).cast("long"), col(tsCol))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), (Long, Long)](
        OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
        (key, rows, state) =>
          if (state.hasTimedOut) {
            // watermark passed lastEventTime + ttl with no new data:
            // drop the state, surface the expiry as a tombstone
            state.remove()
            Iterator((key, -1L))
          } else {
            val (n, maxTs) = rows.foldLeft((0L, Long.MinValue)) {
              case ((c, m), (_, ts)) => (c + 1, math.max(m, ts.getTime))
            }
            val (prev, prevTs) = state.getOption.getOrElse((0L, Long.MinValue))
            val total = prev + n
            val lastTs = math.max(prevTs, maxTs)
            state.update((total, lastTs))
            state.setTimeoutTimestamp(lastTs + ttlMs)
            Iterator((key, total))
          }
      }
      .toDF(entity, "n_events")
  }

  /** STREAMING funnel — [[graft.operators.Funnel]] semantics kept
    * incrementally: per entity, the deepest step reached where each
    * step's event is strictly after the previous step's time. The
    * state (per step, the sorted times seen so far) is merged
    * commutatively and the chain re-derived per update, so the final
    * answer is ORDER-INSENSITIVE: a late-arriving early-step event in
    * a later micro-batch revises the chain exactly as a batch
    * computation over the full log would (EventStreamSpec forces this
    * with maxFilesPerTrigger=1). Emits (entity, reached) in update
    * mode; `reached` is monotone per key, so `max` over the update
    * stream is the final value.
    *
    * State is bounded by each entity's own FUNNEL-STEP event times
    * (other event types are filtered before the state op) — the
    * per-user-analytics bound; a continuous deployment adds the same
    * event-time TTL as [[runningCountsTtl]]. */
  def streamingFunnel(events: DataFrame, entity: String, tsCol: String,
                      kindCol: String, steps: Seq[String]): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    require(steps.nonEmpty, "funnel needs at least one step")
    val stepIx = steps.zipWithIndex.map { case (s, i) => s -> (i + 1) }
      .toMap
    val k = steps.length
    events
      .select(col(entity).cast("long"), col(kindCol).cast("string"),
        asEventTime(tsCol))
      .as[(Long, String, java.sql.Timestamp)]
      .filter(r => stepIx.contains(r._2))
      .groupByKey(_._1)
      .mapGroupsWithState[Map[Int, Seq[Long]], (Long, Int)](
        GroupStateTimeout.NoTimeout()) { (key, rows, state) =>
        val merged = rows.foldLeft(
          state.getOption.getOrElse(Map.empty[Int, Seq[Long]])) {
          case (m, (_, kind, ts)) =>
            val ix = stepIx(kind)
            m.updated(ix, m.getOrElse(ix, Seq.empty) :+ ts.getTime)
        }.map { case (ix, times) => ix -> times.sorted }
        state.update(merged)
        var prev = Long.MinValue
        var reached = 0
        var advancing = true
        for (i <- 1 to k if advancing) {
          merged.getOrElse(i, Seq.empty)
            .find(t => i == 1 || t > prev) match {
            case Some(t) => prev = t; reached = i
            case None => advancing = false
          }
        }
        (key, reached)
      }
      .toDF(entity, "reached")
  }

  /** STREAMING EWMA (α = 1/2): per-key exponential smoothing kept
    * incrementally in keyed state — the continuous twin of the batch
    * fold (q157). State per key is just (n, s); each batch's rows
    * sort by (event time, id) within the key before folding, so the
    * result is exact as long as batches arrive time-ordered per key
    * (the [[replay]] discipline — chronological blocks).
    * A late cross-batch event would need the full merge-and-replay
    * state of [[streamingFunnel]]; this operator states the cheaper
    * contract instead of silently approximating. Emits (key, n, ewma)
    * per update; the highest-n update per key IS the batch answer. */
  def streamingEwma(events: DataFrame, entity: String, tsCol: String,
                    idCol: String, valueCol: String): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    events.select(col(entity).cast("long"),
        asEventTime(tsCol), col(idCol).cast("long"),
        col(valueCol).cast("double"))
      .as[(Long, java.sql.Timestamp, Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Double), (Long, Long, Double)](
        GroupStateTimeout.NoTimeout()) { (key, rows, state) =>
        val sorted = rows.toSeq.sortBy(r => (r._2.getTime, r._3))
        var (n, s) = state.getOption.getOrElse((0L, 0.0))
        sorted.foreach { r =>
          s = if (n == 0L) r._4 else 0.5 * r._4 + 0.5 * s
          n += 1
        }
        state.update((n, s))
        (key, n, s)
      }
      .toDF(entity, "n_events", "ewma")
  }

  /** Streaming one-sided CUSUM against a FIXED integer target — the
    * online form of [[graft.operators.ChangeDetect.cusum]] (the batch
    * operator centers on the key's own mean, which needs the whole
    * series; a stream monitors drift against a configured baseline).
    * Keyed state is three longs (n, prefix sum p, running min of p);
    * the emitted statistic is the closed form p − min(0, min_j p_j),
    * so the final update per key equals the batch windowed answer
    * over the full log — exact integers end-to-end. Same intra-key
    * ordering contract as [[streamingEwma]]: events fold sorted
    * within a batch, batches arrive chronologically per key. */
  def streamingCusum(events: DataFrame, entity: String, tsCol: String,
                     idCol: String, dCol: String): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    events.select(col(entity).cast("long"),
        asEventTime(tsCol), col(idCol).cast("long"),
        col(dCol).cast("long"))
      .as[(Long, java.sql.Timestamp, Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Long, Long), (Long, Long, Long)](
        GroupStateTimeout.NoTimeout()) { (key, rows, state) =>
        val sorted = rows.toSeq.sortBy(r => (r._2.getTime, r._3))
        var (n, p, minp) = state.getOption.getOrElse((0L, 0L, 0L))
        sorted.foreach { r =>
          n += 1; p += r._4; if (p < minp) minp = p
        }
        state.update((n, p, minp))
        (key, n, p - math.min(minp, 0L))
      }
      .toDF(entity, "n_events", "cusum")
  }

  /** Streaming token-bucket admission — the ONLINE twin of
    * [[graft.operators.RateLimit.tokenBucket]]: per-key state is four
    * longs (tokens, last-minute, accepted, rejected); each micro-batch
    * folds its rows in (event-time, id) order with the identical
    * lazy-refill arithmetic, so the final update per key equals the
    * batch replay over the full log and the two share one SQL oracle.
    * This is the shape an ingestion edge actually runs at stream
    * rates: admission state bounded per key, decisions in-line with
    * arrival, no log scan. Same intra-key ordering contract as
    * [[streamingEwma]] (batches chronological per key). */
  def streamingTokenBucket(events: DataFrame, entity: String,
                           tsCol: String, idCol: String, capacity: Long,
                           refillPerMin: Long = 1L,
                           cost: Long = 1L): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    events.select(col(entity).cast("long"),
        unix_micros(asEventTime(tsCol)), col(idCol).cast("long"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Long, Long, Long),
          (Long, Long, Long, Long, Long)](
        GroupStateTimeout.NoTimeout()) { (key, rows, state) =>
        val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
        var (tokens, last, acc, rej) =
          state.getOption.getOrElse((capacity, -1L, 0L, 0L))
        sorted.foreach { r =>
          val m = r._2 / 60000000L // epoch us are non-negative
          val gain = if (last < 0) 0L else (m - last) * refillPerMin
          tokens = math.min(capacity, tokens + gain)
          if (tokens >= cost) { tokens -= cost; acc += 1 } else rej += 1
          last = m
        }
        state.update((tokens, last, acc, rej))
        (key, acc + rej, acc, rej, tokens)
      }
      .toDF(entity, "n_events", "n_accepted", "n_rejected",
        "tokens_left")
  }

  /** [[runningCountsTtl]] on the MODERN arbitrary-state API
    * (`transformWithState`, Spark 4.x): same semantics — per-key
    * running counts whose state expires `ttl` after the key's last
    * event (event time, enforced by the watermark; `(key, -1)`
    * tombstone on expiry; counts restart after an idle gap) — but the
    * state is a named, schema'd `ValueState` and the expiry an explicit
    * event-time TIMER, which is the shape Spark evolves state
    * (schema migration, state data source reads, multiple typed state
    * variables) on. Requires the RocksDB state store provider
    * (`spark.sql.streaming.stateStore.providerClass` →
    * `...state.RocksDBStateStoreProvider`) — the provider a 100 TB
    * deployment runs anyway for state larger than executor heap. */
  def runningCountsTws(events: DataFrame, entity: String, tsCol: String,
                       watermark: String, ttlMs: Long): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events.withColumn(tsCol, asEventTime(tsCol))
      .withWatermark(tsCol, watermark)
      .select(col(entity).cast("long"), col(tsCol))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new RunningCountProcessor(ttlMs),
        TimeMode.EventTime(), OutputMode.Update())
      .toDF(entity, "n_events")
  }

  /** Keyed processor behind [[runningCountsTws]]: one (total, lastTs)
    * ValueState per key + one event-time timer at lastTs + ttl,
    * re-armed on every batch that sees the key. */
  private class RunningCountProcessor(ttlMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, java.sql.Timestamp), (Long, Long)] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode,
      TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var state: ValueState[(Long, Long)] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      // timer-driven expiry, not TTLConfig: TTLConfig is
      // processing-time (wall clock) only — the event-time timer keeps
      // expiry deterministic under replay, same as runningCountsTtl
      state = getHandle.getValueState[(Long, Long)]("count",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong),
        TTLConfig.NONE)

    override def handleInputRows(key: Long,
        rows: Iterator[(Long, java.sql.Timestamp)],
        timers: TimerValues): Iterator[(Long, Long)] = {
      val (n, maxTs) = rows.foldLeft((0L, Long.MinValue)) {
        case ((c, m), (_, ts)) => (c + 1, math.max(m, ts.getTime))
      }
      val (prev, prevTs) =
        if (state.exists()) state.get() else (0L, Long.MinValue)
      val total = prev + n
      val lastTs = math.max(prevTs, maxTs)
      if (prevTs != Long.MinValue) getHandle.deleteTimer(prevTs + ttlMs)
      state.update((total, lastTs))
      getHandle.registerTimer(lastTs + ttlMs)
      Iterator.single((key, total))
    }

    override def handleExpiredTimer(key: Long, timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[(Long, Long)] = {
      state.clear()
      Iterator.single((key, -1L))
    }
  }

  /** Streaming ingest deduped against a STATIC store: a stream-static
    * LEFT ANTI join on the fingerprint column — rows whose fingerprint
    * already exists in the (batch) store never reach the sink. This is
    * [[graft.llm.Dedup.incrementalExact]]'s first stage in continuous
    * form: the store is re-read per micro-batch (so a growing store is
    * picked up), the join is stateless on the stream side, and the
    * store side is a narrow one-column frame the planner can broadcast.
    * Batch-internal duplicate suppression composes via [[dedupByKey]]
    * downstream when the stream carries event time. */
  def dedupAgainstStore(stream: DataFrame, fingerprint: Column,
                        store: DataFrame): DataFrame = {
    val known = store.toDF("__known_fp")
    stream.join(known, fingerprint === col("__known_fp"), "left_anti")
  }

  /** Stream-stream INNER interval join: both sides watermarked and the
    * join condition time-bounded, so each side's buffered state is
    * evicted once the other side's watermark passes the interval —
    * bounded state on a continuous stream (the UNBOUNDED form would
    * buffer both streams forever). Inner-join matches emit as they are
    * found (no watermark wait), so a static backlog drains in one
    * AvailableNow batch.
    *
    * MULTI-BATCH DRAIN SAFETY (batch-parity callers): when the whole
    * backlog arrives in ONE micro-batch, no row is ever dropped — the
    * watermark only advances AFTER the batch. If the same backlog
    * arrives across several batches (multi-file tables,
    * maxFilesPerTrigger), rows older than `watermark` behind an
    * earlier batch's maximum are late-DROPPED — correct streaming
    * semantics, but it diverges from a batch oracle that joins
    * everything. This is ENFORCED, not just documented: derive the
    * drain watermark with [[backlogSpanWatermark]] (>= the backlog's
    * full event-time span, so no in-backlog row can ever be "late")
    * whenever the source may deliver more than one batch —
    * EventStreamSpec replays a chronologically interleaved 3-file
    * backlog at maxFilesPerTrigger=1 and holds parity as a law (and
    * shows a short watermark really does drop rows). q89 derives its
    * watermark this way; a production CONTINUOUS stream sizes the
    * watermark to its real out-of-orderness instead. */
  def intervalJoin(a: DataFrame, aTs: String, b: DataFrame, bTs: String,
                   cond: Column, watermark: String,
                   joinType: String = "inner"): DataFrame =
    a.withColumn(aTs, asEventTime(aTs)).withWatermark(aTs, watermark)
      .join(b.withColumn(bTs, asEventTime(bTs))
        .withWatermark(bTs, watermark), cond, joinType)

  /** LEFT OUTER stream-stream interval join: inner matches emit as
    * found; an UNMATCHED left row emits (with nulls on the right) only
    * once the watermark passes its join-interval upper bound — before
    * that, a matching right row could still arrive, so earlier
    * emission would be wrong, and Spark buffers the row in state.
    * Consequence for a static drain: the backlog needs a trailing
    * sentinel batch whose event time pushes the watermark past every
    * left row's interval (same recipe as the append-mode window flush
    * in [[runToSink]]) — state at stream end is NOT flushed. The
    * watermark here must reflect real out-of-orderness (NOT
    * [[backlogSpanWatermark]]): outer emission waits for the watermark,
    * so a span-sized delay would hold every unmatched row in state
    * until a sentinel `span` past the data — deliver the whole real
    * backlog in one micro-batch instead (single file +
    * maxFilesPerTrigger) and keep the delay small. */
  def leftOuterIntervalJoin(a: DataFrame, aTs: String, b: DataFrame,
                            bTs: String, cond: Column,
                            watermark: String): DataFrame =
    intervalJoin(a, aTs, b, bTs, cond, watermark, "left_outer")

  /** FULL OUTER stream-stream interval join — both sides' unmatched
    * rows emit with nulls opposite once the watermark passes their
    * interval; same sentinel-flush drain contract as
    * [[leftOuterIntervalJoin]], applied to BOTH sides. Completes the
    * supported stream-stream matrix (inner / left / full — Spark has
    * no stream-stream semi/anti). */
  def fullOuterIntervalJoin(a: DataFrame, aTs: String, b: DataFrame,
                            bTs: String, cond: Column,
                            watermark: String): DataFrame =
    intervalJoin(a, aTs, b, bTs, cond, watermark, "full_outer")

  /** Watermark delay covering a STATIC backlog's full event-time span
    * (+1 s margin): with this delay, no row of the backlog can fall
    * behind the watermark no matter how files are batched or ordered,
    * so a drain over any number of micro-batches joins exactly what a
    * batch join would. One tiny min/max aggregate over the batch twin
    * of the stream (parquet footer stats make this a metadata-only
    * scan in the common case). */
  def backlogSpanWatermark(batch: DataFrame, tsCol: String): String = {
    val r = batch.agg(min(asEventTime(tsCol)), max(asEventTime(tsCol)))
      .collect()(0)
    if (r.isNullAt(0)) "0 seconds"
    else {
      val sec = (r.getTimestamp(1).getTime - r.getTimestamp(0).getTime) /
        1000L + 1
      s"$sec seconds"
    }
  }

  /** Run a streaming aggregation to completion over the (static) backlog
    * — Trigger.AvailableNow against a memory sink — and return the final
    * result as a DataFrame. This is the local analog of the reference's
    * drain-the-queue batch mode; on a cluster the same query runs
    * continuously with a real sink. NOTE the memory/complete pair holds
    * the whole aggregate on the driver — correct for bounded local
    * parity checks only; unbounded outputs go through [[runToSink]].
    *
    * With an `observer`, its listener folds every micro-batch's stage
    * metrics as it commits and STOPS the query mid-stream on a
    * kept-floor violation, which is then rethrown as
    * [[graft.llm.CurationAborted]]. Listener delivery is async, so
    * after termination the query's own progress log is re-ingested
    * (idempotent) — a violation on the FINAL batch is caught even if
    * its event hasn't reached the bus yet. On abort, inspect
    * `observer.history`, fix the floor or the stage, and re-run:
    * committed batches are replayed from the source, not trusted from
    * the aborted sink (the at-least-once contract). */
  def runToCompletion(spark: SparkSession, agg: DataFrame,
                      mode: String = "complete",
                      observer: Option[StreamPipelineObserver] = None,
                      statePartitions: Int = 8): DataFrame =
    withStatePartitions(spark, statePartitions) {
      val l = observer.map(_.listener(spark))
      l.foreach(spark.streams.addListener)
      try {
        val name = s"graft_stream_${runIds.incrementAndGet()}"
        // the analyzed frame holds the sink's rows; the view `start`
        // registers would pin them, after a failed drain too
        try {
          val q = drain(agg)(
            _.format("memory").queryName(name).outputMode(mode))
          observer.foreach { o =>
            q.recentProgress.foreach(o.ingest)
            o.violation.foreach(throw _)
          }
          spark.table(name)
        } finally spark.catalog.dropTempView(name)
      } finally l.foreach(spark.streams.removeListener)
    }

  /** Drain `stream` through `perBatch`, one call per micro-batch
    * (Trigger.AvailableNow, progress checkpointed at `checkpointDir`):
    * the loop every per-batch fold below shares, and
    * [[graft.llm.SemDedup.streamingDedup]] and
    * [[graft.operators.Scd.streamingMergeType2]] with them. Each fold
    * appends a batch's rows with [[Sinks.writeBlocks]] (one
    * [[graft.sources.TableLog]] commit) and reads its store back with
    * [[Sinks.read]]. A batch redelivered after a restart runs
    * `perBatch` again. */
  private[graft] def foldBatches(stream: DataFrame, checkpointDir: String)
      (perBatch: DataFrame => Unit): Unit =
    drain(stream)(_.foreachBatch((bdf: DataFrame, _: Long) => perBatch(bdf))
      .option("checkpointLocation", checkpointDir))

  /** Start `df` as a `Trigger.AvailableNow` query, set up by `sink`,
    * and wait for it to end: the one way every drain here runs. The
    * session's [[NioLocalFileSystem]] is installed first, so the
    * query's checkpoint and state-store files fork no process. */
  private def drain(df: DataFrame)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): StreamingQuery = {
    NioLocalFileSystem.install(df.sparkSession)
    val q = sink(df.writeStream).trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q
  }

  /** Stateful-operator parallelism for a LOCAL drain: every stateful
    * streaming op creates `spark.sql.shuffle.partitions` state-store
    * instances per stateful stage (a stream-stream join keeps FOUR per
    * partition), each paying checkpoint file I/O per micro-batch — at
    * local backlog sizes that fixed cost dwarfs the data. Results are
    * partitioning-independent, so the drain helpers pin a small count
    * while the query runs and restore the session setting after; a
    * real cluster deployment sizes state partitions to stream
    * throughput instead. */
  private def withStatePartitions[T](spark: SparkSession, n: Int)
      (f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try f finally spark.conf.set(key, prev)
  }

  /** The UNBOUNDED-output shape: run a watermarked APPEND-mode query
    * against a real parquet file sink (+ checkpoint) and read the sink
    * back. State lives on executors bounded by the watermark; the sink
    * is an appendable columnar table — nothing accumulates on the
    * driver, so this is the form that survives a continuous 100 TB
    * stream.
    *
    * Append-mode semantics to be aware of (and what the harness
    * exploits): a window is emitted only when a LATER batch advances
    * the watermark past its end, so a static backlog must arrive in
    * >=2 micro-batches (`maxFilesPerTrigger=1` + a trailing sentinel
    * file) for the real windows to flush; windows not yet past the
    * final watermark stay in state. */
  def runToSink(spark: SparkSession, agg: DataFrame,
                outDir: String, checkpointDir: String,
                statePartitions: Int = 8): DataFrame =
    withStatePartitions(spark, statePartitions) {
      drain(agg)(_.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", checkpointDir)
        .outputMode("append"))
      // Spark's own reader, not TableLog: the file sink commits through
      // `outDir/_spark_metadata`, and only spark.read honours that log —
      // a restarted drain's exactly-once handoff (q313) rests on it
      spark.read.parquet(outDir)
    }

  /** STREAMING MANIFEST UPKEEP — the partition-manifest family
    * (Fingerprint / KMV, q255/q294-q300) maintained in keyed state as
    * data streams in, so manifests stay fresh with ZERO rescans of
    * history. Every component is an ORDER-INDEPENDENT set function —
    * row count, modular content-hash sum, k-smallest-distinct-hashes
    * — so the streamed manifest is BIT-IDENTICAL to one built by a
    * batch scan of the same rows (the q309 oracle proves it by hash).
    * State per shard is bounded: two longs + at most k hashes,
    * regardless of row volume.
    *
    * `staged` must carry: `shard` (the manifest grain), `h` (the
    * row's content-hash term, already mod 2³¹−1 — compose with
    * [[graft.operators.Fingerprint.rowHash]]), `kh` (the row's KMV
    * hash — [[graft.operators.Kmv.h48]] of the distinct-count key).
    * Emits per shard per changed batch: (shard, n_rows, fp, k_count,
    * h_k); update-mode drain + last-state pick gives the final
    * manifest. */
  def streamingManifest(staged: DataFrame, k: Int): DataFrame = {
    require(k >= 2, "KMV needs k >= 2")
    val spark = staged.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    staged.select(col("shard").cast("long"), col("h").cast("long"),
        col("kh").cast("long"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[(Long, Long, Seq[Long]),
          (Long, Long, Long, Long, Long)](
        GroupStateTimeout.NoTimeout()) { (key, rows, state) =>
        var (n, fp, mk) =
          state.getOption.getOrElse((0L, 0L, Seq.empty[Long]))
        val rs = rows.toSeq
        rs.foreach { r => n += 1; fp = (fp + r._2) % 2147483647L }
        mk = (mk ++ rs.map(_._3)).distinct.sorted.take(k)
        state.update((n, fp, mk))
        (key, n, fp, mk.size.toLong, if (mk.isEmpty) 0L else mk.last)
      }
      .toDF("shard", "n_rows", "fp", "k_count", "h_k")
  }

  /** STREAMING CONTEXT PACKING — the q353/q355 chunk-census manifold
    * maintained as documents STREAM in: each micro-batch is tokenized
    * exactly once, its spans are laid AFTER the running token total
    * (batch doc ids must ascend across batches — the file-stream
    * ingest contract the fold theorem needs), and its chunk census
    * APPENDS to the manifest directory. Because per-chunk doc counts
    * are additive over disjoint doc sets, one groupBy-sum fold over
    * the appended censuses equals the full batch rebuild exactly —
    * q369 proves it against the rebuild oracle by hash. State outside
    * the sink is ONE long (the running total) regardless of stream
    * volume; history text is never re-read. `docsStream` must carry
    * (doc_id, text). Returns the folded census with per-chunk fill. */
  def streamingPacking(spark: SparkSession, docsStream: DataFrame,
                       censusDir: String, checkpointDir: String,
                       chunkTokens: Long): DataFrame =
    withStatePartitions(spark, 8) {
      val pk = graft.operators.Packing
      val total = new java.util.concurrent.atomic.AtomicLong(0L)
      foldBatches(docsStream, checkpointDir) { bdf =>
        val spans = pk.spans(
          bdf.select(col("doc_id"),
            graft.llm.TextAnalysis.tokenCount(col("text"))
              .cast("long").as("n_tok")),
          col("doc_id"), col("n_tok"),
          baseOffset = total.get()).localCheckpoint()
        Sinks.writeBlocks(pk.chunkCensus(spans, chunkTokens), censusDir, Nil)
        // bounded scalar pull: one long per micro-batch
        val mx = spans.agg(max(col("e"))).collect()(0)
        if (!mx.isNullAt(0)) total.set(mx.getLong(0) + 1)
      }
      val folded = Sinks.read(spark, censusDir)
        .groupBy(col("chunk"))
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("n_starts")).as("n_starts"))
      pk.withFill(folded, chunkTokens, lit(total.get()))
    }

  /** Streaming corpus digest — the [[graft.operators.Digest]] fold
    * in the micro-batch runtime (the q369 pattern applied to the
    * sixth fold family). Each micro-batch appends its per-shard
    * digests to `manifestDir`; the corpus digest is then ONE
    * groupBy fold over the manifest. History's text is never
    * re-read: a 100 TB corpus streamed over months carries a
    * shards-bounded manifest, and the nightly integrity check costs
    * O(latest batch + manifest rows). Fold ≡ batch rebuild by the
    * Digest fold law (DigestSpec); q381's oracle IS the rebuild. */
  def streamingDigest(spark: SparkSession, docsStream: DataFrame,
                      manifestDir: String,
                      checkpointDir: String): DataFrame = {
    val dg = graft.operators.Digest
    foldBatches(docsStream, checkpointDir) { bdf =>
      Sinks.writeBlocks(dg.shardDigests(bdf, col("doc_id"), col("text")),
        manifestDir, Nil)
    }
    dg.fold(Seq(Sinks.read(spark, manifestDir)))
  }

  /** Streaming per-source K-min-hash cap manifest — the CapSample
    * fold (q389) in the micro-batch runtime. Each batch MINEs its
    * own ≤k-per-source manifest (tokenize + md5 + bucketed rank —
    * the only data-proportional step; history's text is never
    * re-read) and appends it to `manifestDir`; the standing sample
    * is ONE CapSample.truncate over the appended mines (bounded:
    * ≤ k·batches rows per source). merge's idempotence dedup makes
    * a redelivered batch fold to a no-op — at-least-once safe.
    * Expects (doc_id, source, text); returns the folded manifest
    * (doc_id, source, n_tok, h). */
  def streamingCapManifest(spark: SparkSession,
                           docsStream: DataFrame, manifestDir: String,
                           checkpointDir: String, k: Int): DataFrame = {
    val cs = graft.operators.CapSample
    foldBatches(docsStream, checkpointDir) { bdf =>
      Sinks.writeBlocks(cs.mine(
          bdf.select(col("doc_id"), col("source"),
              graft.llm.TextAnalysis.tokenCount(col("text"))
                .cast("long").as("n_tok"))
            .withColumn("h", md5(concat(lit("cap:"),
              col("doc_id").cast("string")).cast("binary"))),
          "source", Seq("h", "doc_id"), k), manifestDir, Nil)
    }
    cs.truncate(Sinks.read(spark, manifestDir), "source",
      Seq("h", "doc_id"), k)
  }

  /** Streaming TRAINING-BUILD artifact mining — the per-batch step of
    * the q403 capstone's STREAMING twin (q407). Each micro-batch is
    * the ONLY place its text is ever read: the batch is tokenized /
    * shingled / hashed once and five compact manifests APPEND —
    *
    *  - `cap/`   ≤k-per-source K-min-hash mine rows with the n_tok
    *             payload (the q393 runtime; fold = CapSample.truncate)
    *  - `sh3/`   per-decon-corpus-doc 3-shingle 64-bit hash ARRAYS
    *             (the pair-mining image; fold = one df-capped
    *             postings join, Dedup.ngramJaccardPairsFromShingles)
    *  - `g8/`    per-corpus-doc 8-gram hash postings (the
    *             contamination image; fold = one broadcast join
    *             against the eval grams)
    *  - `evalg/` the eval set's tail-8-gram hashes (tiny)
    *  - `hash/`  per-base-doc 28-bit content hashes (the digest
    *             image; fold = Digest.shardDigestsFromHashes over any
    *             later-chosen subset)
    *  - `score/` per-base-doc exact distinct-token quality score
    *             (8 bytes/doc — the epoch/exposure stage's ranking
    *             axis, q359; lets the q411 epoch serve rank a
    *             later-chosen selection without re-reading text)
    *
    * The decon corpus (base ∪ truncated variants) is derived INSIDE
    * the batch — a variant is a pure function of its base row, so
    * per-batch derivation ∪-folds to the batch rebuild exactly.
    *
    * Scale story: every manifest is either bounded (cap: k·sources·
    * batches; evalg: |eval|) or a COMPACT NUMERIC IMAGE of the text
    * (sh3/g8: one 64-bit hash per token position; hash: 8 bytes/doc)
    * — the 100 TB corpus is tokenized exactly once, at arrival, and
    * every downstream rebuild (pairs, closure, contamination, digest,
    * packing, sharding) runs off the appended manifests with history
    * text never re-read. At-least-once safe BY KEY-DEDUP AT THE FOLD:
    * every manifest row is a pure function of its doc (tokenization
    * is deterministic), so a redelivered batch appends byte-identical
    * rows and the returned frames drop duplicates on their natural
    * keys — without that, a replay would DOUBLE per-gram df counts
    * and digest sums (the cap manifest instead dedups inside
    * CapSample.truncate, its own monoid law). EventStreamSpec pins
    * redelivery ≡ clean ingest for all five manifests.
    *
    * `docsStream` must carry (doc_id, source, text). Returns the six
    * manifest frames (cap, sh3, g8, evalg, hash, score) after the
    * drain. */
  def streamingTrainingArtifacts(spark: SparkSession,
                                 docsStream: DataFrame, manRoot: String,
                                 checkpointDir: String, k: Int)
      : (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame,
         DataFrame) = {
    val capDir = manRoot + "/cap"
    val sh3Dir = manRoot + "/sh3"
    val g8Dir = manRoot + "/g8"
    val evalDir = manRoot + "/evalg"
    val hashDir = manRoot + "/hash"
    val scoreDir = manRoot + "/score"
    val ta = graft.llm.TextAnalysis
    foldBatches(docsStream, checkpointDir) { bdf =>
      // one materialization: the five feature extractions below
      // re-scan the batch from executor memory, not the source
      val base = bdf.select(col("doc_id"), col("source"),
        col("text")).localCheckpoint()
      // the six manifest appends are INDEPENDENT jobs over the
      // checkpointed batch, each a ~single-partition write whose
      // wall is dominated by job + commit overhead — submit them
      // from the shared pool so the drain pays max, not sum, of the
      // six (guide §2.6 "overlap independent jobs"; appends target
      // six distinct tables, so results are byte-identical)
      def append(df: => DataFrame, dir: String) =
        onPool(Sinks.writeBlocks(df, dir, Nil))
      val fCap = append(graft.operators.CapSample.mine(
          base.select(col("doc_id"), col("source"),
              ta.tokenCount(col("text")).cast("long").as("n_tok"))
            .withColumn("h", md5(concat(lit("cap:"),
              col("doc_id").cast("string")).cast("binary"))),
          "source", Seq("h", "doc_id"), k), capDir)
      val toks = ta.tokens(col("text"))
      // doc_id < 1000000: the batch chain's eval-set guard mirrored
      // (a no-op when real ids sit below the variant band)
      val fEval = append(base.filter(col("doc_id") < 1000000L &&
          pmod(col("doc_id"), lit(97)) === 0)
        .select(array_join(
          when(size(toks) >= 8,
            slice(toks, size(toks) - 7, lit(8)))
            .otherwise(toks), " ").as("etext"))
        .select(explode(ta.shingleHashes(col("etext"), 8)).as("g")),
        evalDir)
      val fHash = append(base.select(col("doc_id"),
          graft.operators.Digest.contentHash(col("text")).as("h")),
        hashDir)
      val fScore = append(base.select(col("doc_id"),
          size(array_distinct(ta.tokens(col("text"))))
            .cast("long").as("score")),
        scoreDir)
      val corpus = base.select(col("doc_id"), col("text"))
        .unionByName(base
          .filter(pmod(col("doc_id"), lit(3)) === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            col("text").substr(lit(1),
              greatest(length(col("text")) - 20, lit(1)))
              .as("text")))
        .localCheckpoint() // scanned twice: sh3 + g8
      val fSh3 = append(corpus.select(col("doc_id").as("id"),
          ta.shingleHashes(col("text"), 3).as("s")), sh3Dir)
      val fG8 = append(corpus.select(col("doc_id"),
          explode(ta.shingleHashes(col("text"), 8)).as("g")), g8Dir)
      awaitAll(Seq(fCap, fEval, fHash, fScore, fSh3, fG8))
    }
    def read(dir: String) = Sinks.read(spark, dir)
    (read(capDir),
      read(sh3Dir).dropDuplicates("id"),
      read(g8Dir).dropDuplicates("doc_id", "g"),
      read(evalDir).dropDuplicates("g"),
      read(hashDir).dropDuplicates("doc_id"),
      read(scoreDir).dropDuplicates("doc_id"))
  }

  /** Streaming takedown-notice manifest — the incremental takedown
    * fold (q412, [[graft.operators.Takedown]]) fed from the
    * micro-batch runtime (q414). Notice batches carry BARE DOC IDS;
    * each batch joins the PACK-TIME spans manifest (a layout lookup,
    * ∝ notices — text is never read) and appends the removed spans
    * (doc_id, n_tok, s, e) to `manifestDir`. At-least-once safe by
    * key-dedup at the fold: a manifest row is a pure function of the
    * static layout, so a redelivered batch appends byte-identical
    * rows dropped on doc_id. Returns the folded removed-doc spans —
    * feed them to Takedown.foldCensus. */
  def streamingTakedownManifest(spark: SparkSession,
                                noticeStream: DataFrame,
                                spansManifest: DataFrame,
                                manifestDir: String,
                                checkpointDir: String): DataFrame = {
    foldBatches(noticeStream, checkpointDir) { bdf =>
      Sinks.writeBlocks(spansManifest
        .join(bdf.select(col("doc_id")).distinct(), Seq("doc_id")),
        manifestDir, Nil)
    }
    Sinks.read(spark, manifestDir).dropDuplicates("doc_id")
  }

  /** Streaming per-source token census — the q362 mixture fold's
    * micro-batch twin. Each batch appends its (source, sz_tok)
    * census to `censusDir`; the merged census is one groupBy-sum
    * fold (additive counts — the fold theorem's mixture family).
    * The caller runs the water-fill on the fold's output; text is
    * read exactly once per doc, ever. */
  def streamingSourceCensus(spark: SparkSession,
                            docsStream: DataFrame, censusDir: String,
                            checkpointDir: String): DataFrame = {
    foldBatches(docsStream, checkpointDir) { bdf =>
      Sinks.writeBlocks(bdf.groupBy(col("source"))
        .agg(sum(graft.llm.TextAnalysis.tokenCount(col("text"))
          .cast("long")).as("sz_tok")), censusDir, Nil)
    }
    Sinks.read(spark, censusDir)
      .groupBy(col("source"))
      .agg(sum(col("sz_tok")).as("sz_tok"))
  }

  /** Drain `agg` to a NO-OP sink while persisting the checkpoint at
    * `checkpoint` — nothing is kept from the OUTPUT; the point is the
    * checkpoint's state-store files, which [[StateAudit]] then reads
    * offline. The production shape for "audit the live state": the
    * stream keeps its own checkpoint anyway, the audit job just
    * points at it. */
  def drainWithCheckpoint(spark: SparkSession, agg: DataFrame,
                          checkpoint: String, mode: String = "update",
                          statePartitions: Int = 8): Unit =
    withStatePartitions(spark, statePartitions) {
      drain(agg)(_.format("noop")
        .option("checkpointLocation", checkpoint)
        .outputMode(mode))
    }
}
