package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Token-bucket rate-limiter REPLAY: given an event log, recompute
  * per entity which events a bucket of `capacity` tokens (refilling
  * `refillPerMin` per elapsed minute, `cost` per event) would have
  * accepted — the quota-enforcement audit an ingestion edge runs
  * offline: "what would this limit have done to last month's
  * traffic". All-integer state, so the replay is bit-replayable in
  * any engine.
  *
  * Shape: the fold is sequential per entity BY CONSTRUCTION, so it
  * runs as one ordered fold over each entity's collected event-minute
  * list — one exchange on the entity key, per-entity memory bounded
  * by that entity's event count (the same bound any per-entity
  * sessionization pays; an unbounded live stream would run the
  * identical transition in keyed state, cf. EventStream
  * .runningCountsTtl). The fold is `functions.aggregate` with an
  * explicit initial state; an engine seeding with the first ELEMENT
  * (DuckDB list_reduce) replays it by prepending a state-shaped
  * sentinel — same lambda, same arithmetic.
  *
  * Refill is integer minutes RELATIVE TO THE PREVIOUS EVENT
  * (gain = minute − last-minute, capped at capacity), the standard
  * lazy-refill formulation: no per-minute ticks, state is
  * (tokens, last) regardless of idle gaps.
  */
object RateLimit {

  private def initState(capacity: Long): Column =
    struct(lit(capacity).as("tokens"), lit(-1L).as("last"),
      lit(0L).as("acc"), lit(0L).as("rej"))

  /** The (shared) one-event transition: lazy refill capped at
    * capacity, accept iff tokens cover the cost. Both the whole-list
    * fold and the chunked fold use exactly this lambda — the
    * chunked ≡ whole law (RateLimitSpec) is a law about fold
    * SEGMENTATION, not about two implementations. */
  private def step(capacity: Long, refillPerMin: Long, cost: Long)
                  (s: Column, e: Column): Column = {
    val m = e.getField("m")
    val gain = when(s.getField("last") < 0, lit(0L))
      .otherwise((m - s.getField("last")) * lit(refillPerMin))
    val t1 = least(lit(capacity), s.getField("tokens") + gain)
    val ok = t1 >= lit(cost)
    struct(
      (t1 - when(ok, lit(cost)).otherwise(lit(0L))).as("tokens"),
      m.as("last"),
      (s.getField("acc") + when(ok, 1L).otherwise(0L)).as("acc"),
      (s.getField("rej") + when(ok, 0L).otherwise(1L)).as("rej"))
  }

  private def minuteBase(df: DataFrame, entity: Column, us: Column,
                         tie: Column): DataFrame =
    df.select(entity.as("entity"), us.cast("long").as("u"),
        tie.cast("long").as("i"))
      .withColumn("m", expr("u div 60000000"))

  /** Per-entity (n_events, n_accepted, n_rejected, tokens_left).
    * Events order by (`us`, `tie`) — pass a unique tiebreaker so the
    * fold order is total.
    *
    * Memory bound: ONE ROW holds an entity's whole event list. Fine
    * for typical entities; an offline replay of a hot entity (bot
    * traffic, tens of millions of events) overflows the row — use
    * [[tokenBucketChunked]] there, or the keyed-state streaming twin
    * (EventStream, q253) for unbounded live streams. */
  def tokenBucket(df: DataFrame, entity: Column, us: Column,
                  tie: Column, capacity: Long, refillPerMin: Long = 1L,
                  cost: Long = 1L): DataFrame = {
    val lists = minuteBase(df, entity, us, tie).groupBy(col("entity"))
      .agg(array_sort(collect_list(
        struct(col("u"), col("i"), col("m")))).as("xs"))
    lists.select(col("entity"),
        size(col("xs")).cast("long").as("n_events"),
        aggregate(col("xs"), initState(capacity),
          step(capacity, refillPerMin, cost)).as("__st"))
      .select(col("entity"), col("n_events"),
        col("__st.acc").as("n_accepted"),
        col("__st.rej").as("n_rejected"),
        col("__st.tokens").as("tokens_left"))
  }

  /** [[tokenBucket]] with BOUNDED per-row memory: events are ranked
    * per entity once, segmented into position chunks of `chunkSize`,
    * and each chunk is collected and folded separately with the
    * PREVIOUS chunk's end state as the fold's initial value — the
    * same `step` lambda, chained across a driver loop of
    * ceil(maxEvents/chunkSize) rounds. No row ever holds more than
    * `chunkSize` events, so a hot entity (tens of millions of bot
    * events) replays in max-events/chunkSize bounded joins instead of
    * one unboundable collect_list row. Lineage is truncated with
    * localCheckpoint every few rounds (the iterative-loop discipline
    * from Dedup.connectedComponents). */
  def tokenBucketChunked(df: DataFrame, entity: Column, us: Column,
                         tie: Column, capacity: Long,
                         refillPerMin: Long = 1L, cost: Long = 1L,
                         chunkSize: Int = 100000): DataFrame = {
    require(chunkSize > 0, "chunkSize must be positive")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("entity")).orderBy(col("u"), col("i"))
    val chunks = minuteBase(df, entity, us, tie)
      .withColumn("ck",
        ((row_number().over(w) - 1) / chunkSize).cast("int"))
      .groupBy(col("entity"), col("ck"))
      .agg(array_sort(collect_list(
        struct(col("u"), col("i"), col("m")))).as("xs"))
      .localCheckpoint(false) // the round-count scan below reads it whole
    // bounded scalar pull: the round count, not data. max() over zero
    // rows is NULL — an empty input must yield the empty result frame
    // (same contract as the unchunked tokenBucket), not a getInt NPE.
    val maxCkRow = chunks.agg(max(col("ck"))).head()
    if (maxCkRow.isNullAt(0)) {
      // zero rows with `chunks`' schema, so `entity` keeps the
      // caller's type — same contract as the unchunked tokenBucket —
      // and nothing reads the released checkpoint
      val schema = chunks.select(col("entity"), lit(0L).as("n_events"),
        lit(0L).as("n_accepted"), lit(0L).as("n_rejected"),
        lit(0L).as("tokens_left")).schema
      Lifecycle.release(chunks)
      return df.sparkSession.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
    }
    val nChunks = maxCkRow.getInt(0) + 1
    val rounds = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    // every entity has a chunk 0, so round 0 seeds the state frame
    var state = chunks.filter(col("ck") === 0)
      .select(col("entity"),
        size(col("xs")).cast("long").as("n_events"),
        aggregate(col("xs"), initState(capacity),
          step(capacity, refillPerMin, cost)).as("__st"))
    for (k <- 1 until nChunks) {
      val ch = chunks.filter(col("ck") === k)
        .select(col("entity"), col("xs"))
      state = state.join(ch, Seq("entity"), "left")
        .select(col("entity"),
          (col("n_events") + when(col("xs").isNull, 0L)
            .otherwise(size(col("xs")).cast("long"))).as("n_events"),
          when(col("xs").isNull, col("__st"))
            .otherwise(aggregate(col("xs"), col("__st"),
              step(capacity, refillPerMin, cost))).as("__st"))
      if (k % 8 == 0) {
        state = state.localCheckpoint()
        rounds += state
      }
    }
    // materialize the (one-row-per-entity) final state eagerly so the
    // chunks and the superseded rounds can be released before the
    // caller's action runs
    val fin = state.localCheckpoint()
    (rounds :+ chunks).foreach(Lifecycle.release)
    fin.select(col("entity"), col("n_events"),
      col("__st.acc").as("n_accepted"),
      col("__st.rej").as("n_rejected"),
      col("__st.tokens").as("tokens_left"))
  }
}
