package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** CI gate for the streaming FLAT-STATE invariant — the single most
  * important 100 TB property the manual StreamScaleBench proved in
  * round 10 (keyed state = |keys|; watermark-evicted state ∝ rows per
  * batch, NOT total events), promoted into `sbt test` per the r10
  * verdict ask #1. Bounded on purpose: 1×/2× densities over a 2000-row
  * base, 4 micro-batches each, asserting STATE ROWS (deterministic)
  * from `StreamingQueryProgress.stateOperators` — never wall time.
  *
  * Backlog synthesis: 2000·density events over a FIXED 2000 s span —
  * density doubles the rows per batch and per watermark horizon while
  * the time axis (and therefore the eviction schedule) stays put; the
  * key space (|users| = 50) never grows.
  */
class StreamStateScaleSpec extends SparkSpec {
  private val es = EventStream
  private val nUsers = 50
  private val baseRows = 2000L

  private def backlog(density: Int): DataFrame = {
    val dir = graft.Scratch.dir(s"graft_sss_${density}x")
      .toString + "/ev"
    val epoch = 1700000000L // 2023-11-14, seconds
    val sec = expr(s"id div $density")
    val all = spark.range(baseRows * density).select(
      (col("id") % nUsers).as("user_id"),
      timestamp_seconds(lit(epoch) + sec).as("ts"),
      col("id").as("event_id"))
    val parts = (0 until 4).map(k =>
      all.filter(sec >= k * 500 && sec < (k + 1) * 500))
    es.replay(parts, dir)
  }

  private lazy val stream1 = backlog(1)
  private lazy val stream2 = backlog(2)

  private def peakState(s: DataFrame, mode: String)
      (build: DataFrame => DataFrame): Long = {
    val q = build(s).writeStream.format("noop").outputMode(mode)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val prog = q.recentProgress
    assert(prog.length >= 4, "expected one micro-batch per file")
    prog.map(_.stateOperators.map(_.numRowsTotal).sum).max
  }

  test("keyed state is |keys|-FLAT: token-bucket peak state rows == " +
      "|users| exactly, unchanged when event volume doubles") {
    val peak1 = peakState(stream1, "update")(s =>
      es.streamingTokenBucket(s, "user_id", "ts", "event_id",
        capacity = 3L))
    val peak2 = peakState(stream2, "update")(s =>
      es.streamingTokenBucket(s, "user_id", "ts", "event_id",
        capacity = 3L))
    assert(peak1 === nUsers.toLong)
    assert(peak2 === nUsers.toLong)
  }

  test("keyed state is |keys|-flat on the MODERN API too: " +
      "transformWithState (RocksDB) running counts hold one state " +
      "row and one timer per user at both densities") {
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(providerKey)
    spark.conf.set(providerKey,
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    try {
      def run(stream: DataFrame): Long = peakState(stream, "update")(s =>
        es.runningCountsTws(s, "user_id", "ts", watermark = "1 day",
          ttlMs = 3650L * 24 * 3600 * 1000))
      val peak1 = run(stream1)
      val peak2 = run(stream2)
      // numRowsTotal spans the operator's column families (value
      // state + timer index) — the invariant is per-key flatness:
      // identical at both densities, bounded by a small per-key
      // constant, never tracking event volume
      assert(peak1 === peak2,
        s"tws state must not grow with events: $peak1 vs $peak2")
      assert(peak1 >= nUsers.toLong && peak1 <= 4L * nUsers,
        s"tws state should be O(|users|)=$nUsers rows: $peak1")
    } finally prev match {
      case Some(p) => spark.conf.set(providerKey, p)
      case None    => spark.conf.unset(providerKey)
    }
  }

  test("watermark-evicted state scales with rows-per-batch, not with " +
      "total events: doubling density ~doubles dedup state while " +
      "staying far below the id count") {
    val peak1 = peakState(stream1, "append")(s =>
      es.dedupByKeyWithinWatermark(s, "ts", "60 seconds", "event_id"))
    val peak2 = peakState(stream2, "append")(s =>
      es.dedupByKeyWithinWatermark(s, "ts", "60 seconds", "event_id"))
    // eviction actually engaged: peak is a small fraction of the ids
    assert(peak1 < baseRows / 2,
      s"eviction never engaged: peak1=$peak1 of $baseRows ids")
    val ratio = peak2.toDouble / peak1
    assert(ratio > 1.6 && ratio < 2.4,
      s"state must track batch size (~2x): peak1=$peak1 peak2=$peak2")
  }

  test("CONTROL — the measurement catches unbounded state: a " +
      "span-sized watermark never evicts, so peak state == every id " +
      "seen and doubles with the events") {
    val peak1 = peakState(stream1, "append")(s =>
      es.dedupByKey(s, "ts", "5000 seconds", "event_id"))
    val peak2 = peakState(stream2, "append")(s =>
      es.dedupByKey(s, "ts", "5000 seconds", "event_id"))
    assert(peak1 === baseRows)
    assert(peak2 === baseRows * 2)
  }
}
