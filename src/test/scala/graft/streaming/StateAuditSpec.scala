package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

class StateAuditSpec extends SparkSpec {
  import spark.implicits._

  private def drainCounts(): (String, Long) = {
    // 3 ordered micro-batches of keyed events; runningCounts keeps
    // one state row per entity
    val mk = (base: Long) =>
      (0L until 12L).map(i => (i % 4, base + i, 1L))
        .toDF("user_id", "event_id", "value")
        .withColumn("ts", timestamp_micros(lit(1700000000000000L) +
          col("event_id") * 1000000L))
    val src = graft.Scratch.dir("graft_sas").toString + "/ev"
    val stream = EventStream.replay(Seq(mk(0), mk(100), mk(200)), src)
    val updates = EventStream.streamingTokenBucket(stream, "user_id",
      "ts", "event_id", capacity = 100L)
    val cp = graft.Scratch.dir("graft_sas_cp").toString
    EventStream.drainWithCheckpoint(spark, updates, cp)
    (cp, 4L)
  }

  test("metadata lists the stateful operator and its batch range; " +
      "store returns one row per key with the final state") {
    val (cp, nKeys) = drainCounts()
    val meta = StateAudit.metadata(spark, cp).collect()
    assert(meta.length === 1)
    val m = meta.head
    assert(m.getAs[String]("operatorName") ===
      "flatMapGroupsWithState")
    assert(m.getAs[Long]("maxBatchId") >= 1L)
    val st = StateAudit.store(spark, cp)
      .select(col("key.value").as("k"),
        (col("value.groupState._3") + col("value.groupState._4"))
          .as("n"))
      .as[(Long, Long)].collect().toMap
    assert(st.keySet === Set(0L, 1L, 2L, 3L))
    // 3 batches x 12 events / 4 users = 9 events per user, all
    // accepted at capacity 100
    assert(st.values.toSet === Set(9L))
  }

  test("batchId time-travel reads the state AS OF an earlier batch") {
    val (cp, _) = drainCounts()
    val last = StateAudit.metadata(spark, cp).collect()
      .head.getAs[Long]("maxBatchId")
    val after0 = StateAudit.store(spark, cp, batchId = Some(0L))
      .select((col("value.groupState._3") +
        col("value.groupState._4")).as("n"))
      .as[Long].collect()
    // after the first 12-event batch each of the 4 users had 3 events
    assert(after0.toSet === Set(3L))
    val afterLast = StateAudit.store(spark, cp,
        batchId = Some(last))
      .select((col("value.groupState._3") +
        col("value.groupState._4")).as("n"))
      .as[Long].collect()
    assert(afterLast.toSet === Set(9L))
  }

  test("partitionCensus sums to the key count (the state-skew audit)") {
    val (cp, nKeys) = drainCounts()
    val census = StateAudit.partitionCensus(spark, cp).collect()
    assert(census.map(_.getAs[Long]("n_state_rows")).sum === nKeys)
  }
}
