package graft.operators

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd, SparkListenerTaskStart}
import org.apache.spark.sql.functions._

class LocalSpec extends SparkSpec {
  import spark.implicits._

  private val key = "spark.graft.localBytes"

  private def withBudget[A](bytes: Long)(f: => A): A = {
    System.setProperty(key, bytes.toString)
    try f finally System.clearProperty(key)
  }

  test("collectWithin returns the rows Dataset.collect returns") {
    val df = Seq(
        (1L, "a", Seq(1.0, -2.5)),
        (2L, null, Seq.empty[Double]),
        (3L, "ccc", null))
      .toDF("id", "s", "v").repartition(3)
    val got = Local.collectWithin(df).map(_.toSeq.sortBy(_.getLong(0)))
    assert(got === Some(df.collect().toSeq.sortBy(_.getLong(0))))
    assert(withBudget(0)(Local.collectWithin(df)) === None)
    assert(withBudget(0)(Local.collectWithin(df.limit(0))).map(_.length)
      === Some(0))
  }

  test("collectWithin cancels the job once partitions each under the " +
      "budget pass it together; the operators fall back") {
    // 64 partitions of 20 one-long rows: 20 × (16 + 4) = 400 encoded
    // bytes each, 25 600 together, against a 2 000-byte budget. Each
    // partition sleeps 50 ms, so a job that ran to the end would take
    // 64 × 50 ms / 4 cores = 800 ms of tasks.
    val sleepy = udf { (x: Long) => if (x % 20 == 0) Thread.sleep(50); x }
    val df = spark.range(0, 1280, 1, 64).select(sleepy(col("id")).as("id"))
    val sc = spark.sparkContext
    val mark = "graft.spec.collect"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val succeeded = new java.util.concurrent.atomic.AtomicInteger()
    val resultBytes = new java.util.concurrent.atomic.AtomicLong()
    @volatile var sentinel = false
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty(mark)))
          .foreach { tag =>
            if (tag == "sentinel") sentinel = true
            else js.stageIds.foreach(stages.add)
          }
      override def onTaskStart(ts: SparkListenerTaskStart): Unit =
        if (stages.contains(ts.stageId)) started.incrementAndGet()
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (stages.contains(te.stageId) && te.taskInfo.successful) {
          succeeded.incrementAndGet()
          resultBytes.addAndGet(te.taskMetrics.resultSize)
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(mark, "collect")
      val got = try withBudget(2000)(Local.collectWithin(df))
                finally sc.setLocalProperty(mark, null)
      assert(got === None)
      // listener events arrive in order: once the sentinel job's start
      // is seen, every task event of the collect has been counted
      Thread.sleep(500) // let tasks the cancel did not stop finish
      sc.setLocalProperty(mark, "sentinel")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(mark, null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!sentinel && System.nanoTime() < deadline) Thread.sleep(10)
      assert(sentinel, "listener never saw the sentinel")
      info(s"${started.get} tasks started, ${succeeded.get} sent " +
        s"${resultBytes.get} bytes")
      assert(started.get <= 32,
        s"${started.get} of 64 tasks started after the budget was passed")
      // the driver received the results of at most a quarter of the
      // partitions (2 waves of 4 when the cancel lands promptly)
      assert(succeeded.get <= 16,
        s"${succeeded.get} tasks sent ${resultBytes.get} bytes to the driver")
    } finally sc.removeSparkListener(listener)

    // the same spread input is past the budget for the operators too:
    // they fall back to their distributed loops and keep their answers
    val pairs = spark.range(0, 1280, 1, 64)
      .select(col("id").as("a"), (col("id") - col("id") % 2).as("b"))
    def isLocal(out: org.apache.spark.sql.DataFrame): Boolean =
      out.queryExecution.analyzed.collectFirst {
        case r: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => r
      }.nonEmpty
    val cc = withBudget(2000)(
      graft.llm.Dedup.connectedComponents(pairs, col("a"), col("b")))
    assert(!isLocal(cc))
    assert(cc.as[(Long, Long)].collect().toMap ===
      (0L until 1280L).map(i => i -> (i - i % 2)).toMap)
    val peeled = withBudget(2000)(Graph.kCorePeel(
      pairs.select(col("a").as("src"), col("b").as("dst")), 1, 1))
    assert(!isLocal(peeled))
  }
}
