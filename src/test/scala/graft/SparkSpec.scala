package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, one session). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  lazy val catalog = new graft.tables.Catalog(spark, TestSpark.sfDir)
  lazy val runner = new graft.jx.Runner(spark, catalog)

  /** Spark jobs started by `run`'s tagged bodies, per tag: a listener
    * counts the jobs each tag's thread-local property marks, and a
    * sentinel job, which the listener bus delivers after every earlier
    * job start, ends the count. */
  protected def jobsPerTag(run: (String => (=> Unit) => Unit) => Unit)
      : Map[String, Int] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val mark = "graft.spec.jobs"
    val jobs = new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.atomic.AtomicInteger]()
    @volatile var sentinel = false
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty(mark)))
          .foreach { tag =>
            if (tag == "sentinel") sentinel = true
            else jobs.computeIfAbsent(tag,
              _ => new java.util.concurrent.atomic.AtomicInteger())
              .incrementAndGet()
          }
    }
    def tagged(tag: String)(body: => Unit): Unit = {
      sc.setLocalProperty(mark, tag)
      try body finally sc.setLocalProperty(mark, null)
    }
    sc.addSparkListener(listener)
    try {
      run(tagged)
      tagged("sentinel")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!sentinel && System.nanoTime() < deadline) Thread.sleep(10)
      assert(sentinel, "listener never saw the sentinel")
    } finally sc.removeSparkListener(listener)
    jobs.asScala.map { case (t, n) => t -> n.get }.toMap.withDefaultValue(0)
  }
}
