package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.Graph
import graft.llm.{Dedup, Featurize, KMeans}

/** Budget-0 distributed-path probe (r16 — the r15 verdict's ask #2):
  * at sf0.1 every graph / connected-components / k-means query is
  * served by the budget-gated DRIVER fast paths, so the distributed
  * loops — the code that actually runs at 100 TB — are exercised by
  * the spec laws but TIMED by nothing. This main runs one
  * representative operator per fast-pathed family twice on the same
  * sf inputs: once with default budgets (the fast path the bench
  * sees) and once with every local budget forced to 0 (the
  * distributed loop). Record both rows in BENCHMARKS.md each round:
  * a plan regression in a distributed loop then moves a committed
  * number instead of hiding behind the fast path.
  *
  *   sbt "runMain graft.DistPathBench /root/testdata/sf0.1"
  */
object DistPathBench {
  private val budgetKeys = Seq(
    "spark.graft.graph.localEdgeBudget",
    "spark.graft.cc.localEdgeBudget",
    "spark.graft.kmeans.localVecBudget",
    "spark.graft.kmeans.localCellBudget")

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000L).selectExpr("sum(id)").collect()

    def time[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    // restores each property's previous value (or absence), so a
    // budget set on the command line still governs the fast-path runs
    def withBudgets0[T](f: => T): T = {
      val prev = budgetKeys.map(k => k -> Option(System.getProperty(k)))
      budgetKeys.foreach(k => System.setProperty(k, "0"))
      try f finally prev.foreach {
        case (k, Some(v)) => System.setProperty(k, v)
        case (k, None) => System.clearProperty(k)
      }
    }

    // shared inputs, materialized OUTSIDE every timed region so both
    // modes time the loop, not the feature build
    val cat = new graft.tables.Catalog(spark, sfDir)
    val edges = Graph.coOccurrenceEdges(
        cat.table("lineitem")
          .filter(pmod(col("l_partkey"), lit(4)) === 0),
        col("l_orderkey"), col("l_partkey"))
      .localCheckpoint()
    val nEdges = edges.count()
    val vecs = Featurize.hashedBow(cat.table("documents"),
        col("doc_id"), col("text"), dim = 32)
      .localCheckpoint()
    val nVecs = vecs.count()

    // each run returns a value checksum of its answer (row counts are
    // equal by construction, so they would not catch a divergence)
    def pr(): Long =
      Graph.pageRank(edges, iterations = 3, damping = 0.85,
          deterministic = true)
        .agg(sum(round(col("pr") * 1e9).cast("long"))).collect()(0)
        .getLong(0)
    def cc(): Long =
      Dedup.connectedComponents(edges, col("src"), col("dst"))
        .agg(sum(col("comp"))).collect()(0).getLong(0)
    def km(): Long =
      KMeans.fit(vecs, col("doc_id"), col("v"), k = 16, iters = 2)
        .select(col("c")).collect()
        .map(r => java.lang.Double.doubleToLongBits(r.getDouble(0))).sum

    // budget-0 FIRST (cold-ish), then the fast path, then checksums
    // to pin that both modes computed the same answer
    val (prD, tPrDist) = time(withBudgets0(pr()))
    val (prF, tPrFast) = time(pr())
    val (ccD, tCcDist) = time(withBudgets0(cc()))
    val (ccF, tCcFast) = time(cc())
    val (kmD, tKmDist) = time(withBudgets0(km()))
    val (kmF, tKmFast) = time(km())
    require(prD == prF && ccD == ccF && kmD == kmF,
      s"budget-0 checksums diverged: pr $prD/$prF cc $ccD/$ccF " +
        s"km $kmD/$kmF")

    println(f"[distpath] edges=$nEdges vecs=$nVecs  " +
      f"pageRank(det,3): dist=$tPrDist%6.2f s fast=$tPrFast%6.2f s  " +
      f"cc: dist=$tCcDist%6.2f s fast=$tCcFast%6.2f s  " +
      f"kmeans(16,2): dist=$tKmDist%6.2f s fast=$tKmFast%6.2f s")
    def f2(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))
    println(s"""{"bench":"distpath","edges":$nEdges,"vecs":$nVecs,""" +
      s""""pagerank_dist_sec":${f2(tPrDist)},""" +
      s""""pagerank_fast_sec":${f2(tPrFast)},""" +
      s""""cc_dist_sec":${f2(tCcDist)},"cc_fast_sec":${f2(tCcFast)},""" +
      s""""kmeans_dist_sec":${f2(tKmDist)},""" +
      s""""kmeans_fast_sec":${f2(tKmFast)},"sf":"$sfDir"}""")
    spark.stop()
  }
}
