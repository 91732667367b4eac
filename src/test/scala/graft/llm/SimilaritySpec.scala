package graft.llm

import graft.SparkSpec
import graft.operators.Lifecycle
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {

  test("PQ top-k: full-codebook refine equals brute force; recall sane") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val emb = catalog.table("embeddings")
    val qs = emb.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(emb, col("vec_id"),
        col("embedding"), qs, col("vec_id"), col("embedding"), k = 3)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    // refine >= corpus size: candidate set is everything -> exact output
    val n = emb.count().toInt
    val full = Similarity.pqTopK(emb, col("vec_id"), col("embedding"),
        qs, col("vec_id"), col("embedding"), k = 3, m = 8, ksub = 8,
        refine = n)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    assert(full === exact)
    // realistic refine: recall against exact should be high
    val pq = Similarity.pqTopK(emb, col("vec_id"), col("embedding"),
        qs, col("vec_id"), col("embedding"), k = 3, m = 8, ksub = 8,
        refine = 32)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect pq).size.toDouble / exact.size
    assert(recall >= 0.5, s"PQ refine=32 recall $recall")
  }
  import spark.implicits._

  test("cosine: orthogonal=0, identical=1, opposite=-1") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f)),
      (Array(1.0f, 2.0f), Array(1.0f, 2.0f)),
      (Array(1.0f, 0.0f), Array(-1.0f, 0.0f))
    ).toDF("a", "b")
    val out = df.select(round(Similarity.cosine(
      $"a".cast("array<double>"), $"b".cast("array<double>")), 9))
      .as[Double].collect().toSeq
    assert(out === Seq(0.0, 1.0, -1.0))
  }

  test("MMR: skips the duplicate a pure relevance ranking would keep") {
    // ids 1,2 are IDENTICAL top-relevance vectors, id 3 is lower
    // relevance but ORTHOGONAL to them. Relevance top-2 = {1,2}; MMR
    // picks 1 (tie -> smaller id), then 2 scores 0.5·0.8 − 0.5·1 =
    // −0.1 while 3 scores 0.5·0.6 − 0.5·0 = 0.3 — diversification
    // must promote 3 past the duplicate.
    val cands = Seq(
      (1L, Seq(0.8, 0.6), 0.8),
      (2L, Seq(0.8, 0.6), 0.8),
      (3L, Seq(0.6, -0.8), 0.6)
    ).toDF("id", "v", "rel")
    val out = Similarity.mmrSelect(cands, $"id", $"v", $"rel", k = 3)
      .orderBy($"rank").collect()
    assert(out.map(_.getLong(1)).toSeq === Seq(1L, 3L, 2L))
    // first pick scores lambda*rel; the duplicate lands last, its
    // relevance overwhelmed by similarity 1 to pick #1
    assert(out.head.getDouble(3) === 0.4)
    assert(math.abs(out.last.getDouble(3) - -0.1) < 1e-12)
  }

  test("MMR: stops early when candidates run out") {
    val cands = Seq((1L, Seq(1.0, 0.0), 1.0), (2L, Seq(0.0, 1.0), 0.5))
      .toDF("id", "v", "rel")
    val out = Similarity.mmrSelect(cands, $"id", $"v", $"rel", k = 10)
      .collect()
    assert(out.length === 2)
  }

  test("zero vector -> null cosine (missing, not error)") {
    val df = Seq((Array(0.0f, 0.0f), Array(1.0f, 1.0f))).toDF("a", "b")
    val out = df.select(Similarity.cosine($"a", $"b")).collect()
    assert(out.head.isNullAt(0))
  }

  test("brute-force top-k: k rows per query, self excluded, rank ordered") {
    val emb = catalog.table("embeddings")
    val out = Similarity.bruteForceTopK(
      emb, col("vec_id"), col("embedding"),
      emb.filter(col("vec_id") < 3), col("vec_id"), col("embedding"), k = 4)
    val rows = out.collect()
    assert(rows.length === 12)
    assert(!rows.exists(r => r.getLong(1) == r.getLong(0)))
    val byQ = rows.groupBy(_.getLong(0))
    byQ.values.foreach { rs =>
      val sorted = rs.sortBy(_.getInt(2))
      assert(sorted.map(_.getInt(2)).toSeq === Seq(1, 2, 3, 4))
      // cosine non-increasing with rank
      val cs = sorted.map(_.getDouble(3))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
    }
  }

  test("IVF top-k: nprobe=nlist is exact; assignment is window-free") {
    val emb = catalog.table("embeddings")
    val q = emb.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(emb, col("vec_id"),
      col("embedding"), q, col("vec_id"), col("embedding"), k = 4)
      .collect().map(_.toSeq).toSet
    val ivf = Similarity.ivfTopK(emb, col("vec_id"), col("embedding"),
      q, col("vec_id"), col("embedding"), k = 4, nlist = 8, nprobe = 8)
    assert(ivf.collect().map(_.toSeq).toSet === exact)
    // cell assignment must be row-local array math: the ONLY window in
    // the plan is the final per-query ranking, and no unique-id column
    // is generated anywhere (the old shape windowed over
    // monotonically_increasing_id — a full-shuffle anti-pattern)
    val plan = ivf.queryExecution.optimizedPlan.toString
    val nWindows = plan.split("windowspecdefinition", -1).length - 1
    assert(nWindows <= 1, s"expected at most 1 window spec in plan:\n$plan")
    assert(!plan.contains("monotonically_increasing_id"))
  }

  test("materialized IVF index: probe matches ivfTopK, scan is pruned") {
    import spark.implicits._
    val emb = catalog.table("embeddings")
    val qs = emb.filter(col("vec_id") < 5)
    val path = graft.Scratch.dir("graft_ivf_idx").toString
    Similarity.ivfWriteIndex(emb, col("vec_id"), col("embedding"), path,
      nlist = 8)
    val probed = Similarity.ivfProbeIndexed(spark, path,
      qs, col("vec_id"), col("embedding"), k = 3, nlist = 8, nprobe = 2)
    val direct = Similarity.ivfTopK(emb, col("vec_id"), col("embedding"),
      qs, col("vec_id"), col("embedding"), k = 3, nlist = 8, nprobe = 2)
    assert(probed.select("query_id", "vec_id").as[(Long, Long)]
        .collect().toSet ===
      direct.select("query_id", "vec_id").as[(Long, Long)]
        .collect().toSet)
    // the probe's cell filter must reach the source as a PARTITION
    // filter (directory pruning), not a post-scan predicate: the scan
    // reads nprobe/nlist of the index regardless of corpus size
    val plan = probed.queryExecution.executedPlan.toString
    val pf = plan.linesIterator
      .find(_.contains("PartitionFilters: ["))
      .getOrElse(fail(s"no PartitionFilters in scan:\n$plan"))
    assert(pf.contains("cell"),
      s"cell IN-list should be a partition filter: $pf")
    assert(pf.contains("IN") || pf.contains("in("),
      s"expected an IN partition filter: $pf")
  }

  test("fitted IVF index: probe reads the fitted quantizer from the " +
      "sidecar and cells follow the fit") {
    import spark.implicits._
    val emb = catalog.table("embeddings")
    val qs = emb.filter(col("vec_id") < 5)
    val path = graft.Scratch.dir("graft_ivf_fit").toString
    val means = KMeans.fit(emb, col("vec_id"), col("embedding"),
      k = 8, iters = 2)
    Similarity.ivfWriteIndexFitted(emb, col("vec_id"), col("embedding"),
      path, means)
    // on-disk cells must be the FITTED assignment, not lowest-id
    val onDisk = spark.read.parquet(path)
      .select("vec_id", "cell").as[(Long, Int)].collect().toMap
    val fitted = KMeans.assign(emb, col("vec_id"), col("embedding"), means)
      .select("vec_id", "cell").as[(Long, Int)].collect().toMap
    assert(onDisk === fitted)
    // probing at nprobe = nlist is exact regardless of the quantizer
    val probed = Similarity.ivfProbeIndexed(spark, path,
      qs, col("vec_id"), col("embedding"), k = 3, nlist = 8, nprobe = 8)
    val exact = Similarity.bruteForceTopK(emb, col("vec_id"),
      col("embedding"), qs, col("vec_id"), col("embedding"), k = 3)
    assert(probed.select("query_id", "vec_id").as[(Long, Long)]
        .collect().toSet ===
      exact.select("query_id", "vec_id").as[(Long, Long)].collect().toSet)
    Lifecycle.release(means)
  }

  test("probe falls back to lowest-id centroids when the sidecar is gone") {
    import spark.implicits._
    val emb = catalog.table("embeddings")
    val qs = emb.filter(col("vec_id") < 3)
    val path = graft.Scratch.dir("graft_ivf_nosc").toString
    Similarity.ivfWriteIndex(emb, col("vec_id"), col("embedding"), path,
      nlist = 8)
    // simulate a pre-sidecar index (or a deleted sidecar)
    val sc = new java.io.File(path, "_centroids")
    org.apache.commons.io.FileUtils.deleteDirectory(sc); assert(!sc.exists())
    // the missing sidecar is detected without running a failing query
    val failed = new java.util.concurrent.atomic.AtomicInteger()
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String,
                    qe: org.apache.spark.sql.execution.QueryExecution,
                    ns: Long): Unit =
        if (qe.analyzed.output.exists(_.name == "graft_sentinel"))
          flushed.countDown()
      def onFailure(f: String,
                    qe: org.apache.spark.sql.execution.QueryExecution,
                    e: Exception): Unit = failed.incrementAndGet()
    }
    spark.listenerManager.register(listener)
    val probed = try {
      val p = Similarity.ivfProbeIndexed(spark, path,
        qs, col("vec_id"), col("embedding"), k = 3, nlist = 8, nprobe = 2)
      // events arrive in order: the sentinel's success follows them all
      spark.range(1).toDF("graft_sentinel").collect()
      assert(flushed.await(30, java.util.concurrent.TimeUnit.SECONDS))
      p
    } finally spark.listenerManager.unregister(listener)
    assert(failed.get === 0, "probing for the sidecar ran a failing query")
    val direct = Similarity.ivfTopK(emb, col("vec_id"), col("embedding"),
      qs, col("vec_id"), col("embedding"), k = 3, nlist = 8, nprobe = 2)
    assert(probed.select("query_id", "vec_id").as[(Long, Long)]
        .collect().toSet ===
      direct.select("query_id", "vec_id").as[(Long, Long)]
        .collect().toSet)
  }

  test("LSH top-k recall vs brute force is reasonable at few planes") {
    val emb = catalog.table("embeddings")
    val q = emb.filter(col("vec_id") < 8)
    val exact = Similarity.bruteForceTopK(emb, col("vec_id"),
      col("embedding"), q, col("vec_id"), col("embedding"), k = 3)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.lshTopK(emb, col("vec_id"), col("embedding"),
      q, col("vec_id"), col("embedding"), k = 3, planes = 2)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.25, s"LSH recall $recall too low even for 2 planes")
    // determinism: same call twice gives identical buckets/results
    val again = Similarity.lshTopK(emb, col("vec_id"), col("embedding"),
      q, col("vec_id"), col("embedding"), k = 3, planes = 2)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    assert(approx === again)
  }
}
