package graft.llm

import graft.SparkSpec
import graft.operators.Lifecycle
import org.apache.spark.sql.functions._

class SemDedupSpec extends SparkSpec {
  import spark.implicits._

  // 2-d embeddings, two obvious clusters on the axes; ids 0 and 1 are
  // the quantizer centroids (lowest ids)
  private def emb = Seq(
    (0L, Seq(1.0f, 0.0f)),   // centroid A
    (1L, Seq(0.0f, 1.0f)),   // centroid B
    (2L, Seq(0.99f, 0.01f)), // near-dup of 0, cell A
    (3L, Seq(0.01f, 0.99f)), // near-dup of 1, cell B
    (4L, Seq(-1.0f, 0.1f))   // cell B (closer to +y than +x), no dup
  ).toDF("vec_id", "embedding")

  test("assign: nearest centroid, row-local") {
    val a = SemDedup.assign(emb, $"vec_id", $"embedding", nlist = 2)
      .select("vec_id", "cell").as[(Long, Int)].collect().toMap
    assert(a(0L) === 0 && a(2L) === 0)
    assert(a(1L) === 1 && a(3L) === 1)
    assert(a(4L) === 1)
  }

  test("duplicates: only within-cell pairs above threshold, min-id survivor") {
    val d = SemDedup.duplicates(emb, $"vec_id", $"embedding",
        nlist = 2, threshold = 0.9)
      .collect().map(r => (r.getAs[Long]("dup_id"),
        r.getAs[Long]("kept_id"), r.getAs[Int]("cell"))).toSet
    assert(d === Set((2L, 0L, 0), (3L, 1L, 1)))
  }

  test("semanticDedup keeps exactly the non-duplicates") {
    val ids = SemDedup.semanticDedup(emb, $"vec_id", $"embedding",
        nlist = 2, threshold = 0.9)
      .select("vec_id").as[Long].collect().toSet
    assert(ids === Set(0L, 1L, 4L))
  }

  test("duplicatesFitted: fitted cells agree with lowest-id cells here " +
      "and find the same pairs") {
    // on this tiny set the k-means fit converges to cluster means that
    // induce the SAME partition as the lowest-id quantizer, so the
    // fitted path must reproduce the unfitted result exactly
    val means = KMeans.fit(emb, $"vec_id", $"embedding", k = 2, iters = 3)
    val d = SemDedup.duplicatesFitted(emb, $"vec_id", $"embedding",
        means, threshold = 0.9)
      .collect().map(r => (r.getAs[Long]("dup_id"),
        r.getAs[Long]("kept_id"))).toSet
    assert(d === Set((2L, 0L), (3L, 1L)))
  }

  test("duplicatesFitted rescues pairs a degenerate quantizer separates") {
    // DEGENERATE lowest-id quantizer: both init centroids (ids 0, 1)
    // sit in the +x cluster, ~5.7° apart — the whole +y cluster piles
    // into centroid 1's cell AND near-dup +x pairs straddling the
    // 2.9° bisector between the redundant centroids are split. The
    // fit migrates centroid 1 to the +y mean, after which the +x
    // cluster is one cell and every near-dup pair is in-cell.
    val e = Seq(
      (0L, Seq(1.0f, 0.0f)),      // init centroid A (0°)
      (1L, Seq(0.995f, 0.1f)),    // init centroid B (5.7°) — redundant
      (2L, Seq(0.9995f, 0.025f)), // 1.4°: cell A under the degenerate init
      (3L, Seq(0.9985f, 0.075f)), // 4.3°: cell B — the (2,3) pair splits
      (10L, Seq(0.0f, 1.0f)),
      (11L, Seq(0.001f, 0.999f))  // near-dup of 10
    ).toDF("vec_id", "embedding")
    val unfitted = SemDedup.duplicates(e, $"vec_id", $"embedding",
        nlist = 2, threshold = 0.99)
      .select("dup_id").as[Long].collect().toSet
    // dup 1 missing: the (0,1)/(0,3)/(1,2) cross-cell pairs are unseen
    assert(unfitted === Set(2L, 3L, 11L),
      s"precondition: degenerate cells must split the +x pairs, got " +
        unfitted.toSeq.sorted.mkString(","))
    val means = KMeans.fit(e, $"vec_id", $"embedding", k = 2, iters = 3)
    val fitted = SemDedup.duplicatesFitted(e, $"vec_id", $"embedding",
        means, threshold = 0.99)
      .select("dup_id").as[Long].collect().toSet
    assert(fitted === Set(1L, 2L, 3L, 11L),
      "the fitted quantizer must put the whole +x cluster in one cell")
  }

  test("splitOversizedCells: caps subcells, re-keys into the SplitBase " +
      "space, and split pairs are a subset of unsplit pairs") {
    val many = (0L until 64L).map(i =>
      (i, Seq(1.0f, (i % 7).toFloat / 1000f))) // one hot cell
    val e = many.toDF("vec_id", "embedding")
    val assigned = SemDedup.assign(e, $"vec_id", $"embedding", nlist = 1)
    val split = SemDedup.splitOversizedCells(assigned, cap = 16)
    val hist = SemDedup.cellHistogram(split)
    assert(hist.length === 4, "64 rows / cap 16 = 4 subcells")
    assert(hist.forall { case (c, _) => c >= 0 && c < SemDedup.SplitBase },
      "cell 0 must re-key into [0, SplitBase)")
    // md5 spread is not exactly even; the cap bounds the EXPECTED size
    assert(hist.forall(_._2 <= 2 * 16), s"subcell too hot: ${hist.toSeq}")
    val unsplitDups = SemDedup.duplicatesAssigned(assigned, 0.9)
      .select("dup_id").as[Long].collect().toSet
    val splitDups = SemDedup.duplicatesAssigned(split, 0.9)
      .select("dup_id").as[Long].collect().toSet
    assert(splitDups.nonEmpty)
    assert(splitDups.subsetOf(unsplitDups),
      "every split-found duplicate must be a duplicate without the split")
  }

  test("incrementalDuplicates: history dedups new vectors through a " +
      "partition-pruned index read; lower id survives within the batch") {
    val hist = Seq(
      (0L, Seq(1.0f, 0.0f)),
      (1L, Seq(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val idx = graft.Scratch.dir("graft_inc_sem").toString + "/idx"
    Similarity.ivfWriteIndex(hist, $"vec_id", $"embedding", idx, nlist = 2)
    val fresh = Seq(
      (10L, Seq(0.99996f, 0.00873f)), // ~0.5° off id 0: dup vs history
      (11L, Seq(0.99985f, 0.01745f)), // ~1.0° off id 0: matches 0 AND 10
      (12L, Seq(-1.0f, 0.05f))        // cell 1, no match: survivor
    ).toDF("vec_id", "embedding")
    val d = SemDedup.incrementalDuplicates(spark, fresh, $"vec_id",
      $"embedding", idx, threshold = 0.99, nlist = 2)
    val got = d.collect().map(r => r.getAs[Long]("dup_id") ->
      r.getAs[Long]("kept_id")).toMap
    // 10 and 11 both dedup to HISTORICAL id 0 (min across history and
    // the lower-id batch match); 12 survives
    assert(got === Map(10L -> 0L, 11L -> 0L))
    // the historical side must be read through a PARTITION filter on
    // the touched cells — directory pruning, not a post-scan predicate
    val plan = d.queryExecution.executedPlan.toString
    val pf = plan.linesIterator
      .find(l => l.contains("PartitionFilters: [") && l.contains("cell"))
    assert(pf.isDefined,
      s"expected a cell partition filter on the index scan:\n$plan")
  }

  test("streamingDedup: later batches dedup against earlier batches' " +
      "survivors through the growing on-disk index") {
    val hist = Seq((0L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val idx = graft.Scratch.dir("graft_stream_sem").toString + "/idx"
    Similarity.ivfWriteIndex(hist, $"vec_id", $"embedding", idx, nlist = 1)
    val stream = graft.streaming.EventStream.replay(Seq(
      // batch 1: a survivor orthogonal to history
      Seq((10L, Seq(0.0f, 1.0f))),
      // batch 2: a near-dup of batch 1's SURVIVOR (catchable only
      // because the survivor was appended to the index) + one of
      // history
      Seq((20L, Seq(0.001f, 0.9999f)), (21L, Seq(0.999f, 0.01f))))
      .map(_.toDF("vec_id", "embedding")),
      graft.Scratch.dir("graft_stream_sem_src").toString)
    val out = graft.Scratch.dir("graft_stream_sem_out").toString
    val dups = SemDedup.streamingDedup(spark, stream, $"vec_id",
      $"embedding", idx, out + "/dups", out + "/cp",
      threshold = 0.99, nlist = 1)
    val got = dups.collect().map(r => r.getAs[Long]("dup_id") ->
      r.getAs[Long]("kept_id")).toMap
    assert(got === Map(20L -> 10L, 21L -> 0L),
      s"got $got — 20 must dedup against the APPENDED survivor 10")
    // and the index now holds exactly history + the two survivors
    val ids = graft.sources.Sinks.read(spark, idx)
      .select("vec_id").as[Long].collect().toSet
    assert(ids === Set(0L, 10L))
  }

  test("small cells keep a single subcell (sub = 0) and never collide") {
    val e = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)),
      (2L, Seq(0.9f, 0.1f)), (3L, Seq(0.1f, 0.9f))
    ).toDF("vec_id", "embedding")
    val assigned = SemDedup.assign(e, $"vec_id", $"embedding", nlist = 2)
    val split = SemDedup.splitOversizedCells(assigned, cap = 100)
    val cells = split.select("cell").distinct().as[Int].collect().toSet
    assert(cells === Set(0, SemDedup.SplitBase))
  }

  test("Lifecycle.release frees the persisted assignment and a " +
      "checkpointed fit") {
    val sc = spark.sparkContext
    def cachedRdds: Int = sc.getPersistentRDDs.size
    val before = cachedRdds
    // distinct ids from every other test in the suite: the cache
    // manager dedups identical plans, so reusing `emb` here would
    // silently reuse an earlier test's cached assignment
    val e = Seq(
      (100L, Seq(1.0f, 0.0f)), (101L, Seq(0.0f, 1.0f)),
      (102L, Seq(0.99f, 0.01f))
    ).toDF("vec_id", "embedding")
    val dups = SemDedup.duplicates(e, $"vec_id", $"embedding",
      nlist = 2, threshold = 0.9)
    dups.collect()
    assert(cachedRdds > before, "duplicates must checkpoint its assignment")
    Lifecycle.release(dups)
    assert(cachedRdds === before, "release must drop the assignment checkpoint")
    val means = KMeans.fit(e, $"vec_id", $"embedding", k = 2, iters = 2)
    means.collect()
    assert(cachedRdds > before, "fit returns a checkpoint-backed frame")
    Lifecycle.release(means)
    assert(cachedRdds === before, "release must drop the checkpoint blocks")
  }

  test("cross-cell near-identical pairs are NOT compared (the recall trade)") {
    // two near-identical vectors straddling the two cells' boundary:
    // brute force finds the pair, SemDedup (by design) does not
    val e2 = emb.unionByName(Seq(
      (10L, Seq(0.71f, 0.703f)),  // barely cell A
      (11L, Seq(0.703f, 0.71f))   // barely cell B
    ).toDF("vec_id", "embedding"))
    val brute = Dedup.bruteForceEmbeddingPairs(e2, $"vec_id",
        $"embedding", threshold = 0.99)
      .filter($"id_a" === 10L && $"id_b" === 11L).count()
    assert(brute === 1L)
    val sem = SemDedup.duplicates(e2, $"vec_id", $"embedding",
        nlist = 2, threshold = 0.99)
      .filter($"dup_id" === 11L).count()
    assert(sem === 0L)
  }
}
