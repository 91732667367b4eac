package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Dedup/similarity semantics that the DuckDB oracle cannot check
  * (probabilistic LSH recall, hash-based signatures). */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and again"),
    (3L, "the quick brown fox jumps over the lazy cat again and again"),
    (4L, "completely different content about spark query engines at scale"),
    (5L, "")
  ).toDF("doc_id", "text")

  test("exactByKey keeps the lowest id per duplicate group") {
    val out = Dedup.exactByKey(docs, Seq(col("text")), col("doc_id"))
      .select("doc_id").as[Long].collect().sorted
    assert(out.toSeq === Seq(1L, 3L, 4L, 5L))
  }

  test("identical docs always survive minhash LSH (recall=1 at J=1)") {
    val pairs = Dedup.minhashPairs(docs, col("doc_id"), col("text"),
      numHashes = 32, bands = 8, threshold = 0.9)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("incremental near-dup vs persisted signature index") {
    val idx = graft.Scratch.dir("graft_mh_idx").toString + "/idx"
    // historical corpus = docs 1 and 4; new batch = exact copy of 1,
    // near-dup of 1, and an unrelated doc
    Dedup.writeMinhashIndex(
      docs.filter(col("doc_id").isin(1L, 4L)),
      col("doc_id"), col("text"), idx, numHashes = 32)
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"),
      (11L, "the quick brown fox jumps over the lazy cat again and again"),
      (12L, "nothing in common with anything stored in the index at all")
    ).toDF("doc_id", "text")
    val found = Dedup.incrementalNearDups(spark, batch,
        col("doc_id"), col("text"), idx,
        numHashes = 32, bands = 8, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // the exact copy is found with estimated jaccard 1 (all signature
    // components agree)
    assert(found.exists { case (n, o, j) => n == 10L && o == 1L && j == 1.0 },
      s"exact copy vs index: ${found.toSeq}")
    // the unrelated doc never pairs with anything
    assert(!found.exists(_._1 == 12L), s"false positive: ${found.toSeq}")
    // nothing pairs against historical doc 4 (different content)
    assert(!found.exists(_._2 == 4L), s"false positive: ${found.toSeq}")
  }

  test("near-dup (one word changed) found at threshold 0.5") {
    val pairs = Dedup.minhashPairs(docs, col("doc_id"), col("text"),
      numHashes = 32, bands = 16, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 3L)) || pairs.contains((2L, 3L)))
    // unrelated docs never pair (precision: exact-verified)
    assert(!pairs.exists { case (a, b) => b == 4L || a == 4L })
  }

  test("ngram jaccard df cap prunes boilerplate-driven pairs") {
    // four docs share a hot boilerplate prefix (shingle df = 4);
    // only docs 1 and 2 share a genuine near-identical tail
    val boiler = "terms of service apply to all content here"
    val corpus = Seq(
      (1L, s"$boiler alpha beta gamma delta epsilon zeta"),
      (2L, s"$boiler alpha beta gamma delta epsilon eta"),
      (3L, s"$boiler one two three four five six"),
      (4L, s"$boiler red orange yellow green blue violet")
    ).toDF("doc_id", "text")
    val uncapped = Dedup.ngramJaccardPairs(corpus, col("doc_id"),
        col("text"), threshold = 0.3, maxDf = 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val capped = Dedup.ngramJaccardPairs(corpus, col("doc_id"),
        col("text"), threshold = 0.3, maxDf = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // uncapped: the shared boilerplate makes EVERY pair look similar
    assert(uncapped.size === 6)
    // capped: boilerplate shingles (df=4 > 3) leave the jaccard space,
    // so only the true near-dup pair remains
    assert(capped === Set((1L, 2L)))
  }

  test("containment: a prefix-subset doc scores 1.0 one way, " +
      "below 1 the other; Jaccard misses the same pair") {
    // doc 2 is a strict prefix of doc 1: every 3-gram of 2 occurs in
    // 1, but 1 has plenty 2 lacks — the asymmetric signal
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu nu xi omicron pi rho sigma tau upsilon"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six seven eight nine ten")
    ).toDF("doc_id", "text")
    val rows = Dedup.containmentPairs(corpus, $"doc_id", $"text",
        threshold = 0.9)
      .collect()
    assert(rows.length === 1)
    val r = rows.head
    assert((r.getLong(0), r.getLong(1)) === ((1L, 2L)))
    // cont_b_in_a: ALL of 2's grams occur in 1
    assert(r.getDouble(6) === 1.0)
    // cont_a_in_b strictly below the threshold direction
    assert(r.getDouble(5) < 0.9)
    // the same pair is invisible to a 0.9 Jaccard threshold
    val jac = Dedup.ngramJaccardPairs(corpus, $"doc_id", $"text",
      threshold = 0.9).collect()
    assert(jac.isEmpty)
  }

  test("jaccard: identical=1, disjoint=0") {
    val j = docs.filter($"doc_id" === 1)
      .select(Dedup.jaccard(TextAnalysis.shingles($"text"),
        TextAnalysis.shingles($"text")).as("j"))
      .as[Double].head()
    assert(j === 1.0)
  }

  test("simhash: identical texts equal, near texts close, far texts far") {
    val h = docs.select($"doc_id", Dedup.simhash64($"text").as("h"))
      .collect().map(r => r.getLong(0) -> r.get(1)).toMap
    assert(h(1L) === h(2L))
    val near = java.lang.Long.bitCount(
      h(1L).asInstanceOf[Long] ^ h(3L).asInstanceOf[Long])
    val far = java.lang.Long.bitCount(
      h(1L).asInstanceOf[Long] ^ h(4L).asInstanceOf[Long])
    assert(near < far)
    assert(h(5L) === null) // empty text -> missing, not an error
  }

  test("embedding near-dup pairs find exact duplicates") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.5f)),
      (2L, Array(1.0f, 0.0f, 0.5f)),
      (3L, Array(-1.0f, 0.2f, 0.0f))
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingPairs(vecs, col("vec_id"), col("embedding"),
      planes = 4, threshold = 0.99)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("connectedComponents: transitive closure with min-id labels") {
    // two chains (1-2-3-4, 10-11) + a singleton edge (20-21);
    // (1,4) never appears as a pair yet lands in the same component
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 21L))
      .toDF("a", "b")
    val comp = Dedup.connectedComponents(pairs, col("a"), col("b"))
      .as[(Long, Long)].collect().toMap
    assert(comp(1L) === 1L && comp(2L) === 1L &&
      comp(3L) === 1L && comp(4L) === 1L)
    assert(comp(10L) === 10L && comp(11L) === 10L)
    assert(comp(20L) === 20L && comp(21L) === 20L)
  }

  test("connectedComponents converges on a long chain (pointer jumping)") {
    // path graph of 40 nodes: worst-case diameter for label propagation;
    // pointer jumping must still converge well under maxIter
    val pairs = (0L until 39L).map(i => (i, i + 1)).toDF("a", "b")
    val comp = Dedup.connectedComponents(pairs, col("a"), col("b"),
      maxIter = 12).as[(Long, Long)].collect()
    assert(comp.length === 40)
    assert(comp.forall(_._2 === 0L))
  }

  test("incrementalExact: known fingerprints vanish, batch dedups, null fp kept") {
    val incoming = Seq(
      (10L, Some("aa")), // already in the store -> dropped
      (11L, Some("bb")), (12L, Some("bb")), // batch-internal dup -> keep 11
      (13L, Some("cc")),
      (14L, None) // null fingerprint never matches the store
    ).toDF("id", "fp")
    val known = Seq("aa", "zz").toDF("fingerprint")
    val out = Dedup.incrementalExact(incoming, col("id"), col("fp"), known)
      .select("id").as[Long].collect().sorted
    assert(out.toSeq === Seq(11L, 13L, 14L))
  }

  test("connectedComponents matches driver-side union-find on random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 60
      val edges = Seq.fill(50)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // reference: textbook union-find, then relabel roots to min member
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = {
        var r = x; while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }
        r
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(ra) = rb
      }
      val minOfRoot = (0 until n).filter(i =>
          edges.exists(e => e._1 == i || e._2 == i))
        .groupBy(find).map { case (r, ms) => r -> ms.min.toLong }
      val expected = (0 until n).collect {
        case i if edges.exists(e => e._1 == i || e._2 == i) =>
          i.toLong -> minOfRoot(find(i))
      }.toMap
      val got = Dedup.connectedComponents(
          edges.toDF("a", "b"), col("a"), col("b"))
        .as[(Long, Long)].collect().toMap
      assert(got === expected, s"trial $trial")
    }
  }

  test("connectedComponents: driver fast path ≡ distributed loop (same labels)") {
    // chains, a cycle, crossing merges and singleton edges — enough
    // structure that a wrong union order would show. The local path
    // runs by default (pairs under the byte budget); forcing the
    // budget to 0 through the system property exercises the
    // distributed pointer-jump loop on the SAME input, and the labels
    // must match exactly (both compute min-reachable-id per node).
    val pairs = (Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), // cycle
        (7L, 9L), (9L, 8L), (30L, 31L)) ++
      (100L until 140L).map(i => (i, i + 1)) ++ // long chain
      Seq((140L, 100L), (50L, 141L))) // close + cross-merge
      .toDF("a", "b")
    val local = Dedup.connectedComponents(pairs, col("a"), col("b"))
      .as[(Long, Long)].collect().toMap
    val key = "spark.graft.localBytes"
    System.setProperty(key, "0")
    try {
      val dist = Dedup.connectedComponents(pairs, col("a"), col("b"))
        .as[(Long, Long)].collect().toMap
      assert(local === dist)
      assert(local(50L) === 50L && local(141L) === 50L && local(4L) === 1L)
    } finally System.clearProperty(key)
  }

  test("clusterSurvivors keeps min-id per cluster and all singletons") {
    val df = (1L to 8L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("a", "b")
    val out = Dedup.clusterSurvivors(df, col("id"),
      pairs, col("a"), col("b")).as[Long].collect().sorted
    assert(out.toSeq === Seq(1L, 4L, 5L, 7L, 8L))
  }

  test("clusterSurvivors under the byte budget runs at most 2 Spark " +
      "jobs, the caller's collect included; budget 0 keeps the survivors") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val mark = "graft.spec.jobs"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty(mark)))
          .foreach(seen.add)
    }
    def tagged[A](tag: String)(f: => A): A = {
      sc.setLocalProperty(mark, tag)
      try f finally sc.setLocalProperty(mark, null)
    }
    val df = (1L to 40L).toDF("id")
    val pairs = Seq((1L, 2L), (3L, 2L), (3L, 1L), (6L, 5L), (20L, 21L))
      .toDF("a", "b")
    def survivors = Dedup.clusterSurvivors(df, col("id"), pairs,
      col("a"), col("b")).as[Long].collect().sorted.toSeq
    sc.addSparkListener(listener)
    try {
      val local = tagged("local")(survivors)
      // listener events arrive in order: once the sentinel job's start
      // is seen, every job of the call above has been counted
      tagged("sentinel")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains("sentinel") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.contains("sentinel"), "listener never saw the sentinel")
      val jobs = seen.asScala.count(_ == "local")
      assert(jobs <= 2, s"clusterSurvivors + collect ran $jobs jobs")
      assert(local === (1L to 40L).filterNot(Set(2L, 3L, 6L, 21L)))
      val key = "spark.graft.localBytes"
      System.setProperty(key, "0")
      val dist = try survivors finally System.clearProperty(key)
      assert(dist === local)
    } finally sc.removeSparkListener(listener)
  }

  test("clusterSurvivors with more driver-held losers than fit an " +
      "in-list anti-joins them: same survivors as the distributed path") {
    // one star around 1 with 1500 leaves: 1500 losers, past the
    // in-list size (a star keeps the distributed loop to a few rounds)
    val df = (0L to 1505L).toDF("id")
    val pairs = (2L to 1501L).map(i => (i, 1L)).toDF("a", "b")
    def frame = Dedup.clusterSurvivors(df, col("id"), pairs,
      col("a"), col("b"))
    def survivors = frame.as[Long].collect().sorted.toSeq
    val localFrame = frame
    assert(localFrame.queryExecution.analyzed.collectFirst {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j.joinType
    }.contains(org.apache.spark.sql.catalyst.plans.LeftAnti))
    val local = localFrame.as[Long].collect().sorted.toSeq
    assert(local === Seq(0L, 1L) ++ (1502L to 1505L))
    val key = "spark.graft.localBytes"
    System.setProperty(key, "0")
    val dist = try survivors finally System.clearProperty(key)
    assert(dist === local)
  }

  test("clusterSurvivors with no pairs is the identity") {
    val df = (1L to 5L).toDF("id")
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    val out = Dedup.clusterSurvivors(df, col("id"),
      empty, col("a"), col("b")).as[Long].collect().sorted
    assert(out.toSeq === (1L to 5L))
  }

  test("duplicatedSpans: shared paragraph detected, in-doc repeats not") {
    val para = (1 to 6).map(i => s"p$i").mkString(" ") // 6 shared tokens
    val docs = Seq(
      (1L, s"$para alpha beta gamma"),        // shares para with doc 2
      (2L, s"$para delta epsilon zeta"),
      (3L, "unique words only here today"),   // nothing shared
      (4L, s"rep rep rep rep rep rep rep")    // IN-doc repetition only
    ).toDF("doc_id", "text")
    val out = Dedup.duplicatedSpans(docs, col("doc_id"), col("text"),
        n = 4, minDocs = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // doc1: 9 tokens -> 6 span starts; starts 0-2 lie inside the
    // shared paragraph ("p1..p6" windows) and occur in doc2 too
    assert(out(1L) === ((6L, 3L, 0.5)))
    assert(out(2L) === ((6L, 3L, 0.5)))
    assert(out(3L)._2 === 0L) // no cross-doc span
    // doc4's identical windows repeat only WITHIN the doc: df counts
    // distinct docs, so nothing is flagged
    assert(out(4L)._2 === 0L)
  }

  test("sortedNeighborhoodPairs: window slides within the prefix " +
      "block, never across; key ties order by id") {
    val docs = Seq(
      (1L, "aaaa key one"), (2L, "aaaa key two"), (3L, "aaaa key tre"),
      (4L, "aaaa key quad"),
      (5L, "bbbb other"), (6L, "bbbb other") // tie -> ordered by id
    ).toDF("id", "k")
    val pairs = Dedup.sortedNeighborhoodPairs(docs, $"id", $"k",
        window = 2, blockPrefix = 4)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    // block aaaa sort by key: one(1) < quad(4) < tre(3) < two(2)
    assert(pairs === Set(
      (1L, 4L), (1L, 3L), (4L, 3L), (4L, 2L), (3L, 2L),
      (5L, 6L)))
    // no pair crosses the aaaa/bbbb block boundary
    assert(!pairs.exists { case (x, y) =>
      (x <= 4) != (y <= 4) })
  }

  test("prefixFilterJaccardPairs: LOSSLESS law — equals the uncapped " +
      "exact pairs, including pairs a df-cap would drop") {
    // 6 docs sharing one hot boilerplate sentence + per-pair unique
    // tails: every pair's similarity flows THROUGH the hot shingles,
    // so a df-cap (maxDf=4 < 6 docs) drops real pairs — the prefix
    // filter must keep them while never inventing others
    val boiler = "all rights reserved contact support for help with this"
    val corpus = (0L until 6L).map(i =>
      (i, s"$boiler unique tail ${i % 2} marker")) ++ Seq(
      (10L, "completely different text about brown foxes and lazy dogs"),
      (11L, "completely different text about brown foxes and lazy cats"))
    val staged = corpus.toDF("id", "text")
      .select($"id", TextAnalysis.shingleHashes($"text", 3).as("s"))
      .persist()
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
    val uncapped = pairSet(Dedup.ngramJaccardPairsFromShingles(
      staged, threshold = 0.5, maxDf = 0))
    val capped = pairSet(Dedup.ngramJaccardPairsFromShingles(
      staged, threshold = 0.5, maxDf = 4))
    val prefixed = pairSet(Dedup.prefixFilterJaccardPairs(
      staged, threshold = 0.5))
    assert(prefixed === uncapped, "prefix filtering must be lossless")
    assert(capped.map(p => (p._1, p._2))
      .subsetOf(uncapped.map(p => (p._1, p._2))))
    assert(capped.size < uncapped.size,
      "the fixture must make the df-cap actually lossy " +
        s"(capped=${capped.size} uncapped=${uncapped.size})")
    staged.unpersist()
  }

  test("spanRemovalCensus: interval union clips overlaps and doc ends, " +
      "keeper keeps everything, short docs remove whole-text spans") {
    val corpus = Seq(
      (1L, "a b c d e f"),             // keeper of the identical pair
      (2L, "a b c d e f"),             // fully removed via 3 overlapping spans
      (3L, "x y z a b c d q r s t u"), // one shared 4-span at start 3
      (4L, "p q"),                     // short-doc span, keeper
      (5L, "p q"))                     // short-doc span, removed whole
      .toDF("doc_id", "text")
    val out = Dedup.spanRemovalCensus(corpus, $"doc_id", $"text",
        n = 4, minDocs = 2)
      .as[(Long, Long, Long, Long)].collect()
      .map { case (id, a, b, c) => id -> ((a, b, c)) }.toMap
    // doc 2's marked starts 0,1,2 contribute 1+1+4 (lead-clipped), not 12
    assert(out === Map(
      1L -> (6L, 0L, 6L), 2L -> (6L, 6L, 0L), 3L -> (12L, 4L, 8L),
      4L -> (2L, 0L, 2L), 5L -> (2L, 2L, 0L)))
  }

  test("spanRemovalFold: a later batch folds from the PERSISTED " +
      "manifest alone (history never re-tokenized) and matches the " +
      "full batch census; manifest versions are append-only") {
    val hist = Seq(
      (1L, "a b c d e f g"),
      (2L, "a b c d e f g"),
      (3L, "m n o p q r s")).toDF("doc_id", "text")
    val f1 = Seq(
      (10L, "a b c d x y z"),   // shares one span with hist docs 1/2
      (11L, "u v w u v w u v")).toDF("doc_id", "text")
    val f2 = Seq(
      (20L, "m n o p q r s"),   // duplicate of hist doc 3 — the
                                //   fold must see it THROUGH the file
      (21L, "u v w u v w u v"), // duplicate of f1 doc 11 — merged df
      (22L, "totally fresh tokens only here")).toDF("doc_id", "text")
    val idxPath = graft.Scratch.dir("graft_span_fold").toString
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long, Long)].collect()
        .map { case (id, a, b, c) => id -> ((a, b, c)) }.toMap
    val incRows = toMap(Dedup.spanRemovalIncremental(hist, f1,
      $"doc_id", $"text", idxPath, n = 4))
    val foldRows = toMap(Dedup.spanRemovalFold(f2,
      $"doc_id", $"text", idxPath, n = 4))
    val batchRows = toMap(Dedup.spanRemovalCensus(
      hist.unionByName(f1).unionByName(f2),
      $"doc_id", $"text", n = 4, minDocs = 2))
    assert(incRows.keySet === Set(1L, 2L, 3L, 10L, 11L))
    assert(foldRows.keySet === Set(20L, 21L, 22L))
    // the id-monotone theorem extends across the persisted manifest:
    // incremental rows ∪ fold rows == the full three-batch rebuild
    assert(incRows ++ foldRows === batchRows)
    // doc 20 is fully removed against a keeper it only meets via v1
    assert(foldRows(20L) === ((7L, 7L, 0L)))
    assert(foldRows(21L) === ((8L, 8L, 0L)))
    assert(foldRows(22L) === ((5L, 0L, 5L)))
    // manifests are append-only: 0 bootstraps the empty table, then
    // hist, hist∪f1, ∪f2; the hist∪f1 files the last commit dropped
    // stay on disk for lazy readers planned over them
    val log = graft.sources.TableLog
    assert(log.generation(idxPath) === 3L)
    assert(log.files(idxPath, 2).forall(f =>
      java.nio.file.Files.exists(java.nio.file.Paths.get(idxPath, f))))
  }

  test("prefixFilterJaccardPairs: randomized lossless law — seeded " +
      "corpora with a tiny alphabet (hot shingles, ties, size spread)") {
    // the positional filter's batch formulation leans on the shared
    // global (df, shingle) ordering; random corpora with heavy hash
    // collisions and duplicate docs probe the argument's edge cases
    val rnd = new scala.util.Random(42)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee", "ff")
    for (case_ <- 0 until 4; threshold <- Seq(0.4, 0.7)) {
      val corpus = (0L until 14L).map { i =>
        val len = 3 + rnd.nextInt(10)
        (i, Seq.fill(len)(vocab(rnd.nextInt(vocab.size)))
          .mkString(" "))
      }
      val staged = corpus.toDF("id", "text")
        .select($"id", TextAnalysis.shingleHashes($"text", 2).as("s"))
        .persist()
      def pairSet(df: org.apache.spark.sql.DataFrame) =
        df.select("id_a", "id_b", "jaccard")
          .as[(Long, Long, Double)].collect().toSet
      val exact = pairSet(Dedup.ngramJaccardPairsFromShingles(
        staged, threshold = threshold, maxDf = 0))
      val prefixed = pairSet(Dedup.prefixFilterJaccardPairs(
        staged, threshold = threshold))
      staged.unpersist()
      assert(prefixed === exact,
        s"case $case_ t=$threshold: prefix+positional must be lossless")
    }
  }

  test("embeddingPairs bucketCap: guarded pairs are a subset of " +
      "unguarded, multi-table redundancy keeps near-full recall, and " +
      "the worst bucket is bounded") {
    // one tight cluster: 32 near-copies of (1,0) plus distinct
    // orthogonal vectors — unguarded, the cluster fills one bucket per
    // table and the per-bucket join is quadratic in 32
    val cluster = (0L until 32L).map(i =>
      (i, Seq(1.0f, (i % 5).toFloat / 10000f)))
    val rest = (100L until 110L).map(i =>
      (i, Seq(-1.0f, (i % 3).toFloat / 10f)))
    val df = (cluster ++ rest).toDF("vec_id", "embedding")
    val raw = Dedup.embeddingPairs(df, $"vec_id", $"embedding",
        threshold = 0.999)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val capped = Dedup.embeddingPairs(df, $"vec_id", $"embedding",
        threshold = 0.999, bucketCap = Some(8L))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(raw.count { case (x, y) => x < 32 && y < 32 } === 32 * 31 / 2,
      "the cluster is all-pairs similar")
    assert(capped.subsetOf(raw),
      "the guard may only drop candidates, never invent them")
    // 8 tables at split factor 4: a pair misses only if split apart in
    // ALL tables — expect ~ (3/4)^8 ≈ 10% loss worst case; assert a
    // loose floor so hash-layout shifts don't flake the test
    assert(capped.size >= raw.size / 2,
      s"multi-table redundancy should keep most pairs: ${capped.size}")
    // the split really bounds the worst bucket
    val exploded = df.select($"vec_id".as("id"), $"embedding".as("v"))
      .withColumn("bucket", explode(
        Similarity.lshBuckets($"v", 4, 8)))
    val worst = SemDedup.splitOversizedKeys(exploded, "bucket", "id", 8L)
      .groupBy("bucket").count().agg(max("count")).as[Long].head()
    assert(worst <= 2 * 8, s"subbucket too hot after cap: $worst")
  }
}
