package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PipelinesSpec extends SparkSpec {
  import spark.implicits._

  test("prepareCorpus: dedups exact + near dups, keeps quality floor") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and then it was done for the day"),
      (2L, "the quick brown fox jumps over the lazy dog and then it was done for the day"),
      (3L, "the quick brown fox jumps over the lazy dog and then it was done for the"),
      (4L, "a completely different document that is about the spark engine and its catalyst optimizer for it was a good engine"),
      (5L, "xq") // too short -> fails quality floor
    ).toDF("doc_id", "text")
    val out = Pipelines.prepareCorpus(docs, $"doc_id", $"text",
      minQuality = 0.4, nearDupJaccard = 0.6)
    val ids = out.select("doc_id").as[Long].collect().toSet
    assert(ids.contains(1L)) // survivor of 1/2/3 cluster
    assert(!ids.contains(2L)) // exact dup removed
    assert(!ids.contains(3L)) // near dup removed
    assert(ids.contains(4L))
    assert(!ids.contains(5L)) // quality-filtered
    assert(out.columns.contains("lang_pred") &&
      out.columns.contains("quality"))
  }

  test("curateObserved: per-stage metrics match recomputed counts; " +
      "breaker fires below the floor") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and then it was done for the day"),
      (2L, "the quick brown fox jumps over the lazy dog and then it was done for the day"),
      (3L, "the quick brown fox jumps over the lazy dog and then it was done for the"),
      (4L, "a completely different document that is about the spark engine and its catalyst optimizer for it was a good engine"),
      (5L, "xq")
    ).toDF("doc_id", "text")
    val out = graft.Scratch.dir("graft_curobs")
      .toString
    val m = Pipelines.curateObserved(docs, $"doc_id", $"text",
        out + "/corpus", minQuality = 0.4, nearDupJaccard = 0.6)
      .as[(Int, String, Long, Long, Double)].collect()
      .map(r => r._2 -> r).toMap
    // stage metrics must agree with the recomputed stage outputs
    // (same fixture as the prepareCorpus case): 5 raw -> 4 past
    // quality -> 3 past the exact md5(text) dedup (only doc 2, a
    // byte-identical copy of doc 1, goes; doc 3 is a prefix of doc 1,
    // different content) -> 2 past near-dup removal (MinHash LSH
    // clusters doc 3 with doc 1, which keeps the lower id)
    assert(m("quality_floor")._3 === 5L && m("quality_floor")._4 === 4L)
    assert(m("exact_dedup")._3 === 4L && m("exact_dedup")._4 === 3L)
    assert(m("near_dedup")._3 === 3L && m("near_dedup")._4 === 2L)
    // the written corpus is the survivors {1, 4}
    assert(spark.read.parquet(out + "/corpus").select("doc_id").as[Long]
      .collect().toSet === Set(1L, 4L))
    // breaker: quality keeps 4/5 = 0.8 — a floor of 0.9 aborts at the
    // FIRST stage under the floor, which is quality_floor
    val ex = intercept[CurationAborted] {
      Pipelines.curateObserved(docs, $"doc_id", $"text",
        out + "/corpus2", minQuality = 0.4, nearDupJaccard = 0.6,
        abortBelowKeptFrac = 0.9)
    }
    assert(ex.stage === "quality_floor")
    assert(ex.nIn === 5L && ex.nKept === 4L)
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(out))
  }

  test("curateObserved checkpoints its exact-dedup boundary eagerly: " +
      "full stage counts, 8 Spark jobs, no block left behind") {
    val docs = Seq(
      (21L, "the quick brown fox jumps over the lazy dog and then it was done for the day"),
      (22L, "the quick brown fox jumps over the lazy dog and then it was done for the day"),
      (23L, "the quick brown fox jumps over the lazy dog and then it was done for the"),
      (24L, "a completely different document that is about the spark engine and its catalyst optimizer for it was a good engine"),
      (25L, "xq")
    ).toDF("doc_id", "text")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val out = graft.Scratch.dir("graft_curobs_jobs").toString
    var m = Map.empty[String, (Int, String, Long, Long, Double)]
    val n = jobsPerTag(tagged => tagged("curate") {
      m = Pipelines.curateObserved(docs, $"doc_id", $"text",
          out + "/corpus", minQuality = 0.4, nearDupJaccard = 0.6)
        .as[(Int, String, Long, Long, Double)].collect()
        .map(r => r._2 -> r).toMap
    })
    assert(m.values.map(r => (r._2, r._3, r._4)).toSet === Set(
      ("quality_floor", 5L, 4L), ("exact_dedup", 4L, 3L),
      ("near_dedup", 3L, 2L)))
    // a persisted boundary plus its count started 10
    assert(n("curate") === 8)
    assert((sc.getPersistentRDDs.keySet.toSet -- before).isEmpty,
      "curateObserved must release the checkpoints it made")
  }

  test("writeByLanguage partitions on disk by lang_pred") {
    val tmp = graft.Scratch.dir("graft_corpus")
      .toString
    val docs = catalog.table("documents").limit(200)
    val prepared = Pipelines.prepareCorpus(docs, $"doc_id", $"text",
      minQuality = 0.0, nearDupJaccard = 0.95)
    Pipelines.writeByLanguage(prepared, tmp)
    val parts = new java.io.File(tmp).listFiles()
      .map(_.getName).filter(_.startsWith("lang_pred="))
    assert(parts.nonEmpty)
    val back = spark.read.parquet(tmp)
    assert(back.count() === prepared.count())
  }

  test("IVF top-k: exact recall when probing all cells, sane at fewer") {
    val emb = catalog.table("embeddings")
    val q = emb.filter(col("vec_id") < 5)
    val exact = Similarity.bruteForceTopK(emb, col("vec_id"),
      col("embedding"), q, col("vec_id"), col("embedding"), k = 3)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val allProbe = Similarity.ivfTopK(emb, col("vec_id"), col("embedding"),
      q, col("vec_id"), col("embedding"), k = 3, nlist = 8, nprobe = 8)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    assert(allProbe === exact) // probing every cell == brute force
    val partial = Similarity.ivfTopK(emb, col("vec_id"), col("embedding"),
      q, col("vec_id"), col("embedding"), k = 3, nlist = 8, nprobe = 3)
      .select("query_id", "vec_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect partial).size.toDouble / exact.size
    assert(recall >= 0.3, s"IVF nprobe=3 recall $recall")
  }

  test("hashBucket: deterministic, in range, order-independent") {
    val ids = (0L until 500L).toDF("id")
    val b1 = ids.select($"id", Pipelines.hashBucket($"id", 100).as("b"))
      .as[(Long, Int)].collect().toMap
    assert(b1.values.forall(b => b >= 0 && b < 100))
    // same assignment after a reshuffle (pure function of the id)
    val b2 = ids.repartition(7)
      .select($"id", Pipelines.hashBucket($"id", 100).as("b"))
      .as[(Long, Int)].collect().toMap
    assert(b1 === b2)
    // roughly uniform: every decile hit over 500 ids
    assert(b1.values.map(_ / 10).toSet.size === 10)
  }

  test("splitAssign proportions approximate 80/10/10") {
    val ids = (0L until 2000L).toDF("id")
    val counts = ids.select(Pipelines.splitAssign($"id").as("s"))
      .groupBy("s").count().as[(String, Long)].collect().toMap
    assert(counts.keySet === Set("train", "val", "test"))
    assert(counts("train") > 1400 && counts("train") < 1800)
    assert(counts("val") > 100 && counts("test") > 100)
  }

  test("stratifiedSample: per-group ratios approximate, deterministic") {
    val docs = (0L until 2000L).map(i => (i, s"g${i % 2}")).toDF("id", "g")
    val kept = Pipelines.stratifiedSample(docs, $"id", $"g",
        Map("g0" -> 20), defaultPct = 90)
      .groupBy("g").count().as[(String, Long)].collect().toMap
    assert(kept("g0") > 120 && kept("g0") < 280)  // ~20% of 1000
    assert(kept("g1") > 830 && kept("g1") < 960)  // ~90% of 1000
    // rerun after a reshuffle: identical selection
    val again = Pipelines.stratifiedSample(docs.repartition(13), $"id",
        $"g", Map("g0" -> 20), defaultPct = 90)
      .select("id").as[Long].collect().toSet
    val first = Pipelines.stratifiedSample(docs, $"id", $"g",
        Map("g0" -> 20), defaultPct = 90)
      .select("id").as[Long].collect().toSet
    assert(again === first)
  }

  test("packSequences invariants hold on random token counts") {
    val rnd = new scala.util.Random(7)
    val docs = (1L to 300L).map(i =>
      (i, (i % 3).toInt, rnd.nextInt(900).toLong)).toDF("id", "sh", "n")
    val out = Pipelines.packSequences(docs, $"id", $"sh", $"n",
        budget = 1000)
      .select("id", "shard", "n_tok", "first_pack", "last_pack")
      .as[(Long, Int, Long, Long, Long)].collect()
    out.groupBy(_._2).values.foreach { sh =>
      val docsInOrder = sh.sortBy(_._1)
      var before = 0L
      docsInOrder.foreach { case (_, _, n, first, last) =>
        // pack range follows directly from the running token offset
        assert(first === before / 1000)
        assert(last === (if (n > 0) (before + n - 1) / 1000 else before / 1000))
        assert(first <= last)
        before += n
      }
      // contiguity: consecutive docs never leave a pack gap
      docsInOrder.sliding(2).foreach {
        case Array(a, b) => assert(b._4 - a._5 <= 1 && b._4 >= a._4)
        case _ =>
      }
    }
  }

  test("packSequences: contiguous packs, budget respected, spans marked") {
    val docs = Seq(
      (1L, 0, 1000L), (2L, 0, 1000L), (3L, 0, 100L), (4L, 0, 2048L),
      (10L, 1, 3000L)
    ).toDF("doc_id", "shard", "n_tok")
    val out = Pipelines.packSequences(docs, $"doc_id", $"shard",
        $"n_tok", budget = 2048)
      .select("id", "first_pack", "last_pack")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    // shard 0: doc1 tokens 0..999, doc2 1000..1999 -> both inside pack 0
    assert(out(0) === ((1L, 0L, 0L)))
    assert(out(1) === ((2L, 0L, 0L)))
    assert(out(2) === ((3L, 0L, 1L))) // 2000..2099 spans the 2048 boundary
    assert(out(3) === ((4L, 1L, 2L))) // 2100..4147 spans packs 1-2
    // shard 1 packs start from 0 independently
    assert(out(4) === ((10L, 0L, 1L)))
  }

  test("chunkDocs: full coverage, overlap = size-stride, short tail") {
    val text = (1 to 25).map(i => s"w$i").mkString(" ")
    val docs = Seq((1L, text), (2L, "a b c"), (3L, "")).toDF("doc_id", "text")
    val out = Pipelines.chunkDocs(docs, $"doc_id", $"text",
        size = 10, stride = 7)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2),
        r.getString(3)))
    val d1 = out.filter(_._1 == 1L).sortBy(_._2)
    // 25 tokens, size 10, stride 7 -> ceil(15/7)+1 = 4 chunks
    assert(d1.length === 4)
    assert(d1.map(_._3).toSeq === Seq(10, 10, 10, 4)) // short tail
    assert(d1(0)._4.startsWith("w1 w2") && d1(1)._4.startsWith("w8"))
    // coverage: every token appears in some chunk
    val covered = d1.flatMap(_._4.split(" ")).toSet
    assert(covered === (1 to 25).map(i => s"w$i").toSet)
    // doc 2: 3 tokens -> one short chunk; doc 3: no tokens -> no chunks
    assert(out.filter(_._1 == 2L).toSeq === Seq((2L, 0, 3, "a b c")))
    assert(!out.exists(_._1 == 3L))
  }

  test("snapshotDiff: added/removed/changed/unchanged classification") {
    val prev = Seq((1L, "one"), (2L, "two"), (3L, "three"))
      .toDF("doc_id", "text")
    val cur = Seq((1L, "one"), (2L, "two EDITED"), (4L, "four"))
      .toDF("doc_id", "text")
    val fp = (df: org.apache.spark.sql.DataFrame) =>
      Pipelines.withFingerprint(df, $"doc_id", $"text")
    val out = Pipelines.snapshotDiff(fp(prev), fp(cur))
      .as[(Long, String)].collect().toMap
    assert(out === Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
  }

  test("sampleToTokenBudget: heavy sources downsample toward the " +
       "per-source share, tiny sources survive whole, membership is " +
       "deterministic") {
    import org.apache.spark.sql.functions._
    // heavy: 2000 docs x 10 tokens = 20000 tokens; tiny: 10 x 10 = 100
    val docs = spark.range(2000)
      .select($"id".as("doc_id"), lit("heavy").as("src"),
        lit(10).as("n_tok"))
      .unionByName(spark.range(2100, 2110)
        .select($"id".as("doc_id"), lit("tiny").as("src"),
          lit(10).as("n_tok")))
    // budget 4000, k=2 -> share 2000 tokens: heavy rate ~0.1,
    // tiny rate capped at 1
    val kept = Pipelines.sampleToTokenBudget(docs, $"doc_id", $"src",
      $"n_tok", budgetTokens = 4000L)
    val bySrc = kept.groupBy($"src")
      .agg(sum($"n_tok").as("tok"), count(lit(1)).as("docs"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(bySrc("tiny") === ((100L, 10L)), "tiny source kept whole")
    val heavyTok = bySrc("heavy")._1
    // md5 buckets are uniform enough for 3x slack around the share
    assert(heavyTok > 2000 / 3 && heavyTok < 2000 * 3,
      s"heavy source should land near its 2000-token share, got $heavyTok")
    // determinism under reshuffling: same ids kept
    val again = Pipelines.sampleToTokenBudget(
        docs.repartition(7, $"doc_id"), $"doc_id", $"src", $"n_tok",
        budgetTokens = 4000L)
      .select($"doc_id").collect().map(_.getLong(0)).sorted
    assert(again.toSeq === kept.select($"doc_id").collect()
      .map(_.getLong(0)).sorted.toSeq)
  }

  test("materializeMixture: every source lands on exactly target_docs " +
      "rows; copies differ by at most one; windows never span a source") {
    val docs = (1L to 300L).map(i =>
      (i, if (i <= 240) "big" else "small")).toDF("doc_id", "source")
    val w = Pipelines.mixtureWeights(docs, $"source",
      temperature = 0.5, budget = 500L)
    val targets = w.select($"source", $"target_docs").as[(String, Long)]
      .collect().toMap
    val out = Pipelines.materializeMixture(docs, $"doc_id", $"source", w)
    // plan shape FIRST, before persist: cache substitution would fold
    // any later equal plan into an InMemoryRelation that collect()
    // does not descend into. The ROW-level ranking window must
    // partition by (source, bucket), never by source alone.
    val winSpecs = out.queryExecution.optimizedPlan.collect {
      case wn: org.apache.spark.sql.catalyst.plans.logical.Window =>
        wn.partitionSpec.map(_.sql).mkString(",")
    }
    assert(winSpecs.nonEmpty)
    winSpecs.foreach { ps =>
      assert(ps.contains("__b") || ps.contains("source"),
        s"unexpected window partition spec: $ps")
    }
    assert(winSpecs.exists(_.contains("__b")),
      "boundary ranking must partition by (source, bucket)")
    out.persist()
    try {
      val got = out.groupBy("source").count()
        .as[(String, Long)].collect().toMap
      assert(got === targets) // exact, both the up- and downsampled side
      // per-doc copy counts differ by at most 1 within a source (whole
      // epochs + a single fractional slice)
      val spread = out.groupBy("source", "id").count()
        .groupBy("source").agg((max($"count") - min($"count")).as("d"))
        .select(max($"d")).as[Long].collect().head
      assert(spread <= 1L)
      // deterministic under resharding
      val again = Pipelines.materializeMixture(
          docs.repartition(13), $"doc_id", $"source", w)
        .groupBy("source").agg(sum($"id" * $"copy").as("chk"))
        .as[(String, Long)].collect().toMap
      val chk = out.groupBy("source").agg(sum($"id" * $"copy").as("chk"))
        .as[(String, Long)].collect().toMap
      assert(again === chk)
    } finally { out.unpersist(); () }
  }

  test("mixtureWeights: tau<1 up-weights small sources, budget adds up") {
    val docs = (1 to 900).map(i => (i.toLong, "big")) ++
      (1 to 100).map(i => (i.toLong + 1000, "small"))
    val out = Pipelines.mixtureWeights(docs.toDF("id", "source"),
        $"source", temperature = 0.5, budget = 1000L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4)))
      .toMap
    val (bigN, bigP, bigT, bigR) = out("big")
    val (smallN, smallP, smallT, smallR) = out("small")
    assert(bigN === 900L && smallN === 100L)
    // raw shares 0.9/0.1 become 0.75/0.25 under tau=0.5
    assert(math.abs(bigP - 0.75) < 1e-9)
    assert(math.abs(smallP - 0.25) < 1e-9)
    assert(bigT + smallT === 1000L)
    // the small source is sampled at a HIGHER rate than the big one
    assert(smallR > bigR)
    assert(math.abs(smallR - 2.5) < 1e-9) // repeats: 250 docs from 100
  }

  test("stripBoilerplate: per-group frequent lines drop, order kept, " +
      "rare lines and other groups untouched") {
    val docs = Seq(
      // group a: header in 3/3 docs, footer in 2/3, rare in 1/3
      (1L, "a", "HEADER\nbody one\nFOOTER"),
      (2L, "a", "HEADER\nbody two\nrare line\nFOOTER"),
      (3L, "a", "HEADER\nbody three"),
      // group b: the SAME header text appears in only 1/2 docs of b ->
      // boilerplate decisions are per-group
      (4L, "b", "HEADER\nbeta body"),
      (5L, "b", "other content")
    ).toDF("id", "src", "t")
    val out = Pipelines.stripBoilerplate(docs, $"id", $"src", $"t",
        minDocFrac = 0.5, minDocs = 2)
      .orderBy($"doc_id")
      .as[(Long, String, String, Long, Long)].collect().toSeq
    assert(out === Seq(
      (1L, "a", "body one", 3L, 1L),
      (2L, "a", "body two\nrare line", 4L, 2L),
      (3L, "a", "body three", 2L, 1L),
      (4L, "b", "HEADER\nbeta body", 2L, 2L),
      (5L, "b", "other content", 1L, 1L)))
  }

  test("stripBoilerplate: a doc repeating its own footer counts once " +
      "in the census; blank lines never count") {
    val docs = Seq(
      (1L, "s", "FOOT\n\n  \nFOOT\nkeep me"),
      (2L, "s", "body\nFOOT"),
      (3L, "s", "body2")
    ).toDF("id", "src", "t")
    // FOOT df = 2 of 3 docs (doc 1 counts once) -> >= 0.5 -> stripped
    val out = Pipelines.stripBoilerplate(docs, $"id", $"src", $"t")
      .orderBy($"doc_id")
      .as[(Long, String, String, Long, Long)].collect().toSeq
    assert(out === Seq(
      (1L, "s", "keep me", 3L, 1L),
      (2L, "s", "body", 2L, 1L),
      (3L, "s", "body2", 1L, 1L)))
  }

  test("stripBoilerplate plan: strip stage is a broadcast join — no " +
      "extra exchange on the document side") {
    val docs = Seq((1L, "s", "x\ny"), (2L, "s", "x\nz"))
      .toDF("id", "src", "t")
    val plan = Pipelines.stripBoilerplate(docs, $"id", $"src", $"t")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"))
  }
}
