package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType, StructType}
import graft.etl.{Lineage, LogParse, MozLog}
import graft.jx.{Formats, QueryParser, Runner}
import graft.llm.{Contamination, Dedup, Multimodal, Pipelines, Similarity, TextAnalysis}
import graft.meta.MetaColumns
import graft.operators.{CountMin, Joins, Kmv, Sessionize, SetOps}
import graft.streaming.EventStream
import graft.tables.Catalog

/** Query + oracle definitions — LLM training-data pipeline: dedup families, ANN, text analysis, corpus prep, relevance, model-prep.
  * Concatenated into SparkEntry.queries / SparkEntry.oracleSql (the
  * driver contract); see SparkEntry's scaladoc for the output and
  * floating-point conventions every entry follows. */
private[graft] object QueriesLlmB {
  import QueryShared._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- CONTAINMENT dedup signal: near-SUBSET pairs (prefix-
    //     truncated variants of every 5th doc are injected — their
    //     shingles are a strict subset of the original's, so
    //     cont_a_in_b lands on exactly 1.0 where Jaccard would sit
    //     well below any threshold). Ratios are exact integer
    //     divisions, hash-compared unrounded; the oracle mines the
    //     same df-capped gram space with string n-grams ---
    "q132_containment" -> { (spark, dir) =>
      val docs = tbl(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
      val variants = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          col("text").substr(lit(1),
            greatest(length(col("text")) - 40, lit(1))).as("text"))
      graft.llm.Dedup.containmentPairs(docs.unionByName(variants),
          col("doc_id"), col("text"),
          shingleN = 3, threshold = 0.9, maxDf = 64)
        .orderBy(col("id_a"), col("id_b"))
    },


    // --- collocation mining: adjacent-token pairs ranked by lift =
    //     c_ab·N/(c_a·c_b) — PMI's ordering via exact products, no
    //     libm log in the compare. Top 25 (lift desc, a, b) with pair
    //     count >= 5 ---
    "q134_collocations" -> { (spark, dir) =>
      val docs = tbl(spark, dir, "documents")
      graft.llm.TextAnalysis.collocations(docs, col("text"),
          minCount = 5)
        .orderBy(col("lift").desc, col("a").asc, col("b").asc)
        .limit(25)
    },


    // --- per-source boilerplate stripping (CCNet-style): docs get a
    //     synthetic nav header + copyright footer shared across their
    //     source (and a 25%-frequency subscribe line that must SURVIVE
    //     the 50% bar); the census explodes distinct lines only, the
    //     strip is a row-local array filter against a broadcast
    //     per-source boilerplate list — document text never shuffles ---
    "q140_boilerplate" -> { (spark, dir) =>
      val docs = tbl(spark, dir, "documents")
      val multi = docs.select(col("doc_id"), col("source"),
        concat(
          lit("== "), col("source"), lit(" navigation ==\n"),
          col("text"), lit("\n"),
          when(pmod(col("doc_id"), lit(4)) === 0,
            concat(lit("subscribe to "), col("source"), lit("\n")))
            .otherwise(lit("")),
          lit("copyright "), col("source")).as("text"))
      graft.llm.Pipelines.stripBoilerplate(multi, col("doc_id"),
          col("source"), col("text"), minDocFrac = 0.5, minDocs = 2)
        .orderBy(col("doc_id"))
    },


    // --- sorted-neighborhood blocking over near-dup titles: variants
    //     share their source doc's prefix, so the (key, id) sort puts
    //     them adjacent within the key-prefix block; candidates within
    //     window 3 score full trigram Jaccard (exact set ratio).
    //     The third candidate-generation family (sort order) next to
    //     LSH bands and SemDeDup cells ---
    "q148_sorted_neighborhood" -> { (spark, dir) =>
      val docs = tbl(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
      val variants = docs.select(
        (col("doc_id") + 1000000L).as("doc_id"),
        col("text").substr(lit(1),
          greatest(length(col("text")) - 30, lit(1))).as("text"))
      val base = docs.unionByName(variants)
      val pairs = graft.llm.Dedup.sortedNeighborhoodPairs(base,
        col("doc_id"), lower(substring(trim(col("text")), 1, 24)),
        window = 3, blockPrefix = 8)
      // hashed shingles ride the fused native kernel; array_intersect/
      // array_union dedup internally, so hash-set Jaccard == the
      // oracle's string-trigram Jaccard (the q43 equivalence)
      val sh = base.select(col("doc_id"),
        graft.llm.TextAnalysis.shingleHashes(col("text"), 3).as("s"))
      pairs
        .join(sh.select(col("doc_id").as("id_a"), col("s").as("sa")),
          Seq("id_a"))
        .join(sh.select(col("doc_id").as("id_b"), col("s").as("sb")),
          Seq("id_b"))
        .withColumn("jaccard",
          round(graft.llm.Dedup.jaccard(col("sa"), col("sb")), 6))
        .filter(col("jaccard") >= 0.5)
        .select(col("id_a"), col("id_b"), col("jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    },


    // --- EXACT all-pairs Jaccard via PREFIX FILTERING (AllPairs/
    //     PPJoin): q43's corpus with NO df cap — the oracle computes
    //     the full uncapped truth and the prefix-filtered path must
    //     equal it exactly (the filter is lossless by pigeonhole;
    //     the df-cap it replaces silently drops hot shingles) ---
    "q150_prefix_filter_jaccard" -> { (spark, dir) =>
      val docs = tbl(spark, dir, "documents")
      val truncated = docs.select(
        (col("doc_id") + 1000000L).as("doc_id"),
        col("text").substr(lit(1),
          greatest(length(col("text")) - 30, lit(1))).as("text"))
      val corpus = docs.select(col("doc_id"), col("text"))
        .unionByName(truncated)
      val staged = corpus.select(col("doc_id").as("id"),
        TextAnalysis.shingleHashes(col("text"), 3).as("s"))
      Dedup.prefixFilterJaccardPairs(staged, threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    },


    // --- reciprocal-rank fusion of the q81 tf-idf and q83 BM25
    //     rankings (same 3-term query): each input is its TOP-200
    //     list (the real RRF shape — fusing retrieved lists, and the
    //     orderBy().limit() is a distributed TakeOrdered, so the rank
    //     window runs over 200 rows, never the corpus); ranks over
    //     ROUNDED scores so a libm last-ULP can never flip an order
    //     across engines; the fused score is a fixed-order sum of
    //     exact IEEE divisions, hash-compared UNROUNDED ---
    "q151_rank_fusion" -> { (spark, dir) =>
      val docs = tbl(spark, dir, "documents")
      val terms = Seq("spark", "query", "vector")
      val t = graft.llm.Relevance.tfidfScores(docs, col("doc_id"),
          col("text"), terms)
        .select(col("id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("id").asc).limit(200)
      val b = graft.llm.Relevance.bm25Scores(docs, col("doc_id"),
          col("text"), terms)
        .select(col("id"), round(col("score"), 6).as("score"))
        .orderBy(col("score").desc, col("id").asc).limit(200)
      graft.llm.Relevance.reciprocalRankFusion(Seq(t, b), k = 60)
        .select(col("id").as("doc_id"),
          col("rank_0").as("rank_tfidf"), col("rank_1").as("rank_bm25"),
          col("rrf"))
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(50)
    },


    // --- positional phrase search: a marker sentence is appended to
    //     every 7th doc (self-constructed, so testdata regeneration
    //     can't invalidate the phrase), the corpus is indexed once as
    //     (id, pos, tok) postings, and the 3-token phrase resolves by
    //     aligned-offset postings joins anchored at the rarest token.
    //     Every 21st doc gets the marker TWICE — occurrence counts,
    //     not just membership ---
    "q155_phrase_search" -> { (spark, dir) =>
      val docs = tbl(spark, dir, "documents")
      val marker = lit(" needle in the haystack marker")
      val corpus = docs.select(col("doc_id"),
        concat(col("text"),
          when(pmod(col("doc_id"), lit(7)) === 0, marker)
            .otherwise(lit("")),
          when(pmod(col("doc_id"), lit(21)) === 0, marker)
            .otherwise(lit(""))).as("text"))
      val idx = graft.llm.Phrase.postings(corpus, col("doc_id"),
        col("text"))
      graft.llm.Phrase.phraseOccurrences(idx,
          Seq("needle", "in", "the"))
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },


    // --- boolean postings retrieval (must / mustNot) over the same
    //     positional index as q155: rarest-first semi-join
    //     intersection, anti-join exclusions last (Phrase
    //     .booleanSearch) ---
    "q160_boolean_search" -> { (spark, dir) =>
      val docs = tbl(spark, dir, "documents")
      val idx = graft.llm.Phrase.postings(docs, col("doc_id"),
        col("text"))
      graft.llm.Phrase.booleanSearch(idx,
          must = Seq("spark", "query"), mustNot = Seq("vector"))
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },


    // --- per-doc keyword extraction: top-3 terms by the exact
    //     tf·N/df relevance ratio (same ORDERING family as tf-idf —
    //     x↦ln x is monotone — but computed as one exact-integer
    //     division, so no libm anywhere near the ranking). The rank
    //     window is DOC-partitioned over that doc's own distinct
    //     terms; df and N are broadcast-sized census frames. ---
    "q187_keywords" -> { (spark, dir) =>
      val docs = tbl(spark, dir, "documents")
      val toks = docs.select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("tok"))
      val tf = toks.groupBy(col("doc_id"), col("tok"))
        .agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("__n"))
      val scored = tf.join(df, Seq("tok"))
        .crossJoin(broadcast(n))
        .withColumn("score",
          (col("tf") * col("__n")).cast("double") /
            col("df").cast("double"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("tok").asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("tok"), col("score"))
        .orderBy(col("doc_id"), col("rank"))
    },


    // --- item-item collaborative similarity (the co-purchase
    //     recommender): parts sharing an order score cosine =
    //     co/√(dᵢ·dⱼ) — one exact integer co-occurrence count, two
    //     broadcast degree lookups, one IEEE sqrt (correctly rounded
    //     in both engines) — top-3 neighbors per item via an
    //     item-partitioned rank window. Unrounded hash match. ---
    "q193_item_similarity" -> { (spark, dir) =>
      val li = tbl(spark, dir, "lineitem")
        .filter(pmod(col("l_partkey"), lit(8)) === 0)
      val baskets = li.select(col("l_orderkey").as("g"),
        col("l_partkey").as("i")).distinct()
      val deg = baskets.groupBy(col("i")).agg(count(lit(1)).as("d"))
      val pairs = baskets.join(
          baskets.select(col("g"), col("i").as("j")), Seq("g"))
        .filter(col("i") < col("j"))
        .groupBy(col("i"), col("j")).agg(count(lit(1)).as("co"))
      val sym = pairs.unionByName(pairs.select(col("j").as("i"),
        col("i").as("j"), col("co")))
      val scored = sym
        .join(broadcast(deg.select(col("i"), col("d").as("__di"))),
          Seq("i"))
        .join(broadcast(deg.select(col("i").as("j"),
          col("d").as("__dj"))), Seq("j"))
        .withColumn("sim", col("co").cast("double") /
          sqrt((col("__di") * col("__dj")).cast("double")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("i")).orderBy(col("sim").desc, col("j").asc)
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("i").as("item"), col("rank"),
          col("j").as("neighbor"), col("co"), col("sim"))
        .orderBy(col("item"), col("rank"))
    },


    // --- deterministic global shuffle + fixed-size training shards:
    //     every doc's exact global rank under the (md5(seed:id), id)
    //     order and its contiguous shard — WITHOUT a global window
    //     (256 hash-prefix range-buckets + a triangular census
    //     prefix-sum + bucket-partitioned row_number, llm/Sharding).
    //     The oracle replays the rank with a plain global row_number
    //     — equality proves the bucket decomposition is exact. ---
    "q212_shuffle_shards" -> { (spark, dir) =>
      val docs = tbl(spark, dir, "documents")
      graft.llm.Sharding.globalShuffleShards(docs, col("doc_id"),
          seed = "s42", shardSize = 64L)
        .select(col("id").as("doc_id"), col("h"), col("rn"),
          col("shard"))
        .orderBy(col("rn"))
    },


    // --- hash-based negative sampling for contrastive pairs: 3
    //     pseudo-random English negatives per non-English query doc,
    //     via bucket-representative hashing (pool bucketed by md5,
    //     min-hash member represents; query picks buckets by
    //     md5(seed:q:i)) — no RNG, no pool-wide ranking; rerun- and
    //     repartition-stable by construction (llm/Sharding). ---
    "q213_negative_sampling" -> { (spark, dir) =>
      val docs = tbl(spark, dir, "documents")
      graft.llm.Sharding.negativeSamples(
          docs.filter(col("lang") =!= "en"), col("doc_id"),
          docs.filter(col("lang") === "en"), col("doc_id"),
          k = 3, buckets = 64, seed = "s7")
        .orderBy(col("qid"), col("i"))
    },


    // --- smoothed target encoding of p_brand by line revenue (the
    //     micci-barreca tabular-ML feature): category mean shrunk
    //     toward the global mean with pseudo-count m=100. Integer
    //     cent sums + three pinned-order IEEE ops -> unrounded hash
    //     gate (llm/Featurize.targetEncode). ---
    "q215_target_encoding" -> { (spark, dir) =>
      val li = tbl(spark, dir, "lineitem")
      val p = tbl(spark, dir, "part")
      val joined = li.join(p, col("l_partkey") === col("p_partkey"))
      graft.llm.Featurize.targetEncode(joined, col("p_brand"),
          round(col("l_extendedprice") * 100).cast("long"), m = 100)
        .orderBy(col("cat"))
    },


    // --- postings-list compression audit (index storage planning):
    //     per-term delta + varint cost of the sorted doc-id postings
    //     vs raw 8-byte ids. Gap bit-lengths via length(bin(gap)) —
    //     the q179 no-libm trick — so every byte count is exact
    //     integer; windows are term-partitioned (bounded by df). The
    //     72% savings number a 100 TB index build decides layout
    //     with. ---
    "q222_postings_bytes" -> { (spark, dir) =>
      val docs = tbl(spark, dir, "documents")
      val posts = docs.select(col("doc_id"), explode(array_distinct(
          graft.llm.TextAnalysis.tokens(col("text")))).as("term"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("term")).orderBy(col("doc_id"))
      posts
        .withColumn("__gap", coalesce(
          col("doc_id") - lag(col("doc_id"), 1).over(w),
          col("doc_id")))
        .withColumn("__vb",
          expr("1L + cast(length(bin(__gap)) - 1 as bigint) div 7"))
        .groupBy(col("term"))
        .agg(count(lit(1)).as("df"),
          (count(lit(1)) * 8).as("raw_bytes"),
          sum(col("__vb")).as("varint_bytes"))
        .orderBy(col("df").desc, col("term"))
        .limit(100)
    },


    // --- exact k-NN CLASSIFICATION over the embedding corpus: every
    //     20th vector is held out as a query, its label predicted by
    //     majority vote of its 10 nearest neighbors (cosine, double
    //     precision; ties -> more votes, then smaller label). The
    //     brute-force scorer is the labeled exact baseline — the
    //     serving path at 100 TB swaps in the IVF probe (q109) with
    //     identical vote logic. Vote counts and the argmax are exact
    //     integers; only the neighbor RANKING touches FP, and the
    //     sequential-order dot product is engine-identical (q44/q45
    //     evidence). ---
    "q235_knn_classify" -> { (spark, dir) =>
      val emb = tbl(spark, dir, "embeddings")
      val queries = emb.filter(pmod(col("vec_id"), lit(20)) === 0)
      val corpus = emb.filter(pmod(col("vec_id"), lit(20)) =!= 0)
      val topk = Similarity.bruteForceTopK(
        corpus, col("vec_id"), col("embedding"),
        queries, col("vec_id"), col("embedding"), k = 10)
      val votes = topk
        .join(corpus.select(col("vec_id"),
          col("label").cast("int").as("nbr_label")), Seq("vec_id"))
        .groupBy(col("query_id"), col("nbr_label"))
        .agg(count(lit(1)).as("votes"))
      val pred = votes.groupBy(col("query_id"))
        .agg(min(struct((-col("votes")).as("__nv"),
          col("nbr_label").as("__lb"))).as("__m"))
        .select(col("query_id"), col("__m.__lb").as("predicted"),
          (-col("__m.__nv")).as("n_votes"))
      pred
        .join(queries.select(col("vec_id").as("query_id"),
          col("label").cast("int").as("true_label")), Seq("query_id"))
        .select(col("query_id"), col("true_label"), col("predicted"),
          col("n_votes"),
          (col("true_label") === col("predicted")).as("correct"))
        .orderBy(col("query_id"))
    },


    // --- deterministic STRATIFIED holdout split: within each source
    //     stratum, the ceil(n/5) docs smallest in (md5(doc_id),
    //     doc_id) order form the test fold — reproducible from the
    //     data alone, exact 20% per stratum, no RNG state. Window per
    //     stratum (bounded); the unbounded-stratum form is q212's
    //     hash-prefix global rank. ---
    "q240_stratified_split" -> { (spark, dir) =>
      val docs = tbl(spark, dir, "documents")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"))
        .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      docs
        .select(col("source"), col("doc_id"), col("n_chars"))
        .withColumn("__rn", row_number().over(w))
        .withColumn("__n", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("source"))))
        .withColumn("__is_test", col("__rn") <= expr("(__n + 4) div 5"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("__is_test"), 1L).otherwise(0L)).as("n_test"),
          sum(when(col("__is_test"), col("n_chars")).otherwise(0L))
            .as("test_chars"),
          sum(when(!col("__is_test"), col("n_chars")).otherwise(0L))
            .as("train_chars"))
        .orderBy(col("source"))
    },


    // --- pipeline OBSERVABILITY via the Observation API: per-stage
    //     row/char counters piggyback on the write job itself (observe()
    //     metrics are accumulator-backed — NO second scan of the
    //     data), which is how a 100 TB curation run affords its
    //     circuit-breaker ("did this filter eat 90% of the corpus?")
    //     on every stage. The filter stage writes to a real sink; the
    //     observed metrics become the result frame; the oracle
    //     replays the counts relationally. ---
    "q242_observed_pipeline" -> { (spark, dir) =>
      import org.apache.spark.sql.Observation
      val docs = tbl(spark, dir, "documents")
      val obsIn = Observation()
      val obsKept = Observation()
      val tmp = Scratch.dir("graft_q242").toString
      graft.sources.Sinks.writeBlocks(docs
        .observe(obsIn, count(lit(1)).as("rows"),
          sum(col("n_chars")).as("chars"))
        .filter(col("n_chars") >= 200)
        .observe(obsKept, count(lit(1)).as("rows"),
          sum(col("n_chars")).as("chars")), tmp + "/kept", Nil)
      val in = obsIn.get
      val kept = obsKept.get
      import spark.implicits._
      Seq((in("rows").asInstanceOf[Long],
          in("chars").asInstanceOf[Long],
          kept("rows").asInstanceOf[Long],
          kept("chars").asInstanceOf[Long]))
        .toDF("n_in", "chars_in", "n_kept", "chars_kept")
        .withColumn("kept_frac", col("n_kept").cast("double")
          / col("n_in").cast("double"))
    },


    // --- the q127 curation composition with PER-STAGE OBSERVABILITY:
    //     a PipelineObserver checkpoint at every stage boundary
    //     (exact dedup -> quality classifier -> decontamination ->
    //     token budget), all riding the single terminal write as
    //     accumulators — no re-scan per stage. Boundaries the
    //     downstream consumes twice (decontaminate's n-gram mine +
    //     anti-join; the budget's census + join) are checkpointed
    //     eagerly above the observation, so each counter fires
    //     exactly once, in full, on the checkpoint's job. The oracle
    //     replays every stage count relationally from the q127 CTE
    //     chain. ---
    "q245_pipeline_metrics" -> { (spark, dir) =>
      val po = new graft.llm.PipelineObserver
      val docs0 = tbl(spark, dir, "documents")
      val raw = po.checkpoint("raw",
          docs0.select(col("doc_id"), col("source"), col("text")))
        .localCheckpoint()
      val fp = raw.withColumn("fp", md5(col("text")))
      val keepIds = fp.groupBy(col("fp"))
        .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
      val s1 = po.checkpoint("exact_dedup",
        fp.join(keepIds, Seq("doc_id"), "left_semi"))
      val s2 = po.checkpoint("quality",
          graft.llm.QualityModel.classify(s1, col("text"))
            .filter(col("keep"))
            .select(col("doc_id"), col("source"), col("text")))
        .localCheckpoint()
      val evalSet = docs0.filter(pmod(col("doc_id"), lit(97)) === 0)
      val s3 = po.checkpoint("decontaminate",
          graft.llm.Contamination.decontaminate(s2, col("doc_id"),
            col("text"), evalSet, col("text"), n = 8))
        .localCheckpoint()
      val s3t = s3.withColumn("n_tok",
        graft.llm.TextAnalysis.tokenCount(col("text")))
      val kept = po.checkpoint("token_budget",
        Pipelines.sampleToTokenBudget(s3t, col("doc_id"),
          col("source"), col("n_tok"), budgetTokens = 10000L))
      graft.sources.Sinks.replace(kept,
        Scratch.dir("graft_q245").toString + "/out")
      po.metricsDF(spark).orderBy(col("stage_ix"))
    },


    // --- SOURCE SIMILARITY MATRIX: cosine between sources' unigram
    //     count vectors — the corpus-mixture design readout ("which
    //     sources are near-duplicates of each other"). Integer dot
    //     products and norms via a vocabulary-keyed join of the
    //     (source, term, c) census (≤ k rows per term — a metadata
    //     join, the corpus itself is scanned once and never
    //     self-joined); cosine divides once at the end. ---
    "q251_source_similarity" -> { (spark, dir) =>
      val counts = tbl(spark, dir, "documents")
        .select(col("source"),
          explode(graft.llm.TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy(col("source"), col("tok"))
        .agg(count(lit(1)).as("c"))
      val norms = counts.groupBy(col("source"))
        .agg(sum(col("c") * col("c")).as("norm2"))
      counts.alias("a").join(counts.alias("b"),
          col("a.tok") === col("b.tok") &&
          col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"),
          col("b.source").as("source_b"))
        .agg(sum(col("a.c") * col("b.c")).as("dot"))
        .join(broadcast(norms.select(col("source").as("source_a"),
          col("norm2").as("norm2_a"))), Seq("source_a"))
        .join(broadcast(norms.select(col("source").as("source_b"),
          col("norm2").as("norm2_b"))), Seq("source_b"))
        .withColumn("cosine", col("dot").cast("double") /
          (sqrt(col("norm2_a").cast("double")) *
            sqrt(col("norm2_b").cast("double"))))
        .select(col("source_a"), col("source_b"), col("dot"),
          col("norm2_a"), col("norm2_b"), col("cosine"))
        .orderBy(col("source_a"), col("source_b"))
    },


    // --- SEQUENCE NOVELTY (distribution shift on event ORDER, not
    //     values): per user, the fraction of second-half event-type
    //     bigram occurrences whose bigram never appeared in that
    //     user's first half — halves split at the backlog's time
    //     midpoint, bigrams formed within each half. Exact integer
    //     counts; the anti-join is per-user keyed. ---
    "q260_seq_novelty" -> { (spark, dir) =>
      val ev = tbl(spark, dir, "events")
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts").cast("timestamp")).as("us"))
      val b = ev.agg(min(col("us")).as("lo"), max(col("us")).as("hi"))
        .collect()(0)
      val mid = b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 2
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      def bigrams(half: org.apache.spark.sql.DataFrame) = half
        .withColumn("__prev", lag(col("event_type"), 1).over(w))
        .filter(col("__prev").isNotNull)
        .select(col("user_id"), col("__prev").as("a"),
          col("event_type").as("b"))
      val train = bigrams(ev.filter(col("us") <= mid)).distinct()
      val test = bigrams(ev.filter(col("us") > mid))
      val novel = test.join(train, Seq("user_id", "a", "b"),
        "left_anti")
      test.groupBy(col("user_id")).agg(count(lit(1)).as("n_test"))
        .join(novel.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_novel")), Seq("user_id"), "left")
        .withColumn("n_novel", coalesce(col("n_novel"), lit(0L)))
        .withColumn("novelty",
          col("n_novel").cast("double") / col("n_test").cast("double"))
        .orderBy(col("user_id"))
    },


    // --- MAGIC-BYTE FORMAT SNIFFING census over synthesized media
    //     blobs (doc_id%4 picks the container signature, text bytes
    //     are the opaque body): the engine routes by ACTUAL bytes
    //     (Multimodal.sniffFormat — codegen'd substring/hex, no
    //     codec); the oracle derives expected formats and byte sizes
    //     from the construction rule — independent ground truth. ---
    "q261_media_sniff" -> { (spark, dir) =>
      val docs = tbl(spark, dir, "documents")
      val magic = when(pmod(col("doc_id"), lit(4)) === 0,
          lit("89504E470D0A1A0A"))
        .when(pmod(col("doc_id"), lit(4)) === 1, lit("FFD8FFE0"))
        .when(pmod(col("doc_id"), lit(4)) === 2, lit("52494646"))
        .otherwise(lit("47494638"))
      val payload = concat(unhex(magic), encode(col("text"), "UTF-8"))
      docs.select(col("lang"),
          graft.llm.Multimodal.sniffFormat(payload).as("format"),
          length(payload).cast("long").as("n_bytes"))
        .groupBy(col("format"), col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("n_bytes")).as("total_bytes"))
        .orderBy(col("format"), col("lang"))
    },


    // --- VOCABULARY OVERLAP matrix (set complement of q251's
    //     frequency cosine — overlap predicts near-dup density when
    //     planning dedup): per source pair, |A∩B| via the distinct
    //     (source, token) census self-join, Jaccard and BOTH
    //     containments as exact integer ratios. ---
    "q264_vocab_overlap" -> { (spark, dir) =>
      val vocab = tbl(spark, dir, "documents")
        .select(col("source"),
          explode(graft.llm.TextAnalysis.tokens(col("text"))).as("tok"))
        .distinct()
      val sizes = vocab.groupBy(col("source"))
        .agg(count(lit(1)).as("sz"))
      vocab.alias("a").join(vocab.alias("b"),
          col("a.tok") === col("b.tok") &&
          col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"),
          col("b.source").as("source_b"))
        .agg(count(lit(1)).as("n_common"))
        .join(broadcast(sizes.select(col("source").as("source_a"),
          col("sz").as("sz_a"))), Seq("source_a"))
        .join(broadcast(sizes.select(col("source").as("source_b"),
          col("sz").as("sz_b"))), Seq("source_b"))
        .withColumn("jaccard", col("n_common").cast("double") /
          (col("sz_a") + col("sz_b") - col("n_common")).cast("double"))
        .withColumn("cont_a", col("n_common").cast("double") /
          col("sz_a").cast("double"))
        .select(col("source_a"), col("source_b"), col("n_common"),
          col("sz_a"), col("sz_b"), col("jaccard"), col("cont_a"))
        .orderBy(col("source_a"), col("source_b"))
    },


    // --- SFT PROMPT ASSEMBLY: each user's event history rendered as
    //     a chat-format training string (ordered fold of
    //     type=cents pieces between role markers), with the token
    //     budget check that decides truncation BEFORE tokenization
    //     cost is paid. Row-local after one collect per user; the
    //     oracle is an ORDER BY string_agg — byte-identical strings
    //     or nothing. ---
    "q268_chat_render" -> { (spark, dir) =>
      val ev = tbl(spark, dir, "events")
        .select(col("user_id"),
          unix_micros(col("ts").cast("timestamp")).as("us"),
          col("event_id"), col("event_type"),
          expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      ev.groupBy(col("user_id"))
        .agg(array_sort(collect_list(struct(col("us"), col("event_id"),
          col("event_type"), col("cents")))).as("__xs"))
        .select(col("user_id"),
          size(col("__xs")).cast("long").as("n_events"),
          concat(lit("<|user|> "),
            array_join(transform(col("__xs"), e =>
              concat(e.getField("event_type"), lit("="),
                e.getField("cents").cast("string"))), " "),
            lit(" <|end|>")).as("prompt"))
        .select(col("user_id"), col("n_events"),
          length(col("prompt")).cast("long").as("prompt_chars"),
          graft.llm.TextAnalysis.tokenCount(col("prompt"))
            .cast("long").as("n_tok"),
          (graft.llm.TextAnalysis.tokenCount(col("prompt")) > 64)
            .as("over_budget"),
          substring(col("prompt"), 1, 80).as("prompt_head"))
        .orderBy(col("user_id"))
    },


    // --- DPO PAIR ASSEMBLY: per source, the (chosen, rejected)
    //     document pair by quality score — chosen = argmax(score,
    //     tie→lowest id), rejected = argmin(score, tie→lowest id) —
    //     via single-pass min/max struct aggregation (no per-source
    //     sort), margins on the bit-exact q97 score. The preference-
    //     pair construction step of RLHF data prep. ---
    "q269_dpo_pairs" -> { (spark, dir) =>
      val docs = tbl(spark, dir, "documents")
      val scored = graft.llm.QualityModel.classify(docs, col("text"))
        .select(col("doc_id"), col("source"), col("score"))
      scored.groupBy(col("source"))
        .agg(
          max(struct(col("score"), (-col("doc_id")).as("__nid"),
            col("doc_id").as("__id"))).as("__c"),
          min(struct(col("score"), col("doc_id").as("__id")))
            .as("__r"))
        .select(col("source"),
          col("__c.__id").as("chosen_id"),
          round(col("__c.score"), 6).as("chosen_score"),
          col("__r.__id").as("rejected_id"),
          round(col("__r.score"), 6).as("rejected_score"),
          round(col("__c.score") - col("__r.score"), 6).as("margin"))
        .orderBy(col("source"))
    },


    // --- TOKENIZER FERTILITY per language (tokens per 100 chars —
    //     the budget planner's conversion rate between corpus bytes
    //     and training tokens): exact integer sums, one division. ---
    "q270_token_fertility" -> { (spark, dir) =>
      tbl(spark, dir, "documents")
        .select(col("lang"), col("n_chars"),
          graft.llm.TextAnalysis.tokenCount(col("text")).cast("long")
            .as("__tok"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(col("__tok")).as("sum_tokens"))
        .withColumn("fertility_per_100c",
          (col("sum_tokens") * 100).cast("double") /
            col("sum_chars").cast("double"))
        .orderBy(col("lang"))
    },


    // --- VOCABULARY GROWTH CURVE (Heaps' law readout — how fast new
    //     types appear as the corpus grows in doc_id order): NOT k
    //     prefix-distinct scans; ONE census of each token's FIRST
    //     document (min doc_id per token), then vocab(N) = #tokens
    //     with first_doc ≤ N — the growth curve for every checkpoint
    //     from a single corpus pass + a tiny broadcast join. ---
    "q272_vocab_growth" -> { (spark, dir) =>
      val first = tbl(spark, dir, "documents")
        .select(col("doc_id"),
          explode(graft.llm.TextAnalysis.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(min(col("doc_id")).as("__first"))
      val checkpoints = Seq(100L, 200L, 400L, 800L, 1600L, 3200L,
        6400L, 12800L)
      val cps = spark.createDataFrame(
        checkpoints.map(Tuple1(_))).toDF("n_docs")
      first.crossJoin(broadcast(cps))
        .filter(col("__first") <= col("n_docs"))
        .groupBy(col("n_docs"))
        .agg(count(lit(1)).as("vocab_size"))
        .orderBy(col("n_docs"))
    },


    // --- LSH PARAMETER PLANNER: the (bands b, rows r) collision
    //     curve P(candidate | s) = 1 − (1 − s^r)^b on a similarity
    //     grid s = i/20 — the table an engineer reads to pick the
    //     q26/q53 banding. s^r is EXACT integer arithmetic (i^r/20^r);
    //     the outer power folds by REPEATED MULTIPLICATION over
    //     sequence(1, b) in both engines — same order, same IEEE
    //     doubles, no libm pow anywhere. ---
    "q273_lsh_planner" -> { (spark, dir) =>
      val grid = spark.range(1, 20)
        .select(col("id").cast("long").as("i"))
      // r capped at 12: s^r runs in exact integers and 20^12 = 4·10^15
      // stays inside a long (20^16 would overflow)
      val configs = Seq((16, 4), (8, 8), (32, 2), (4, 12))
      val cfg = spark.createDataFrame(configs).toDF("b", "r")
      grid.crossJoin(broadcast(cfg))
        .withColumn("__num", expr(
          "aggregate(sequence(1, r), CAST(1 AS BIGINT), (a, x) -> a * i)"))
        .withColumn("__den", expr(
          "aggregate(sequence(1, r), CAST(1 AS BIGINT), " +
            "(a, x) -> a * CAST(20 AS BIGINT))"))
        .withColumn("__miss",
          lit(1.0) - col("__num").cast("double") /
            col("__den").cast("double"))
        .withColumn("p_candidate", lit(1.0) - expr(
          "aggregate(sequence(1, b), CAST(1.0 AS DOUBLE), " +
            "(a, x) -> a * __miss)"))
        .select((col("i").cast("double") / 20.0).as("s"),
          col("b"), col("r"), col("p_candidate"))
        .orderBy(col("s"), col("b"))
    },


    // --- NEAR-DUP CLUSTER SIZE DISTRIBUTION (sizing the dedup
    //     budget: how much of the corpus sits in big clusters):
    //     q75's synthetic edge set -> connected components ->
    //     singleton completion -> size histogram; the oracle extends
    //     q75's recursive-CTE replay with the same two censuses. ---
    "q281_cluster_sizes" -> { (spark, dir) =>
      val ids = tbl(spark, dir, "documents").select(col("doc_id"))
      val chain = ids.alias("a").join(ids.alias("b"),
          col("b.doc_id") === col("a.doc_id") + 1 &&
            pmod(col("a.doc_id"), lit(7)) =!= 6)
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      val cross = ids.alias("a").join(ids.alias("b"),
          col("b.doc_id") === col("a.doc_id") + 14 &&
            pmod(col("a.doc_id"), lit(21)) === 3)
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      val comp = Dedup.connectedComponents(
        chain.unionByName(cross), col("id_a"), col("id_b"))
      ids.join(comp, ids("doc_id") === comp("id"), "left")
        .select(coalesce(col("comp"), col("doc_id")).as("comp"))
        .groupBy(col("comp")).agg(count(lit(1)).as("__sz"))
        .groupBy(col("__sz"))
        .agg(count(lit(1)).as("n_clusters"))
        .select(col("__sz").as("cluster_size"), col("n_clusters"))
        .orderBy(col("cluster_size"))
    },


    // --- DEDUP SAVINGS ESTIMATOR: q281's clusters priced in BYTES —
    //     per near-dup cluster keep the min-id member, count the
    //     docs and chars removed; the "is the dedup pass worth the
    //     compute" answer. One census join over the component map;
    //     exact integers. ---
    "q290_dedup_savings" -> { (spark, dir) =>
      val docs = tbl(spark, dir, "documents")
        .select(col("doc_id"), col("n_chars"))
      val ids = docs.select(col("doc_id"))
      val chain = ids.alias("a").join(ids.alias("b"),
          col("b.doc_id") === col("a.doc_id") + 1 &&
            pmod(col("a.doc_id"), lit(7)) =!= 6)
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      val cross = ids.alias("a").join(ids.alias("b"),
          col("b.doc_id") === col("a.doc_id") + 14 &&
            pmod(col("a.doc_id"), lit(21)) === 3)
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      val comp = Dedup.connectedComponents(
        chain.unionByName(cross), col("id_a"), col("id_b"))
      val mapped = docs.join(comp, docs("doc_id") === comp("id"),
          "left")
        .select(col("doc_id"), col("n_chars"),
          coalesce(col("comp"), col("doc_id")).as("comp"))
      val perCluster = mapped.groupBy(col("comp"))
        .agg(count(lit(1)).as("__n"), sum(col("n_chars")).as("__chars"),
          min(struct(col("doc_id"), col("n_chars"))).as("__keep"))
      perCluster.agg(
          count(lit(1)).as("n_clusters"),
          sum(col("__n")).as("n_docs"),
          sum(col("__n") - 1).as("n_removed"),
          sum(col("__chars") - col("__keep.n_chars"))
            .as("chars_removed"),
          sum(col("__chars")).as("chars_total"))
        .withColumn("savings_frac",
          col("chars_removed").cast("double") /
            col("chars_total").cast("double"))
    },


    // --- CHUNKED token-bucket replay (q250's bounded-memory twin):
    //     the same lazy-refill fold, but events segment into
    //     16-element position chunks folded with carry-over state —
    //     no row ever holds a full entity history, the hot-entity
    //     (bot-traffic) offline-replay shape. The oracle is q250's
    //     whole-list SQL verbatim: a hash match PROVES the chunked
    //     chain replays the unsegmented fold on real data. ---
    "q293_rate_limit_chunked" -> { (spark, dir) =>
      val ev = tbl(spark, dir, "events")
      graft.operators.RateLimit.tokenBucketChunked(ev, col("user_id"),
          unix_micros(col("ts").cast("timestamp")), col("event_id"),
          capacity = 3L, chunkSize = 16)
        .select(col("entity").as("user_id"), col("n_events"),
          col("n_accepted"), col("n_rejected"), col("tokens_left"))
        .orderBy(col("user_id"))
    },

    // --- MERGEABLE VOCABULARY MANIFESTS (Misra–Gries heavy hitters;
    //     the frequency member of the manifest family next to q255
    //     fingerprints, q153 KMV, q294 quantile summaries): each
    //     (lang, shard) keeps its top-12 tokens with the 13th count
    //     subtracted; two ingest halves' manifests merge by summed
    //     counts, and the top-10 merged estimates carry the proven
    //     bracket est ≤ true ≤ est + Σ thresholds. The oracle
    //     replays census → threshold → merge → bracket check — the
    //     hash match proves the bound itself, per token. ---
    "q295_vocab_manifest" -> { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val hh = graft.operators.HeavyHitters
      val occ = tbl(spark, dir, "documents")
        .select(col("lang"), col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("tok"))
      def summ(h: Int) = hh.shardSummaries(
        occ.filter(pmod(col("doc_id"), lit(2)) === h),
        col("lang"), col("tok"), pmod(col("doc_id"), lit(4)), m = 12)
      val (s1, l1) = summ(0)
      val (s2, l2) = summ(1)
      val (ms, ml) = hh.merge(Seq(s1, s2), Seq(l1, l2))
      val w = Window.partitionBy(col("grp"))
        .orderBy(col("est").desc, col("value").asc)
      val top = ms.withColumn("rnk", row_number().over(w).cast("int"))
        .filter(col("rnk") <= 10)
      val exact = occ.groupBy(col("lang").as("grp"),
          col("tok").as("value"))
        .agg(count(lit(1)).as("exact"))
      top.join(exact, Seq("grp", "value"))
        .join(ml, Seq("grp"))
        .select(col("grp").as("lang"), col("rnk"),
          col("value").as("token"), col("est"), col("exact"),
          col("slack"),
          (col("est") <= col("exact") &&
            col("exact") <= col("est") + col("slack")).as("bounded"))
        .orderBy(col("lang"), col("rnk"))
    },

    // --- REAL IMAGE DECODE end-to-end (the JDK ships PNG/JPEG
    //     codecs — javax.imageio — so the decode stage is NOT
    //     environment-blocked for those formats): per sampled doc, a
    //     genuine PNG is ENCODED with dimensions derived from doc_id,
    //     flows through magic-byte sniffing and a REAL
    //     bytes→pixels→properties decode (mapPartitions, row-local,
    //     payloads never shuffled), and the census is gated against
    //     an oracle that knows the encoded dimensions WITHOUT any
    //     codec — n_verified = n_imgs proves every real decode
    //     recovered exactly what was encoded. ---
    "q301_image_decode" -> { (spark, dir) =>
      val mm = graft.llm.Multimodal
      val docs = tbl(spark, dir, "documents")
        .filter(pmod(col("doc_id"), lit(100)) === 0)
        .select(col("doc_id"),
          (lit(8) + pmod(col("doc_id"), lit(24))).cast("int").as("w"),
          (lit(8) + pmod(col("doc_id"), lit(16))).cast("int").as("h"))
      val enc = mm.encodePngBatched(docs, col("w"), col("h"),
          col("doc_id"))
        .withColumn("fmt", mm.sniffFormat(col("payload")))
      val dec = mm.decodeImagesBatched(enc, col("payload"),
        mm.imageIoDecoder)
      dec.groupBy(col("decoded.width").as("width"),
          col("decoded.height").as("height"))
        .agg(count(lit(1)).as("n_imgs"),
          sum(when(col("decoded.ok") &&
            col("decoded.channels") === 3 &&
            col("fmt") === "png" &&
            col("decoded.width") === col("w") &&
            col("decoded.height") === col("h"), 1L).otherwise(0L))
            .as("n_verified"))
        .orderBy(col("width"), col("height"))
    },

    // --- REAL pixel feature extraction, oracled to PIXEL EXACTNESS:
    //     the synthesized PNGs' pixels are a pure function of
    //     (doc_id, x, y), so the oracle recomputes the per-channel
    //     integer sums from the formula with NO codec — a hash match
    //     proves the engine's ImageIO decode + raster walk recovered
    //     every pixel value bit-for-bit (PNG is lossless; TYPE_INT_RGB
    //     stores channels verbatim). Exact integer sums: divide once
    //     downstream for mean-color features. ---
    "q302_image_pixel_stats" -> { (spark, dir) =>
      val mm = graft.llm.Multimodal
      val docs = tbl(spark, dir, "documents")
        .filter(pmod(col("doc_id"), lit(100)) === 0)
        .select(col("doc_id"),
          (lit(8) + pmod(col("doc_id"), lit(24))).cast("int").as("w"),
          (lit(8) + pmod(col("doc_id"), lit(16))).cast("int").as("h"))
      val enc = mm.encodePngBatched(docs, col("w"), col("h"),
        col("doc_id"))
      mm.featurizeImagesBatched(enc, col("payload"))
        .groupBy(col("w"), col("h"))
        .agg(count(lit(1)).as("n_imgs"),
          sum(col("px.sum_r")).as("sum_r"),
          sum(col("px.sum_g")).as("sum_g"),
          sum(col("px.sum_b")).as("sum_b"),
          sum(col("px.n_px")).as("n_px"),
          sum(when(col("px.ok"), 1L).otherwise(0L)).as("n_ok"))
        .orderBy(col("w"), col("h"))
    },

    // --- REAL image resize (the thumbnail / model-input
    //     normalization stage): every synthesized PNG is resized to
    //     8×8 by a pinned nearest-neighbor rule
    //     out(x2,y2) = in((x2·w) div 8, (y2·h) div 8), RE-ENCODED as
    //     PNG, and the resized raster's channel sums are gated
    //     against the oracle replaying the pixel formula AT THE
    //     MAPPED INDICES — decode → resize → re-encode → decode
    //     again, all real, proven to the pixel. ---
    "q303_image_resize" -> { (spark, dir) =>
      val mm = graft.llm.Multimodal
      val docs = tbl(spark, dir, "documents")
        .filter(pmod(col("doc_id"), lit(100)) === 0)
        .select(col("doc_id"),
          (lit(8) + pmod(col("doc_id"), lit(24))).cast("int").as("w"),
          (lit(8) + pmod(col("doc_id"), lit(16))).cast("int").as("h"))
      val enc = mm.encodePngBatched(docs, col("w"), col("h"),
        col("doc_id"))
      val rz = mm.resizeImagesBatched(enc, col("payload"), 8, 8)
      mm.featurizeImagesBatched(rz, col("resized"))
        .groupBy(col("w"), col("h"))
        .agg(count(lit(1)).as("n_imgs"),
          sum(col("px.sum_r")).as("sum_r"),
          sum(col("px.sum_g")).as("sum_g"),
          sum(col("px.sum_b")).as("sum_b"),
          sum(col("px.n_px")).as("n_px"),
          sum(when(col("px.ok"), 1L).otherwise(0L)).as("n_ok"))
        .orderBy(col("w"), col("h"))
    },

    // --- REAL AUDIO decode (the JDK ships a WAV parser —
    //     javax.sound.sampled — so PCM audio is not environment-
    //     blocked either): genuine PCM-16 WAV clips are synthesized
    //     with samples that are a pure function of (doc_id, i),
    //     parsed back through AudioSystem (header properties + the
    //     exact signed-sample sum), and gated against the oracle
    //     replaying the sample formula — the audio twin of
    //     q301/q302's image proof. ---
    "q304_audio_decode" -> { (spark, dir) =>
      val mm = graft.llm.Multimodal
      val docs = tbl(spark, dir, "documents")
        .filter(pmod(col("doc_id"), lit(100)) === 0)
        .select(col("doc_id"),
          (lit(64) + pmod(col("doc_id"), lit(256))).cast("int")
            .as("n"))
      val enc = mm.encodeWavBatched(docs, col("n"), lit(8000),
        col("doc_id"))
      mm.featurizeAudioBatched(enc, col("payload"))
        .groupBy(col("audio.rate").as("rate"),
          col("audio.channels").as("channels"),
          col("audio.bits").as("bits"))
        .agg(count(lit(1)).as("n_clips"),
          sum(when(col("audio.ok"), 1L).otherwise(0L)).as("n_ok"),
          sum(col("audio.n_samples")).as("n_samples"),
          sum(col("audio.sum_samples")).as("sum_samples"))
        .orderBy(col("rate"))
    },

    // --- REAL FRAME SAMPLING over multi-frame containers (ImageIO
    //     reads ANIMATED GIFs frame by frame — the video-stage
    //     keyframe extraction, de-stubbed): per sampled doc, a
    //     genuine animated GIF with 256-gray frames whose pixels are
    //     a pure (doc_id, frame, x, y) function; every 2nd frame is
    //     decoded (flatMap fan-out: clip → keyframes) and the
    //     per-frame gray sums are gated against the oracle replaying
    //     the formula — frame counts, dimensions, and pixel values
    //     all proven, no codec oracle-side. ---
    "q305_frame_sample" -> { (spark, dir) =>
      val mm = graft.llm.Multimodal
      val docs = tbl(spark, dir, "documents")
        .filter(pmod(col("doc_id"), lit(100)) === 0)
        .select(col("doc_id"),
          (lit(8) + pmod(col("doc_id"), lit(9))).cast("int").as("w"),
          (lit(8) + pmod(col("doc_id"), lit(5))).cast("int").as("h"),
          (lit(3) + pmod(col("doc_id"), lit(6))).cast("int").as("nf"))
      val enc = mm.encodeGifBatched(docs, col("w"), col("h"),
        col("nf"), col("doc_id"))
      mm.sampleFramesBatched(enc, col("payload"), every = 2)
        .groupBy(col("frame.frame_ix").as("frame_ix"))
        .agg(count(lit(1)).as("n_frames"),
          sum(col("frame.sum_gray")).as("sum_gray"),
          sum(col("frame.width").cast("long") *
            col("frame.height")).as("n_px"),
          sum(when(col("frame.ok"), 1L).otherwise(0L)).as("n_ok"))
        .orderBy(col("frame_ix"))
    },

    // --- IMAGE DEDUP by perceptual hash (the multimodal twin of
    //     MinHash dedup, on the REAL codec path): seed groups share
    //     one image re-encoded under several doc_ids; every payload
    //     is decoded for real, aHash-ed (8×8 resize → green channel
    //     → mean-threshold bits), and hash-grouped — one shuffle on
    //     a 64-bit key regardless of image bytes, the 100 TB image-
    //     corpus dedup shape. The oracle replays decode, resize
    //     mapping, thresholding, and clustering from the pixel
    //     formula — cluster sizes proven with no codec. ---
    "q306_image_dedup" -> { (spark, dir) =>
      val mm = graft.llm.Multimodal
      val docs = tbl(spark, dir, "documents")
        .filter(pmod(col("doc_id"), lit(100)) === 0)
        .select(col("doc_id"), expr("doc_id div 300").as("seed"))
        .withColumn("w",
          (lit(8) + pmod(col("seed"), lit(24))).cast("int"))
        .withColumn("h",
          (lit(8) + pmod(col("seed"), lit(16))).cast("int"))
      val enc = mm.encodePngBatched(docs, col("w"), col("h"),
        col("seed") * lit(99991L))
      mm.aHashBatched(enc, col("payload"))
        .groupBy(col("ahash")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"),
          sum(col("sz") - 1).as("n_dupes_removable"))
        .orderBy(col("cluster_size"))
    },

    // --- CORRUPT-MEDIA QUARANTINE, oracled: a deterministic subset
    //     of real payloads is DAMAGED — r35=21 rows are truncated
    //     mid-stream (magic bytes survive, data is cut in half),
    //     r35=28 rows lose their first 8 bytes (header smash) — then
    //     everything flows through the REAL codecs. The per-format
    //     quarantine census is hash-gated against an oracle that
    //     knows which rows were damaged from doc_id arithmetic ALONE:
    //     a match proves the engine's ok/quarantine verdicts
    //     (including the WAV declared-vs-delivered frame-count check
    //     that catches header-valid short reads) exactly separate
    //     clean bytes from damaged bytes, with zero false passes.
    //     At 100 TB this branch IS the ingest: payloads stay in
    //     their partitions (mapPartitions codec calls), the census
    //     is one tiny two-row aggregate. ---
    "q307_media_quarantine" -> { (spark, dir) =>
      val mm = graft.llm.Multimodal
      val docs = tbl(spark, dir, "documents")
        .filter(pmod(col("doc_id"), lit(7)) === 0)
        .select(col("doc_id"), pmod(col("doc_id"), lit(35)).as("r35"))
      val pngs = mm.encodePngBatched(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0)
          .withColumn("w",
            (lit(8) + pmod(col("doc_id"), lit(24))).cast("int"))
          .withColumn("h",
            (lit(8) + pmod(col("doc_id"), lit(16))).cast("int")),
        col("w"), col("h"), col("doc_id"))
        .select(col("doc_id"), col("r35"), col("payload"),
          lit("png").as("fmt_declared"))
      val wavs = mm.encodeWavBatched(
        docs.filter(pmod(col("doc_id"), lit(2)) === 1)
          .withColumn("ns",
            (lit(50) + pmod(col("doc_id"), lit(100))).cast("int")),
        col("ns"), lit(8000), col("doc_id"))
        .select(col("doc_id"), col("r35"), col("payload"),
          lit("riff").as("fmt_declared"))
      def damaged(df: DataFrame): DataFrame = df.withColumn("payload",
        when(col("r35") === 21, expr(
          "substring(payload, 1, CAST(octet_length(payload) / 2 AS INT))"))
          .when(col("r35") === 28,
            expr("substring(payload, 9, octet_length(payload))"))
          .otherwise(col("payload")))
      val pd = mm.decodeImagesBatched(damaged(pngs), col("payload"),
          mm.imageIoDecoder)
        .select(col("r35"), col("fmt_declared"),
          mm.sniffFormat(col("payload")).as("fmt_sniffed"),
          col("decoded.ok").as("ok"))
      val wd = mm.featurizeAudioBatched(damaged(wavs), col("payload"))
        .select(col("r35"), col("fmt_declared"),
          mm.sniffFormat(col("payload")).as("fmt_sniffed"),
          col("audio.ok").as("ok"))
      pd.unionByName(wd)
        .groupBy(col("fmt_declared"))
        .agg(count(lit(1)).as("n_media"),
          sum(when(col("r35") === 21, 1L).otherwise(0L))
            .as("n_truncated"),
          sum(when(col("r35") === 28, 1L).otherwise(0L))
            .as("n_smashed"),
          sum(when(col("ok"), 1L).otherwise(0L)).as("n_ok"),
          sum(when(col("fmt_sniffed") === col("fmt_declared"), 1L)
            .otherwise(0L)).as("n_sniffed"))
        .orderBy(col("fmt_declared"))
    },

    // --- REAL JPEG decode (the third JDK image codec): genuine
    //     JPEGs are encoded with doc_id-derived dimensions and
    //     decoded back through the same sniff -> ImageIO path as
    //     q301. JPEG is LOSSY, so unlike the PNG/GIF paths the
    //     PIXELS are not formula-replayable — the oracle gates what
    //     IS exact (container geometry, decodability, magic-byte
    //     routing), the honest boundary for a lossy codec. ---
    "q311_jpeg_decode" -> { (spark, dir) =>
      val mm = graft.llm.Multimodal
      val docs = tbl(spark, dir, "documents")
        .filter(pmod(col("doc_id"), lit(100)) === 0)
        .select(col("doc_id"),
          (lit(8) + pmod(col("doc_id"), lit(24))).cast("int").as("w"),
          (lit(8) + pmod(col("doc_id"), lit(16))).cast("int").as("h"))
      val enc = mm.encodeJpegBatched(docs, col("w"), col("h"),
          col("doc_id"))
        .withColumn("fmt", mm.sniffFormat(col("payload")))
      val dec = mm.decodeImagesBatched(enc, col("payload"),
        mm.imageIoDecoder)
      dec.groupBy(col("decoded.width").as("width"),
          col("decoded.height").as("height"))
        .agg(count(lit(1)).as("n_imgs"),
          sum(when(col("decoded.ok") &&
            col("decoded.channels") === 3 &&
            col("fmt") === "jpeg" &&
            col("decoded.width") === col("w") &&
            col("decoded.height") === col("h"), 1L).otherwise(0L))
            .as("n_verified"))
        .orderBy(col("width"), col("height"))
    },

    // --- MULTI-FORMAT ROUTED INGEST (the composed multimodal
    //     capstone): one mixed lake of PNG/JPEG/GIF/WAV payloads is
    //     ROUTED purely by magic bytes (never by the label that made
    //     them), each route runs its REAL decoder, and the unified
    //     census carries a per-format exact integer the oracle
    //     replays — pixel-channel sums for PNG, dims-verified count
    //     for JPEG (lossy-honest), sampled-frame gray sums for GIF,
    //     signed-sample sums for WAV. Payloads are encoded once
    //     (localCheckpoint) and never shuffled; each route is one
    //     partition-local pass + a one-row aggregate. ---
    "q314_media_router" -> { (spark, dir) =>
      val mm = graft.llm.Multimodal
      val docs = tbl(spark, dir, "documents")
        .filter(pmod(col("doc_id"), lit(10)) === 0)
        .select(col("doc_id"), pmod(col("doc_id"), lit(40)).as("r40"))
      def dims(df: DataFrame): DataFrame = df
        .withColumn("w",
          (lit(8) + pmod(col("doc_id"), lit(24))).cast("int"))
        .withColumn("h",
          (lit(8) + pmod(col("doc_id"), lit(16))).cast("int"))
      val png = mm.encodePngBatched(dims(docs.filter(col("r40") === 0)),
        col("w"), col("h"), col("doc_id"))
        .select(col("doc_id"), col("payload"))
      val jpg = mm.encodeJpegBatched(
        dims(docs.filter(col("r40") === 10)),
        col("w"), col("h"), col("doc_id"))
        .select(col("doc_id"), col("payload"))
      val gif = mm.encodeGifBatched(
        docs.filter(col("r40") === 20)
          .withColumn("w",
            (lit(8) + pmod(col("doc_id"), lit(9))).cast("int"))
          .withColumn("h",
            (lit(8) + pmod(col("doc_id"), lit(5))).cast("int"))
          .withColumn("nf",
            (lit(3) + pmod(col("doc_id"), lit(6))).cast("int")),
        col("w"), col("h"), col("nf"), col("doc_id"))
        .select(col("doc_id"), col("payload"))
      val wav = mm.encodeWavBatched(
        docs.filter(col("r40") === 30)
          .withColumn("ns",
            (lit(64) + pmod(col("doc_id"), lit(256))).cast("int")),
        col("ns"), lit(8000), col("doc_id"))
        .select(col("doc_id"), col("payload"))
      val lake = png.unionByName(jpg).unionByName(gif)
        .unionByName(wav)
        .withColumn("fmt", mm.sniffFormat(col("payload")))
        .localCheckpoint() // encode once; four routed passes read it
      val pngC = mm.featurizeImagesBatched(
          lake.filter(col("fmt") === "png"), col("payload"))
        .groupBy(lit("png").as("fmt"))
        .agg(count(lit(1)).as("n_media"),
          sum(when(col("px.ok"), 1L).otherwise(0L)).as("n_ok"),
          sum(col("px.sum_r") + col("px.sum_g") + col("px.sum_b"))
            .as("exact_sum"))
      val jpgC = mm.decodeImagesBatched(
          lake.filter(col("fmt") === "jpeg"), col("payload"),
          mm.imageIoDecoder)
        .groupBy(lit("jpeg").as("fmt"))
        .agg(count(lit(1)).as("n_media"),
          sum(when(col("decoded.ok"), 1L).otherwise(0L)).as("n_ok"),
          sum(when(col("decoded.ok") &&
            col("decoded.width") ===
              (lit(8) + pmod(col("doc_id"), lit(24))).cast("int") &&
            col("decoded.height") ===
              (lit(8) + pmod(col("doc_id"), lit(16))).cast("int"),
            1L).otherwise(0L)).as("exact_sum"))
      val gifC = mm.sampleFramesBatched(
          lake.filter(col("fmt") === "gif"), col("payload"),
          every = 2)
        .groupBy(lit("gif").as("fmt"))
        .agg(countDistinct(col("doc_id")).as("n_media"),
          countDistinct(when(col("frame.ok"), col("doc_id")))
            .as("n_ok"),
          sum(col("frame.sum_gray")).as("exact_sum"))
      val wavC = mm.featurizeAudioBatched(
          lake.filter(col("fmt") === "riff"), col("payload"))
        .groupBy(lit("riff").as("fmt"))
        .agg(count(lit(1)).as("n_media"),
          sum(when(col("audio.ok"), 1L).otherwise(0L)).as("n_ok"),
          sum(col("audio.sum_samples")).as("exact_sum"))
      pngC.unionByName(jpgC).unionByName(gifC).unionByName(wavC)
        .orderBy(col("fmt"))
    },

    // --- CROSS-MODAL TRANSITIVE DEDUP: a page is a duplicate if its
    //     TEXT is a near-dup (exact prefix-filtered Jaccard ≥ 0.5)
    //     OR its IMAGE has an identical decoded raster (exact
    //     channel-sum content key over the REAL codec path; aHash is
    //     deliberately not used here — on this synthetic family its
    //     per-image constant shifts pixels and mean together, so its
    //     clusters collapse to dimension groups, q306's census) —
    //     the union of both edge sets closed under connected
    //     components, which is how a curation pipeline catches "same
    //     article, different stock photo" AND "same photo,
    //     paraphrased caption" as ONE cluster. Constructed corpus:
    //     each sampled doc gets a truncated-text variant (text edge
    //     only — fresh image seed) and an image twin (identical
    //     pixels, unique single-shingle text), so size-3+ components
    //     can only exist if BOTH modalities merged; every 300th doc
    //     shares one banner image, splicing many triples into one
    //     component. The oracle replays the Jaccard truth, the
    //     channel sums from the pixel formula, and the closure
    //     (recursive CTE) — the census hash-gates every edge of both
    //     modalities at once. ---
    "q317_crossmodal_dedup" -> { (spark, dir) =>
      val mm = graft.llm.Multimodal
      // per-doc token rename: the documents corpus carries intrinsic
      // near-copy families that would chain every page into one blob;
      // the rename bijection keeps each page's own structure (orig ↔
      // truncated variant still J ≥ 0.5) while zeroing cross-doc
      // Jaccard, so the only edges are the CONSTRUCTED ones and the
      // census discriminates
      val base = tbl(spark, dir, "documents")
        .filter(pmod(col("doc_id"), lit(20)) === 0)
        .select(col("doc_id"),
          array_join(transform(split(col("text"), "[ \t\n\f\r]+"),
            x => concat(lit("d"), col("doc_id").cast("string"),
              lit("x"), x)), " ").as("text"))
      def bannerSeed(id: Column) =
        when(pmod(id, lit(300)) === 0, lit(0L)).otherwise(id)
      val orig = base.select(col("doc_id").as("page_id"), col("text"),
        bannerSeed(col("doc_id")).as("seed"))
      val variant = base.select(
        (col("doc_id") + 1000000L).as("page_id"),
        col("text").substr(lit(1),
          greatest(length(col("text")) - 30, lit(1))).as("text"),
        (col("doc_id") + 1000000L).as("seed"))
      val twin = base.select((col("doc_id") + 2000000L).as("page_id"),
        concat(lit("twin"), (col("doc_id") + 2000000L).cast("string"))
          .as("text"),
        bannerSeed(col("doc_id")).as("seed"))
      val pages = orig.unionByName(variant).unionByName(twin)
        .localCheckpoint() // feeds the text branch AND the codec branch
      val textEdges = Dedup.prefixFilterJaccardPairs(
        pages.select(col("page_id").as("id"),
          TextAnalysis.shingleHashes(col("text"), 3).as("s")),
        threshold = 0.5)
        .select(col("id_a"), col("id_b"))
      val key = Seq("w", "h", "sr", "sg", "sb")
      val feats = mm.featurizeImagesBatched(
        mm.encodePngBatched(
          pages.select(col("page_id"), col("seed"))
            .withColumn("w",
              (lit(8) + pmod(col("seed"), lit(24))).cast("int"))
            .withColumn("h",
              (lit(8) + pmod(col("seed"), lit(16))).cast("int")),
          col("w"), col("h"), col("seed")),
        col("payload"))
        .select(col("page_id"), col("w"), col("h"),
          col("px.sum_r").as("sr"), col("px.sum_g").as("sg"),
          col("px.sum_b").as("sb"))
        .localCheckpoint() // two consumers; never re-run the codecs
      val gmin = feats.groupBy(key.map(col): _*)
        .agg(min(col("page_id")).as("root"))
      val imgEdges = feats.join(gmin, key)
        .filter(col("page_id") =!= col("root"))
        .select(col("root").as("id_a"), col("page_id").as("id_b"))
      Dedup.connectedComponents(textEdges.unionByName(imgEdges),
          col("id_a"), col("id_b"))
        .groupBy(col("comp")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .orderBy(col("cluster_size"))
    },


    // --- UNIMAX language-budget allocation (the UniMax sampler,
    //     Chung et al. 2023, closed form): split a byte budget
    //     B = 70% of the corpus across languages so no language
    //     repeats beyond E=1 epoch — small languages are CAPPED at
    //     their full size, the rest share the remainder evenly.
    //     Instead of the paper's sequential loop, the capped set is
    //     found in ONE window pass (languages ascending by size:
    //     capped_i ⇔ sz_i·(n−i+1) ≤ B − Σ_{j<i} sz_j, a prefix by
    //     water-filling monotonicity) and the even split uses the
    //     largest-remainder rule (floor share +1 for the first
    //     R mod L languages in rank order) so every byte of B is
    //     allocated in exact integers. No collect beyond the k-row
    //     census count that backs the LOUD bound: the language
    //     universe (ISO codes) is structurally tiny, but an oversized
    //     census must FAIL rather than silently water-fill an
    //     arbitrary plan-dependent subset (the r11-advice contract,
    //     now enforced here too — this was the last inline copy of
    //     the water-fill; the algebra lives in
    //     QueryShared.unimaxAllocFull). Uncapped languages always
    //     exist when B < total (all-capped would give
    //     Σ alloc = total ≤ B, a contradiction), so the R div L
    //     branch never divides by zero. ---
    "q323_unimax_alloc" -> rounded("epochs" -> 6)({ (spark, dir) =>
      val sizes = tbl(spark, dir, "documents")
        .groupBy(col("lang")).agg(sum(col("n_chars")).as("sz"))
      val nLangs = sizes.count()
      require(nLangs <= 10000,
        s"q323: language census has $nLangs languages, above the " +
          "10000 the allocation windows are bounded for — shard the " +
          "census (water-fill is associative over availability-" +
          "sorted shards)")
      QueryShared.unimaxAllocFull(sizes, "lang", "sz", "alloc_bytes",
          7, 10)
        .select(col("lang"), col("sz").as("n_bytes"), col("capped"),
          col("alloc_bytes"),
          (col("alloc_bytes").cast("double") /
            col("sz").cast("double")).as("epochs"))
        .orderBy(col("lang"))
    }),


    // --- WAND upper-bound skip census (Broder et al.'s document-
    //     at-a-time pruning, measured as a planner decision): for
    //     ten 2-term disjunctive queries over the English postings
    //     (term ranks 1..10 paired with 11..20 by document
    //     frequency), a candidate can be SKIPPED without scoring
    //     when the sum of its terms' per-term max-score upper
    //     bounds is below the top-10 threshold θ. The census
    //     reports exactly how much of each posting union the
    //     bounds eliminate — the decision that makes top-k
    //     retrieval over a 100 TB index read-bounded. The postings
    //     table shuffles ONCE (term,doc grain); the 20-term query
    //     table and every derived stat are broadcast back, so scan
    //     count stays O(1) regardless of corpus size; the rank
    //     window sits above a limit(20). English-only keeps the
    //     rank tie-break inside binary-safe ASCII in both engines. ---
    "q324_wand_bounds" -> rounded("skip_frac" -> 6)({ (spark, dir) =>
      val tf = tbl(spark, dir, "documents")
        .filter(col("lang") === "en")
        .select(col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("term"))
        .groupBy(col("term"), col("doc_id"))
        .agg(count(lit(1)).as("tf"))
        .localCheckpoint() // feeds rank + candidate passes once
      val ranks = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        .orderBy(col("df").desc, col("term").asc).limit(20)
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("df").desc, col("term").asc)))
      val qs = ranks.filter(col("rn") <= 10)
        .select(col("rn").cast("long").as("qid"), col("term").as("t1"))
        .join(ranks.filter(col("rn") > 10)
          .select((col("rn") - 10).cast("long").as("qid"),
            col("term").as("t2")), Seq("qid"))
      val qterms = qs.select(col("qid"), col("t1").as("term"))
        .unionByName(qs.select(col("qid"), col("t2").as("term")))
      val m = tf.join(broadcast(qterms), Seq("term"))
      val ub = m.groupBy(col("term")).agg(max(col("tf")).as("ub"))
      val cand = m.join(broadcast(ub), Seq("term"))
        .groupBy(col("qid"), col("doc_id"))
        .agg(sum(col("tf")).as("score"), sum(col("ub")).as("ubound"))
      val th = cand.withColumn("__rw", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
            .orderBy(col("score").desc, col("doc_id").asc)))
        .groupBy(col("qid"))
        .agg(min(when(col("__rw") <= 10, col("score"))).as("theta"),
          count(lit(1)).as("n_candidates"))
      cand.join(broadcast(th), Seq("qid"))
        .groupBy(col("qid"))
        .agg(max(col("theta")).as("theta"),
          max(col("n_candidates")).as("n_candidates"),
          sum(when(col("ubound") < col("theta"), 1L).otherwise(0L))
            .as("n_skippable"))
        .join(broadcast(qs), Seq("qid"))
        .select(col("qid"), col("t1"), col("t2"), col("n_candidates"),
          col("theta"), col("n_skippable"),
          (col("n_skippable").cast("double") /
            col("n_candidates").cast("double")).as("skip_frac"))
        .orderBy(col("qid"))
    }),


    // --- CONTAMINATION SPAN PROFILE (q78's doc-level flag, refined
    //     to token grain): per eval doc, the token count covered by
    //     train-shared 8-grams and the longest contiguous
    //     contaminated run — the "eval doc is 84% contained,
    //     longest verbatim run 212 tokens" release-review report.
    //     Train plants a truncated copy of every eval doc (id
    //     +2000000), so eval prefixes show long planted runs on top
    //     of the corpus's natural boilerplate overlap. The train
    //     corpus never shuffles (both joins broadcast the tiny eval
    //     side — see Contamination.spanProfile). frac is exact
    //     integer division, rounded 6 both sides. ---
    "q327_contamination_spans" -> rounded("frac" -> 6)({ (spark, dir) =>
      val docs = tbl(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
      val evalDocs = docs.filter(pmod(col("doc_id"), lit(37)) === 0)
      val train = docs.filter(pmod(col("doc_id"), lit(37)) =!= 0)
        .unionByName(evalDocs.select(
          (col("doc_id") + 2000000L).as("doc_id"),
          col("text").substr(lit(1),
            greatest(length(col("text")) - 25, lit(1))).as("text")))
      Contamination.spanProfile(train, col("text"),
          evalDocs, col("doc_id"), col("text"), n = 8)
        .withColumn("frac", when(col("n_tok") > 0,
          col("n_contaminated").cast("double") /
            col("n_tok").cast("double")).otherwise(lit(0.0)))
        .orderBy(col("id"))
    }),


    // --- PADDING-WASTE vs BATCH ORDER (the "sort by length before
    //     batching" decision, measured): ragged 32-doc batches are
    //     padded to their longest member, so arrival-order batching
    //     pays max-len for every short doc sharing a batch with a
    //     long one, while length-sorted batching packs near-equal
    //     lengths together. Both policies are simulated per hash
    //     shard in ONE pass each (row_number + batch-max windows,
    //     partitioned by shard — exactly how a 1000-executor
    //     pre-tokenize stage would bucket), and the census reports
    //     real vs padded token totals per policy. Utilization is an
    //     exact integer ratio; the gap IS the training-throughput
    //     argument for the sort. ---
    "q331_padding_order" -> rounded("utilization" -> 6)({
      (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = tbl(spark, dir, "documents").select(col("doc_id"),
        pmod(col("doc_id"), lit(8L)).as("shard"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("len"))
        .localCheckpoint() // two policy passes over one tokenization
      def policy(name: String, ord: Seq[Column]): DataFrame = {
        val w = Window.partitionBy(col("shard")).orderBy(ord: _*)
        docs.withColumn("__rn", row_number().over(w))
          .withColumn("bid", expr("(__rn - 1) div 32"))
          .groupBy(col("shard"), col("bid"))
          .agg(count(lit(1)).as("bn"), max(col("len")).as("mx"),
            sum(col("len")).as("real"))
          .groupBy()
          .agg(count(lit(1)).as("n_batches"),
            sum(col("real")).as("real_tokens"),
            sum(col("bn") * col("mx")).as("padded_tokens"))
          .withColumn("policy", lit(name))
      }
      policy("arrival", Seq(col("doc_id")))
        .unionByName(policy("length_sorted",
          Seq(col("len"), col("doc_id"))))
        .withColumn("utilization", col("real_tokens").cast("double") /
          col("padded_tokens").cast("double"))
        .select(col("policy"), col("n_batches"), col("real_tokens"),
          col("padded_tokens"), col("utilization"))
        .orderBy(col("policy"))
    }),


    // --- QUALITY-SELECTION FRONTIER (the quality-vs-quantity curve
    //     every data-selection decision reads): for nine keep
    //     thresholds over the q97 quality score, the docs and tokens
    //     retained, the token fraction, and the kept-score envelope.
    //     min/max are ORDER-INDEPENDENT selections (no double
    //     accumulation anywhere — the softsign score itself is exact
    //     IEEE in both engines, the q97 precedent), so the whole
    //     curve hash-matches. One scored scan fans out against nine
    //     broadcast thresholds; at 100 TB the frontier costs the
    //     same single pass the classifier already pays. ---
    "q334_selection_frontier" -> rounded("tok_frac" -> 6,
        "min_score" -> 6, "max_score" -> 6)({ (spark, dir) =>
      import spark.implicits._
      val base = graft.llm.QualityModel.classify(
          tbl(spark, dir, "documents"), col("text"))
        .select(col("doc_id"), col("score"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("ntok"))
      val thrs = Seq(0.30, 0.35, 0.40, 0.45, 0.50, 0.55, 0.60, 0.65,
        0.70).toDF("thr")
      val tot = base.agg(sum(col("ntok")).as("__tot"))
      base.crossJoin(broadcast(thrs)).crossJoin(broadcast(tot))
        .groupBy(col("thr"))
        .agg(sum(when(col("score") >= col("thr"), 1L).otherwise(0L))
            .as("n_docs"),
          coalesce(sum(when(col("score") >= col("thr"), col("ntok"))),
            lit(0L)).as("n_tokens"),
          min(when(col("score") >= col("thr"), col("score")))
            .as("min_score"),
          max(when(col("score") >= col("thr"), col("score")))
            .as("max_score"),
          max(col("__tot")).as("__tot"))
        .withColumn("tok_frac", col("n_tokens").cast("double") /
          col("__tot").cast("double"))
        .select(col("thr"), col("n_docs"), col("n_tokens"),
          col("tok_frac"), col("min_score"), col("max_score"))
        .orderBy(col("thr"))
    }),


    // --- GROUP-AWARE FOLD LEAKAGE (eval-split hygiene, measured):
    //     hashing ROWS into k=5 folds scatters almost every user
    //     across multiple folds (train/test leakage for any
    //     user-level signal), while hashing the GROUP key puts each
    //     user wholly in one fold by construction. Both assignments
    //     use the portable 48-bit md5 hash (the KMV idiom) so the
    //     census replays exactly; the leaky-user counts quantify
    //     what the naive split would contaminate. One scan, two
    //     small aggregates — split policy for a 100 TB corpus is
    //     decided from this table, not re-shuffled by trial. ---
    "q335_fold_leakage" -> { (spark, dir) =>
      val kmv = graft.operators.Kmv
      val ev = tbl(spark, dir, "events").select(
        pmod(kmv.h48(col("event_id")), lit(5L)).as("row_fold"),
        pmod(kmv.h48(col("user_id")), lit(5L)).as("group_fold"),
        col("user_id"))
        .localCheckpoint() // one hash pass feeds all three censuses
      val byRow = ev.groupBy(col("row_fold").as("fold"))
        .agg(count(lit(1)).as("rows_rowfold"),
          countDistinct(col("user_id")).as("users_rowfold"))
      val byGrp = ev.groupBy(col("group_fold").as("fold"))
        .agg(count(lit(1)).as("rows_groupfold"),
          countDistinct(col("user_id")).as("users_groupfold"))
      val leaks = ev.groupBy(col("user_id"))
        .agg(countDistinct(col("row_fold")).as("__nrf"),
          countDistinct(col("group_fold")).as("__ngf"))
        .agg(sum(when(col("__nrf") > 1, 1L).otherwise(0L))
            .as("leaky_users_rowfold"),
          sum(when(col("__ngf") > 1, 1L).otherwise(0L))
            .as("leaky_users_groupfold"))
      byRow.join(byGrp, Seq("fold"))
        .crossJoin(broadcast(leaks))
        .orderBy(col("fold"))
    },


    // --- EMBEDDING-DIMENSION TRUNCATION census (the "how many dims
    //     does retrieval actually need" decision — Matryoshka-style
    //     prefix truncation, measured): for prefix lengths 4/8/16/64
    //     over a deterministic pair sample, how far truncated cosine
    //     drifts from full cosine. min/max/threshold-count only (no
    //     double accumulation across rows); the cosine kernel is the
    //     same left-to-right fold DuckDB's double-list cosine
    //     computes, so every deviation is bit-identical and the
    //     census hash-matches. At 100 TB a 4× dim cut is 4× less
    //     index I/O — this table says what it costs in fidelity. ---
    "q337_dim_truncation" -> rounded("close_frac" -> 6,
        "min_dev" -> 6, "max_dev" -> 6)({ (spark, dir) =>
      import spark.implicits._
      val sim = graft.llm.Similarity
      val emb = tbl(spark, dir, "embeddings")
      val pairs = emb.filter(pmod(col("vec_id"), lit(2)) === 0)
        .select(col("vec_id").as("ida"), col("embedding").as("va"))
        .join(emb.select((col("vec_id") - 1).as("ida"),
          col("embedding").as("vb")), Seq("ida"))
      val ks = Seq(4, 8, 16, 64).toDF("k")
      pairs.withColumn("cf", sim.cosine(col("va"), col("vb")))
        .crossJoin(broadcast(ks))
        .withColumn("dev", abs(sim.cosine(
          slice(col("va"), lit(1), col("k")),
          slice(col("vb"), lit(1), col("k"))) - col("cf")))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("dev") <= 0.05, 1L).otherwise(0L))
            .as("n_close"),
          min(col("dev")).as("min_dev"), max(col("dev")).as("max_dev"))
        .withColumn("close_frac", col("n_close").cast("double") /
          col("n_pairs").cast("double"))
        .select(col("k"), col("n_pairs"), col("n_close"),
          col("close_frac"), col("min_dev"), col("max_dev"))
        .orderBy(col("k"))
    }),


    // --- DEDUP-THRESHOLD SENSITIVITY sweep (the Jaccard τ knob,
    //     measured end to end): the exact near-dup pairs are mined
    //     ONCE (df-capped inverted index, τ=0.5 floor), then each
    //     candidate threshold re-filters the pair set and closes it
    //     transitively — pairs, clusters, removable docs, and the
    //     kept fraction per τ. This is the "how aggressive is our
    //     dedup" table: at 100 TB the sweep costs three closures
    //     over an already-tiny pair set, never a second corpus
    //     scan. The pair set is STAGED (Staged.getOrBuild, keyed by
    //     corpus + mining params): q347 constructs the identical
    //     corpus and consumes the same pairs, so within one run the
    //     mining happens once, not three times (r10 verdict ask #2).
    "q342_dedup_threshold_sweep" -> rounded("keep_frac" -> 6)({
      (spark, dir) =>
      val docs = tbl(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
      val variants = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          col("text").substr(lit(1),
            greatest(length(col("text")) - 20, lit(1))).as("text"))
      val corpus = docs.unionByName(variants)
      // parquet-staged: serves the three tau sweeps AND q347
      val pairs = graft.operators.Staged.getOrBuild(spark,
        s"ngram_pairs::$dir::mod3_trunc20::sh3_t0.5_df16") {
        Dedup.ngramJaccardPairs(corpus, col("doc_id"),
          col("text"), shingleN = 3, threshold = 0.5, maxDf = 16)
      }
      val nd = corpus.agg(count(lit(1)).as("__nd"))
      def sweep(tau: Double): DataFrame = {
        val sel = pairs.filter(col("jaccard") >= tau)
          .select(col("id_a"), col("id_b"))
        val cl = Dedup.connectedComponents(sel, col("id_a"),
          col("id_b"))
        sel.agg(count(lit(1)).as("n_pairs"))
          .crossJoin(cl.agg(
            countDistinct(col("comp")).as("n_clusters"),
            (count(lit(1)) - countDistinct(col("comp")))
              .as("n_removable")))
          .withColumn("tau", lit(tau))
      }
      sweep(0.5).unionByName(sweep(0.7)).unionByName(sweep(0.9))
        .crossJoin(broadcast(nd))
        .withColumn("keep_frac",
          (col("__nd") - col("n_removable")).cast("double") /
            col("__nd").cast("double"))
        .select(col("tau"), col("n_pairs"), col("n_clusters"),
          col("n_removable"), col("keep_frac"))
        .orderBy(col("tau"))
    }),


    // --- CROSS-SOURCE DUPLICATION census ("which sources copy each
    //     other" — the input to mixture weighting and crawl
    //     dedup-ordering): exact near-dup pairs are attributed to
    //     their (source_a, source_b) pair; a planted mirror (every
    //     4th doc re-published under mirror_<source>) shows up as
    //     the cross-source block, the corpus's natural near-copies
    //     as the within-source diagonal. One pair-mining pass (the
    //     df-capped inverted index), one broadcast source map — the
    //     census never rescans text. ---
    "q343_cross_source_dups" -> rounded("cross_frac" -> 6)({
      (spark, dir) =>
      val docs = tbl(spark, dir, "documents")
        .select(col("doc_id"), col("text"), col("source"))
      val variants = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          col("text").substr(lit(1),
            greatest(length(col("text")) - 15, lit(1))).as("text"),
          concat(lit("mirror_"), col("source")).as("source"))
      val corpus = docs.unionByName(variants)
        .localCheckpoint() // feeds pair mining AND the source map
      val pairs = graft.operators.Staged.getOrBuild(spark,
          s"ngram_pairs::$dir::mod4_trunc15_mirror::sh3_t0.5_df16") {
        Dedup.ngramJaccardPairs(corpus, col("doc_id"),
          col("text"), shingleN = 3, threshold = 0.5, maxDf = 16)
      }.select(col("id_a"), col("id_b"))
      val srcs = corpus.select(col("doc_id"), col("source"))
      val attributed = pairs
        .join(broadcast(srcs.select(col("doc_id").as("id_a"),
          col("source").as("__sa"))), Seq("id_a"))
        .join(broadcast(srcs.select(col("doc_id").as("id_b"),
          col("source").as("__sb"))), Seq("id_b"))
        .select(least(col("__sa"), col("__sb")).as("source_a"),
          greatest(col("__sa"), col("__sb")).as("source_b"))
      val tot = attributed.agg(count(lit(1)).as("__tot"),
        sum(when(col("source_a") =!= col("source_b"), 1L)
          .otherwise(0L)).as("__cross"))
      attributed.groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .crossJoin(broadcast(tot))
        .withColumn("cross_source", col("source_a") =!= col("source_b"))
        .withColumn("cross_frac", col("__cross").cast("double") /
          col("__tot").cast("double"))
        .select(col("source_a"), col("source_b"), col("n_pairs"),
          col("cross_source"), col("__tot").as("total_pairs"),
          col("cross_frac"))
        .orderBy(col("source_a"), col("source_b"))
    }),


    // --- QUALITY-AWARE DEDUP KEEPER selection (min-id keeps
    //     WHATEVER arrived first; a curation pipeline should keep
    //     the BEST copy): near-dup clusters are closed once, then
    //     two keeper policies are compared per cluster — lowest id
    //     vs highest q97 quality score (tie: lowest id, as a
    //     max(struct(score, -id)) single aggregate). The truncated
    //     variants score below their originals, so the policies
    //     genuinely diverge and `differs` marks every cluster where
    //     quality-keeping changes the corpus. Scores are the exact
    //     IEEE softsign both engines compute; the argmax is
    //     order-independent. ---
    "q347_dedup_keeper_policy" -> { (spark, dir) =>
      val docs = tbl(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
      val variants = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          col("text").substr(lit(1),
            greatest(length(col("text")) - 20, lit(1))).as("text"))
      val corpus = docs.unionByName(variants)
        .localCheckpoint() // feeds pair mining AND scoring
      // same corpus + params as q342 — the staged pair set is shared
      val pairs = graft.operators.Staged.getOrBuild(spark,
          s"ngram_pairs::$dir::mod3_trunc20::sh3_t0.5_df16") {
        Dedup.ngramJaccardPairs(corpus, col("doc_id"),
          col("text"), shingleN = 3, threshold = 0.5, maxDf = 16)
      }.select(col("id_a"), col("id_b"))
      // the CLOSURE is as shareable as the pairs: q347/q354/q356/q372
      // all need the same components, so it stages once too
      val comps = graft.operators.Staged.getOrBuild(spark,
          s"ngram_cc::$dir::mod3_trunc20::sh3_t0.5_df16") {
        Dedup.connectedComponents(pairs, col("id_a"), col("id_b"))
      }
      val scored = graft.llm.QualityModel.classify(corpus, col("text"))
        .select(col("doc_id").as("id"), col("score"))
      comps.join(broadcast(scored), Seq("id"))
        .groupBy(col("comp"))
        .agg(count(lit(1)).as("cluster_size"),
          min(col("id")).as("keeper_minid"),
          (-max(struct(col("score"), (-col("id")).as("__nid")))
            .getField("__nid")).as("keeper_quality"))
        .withColumn("differs",
          col("keeper_minid") =!= col("keeper_quality"))
        .select(col("comp"), col("cluster_size"), col("keeper_minid"),
          col("keeper_quality"), col("differs"))
        .orderBy(col("comp"))
    },


    // --- BATCH SOURCE-MIXING audit, loader order vs shuffle (a
    //     gradient step over a batch dominated by one source is a
    //     biased step): the FILE-ORDERED loader (docs arrive grouped
    //     by source, the default when reading a per-source layout)
    //     produces almost entirely single-source-dominated batches,
    //     while hash-shuffled batching spreads every batch across
    //     sources — this census batches the corpus both ways (32-doc
    //     ragged batches per hash shard, the q331 shape) and reports
    //     per policy the dominated-batch fraction and the
    //     source-diversity envelope. One scan per policy, windows
    //     partitioned by shard. ---
    "q349_batch_mixing" -> rounded("dominated_frac" -> 6)({
      (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val kmv = graft.operators.Kmv
      val docs = tbl(spark, dir, "documents").select(col("doc_id"),
        pmod(col("doc_id"), lit(8L)).as("shard"), col("source"),
        kmv.h48(col("doc_id")).as("h"))
        .localCheckpoint() // one hash pass feeds both policies
      def policy(name: String, ord: Seq[Column]): DataFrame = {
        val w = Window.partitionBy(col("shard")).orderBy(ord: _*)
        docs.withColumn("__rn", row_number().over(w))
          .withColumn("bid", expr("(__rn - 1) div 8"))
          .groupBy(col("shard"), col("bid"), col("source"))
          .agg(count(lit(1)).as("__c"))
          .groupBy(col("shard"), col("bid"))
          .agg(count(lit(1)).as("__ns"), max(col("__c")).as("__top"),
            sum(col("__c")).as("__n"))
          .groupBy()
          .agg(count(lit(1)).as("n_batches"),
            sum(when(col("__top") * 2 > col("__n"), 1L).otherwise(0L))
              .as("n_dominated"),
            min(col("__ns")).as("min_sources"),
            max(col("__ns")).as("max_sources"))
          .withColumn("policy", lit(name))
      }
      policy("file_ordered", Seq(col("source"), col("doc_id")))
        .unionByName(policy("shuffled", Seq(col("h"), col("doc_id"))))
        .withColumn("dominated_frac",
          col("n_dominated").cast("double") /
            col("n_batches").cast("double"))
        .select(col("policy"), col("n_batches"), col("n_dominated"),
          col("dominated_frac"), col("min_sources"),
          col("max_sources"))
        .orderBy(col("policy"))
    }),


    // --- EXECUTABLE UniMax mixture sampling (round 11 — q323's
    //     allocation, RUN): the water-filled doc-count budget per
    //     SOURCE (B = 60% of the corpus, small sources capped at
    //     availability, the rest sharing the remainder by largest-
    //     remainder — q323's closed form on the k-row source census)
    //     is executed by a DETERMINISTIC md5-ranked selection per
    //     source. Ranks come from the Sharding bucket-offset trick
    //     (per-(source, 2-hex-prefix) windows + a 256-row triangular
    //     prefix join), never a per-source single-task window, so the
    //     selection scales to any source size. Output pins the EXACT
    //     sampled corpus: per source, availability, allocation,
    //     realized count, and an order-independent id checksum of the
    //     selected set — the reproducible-training-mix contract. ---
    "q352_mixture_sample" -> { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = tbl(spark, dir, "documents")
        .select(col("doc_id"), col("source"))
      val sizes = docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"))
      // LOUD census bound (r11 advice): the allocation windows are
      // global over the source census, so the census must be small —
      // but a silent limit would water-fill an arbitrary plan-dependent
      // subset of an oversized census and diverge from the oracle
      // nondeterministically. Count it (k rows, one tiny job) and fail
      // with the shard-the-census remedy instead; unimaxAlloc's limit
      // is then a no-op that keeps the plan audit's window bound
      // explicit.
      val nSources = sizes.count()
      require(nSources <= 10000,
        s"q352: source census has $nSources sources, above the 10000 " +
          "the allocation windows are bounded for — shard the census " +
          "(water-fill is associative over availability-sorted shards)")
      val alloc = unimaxAlloc(sizes, "n_docs", "alloc_docs", 6, 10)
        .localCheckpoint() // tiny; feeds selection AND the output join
      val based = docs
        .withColumn("h", md5(concat(lit("mix1:"),
          col("doc_id").cast("string")).cast("binary")))
        .withColumn("__bk", substring(col("h"), 1, 2))
      val selected = bucketedRank(based, Seq("source"), "__bk",
          Seq("h", "doc_id"), "__rk")
        .join(broadcast(alloc.select(col("source"),
          col("alloc_docs"))), Seq("source"))
        .filter(col("__rk") <= col("alloc_docs"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("__nsel"),
          sum(col("doc_id")).as("__csum"))
      alloc.join(selected, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("alloc_docs"),
          coalesce(col("__nsel"), lit(0L)).as("n_selected"),
          coalesce(col("__csum"), lit(0L)).as("sel_checksum"))
        .orderBy(col("source"))
    },


    // --- CONTEXT-WINDOW PACKING census (round 11 — the GPT-style
    //     "concatenate and cut every L tokens" batch-prep): docs in
    //     pinned doc_id order lie head-to-tail on the token axis;
    //     chunk c owns tokens [c·L, (c+1)·L). Per chunk: docs
    //     present, docs STARTING there (the rest are boundary
    //     continuations — the attention-masking cost axis), and the
    //     chunk's token fill (L everywhere but the tail). Prefix
    //     sums come from max-id-scaled range buckets + a 256-row
    //     triangular offset join + per-bucket windows — no global
    //     window, and the per-doc explode emits one row per chunk
    //     the doc TOUCHES (≤ len/L + 1), so total rows stay ∝
    //     tokens/L. Exact integers end to end. ---
    "q353_context_packing" -> { (spark, dir) =>
      val L = 512L
      val pk = graft.operators.Packing
      val docs = tbl(spark, dir, "documents")
        .select(col("doc_id"),
          size(TextAnalysis.tokens(col("text"))).cast("long")
            .as("n_tok"))
      val spans = pk.spans(docs, col("doc_id"), col("n_tok"))
        .localCheckpoint() // feeds the census AND the total
      val tot = spans.agg((max(col("e")) + 1).as("__t"))
      pk.withFill(pk.chunkCensus(spans, L).crossJoin(broadcast(tot)),
          L, col("__t"))
        .select(col("chunk"), col("n_docs"), col("n_starts"),
          col("n_tokens"))
        .orderBy(col("chunk"))
    },


    // --- INCREMENTAL context packing (q353's fold twin): history is
    //     packed once; its chunk census + token total persist as the
    //     STAGED manifest. A new batch (ids above all history ids)
    //     packs AFTER the persisted total — per-chunk doc counts are
    //     additive over disjoint doc sets, so history census ∪
    //     offset-batch census, one groupBy-sum (the boundary chunk
    //     folds), EQUALS the full rebuild exactly. The oracle IS the
    //     rebuild over the two-part corpus: the hash match proves
    //     incremental ≡ batch at chunk grain — history text is never
    //     re-tokenized (the q320/q351 fold theorem, third artifact
    //     family). ---
    "q355_incremental_packing" -> { (spark, dir) =>
      val L = 512L
      val pk = graft.operators.Packing
      val docs = tbl(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
      def toks(c: Column) =
        size(TextAnalysis.tokens(c)).cast("long")
      // staged history manifest: chunk census + total, built once
      val histCensus = graft.operators.Staged.getOrBuild(spark,
          s"pack_census::$dir::docs_L512") {
        val sp = pk.spans(
          docs.select(col("doc_id"), toks(col("text")).as("n_tok")),
          col("doc_id"), col("n_tok")).localCheckpoint()
        pk.chunkCensus(sp, L)
          .crossJoin(broadcast(sp.agg((max(col("e")) + 1).as("__t"))))
      }
      // manifest-derived scalar, a bounded single-row pull
      val histT = histCensus.agg(max(col("__t"))).collect()(0)
        .getLong(0)
      val fresh = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          col("text").substr(lit(1),
            greatest(length(col("text")) - 25, lit(1))).as("text"))
      val freshSpans = pk.spans(
          fresh.select(col("doc_id"), toks(col("text")).as("n_tok")),
          col("doc_id"), col("n_tok"), baseOffset = histT)
        .localCheckpoint() // feeds the census AND the new total
      val merged = histCensus
        .select(col("chunk"), col("n_docs"), col("n_starts"))
        .unionByName(pk.chunkCensus(freshSpans, L))
        .groupBy(col("chunk"))
        .agg(sum(col("n_docs")).as("n_docs"),
          sum(col("n_starts")).as("n_starts"))
      val tot = freshSpans.agg(
        coalesce(max(col("e")) + 1, lit(histT)).as("__t"))
      pk.withFill(merged.crossJoin(broadcast(tot)), L, col("__t"))
        .select(col("chunk"), col("n_docs"), col("n_starts"),
          col("n_tokens"))
        .orderBy(col("chunk"))
    },


    // --- LEAKAGE-SAFE train/val split (round 11): near-dup
    //     CLUSTERS are the split unit — a doc-level split routinely
    //     puts a train doc's near-copy in val (memorized text leaks
    //     into eval); a cluster-keyed split cannot. Both policies
    //     run over the SAME corpus and the SAME staged pair set
    //     (q342's key — the mining is free within a run): split =
    //     md5 of the cluster id vs of the doc id (80/20 via the
    //     first hex byte < 205), and the census reports per policy
    //     the train/val sizes and the LEAKED near-dup pair count —
    //     0 by construction for the cluster split, the measured
    //     contamination for the naive one. All integers; the oracle
    //     replays pairs + closure + both hash splits. ---
    "q354_leakage_split" -> { (spark, dir) =>
      val docs = tbl(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
      val variants = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          col("text").substr(lit(1),
            greatest(length(col("text")) - 20, lit(1))).as("text"))
      val corpus = docs.unionByName(variants)
      val pairs = graft.operators.Staged.getOrBuild(spark,
          s"ngram_pairs::$dir::mod3_trunc20::sh3_t0.5_df16") {
        Dedup.ngramJaccardPairs(corpus, col("doc_id"),
          col("text"), shingleN = 3, threshold = 0.5, maxDf = 16)
      }.select(col("id_a"), col("id_b"))
      // the CLOSURE is as shareable as the pairs: q347/q354/q356/q372
      // all need the same components, so it stages once too
      val comps = graft.operators.Staged.getOrBuild(spark,
          s"ngram_cc::$dir::mod3_trunc20::sh3_t0.5_df16") {
        Dedup.connectedComponents(pairs, col("id_a"), col("id_b"))
      }
      val assigned = corpus.select(col("doc_id"))
        .join(comps.select(col("id").as("doc_id"), col("comp")),
          Seq("doc_id"), "left")
        .withColumn("cluster", coalesce(col("comp"), col("doc_id")))
      def isTrain(c: Column): Column =
        conv(substring(md5(concat(lit("split1:"),
          c.cast("string")).cast("binary")), 1, 2), 16, 10)
          .cast("int") < 205
      def census(name: String, keyed: DataFrame): DataFrame = {
        val sizes = keyed.agg(
          sum(when(col("train"), 1L).otherwise(0L)).as("n_train"),
          sum(when(!col("train"), 1L).otherwise(0L)).as("n_val"))
        val leaks = pairs
          .join(keyed.select(col("doc_id").as("id_a"),
            col("train").as("__ta")), Seq("id_a"))
          .join(keyed.select(col("doc_id").as("id_b"),
            col("train").as("__tb")), Seq("id_b"))
          .agg(count(lit(1)).as("n_pairs"),
            sum(when(col("__ta") =!= col("__tb"), 1L)
              .otherwise(0L)).as("n_leaked"))
        sizes.crossJoin(leaks).withColumn("policy", lit(name))
      }
      census("cluster_split", assigned.select(col("doc_id"),
          isTrain(col("cluster")).as("train")))
        .unionByName(census("doc_split", assigned.select(col("doc_id"),
          isTrain(col("doc_id")).as("train"))))
        .select(col("policy"), col("n_train"), col("n_val"),
          col("n_pairs"), col("n_leaked"))
        .orderBy(col("policy"))
    },


    // --- THREE-WAY SPLIT + CLUSTER-WISE DECONTAMINATION (round 12 —
    //     q354 extended to the full leakage story): train/val/test
    //     (~80/10/10 by md5 hex byte) keyed by near-dup CLUSTER, with
    //     benchmark-n-gram decontamination applied CLUSTER-wise (a
    //     contaminated doc drops its whole near-dup cluster), vs the
    //     naive pipeline (doc-keyed split, doc-wise decon). The eval
    //     set is the LAST-8-token gram of every 97th doc — tail grams
    //     die under the corpus's end-truncated variants, so clean
    //     near-dups of contaminated docs EXIST by construction (the
    //     q295 never-fires lesson) and the naive policy's residual
    //     leak is measurable: contam_neighbors_left counts surviving
    //     near-dup partners of contaminated docs (0 for the cluster
    //     policy — a dropped doc takes its cluster), dup_leak_pairs
    //     counts surviving near-dup pairs straddling splits (0 for
    //     the cluster policy — split is constant per cluster). Rides
    //     q354/q342's staged pair set; all integers. ---
    "q356_threeway_decon" -> { (spark, dir) =>
      val docs = tbl(spark, dir, "documents")
        .select(col("doc_id"), col("text"))
      val variants = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          col("text").substr(lit(1),
            greatest(length(col("text")) - 20, lit(1))).as("text"))
      val corpus = docs.unionByName(variants)
      val pairs = graft.operators.Staged.getOrBuild(spark,
          s"ngram_pairs::$dir::mod3_trunc20::sh3_t0.5_df16") {
        Dedup.ngramJaccardPairs(corpus, col("doc_id"),
          col("text"), shingleN = 3, threshold = 0.5, maxDf = 16)
      }.select(col("id_a"), col("id_b"))
      // the CLOSURE is as shareable as the pairs: q347/q354/q356/q372
      // all need the same components, so it stages once too
      val comps = graft.operators.Staged.getOrBuild(spark,
          s"ngram_cc::$dir::mod3_trunc20::sh3_t0.5_df16") {
        Dedup.connectedComponents(pairs, col("id_a"), col("id_b"))
      }
      val assigned = corpus.select(col("doc_id"))
        .join(comps.select(col("id").as("doc_id"), col("comp")),
          Seq("doc_id"), "left")
        .withColumn("cluster", coalesce(col("comp"), col("doc_id")))
      val toks = TextAnalysis.tokens(col("text"))
      val evalSet = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
        .select(array_join(
          when(size(toks) >= 8, slice(toks, size(toks) - 7, lit(8)))
            .otherwise(toks), " ").as("etext"))
      val contaminated = Contamination.sharedGrams(corpus,
          col("doc_id"), col("text"), evalSet, col("etext"), n = 8)
        .select(col("id").as("doc_id"), lit(true).as("__c"))
      val marked = assigned.join(contaminated, Seq("doc_id"), "left")
        .withColumn("contam", coalesce(col("__c"), lit(false)))
        .select(col("doc_id"), col("cluster"), col("contam"))
      val contamClusters = marked.filter(col("contam"))
        .select(col("cluster")).distinct()
        .withColumn("__cc", lit(true))
      def hexVal(c: Column): Column =
        conv(substring(md5(concat(lit("split3:"),
          c.cast("string")).cast("binary")), 1, 2), 16, 10)
          .cast("int")
      def splitOf(key: Column): Column = {
        val v = hexVal(key)
        when(v < 205, "train").when(v < 230, "val").otherwise("test")
      }
      val clusterPolicy = marked
        .join(broadcast(contamClusters), Seq("cluster"), "left")
        .withColumn("drp", coalesce(col("__cc"), lit(false)))
        .withColumn("sp", splitOf(col("cluster")))
      val docPolicy = marked
        .withColumn("drp", col("contam"))
        .withColumn("sp", splitOf(col("doc_id")))
      def census(name: String, frame: DataFrame): DataFrame = {
        val f = frame.select(col("doc_id"), col("contam"),
          col("drp"), col("sp")).localCheckpoint()
        val sizes = f.agg(
          sum(when(!col("drp") && col("sp") === "train", 1L)
            .otherwise(0L)).as("n_train"),
          sum(when(!col("drp") && col("sp") === "val", 1L)
            .otherwise(0L)).as("n_val"),
          sum(when(!col("drp") && col("sp") === "test", 1L)
            .otherwise(0L)).as("n_test"),
          sum(when(col("drp"), 1L).otherwise(0L)).as("n_dropped"),
          sum(when(!col("drp") && col("contam"), 1L).otherwise(0L))
            .as("n_contam_left"))
        val j = pairs
          .join(f.select(col("doc_id").as("id_a"),
            col("contam").as("__ca"), col("drp").as("__da"),
            col("sp").as("__pa")), Seq("id_a"))
          .join(f.select(col("doc_id").as("id_b"),
            col("contam").as("__cb"), col("drp").as("__db"),
            col("sp").as("__pb")), Seq("id_b"))
        val pm = j.agg(
          coalesce(sum(when(!col("__da") && !col("__db") &&
              col("__pa") =!= col("__pb"), 1L).otherwise(0L)),
            lit(0L)).as("dup_leak_pairs"),
          coalesce(sum(
            when(col("__ca") && !col("__db"), 1L).otherwise(0L) +
              when(col("__cb") && !col("__da"), 1L).otherwise(0L)),
            lit(0L)).as("contam_neighbors_left"))
        sizes.crossJoin(pm).withColumn("policy", lit(name))
      }
      census("cluster_policy", clusterPolicy)
        .unionByName(census("doc_policy", docPolicy))
        .select(col("policy"), col("n_train"), col("n_val"),
          col("n_test"), col("n_dropped"), col("n_contam_left"),
          col("dup_leak_pairs"), col("contam_neighbors_left"))
        .orderBy(col("policy"))
    },


    // --- QUALITY-WEIGHTED EPOCH UPSAMPLING (round 12): the
    //     "repeat your best data" recipe — docs rank into quartiles
    //     by an exact integer quality score (distinct-token count,
    //     ties by doc_id) and get quartile-many training epochs
    //     (top quartile 4, bottom 1); the materialized (doc, epoch)
    //     stream is censused per epoch index with id checksums
    //     pinning the exact repeated corpus. The global rank uses
    //     score-keyed buckets + the triangular offset join + a
    //     per-score window (the q212 shape — scores are the bucket
    //     axis, so no global window at any corpus size); the explode
    //     emits ≤ 4 rows/doc. Exact integers end to end. ---
    "q359_quality_upsample" -> { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = tbl(spark, dir, "documents")
        .select(col("doc_id"),
          size(array_distinct(TextAnalysis.tokens(col("text"))))
            .cast("long").as("score"),
          size(TextAnalysis.tokens(col("text"))).cast("long")
            .as("n_tok"))
      val tot = docs.agg(count(lit(1)).as("__n"))
      bucketedRank(docs, Seq.empty, "score", Seq("doc_id"), "__rn")
        .crossJoin(broadcast(tot))
        .withColumn("__quart", // div, NOT "/": Spark / on longs is
          expr("((__rn - 1) * 4) div __n") + 1) // double division

        .withColumn("epoch",
          explode(sequence(lit(1L), col("__quart"))))
        .groupBy(col("epoch"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("tok_sum"),
          sum(col("doc_id")).as("id_checksum"))
        .orderBy(col("epoch"))
    },


    // --- MIXTURE-OVER-FOLD (round 12): nightly mixture re-allocation
    //     without a corpus re-scan — the history's per-source TOKEN
    //     census is a STAGED manifest (additive: per-source sums); a
    //     fresh batch contributes only its own census, one
    //     groupBy-sum folds them, and the q357 water-fill re-runs on
    //     the merged census (QueryShared.unimaxAlloc — the shared
    //     algebra). The oracle IS the full rebuild over history ∪
    //     batch: the hash match proves fold ≡ rebuild for the
    //     allocation layer (the q320/q351/q355 fold theorem, fourth
    //     artifact family — history text never re-tokenized). ---
    "q362_mixture_fold" -> { (spark, dir) =>
      def toks(c: Column) =
        size(TextAnalysis.tokens(c)).cast("long")
      val docs = tbl(spark, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      val hist = graft.operators.Staged.getOrBuild(spark,
          s"tok_census::$dir::base") {
        docs.groupBy(col("source"))
          .agg(sum(toks(col("text"))).as("sz_tok"))
      }
      val freshCensus = docs
        .filter(pmod(col("doc_id"), lit(5)) === 0)
        .select(col("source"),
          col("text").substr(lit(1),
            greatest(length(col("text")) - 15, lit(1))).as("text"))
        .groupBy(col("source"))
        .agg(sum(toks(col("text"))).as("sz_tok"))
      val merged = hist.unionByName(freshCensus)
        .groupBy(col("source"))
        .agg(sum(col("sz_tok")).as("sz_tok"))
      val nSources = merged.count()
      require(nSources <= 10000,
        s"q362: source census has $nSources sources, above the 10000 " +
          "the allocation windows are bounded for — shard the census")
      unimaxAlloc(merged, "sz_tok", "alloc_tok", 6, 10)
        .orderBy(col("source"))
    },


    // --- PADDING-WASTE CENSUS (round 12): the batching-efficiency
    //     contrast — fixed-size batches (B=32) padded to their max
    //     sequence length, built two ways over the same corpus:
    //     LENGTH-GROUPED order (n_tok, doc_id) vs naive ARRIVAL
    //     order (doc_id). Output per policy: batches, real tokens,
    //     padded slots, and the waste the sorted policy saves — the
    //     number a batching-efficiency review reads. Both global
    //     ranks are bucket-decomposed (length-keyed buckets for the
    //     sorted policy; Packing.rankCuts id-ranges for the arrival
    //     policy) + triangular offsets + partitioned windows — no
    //     global window. Exact integers. ---
    "q361_padding_census" -> { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val B = 32
      val docs = tbl(spark, dir, "documents")
        .select(col("doc_id"),
          size(TextAnalysis.tokens(col("text"))).cast("long")
            .as("n_tok"))
        .filter(col("n_tok") > 0)
      def censusOf(name: String, ranked: DataFrame): DataFrame =
        ranked
          .withColumn("__batch", expr(s"(rk - 1) div $B"))
          .groupBy(col("__batch"))
          .agg(count(lit(1)).as("__bn"), max(col("n_tok")).as("__mx"),
            sum(col("n_tok")).as("__sm"))
          .agg(count(lit(1)).as("n_batches"),
            sum(col("__sm")).as("token_sum"),
            sum(col("__bn") * col("__mx")).as("padded_sum"))
          .select(lit(name).as("policy"), col("n_batches"),
            col("token_sum"), col("padded_sum"),
            (col("padded_sum") - col("token_sum")).as("waste"))
      // length-grouped: bucket axis = the length itself
      val lcen = docs.groupBy(col("n_tok"))
        .agg(count(lit(1)).as("__c"))
      val loffs = lcen
        .join(lcen.select(col("n_tok").as("__t2"),
            col("__c").as("__c2")),
          col("__t2") < col("n_tok"), "left")
        .groupBy(col("n_tok"))
        .agg(coalesce(sum(col("__c2")), lit(0L)).as("__off"))
      val lw = Window.partitionBy(col("n_tok")).orderBy(col("doc_id"))
      val sortedRank = docs.join(loffs, Seq("n_tok"))
        .withColumn("rk", col("__off") + row_number().over(lw))
      // arrival order: bucket axis = rank-spaced id ranges
      val cuts = graft.operators.Packing.rankCuts(
        docs.select(col("doc_id"), col("n_tok")))
      val bucketed = docs.withColumn("__bk",
        size(filter(lit(cuts.toArray), c => c <= col("doc_id"))))
      val acen = bucketed.groupBy(col("__bk"))
        .agg(count(lit(1)).as("__c"))
      val aoffs = acen
        .join(acen.select(col("__bk").as("__b2"),
            col("__c").as("__c2")),
          col("__b2") < col("__bk"), "left")
        .groupBy(col("__bk"))
        .agg(coalesce(sum(col("__c2")), lit(0L)).as("__off"))
      val aw = Window.partitionBy(col("__bk")).orderBy(col("doc_id"))
      val arrivalRank = bucketed.join(aoffs, Seq("__bk"))
        .withColumn("rk", col("__off") + row_number().over(aw))
      censusOf("length_grouped", sortedRank)
        .unionByName(censusOf("arrival_order", arrivalRank))
        .orderBy(col("policy"))
    },


    // --- DETERMINISTIC EPOCH SHUFFLE (round 12): reproducible
    //     training-data ORDER — each epoch of the q359 upsampled
    //     corpus is shuffled by an epoch-seeded md5 key, and the
    //     resulting global per-epoch rank is PINNED by exact
    //     order-sensitive checksums (sum of rank·doc_id, plus the
    //     first/last doc at the rank ends), so a re-run — or another
    //     engine — must reproduce the byte-exact batch order, not
    //     just the same multiset. Ranks come from per-(epoch,
    //     hash-prefix) windows + the 256-row triangular offset join
    //     (the q352 selection shape) — no global window. ---
    "q360_epoch_shuffle" -> { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = tbl(spark, dir, "documents")
        .select(col("doc_id"),
          size(array_distinct(TextAnalysis.tokens(col("text"))))
            .cast("long").as("score"))
      val tot = docs.agg(count(lit(1)).as("__n"))
      val repeated = bucketedRank(docs, Seq.empty, "score",
          Seq("doc_id"), "__rn")
        .crossJoin(broadcast(tot))
        .withColumn("__quart", expr("((__rn - 1) * 4) div __n") + 1)
        .withColumn("epoch",
          explode(sequence(lit(1L), col("__quart"))))
        .select(col("doc_id"), col("epoch"))
      val keyed = repeated
        .withColumn("h", md5(concat(lit("ep"),
          col("epoch").cast("string"), lit(":"),
          col("doc_id").cast("string")).cast("binary")))
        .withColumn("__bk", substring(col("h"), 1, 2))
      bucketedRank(keyed, Seq("epoch"), "__bk", Seq("h", "doc_id"),
          "rk")
        .groupBy(col("epoch"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("rk") * col("doc_id")).as("order_checksum"),
          max(when(col("rk") === 1, col("doc_id"))).as("first_doc"),
          max(struct(col("rk"), col("doc_id")))("doc_id")
            .as("last_doc"))
        .orderBy(col("epoch"))
    },


    // --- TOKEN-BUDGET UniMax mixture (round 12 — q352's doc-count
    //     water-fill re-run on TOKEN sums, the unit production
    //     mixtures actually pin): B = 60% of total corpus TOKENS;
    //     sources whose token mass fits the fair share are taken
    //     whole, the rest split the remainder by largest-remainder
    //     on integer tokens. Selection is the greedy md5-ranked
    //     PREFIX under each source's token budget — per-(source,
    //     hash-prefix) running token sums + the 256-row triangular
    //     offset join, never a per-source single-task window. Output
    //     pins availability, allocation, realized docs AND tokens,
    //     and the order-independent id checksum of the selected set.
    //     Exact integers end to end. ---
    "q357_token_mixture" -> { (spark, dir) =>
      import org.apache.spark.sql.expressions.Window
      val docs = tbl(spark, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(TextAnalysis.tokens(col("text"))).cast("long")
            .as("n_tok"))
      val sizes = docs.groupBy(col("source"))
        .agg(sum(col("n_tok")).as("sz_tok"))
      // the q352 census bound, same remedy (water-fill is associative
      // over availability-sorted shards)
      val nSources = sizes.count()
      require(nSources <= 10000,
        s"q357: source census has $nSources sources, above the 10000 " +
          "the allocation windows are bounded for — shard the census")
      val alloc = unimaxAlloc(sizes, "sz_tok", "alloc_tok", 6, 10)
        .localCheckpoint() // tiny; feeds selection AND the output join
      val based = docs
        .withColumn("h", md5(concat(lit("mix2:"),
          col("doc_id").cast("string")).cast("binary")))
        .withColumn("__bk", substring(col("h"), 1, 2))
      val census = based.groupBy(col("source"), col("__bk"))
        .agg(sum(col("n_tok")).as("__c"))
      val offs = census
        .join(census.select(col("source").as("__s2"),
            col("__bk").as("__b2"), col("__c").as("__c2")),
          col("__s2") === col("source") && col("__b2") < col("__bk"),
          "left")
        .groupBy(col("source"), col("__bk"))
        .agg(coalesce(sum(col("__c2")), lit(0L)).as("__off"))
      val iw = Window.partitionBy(col("source"), col("__bk"))
        .orderBy(col("h"), col("doc_id"))
      val selected = based.join(offs, Seq("source", "__bk"))
        .withColumn("__ctok", col("__off") + sum(col("n_tok")).over(
          iw.rowsBetween(Window.unboundedPreceding, 0)))
        .join(broadcast(alloc.select(col("source"),
          col("alloc_tok"))), Seq("source"))
        .filter(col("__ctok") <= col("alloc_tok"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("__nsel"),
          sum(col("n_tok")).as("__tsel"),
          sum(col("doc_id")).as("__csum"))
      alloc.join(selected, Seq("source"), "left")
        .select(col("source"), col("sz_tok"), col("alloc_tok"),
          coalesce(col("__nsel"), lit(0L)).as("n_selected"),
          coalesce(col("__tsel"), lit(0L)).as("tok_selected"),
          coalesce(col("__csum"), lit(0L)).as("sel_checksum"))
        .orderBy(col("source"))
    }
  )

  def oracleSql: Map[String, String] = Map(

    "q352_mixture_sample" -> """
      WITH d AS (SELECT doc_id, source FROM documents),
      s AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
            FROM d GROUP BY 1),
      t AS (SELECT CAST((sum(n_docs) * 6) // 10 AS BIGINT) AS b,
                   CAST(count(*) AS BIGINT) AS n FROM s),
      o AS (SELECT source, n_docs, b, n,
                   row_number() OVER (ORDER BY n_docs, source) AS rn,
                   sum(n_docs) OVER (ORDER BY n_docs, source
                     ROWS UNBOUNDED PRECEDING) AS cum
            FROM s CROSS JOIN t),
      f AS (SELECT *,
                   (n_docs * (n - rn + 1) <= b - (cum - n_docs))
                     AS raw
            FROM o),
      ff AS (SELECT coalesce(min(CASE WHEN NOT raw THEN rn END),
                             max(n) + 1) AS ff FROM f),
      ck AS (SELECT coalesce(max(CASE WHEN f.rn = ff.ff - 1
                                      THEN f.cum END), 0) AS cumk
             FROM f CROSS JOIN ff),
      p AS (SELECT f.source, f.n_docs, f.rn, ff.ff,
                   f.b - ck.cumk AS r, f.n - (ff.ff - 1) AS l
            FROM f CROSS JOIN ff CROSS JOIN ck),
      a AS (SELECT source, n_docs,
                   CAST(CASE WHEN rn < ff THEN n_docs
                        ELSE (r // l) + (CASE WHEN rn - (ff - 1)
                          <= (r % l) THEN 1 ELSE 0 END)
                   END AS BIGINT) AS alloc_docs
            FROM p),
      rk AS (SELECT d.source, d.doc_id,
                    row_number() OVER (PARTITION BY d.source
                      ORDER BY md5('mix1:' ||
                        CAST(d.doc_id AS VARCHAR)), d.doc_id) AS rk
             FROM d),
      sel AS (SELECT rk.source, rk.doc_id
              FROM rk JOIN a USING (source)
              WHERE rk.rk <= a.alloc_docs)
      SELECT a.source, a.n_docs, a.alloc_docs,
             CAST(count(sel.doc_id) AS BIGINT) AS n_selected,
             CAST(coalesce(sum(sel.doc_id), 0) AS BIGINT)
               AS sel_checksum
      FROM a LEFT JOIN sel ON sel.source = a.source
      GROUP BY a.source, a.n_docs, a.alloc_docs
      ORDER BY a.source""",


    // q354's pair/closure chain verbatim, plus: eval grams = the
    // last-8-token gram of every 97th ORIGINAL doc; contamination,
    // cluster-wise vs doc-wise drops, three-way md5 splits, and the
    // four leak metrics per policy
    "q356_threeway_decon" -> """
      WITH RECURSIVE
      base AS (SELECT doc_id, text FROM documents
               UNION ALL
               SELECT doc_id + 1000000,
                      substring(text, 1,
                        greatest(length(text) - 20, 1))
               FROM documents WHERE doc_id % 3 = 0),
      tk AS (SELECT doc_id, list_filter(
               string_split_regex(lower(trim(text)), '\s+'),
               x -> length(x) > 0) AS toks FROM base),
      sh AS (SELECT doc_id,
               CASE WHEN len(toks) >= 3 THEN
                      list_distinct(list_transform(
                        generate_series(1, len(toks) - 2),
                        i -> toks[i] || ' ' || toks[i+1] || ' '
                          || toks[i+2]))
                    WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
                    ELSE [] END AS s
             FROM tk),
      ex0 AS (SELECT doc_id, unnest(s) AS g FROM sh),
      keep AS (SELECT g FROM ex0 GROUP BY g HAVING count(*) <= 16),
      ex AS (SELECT doc_id, ex0.g FROM ex0 JOIN keep USING (g)),
      dsz AS (SELECT doc_id, count(*) AS sz FROM ex GROUP BY doc_id),
      inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       count(*) AS ns
                FROM ex a JOIN ex b
                  ON a.g = b.g AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
      p AS (SELECT i.id_a, i.id_b
            FROM inter i
            JOIN dsz sa ON sa.doc_id = i.id_a
            JOIN dsz sb ON sb.doc_id = i.id_b
            WHERE round(CAST(i.ns AS DOUBLE)
              / (sa.sz + sb.sz - i.ns), 6) >= 0.5),
      e AS (SELECT id_a AS x, id_b AS y FROM p
            UNION ALL SELECT id_b, id_a FROM p),
      r AS (SELECT x AS id, x AS rr FROM e
            UNION
            SELECT e.x, r.rr FROM e JOIN r ON e.y = r.id),
      cc AS (SELECT id, min(rr) AS comp FROM r GROUP BY id),
      asg AS (SELECT b.doc_id,
                     coalesce(cc.comp, b.doc_id) AS cluster
              FROM (SELECT doc_id FROM base) b
              LEFT JOIN cc ON cc.id = b.doc_id),
      eg AS (SELECT DISTINCT CASE WHEN len(toks) >= 8
                    THEN array_to_string(
                           toks[len(toks)-7:len(toks)], ' ')
                    ELSE array_to_string(toks, ' ') END AS g
             FROM tk WHERE doc_id < 1000000 AND doc_id % 97 = 0),
      cg AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 8 THEN
                 list_transform(generate_series(1, len(toks) - 7),
                   i -> array_to_string(toks[i:i+7], ' '))
               WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
               ELSE [] END) AS g
             FROM tk),
      cont AS (SELECT DISTINCT cg.doc_id FROM cg JOIN eg USING (g)),
      m AS (SELECT asg.doc_id, asg.cluster,
                   (cont.doc_id IS NOT NULL) AS contam
            FROM asg LEFT JOIN cont ON cont.doc_id = asg.doc_id),
      ccl AS (SELECT DISTINCT cluster FROM m WHERE contam),
      mcc AS (SELECT mm.doc_id, mm.contam,
                     (ccl.cluster IS NOT NULL) AS drp,
                     CASE WHEN mm.vc < 205 THEN 'train'
                          WHEN mm.vc < 230 THEN 'val'
                          ELSE 'test' END AS sp
              FROM (SELECT m.doc_id, m.cluster, m.contam,
                           CAST('0x' || substring(md5('split3:' ||
                             CAST(m.cluster AS VARCHAR)), 1, 2)
                             AS INTEGER) AS vc
                    FROM m) mm
              LEFT JOIN ccl ON ccl.cluster = mm.cluster),
      mcd AS (SELECT mm.doc_id, mm.contam, mm.contam AS drp,
                     CASE WHEN mm.vd < 205 THEN 'train'
                          WHEN mm.vd < 230 THEN 'val'
                          ELSE 'test' END AS sp
              FROM (SELECT m.doc_id, m.contam,
                           CAST('0x' || substring(md5('split3:' ||
                             CAST(m.doc_id AS VARCHAR)), 1, 2)
                             AS INTEGER) AS vd
                    FROM m) mm),
      szc AS (SELECT
                CAST(sum(CASE WHEN NOT drp AND sp = 'train'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
                CAST(sum(CASE WHEN NOT drp AND sp = 'val'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
                CAST(sum(CASE WHEN NOT drp AND sp = 'test'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
                CAST(sum(CASE WHEN drp THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_dropped,
                CAST(sum(CASE WHEN NOT drp AND contam
                         THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_contam_left
              FROM mcc),
      pmc AS (SELECT
                CAST(coalesce(sum(CASE WHEN NOT a.drp AND NOT b.drp
                       AND a.sp <> b.sp THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS dup_leak_pairs,
                CAST(coalesce(sum(
                       (CASE WHEN a.contam AND NOT b.drp
                        THEN 1 ELSE 0 END) +
                       (CASE WHEN b.contam AND NOT a.drp
                        THEN 1 ELSE 0 END)), 0) AS BIGINT)
                  AS contam_neighbors_left
              FROM p JOIN mcc a ON a.doc_id = p.id_a
                     JOIN mcc b ON b.doc_id = p.id_b),
      szd AS (SELECT
                CAST(sum(CASE WHEN NOT drp AND sp = 'train'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
                CAST(sum(CASE WHEN NOT drp AND sp = 'val'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
                CAST(sum(CASE WHEN NOT drp AND sp = 'test'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
                CAST(sum(CASE WHEN drp THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_dropped,
                CAST(sum(CASE WHEN NOT drp AND contam
                         THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_contam_left
              FROM mcd),
      pmd AS (SELECT
                CAST(coalesce(sum(CASE WHEN NOT a.drp AND NOT b.drp
                       AND a.sp <> b.sp THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS dup_leak_pairs,
                CAST(coalesce(sum(
                       (CASE WHEN a.contam AND NOT b.drp
                        THEN 1 ELSE 0 END) +
                       (CASE WHEN b.contam AND NOT a.drp
                        THEN 1 ELSE 0 END)), 0) AS BIGINT)
                  AS contam_neighbors_left
              FROM p JOIN mcd a ON a.doc_id = p.id_a
                     JOIN mcd b ON b.doc_id = p.id_b)
      SELECT 'cluster_policy' AS policy, szc.n_train, szc.n_val,
             szc.n_test, szc.n_dropped, szc.n_contam_left,
             pmc.dup_leak_pairs, pmc.contam_neighbors_left
      FROM szc CROSS JOIN pmc
      UNION ALL
      SELECT 'doc_policy', szd.n_train, szd.n_val, szd.n_test,
             szd.n_dropped, szd.n_contam_left,
             pmd.dup_leak_pairs, pmd.contam_neighbors_left
      FROM szd CROSS JOIN pmd
      ORDER BY policy""",


    // full rebuild: history ∪ truncated batch, re-tokenized from
    // scratch — the engine folds the staged census instead
    "q362_mixture_fold" -> """
      WITH base AS (SELECT source, text FROM documents
                    UNION ALL
                    SELECT source, substring(text, 1,
                             greatest(length(text) - 15, 1))
                    FROM documents WHERE doc_id % 5 = 0),
      tk AS (SELECT source, CAST(len(list_filter(
               string_split_regex(lower(trim(text)), '\s+'),
               x -> length(x) > 0)) AS BIGINT) AS n_tok
             FROM base),
      s AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS sz_tok
            FROM tk GROUP BY 1),
      t AS (SELECT CAST((sum(sz_tok) * 6) // 10 AS BIGINT) AS b,
                   CAST(count(*) AS BIGINT) AS n FROM s),
      o AS (SELECT source, sz_tok, b, n,
                   row_number() OVER (ORDER BY sz_tok, source) AS rn,
                   sum(sz_tok) OVER (ORDER BY sz_tok, source
                     ROWS UNBOUNDED PRECEDING) AS cum
            FROM s CROSS JOIN t),
      f AS (SELECT *,
                   (sz_tok * (n - rn + 1) <= b - (cum - sz_tok))
                     AS raw
            FROM o),
      ff AS (SELECT coalesce(min(CASE WHEN NOT raw THEN rn END),
                             max(n) + 1) AS ff FROM f),
      ck AS (SELECT coalesce(max(CASE WHEN f.rn = ff.ff - 1
                                      THEN f.cum END), 0) AS cumk
             FROM f CROSS JOIN ff),
      p AS (SELECT f.source, f.sz_tok, f.rn, ff.ff,
                   f.b - ck.cumk AS r, f.n - (ff.ff - 1) AS l
            FROM f CROSS JOIN ff CROSS JOIN ck)
      SELECT source, sz_tok,
             CAST(CASE WHEN rn < ff THEN sz_tok
                  ELSE (r // l) + (CASE WHEN rn - (ff - 1)
                    <= (r % l) THEN 1 ELSE 0 END)
             END AS BIGINT) AS alloc_tok
      FROM p ORDER BY source""",


    "q361_padding_census" -> """
      WITH tk AS (SELECT doc_id, CAST(len(list_filter(
                    string_split_regex(lower(trim(text)), '\s+'),
                    x -> length(x) > 0)) AS BIGINT) AS n_tok
                  FROM documents),
      d AS (SELECT doc_id, n_tok FROM tk WHERE n_tok > 0),
      rs AS (SELECT n_tok,
                    row_number() OVER (ORDER BY n_tok, doc_id) AS rk
             FROM d),
      ra AS (SELECT n_tok,
                    row_number() OVER (ORDER BY doc_id) AS rk
             FROM d),
      bs AS (SELECT (rk - 1) // 32 AS b, count(*) AS bn,
                    max(n_tok) AS mx, sum(n_tok) AS sm
             FROM rs GROUP BY 1),
      ba AS (SELECT (rk - 1) // 32 AS b, count(*) AS bn,
                    max(n_tok) AS mx, sum(n_tok) AS sm
             FROM ra GROUP BY 1),
      cs AS (SELECT CAST(count(*) AS BIGINT) AS n_batches,
                    CAST(sum(sm) AS BIGINT) AS token_sum,
                    CAST(sum(bn * mx) AS BIGINT) AS padded_sum
             FROM bs),
      ca AS (SELECT CAST(count(*) AS BIGINT) AS n_batches,
                    CAST(sum(sm) AS BIGINT) AS token_sum,
                    CAST(sum(bn * mx) AS BIGINT) AS padded_sum
             FROM ba)
      SELECT 'arrival_order' AS policy, ca.n_batches, ca.token_sum,
             ca.padded_sum, ca.padded_sum - ca.token_sum AS waste
      FROM ca
      UNION ALL
      SELECT 'length_grouped', cs.n_batches, cs.token_sum,
             cs.padded_sum, cs.padded_sum - cs.token_sum
      FROM cs
      ORDER BY policy""",


    "q360_epoch_shuffle" -> """
      WITH tk AS (SELECT doc_id, list_filter(
                    string_split_regex(lower(trim(text)), '\s+'),
                    x -> length(x) > 0) AS toks
                  FROM documents),
      sc AS (SELECT doc_id,
                    CAST(len(list_distinct(toks)) AS BIGINT) AS score
             FROM tk),
      r AS (SELECT doc_id,
                   row_number() OVER (ORDER BY score, doc_id) AS rn,
                   count(*) OVER () AS n
            FROM sc),
      q AS (SELECT doc_id, ((rn - 1) * 4) // n + 1 AS quart FROM r),
      ep AS (SELECT doc_id,
                    unnest(generate_series(1, quart)) AS epoch
             FROM q),
      sh AS (SELECT doc_id, epoch,
                    row_number() OVER (PARTITION BY epoch
                      ORDER BY md5('ep' || CAST(epoch AS VARCHAR)
                        || ':' || CAST(doc_id AS VARCHAR)),
                        doc_id) AS rk
             FROM ep)
      SELECT CAST(epoch AS BIGINT) AS epoch,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(rk * doc_id) AS BIGINT) AS order_checksum,
             CAST(max(CASE WHEN rk = 1 THEN doc_id END) AS BIGINT)
               AS first_doc,
             CAST(arg_max(doc_id, rk) AS BIGINT) AS last_doc
      FROM sh GROUP BY 1 ORDER BY 1""",


    "q359_quality_upsample" -> """
      WITH tk AS (SELECT doc_id, list_filter(
                    string_split_regex(lower(trim(text)), '\s+'),
                    x -> length(x) > 0) AS toks
                  FROM documents),
      sc AS (SELECT doc_id,
                    CAST(len(list_distinct(toks)) AS BIGINT) AS score,
                    CAST(len(toks) AS BIGINT) AS n_tok
             FROM tk),
      r AS (SELECT doc_id, n_tok,
                   row_number() OVER (ORDER BY score, doc_id) AS rn,
                   count(*) OVER () AS n
            FROM sc),
      q AS (SELECT doc_id, n_tok,
                   ((rn - 1) * 4) // n + 1 AS quart
            FROM r),
      ep AS (SELECT doc_id, n_tok,
                    unnest(generate_series(1, quart)) AS epoch
             FROM q)
      SELECT CAST(epoch AS BIGINT) AS epoch,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS tok_sum,
             CAST(sum(doc_id) AS BIGINT) AS id_checksum
      FROM ep GROUP BY 1 ORDER BY 1""",


    "q357_token_mixture" -> """
      WITH tk AS (SELECT doc_id, source, CAST(len(list_filter(
                    string_split_regex(lower(trim(text)), '\s+'),
                    x -> length(x) > 0)) AS BIGINT) AS n_tok
                  FROM documents),
      s AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS sz_tok
            FROM tk GROUP BY 1),
      t AS (SELECT CAST((sum(sz_tok) * 6) // 10 AS BIGINT) AS b,
                   CAST(count(*) AS BIGINT) AS n FROM s),
      o AS (SELECT source, sz_tok, b, n,
                   row_number() OVER (ORDER BY sz_tok, source) AS rn,
                   sum(sz_tok) OVER (ORDER BY sz_tok, source
                     ROWS UNBOUNDED PRECEDING) AS cum
            FROM s CROSS JOIN t),
      f AS (SELECT *,
                   (sz_tok * (n - rn + 1) <= b - (cum - sz_tok))
                     AS raw
            FROM o),
      ff AS (SELECT coalesce(min(CASE WHEN NOT raw THEN rn END),
                             max(n) + 1) AS ff FROM f),
      ck AS (SELECT coalesce(max(CASE WHEN f.rn = ff.ff - 1
                                      THEN f.cum END), 0) AS cumk
             FROM f CROSS JOIN ff),
      p AS (SELECT f.source, f.sz_tok, f.rn, ff.ff,
                   f.b - ck.cumk AS r, f.n - (ff.ff - 1) AS l
            FROM f CROSS JOIN ff CROSS JOIN ck),
      a AS (SELECT source, sz_tok,
                   CAST(CASE WHEN rn < ff THEN sz_tok
                        ELSE (r // l) + (CASE WHEN rn - (ff - 1)
                          <= (r % l) THEN 1 ELSE 0 END)
                   END AS BIGINT) AS alloc_tok
            FROM p),
      rk AS (SELECT tk.source, tk.doc_id, tk.n_tok,
                    sum(tk.n_tok) OVER (PARTITION BY tk.source
                      ORDER BY md5('mix2:' ||
                        CAST(tk.doc_id AS VARCHAR)), tk.doc_id
                      ROWS UNBOUNDED PRECEDING) AS ctok
             FROM tk),
      sel AS (SELECT rk.source, rk.doc_id, rk.n_tok
              FROM rk JOIN a USING (source)
              WHERE rk.ctok <= a.alloc_tok)
      SELECT a.source, a.sz_tok, a.alloc_tok,
             CAST(count(sel.doc_id) AS BIGINT) AS n_selected,
             CAST(coalesce(sum(sel.n_tok), 0) AS BIGINT)
               AS tok_selected,
             CAST(coalesce(sum(sel.doc_id), 0) AS BIGINT)
               AS sel_checksum
      FROM a LEFT JOIN sel ON sel.source = a.source
      GROUP BY a.source, a.sz_tok, a.alloc_tok
      ORDER BY a.source""",


    "q353_context_packing" -> packCensusSql,


    "q355_incremental_packing" -> """
      WITH base AS (SELECT doc_id, text FROM documents
                    UNION ALL
                    SELECT doc_id + 2000000,
                           substring(text, 1,
                             greatest(length(text) - 25, 1))
                    FROM documents WHERE doc_id % 4 = 0),
      tk AS (SELECT doc_id, CAST(len(list_filter(
               string_split_regex(lower(trim(text)), '\s+'),
               x -> length(x) > 0)) AS BIGINT) AS n_tok
             FROM base),
      d AS (SELECT doc_id, n_tok FROM tk WHERE n_tok > 0),
      c AS (SELECT doc_id, n_tok,
                   sum(n_tok) OVER (ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING) AS cum
            FROM d),
      sp AS (SELECT doc_id, CAST(cum - n_tok AS BIGINT) AS s,
                    CAST(cum - 1 AS BIGINT) AS e FROM c),
      ch AS (SELECT doc_id, s,
                    unnest(generate_series(s // 512, e // 512))
                      AS chunk
             FROM sp),
      pc AS (SELECT chunk, CAST(count(*) AS BIGINT) AS n_docs,
                    CAST(sum(CASE WHEN s // 512 = chunk
                             THEN 1 ELSE 0 END) AS BIGINT)
                      AS n_starts
             FROM ch GROUP BY 1),
      t AS (SELECT max(cum) AS tt FROM c)
      SELECT CAST(chunk AS BIGINT) AS chunk, n_docs, n_starts,
             CAST(least(512, t.tt - chunk * 512) AS BIGINT)
               AS n_tokens
      FROM pc CROSS JOIN t ORDER BY chunk""",


    "q354_leakage_split" -> """
      WITH RECURSIVE
      base AS (SELECT doc_id, text FROM documents
               UNION ALL
               SELECT doc_id + 1000000,
                      substring(text, 1,
                        greatest(length(text) - 20, 1))
               FROM documents WHERE doc_id % 3 = 0),
      tk AS (SELECT doc_id, list_filter(
               string_split_regex(lower(trim(text)), '\s+'),
               x -> length(x) > 0) AS toks FROM base),
      sh AS (SELECT doc_id,
               CASE WHEN len(toks) >= 3 THEN
                      list_distinct(list_transform(
                        generate_series(1, len(toks) - 2),
                        i -> toks[i] || ' ' || toks[i+1] || ' '
                          || toks[i+2]))
                    WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
                    ELSE [] END AS s
             FROM tk),
      ex0 AS (SELECT doc_id, unnest(s) AS g FROM sh),
      keep AS (SELECT g FROM ex0 GROUP BY g HAVING count(*) <= 16),
      ex AS (SELECT doc_id, ex0.g FROM ex0 JOIN keep USING (g)),
      dsz AS (SELECT doc_id, count(*) AS sz FROM ex GROUP BY doc_id),
      inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       count(*) AS ns
                FROM ex a JOIN ex b
                  ON a.g = b.g AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
      p AS (SELECT i.id_a, i.id_b
            FROM inter i
            JOIN dsz sa ON sa.doc_id = i.id_a
            JOIN dsz sb ON sb.doc_id = i.id_b
            WHERE round(CAST(i.ns AS DOUBLE)
              / (sa.sz + sb.sz - i.ns), 6) >= 0.5),
      e AS (SELECT id_a AS x, id_b AS y FROM p
            UNION ALL SELECT id_b, id_a FROM p),
      r AS (SELECT x AS id, x AS rr FROM e
            UNION
            SELECT e.x, r.rr FROM e JOIN r ON e.y = r.id),
      cc AS (SELECT id, min(rr) AS comp FROM r GROUP BY id),
      asg AS (SELECT b.doc_id,
                     coalesce(cc.comp, b.doc_id) AS cluster
              FROM (SELECT doc_id FROM base) b
              LEFT JOIN cc ON cc.id = b.doc_id),
      spl AS (SELECT doc_id,
                (CAST('0x' || substring(md5('split1:' ||
                   CAST(cluster AS VARCHAR)), 1, 2) AS INTEGER)
                   < 205) AS tr_cluster,
                (CAST('0x' || substring(md5('split1:' ||
                   CAST(doc_id AS VARCHAR)), 1, 2) AS INTEGER)
                   < 205) AS tr_doc
              FROM asg),
      lc AS (SELECT CAST(count(*) AS BIGINT) AS n_pairs,
                    CAST(sum(CASE WHEN sa.tr_cluster <> sb.tr_cluster
                             THEN 1 ELSE 0 END) AS BIGINT)
                      AS leaked_cluster,
                    CAST(sum(CASE WHEN sa.tr_doc <> sb.tr_doc
                             THEN 1 ELSE 0 END) AS BIGINT)
                      AS leaked_doc
             FROM p JOIN spl sa ON sa.doc_id = p.id_a
                    JOIN spl sb ON sb.doc_id = p.id_b),
      szs AS (SELECT
                CAST(sum(CASE WHEN tr_cluster THEN 1 ELSE 0 END)
                  AS BIGINT) AS tr_c,
                CAST(sum(CASE WHEN NOT tr_cluster THEN 1 ELSE 0 END)
                  AS BIGINT) AS va_c,
                CAST(sum(CASE WHEN tr_doc THEN 1 ELSE 0 END)
                  AS BIGINT) AS tr_d,
                CAST(sum(CASE WHEN NOT tr_doc THEN 1 ELSE 0 END)
                  AS BIGINT) AS va_d
              FROM spl)
      SELECT 'cluster_split' AS policy, szs.tr_c AS n_train,
             szs.va_c AS n_val, lc.n_pairs,
             lc.leaked_cluster AS n_leaked
      FROM szs CROSS JOIN lc
      UNION ALL
      SELECT 'doc_split', szs.tr_d, szs.va_d, lc.n_pairs,
             lc.leaked_doc
      FROM szs CROSS JOIN lc
      ORDER BY policy""",


    // containment over the df<=64 string-gram space (the engine mines
    // hashed shingles — hash equality ≡ gram equality); both direction
    // ratios are exact integer divisions
    "q132_containment" -> """
      WITH base AS (SELECT doc_id, text FROM documents
             UNION ALL
             SELECT doc_id + 2000000,
                    substring(text, 1, greatest(length(text) - 40, 1))
             FROM documents WHERE doc_id % 5 = 0),
      t AS (SELECT doc_id,
          list_filter(string_split_regex(lower(trim(text)), '\s+'),
                      x -> length(x) > 0) AS toks
        FROM base),
      sh AS (SELECT DISTINCT doc_id, g FROM (
               SELECT doc_id, unnest(CASE WHEN len(toks) >= 3 THEN
                   list_transform(generate_series(1, len(toks) - 2),
                     i -> array_to_string(toks[i:i+2], ' '))
                 WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
                 ELSE [] END) AS g
               FROM t)),
      dfc AS (SELECT g, count(*) AS df FROM sh GROUP BY g),
      kept AS (SELECT doc_id, s.g FROM sh s JOIN dfc USING (g)
               WHERE df <= 64),
      sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
             FROM kept GROUP BY 1),
      pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                    CAST(count(*) AS BIGINT) AS n_shared
             FROM kept a JOIN kept b USING (g)
             WHERE a.doc_id < b.doc_id
             GROUP BY 1, 2),
      j AS (SELECT id_a, id_b, n_shared, sa.n AS sz_a, sb.n AS sz_b
            FROM pr
            JOIN sz sa ON sa.doc_id = pr.id_a
            JOIN sz sb ON sb.doc_id = pr.id_b)
      SELECT id_a, id_b, n_shared, sz_a, sz_b,
             CAST(n_shared AS DOUBLE) / CAST(sz_a AS DOUBLE)
               AS cont_a_in_b,
             CAST(n_shared AS DOUBLE) / CAST(sz_b AS DOUBLE)
               AS cont_b_in_a
      FROM j
      WHERE greatest(CAST(n_shared AS DOUBLE) / CAST(sz_a AS DOUBLE),
                     CAST(n_shared AS DOUBLE) / CAST(sz_b AS DOUBLE))
              >= 0.9
      ORDER BY id_a, id_b""",


    // bigram lift from the LM count tables; exact products, no log
    "q134_collocations" -> """
      WITH t AS (SELECT list_filter(
                   string_split_regex(lower(trim(text)), '\s+'),
                   x -> length(x) > 0) AS toks FROM documents),
      uni AS (SELECT w, CAST(count(*) AS BIGINT) AS c FROM
                (SELECT unnest(toks) AS w FROM t) GROUP BY 1),
      n AS (SELECT CAST(sum(c) AS BIGINT) AS total FROM uni),
      bi AS (SELECT a, b, CAST(count(*) AS BIGINT) AS c_ab FROM (
               SELECT unnest(list_transform(
                        generate_series(1, len(toks) - 1),
                        i -> toks[i])) AS a,
                      unnest(list_transform(
                        generate_series(1, len(toks) - 1),
                        i -> toks[i + 1])) AS b
               FROM t WHERE len(toks) >= 2)
             GROUP BY 1, 2 HAVING count(*) >= 5)
      SELECT bi.a, bi.b, c_ab, ua.c AS c_a, ub.c AS c_b,
             (CAST(c_ab AS DOUBLE) * CAST(n.total AS DOUBLE))
               / (CAST(ua.c AS DOUBLE) * CAST(ub.c AS DOUBLE)) AS lift
      FROM bi
      JOIN uni ua ON ua.w = bi.a
      JOIN uni ub ON ub.w = bi.b
      CROSS JOIN n
      ORDER BY lift DESC, bi.a ASC, bi.b ASC LIMIT 25""",


    // same synthetic multi-line docs; boilerplate = lines in >= 2 docs
    // AND >= 50% of the source's docs; strip via an order-preserving
    // list_filter against the per-source boilerplate list
    "q140_boilerplate" -> """
      WITH m AS (SELECT doc_id, source AS grp,
              '== ' || source || ' navigation ==' || chr(10) ||
              text || chr(10) ||
              (CASE WHEN doc_id % 4 = 0
                    THEN 'subscribe to ' || source || chr(10)
                    ELSE '' END) ||
              'copyright ' || source AS txt
            FROM documents),
      w AS (SELECT doc_id, grp,
              list_filter(list_transform(string_split(txt, chr(10)),
                x -> trim(x)), x -> length(x) > 0) AS lines
            FROM m),
      e AS (SELECT grp, unnest(list_distinct(lines)) AS line FROM w),
      df AS (SELECT grp, line, count(*) AS df FROM e GROUP BY 1, 2),
      sz AS (SELECT grp, count(*) AS n_docs FROM m GROUP BY 1),
      b AS (SELECT df.grp, list_sort(list(line)) AS blist
            FROM df JOIN sz USING (grp)
            WHERE df >= 2 AND CAST(df AS DOUBLE) >= n_docs * 0.5
            GROUP BY 1),
      c AS (SELECT doc_id, w.grp,
              list_filter(lines,
                x -> NOT coalesce(list_contains(blist, x), false)) AS clean,
              lines
            FROM w LEFT JOIN b ON w.grp = b.grp)
      SELECT doc_id, grp, array_to_string(clean, chr(10)) AS clean_text,
             CAST(len(lines) AS BIGINT) AS n_lines,
             CAST(len(clean) AS BIGINT) AS n_kept
      FROM c ORDER BY doc_id""",


    // block by key prefix, row_number within block, rank-range self
    // join = the sliding window; trigram Jaccard replayed with the
    // q43 shingle construction on both pair sides
    "q148_sorted_neighborhood" -> """
      WITH base AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000,
               substring(text, 1, greatest(length(text) - 30, 1))
        FROM documents),
      k AS (SELECT doc_id, text,
              lower(substring(trim(text), 1, 24)) AS key
            FROM base),
      r AS (SELECT doc_id, text, key,
              substring(key, 1, 8) AS block,
              row_number() OVER (PARTITION BY substring(key, 1, 8)
                ORDER BY key, doc_id) AS rn
            FROM k),
      p AS (SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
                   a.text AS ta, b2.text AS tb
            FROM r a JOIN r b2
              ON a.block = b2.block
             AND b2.rn > a.rn AND b2.rn <= a.rn + 3),
      tk AS (SELECT id_a, id_b,
               list_filter(string_split_regex(lower(trim(ta)), '\s+'),
                           x -> length(x) > 0) AS toka,
               list_filter(string_split_regex(lower(trim(tb)), '\s+'),
                           x -> length(x) > 0) AS tokb
             FROM p),
      sh AS (SELECT id_a, id_b,
               CASE WHEN len(toka) >= 3 THEN
                      list_distinct(list_transform(
                        generate_series(1, len(toka) - 2),
                        i -> toka[i] || ' ' || toka[i+1] || ' '
                             || toka[i+2]))
                    WHEN len(toka) > 0 THEN [array_to_string(toka, ' ')]
                    ELSE [] END AS sa,
               CASE WHEN len(tokb) >= 3 THEN
                      list_distinct(list_transform(
                        generate_series(1, len(tokb) - 2),
                        i -> tokb[i] || ' ' || tokb[i+1] || ' '
                             || tokb[i+2]))
                    WHEN len(tokb) > 0 THEN [array_to_string(tokb, ' ')]
                    ELSE [] END AS sb
             FROM tk),
      j AS (SELECT id_a, id_b,
              round(CAST(len(list_intersect(sa, sb)) AS DOUBLE)
                    / len(list_distinct(sa || sb)), 6) AS jaccard
            FROM sh WHERE len(list_distinct(sa || sb)) > 0)
      SELECT id_a, id_b, jaccard FROM j
      WHERE jaccard >= 0.5 ORDER BY id_a, id_b""",


    // the UNCAPPED exact Jaccard truth (q43's oracle minus the df
    // cap): the prefix-filtered engine path must match it exactly
    "q150_prefix_filter_jaccard" -> """
      WITH base AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000,
               substring(text, 1, greatest(length(text) - 30, 1))
        FROM documents),
      tk AS (SELECT doc_id,
               list_filter(string_split_regex(lower(trim(text)), '\s+'),
                           x -> length(x) > 0) AS toks
             FROM base),
      sh AS (SELECT doc_id,
               CASE WHEN len(toks) >= 3 THEN
                      list_distinct(list_transform(
                        generate_series(1, len(toks) - 2),
                        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                    WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
                    ELSE [] END AS s
             FROM tk),
      ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
      sz AS (SELECT doc_id, count(*) AS sz FROM ex GROUP BY doc_id),
      inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       count(*) AS n_shared
                FROM ex a JOIN ex b
                  ON a.g = b.g AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
      SELECT id_a, id_b,
             round(CAST(n_shared AS DOUBLE)
                   / (sa.sz + sb.sz - n_shared), 6) AS jaccard
      FROM inter
      JOIN sz sa ON sa.doc_id = id_a
      JOIN sz sb ON sb.doc_id = id_b
      WHERE round(CAST(n_shared AS DOUBLE)
                  / (sa.sz + sb.sz - n_shared), 6) >= 0.5
      ORDER BY id_a, id_b""",


    // tf-idf and BM25 replicated from q81/q83 (rounded 6), then
    // row_number ranks (score desc, id) and the RRF sum in fixed
    // order — every post-rounding op is exact IEEE in both engines
    "q151_rank_fusion" -> """
      WITH tt AS (SELECT doc_id, list_filter(
          string_split_regex(lower(trim(text)), '\s+'),
          x -> length(x) > 0) AS toks
        FROM documents),
      f AS (SELECT doc_id, tok, count(*) AS tf FROM (
              SELECT doc_id, unnest(toks) AS tok FROM tt)
            WHERE tok IN ('spark', 'query', 'vector') GROUP BY 1, 2),
      d AS (SELECT tok, count(*) AS df FROM f GROUP BY 1),
      n AS (SELECT count(*) AS n FROM documents),
      tfidf AS (SELECT doc_id,
                  round(sum(tf * (ln((n.n + 1.0) / (d.df + 1.0))
                    + 1.0)), 6) AS score
                FROM f JOIN d USING (tok) CROSS JOIN n
                GROUP BY doc_id),
      s AS (SELECT count(*) AS n,
              CAST(sum(len(toks)) AS DOUBLE) / count(*) AS avglen
            FROM tt),
      l AS (SELECT doc_id, CAST(len(toks) AS DOUBLE) AS len FROM tt),
      bm25 AS (SELECT f.doc_id,
                 round(sum(ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
                   * (f.tf * 2.2 / (f.tf + (l.len / s.avglen * 0.75
                                            + 0.25) * 1.2))), 6) AS score
               FROM f JOIN d USING (tok) CROSS JOIN s
                      JOIN l ON f.doc_id = l.doc_id
               GROUP BY f.doc_id),
      topt AS (SELECT doc_id, score FROM tfidf
               ORDER BY score DESC, doc_id LIMIT 200),
      topb AS (SELECT doc_id, score FROM bm25
               ORDER BY score DESC, doc_id LIMIT 200),
      rt AS (SELECT doc_id, row_number() OVER
               (ORDER BY score DESC, doc_id) AS ra FROM topt),
      rb AS (SELECT doc_id, row_number() OVER
               (ORDER BY score DESC, doc_id) AS rb FROM topb),
      fused AS (SELECT coalesce(rt.doc_id, rb.doc_id) AS doc_id,
                       rt.ra, rb.rb
                FROM rt FULL OUTER JOIN rb ON rt.doc_id = rb.doc_id)
      SELECT doc_id, ra AS rank_tfidf, rb AS rank_bm25,
             coalesce(1.0 / (60 + ra), 0) + coalesce(1.0 / (60 + rb), 0)
               AS rrf
      FROM fused ORDER BY rrf DESC, doc_id LIMIT 50""",


    // consecutive-token scan over the same marker-extended corpus:
    // count start positions where the 3 tokens align
    "q155_phrase_search" -> """
      WITH base AS (SELECT doc_id,
              text
              || CASE WHEN doc_id % 7 = 0
                      THEN ' needle in the haystack marker'
                      ELSE '' END
              || CASE WHEN doc_id % 21 = 0
                      THEN ' needle in the haystack marker'
                      ELSE '' END AS text
            FROM documents),
      tk AS (SELECT doc_id, list_filter(
               string_split_regex(lower(trim(text)), '\s+'),
               x -> length(x) > 0) AS toks
             FROM base),
      occ AS (SELECT doc_id,
                CAST(len(list_filter(
                  generate_series(1, greatest(len(toks) - 2, 0)),
                  i -> toks[i] = 'needle' AND toks[i+1] = 'in'
                       AND toks[i+2] = 'the')) AS BIGINT) AS n_occ
              FROM tk)
      SELECT doc_id, n_occ FROM occ WHERE n_occ > 0
      ORDER BY doc_id""",


    "q160_boolean_search" -> """
      WITH tk AS (SELECT doc_id, unnest(list_filter(
                    string_split_regex(lower(trim(text)), '\s+'),
                    x -> length(x) > 0)) AS t FROM documents),
      d AS (SELECT doc_id,
                   bool_or(t = 'spark') AS h1,
                   bool_or(t = 'query') AS h2,
                   bool_or(t = 'vector') AS h3
            FROM tk GROUP BY doc_id)
      SELECT doc_id FROM d WHERE h1 AND h2 AND NOT h3
      ORDER BY doc_id""",


    "q187_keywords" -> """
      WITH tk AS (SELECT doc_id, unnest(list_filter(
                    string_split_regex(lower(trim(text)), '\s+'),
                    x -> length(x) > 0)) AS tok FROM documents),
      tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
             FROM tk GROUP BY 1, 2),
      df AS (SELECT tok, CAST(count(*) AS BIGINT) AS df
             FROM tf GROUP BY 1),
      nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
      s AS (SELECT tf.doc_id, tf.tok,
                   CAST(tf.tf * nn.n AS DOUBLE) / CAST(df.df AS DOUBLE)
                     AS score
            FROM tf JOIN df USING (tok) CROSS JOIN nn),
      r AS (SELECT doc_id, tok, score,
                   CAST(row_number() OVER (PARTITION BY doc_id
                     ORDER BY score DESC, tok ASC) AS INT) AS rank
            FROM s)
      SELECT doc_id, rank, tok, score
      FROM r WHERE rank <= 3 ORDER BY doc_id, rank""",


    "q193_item_similarity" -> """
      WITH b AS (SELECT DISTINCT l_orderkey AS g, l_partkey AS i
                 FROM lineitem WHERE l_partkey % 8 = 0),
      deg AS (SELECT i, CAST(count(*) AS BIGINT) AS d
              FROM b GROUP BY 1),
      p AS (SELECT a.i, c.i AS j, CAST(count(*) AS BIGINT) AS co
            FROM b a JOIN b c ON a.g = c.g AND a.i < c.i
            GROUP BY 1, 2),
      sym AS (SELECT i, j, co FROM p
              UNION ALL SELECT j, i, co FROM p),
      sc AS (SELECT s.i, s.j, s.co,
                    CAST(s.co AS DOUBLE) /
                      sqrt(CAST(di.d * dj.d AS DOUBLE)) AS sim
             FROM sym s
             JOIN deg di ON di.i = s.i
             JOIN deg dj ON dj.i = s.j),
      r AS (SELECT *, CAST(row_number() OVER (PARTITION BY i
              ORDER BY sim DESC, j ASC) AS INT) AS rank
            FROM sc)
      SELECT i AS item, rank, j AS neighbor, co, sim
      FROM r WHERE rank <= 3 ORDER BY item, rank""",


    "q212_shuffle_shards" -> """
      WITH h AS (SELECT doc_id,
                        md5('s42:' || CAST(doc_id AS VARCHAR)) AS h
                 FROM documents),
      r AS (SELECT doc_id, h,
                   CAST(row_number() OVER (ORDER BY h, doc_id)
                        AS BIGINT) AS rn
            FROM h)
      SELECT doc_id, h, rn, (rn - 1) // 64 AS shard
      FROM r ORDER BY rn""",


    "q213_negative_sampling" -> """
      WITH p AS (SELECT doc_id AS neg_id,
                        md5('s7:p:' || CAST(doc_id AS VARCHAR)) AS ph
                 FROM documents WHERE lang = 'en'),
      pb AS (SELECT CAST(('0x' || substring(ph, 1, 4)) AS INTEGER)
                      % 64 AS bucket, ph, neg_id
             FROM p),
      reps AS (SELECT bucket, min_by(neg_id, ph) AS neg_id
               FROM pb GROUP BY bucket),
      q AS (SELECT doc_id AS qid FROM documents WHERE lang <> 'en'),
      w AS (SELECT qid, CAST(i AS INT) AS i,
                   CAST(('0x' || substring(md5('s7:q:'
                     || CAST(qid AS VARCHAR) || ':'
                     || CAST(i AS VARCHAR)), 1, 4)) AS INTEGER)
                     % 64 AS bucket
            FROM q CROSS JOIN
                 (SELECT unnest(generate_series(1, 3)) AS i))
      SELECT w.qid, w.i, r.neg_id
      FROM w JOIN reps r USING (bucket)
      WHERE r.neg_id <> w.qid
      ORDER BY qid, i""",


    "q215_target_encoding" -> """
      WITH b AS (SELECT p_brand AS cat,
                        CAST(round(l_extendedprice * 100) AS BIGINT)
                          AS t
                 FROM lineitem JOIN part ON l_partkey = p_partkey),
      per AS (SELECT cat, count(*) AS n, CAST(sum(t) AS BIGINT) AS s
              FROM b GROUP BY 1),
      g AS (SELECT CAST(count(*) AS BIGINT) AS gn,
                   CAST(sum(t) AS BIGINT) AS gs FROM b)
      SELECT cat, CAST(n AS BIGINT) AS n,
             (CAST(s AS DOUBLE)
               + 100 * (CAST(g.gs AS DOUBLE) / CAST(g.gn AS DOUBLE)))
               / CAST(n + 100 AS DOUBLE) AS enc
      FROM per, g ORDER BY cat""",


    "q222_postings_bytes" -> """
      WITH p AS (SELECT DISTINCT doc_id, unnest(list_filter(
                   string_split_regex(lower(trim(text)), '\s+'),
                   x -> length(x) > 0)) AS term
                 FROM documents),
      g AS (SELECT term, doc_id,
                   coalesce(doc_id - lag(doc_id, 1) OVER (
                     PARTITION BY term ORDER BY doc_id), doc_id)
                     AS gap
            FROM p)
      SELECT term, CAST(count(*) AS BIGINT) AS df,
             CAST(count(*) * 8 AS BIGINT) AS raw_bytes,
             CAST(sum(1 + (length(bin(gap)) - 1) // 7) AS BIGINT)
               AS varint_bytes
      FROM g GROUP BY term
      ORDER BY df DESC, term LIMIT 100""",


    "q235_knn_classify" -> """
      WITH q AS (SELECT vec_id AS query_id,
                        CAST(embedding AS DOUBLE[]) AS qv,
                        CAST(label AS INT) AS true_label
                 FROM embeddings WHERE vec_id % 20 = 0),
      c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv,
                   CAST(label AS INT) AS nbr_label
            FROM embeddings WHERE vec_id % 20 <> 0),
      s AS (SELECT q.query_id, q.true_label, c.nbr_label, c.vec_id,
                   list_cosine_similarity(c.cv, q.qv) AS cos
            FROM c CROSS JOIN q),
      t AS (SELECT * FROM s QUALIFY row_number() OVER (
              PARTITION BY query_id ORDER BY cos DESC, vec_id ASC)
              <= 10),
      v AS (SELECT query_id, true_label, nbr_label,
                   CAST(count(*) AS BIGINT) AS votes
            FROM t GROUP BY 1, 2, 3),
      p AS (SELECT query_id, true_label, nbr_label AS predicted,
                   votes AS n_votes
            FROM v QUALIFY row_number() OVER (PARTITION BY query_id
              ORDER BY votes DESC, nbr_label ASC) = 1)
      SELECT query_id, true_label, predicted, n_votes,
             true_label = predicted AS correct
      FROM p ORDER BY query_id""",


    "q240_stratified_split" -> """
      WITH r AS (SELECT source, doc_id, n_chars,
                        row_number() OVER (PARTITION BY source
                          ORDER BY md5(CAST(doc_id AS VARCHAR)),
                          doc_id) AS rn,
                        count(*) OVER (PARTITION BY source) AS n
                 FROM documents),
      f AS (SELECT source, n_chars,
                   rn <= (n + 4) // 5 AS is_test
            FROM r)
      SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN is_test THEN 1 ELSE 0 END) AS BIGINT)
               AS n_test,
             CAST(sum(CASE WHEN is_test THEN n_chars ELSE 0 END)
               AS BIGINT) AS test_chars,
             CAST(sum(CASE WHEN is_test THEN 0 ELSE n_chars END)
               AS BIGINT) AS train_chars
      FROM f GROUP BY 1 ORDER BY 1""",


    // Relational replay of the two observe() checkpoints: the engine's
    // accumulator metrics must equal a plain filtered aggregate.
    "q242_observed_pipeline" -> """
      SELECT CAST(count(*) AS BIGINT) AS n_in,
             CAST(sum(n_chars) AS BIGINT) AS chars_in,
             CAST(sum(CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_kept,
             CAST(sum(CASE WHEN n_chars >= 200 THEN n_chars ELSE 0 END)
               AS BIGINT) AS chars_kept,
             CAST(sum(CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END)
               AS DOUBLE) / CAST(count(*) AS DOUBLE) AS kept_frac
      FROM documents""",


    // per-stage counts replayed from the q127 CTE chain: the engine's
    // accumulator-observed metrics must equal the relational censuses
    "q245_pipeline_metrics" -> s"""
      WITH $q97ScorePrefixSql,
      keep1 AS (SELECT min(doc_id) AS doc_id FROM documents
                GROUP BY md5(text)),
      s1 AS (SELECT d.doc_id, d.source, d.text FROM documents d
             JOIN keep1 k ON d.doc_id = k.doc_id),
      s2 AS (SELECT s1.doc_id, s1.source, s1.text FROM s1
             JOIN s ON s1.doc_id = s.doc_id WHERE s.score >= 0.5),
      t2 AS (SELECT doc_id, source,
               list_filter(string_split_regex(lower(trim(text)), '\\s+'),
                           x -> length(x) > 0) AS toks
             FROM s2),
      te AS (SELECT list_filter(
               string_split_regex(lower(trim(text)), '\\s+'),
               x -> length(x) > 0) AS toks
             FROM documents WHERE doc_id % 97 = 0),
      eg AS (SELECT DISTINCT g FROM (
               SELECT unnest(CASE WHEN len(toks) >= 8 THEN
                   list_transform(generate_series(1, len(toks) - 7),
                     i -> array_to_string(toks[i:i+7], ' '))
                 WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
                 ELSE [] END) AS g FROM te)),
      tg AS (SELECT DISTINCT doc_id, g FROM (
               SELECT doc_id, unnest(CASE WHEN len(toks) >= 8 THEN
                   list_transform(generate_series(1, len(toks) - 7),
                     i -> array_to_string(toks[i:i+7], ' '))
                 WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
                 ELSE [] END) AS g FROM t2)),
      contaminated AS (SELECT DISTINCT doc_id FROM tg JOIN eg USING (g)),
      d3 AS (SELECT t2.doc_id, t2.source, CAST(len(toks) AS INT)
               AS n_tok
             FROM t2 WHERE NOT EXISTS (SELECT 1 FROM contaminated c
               WHERE c.doc_id = t2.doc_id)),
      tot AS (SELECT source, CAST(sum(n_tok) AS BIGINT) AS tok
              FROM d3 GROUP BY source),
      kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM tot),
      thr AS (SELECT source,
                CAST(floor(least(1.0,
                  CAST(10000 AS DOUBLE) / k / tok) * 65536) AS BIGINT)
                  AS th
              FROM tot CROSS JOIN kk),
      kept AS (SELECT d3.doc_id, d3.source, d3.n_tok
               FROM d3 JOIN thr USING (source)
               WHERE CAST(('0x' || substring(
                   md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER)
                 % 65536 < th),
      cn AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents)
                      AS n0,
                    (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n1,
                    (SELECT CAST(count(*) AS BIGINT) FROM s2) AS n2,
                    (SELECT CAST(count(*) AS BIGINT) FROM d3) AS n3,
                    (SELECT CAST(count(*) AS BIGINT) FROM kept) AS n4)
      SELECT stage_ix, stage, n_in, n_kept,
             CAST(n_kept AS DOUBLE) / CAST(n_in AS DOUBLE) AS kept_frac
      FROM (SELECT 0 AS stage_ix, 'exact_dedup' AS stage,
                   n0 AS n_in, n1 AS n_kept FROM cn
            UNION ALL SELECT 1, 'quality', n1, n2 FROM cn
            UNION ALL SELECT 2, 'decontaminate', n2, n3 FROM cn
            UNION ALL SELECT 3, 'token_budget', n3, n4 FROM cn)
      ORDER BY stage_ix""",


    "q251_source_similarity" -> """
      WITH tk AS (SELECT source, unnest(list_filter(
                    string_split_regex(lower(trim(text)), '\s+'),
                    x -> length(x) > 0)) AS tok
                  FROM documents),
      c AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS c
            FROM tk GROUP BY 1, 2),
      norms AS (SELECT source, CAST(sum(c * c) AS BIGINT) AS norm2
                FROM c GROUP BY 1),
      dots AS (SELECT a.source AS source_a, b.source AS source_b,
                      CAST(sum(a.c * b.c) AS BIGINT) AS dot
               FROM c a JOIN c b ON a.tok = b.tok
                                AND a.source < b.source
               GROUP BY 1, 2)
      SELECT d.source_a, d.source_b, d.dot,
             na.norm2 AS norm2_a, nb.norm2 AS norm2_b,
             CAST(d.dot AS DOUBLE) /
               (sqrt(CAST(na.norm2 AS DOUBLE)) *
                sqrt(CAST(nb.norm2 AS DOUBLE))) AS cosine
      FROM dots d
      JOIN norms na ON na.source = d.source_a
      JOIN norms nb ON nb.source = d.source_b
      ORDER BY d.source_a, d.source_b""",


    "q260_seq_novelty" -> """
      WITH e AS (SELECT user_id, event_type, event_id,
                        epoch_us(ts) AS us
                 FROM events),
      bounds AS (SELECT min(us) + (max(us) - min(us)) // 2 AS mid
                 FROM e),
      tr AS (SELECT DISTINCT user_id, a, b FROM (
               SELECT user_id, lag(event_type) OVER (PARTITION BY
                   user_id ORDER BY us, event_id) AS a,
                 event_type AS b
               FROM e, bounds WHERE us <= mid)
             WHERE a IS NOT NULL),
      te AS (SELECT user_id, a, b FROM (
               SELECT user_id, lag(event_type) OVER (PARTITION BY
                   user_id ORDER BY us, event_id) AS a,
                 event_type AS b
               FROM e, bounds WHERE us > mid)
             WHERE a IS NOT NULL),
      nt AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_test
             FROM te GROUP BY 1),
      nv AS (SELECT te.user_id, CAST(count(*) AS BIGINT) AS n_novel
             FROM te WHERE NOT EXISTS (SELECT 1 FROM tr
               WHERE tr.user_id = te.user_id AND tr.a = te.a
                 AND tr.b = te.b)
             GROUP BY te.user_id)
      SELECT nt.user_id, nt.n_test,
             CAST(coalesce(nv.n_novel, 0) AS BIGINT) AS n_novel,
             CAST(coalesce(nv.n_novel, 0) AS DOUBLE) /
               CAST(nt.n_test AS DOUBLE) AS novelty
      FROM nt LEFT JOIN nv USING (user_id) ORDER BY user_id""",


    // ground truth from the construction rule, not a sniff replay:
    // doc_id%4 chose the signature, so the oracle KNOWS the format
    "q261_media_sniff" -> """
      SELECT CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                  WHEN 2 THEN 'riff' ELSE 'gif' END AS format,
             lang, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN doc_id % 4 = 0 THEN 8 ELSE 4 END
               + octet_length(encode(text))) AS BIGINT) AS total_bytes
      FROM documents GROUP BY 1, 2 ORDER BY 1, 2""",


    "q264_vocab_overlap" -> """
      WITH vocab AS (SELECT DISTINCT source, unnest(list_filter(
                       string_split_regex(lower(trim(text)), '\s+'),
                       x -> length(x) > 0)) AS tok
                     FROM documents),
      sz AS (SELECT source, CAST(count(*) AS BIGINT) AS sz
             FROM vocab GROUP BY 1),
      ov AS (SELECT a.source AS source_a, b.source AS source_b,
                    CAST(count(*) AS BIGINT) AS n_common
             FROM vocab a JOIN vocab b ON a.tok = b.tok
                                      AND a.source < b.source
             GROUP BY 1, 2)
      SELECT o.source_a, o.source_b, o.n_common,
             sa.sz AS sz_a, sb.sz AS sz_b,
             CAST(o.n_common AS DOUBLE) /
               CAST(sa.sz + sb.sz - o.n_common AS DOUBLE) AS jaccard,
             CAST(o.n_common AS DOUBLE) / CAST(sa.sz AS DOUBLE)
               AS cont_a
      FROM ov o JOIN sz sa ON sa.source = o.source_a
                JOIN sz sb ON sb.source = o.source_b
      ORDER BY o.source_a, o.source_b""",


    "q268_chat_render" -> """
      WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
                        event_type,
                        CAST(round(value * 100) AS BIGINT) AS cents
                 FROM events),
      p AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
                   '<|user|> ' || string_agg(event_type || '=' ||
                     CAST(cents AS VARCHAR), ' '
                     ORDER BY us, event_id) || ' <|end|>' AS prompt
            FROM e GROUP BY user_id),
      tk AS (SELECT user_id, n_events, prompt,
                    CAST(len(list_filter(string_split_regex(
                      lower(trim(prompt)), '\s+'),
                      x -> length(x) > 0)) AS BIGINT) AS n_tok
             FROM p)
      SELECT user_id, n_events,
             CAST(length(prompt) AS BIGINT) AS prompt_chars,
             n_tok, n_tok > 64 AS over_budget,
             substring(prompt, 1, 80) AS prompt_head
      FROM tk ORDER BY user_id""",


    "q269_dpo_pairs" -> s"""
      WITH $q97ScorePrefixSql,
      sc AS (SELECT s.doc_id, d.source, s.score
             FROM s JOIN documents d USING (doc_id)),
      ch AS (SELECT source, doc_id, score, row_number() OVER
               (PARTITION BY source ORDER BY score DESC, doc_id ASC)
               AS rn
             FROM sc),
      rj AS (SELECT source, doc_id, score, row_number() OVER
               (PARTITION BY source ORDER BY score ASC, doc_id ASC)
               AS rn
             FROM sc)
      SELECT c.source, c.doc_id AS chosen_id,
             round(c.score, 6) AS chosen_score,
             r.doc_id AS rejected_id,
             round(r.score, 6) AS rejected_score,
             round(c.score - r.score, 6) AS margin
      FROM ch c JOIN rj r ON c.source = r.source
      WHERE c.rn = 1 AND r.rn = 1
      ORDER BY c.source""",


    "q270_token_fertility" -> """
      WITH d AS (SELECT lang, n_chars,
                        CAST(len(list_filter(string_split_regex(
                          lower(trim(text)), '\s+'),
                          x -> length(x) > 0)) AS BIGINT) AS tok
                 FROM documents)
      SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_chars) AS BIGINT) AS sum_chars,
             CAST(sum(tok) AS BIGINT) AS sum_tokens,
             CAST(sum(tok) * 100 AS DOUBLE) /
               CAST(sum(n_chars) AS DOUBLE) AS fertility_per_100c
      FROM d GROUP BY 1 ORDER BY 1""",


    "q272_vocab_growth" -> """
      WITH tk AS (SELECT doc_id, unnest(list_filter(
                    string_split_regex(lower(trim(text)), '\s+'),
                    x -> length(x) > 0)) AS tok
                  FROM documents),
      fst AS (SELECT tok, min(doc_id) AS f FROM tk GROUP BY tok),
      cps(n_docs) AS (VALUES (100), (200), (400), (800), (1600),
        (3200), (6400), (12800))
      SELECT CAST(n_docs AS BIGINT) AS n_docs,
             CAST(count(*) AS BIGINT) AS vocab_size
      FROM fst JOIN cps ON fst.f <= cps.n_docs
      GROUP BY 1 ORDER BY 1""",


    // s^r exact-integer, outer power by the SAME repeated-multiply
    // fold order as the engine (list_reduce with a prepended seed) —
    // identical IEEE doubles, no libm pow
    "q273_lsh_planner" -> """
      WITH grid AS (SELECT unnest(generate_series(1, 19)) AS i),
      cfg(b, r) AS (VALUES (16, 4), (8, 8), (32, 2), (4, 12)),
      t AS (SELECT i, b, r,
                   list_reduce(list_prepend(CAST(1 AS BIGINT),
                     list_transform(generate_series(1, r),
                       x -> CAST(i AS BIGINT))), (a, x) -> a * x)
                     AS num,
                   list_reduce(list_prepend(CAST(1 AS BIGINT),
                     list_transform(generate_series(1, r),
                       x -> CAST(20 AS BIGINT))), (a, x) -> a * x)
                     AS den
            FROM grid CROSS JOIN cfg),
      m AS (SELECT i, b, r,
                   CAST(1 AS DOUBLE) - CAST(num AS DOUBLE) /
                     CAST(den AS DOUBLE) AS miss
            FROM t)
      SELECT CAST(i AS DOUBLE) / 20.0 AS s, b, r,
             CAST(1 AS DOUBLE) - list_reduce(list_prepend(
               CAST(1 AS DOUBLE), list_transform(
                 generate_series(1, b), x -> miss)),
               (a, x) -> a * x) AS p_candidate
      FROM m ORDER BY s, b""",


    "q281_cluster_sizes" -> """
      WITH RECURSIVE
      ids AS (SELECT doc_id FROM documents),
      e AS (
        SELECT a.doc_id AS x, b.doc_id AS y FROM ids a JOIN ids b
          ON b.doc_id = a.doc_id + 1 AND a.doc_id % 7 <> 6
        UNION ALL
        SELECT a.doc_id, b.doc_id FROM ids a JOIN ids b
          ON b.doc_id = a.doc_id + 14 AND a.doc_id % 21 = 3),
      ed AS (SELECT x, y FROM e UNION ALL SELECT y, x FROM e),
      r AS (SELECT x AS id, x AS rr FROM ed
            UNION
            SELECT ed.x, r.rr FROM ed JOIN r ON ed.y = r.id),
      c AS (SELECT id, min(rr) AS comp FROM r GROUP BY id),
      fl AS (SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS comp
             FROM documents d LEFT JOIN c ON c.id = d.doc_id),
      sz AS (SELECT comp, CAST(count(*) AS BIGINT) AS cluster_size
             FROM fl GROUP BY 1)
      SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
      FROM sz GROUP BY 1 ORDER BY 1""",


    "q290_dedup_savings" -> """
      WITH RECURSIVE
      ids AS (SELECT doc_id FROM documents),
      e AS (
        SELECT a.doc_id AS x, b.doc_id AS y FROM ids a JOIN ids b
          ON b.doc_id = a.doc_id + 1 AND a.doc_id % 7 <> 6
        UNION ALL
        SELECT a.doc_id, b.doc_id FROM ids a JOIN ids b
          ON b.doc_id = a.doc_id + 14 AND a.doc_id % 21 = 3),
      ed AS (SELECT x, y FROM e UNION ALL SELECT y, x FROM e),
      r AS (SELECT x AS id, x AS rr FROM ed
            UNION
            SELECT ed.x, r.rr FROM ed JOIN r ON ed.y = r.id),
      c AS (SELECT id, min(rr) AS comp FROM r GROUP BY id),
      fl AS (SELECT d.doc_id, d.n_chars,
                    coalesce(c.comp, d.doc_id) AS comp
             FROM documents d LEFT JOIN c ON c.id = d.doc_id),
      pc AS (SELECT comp, CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(n_chars) AS BIGINT) AS chars,
                    CAST(min_by(n_chars, doc_id) AS BIGINT)
                      AS keep_chars
             FROM fl GROUP BY 1)
      SELECT CAST(count(*) AS BIGINT) AS n_clusters,
             CAST(sum(n) AS BIGINT) AS n_docs,
             CAST(sum(n - 1) AS BIGINT) AS n_removed,
             CAST(sum(chars - keep_chars) AS BIGINT) AS chars_removed,
             CAST(sum(chars) AS BIGINT) AS chars_total,
             CAST(sum(chars - keep_chars) AS DOUBLE) /
               CAST(sum(chars) AS DOUBLE) AS savings_frac
      FROM pc""",


    // chunked fold ≡ whole fold: the oracle replays the UNSEGMENTED
    // list_reduce — a hash match proves the carry-over chain
    "q293_rate_limit_chunked" -> rateLimitSql,

    // census -> MG threshold per (lang, half, shard) -> merged
    // estimates -> bracket flags, all exact integers
    "q295_vocab_manifest" -> """
      WITH t AS (SELECT lang, doc_id, unnest(list_filter(
                   string_split_regex(lower(trim(text)), '\s+'),
                   x -> length(x) > 0)) AS tok
                 FROM documents),
      occ AS (SELECT lang AS grp, tok AS v, doc_id % 2 AS half,
                     doc_id % 4 AS sh
              FROM t),
      census AS (SELECT grp, half, sh, v,
                        CAST(count(*) AS BIGINT) AS c
                 FROM occ GROUP BY 1, 2, 3, 4),
      ranked AS (SELECT grp, half, sh, v, c,
                        row_number() OVER (PARTITION BY grp, half, sh
                          ORDER BY c DESC, v ASC) AS rn
                 FROM census),
      thr AS (SELECT grp, half, sh,
                     coalesce(max(CASE WHEN rn = 13 THEN c END), 0)
                       AS th
              FROM ranked GROUP BY 1, 2, 3),
      summ AS (SELECT r.grp, r.v,
                      CAST(sum(r.c - t2.th) AS BIGINT) AS est
               FROM ranked r JOIN thr t2 USING (grp, half, sh)
               WHERE r.rn <= 12 AND r.c - t2.th > 0
               GROUP BY 1, 2),
      slack AS (SELECT grp, CAST(sum(th) AS BIGINT) AS slack
                FROM thr GROUP BY 1),
      top AS (SELECT grp, v, est,
                     CAST(row_number() OVER (PARTITION BY grp
                       ORDER BY est DESC, v ASC) AS INT) AS rnk
              FROM summ QUALIFY rnk <= 10),
      exact AS (SELECT grp, v, CAST(count(*) AS BIGINT) AS exact
                FROM occ GROUP BY 1, 2)
      SELECT t3.grp AS lang, t3.rnk, t3.v AS token, t3.est, e.exact,
             s.slack,
             (t3.est <= e.exact AND e.exact <= t3.est + s.slack)
               AS bounded
      FROM top t3
      JOIN exact e ON e.grp = t3.grp AND e.v = t3.v
      JOIN slack s ON s.grp = t3.grp
      ORDER BY 1, 2""",

    // the oracle knows the ENCODED dimensions from doc_id alone (no
    // codec): n_verified = n_imgs proves the engine's real ImageIO
    // decode recovered exactly what was encoded, per sampled doc
    "q301_image_decode" -> """
      WITH d AS (SELECT doc_id,
                        CAST(8 + doc_id % 24 AS INT) AS width,
                        CAST(8 + doc_id % 16 AS INT) AS height
                 FROM documents WHERE doc_id % 100 = 0)
      SELECT width, height, CAST(count(*) AS BIGINT) AS n_imgs,
             CAST(count(*) AS BIGINT) AS n_verified
      FROM d GROUP BY 1, 2 ORDER BY 1, 2""",

    // pixel values replayed from the (doc_id, x, y) formula — the
    // oracle needs no codec; low 24 bits are unaffected by the
    // engine's int truncation, so & 16777215 on BIGINT matches
    "q302_image_pixel_stats" -> """
      WITH d AS (SELECT doc_id,
                        CAST(8 + doc_id % 24 AS INT) AS w,
                        CAST(8 + doc_id % 16 AS INT) AS h
                 FROM documents WHERE doc_id % 100 = 0),
      px AS (SELECT d.doc_id, d.w, d.h,
                    ((d.doc_id * 31 + xs.x * 7 + ys.y * 131)
                      & 16777215) AS v
             FROM d
             JOIN (SELECT unnest(generate_series(0, 30)) AS x) xs
               ON xs.x < d.w
             JOIN (SELECT unnest(generate_series(0, 22)) AS y) ys
               ON ys.y < d.h),
      s AS (SELECT doc_id, w, h,
                   CAST(sum((v >> 16) & 255) AS BIGINT) AS r,
                   CAST(sum((v >> 8) & 255) AS BIGINT) AS g,
                   CAST(sum(v & 255) AS BIGINT) AS b,
                   CAST(count(*) AS BIGINT) AS npx
            FROM px GROUP BY 1, 2, 3)
      SELECT w, h, CAST(count(*) AS BIGINT) AS n_imgs,
             CAST(sum(r) AS BIGINT) AS sum_r,
             CAST(sum(g) AS BIGINT) AS sum_g,
             CAST(sum(b) AS BIGINT) AS sum_b,
             CAST(sum(npx) AS BIGINT) AS n_px,
             CAST(count(*) AS BIGINT) AS n_ok
      FROM s GROUP BY 1, 2 ORDER BY 1, 2""",

    // the resize oracle samples the pixel FORMULA at the nearest-
    // neighbor mapped indices sx = (x2*w)//8, sy = (y2*h)//8
    "q303_image_resize" -> """
      WITH d AS (SELECT doc_id,
                        CAST(8 + doc_id % 24 AS INT) AS w,
                        CAST(8 + doc_id % 16 AS INT) AS h
                 FROM documents WHERE doc_id % 100 = 0),
      px AS (SELECT d.doc_id, d.w, d.h,
                    ((d.doc_id * 31
                      + ((xs.x * d.w) // 8) * 7
                      + ((ys.y * d.h) // 8) * 131) & 16777215) AS v
             FROM d
             CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS x) xs
             CROSS JOIN (SELECT unnest(generate_series(0, 7)) AS y) ys),
      s AS (SELECT doc_id, w, h,
                   CAST(sum((v >> 16) & 255) AS BIGINT) AS r,
                   CAST(sum((v >> 8) & 255) AS BIGINT) AS g,
                   CAST(sum(v & 255) AS BIGINT) AS b,
                   CAST(count(*) AS BIGINT) AS npx
            FROM px GROUP BY 1, 2, 3)
      SELECT w, h, CAST(count(*) AS BIGINT) AS n_imgs,
             CAST(sum(r) AS BIGINT) AS sum_r,
             CAST(sum(g) AS BIGINT) AS sum_g,
             CAST(sum(b) AS BIGINT) AS sum_b,
             CAST(sum(npx) AS BIGINT) AS n_px,
             CAST(count(*) AS BIGINT) AS n_ok
      FROM s GROUP BY 1, 2 ORDER BY 1, 2""",

    // signed-16-bit samples replayed from the (doc_id, i) formula;
    // header properties are constants of the synthesis
    "q304_audio_decode" -> """
      WITH d AS (SELECT doc_id, CAST(64 + doc_id % 256 AS INT) AS n
                 FROM documents WHERE doc_id % 100 = 0),
      sm AS (SELECT d.doc_id, d.n,
                    ((d.doc_id * 31 + xs.i * 7) & 65535) - 32768 AS v
             FROM d
             JOIN (SELECT unnest(generate_series(0, 318)) AS i) xs
               ON xs.i < d.n)
      SELECT CAST(8000 AS INT) AS rate, CAST(1 AS INT) AS channels,
             CAST(16 AS INT) AS bits,
             CAST((SELECT count(*) FROM d) AS BIGINT) AS n_clips,
             CAST((SELECT count(*) FROM d) AS BIGINT) AS n_ok,
             CAST(count(*) AS BIGINT) AS n_samples,
             CAST(sum(v) AS BIGINT) AS sum_samples
      FROM sm""",

    // sampled frames (every 2nd, below each clip's frame count)
    // replayed from the (doc_id, f, x, y) gray formula
    "q305_frame_sample" -> """
      WITH d AS (SELECT doc_id,
                        CAST(8 + doc_id % 9 AS INT) AS w,
                        CAST(8 + doc_id % 5 AS INT) AS h,
                        CAST(3 + doc_id % 6 AS INT) AS nf
                 FROM documents WHERE doc_id % 100 = 0),
      fr AS (SELECT d.doc_id, d.w, d.h, fs.f
             FROM d
             JOIN (SELECT unnest(generate_series(0, 7)) AS f) fs
               ON fs.f < d.nf AND fs.f % 2 = 0),
      px AS (SELECT fr.doc_id, fr.f,
                    ((fr.doc_id * 31 + fr.f * 17 + xs.x * 7
                      + ys.y * 131) & 255) AS v
             FROM fr
             JOIN (SELECT unnest(generate_series(0, 16)) AS x) xs
               ON xs.x < fr.w
             JOIN (SELECT unnest(generate_series(0, 12)) AS y) ys
               ON ys.y < fr.h),
      s AS (SELECT doc_id, f, CAST(sum(v) AS BIGINT) AS sg,
                   CAST(count(*) AS BIGINT) AS npx
            FROM px GROUP BY 1, 2)
      SELECT CAST(f AS INT) AS frame_ix,
             CAST(count(*) AS BIGINT) AS n_frames,
             CAST(sum(sg) AS BIGINT) AS sum_gray,
             CAST(sum(npx) AS BIGINT) AS n_px,
             CAST(count(*) AS BIGINT) AS n_ok
      FROM s GROUP BY 1 ORDER BY 1""",

    // aHash replayed from the pixel formula: green channel at the
    // 8x8 nearest-neighbor indices, integer-floor mean threshold,
    // bits in (y, x) raster order
    "q306_image_dedup" -> """
      WITH d AS (SELECT doc_id, doc_id // 300 AS seed
                 FROM documents WHERE doc_id % 100 = 0),
      dd AS (SELECT doc_id, seed,
                    CAST(8 + seed % 24 AS INT) AS w,
                    CAST(8 + seed % 16 AS INT) AS h
             FROM d),
      cells AS (SELECT dd.doc_id, ys.y, xs.x,
                  (((dd.seed * 99991 * 31 + ((xs.x * dd.w) // 8) * 7
                     + ((ys.y * dd.h) // 8) * 131) & 16777215)
                    >> 8) & 255 AS gr
                FROM dd
                CROSS JOIN (SELECT unnest(generate_series(0, 7))
                  AS x) xs
                CROSS JOIN (SELECT unnest(generate_series(0, 7))
                  AS y) ys),
      hs AS (SELECT doc_id,
                    string_agg(CASE WHEN gr > mean THEN '1'
                      ELSE '0' END, '' ORDER BY y, x) AS ahash
             FROM (SELECT doc_id, x, y, gr,
                          CAST(sum(gr) OVER (PARTITION BY doc_id)
                            AS BIGINT) // 64 AS mean
                   FROM cells)
             GROUP BY doc_id),
      cl AS (SELECT ahash, CAST(count(*) AS BIGINT) AS sz
             FROM hs GROUP BY 1)
      SELECT sz AS cluster_size, CAST(count(*) AS BIGINT)
               AS n_clusters,
             CAST(sum(sz - 1) AS BIGINT) AS n_dupes_removable
      FROM cl GROUP BY 1 ORDER BY 1""",

    // the oracle knows which rows were damaged from doc_id
    // arithmetic alone — no codec: the engine's decode verdicts must
    // land exactly on the clean subset (n_ok) and its sniff verdicts
    // on the non-smashed subset (n_sniffed) for the hash to match
    "q307_media_quarantine" -> """
      WITH s AS (SELECT doc_id, doc_id % 35 AS r35,
                        CASE WHEN doc_id % 2 = 0 THEN 'png'
                             ELSE 'riff' END AS fmt_declared
                 FROM documents WHERE doc_id % 7 = 0)
      SELECT fmt_declared,
             CAST(count(*) AS BIGINT) AS n_media,
             CAST(sum(CASE WHEN r35 = 21 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_truncated,
             CAST(sum(CASE WHEN r35 = 28 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_smashed,
             CAST(sum(CASE WHEN r35 NOT IN (21, 28) THEN 1 ELSE 0 END)
               AS BIGINT) AS n_ok,
             CAST(sum(CASE WHEN r35 <> 28 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_sniffed
      FROM s GROUP BY 1 ORDER BY 1""",

    // container geometry/decodability are exact for JPEG even though
    // the pixels are lossy — same arithmetic oracle as q301
    "q311_jpeg_decode" -> """
      WITH d AS (SELECT doc_id,
                        CAST(8 + doc_id % 24 AS INT) AS width,
                        CAST(8 + doc_id % 16 AS INT) AS height
                 FROM documents WHERE doc_id % 100 = 0)
      SELECT width, height, CAST(count(*) AS BIGINT) AS n_imgs,
             CAST(count(*) AS BIGINT) AS n_verified
      FROM d GROUP BY 1, 2 ORDER BY 1, 2""",

    // every route's exact integer replayed with NO codec: PNG channel
    // sums and GIF frame gray sums from the synthesis formulas
    // (lossless paths), WAV signed-sample sums from the PCM formula,
    // JPEG the dims-verified count (lossy-honest)
    "q314_media_router" -> """
      WITH s AS (SELECT doc_id, doc_id % 40 AS r40
                 FROM documents WHERE doc_id % 10 = 0),
      png AS (
        SELECT 'png' AS fmt,
               CAST(count(DISTINCT p.doc_id) AS BIGINT) AS n_media,
               CAST(count(DISTINCT p.doc_id) AS BIGINT) AS n_ok,
               CAST(sum(p.rgb) AS BIGINT) AS exact_sum
        FROM (SELECT d.doc_id,
                ((((d.doc_id * 31 + xs.x * 7 + ys.y * 131)
                   & 16777215) >> 16) & 255)
                + ((((d.doc_id * 31 + xs.x * 7 + ys.y * 131)
                   & 16777215) >> 8) & 255)
                + (((d.doc_id * 31 + xs.x * 7 + ys.y * 131)
                   & 16777215) & 255) AS rgb
              FROM (SELECT doc_id,
                           CAST(8 + doc_id % 24 AS INT) AS w,
                           CAST(8 + doc_id % 16 AS INT) AS h
                    FROM s WHERE r40 = 0) d
              JOIN (SELECT unnest(generate_series(0, 30)) AS x) xs
                ON xs.x < d.w
              JOIN (SELECT unnest(generate_series(0, 22)) AS y) ys
                ON ys.y < d.h) p),
      jpeg AS (
        SELECT 'jpeg' AS fmt, CAST(count(*) AS BIGINT) AS n_media,
               CAST(count(*) AS BIGINT) AS n_ok,
               CAST(count(*) AS BIGINT) AS exact_sum
        FROM s WHERE r40 = 10),
      gif AS (
        SELECT 'gif' AS fmt,
               CAST(count(DISTINCT g.doc_id) AS BIGINT) AS n_media,
               CAST(count(DISTINCT g.doc_id) AS BIGINT) AS n_ok,
               CAST(sum(g.v) AS BIGINT) AS exact_sum
        FROM (SELECT d.doc_id,
                ((d.doc_id * 31 + fs.f * 17 + xs.x * 7
                  + ys.y * 131) & 255) AS v
              FROM (SELECT doc_id,
                           CAST(8 + doc_id % 9 AS INT) AS w,
                           CAST(8 + doc_id % 5 AS INT) AS h,
                           CAST(3 + doc_id % 6 AS INT) AS nf
                    FROM s WHERE r40 = 20) d
              JOIN (SELECT unnest(generate_series(0, 7)) AS f) fs
                ON fs.f < d.nf AND fs.f % 2 = 0
              JOIN (SELECT unnest(generate_series(0, 16)) AS x) xs
                ON xs.x < d.w
              JOIN (SELECT unnest(generate_series(0, 12)) AS y) ys
                ON ys.y < d.h) g),
      wav AS (
        SELECT 'riff' AS fmt,
               CAST(count(DISTINCT a.doc_id) AS BIGINT) AS n_media,
               CAST(count(DISTINCT a.doc_id) AS BIGINT) AS n_ok,
               CAST(sum(a.v) AS BIGINT) AS exact_sum
        FROM (SELECT d.doc_id,
                ((d.doc_id * 31 + xs.i * 7) & 65535) - 32768 AS v
              FROM (SELECT doc_id,
                           CAST(64 + doc_id % 256 AS INT) AS n
                    FROM s WHERE r40 = 30) d
              JOIN (SELECT unnest(generate_series(0, 318)) AS i) xs
                ON xs.i < d.n) a)
      SELECT * FROM png UNION ALL SELECT * FROM jpeg
      UNION ALL SELECT * FROM gif UNION ALL SELECT * FROM wav
      ORDER BY fmt""",


    // text edges replay q150's uncapped Jaccard truth over the page
    // corpus; image edges replay the aHash from the pixel formula
    // (q306's machinery); the closure is the q75 recursive-CTE CC
    "q317_crossmodal_dedup" -> """
      WITH RECURSIVE
      b AS (SELECT doc_id,
              array_to_string(list_transform(
                string_split_regex(text, '[ \t\n\f\r]+'),
                x -> 'd' || CAST(doc_id AS VARCHAR) || 'x' || x),
                ' ') AS text
            FROM documents WHERE doc_id % 20 = 0),
      pages AS (
        SELECT doc_id AS page_id, text,
               CASE WHEN doc_id % 300 = 0 THEN 0 ELSE doc_id END
                 AS seed
        FROM b
        UNION ALL
        SELECT doc_id + 1000000,
               substring(text, 1, greatest(length(text) - 30, 1)),
               doc_id + 1000000
        FROM b
        UNION ALL
        SELECT doc_id + 2000000,
               'twin' || CAST(doc_id + 2000000 AS VARCHAR),
               CASE WHEN doc_id % 300 = 0 THEN 0 ELSE doc_id END
        FROM b),
      tk AS (SELECT page_id,
               list_filter(string_split_regex(lower(trim(text)),
                 '\s+'), x -> length(x) > 0) AS toks
             FROM pages),
      sh AS (SELECT page_id,
               CASE WHEN len(toks) >= 3 THEN
                      list_distinct(list_transform(
                        generate_series(1, len(toks) - 2),
                        i -> toks[i] || ' ' || toks[i+1] || ' '
                          || toks[i+2]))
                    WHEN len(toks) > 0
                      THEN [array_to_string(toks, ' ')]
                    ELSE [] END AS s
             FROM tk),
      ex AS (SELECT page_id, unnest(s) AS g FROM sh),
      sz AS (SELECT page_id, count(*) AS sz FROM ex GROUP BY 1),
      te AS (SELECT i.id_a, i.id_b FROM (
               SELECT a.page_id AS id_a, b2.page_id AS id_b,
                      count(*) AS n_shared
               FROM ex a JOIN ex b2
                 ON a.g = b2.g AND a.page_id < b2.page_id
               GROUP BY 1, 2) i
             JOIN sz sa ON sa.page_id = i.id_a
             JOIN sz sb ON sb.page_id = i.id_b
             WHERE round(CAST(i.n_shared AS DOUBLE)
                   / (sa.sz + sb.sz - i.n_shared), 6) >= 0.5),
      dims AS (SELECT page_id, seed,
                 CAST(8 + seed % 24 AS INT) AS w,
                 CAST(8 + seed % 16 AS INT) AS h
               FROM pages),
      px AS (SELECT d.page_id, d.w, d.h,
                    ((d.seed * 31 + xs.x * 7 + ys.y * 131)
                      & 16777215) AS v
             FROM dims d
             JOIN (SELECT unnest(generate_series(0, 30)) AS x) xs
               ON xs.x < d.w
             JOIN (SELECT unnest(generate_series(0, 22)) AS y) ys
               ON ys.y < d.h),
      fs AS (SELECT page_id, w, h,
                    CAST(sum((v >> 16) & 255) AS BIGINT) AS sr,
                    CAST(sum((v >> 8) & 255) AS BIGINT) AS sg,
                    CAST(sum(v & 255) AS BIGINT) AS sb
             FROM px GROUP BY 1, 2, 3),
      gm AS (SELECT w, h, sr, sg, sb, min(page_id) AS root
             FROM fs GROUP BY 1, 2, 3, 4, 5),
      ie AS (SELECT gm.root AS id_a, fs.page_id AS id_b
             FROM fs JOIN gm USING (w, h, sr, sg, sb)
             WHERE fs.page_id <> gm.root),
      alled AS (SELECT id_a, id_b FROM te
                UNION ALL SELECT id_a, id_b FROM ie),
      ed AS (SELECT id_a AS x, id_b AS y FROM alled
             UNION ALL SELECT id_b, id_a FROM alled),
      r AS (SELECT x AS id, x AS rr FROM ed
            UNION
            SELECT ed.x, r.rr FROM ed JOIN r ON ed.y = r.id),
      c AS (SELECT id, min(rr) AS comp FROM r GROUP BY id),
      szs AS (SELECT comp, CAST(count(*) AS BIGINT) AS csz
              FROM c GROUP BY 1)
      SELECT csz AS cluster_size, CAST(count(*) AS BIGINT)
               AS n_clusters
      FROM szs GROUP BY 1 ORDER BY 1""",


    "q323_unimax_alloc" -> """
      WITH s AS (SELECT lang, CAST(sum(n_chars) AS BIGINT) AS sz
                 FROM documents GROUP BY 1),
      t AS (SELECT CAST((sum(sz) * 7) // 10 AS BIGINT) AS b,
                   CAST(count(*) AS BIGINT) AS n FROM s),
      o AS (SELECT lang, sz, b, n,
                   row_number() OVER (ORDER BY sz, lang) AS rn,
                   sum(sz) OVER (ORDER BY sz, lang
                     ROWS UNBOUNDED PRECEDING) AS cum
            FROM s CROSS JOIN t),
      f AS (SELECT *,
                   (sz * (n - rn + 1) <= b - (cum - sz)) AS raw
            FROM o),
      ff AS (SELECT coalesce(min(CASE WHEN NOT raw THEN rn END),
                             max(n) + 1) AS ff FROM f),
      ck AS (SELECT coalesce(max(CASE WHEN f.rn = ff.ff - 1
                                      THEN f.cum END), 0) AS cumk
             FROM f CROSS JOIN ff),
      p AS (SELECT f.lang, f.sz, f.rn, ff.ff,
                   f.b - ck.cumk AS r, f.n - (ff.ff - 1) AS l
            FROM f CROSS JOIN ff CROSS JOIN ck),
      q AS (SELECT lang, sz, (rn < ff) AS capped,
                   CAST(CASE WHEN rn < ff THEN sz
                        ELSE (r // l) + (CASE WHEN rn - (ff - 1)
                          <= (r % l) THEN 1 ELSE 0 END)
                   END AS BIGINT) AS alloc_bytes
            FROM p)
      SELECT lang, sz AS n_bytes, capped, alloc_bytes,
             round(alloc_bytes * 1.0 / sz, 6) AS epochs
      FROM q ORDER BY lang""",


    "q324_wand_bounds" -> """
      WITH tk AS (SELECT doc_id, unnest(list_filter(
                    string_split_regex(lower(trim(text)), '\s+'),
                    x -> length(x) > 0)) AS term
                  FROM documents WHERE lang = 'en'),
      tf AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf
             FROM tk GROUP BY 1, 2),
      rk0 AS (SELECT term, count(*) AS df FROM tf GROUP BY 1
              ORDER BY df DESC, term ASC LIMIT 20),
      rk AS (SELECT term,
                    row_number() OVER (ORDER BY df DESC, term ASC)
                      AS rn
             FROM rk0),
      qs AS (SELECT CAST(a.rn AS BIGINT) AS qid, a.term AS t1,
                    b.term AS t2
             FROM rk a JOIN rk b ON b.rn = a.rn + 10
             WHERE a.rn <= 10),
      qt AS (SELECT qid, t1 AS term FROM qs
             UNION ALL SELECT qid, t2 FROM qs),
      m AS (SELECT q.qid, f.doc_id, f.term, f.tf
            FROM qt q JOIN tf f USING (term)),
      ub AS (SELECT term, max(tf) AS ub FROM m GROUP BY 1),
      cand AS (SELECT m.qid, m.doc_id,
                      CAST(sum(m.tf) AS BIGINT) AS score,
                      CAST(sum(u.ub) AS BIGINT) AS ubound
               FROM m JOIN ub u USING (term) GROUP BY 1, 2),
      rw AS (SELECT *, row_number() OVER (PARTITION BY qid
               ORDER BY score DESC, doc_id ASC) AS r FROM cand),
      th AS (SELECT qid,
                    CAST(min(CASE WHEN r <= 10 THEN score END)
                      AS BIGINT) AS theta,
                    CAST(count(*) AS BIGINT) AS n_candidates
             FROM rw GROUP BY 1),
      sk AS (SELECT c.qid,
                    CAST(sum(CASE WHEN c.ubound < t.theta
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_skippable
             FROM cand c JOIN th t USING (qid) GROUP BY 1)
      SELECT qs.qid, qs.t1, qs.t2, th.n_candidates, th.theta,
             sk.n_skippable,
             round(sk.n_skippable * 1.0 / th.n_candidates, 6)
               AS skip_frac
      FROM qs JOIN th USING (qid) JOIN sk USING (qid)
      ORDER BY qs.qid""",


    "q327_contamination_spans" -> """
      WITH ev AS (SELECT doc_id, list_filter(
                    string_split_regex(lower(trim(text)), '\s+'),
                    x -> length(x) > 0) AS toks
                  FROM documents WHERE doc_id % 37 = 0),
      tr AS (SELECT text FROM documents WHERE doc_id % 37 <> 0
             UNION ALL
             SELECT substring(text, 1, greatest(length(text) - 25, 1))
             FROM documents WHERE doc_id % 37 = 0),
      trg AS (SELECT DISTINCT unnest(CASE WHEN len(toks) >= 8 THEN
                  list_transform(generate_series(1, len(toks) - 7),
                    i -> array_to_string(list_slice(toks, i, i + 7),
                      ' '))
                WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
                ELSE [] END) AS g
              FROM (SELECT list_filter(string_split_regex(
                      lower(trim(text)), '\s+'),
                      x -> length(x) > 0) AS toks FROM tr)),
      el AS (SELECT doc_id, toks,
                    CASE WHEN len(toks) >= 8 THEN
                      list_transform(generate_series(1, len(toks) - 7),
                        i -> array_to_string(
                          list_slice(toks, i, i + 7), ' '))
                    WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
                    ELSE [] END AS spanlist
             FROM ev),
      eg AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok,
                    unnest(spanlist) AS g,
                    CAST(generate_subscripts(spanlist, 1) - 1
                      AS BIGINT) AS strt
             FROM el),
      mk AS (SELECT eg.doc_id, eg.n_tok, eg.strt
             FROM eg JOIN trg USING (g)),
      iv AS (SELECT doc_id, n_tok, strt,
                    lead(strt) OVER (PARTITION BY doc_id
                      ORDER BY strt) AS nxt,
                    CASE WHEN lag(strt) OVER (PARTITION BY doc_id
                           ORDER BY strt) IS NULL
                         OR strt > least(lag(strt) OVER (PARTITION BY
                           doc_id ORDER BY strt) + 7, n_tok - 1) + 1
                    THEN 1 ELSE 0 END AS ni
             FROM mk),
      iv2 AS (SELECT *, sum(ni) OVER (PARTITION BY doc_id
                ORDER BY strt ROWS UNBOUNDED PRECEDING) AS isl
              FROM iv),
      cov AS (SELECT doc_id, CAST(sum(least(8, n_tok - strt,
                coalesce(nxt - strt, 8))) AS BIGINT) AS n_cont
              FROM iv2 GROUP BY 1),
      sp AS (SELECT doc_id, isl, min(strt) AS a,
                    max(least(strt + 7, n_tok - 1)) AS b
             FROM iv2 GROUP BY 1, 2),
      lg AS (SELECT doc_id, CAST(max(b - a + 1) AS BIGINT)
               AS longest_span FROM sp GROUP BY 1),
      alln AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tok
               FROM ev)
      SELECT a.doc_id AS id, a.n_tok,
             coalesce(c.n_cont, 0) AS n_contaminated,
             coalesce(l.longest_span, 0) AS longest_span,
             CASE WHEN a.n_tok > 0 THEN
               round(coalesce(c.n_cont, 0) * 1.0 / a.n_tok, 6)
             ELSE 0.0 END AS frac
      FROM alln a LEFT JOIN cov c USING (doc_id)
                  LEFT JOIN lg l USING (doc_id)
      ORDER BY a.doc_id""",


    "q331_padding_order" -> """
      WITH d AS (SELECT doc_id, doc_id % 8 AS shard,
                        CAST(len(list_filter(string_split_regex(
                          lower(trim(text)), '\s+'),
                          x -> length(x) > 0)) AS BIGINT) AS l
                 FROM documents),
      pa AS (SELECT shard, (row_number() OVER (PARTITION BY shard
               ORDER BY doc_id) - 1) // 32 AS bid, l
             FROM d),
      ba AS (SELECT shard, bid, CAST(count(*) AS BIGINT) AS bn,
                    max(l) AS mx, CAST(sum(l) AS BIGINT) AS rl
             FROM pa GROUP BY 1, 2),
      sa AS (SELECT 'arrival' AS policy,
                    CAST(count(*) AS BIGINT) AS n_batches,
                    CAST(sum(rl) AS BIGINT) AS real_tokens,
                    CAST(sum(bn * mx) AS BIGINT) AS padded_tokens
             FROM ba),
      pl AS (SELECT shard, (row_number() OVER (PARTITION BY shard
               ORDER BY l, doc_id) - 1) // 32 AS bid, l
             FROM d),
      bl AS (SELECT shard, bid, CAST(count(*) AS BIGINT) AS bn,
                    max(l) AS mx, CAST(sum(l) AS BIGINT) AS rl
             FROM pl GROUP BY 1, 2),
      sl AS (SELECT 'length_sorted' AS policy,
                    CAST(count(*) AS BIGINT) AS n_batches,
                    CAST(sum(rl) AS BIGINT) AS real_tokens,
                    CAST(sum(bn * mx) AS BIGINT) AS padded_tokens
             FROM bl),
      u AS (SELECT * FROM sa UNION ALL SELECT * FROM sl)
      SELECT policy, n_batches, real_tokens, padded_tokens,
             round(real_tokens * 1.0 / padded_tokens, 6)
               AS utilization
      FROM u ORDER BY policy""",


    "q334_selection_frontier" -> s"""
      WITH $q97ScorePrefixSql,
      nt AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS ntok
             FROM t),
      sc AS (SELECT s.doc_id, s.score, nt.ntok
             FROM s JOIN nt USING (doc_id)),
      tot AS (SELECT CAST(sum(ntok) AS BIGINT) AS tt FROM sc),
      th AS (SELECT CAST(thr AS DOUBLE) AS thr
             FROM (VALUES (0.30), (0.35), (0.40), (0.45), (0.50),
               (0.55), (0.60), (0.65), (0.70)) AS v(thr)),
      fr AS (SELECT th.thr,
                    CAST(sum(CASE WHEN sc.score >= th.thr
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_docs,
                    CAST(coalesce(sum(CASE WHEN sc.score >= th.thr
                      THEN sc.ntok END), 0) AS BIGINT) AS n_tokens,
                    min(CASE WHEN sc.score >= th.thr
                      THEN sc.score END) AS mn,
                    max(CASE WHEN sc.score >= th.thr
                      THEN sc.score END) AS mx
             FROM sc CROSS JOIN th GROUP BY 1)
      SELECT fr.thr, fr.n_docs, fr.n_tokens,
             round(fr.n_tokens * 1.0 / tot.tt, 6) AS tok_frac,
             round(fr.mn, 6) AS min_score,
             round(fr.mx, 6) AS max_score
      FROM fr CROSS JOIN tot ORDER BY fr.thr""",


    "q335_fold_leakage" -> """
      WITH e AS (SELECT
          CAST(('0x' || substring(md5(CAST(event_id AS VARCHAR)),
            1, 12)) AS BIGINT) % 5 AS row_fold,
          CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR)),
            1, 12)) AS BIGINT) % 5 AS group_fold,
          user_id
        FROM events),
      br AS (SELECT row_fold AS fold,
                    CAST(count(*) AS BIGINT) AS rows_rowfold,
                    CAST(count(DISTINCT user_id) AS BIGINT)
                      AS users_rowfold
             FROM e GROUP BY 1),
      bg AS (SELECT group_fold AS fold,
                    CAST(count(*) AS BIGINT) AS rows_groupfold,
                    CAST(count(DISTINCT user_id) AS BIGINT)
                      AS users_groupfold
             FROM e GROUP BY 1),
      pu AS (SELECT user_id, count(DISTINCT row_fold) AS nrf,
                    count(DISTINCT group_fold) AS ngf
             FROM e GROUP BY 1),
      lk AS (SELECT CAST(sum(CASE WHEN nrf > 1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS leaky_users_rowfold,
                    CAST(sum(CASE WHEN ngf > 1 THEN 1 ELSE 0 END)
                      AS BIGINT) AS leaky_users_groupfold
             FROM pu)
      SELECT br.fold, br.rows_rowfold, br.users_rowfold,
             bg.rows_groupfold, bg.users_groupfold,
             lk.leaky_users_rowfold, lk.leaky_users_groupfold
      FROM br JOIN bg USING (fold) CROSS JOIN lk
      ORDER BY br.fold""",


    "q337_dim_truncation" -> """
      WITH p AS (SELECT a.vec_id AS ida, a.embedding AS va,
                        b.embedding AS vb
                 FROM embeddings a JOIN embeddings b
                   ON b.vec_id = a.vec_id + 1
                 WHERE a.vec_id % 2 = 0),
      ks AS (SELECT unnest([4, 8, 16, 64]) AS k),
      d AS (SELECT ks.k,
                   abs(list_cosine_similarity(
                         CAST(list_slice(p.va, 1, ks.k) AS DOUBLE[]),
                         CAST(list_slice(p.vb, 1, ks.k) AS DOUBLE[]))
                     - list_cosine_similarity(
                         CAST(p.va AS DOUBLE[]),
                         CAST(p.vb AS DOUBLE[]))) AS dev
            FROM p CROSS JOIN ks)
      SELECT k, CAST(count(*) AS BIGINT) AS n_pairs,
             CAST(sum(CASE WHEN dev <= 0.05 THEN 1 ELSE 0 END)
               AS BIGINT) AS n_close,
             round(sum(CASE WHEN dev <= 0.05 THEN 1 ELSE 0 END)
               * 1.0 / count(*), 6) AS close_frac,
             round(min(dev), 6) AS min_dev,
             round(max(dev), 6) AS max_dev
      FROM d GROUP BY 1 ORDER BY 1""",


    "q342_dedup_threshold_sweep" -> """
      WITH RECURSIVE
      base AS (SELECT doc_id, text FROM documents
               UNION ALL
               SELECT doc_id + 1000000,
                      substring(text, 1,
                        greatest(length(text) - 20, 1))
               FROM documents WHERE doc_id % 3 = 0),
      tk AS (SELECT doc_id, list_filter(
               string_split_regex(lower(trim(text)), '\s+'),
               x -> length(x) > 0) AS toks FROM base),
      sh AS (SELECT doc_id,
               CASE WHEN len(toks) >= 3 THEN
                      list_distinct(list_transform(
                        generate_series(1, len(toks) - 2),
                        i -> toks[i] || ' ' || toks[i+1] || ' '
                          || toks[i+2]))
                    WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
                    ELSE [] END AS s
             FROM tk),
      ex0 AS (SELECT doc_id, unnest(s) AS g FROM sh),
      keep AS (SELECT g FROM ex0 GROUP BY g HAVING count(*) <= 16),
      ex AS (SELECT doc_id, ex0.g FROM ex0 JOIN keep USING (g)),
      sz AS (SELECT doc_id, count(*) AS sz FROM ex GROUP BY doc_id),
      inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       count(*) AS ns
                FROM ex a JOIN ex b
                  ON a.g = b.g AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
      pr AS (SELECT i.id_a, i.id_b,
                    round(CAST(i.ns AS DOUBLE)
                      / (sa.sz + sb.sz - i.ns), 6) AS j
             FROM inter i
             JOIN sz sa ON sa.doc_id = i.id_a
             JOIN sz sb ON sb.doc_id = i.id_b
             WHERE round(CAST(i.ns AS DOUBLE)
               / (sa.sz + sb.sz - i.ns), 6) >= 0.5),
      p5 AS (SELECT id_a, id_b FROM pr WHERE j >= 0.5),
      e5 AS (SELECT id_a AS x, id_b AS y FROM p5
             UNION ALL SELECT id_b, id_a FROM p5),
      r5 AS (SELECT x AS id, x AS rr FROM e5
             UNION
             SELECT e5.x, r5.rr FROM e5 JOIN r5 ON e5.y = r5.id),
      c5 AS (SELECT id, min(rr) AS comp FROM r5 GROUP BY id),
      k5 AS (SELECT CAST((SELECT count(*) FROM p5) AS BIGINT)
                      AS n_pairs,
                    CAST(count(DISTINCT comp) AS BIGINT)
                      AS n_clusters,
                    CAST(count(*) - count(DISTINCT comp) AS BIGINT)
                      AS n_removable
             FROM c5),
      p7 AS (SELECT id_a, id_b FROM pr WHERE j >= 0.7),
      e7 AS (SELECT id_a AS x, id_b AS y FROM p7
             UNION ALL SELECT id_b, id_a FROM p7),
      r7 AS (SELECT x AS id, x AS rr FROM e7
             UNION
             SELECT e7.x, r7.rr FROM e7 JOIN r7 ON e7.y = r7.id),
      c7 AS (SELECT id, min(rr) AS comp FROM r7 GROUP BY id),
      k7 AS (SELECT CAST((SELECT count(*) FROM p7) AS BIGINT)
                      AS n_pairs,
                    CAST(count(DISTINCT comp) AS BIGINT)
                      AS n_clusters,
                    CAST(count(*) - count(DISTINCT comp) AS BIGINT)
                      AS n_removable
             FROM c7),
      p9 AS (SELECT id_a, id_b FROM pr WHERE j >= 0.9),
      e9 AS (SELECT id_a AS x, id_b AS y FROM p9
             UNION ALL SELECT id_b, id_a FROM p9),
      r9 AS (SELECT x AS id, x AS rr FROM e9
             UNION
             SELECT e9.x, r9.rr FROM e9 JOIN r9 ON e9.y = r9.id),
      c9 AS (SELECT id, min(rr) AS comp FROM r9 GROUP BY id),
      k9 AS (SELECT CAST((SELECT count(*) FROM p9) AS BIGINT)
                      AS n_pairs,
                    CAST(count(DISTINCT comp) AS BIGINT)
                      AS n_clusters,
                    CAST(count(*) - count(DISTINCT comp) AS BIGINT)
                      AS n_removable
             FROM c9),
      nd AS (SELECT CAST(count(*) AS BIGINT) AS ndocs FROM base),
      u AS (SELECT CAST(0.5 AS DOUBLE) AS tau, n_pairs, n_clusters,
                   n_removable FROM k5
            UNION ALL SELECT CAST(0.7 AS DOUBLE), n_pairs,
                   n_clusters, n_removable FROM k7
            UNION ALL SELECT CAST(0.9 AS DOUBLE), n_pairs,
                   n_clusters, n_removable FROM k9)
      SELECT u.tau, u.n_pairs, u.n_clusters, u.n_removable,
             round((nd.ndocs - u.n_removable) * 1.0 / nd.ndocs, 6)
               AS keep_frac
      FROM u CROSS JOIN nd ORDER BY u.tau""",


    "q343_cross_source_dups" -> """
      WITH base AS (SELECT doc_id, text, source FROM documents
                    UNION ALL
                    SELECT doc_id + 1000000,
                           substring(text, 1,
                             greatest(length(text) - 15, 1)),
                           'mirror_' || source
                    FROM documents WHERE doc_id % 4 = 0),
      tk AS (SELECT doc_id, list_filter(
               string_split_regex(lower(trim(text)), '\s+'),
               x -> length(x) > 0) AS toks FROM base),
      sh AS (SELECT doc_id,
               CASE WHEN len(toks) >= 3 THEN
                      list_distinct(list_transform(
                        generate_series(1, len(toks) - 2),
                        i -> toks[i] || ' ' || toks[i+1] || ' '
                          || toks[i+2]))
                    WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
                    ELSE [] END AS s
             FROM tk),
      ex0 AS (SELECT doc_id, unnest(s) AS g FROM sh),
      keep AS (SELECT g FROM ex0 GROUP BY g HAVING count(*) <= 16),
      ex AS (SELECT doc_id, ex0.g FROM ex0 JOIN keep USING (g)),
      sz AS (SELECT doc_id, count(*) AS sz FROM ex GROUP BY doc_id),
      inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       count(*) AS ns
                FROM ex a JOIN ex b
                  ON a.g = b.g AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
      pr AS (SELECT i.id_a, i.id_b
             FROM inter i
             JOIN sz sa ON sa.doc_id = i.id_a
             JOIN sz sb ON sb.doc_id = i.id_b
             WHERE round(CAST(i.ns AS DOUBLE)
               / (sa.sz + sb.sz - i.ns), 6) >= 0.5),
      att AS (SELECT least(ba.source, bb.source) AS source_a,
                     greatest(ba.source, bb.source) AS source_b
              FROM pr
              JOIN base ba ON ba.doc_id = pr.id_a
              JOIN base bb ON bb.doc_id = pr.id_b),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS tp,
                     CAST(sum(CASE WHEN source_a <> source_b
                       THEN 1 ELSE 0 END) AS BIGINT) AS cp
              FROM att)
      SELECT att.source_a, att.source_b,
             CAST(count(*) AS BIGINT) AS n_pairs,
             (att.source_a <> att.source_b) AS cross_source,
             tot.tp AS total_pairs,
             round(tot.cp * 1.0 / tot.tp, 6) AS cross_frac
      FROM att CROSS JOIN tot
      GROUP BY 1, 2, 4, 5, 6
      ORDER BY 1, 2""",


    "q347_dedup_keeper_policy" -> """
      WITH RECURSIVE
      base AS (SELECT doc_id, text FROM documents
               UNION ALL
               SELECT doc_id + 1000000,
                      substring(text, 1,
                        greatest(length(text) - 20, 1))
               FROM documents WHERE doc_id % 3 = 0),
      tk AS (SELECT doc_id, text, list_filter(
               string_split_regex(lower(trim(text)), '\s+'),
               x -> length(x) > 0) AS toks FROM base),
      sh AS (SELECT doc_id,
               CASE WHEN len(toks) >= 3 THEN
                      list_distinct(list_transform(
                        generate_series(1, len(toks) - 2),
                        i -> toks[i] || ' ' || toks[i+1] || ' '
                          || toks[i+2]))
                    WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
                    ELSE [] END AS s
             FROM tk),
      ex0 AS (SELECT doc_id, unnest(s) AS g FROM sh),
      keep AS (SELECT g FROM ex0 GROUP BY g HAVING count(*) <= 16),
      ex AS (SELECT doc_id, ex0.g FROM ex0 JOIN keep USING (g)),
      sz AS (SELECT doc_id, count(*) AS sz FROM ex GROUP BY doc_id),
      inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       count(*) AS ns
                FROM ex a JOIN ex b
                  ON a.g = b.g AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
      pr AS (SELECT i.id_a, i.id_b
             FROM inter i
             JOIN sz sa ON sa.doc_id = i.id_a
             JOIN sz sb ON sb.doc_id = i.id_b
             WHERE round(CAST(i.ns AS DOUBLE)
               / (sa.sz + sb.sz - i.ns), 6) >= 0.5),
      ed AS (SELECT id_a AS x, id_b AS y FROM pr
             UNION ALL SELECT id_b, id_a FROM pr),
      r AS (SELECT x AS id, x AS rr FROM ed
            UNION
            SELECT ed.x, r.rr FROM ed JOIN r ON ed.y = r.id),
      c AS (SELECT id, min(rr) AS comp FROM r GROUP BY id),
      fe AS (SELECT doc_id,
               least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
                 AS lenf,
               CASE WHEN length(text) > 0 THEN
                 CAST(length(regexp_replace(text, '[^[:punct:]]', '',
                   'g')) AS DOUBLE) / CAST(length(text) AS DOUBLE)
                 ELSE 0.0 END AS punct,
               CASE WHEN length(text) > 0 THEN
                 CAST(length(regexp_replace(text, '[^A-Z]', '', 'g'))
                   AS DOUBLE) / CAST(length(text) AS DOUBLE)
                 ELSE 0.0 END AS upper_r,
               CASE WHEN len(toks) > 0 THEN
                 CAST(len(list_filter(toks, x -> list_contains(
                   ['the','a','an','and','or','of','to','in','is',
                    'it','that','for','on','with','as','was','at',
                    'by','be','this'], x)))
                   AS DOUBLE) / CAST(len(toks) AS DOUBLE)
                 ELSE 0.0 END AS swr,
               CASE WHEN len(toks) > 0 THEN
                 CAST(list_sum(list_transform(toks, x -> length(x)))
                   AS DOUBLE) / CAST(len(toks) AS DOUBLE)
                 ELSE 0.0 END AS mwl
             FROM tk),
      sc AS (SELECT doc_id AS id,
               0.5 + 0.5 * (lg / (1.0 + abs(lg))) AS score
             FROM (SELECT doc_id,
                     ((((-1.0 + 1.2 * lenf) + -3.0 * punct)
                       + -1.5 * upper_r) + 2.5 * swr) + -0.05 * mwl
                       AS lg
                   FROM fe)),
      j AS (SELECT c.comp, c.id, sc.score
            FROM c JOIN sc USING (id)),
      kq AS (SELECT comp, id AS keeper_quality FROM (
               SELECT comp, id, row_number() OVER (
                 PARTITION BY comp
                 ORDER BY score DESC, id ASC) AS rn
               FROM j) WHERE rn = 1)
      SELECT j.comp, CAST(count(*) AS BIGINT) AS cluster_size,
             CAST(min(j.id) AS BIGINT) AS keeper_minid,
             CAST(max(kq.keeper_quality) AS BIGINT) AS keeper_quality,
             (min(j.id) <> max(kq.keeper_quality)) AS differs
      FROM j JOIN kq USING (comp)
      GROUP BY 1 ORDER BY 1""",


    "q349_batch_mixing" -> """
      WITH d AS (SELECT doc_id, doc_id % 8 AS shard, source,
                        CAST(('0x' || substring(md5(
                          CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT)
                          AS h
                 FROM documents),
      bf AS (SELECT shard, source,
                    (row_number() OVER (PARTITION BY shard
                      ORDER BY source, doc_id) - 1) // 8 AS bid
             FROM d),
      bs AS (SELECT shard, source,
                    (row_number() OVER (PARTITION BY shard
                      ORDER BY h, doc_id) - 1) // 8 AS bid
             FROM d),
      pf AS (SELECT shard, bid, CAST(count(DISTINCT source) AS BIGINT)
               AS ns,
               max(c) AS topc, CAST(sum(c) AS BIGINT) AS n
             FROM (SELECT shard, bid, source,
                     CAST(count(*) AS BIGINT) AS c
                   FROM bf GROUP BY 1, 2, 3)
             GROUP BY 1, 2),
      ps AS (SELECT shard, bid, CAST(count(DISTINCT source) AS BIGINT)
               AS ns,
               max(c) AS topc, CAST(sum(c) AS BIGINT) AS n
             FROM (SELECT shard, bid, source,
                     CAST(count(*) AS BIGINT) AS c
                   FROM bs GROUP BY 1, 2, 3)
             GROUP BY 1, 2),
      u AS (SELECT 'file_ordered' AS policy,
                   CAST(count(*) AS BIGINT) AS n_batches,
                   CAST(sum(CASE WHEN topc * 2 > n THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_dominated,
                   CAST(min(ns) AS BIGINT) AS min_sources,
                   CAST(max(ns) AS BIGINT) AS max_sources
            FROM pf
            UNION ALL
            SELECT 'shuffled', CAST(count(*) AS BIGINT),
                   CAST(sum(CASE WHEN topc * 2 > n THEN 1 ELSE 0 END)
                     AS BIGINT),
                   CAST(min(ns) AS BIGINT), CAST(max(ns) AS BIGINT)
            FROM ps)
      SELECT policy, n_batches, n_dominated,
             round(n_dominated * 1.0 / n_batches, 6)
               AS dominated_frac,
             min_sources, max_sources
      FROM u ORDER BY policy"""
  )
}
