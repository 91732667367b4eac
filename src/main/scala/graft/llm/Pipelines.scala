package graft.llm

import graft.operators.Lifecycle
import graft.sources.Sinks
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** End-to-end training-data preparation, composed from the graft
  * operators — the "a user of the reference could run their pipeline
  * here" surface. Each stage is a narrow, shuffle-minimal transform:
  *
  * {{{
  * raw documents
  *   -> language id + quality scoring        (one kernel call per row)
  *   -> exact dedup on md5(text)             (one hash shuffle)
  *   -> quality floor filter                 (over the scored column)
  *   -> near-dup removal via MinHash LSH     (band equi-join)
  *   -> partitioned write by language        (rollover-style sink)
  * }}}
  */
object Pipelines {

  /** Score + filter + dedup a document frame. Returns the surviving
    * documents with `lang_pred`, `quality`, `fingerprint` columns. */
  def prepareCorpus(docs: DataFrame, id: Column, text: Column,
                    minQuality: Double = 0.3,
                    nearDupJaccard: Double = 0.8): DataFrame = {
    // exact dedup: identical text keeps lowest id. The quality floor
    // comes after it and keeps the same documents (equal md5 means
    // equal text, so every copy has the quality of the one kept); below
    // the dedup Window it would be pushed into the scoring projection as
    // a Filter, which runs the kernel again for every reference to it.
    // Checkpointed — it feeds BOTH the near-dup pair mining and the
    // returned anti-join, so recomputing it would re-run the whole
    // scoring projection; a checkpoint (unlike a persist) leaves no
    // cache entry a later read of the same path could match, and its
    // blocks go with the frame.
    val exact = Dedup.exactByKey(scoreColumns(docs, text),
        Seq(col("fingerprint")), id)
      .filter(col("quality") >= minQuality)
      .localCheckpoint()
    removeNearDups(exact, id, text, nearDupJaccard)
  }

  /** [[prepareCorpus]] with per-stage observability and a circuit
    * breaker: runs score -> quality floor -> exact dedup -> near-dup
    * removal with a [[PipelineObserver]] checkpoint at every stage
    * boundary, writes the surviving corpus to `outPath`, and returns
    * the per-stage metrics frame (stage_ix, stage, n_in, n_kept,
    * kept_frac). The counters are accumulator-backed observe() points
    * riding the write job itself — no second scan of the corpus.
    *
    * `abortBelowKeptFrac` is the breaker floor: any stage keeping less
    * than that fraction of its input throws [[CurationAborted]] — the
    * "did this filter eat 90% of the corpus?" guard a 100 TB run wants
    * BEFORE downstream training consumes the output. The corpus is
    * already written when the breaker fires (metrics ride the write);
    * callers treat the exception as "do not promote the output". */
  def curateObserved(docs: DataFrame, id: Column, text: Column,
                     outPath: String,
                     minQuality: Double = 0.3,
                     nearDupJaccard: Double = 0.8,
                     abortBelowKeptFrac: Double = 0.0): DataFrame = {
    val po = new PipelineObserver
    val raw = po.checkpoint("raw", docs)
    val scored = scoreCorpus(raw, text, minQuality)
    val q = po.checkpoint("quality_floor", scored)
    // checkpoint the boundary, eagerly: near-dup removal reads this
    // frame twice (pair mining + survivor anti-join), and an
    // Observation latches the FIRST execution containing its node,
    // while connected components' checks short-circuit (take/limit).
    // The eager checkpoint is that first execution, a full one, so
    // every observation below it latches its full count.
    val exact = po.checkpoint("exact_dedup",
        Dedup.exactByKey(q, Seq(col("fingerprint")), id))
      .localCheckpoint()
    try {
      val fin = po.checkpoint("near_dedup",
        removeNearDups(exact, id, text, nearDupJaccard))
      Sinks.replace(fin, outPath)
    } finally Lifecycle.release(exact)
    po.assertKeptFloor(abortBelowKeptFrac)
    po.metricsDF(docs.sparkSession)
  }

  /** Stage 1: language id + quality + content fingerprint
    * ([[TextAnalysis.fingerprint]], md5 of the text), quality floor
    * applied. Row-local, no shuffle — callers that also need audit
    * counts checkpoint THIS frame and reuse it instead of re-running
    * the pipeline.
    *
    * The kernel's struct is the output of a one-element `explode`: a
    * Filter is pushed below a Project by substituting its aliases, so
    * over a projected kernel column the floor would call the kernel
    * once per reference to it; it cannot be pushed below a Generate
    * whose output it reads, so it reads the struct. */
  def scoreCorpus(docs: DataFrame, text: Column,
                  minQuality: Double = 0.3): DataFrame =
    scoreColumns(docs, text, ts => explode(array(ts)))
      .filter(col("quality") >= minQuality)

  /** `lang_pred`, `quality` and `fingerprint` added to `docs`, with the
    * text_stats kernel staged (by `stage`) as a column both scores
    * read, so a row runs it once (CollapseProject keeps a
    * multiply-referenced non-cheap alias in its own projection). */
  private def scoreColumns(docs: DataFrame, text: Column,
                           stage: Column => Column = identity): DataFrame =
    docs.withColumn("__ts", stage(graft.functions.text_stats(text)))
      .withColumn("lang_pred", TextAnalysis.langIdFromStats(col("__ts")))
      .withColumn("quality", TextAnalysis.qualityFromStats(col("__ts")))
      .withColumn("fingerprint", TextAnalysis.fingerprint(text))
      .drop("__ts")

  /** Stage 3: near-dup removal with TRANSITIVE cluster semantics:
    * pairs -> connected components -> keep the min-id member per
    * cluster. (Dropping just each pair's higher id under-deletes when
    * the pair list is partial — e.g. pairs (a,c),(b,c) would keep both
    * a and b even though they sit in one near-dup cluster through c.) */
  def removeNearDups(deduped: DataFrame, id: Column, text: Column,
                     nearDupJaccard: Double = 0.8): DataFrame = {
    val pairs = Dedup.minhashPairs(deduped, id, text,
      threshold = nearDupJaccard)
    // components are computed eagerly, so the pairs (and the signature
    // checkpoint behind them) are dead once clusterSurvivors returns
    try Dedup.clusterSurvivors(deduped, id, pairs, col("id_a"), col("id_b"))
    finally Lifecycle.release(pairs)
  }

  /** Write the prepared corpus partitioned by predicted language —
    * downstream per-language training reads prune to one partition. */
  def writeByLanguage(prepared: DataFrame, path: String): Unit =
    Sinks.replace(prepared, path, Seq("lang_pred"))

  /** Deterministic hash bucket in [0, nBuckets) from an id column: the
    * first 4 hex chars of md5(id) read as an integer, mod nBuckets.
    * Stable under repartitioning/reruns (pure function of the id, no
    * RNG, no row order), portable across engines (md5 everywhere) —
    * the standard way to split a training corpus so the assignment
    * never moves when the pipeline is re-run or the data re-sharded. */
  def hashBucket(id: Column, nBuckets: Int = 100): Column =
    pmod(conv(substring(md5(id.cast("string").cast(
        org.apache.spark.sql.types.BinaryType)), 1, 4), 16, 10)
      .cast("int"), lit(nBuckets))

  /** Train/val/test assignment by hash bucket: bucket < trainPct ->
    * "train", < trainPct+valPct -> "val", else "test". Row-local
    * projection — no shuffle, no sampling nondeterminism. */
  def splitAssign(id: Column, trainPct: Int = 80, valPct: Int = 10)
      : Column = {
    val b = hashBucket(id, 100)
    when(b < trainPct, lit("train"))
      .when(b < trainPct + valPct, lit("val"))
      .otherwise(lit("test"))
  }

  /** Deterministic stratified sampling: keep `pct(group)`% of each
    * group's rows, selected by the id's md5 bucket — per-group mixing
    * ratios for corpus blending (e.g. downsample web text, keep all
    * code), stable under reshuffling/reruns like [[hashBucket]], no
    * RNG. Groups absent from `pct` keep `defaultPct`. Row-local
    * projection + pushable filter: no shuffle, no sampling state. */
  def stratifiedSample(docs: DataFrame, id: Column, group: Column,
                       pct: Map[String, Int],
                       defaultPct: Int = 100): DataFrame = {
    val pctCol = pct.foldLeft(lit(defaultPct)) { case (acc, (g, p)) =>
      when(group === g, lit(p)).otherwise(acc)
    }
    docs.filter(hashBucket(id, 100) < pctCol)
  }

  /** Token-BUDGET balanced subsampling — the step that turns a target
    * training-token count into an actual corpus: give every source an
    * equal token share (budget/k, capped at keeping everything) and
    * select docs by the same deterministic md5 threshold as
    * [[hashBucket]]. Heavy sources are downsampled hard, tiny sources
    * survive whole — the balanced-mixture recipe, with zero RNG and
    * full cross-engine replayability.
    *
    * Determinism: per-source rates are floor'd to a 16-bit integer
    * threshold computed from exact integer token totals with a fixed
    * division order, so engines agree bit-for-bit; membership is a
    * pure function of the id.
    *
    * Scale: one map-side-combining groupBy for the per-source totals
    * (k rows), a broadcast back, and a row-local pushable filter —
    * the corpus is never shuffled. */
  def sampleToTokenBudget(docs: DataFrame, id: Column, source: Column,
                          nTok: Column, budgetTokens: Long): DataFrame = {
    val tot = docs.groupBy(source.as("__src"))
      .agg(sum(nTok.cast("long")).as("__tok"))
    val k = tot.agg(count(lit(1)).as("__k"))
    val thr = tot.crossJoin(broadcast(k)).select(col("__src"),
      floor(least(lit(1.0),
        lit(budgetTokens).cast("double") / col("__k") / col("__tok"))
        * lit(65536)).as("__thr"))
    docs.join(broadcast(thr), source <=> col("__src"), "inner")
      .filter(hashBucket(id, 65536) < col("__thr"))
      .drop("__src", "__thr")
  }

  /** Sequence packing for training: concatenate documents (in id order,
    * within a shard) into fixed-token-budget sequences, documents
    * spanning pack boundaries (GPT-style chunked concatenation). Emits
    * per doc the half-open pack range it lands in:
    * first_pack = floor(tokens_before / budget),
    * last_pack  = floor((tokens_before + n_tok - 1) / budget).
    *
    * Scale: packing is sequential BY CONSTRUCTION, so the global order
    * is sharded — the window partitions by `shard` (a corpus has
    * thousands of shards; each window partition is one shard's docs,
    * not the corpus). One shuffle on the shard key, then a sorted
    * running sum inside each partition. */
  def packSequences(docs: DataFrame, id: Column, shard: Column,
                    nTok: Column, budget: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(col("id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    docs
      .select(id.as("id"), shard.as("shard"), nTok.cast("long").as("n_tok"))
      .withColumn("__before", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .select(col("id"), col("shard"), col("n_tok"),
        (col("__before") / budget).cast("long").as("first_pack"),
        (when(col("n_tok") > 0, col("__before") + col("n_tok") - 1)
          .otherwise(col("__before")) / budget).cast("long").as("last_pack"))
  }

  /** Overlapping token-window chunking — the retrieval/context-window
    * complement to [[packSequences]]: split each document into windows
    * of `size` tokens advancing by `stride` (stride < size ⇒ overlap).
    * Chunk count for n tokens is ceil(max(n-size,0)/stride)+1 (the last
    * chunk may be short; token-less docs emit nothing), so every token
    * is covered and starts are the deterministic 0, stride, 2·stride….
    *
    * Purely row-local: tokenize once, explode the per-doc chunk index,
    * slice — no shuffle, and output size is input·(≈size/stride), an
    * explicitly chosen duplication factor. The guard keeps Spark's
    * `sequence` from producing a DESCENDING range for empty docs
    * (sequence(0,-1) = [0,-1], not []). */
  def chunkDocs(docs: DataFrame, id: Column, text: Column,
                size: Int, stride: Int): DataFrame = {
    require(stride > 0 && size >= stride, s"need 0 < stride <= size")
    val toks = TextAnalysis.tokens(text)
    val n = org.apache.spark.sql.functions.size(toks)
    val nChunks = when(n > 0,
      ceil(greatest(n - size, lit(0)).cast("double") / stride)
        .cast("int") + 1).otherwise(lit(0))
    docs
      .select(id.as("doc_id"), toks.as("__toks"), nChunks.as("__nc"))
      .select(col("doc_id"),
        explode(when(col("__nc") > 0,
          sequence(lit(0), col("__nc") - 1)).otherwise(
          array().cast("array<int>"))).as("chunk_ix"),
        col("__toks"))
      .select(col("doc_id"), col("chunk_ix"),
        slice(col("__toks"), col("chunk_ix") * stride + 1, lit(size))
          .as("__chunk"))
      .select(col("doc_id"), col("chunk_ix"),
        org.apache.spark.sql.functions.size(col("__chunk")).as("n_tokens"),
        array_join(col("__chunk"), " ").as("chunk_text"))
  }

  /** Per-group boilerplate line removal (the CCNet recipe re-derived
    * in DataFrame terms: lines shared by most documents of a source —
    * headers, footers, nav chrome, cookie banners — carry no training
    * signal and poison dedup): a line is boilerplate within its group
    * when it appears in >= `minDocs` documents AND >= `minDocFrac` of
    * the group's documents; every such line is stripped from every
    * document of the group, preserving the order of the surviving
    * lines.
    *
    * Shape, and why it scales: the doc-frequency census explodes
    * DISTINCT lines per document (`array_distinct` before the explode
    * — a document repeating its own footer counts once) into a narrow
    * (group, line) frame — one shuffle. The per-group boilerplate
    * LISTS are tiny by construction (only lines crossing the
    * `minDocFrac` bar survive), so they broadcast, and the strip
    * itself is a row-local `filter(lines, !array_contains(blist, _))`
    * — document text is never shuffled, and the whole strip stage
    * adds zero exchanges. Output: (doc_id, grp, clean_text, n_lines,
    * n_kept).
    *
    * Determinism contract: lines split on literal '\n', space-trimmed
    * (Spark trim = DuckDB trim: spaces only), blank lines dropped
    * before counting; the frequency threshold compares exact integer
    * counts (`df >= n_docs * minDocFrac` in doubles — both engines
    * evaluate the identical product). */
  def stripBoilerplate(docs: DataFrame, docId: Column, group: Column,
                       text: Column, minDocFrac: Double = 0.5,
                       minDocs: Int = 2): DataFrame = {
    val base = docs.select(docId.as("doc_id"), group.as("grp"),
      text.as("txt"))
    val withLines = base.withColumn("lines",
      filter(transform(split(col("txt"), "\n"), l => trim(l)),
        l => length(l) > 0))
    val census = withLines
      .select(col("grp"), explode(array_distinct(col("lines"))).as("line"))
      .groupBy(col("grp"), col("line"))
      .agg(count(lit(1)).as("df"))
    val sizes = base.groupBy(col("grp")).agg(count(lit(1)).as("n_docs"))
    val boiler = census.join(sizes, Seq("grp"))
      .filter(col("df") >= minDocs &&
        col("df").cast("double") >= col("n_docs") * lit(minDocFrac))
      .groupBy(col("grp"))
      .agg(sort_array(collect_list(col("line"))).as("blist"))
    withLines.join(broadcast(boiler), Seq("grp"), "left")
      .withColumn("blist",
        coalesce(col("blist"), array().cast("array<string>")))
      .withColumn("clean",
        filter(col("lines"), l => !array_contains(col("blist"), l)))
      .select(col("doc_id"), col("grp"),
        array_join(col("clean"), "\n").as("clean_text"),
        size(col("lines")).cast("long").as("n_lines"),
        size(col("clean")).cast("long").as("n_kept"))
  }

  /** (id, fp) content-fingerprint frame for [[snapshotDiff]] — fp is
    * [[TextAnalysis.fingerprint]], the md5 of the raw text. */
  def withFingerprint(df: DataFrame, id: Column, text: Column): DataFrame =
    df.select(id.as("id"), TextAnalysis.fingerprint(text).as("fp"))

  /** Corpus snapshot diff — the incremental-refresh primitive: given
    * two (id, fp) fingerprint frames (see [[withFingerprint]]), emit
    * per id whether it was added, removed, changed, or unchanged
    * between snapshots. One full-outer equi-join on the id — with both
    * snapshots bucketed/partitioned by id (the natural layout for
    * fingerprint stores, cf. [[Dedup.incrementalExact]]) the join is
    * co-located and the fingerprints are the ONLY bytes read: corpus
    * text is never touched, so the diff costs a fingerprint scan
    * regardless of document sizes. */
  def snapshotDiff(prev: DataFrame, cur: DataFrame): DataFrame =
    prev.select(col("id"), col("fp").as("__fp_prev"))
      .join(cur.select(col("id"), col("fp").as("__fp_cur")),
        Seq("id"), "full_outer")
      .select(col("id"),
        when(col("__fp_prev").isNull, lit("added"))
          .when(col("__fp_cur").isNull, lit("removed"))
          .when(col("__fp_prev") =!= col("__fp_cur"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))

  /** MATERIALIZE a [[mixtureWeights]] plan into an actual training mix:
    * per source with `target_docs = t` over `n` documents, every doc
    * is repeated `t div n` times and the `t mod n` docs FIRST in the
    * deterministic (md5(id), id) order get one extra copy — so each
    * source lands on exactly `t` rows, upsampled sources repeat whole
    * epochs plus a stable fractional slice, and downsampled sources
    * keep a stable subset. Zero RNG: reruns and resharding reproduce
    * the mix bit-for-bit.
    *
    * The "first `r` docs per source" selection is EXACT without a
    * corpus-wide sort (the naive `row_number() over (partition by
    * source order by md5)` sorts a dominant source's whole corpus in
    * one partition — the anti-pattern [[Curation.topKPerGroup]]
    * documents). Histogram-refine instead:
    *   1. bucket rows by the first 2 hex chars of md5(id) (256
    *      buckets; bucket order == md5-string order since hex digits
    *      ascend in ASCII);
    *   2. one map-side-combining count per (source, bucket) + a
    *      running sum over that k×256-row histogram finds each
    *      source's BOUNDARY bucket — all lower buckets are wholly in,
    *      all higher wholly out;
    *   3. only boundary-bucket rows (~1/256 of the corpus) are ranked,
    *      partitioned by (source, bucket) — no partition ever holds
    *      more than a bucket.
    * Returns (source, id, copy) with copy in 1..ceil(t/n). */
  def materializeMixture(docs: DataFrame, id: Column, source: Column,
                         weights: DataFrame): DataFrame = {
    val w = weights.select(col("source"),
      col("n_docs").cast("long").as("__n"),
      col("target_docs").cast("long").as("__t"))
    val narrow = docs
      .select(source.as("source"), id.cast("long").as("id"))
      .withColumn("__h", md5(col("id").cast("string")
        .cast(org.apache.spark.sql.types.BinaryType)))
      .withColumn("__b",
        conv(substring(col("__h"), 1, 2), 16, 10).cast("int"))
    val hist = narrow.groupBy(col("source"), col("__b"))
      .agg(count(lit(1)).as("__cnt"))
    val hw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("__b"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
    val marked = hist
      .withColumn("__before", coalesce(sum(col("__cnt")).over(hw), lit(0L)))
      .join(w, Seq("source"))
      .withColumn("__r", pmod(col("__t"), col("__n")))
      .withColumn("__base", expr("__t div __n"))
      // whole bucket in, whole bucket out, or the per-source boundary
      .withColumn("__class",
        when(col("__before") + col("__cnt") <= col("__r"), lit("in"))
          .when(col("__before") >= col("__r"), lit("out"))
          .otherwise(lit("boundary")))
      .withColumn("__need", col("__r") - col("__before"))
      .select(col("source"), col("__b"), col("__base"), col("__class"),
        col("__need"))
    val tagged = narrow.join(broadcast(marked), Seq("source", "__b"))
    val whole = tagged.filter(col("__class") =!= "boundary")
      .withColumn("__extra",
        when(col("__class") === "in", lit(1L)).otherwise(lit(0L)))
    val bw = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"), col("__b"))
      .orderBy(col("__h"), col("id"))
    val boundary = tagged.filter(col("__class") === "boundary")
      .withColumn("__extra",
        when(row_number().over(bw) <= col("__need"), lit(1L))
          .otherwise(lit(0L)))
    whole.unionByName(boundary)
      .withColumn("__copies", (col("__base") + col("__extra")).cast("int"))
      .filter(col("__copies") >= 1)
      .select(col("source"), col("id"),
        explode(sequence(lit(1), col("__copies"))).as("copy"))
  }

  /** Temperature-based mixture weighting for multi-source corpus
    * blending (the UnifiedQA/T5 "sampling ∝ size^τ" recipe, τ<1
    * up-weights small sources): per source, sampling probability
    * pᵢ = cᵢ^τ / Σ cⱼ^τ and the resulting document budget and
    * per-source sampling rate (rate > 1 ⇒ the source repeats — epochs
    * over small sources).
    *
    * One narrow groupBy(count) reduces the corpus to #sources rows;
    * the normalizing Σ is computed by cross-joining that tiny frame
    * with its own single-row sum (broadcast, no global window). The
    * per-source `rate` then drives [[stratifiedSample]]/[[hashBucket]]
    * — weighting stays a metadata computation, never a corpus shuffle. */
  def mixtureWeights(docs: DataFrame, source: Column,
                     temperature: Double, budget: Long): DataFrame = {
    val counts = docs.groupBy(source.as("source")).count()
      .withColumn("w", pow(col("count").cast("double"), temperature))
    val total = counts.agg(sum(col("w")).as("__wsum"))
    counts.crossJoin(broadcast(total))
      // pin p to 9 digits BEFORE deriving the integer budget: pow is
      // libm (its last ULP differs between JVM and DuckDB) and
      // round(p*budget) would amplify a 1-ULP disagreement into an
      // off-by-one document count under a differential oracle / on a
      // re-run in a different engine
      .select(col("source"), col("count").as("n_docs"),
        round(col("w") / col("__wsum"), 9).as("p"))
      .withColumn("target_docs",
        round(col("p") * budget).cast("long"))
      .withColumn("rate",
        col("target_docs").cast("double") / col("n_docs"))
  }
}
