package graft.llm

import graft.operators.Lifecycle
import graft.sources.Sinks
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard verification.
  *
  * Scale design (100 TB):
  *  - exact dedup is a single hash-shuffle on the dedup key;
  *  - minhash signatures are row-local column math (higher-order
  *    functions over the shingle array) — ZERO shuffle and no driver
  *    state; the only exchange in the whole pipeline is the band join;
  *  - LSH banding turns the O(n²) pair space into an equi-join on
  *    (band index, band hash) — only same-bucket docs ever meet, and the
  *    band join is a plain shuffle join AQE can skew-split;
  *  - candidate pairs are exact-verified with Jaccard over shingle sets,
  *    so precision is 1.0 and recall is the standard LSH S-curve.
  */
object Dedup {

  /** Exact dedup: keep the lowest-id row per key. Deterministic (unlike
    * dropDuplicates, whose survivor depends on partition order). */
  def exactByKey(df: DataFrame, key: Seq[Column], id: Column): DataFrame = {
    val w = Window.partitionBy(key: _*).orderBy(id.asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Near-duplicate pairs via MinHash + LSH banding, exact-verified.
    *
    * @param df        input with an id and a text column
    * @param numHashes signature length (bands * rowsPerBand)
    * @param bands     LSH bands; rows/band = numHashes/bands controls the
    *                  similarity S-curve threshold (~ (1/bands)^(band/rows))
    * @param threshold exact-Jaccard floor for verified output pairs
    * @return (id_a, id_b, jaccard) with id_a < id_b, one row per pair
    */
  def minhashPairs(df: DataFrame, id: Column, text: Column,
                   numHashes: Int = 64, bands: Int = 16,
                   shingleN: Int = 3, threshold: Double = 0.5): DataFrame =
    minhashPairsFromShingles(
      df.select(id.as("id"),
        TextAnalysis.shingleHashes(text, shingleN).as("sh")),
      numHashes, bands, threshold)

  /** [[minhashPairs]] over a PRE-STAGED (id, sh) shingle-hash frame —
    * pipelines computing several dedup signals (e.g. LSH plus the exact
    * inverted index) stage the shingle scan once and feed both. */
  def minhashPairsFromShingles(shingled: DataFrame,
                               numHashes: Int = 64, bands: Int = 16,
                               threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    // staged: token hashes -> arithmetic shingle hashes (no n-gram
    // strings) -> signature by integer double-hashing. The signature
    // table is CHECKPOINTED: it is read by both sides of the band
    // self-join and again for candidate verification — without it the
    // whole pipeline would recompute 4x — and the returned pairs read
    // it after this call, so it is a checkpoint, not a persist (free it
    // with [[Lifecycle.release]] on the pairs). At 100 TB it is
    // signatures-only (numHashes longs + shingle hashes per doc), a
    // small fraction of corpus size, spilling to executor disk.
    val withSig = shingled
      .filter(size(col("sh")) > 0)
      .withColumn("sig",
        graft.functions.minhash_sig(col("sh"), numHashes))
      .select("id", "sh", "sig")
      .localCheckpoint()
    // band hash = hash of the signature slice; explode to (id, band, bh).
    // Only (id, band, bh) is shuffled — shingle arrays stay in the
    // checkpoint and are joined back for the (small) candidate set only.
    val banded = withSig.select(
      col("id"),
      posexplode(array((0 until bands).map { b =>
        xxhash64(concat_ws(",",
          (0 until rows).map(r => col("sig")(b * rows + r)): _*))
      }: _*)).as(Seq("band", "bh")))
    val candidates = banded.join(
        banded.withColumnRenamed("id", "id_b"), Seq("band", "bh"))
      .filter(col("id") < col("id_b"))
      .select(col("id").as("id_a"), col("id_b")).distinct()
    candidates
      .join(withSig.select(col("id").as("id_a"), col("sh").as("sh_a")),
        Seq("id_a"))
      .join(withSig.select(col("id").as("id_b"), col("sh").as("sh_b")),
        Seq("id_b"))
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Exact n-gram Jaccard near-dup pairs via an INVERTED INDEX: explode
    * the (distinct) word-shingle sets, self-join on the shingle, and
    * count shared shingles per pair — |A∩B| by group-count, |A∪B| from
    * the per-doc set sizes. Only pairs sharing at least one shingle are
    * ever materialized, so the cost is Σ_g df(g)² over shingles instead
    * of the O(n²) all-pairs space; every step is a plain shuffle the
    * optimizer can partial-aggregate. This is the exact counterpart of
    * [[minhashPairs]] (which approximates the same candidate generation
    * with LSH when even the inverted index is too hot).
    *
    * `maxDf` guards the quadratic hot-shingle hazard: a shingle in d
    * documents generates d² index pairs, so boilerplate phrases make the
    * self-join blow up (measured: 52% of the whole sf0.1 benchmark before
    * the cap). Shingles with document frequency > maxDf are dropped from
    * the index AND from the per-doc set sizes — i.e. Jaccard is computed
    * over the df-filtered shingle space (CCNet-style stop-shingle
    * pruning). Near-duplicates share many RARE shingles, so recall loss
    * at sane caps is negligible, and the join cost is bounded by
    * maxDf × |index| — linear in the corpus. Set maxDf = 0 to disable
    * (exact full-space Jaccard; only safe on corpora with no hot
    * shingles). */
  def ngramJaccardPairs(df: DataFrame, id: Column, text: Column,
                        shingleN: Int = 3, threshold: Double = 0.5,
                        hashedShingles: Boolean = true, maxDf: Int = 128)
      : DataFrame = {
    // hashedShingles: index on the native single-pass 64-bit shingle
    // hashes instead of n-gram strings — equality of hashes ≡ equality
    // of shingles (collisions ~1e-19/pair), set sizes and intersection
    // counts are identical, and the per-doc cost drops from one
    // interpreted lambda per token to one fused loop per row. Set false
    // only when the downstream needs the n-gram text itself.
    val shingleExpr =
      if (hashedShingles) TextAnalysis.shingleHashes(text, shingleN)
      else TextAnalysis.shingles(text, shingleN)
    ngramJaccardPairsFromShingles(
      df.select(id.as("id"), shingleExpr.as("s")), threshold, maxDf)
  }

  /** [[ngramJaccardPairs]] over a PRE-STAGED (id, s) shingle frame
    * (hashes or strings — only equality is used). */
  def ngramJaccardPairsFromShingles(shingled: DataFrame,
                                    threshold: Double = 0.5,
                                    maxDf: Int = 128): DataFrame = {
    val (inter, sizes) = pairIntersections(shingled, maxDf)
    val j = col("n_shared").cast("double") /
      (col("sz_a") + col("sz_b") - col("n_shared")).cast("double")
    // sizes is per-doc — big at corpus scale; no broadcast hint, AQE
    // picks broadcast when it fits and shuffle-join otherwise
    inter
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")), "id_b")
      .withColumn("jaccard", round(j, 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** EXACT all-pairs Jaccard via PREFIX FILTERING — the AllPairs/
    * PPJoin family recipe (Bayardo et al. 2007 "Scaling Up All Pairs
    * Similarity Search", Xiao et al. 2008; public recipes re-derived
    * in DataFrame form): order every doc's shingles by GLOBAL rarity
    * (df asc, shingle asc); a pair with J ≥ t must share at least one
    * shingle within each doc's first |d| − ⌈t·|d|⌉ + 1 shingles
    * (pigeonhole: J ≥ t ⇒ |x∩y| ≥ t·|x∪y| ≥ ⌈t·|x|⌉), so the
    * candidate join runs over PREFIX postings only and exact
    * verification recovers precision.
    *
    * Unlike the df-cap ([[ngramJaccardPairsFromShingles]]'s maxDf,
    * which silently DROPS hot boilerplate shingles from the measured
    * space), this is LOSSLESS: hot shingles sort last per doc, so
    * they almost never enter a prefix — the boilerplate explosion is
    * avoided without changing the answer. The length filter
    * (t·|x| ≤ |y| ≤ |x|/t) prunes size-incompatible candidates
    * before the verify join.
    *
    * Plan: one df census (partial-agg shuffle), one per-doc window
    * (shuffle by id, bounded by doc shingle count), prefix-postings
    * equi-join, then the verify join against the staged full sets —
    * every join an equi-join, no driver state. ⌈t·sz⌉ is computed
    * with a 1e-9 slack so an FP product landing a hair ABOVE the true
    * integer can only LENGTHEN a prefix (exactness preserved), never
    * shorten it. */
  def prefixFilterJaccardPairs(shingled: DataFrame,
                               threshold: Double): DataFrame = {
    // read by the candidate census and both verify joins of the
    // returned frame: checkpointed, so it outlives the call uncached
    val sh = shingled
      .select(col("id"), array_distinct(col("s")).as("s"))
      .filter(size(col("s")) > 0)
      .localCheckpoint()
    val cand = prefixCandidates(sh, threshold)
    cand
      .join(sh.select(col("id").as("id_a"), col("s").as("sa")), Seq("id_a"))
      .join(sh.select(col("id").as("id_b"), col("s").as("sb")), Seq("id_b"))
      .withColumn("jaccard", round(jaccard(col("sa"), col("sb")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** PPJoin candidate generation over a prepared distinct-shingle
    * frame: df-ascending prefix ordering (hot shingles sort LAST per
    * doc, so they almost never enter a prefix), prefix-postings
    * equi-join, length filter, then PPJoin's POSITIONAL filter.
    *
    * The positional filter is lossless here because BOTH docs order
    * their shingles by the same global (df, shingle) key: common
    * tokens therefore appear in the same relative order in both docs,
    * so the first shared prefix token w attains min(pos_a) AND
    * min(pos_b) simultaneously, and no token common to both docs can
    * precede w in either (it would rank below w in both and hence sit
    * inside both prefixes, contradicting w being first). That gives
    * the classic bound overlap ≤ 1 + min(sz_a − p_a, sz_b − p_b),
    * checked against the Jaccard overlap requirement
    * α = ⌈t/(1+t)·(sz_a+sz_b)⌉ (|x∩y| ≥ t·|x∪y| rearranged). The
    * 1e-9 slack is SUBTRACTED inside the ceil so FP error can only
    * weaken the prune, never drop a true pair. */
  private def prefixCandidates(sh: DataFrame,
                               threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ex = sh.select(col("id"), explode(col("s")).as("g"))
    val census = ex.groupBy(col("g")).agg(count(lit(1)).as("__df"))
    val w = Window.partitionBy(col("id")).orderBy(col("__df"), col("g"))
    val positioned = ex.join(census, Seq("g"))
      .select(col("id"), col("g"),
        row_number().over(w).as("__pos"),
        count(lit(1)).over(Window.partitionBy(col("id"))).as("__sz"))
    def minOverlap(sz: org.apache.spark.sql.Column) =
      ceil(lit(threshold) * sz - lit(1e-9))
    val prefix = positioned
      .filter(col("__pos") <= col("__sz") - minOverlap(col("__sz")) + 1)
      .select(col("g"), col("id"), col("__sz"), col("__pos"))
    val alpha = ceil(lit(threshold / (1.0 + threshold)) *
      (col("__sz_a") + col("__sz_b")) - lit(1e-9))
    prefix.select(col("g"), col("id").as("id_a"),
        col("__sz").as("__sz_a"), col("__pos").as("__pos_a"))
      .join(prefix.select(col("g"), col("id").as("id_b"),
        col("__sz").as("__sz_b"), col("__pos").as("__pos_b")), Seq("g"))
      .filter(col("id_a") < col("id_b") &&
        col("__sz_b") >= minOverlap(col("__sz_a")) &&
        col("__sz_a") >= minOverlap(col("__sz_b")))
      .groupBy(col("id_a"), col("id_b"), col("__sz_a"), col("__sz_b"))
      .agg(min(col("__pos_a")).as("__mpa"), min(col("__pos_b")).as("__mpb"))
      .filter(lit(1) + least(col("__sz_a") - col("__mpa"),
        col("__sz_b") - col("__mpb")) >= alpha)
      .select(col("id_a"), col("id_b"))
  }

  /** CONTAINMENT pairs — the asymmetric near-subset complement to
    * Jaccard: containment(A→B) = |g(A) ∩ g(B)| / |g(A)| over the
    * df-capped shingle space. A short doc pasted whole into a longer
    * one scores ~1.0 on containment while its Jaccard can be
    * arbitrarily small — the boilerplate-wrapping / quote-expansion
    * signal a Jaccard threshold misses by construction. Emits one row
    * per candidate pair (id_a < id_b) with BOTH directions when
    * either clears `threshold`; the ratios are exact integer
    * divisions (bit-identical across engines, no rounding needed).
    * Same candidate/scale machinery as [[ngramJaccardPairs]]. */
  def containmentPairs(df: DataFrame, id: Column, text: Column,
                       shingleN: Int = 3, threshold: Double = 0.9,
                       hashedShingles: Boolean = true, maxDf: Int = 128)
      : DataFrame = {
    val shingleExpr =
      if (hashedShingles) TextAnalysis.shingleHashes(text, shingleN)
      else TextAnalysis.shingles(text, shingleN)
    containmentPairsFromShingles(
      df.select(id.as("id"), shingleExpr.as("s")), threshold, maxDf)
  }

  /** [[containmentPairs]] over a pre-staged (id, s) shingle frame. */
  def containmentPairsFromShingles(shingled: DataFrame,
                                   threshold: Double = 0.9,
                                   maxDf: Int = 128): DataFrame = {
    val (inter, sizes) = pairIntersections(shingled, maxDf)
    val ca = col("n_shared").cast("double") / col("sz_a").cast("double")
    val cb = col("n_shared").cast("double") / col("sz_b").cast("double")
    inter
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")), "id_b")
      .withColumn("cont_a_in_b", ca)
      .withColumn("cont_b_in_a", cb)
      .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a"))
        >= threshold)
      .select(col("id_a"), col("id_b"), col("n_shared"),
        col("sz_a"), col("sz_b"),
        col("cont_a_in_b"), col("cont_b_in_a"))
  }

  /** Shared candidate machinery for the n-gram pair miners: df-capped
    * posting lists -> per-pair intersection counts (id_a < id_b) plus
    * per-doc set sizes over the SAME df-filtered shingle space. */
  private def pairIntersections(shingled: DataFrame, maxDf: Int)
      : (DataFrame, DataFrame) = {
    // the shingle-set table feeds two passes (hot-shingle census + index
    // build) of the frames returned here; checkpoint it — per doc it is
    // one hash per distinct shingle, a small fraction of text bytes,
    // spilling to executor disk at scale
    val sh = shingled
      .filter(size(col("s")) > 0)
      .localCheckpoint()
    val ex = sh.select(col("id"), explode(col("s")).as("g"))
    // hot-shingle census: shingles with df > maxDf. Partial aggregation
    // makes the count shuffle tiny, and the hot set itself (boilerplate
    // phrases) is small enough to broadcast — so the cap never shuffles
    // the index, and no executor ever collects an unbounded posting list.
    val kept = if (maxDf > 0) {
      val hot = ex.groupBy(col("g")).agg(count(lit(1)).as("__df"))
        .filter(col("__df") > maxDf).select(col("g"))
      ex.join(broadcast(hot), Seq("g"), "left_anti")
    } else ex
    // per-doc set size over the SAME df-filtered shingle space (a doc
    // whose shingles are all hot drops out entirely)
    val sizes = kept.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    // posting lists: one groupBy on the shingle, lists bounded by maxDf;
    // pair expansion is row-local array math (≤ C(maxDf,2) per list) —
    // this replaces a sort-merge self-join of the index with a single
    // exchange + codegen'd combination explode
    // collect_set: a duplicate caller id can never produce a self-pair
    val lists = kept.groupBy(col("g"))
      .agg(array_sort(collect_set(col("id"))).as("ids"))
      .filter(size(col("ids")) > 1)
    val pairs = lists.select(explode(flatten(transform(col("ids"),
      (x, i) => transform(
        slice(col("ids"), i + lit(2), size(col("ids")) - i - lit(1)),
        y => struct(x.as("id_a"), y.as("id_b")))))).as("p"))
    val inter = pairs.groupBy(col("p.id_a").as("id_a"),
        col("p.id_b").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
    (inter, sizes)
  }

  /** Substring-level duplication signal — the span-granular flavor of
    * dedup (re-deriving the public Lee et al. 2022 "exact substring"
    * recipe in relational form, suffix arrays replaced by a rolling
    * n-token window): for each document, the fraction of its n-token
    * span STARTS whose span text also occurs in at least `minDocs`-1
    * OTHER documents. Doc-level Jaccard ([[ngramJaccardPairs]]) misses
    * a boilerplate paragraph pasted into thousands of otherwise-unique
    * docs; this catches it.
    *
    * Scale shape: one explode to (doc, span) — a row per token, narrow
    * — then a map-side-combining census for the cross-doc-hot span set
    * and one equi-join back; the fraction is an exact integer ratio
    * (bit-identical across engines). Spans here are n-gram STRINGS so
    * a DuckDB oracle can replay them; a hot path at 100 TB swaps in
    * [[TextAnalysis.shingleHashes]] (same semantics, xxhash64 rolling
    * combine, no string materialization). Docs with fewer than n
    * tokens contribute their whole text as one span; token-less docs
    * drop out. */
  def duplicatedSpans(docs: DataFrame, id: Column, text: Column,
                      n: Int = 20, minDocs: Int = 2): DataFrame = {
    val toks = TextAnalysis.tokens(text)
    val spans = docs.select(id.as("doc_id"), toks.as("__t"))
      .select(col("doc_id"), explode(
        when(size(col("__t")) >= n,
          transform(sequence(lit(0), size(col("__t")) - n),
            i => array_join(slice(col("__t"), i + 1, lit(n)), " ")))
        .otherwise(when(size(col("__t")) > 0,
          array(array_join(col("__t"), " ")))
          .otherwise(array().cast("array<string>")))).as("g"))
    val hot = spans.select(col("doc_id"), col("g")).distinct()
      .groupBy(col("g")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= minDocs).select(col("g"))
    val total = spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"))
    val dup = spans.join(hot, Seq("g"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("__nd"))
    total.join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_spans"),
        coalesce(col("__nd"), lit(0L)).as("n_dup_spans"),
        round(coalesce(col("__nd"), lit(0L)).cast("double")
          / col("n_spans"), 6).as("dup_span_frac"))
  }

  /** EXACT-SUBSTRING DEDUP ACCOUNTING — the removal pass of
    * "Deduplicating Training Data Makes Language Models Better"
    * (Lee et al. 2022, public recipe) as a census: every rolling
    * n-token span shared by ≥ minDocs distinct docs is duplicated;
    * the lowest-id doc containing a span is its keeper, and every
    * OTHER doc's occurrence is marked for removal. A doc's removed
    * token count is the length of the UNION of its marked
    * [start, start+n) intervals (clipped at doc end): with starts
    * sorted per doc, interval i contributes
    * least(n, n_tok − sᵢ, sᵢ₊₁ − sᵢ) — one per-doc window, exact
    * integers end-to-end, no string surgery. At 100 TB: one
    * partial-agg shuffle for the span census, one equi-join back,
    * one doc-keyed window — the same shapes as [[duplicatedSpans]],
    * plus nothing. Emits (doc_id, n_tok, n_removed, n_kept) per doc
    * (token-less docs included with zeros). */
  def spanRemovalCensus(docs: DataFrame, id: Column, text: Column,
                        n: Int = 20, minDocs: Int = 2): DataFrame = {
    val (base, spans) = spanStarts(docs, id, text, n)
    val hot = spans.select(col("doc_id"), col("g")).distinct()
      .groupBy(col("g"))
      .agg(count(lit(1)).as("__df"), min(col("doc_id")).as("__keeper"))
      .filter(col("__df") >= minDocs)
      .select(col("g"), col("__keeper"))
    val marked = spans.join(hot, Seq("g"))
      .filter(col("doc_id") =!= col("__keeper"))
    removalRows(base, marked, n)
  }

  /** INCREMENTAL span-removal: history is processed once and only its
    * SPAN INDEX (span → distinct-doc df, lowest containing doc)
    * survives; a new batch is marked against index ∪ its own spans
    * and history is never re-tokenized. Requires every new id to
    * exceed every history id — then the global keeper of any span is
    * min(keeper_hist, keeper_new) = coalesce(keeper_hist, keeper_new)
    * and a history doc can only be a non-keeper to ANOTHER history
    * doc, so the history rows of the full batch recompute are exactly
    * the history-only pass. That makes incremental ≡ batch an exact
    * theorem at minDocs = 2 (q320's oracle IS the full rebuild).
    *
    * MANIFEST CONTRACT: `indexPath` is a span-index table (a
    * [[graft.sources.TableLog]] table, local path) — this call commits
    * the history-only index, then the MERGED index (history ∪ fresh,
    * df SUMS, keeper MINS, UNFILTERED — df=1 singletons must survive,
    * because a singleton can reach df ≥ 2 in a later batch). The next
    * batch folds from the table's newest commit alone via
    * [[spanRemovalFold]] — history is never re-tokenized again. Each
    * commit replaces the table's content, and the returned DataFrame
    * lazily re-reads the files it was planned over: a file a commit
    * drops stays on disk for `TableLog.GraceMillis`, so the
    * not-yet-consumed result still reads it. */
  def spanRemovalIncremental(hist: DataFrame, fresh: DataFrame,
                             id: Column, text: Column,
                             indexPath: String,
                             n: Int = 20): DataFrame = {
    // one history pass: the same span index serves the history
    // marking AND persists as the first commit
    val (bh, sh) = spanStarts(hist, id, text, n)
    Sinks.replace(sh.select(col("doc_id"), col("g")).distinct()
      .groupBy(col("g"))
      .agg(count(lit(1)).as("__df"), min(col("doc_id")).as("__keeper")),
      indexPath)
    val idx = Sinks.read(bh.sparkSession, indexPath)
    val histMarked = sh
      .join(idx.filter(col("__df") >= 2), Seq("g"))
      .filter(col("doc_id") =!= col("__keeper"))
    val histRows = removalRows(bh, histMarked, n)
    histRows.unionByName(spanRemovalFold(fresh, id, text, indexPath, n))
  }

  /** Fold ONE MORE batch against the span index a prior
    * [[spanRemovalIncremental]] / [[spanRemovalFold]] call committed:
    * merge the fresh batch's span index into it (df sums, keeper =
    * coalesce(old, new) = min under the id-monotonicity precondition:
    * every new id exceeds every indexed id), commit the FULL merge,
    * and mark the fresh batch against the merged index read back FROM
    * THAT COMMIT — so the marking provably uses the index the next
    * batch will fold from. History is read as the span-index table
    * only, never re-tokenized. Returns removal rows for the fresh
    * batch ONLY (history rows were already emitted by the call that
    * indexed them). */
  def spanRemovalFold(fresh: DataFrame, id: Column, text: Column,
                      indexPath: String, n: Int = 20): DataFrame = {
    val spark = fresh.sparkSession
    val idx = Sinks.read(spark, indexPath)
    val (bn, sn) = spanStarts(fresh, id, text, n)
    val newIdx = sn.select(col("doc_id"), col("g")).distinct()
      .groupBy(col("g"))
      .agg(count(lit(1)).as("__dfn"), min(col("doc_id")).as("__kn"))
    Sinks.replace(newIdx.join(idx, Seq("g"), "full_outer")
      .select(col("g"),
        (coalesce(col("__dfn"), lit(0L)) +
          coalesce(col("__df"), lit(0L))).as("__df"),
        coalesce(col("__keeper"), col("__kn")).as("__keeper")),
      indexPath)
    val merged = Sinks.read(spark, indexPath)
    val marked = sn.join(merged.filter(col("__df") >= 2), Seq("g"))
      .filter(col("doc_id") =!= col("__keeper"))
    removalRows(bn, marked, n)
  }

  /** Rolling n-token spans WITH their 0-based start positions:
    * returns (base = (doc_id, n_tok, __t) localCheckpointed for its
    * multiple consumers, spans = (doc_id, n_tok, start, g)). Docs
    * shorter than n contribute their whole text as one span at 0;
    * token-less docs contribute none (but stay in base). */
  private def spanStarts(docs: DataFrame, id: Column, text: Column,
                         n: Int): (DataFrame, DataFrame) = {
    val toks = TextAnalysis.tokens(text)
    // localCheckpoint, not persist: a persist here would outlive the
    // call (the bfsHops caller-must-unpersist hazard)
    val base = docs.select(id.as("doc_id"), toks.as("__t"))
      .select(col("doc_id"),
        size(col("__t")).cast("long").as("n_tok"), col("__t"))
      .localCheckpoint()
    val spans = base.select(col("doc_id"), col("n_tok"),
      posexplode(
        when(size(col("__t")) >= n,
          transform(sequence(lit(0), size(col("__t")) - n),
            i => array_join(slice(col("__t"), i + 1, lit(n)), " ")))
        .otherwise(when(size(col("__t")) > 0,
          array(array_join(col("__t"), " ")))
          .otherwise(array().cast("array<string>"))))
        .as(Seq("start", "g")))
    (base, spans)
  }

  /** Interval-union removal accounting over marked span occurrences:
    * per doc, sorted starts, contribution least(n, n_tok − s, s' − s);
    * docs with nothing marked report zero. */
  private def removalRows(base: DataFrame, marked: DataFrame,
                          n: Int): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("start"))
    val removed = marked
      .select(col("doc_id"), col("n_tok"),
        col("start").cast("long").as("start"))
      .withColumn("__next", lead(col("start"), 1).over(w))
      .withColumn("__c", least(lit(n.toLong),
        col("n_tok") - col("start"),
        coalesce(col("__next") - col("start"), lit(n.toLong))))
      .groupBy(col("doc_id")).agg(sum(col("__c")).as("__rm"))
    base.select(col("doc_id"), col("n_tok"))
      .join(removed, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tok"),
        coalesce(col("__rm"), lit(0L)).as("n_removed"),
        (col("n_tok") - coalesce(col("__rm"), lit(0L))).as("n_kept"))
  }

  /** Exact embedding near-dup pairs: all-pairs cosine over a threshold.
    * O(n²) by construction — the verification baseline / small-corpus
    * form; the 100 TB path is [[embeddingPairs]] (LSH buckets) with this
    * as the per-bucket verifier. The theta join broadcasts the smaller
    * side and the cosine is the fused-loop native expression, so the
    * pair scan stays in whole-stage codegen. */
  def bruteForceEmbeddingPairs(df: DataFrame, id: Column, vec: Column,
                               threshold: Double): DataFrame = {
    // repartition the streamed side: the corpus often arrives as a single
    // file-partition, which would put every pair comparison of the
    // nested-loop join on one core
    val par = df.sparkSession.sparkContext.defaultParallelism
    val a = df.select(id.as("id_a"), vec.as("__v_a")).repartition(par)
    val b = df.select(id.as("id_b"), vec.as("__v_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine",
        round(Similarity.cosine(col("__v_a"), col("__v_b")), 6))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Transitive closure of a near-dup pair list: connected components
    * with the component labeled by its MINIMUM member id — the step that
    * turns pairwise dedup output into dedup CLUSTERS (a near-dups b,
    * b near-dups c => {a,b,c} is one duplicate group even if (a,c) was
    * never emitted).
    *
    * Under [[graft.operators.Local.budget]] this is a DRIVER FAST PATH:
    * the pair list is the REDUCED image of the corpus (pair mining
    * bounded it), and for a bounded edge set the fastest distributed
    * algorithm is none at all. [[graft.operators.Local.collectWithin]]
    * pulls the selected (a, b) pairs in ONE job and union-find labels
    * them on the driver; union-find needs neither both edge directions
    * nor distinct edges, so nothing is shuffled or materialized first.
    * The output is IDENTICAL by construction: the distributed fixpoint
    * labels every node with the minimum id reachable from it, which is
    * the component minimum union-find reports (DedupSpec pins local ≡
    * distributed).
    *
    * Past the budget (or with a caller-capped `maxIter`, which asks for
    * the round-bounded loop) it runs on the cluster: iterative
    * min-label propagation with pointer-jumping path compression (the
    * DataFrame re-expression of map-reduce connected components à la
    * Kiveris et al. "Connected Components in MapReduce and Beyond" —
    * public algorithm, re-derived). Each round:
    *   1. comp(v) <- min(comp(v), min over neighbors comp(u))   (edge hop)
    *   2. comp(v) <- comp(comp(v))                              (pointer jump)
    * The pointer jump halves label-chain depth each round, so rounds =
    * O(log diameter) — dedup graphs (star-ish clusters) converge in 2-3.
    * State is one (id, comp) row per node and the symmetric edge list —
    * both flat shuffles on long keys, no driver state; the convergence
    * check is a count on the changed rows only. Each round's labels are
    * localCheckpoint'ed (lineage truncation); the superseded round's
    * checkpoint blocks are explicitly unpersisted once the next round
    * has materialized, and the edge blocks once the loop exits, so
    * executor storage holds at most two label generations + edges. If
    * the loop exits via `maxIter` with changes still flowing the labels
    * are NOT a fixpoint (clusters may be incompletely merged — an
    * under-delete in clusterSurvivors); that is loudly warned, never
    * silent. */
  def connectedComponents(pairs: DataFrame, a: Column, b: Column,
                          maxIter: Int = FixpointIters): DataFrame =
    componentsFrame(componentsLocal(pairs, a, b, maxIter), pairs, a, b,
      maxIter)

  /** The (id, comp) frame: the driver-held labels of the fast path, or
    * the distributed loop when there are none. */
  private def componentsFrame(local: Option[java.util.HashMap[Long, Long]],
                              pairs: DataFrame, a: Column, b: Column,
                              maxIter: Int): DataFrame =
    local.fold(componentsDistributed(pairs, a, b, maxIter))(
      labelsFrame(pairs.sparkSession, _))

  /** Default round cap of the distributed [[connectedComponents]]. */
  private val FixpointIters = 25

  /** Driver-held (id, comp) labels as a frame. */
  private def labelsFrame(spark: org.apache.spark.sql.SparkSession,
                          labels: java.util.HashMap[Long, Long]): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(
      labels.asScala.iterator.map { case (n, c) =>
        org.apache.spark.sql.Row(n, c) }.toSeq.asJava,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("comp",
          org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** [[connectedComponents]]' driver fast path: node → component
    * minimum by union-find over the collected pairs; `None` past the
    * byte budget or for a caller-capped `maxIter`. */
  private def componentsLocal(pairs: DataFrame, a: Column, b: Column,
                              maxIter: Int): Option[java.util.HashMap[Long, Long]] =
    if (maxIter < FixpointIters) None
    else graft.operators.Local.collectWithin(
        pairs.select(a.cast("long"), b.cast("long"))).map { rows =>
      val parent = new java.util.HashMap[Long, Long](rows.length * 4)
      def find(x0: Long): Long = {
        var x = x0
        var p = parent.getOrDefault(x, x)
        while (p != x) { // path halving
          val gp = parent.getOrDefault(p, p)
          parent.put(x, gp); x = gp; p = parent.getOrDefault(x, x)
        }
        x
      }
      rows.foreach { r =>
        val (rx, ry) = (find(r.getLong(0)), find(r.getLong(1)))
        // union by MIN id: the root is always the component minimum,
        // so labels read straight off find() with no second pass
        if (rx < ry) parent.put(ry, rx)
        else if (ry < rx) parent.put(rx, ry)
      }
      val labels = new java.util.HashMap[Long, Long](rows.length * 4)
      rows.foreach { r =>
        labels.put(r.getLong(0), find(r.getLong(0)))
        labels.put(r.getLong(1), find(r.getLong(1)))
      }
      labels
    }

  /** [[connectedComponents]] on the cluster: min-label propagation
    * with pointer jumping over the symmetric, distinct edge list. */
  private def componentsDistributed(pairs: DataFrame, a: Column, b: Column,
                                    maxIter: Int): DataFrame = {
    // localCheckpoint (not persist): an iterative fixpoint REUSES and
    // SELF-JOINS each round's output — without truncating the lineage
    // the logical plan doubles per round and the driver dies compiling
    // it, long before any executor works. Checkpointing pins the rows
    // on the executors and restarts the plan from them each round.
    val edges = pairs.select(a.cast("long").as("x"), b.cast("long").as("y"))
      .union(pairs.select(b.cast("long").as("x"), a.cast("long").as("y")))
      .distinct()
      .localCheckpoint()
    var labels = edges.select(col("x").as("id")).distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint()
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val nbrMin = edges
        .join(labels.select(col("id").as("y"), col("comp").as("__nc")), "y")
        .groupBy(col("x").as("id")).agg(min(col("__nc")).as("__nmin"))
      // hopped is NOT checkpointed: its lineage is two joins off the
      // checkpointed labels, so the self-join below re-derives it
      // cheaply inside ONE job instead of paying an extra
      // materialization round-trip per iteration
      val hopped = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("__nmin"), col("comp")))
            .as("comp"))
      // pointer jump: follow my label's label (labels are node ids, so
      // the parent row always exists)
      val next = hopped.alias("l")
        .join(hopped.select(col("id").as("__pid"), col("comp").as("__pc"))
          .alias("p"), col("l.comp") === col("__pid"), "left")
        .select(col("l.id").as("id"),
          coalesce(col("__pc"), col("l.comp")).as("comp"))
        .localCheckpoint()
      val changed = next.join(
          labels.select(col("id"), col("comp").as("__old")), "id")
        .filter(col("comp") =!= col("__old")).count()
      // `next` is materialized (eager checkpoint) and `changed` counted:
      // the previous generation's checkpoint blocks are dead — free them
      // now instead of waiting for GC/ContextCleaner
      Lifecycle.release(labels)
      labels = next
      converged = changed == 0
      iter += 1
    }
    Lifecycle.release(edges)
    if (!converged)
      System.err.println(
        s"[graft] connectedComponents: NOT converged after $maxIter " +
          "rounds — labels are not a fixpoint and clusters may be " +
          "incompletely merged; increase maxIter")
    labels
  }

  /** Persist the MinHash SIGNATURE INDEX of a corpus: one (id, sig) row
    * per doc, `numHashes` longs each — the only state incremental
    * near-dup detection ever needs. At 100 TB the index is a small
    * fraction of corpus bytes (64 longs vs kilobytes of text) and the
    * historical text is never re-read by later batches. */
  def writeMinhashIndex(docs: DataFrame, id: Column, text: Column,
                        path: String, numHashes: Int = 64,
                        shingleN: Int = 3): Unit =
    Sinks.replace(docs.select(id.as("id"),
        TextAnalysis.shingleHashes(text, shingleN).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("id"),
        graft.functions.minhash_sig(col("sh"), numHashes).as("sig")), path)

  /** Near-dup pairs of a NEW batch against a persisted signature index
    * ([[writeMinhashIndex]]) — [[incrementalExact]]'s near-duplicate
    * sibling: the historical side contributes only its signatures.
    * Candidates come from the same banded LSH equi-join as
    * [[minhashPairsFromShingles]] (only (id, band, bh) rows shuffle);
    * the pair's Jaccard is then ESTIMATED from signature agreement
    * (matching components / numHashes — the classic MinHash estimator,
    * std ≈ sqrt(J(1−J)/numHashes) ≈ 0.06 at 64 hashes), so no shingle
    * set of either side is stored, shuffled, or re-read. Batch-internal
    * near-dups are out of scope here (compose minhashPairs on the batch
    * itself); after survivors are chosen, append their signatures to
    * the index to absorb the batch. */
  def incrementalNearDups(spark: org.apache.spark.sql.SparkSession,
                          newDocs: DataFrame, id: Column, text: Column,
                          indexPath: String,
                          numHashes: Int = 64, bands: Int = 16,
                          shingleN: Int = 3, threshold: Double = 0.5)
      : DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    def banded(df: DataFrame, idName: String) = df.select(
      col(idName),
      posexplode(array((0 until bands).map { b =>
        xxhash64(concat_ws(",",
          (0 until rows).map(r => col("sig")(b * rows + r)): _*))
      }: _*)).as(Seq("band", "bh")))
    // new batch signatures: checkpointed — the returned frame reads
    // them in the band join and again for the candidate estimate
    val newSig = newDocs.select(id.as("new_id"),
        TextAnalysis.shingleHashes(text, shingleN).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("new_id"),
        graft.functions.minhash_sig(col("sh"), numHashes).as("sig"))
      .localCheckpoint()
    val index = Sinks.read(spark, indexPath)
    val cand = banded(newSig, "new_id")
      .join(banded(index.select(col("id").as("old_id"), col("sig")),
        "old_id"), Seq("band", "bh"))
      .select(col("new_id"), col("old_id")).distinct()
    val matches = aggregate(
      zip_with(col("__sn"), col("__so"),
        (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x)
    cand
      .join(newSig.select(col("new_id"), col("sig").as("__sn")), "new_id")
      .join(index.select(col("id").as("old_id"), col("sig").as("__so")),
        "old_id")
      .withColumn("est_jaccard",
        matches.cast("double") / numHashes)
      .filter(col("est_jaccard") >= threshold)
      .select(col("new_id"), col("old_id"),
        round(col("est_jaccard"), 6).as("est_jaccard"))
  }

  /** Incremental exact dedup for a CONTINUOUSLY GROWING corpus: drop
    * new docs whose fingerprint already exists in the historical store,
    * then exact-dedup the surviving batch internally (min id per key).
    * The historical side needs only the fingerprint column — at 100 TB
    * that store is a narrow table the anti-join shuffles by fingerprint
    * (or broadcasts while it fits); the corpus text never re-reads.
    * This is the batch analog of the streaming dedupByKey: replaying a
    * block against an already-ingested corpus is a no-op. */
  def incrementalExact(newDocs: DataFrame, id: Column, fingerprint: Column,
                       knownFingerprints: DataFrame): DataFrame = {
    val known = knownFingerprints.toDF("__known_fp")
    val fresh = newDocs.join(known,
      fingerprint === col("__known_fp"), "left_anti")
    exactByKey(fresh, Seq(fingerprint), id)
  }

  /** Dedup by clusters: drop every member of each near-dup cluster
    * except the minimum-id survivor. Rows never mentioned in `pairs`
    * are untouched (singleton clusters). When the components come back
    * to the driver ([[connectedComponents]]' fast path) and name at
    * most [[InListMax]] losers, `df` is filtered by the loser ids the
    * driver already holds — no driver-built relation to broadcast, so
    * no job of its own; otherwise the losers are anti-joined. */
  def clusterSurvivors(df: DataFrame, id: Column,
                       pairs: DataFrame, a: Column, b: Column): DataFrame = {
    import scala.jdk.CollectionConverters._
    val local = componentsLocal(pairs, a, b, FixpointIters)
    val localLosers = local.map(
      _.asScala.collect { case (n, c) if n != c => n }.toSeq.sorted)
    localLosers match {
      case Some(losers) if losers.isEmpty => df
      case Some(losers) if losers.length <= InListMax =>
        df.filter(id.isNull || !id.isInCollection(losers))
      case _ =>
        val losers = componentsFrame(local, pairs, a, b, FixpointIters)
          .filter(col("id") =!= col("comp"))
          .select(col("id").as("__loser"))
        df.join(losers, id === col("__loser"), "left_anti")
    }
  }

  /** Most loser ids [[clusterSurvivors]] filters by as an in-list. The
    * in-list saves the broadcast job of the anti-join, but planning a
    * filter over N literals grows faster than N. Filter + count of a
    * 2M-row cached table, local[4], median of 5 (in-list vs anti-join,
    * ms): 90 losers 198 vs 240; 900: 277 vs 316; 1800: 225 vs 183;
    * 3000: 423 vs 206; 10000: 766 vs 334; 100000: 8470 vs 728. A
    * 20k-row table crosses at the same count (900: 201 vs 239; 1800:
    * 207 vs 178). */
  private val InListMax = 1000

  /** Sorted-neighborhood blocking (Hernández-Stolfo windowing) — the
    * third candidate-generation family next to MinHash-LSH (set
    * overlap) and SemDeDup cells (vector cells): sort records by a
    * normalization KEY and compare only records within a sliding
    * window of the sort order. Near-duplicates with a shared prefix
    * (titles, names, URLs) land adjacent; the pair budget is
    * rows × window instead of rows² — the classic entity-resolution
    * blocking.
    *
    * Distributed form: the global sort would be a partition-less
    * window (the forbidden shape), so records first block by a key
    * PREFIX (`blockPrefix` chars) and the window slides within each
    * block — one block-keyed exchange, a row_number per block, one
    * block-keyed self-join with a rank-range residual. The standard
    * trade, stated: a near-dup pair whose keys diverge within the
    * prefix is not compared (multi-pass with a second key is the
    * textbook recall fix and composes by unioning pair sets).
    *
    * Emits (id_a, id_b, key_a, key_b) candidates, id_a before id_b in
    * the (key, id) sort — ties in `key` order by id, so an oracle
    * replays the exact pair set. */
  def sortedNeighborhoodPairs(docs: DataFrame, id: Column, key: Column,
                              window: Int, blockPrefix: Int = 4)
      : DataFrame = {
    require(window >= 1, "window must be >= 1")
    val base = docs.select(id.as("id"), key.as("key"))
      .withColumn("block", substring(col("key"), 1, blockPrefix))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("block")).orderBy(col("key"), col("id"))
    val rn = base.withColumn("rn", row_number().over(w))
    val a = rn.select(col("block"), col("rn"),
      col("id").as("id_a"), col("key").as("key_a"))
    val b = rn.select(col("block"), col("rn").as("rn_b"),
      col("id").as("id_b"), col("key").as("key_b"))
    a.join(b, Seq("block"))
      .filter(col("rn_b") > col("rn") &&
        col("rn_b") <= col("rn") + window)
      .select(col("id_a"), col("id_b"), col("key_a"), col("key_b"))
  }

  /** Exact n-gram Jaccard similarity of two shingle-set columns. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni > 0, inter / uni).otherwise(lit(null))
  }

  /** 64-bit SimHash from a PRECOMPUTED array of per-token hashes: bit i
    * is set when more than half the tokens have bit i set. Near-dup <=>
    * small Hamming distance. The bit votes are 64 passes over the cached
    * long array — the string hashing happens once per token. */
  def simhash64FromHashes(hs: Column): Column = {
    val n = size(hs)
    val bits = (0 until 64).map { i =>
      val votes = size(filter(hs,
        h => shiftright(h, i).bitwiseAND(1) === 1))
      when(votes * 2 > n, lit(1L << i)).otherwise(lit(0L))
    }
    when(n > 0, bits.reduce(_.bitwiseOR(_))).otherwise(lit(null))
  }

  /** SimHash via the native single-pass expression. */
  def simhash64(text: Column): Column = graft.functions.simhash64(text)

  /** PORTABLE 64-bit token hashes: the first 16 hex chars of md5(token)
    * read as a 64-bit value (two 32-bit halves so `conv` stays inside
    * signed-long range). md5 exists in every engine (DuckDB included),
    * so simhashes built on these are oracle-computable bit-for-bit —
    * the differential-testing counterpart of the faster native
    * xxhash-based kernels. */
  def md5TokenHashes(text: Column): Column =
    transform(TextAnalysis.tokens(text), t => {
      val h = md5(t.cast(org.apache.spark.sql.types.BinaryType))
      shiftleft(conv(substring(h, 1, 8), 16, 10)
          .cast(org.apache.spark.sql.types.LongType), 32)
        .bitwiseOR(conv(substring(h, 9, 8), 16, 10)
          .cast(org.apache.spark.sql.types.LongType))
    })

  /** Portable simhash: bit-majority over [[md5TokenHashes]]. */
  def simhash64Portable(text: Column): Column =
    simhash64FromHashes(md5TokenHashes(text))

  /** Hamming distance between two 64-bit simhashes. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Embedding near-duplicate pairs: cosine above threshold, via
    * MULTI-TABLE random-hyperplane LSH buckets (Similarity.lshBuckets)
    * + exact verify. Single-table recall is p^planes per pair (p =
    * 1 - θ/π) — e.g. ~0.3 for cosine-0.9 pairs at 8 planes, silently
    * missing most near-dups; `tables` independent plane sets lift it to
    * 1-(1-p^planes)^tables. Only same-(table,bucket) vectors are ever
    * compared, the pair scan is a plain equi-join AQE can skew-split,
    * and the exact cosine verify keeps precision at 1.0; the duplicate
    * hits across tables collapse in the final distinct. */
  /** `bucketCap`: optional per-bucket row cap (SemDedup's cap-and-split
    * guard, [[SemDedup.splitOversizedKeys]]). On a pathologically
    * clustered corpus every member of the hot cluster shares a bucket
    * in EVERY table and the per-bucket self-join degenerates to the
    * Σ|bucket|² all-pairs scan the LSH was supposed to avoid; the cap
    * splits such buckets by a secondary id hash, restoring the bound.
    * Recall trade is softer than the cell guard's: a pair split apart
    * in one table still meets in any of the other `tables-1`
    * (miss probability (1/s)^tables per split factor s), so the guard
    * costs little recall while capping the worst-case join. Default
    * OFF — the exact-twin differential (q53) runs unguarded. */
  def embeddingPairs(df: DataFrame, id: Column, vec: Column,
                     planes: Int = 4, tables: Int = 8,
                     threshold: Double = 0.95,
                     bucketCap: Option[Long] = None): DataFrame = {
    val exploded = df.select(id.as("id"), vec.as("v"))
      .withColumn("bucket",
        explode(Similarity.lshBuckets(col("v"), planes, tables)))
    val withB = bucketCap.fold(exploded)(cap =>
      SemDedup.splitOversizedKeys(exploded, "bucket", "id", cap))
    val l = withB.select(col("bucket"), col("id").as("id_a"),
      col("v").as("v_a"))
    val r = withB.select(col("bucket"), col("id").as("id_b"),
      col("v").as("v_b"))
    l.join(r, Seq("bucket")).filter(col("id_a") < col("id_b"))
      .withColumn("cosine", Similarity.cosine(col("v_a"), col("v_b")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
      .distinct()
  }
}
