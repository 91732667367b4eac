package graft.llm

import graft.operators.Lifecycle
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding VOCABULARY INDUCTION (Sennrich et al.
  * 2016, public recipe re-derived in DataFrame terms). BPE training is
  * inherently iterative — each merge depends on the counts produced by
  * the previous merge — so the shape is: a DISTRIBUTED pair count per
  * round, a single-row top-1 collect (the merge rule), and a row-local
  * re-segmentation applying the broadcast rule. The driver holds only
  * the merge table (numMerges rows); the corpus-sized state is the
  * (word, freq, symbols) frame, which never leaves the executors.
  *
  * Scale notes for the 100 TB story:
  *  - training runs on the WORD-FREQUENCY table (distinct words ×
  *    counts), not the corpus: one groupBy over the corpus up front,
  *    then every round's cost is |vocab|, millions not billions;
  *  - the per-round count is a map-side-combining groupBy on (a,b)
  *    pairs exploded from symbol arrays — the classic word-count
  *    shape, partial aggregation does the heavy lifting;
  *  - re-segmentation is a pure higher-order fold per word, no
  *    shuffle; lineage is cut with localCheckpoint every few rounds
  *    (the same discipline as [[Dedup.connectedComponents]]).
  */
object Bpe {

  /** (word, freq) table from a corpus text column — the one
    * corpus-sized shuffle in BPE training. */
  def wordFreqs(docs: DataFrame, text: Column): DataFrame =
    docs.select(explode(TextAnalysis.tokens(text)).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Initial segmentation: a word is its character sequence (the
    * end-of-word is implied by the array end; a production tokenizer
    * would append a marker symbol — same plumbing). */
  def initSymbols(word: Column): Column =
    filter(split(word, ""), s => length(s) > 0)

  /** Adjacent-pair counts over a symbols column, weighted by word
    * frequency: the per-round statistic (and, standalone, the q99
    * oracle surface). Guarded sequence: single-symbol words emit no
    * pairs (sequence(1,0) would be DESCENDING, not empty). */
  def pairCounts(words: DataFrame, symbols: Column, freq: Column)
      : DataFrame =
    words
      .select(symbols.as("__sym"), freq.as("__freq"))
      .select(explode(when(size(col("__sym")) >= 2,
        transform(sequence(lit(1), size(col("__sym")) - 1),
          i => struct(
            element_at(col("__sym"), i).as("a"),
            element_at(col("__sym"), i + 1).as("b"))))
        .otherwise(array().cast("array<struct<a:string,b:string>>")))
        .as("p"), col("__freq"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("__freq")).as("pair_freq"))

  /** One greedy left-to-right merge pass: every non-overlapping (a,b)
    * adjacency becomes the fused symbol a+b. Pure fold over the array
    * (aggregate HOF) — row-local, codegen'd, no UDF. "aaa" under
    * (a,a) → ["aa","a"], matching the sequential reference scan: a
    * just-fused symbol never re-fuses with the next element in the
    * same pass. */
  def mergePair(symbols: Column, a: String, b: String): Column = {
    val fused = a + b
    aggregate(symbols,
      array().cast("array<string>"),
      (acc, x) =>
        when(size(acc) > 0 &&
             element_at(acc, -1) === lit(a) && x === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(fused))))
        .otherwise(concat(acc, array(x))))
  }

  /** Train `numMerges` merge rules; returns the ordered merge table.
    * Each round: distributed weighted pair count → top-`batchSize`
    * (freq desc, then (a,b) asc for determinism) → broadcast
    * re-segmentation applying the accepted batch in one pass. Stops
    * early when no pair occurs twice.
    *
    * BATCHING (the driver-round bottleneck fix): a 30-50k-rule
    * production vocabulary at one merge per distributed count is
    * 30-50k Spark jobs regardless of data size. With `batchSize` > 1
    * a round accepts a PREFIX of the sorted candidate list and applies
    * it in one re-segmentation pass, cutting rounds ~batchSize×. The
    * batch is chosen so the result is PROVABLY identical to
    * one-merge-at-a-time training (BpeSpec holds this as a law, on
    * the classic corpus and on randomized ones):
    *
    *  - merging (a,b) never increases any other current pair's count,
    *    and leaves counts of pairs DISJOINT from {a,b} unchanged — so
    *    a disjoint next candidate's rank among OLD pairs is stable;
    *  - the only counts that can grow are pairs involving the fused
    *    symbol; a new (x, ab) adjacency consumes an (x, a) one (and
    *    (ab, y) consumes (b, y)), so each is bounded by the current
    *    per-symbol maxima — the "ceiling" below (plus the counts
    *    already on a pre-existing symbol equal to the fused string,
    *    for the degenerate vocab-collision case);
    *  - therefore the prefix is extended only while the next candidate
    *    (i) shares no symbol (nor fused output) with the batch so far,
    *    and (ii) its frequency is STRICTLY above the batch's new-pair
    *    ceiling (strict, because a tied new pair could win the
    *    (a, b) asc tie-break). Any violation ends the round; the
    *    remaining rules are re-derived from fresh counts next round.
    *
    * Per round this costs one extra small aggregation (per-symbol
    * maxima for ≤ 3·batchSize candidate symbols); `batchSize = 1`
    * keeps the exact original single-job rounds. */
  def train(spark: SparkSession, docs: DataFrame, text: Column,
            numMerges: Int, checkpointEvery: Int = 8,
            batchSize: Int = 1)
      : Seq[(String, String, Long)] = {
    require(batchSize >= 1, "batchSize must be >= 1")
    var words = wordFreqs(docs, text)
      .select(col("word"), col("freq"),
        initSymbols(col("word")).as("symbols"))
      .localCheckpoint()
    // the previous CHECKPOINT is tracked separately from the working
    // frame: between checkpoints `words` is a plan over it, so the
    // superseded blocks are freed only once the next checkpoint
    // materializes (same discipline as Dedup.connectedComponents)
    var lastCp = words
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Long)]
    var sinceCp = 0
    var done = false
    while (merges.size < numMerges && !done) {
      val m = math.min(batchSize, numMerges - merges.size)
      val counts = pairCounts(words, col("symbols"), col("freq"))
        .filter(col("pair_freq") >= 2)
      val cands = counts
        .orderBy(col("pair_freq").desc, col("a").asc, col("b").asc)
        .limit(m).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      if (cands.isEmpty) done = true
      else {
        val batch =
          if (m == 1 || cands.length == 1) cands.take(1)
          else selectBatch(cands, symbolCaps(counts, cands), m)
        merges ++= batch
        val next = words.withColumn("symbols",
          batch.foldLeft(col("symbols")) { case (s, (a, b, _)) =>
            mergePair(s, a, b)
          })
        sinceCp += batch.size
        words =
          if (sinceCp >= checkpointEvery) {
            val cp = next.localCheckpoint()
            Lifecycle.release(lastCp)
            lastCp = cp
            sinceCp = 0
            cp
          } else next
      }
    }
    Lifecycle.release(lastCp)
    merges.toSeq
  }

  /** PRODUCTION-RULE-COUNT training: the merge LOOP runs on the
    * driver over the Heaps-bounded (word, freq) table; only the
    * corpus-proportional word count is distributed. The batched
    * distributed trainer cuts driver rounds ~batchSize×, but its
    * provably-exact acceptance rule stops at the first symbol
    * conflict — on a natural Zipfian vocabulary that is ~2 accepted
    * rules per round (measured: 1000 rules = 494 rounds = 277 s on
    * a 10k-word Zipf vocabulary), so ROUND COUNT, not data, dominates
    * at real rule counts. This is also how production BPE trainers work
    * (SentencePiece/HF: aggregate word counts, then train in
    * memory): the word table is sublinear in the corpus by Heaps'
    * law, the loop is O(rules · vocab symbols), and the merge table
    * it emits is EXACTLY the sequential trainer's — same pair
    * statistic (every adjacency, weighted by word freq), same ≥2
    * cutoff, same (freq desc, a asc, b asc) tie-break, same greedy
    * left-to-right non-overlapping merge pass — BpeSpec holds
    * trainLocal ≡ train as a law. `maxWords` guards the collect
    * LOUDLY (count first): above it, fall back to the distributed
    * trainer rather than silently pulling an unbounded table. The
    * tie-break compares Java strings (UTF-16 code units) — identical
    * to Spark's ordering on ASCII vocabularies, which every corpus
    * here is. */
  def trainLocal(spark: SparkSession, docs: DataFrame, text: Column,
                 numMerges: Int, maxWords: Long = 2000000L)
      : Seq[(String, String, Long)] = {
    val wfDf = wordFreqs(docs, text)
    val n = wfDf.count()
    require(n <= maxWords,
      s"trainLocal: $n distinct words exceeds the $maxWords driver " +
        "budget — use the distributed trainer (train)")
    val words: Array[(Array[String], Long)] = wfDf.collect()
      .map(r => (r.getString(0).split("").filter(_.nonEmpty),
        r.getLong(1)))
    val table = Array.fill[Array[String]](words.length)(null)
    words.indices.foreach(i => table(i) = words(i)._1)
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Long)]
    var done = false
    while (merges.size < numMerges && !done) {
      // pair counts: every adjacency, weighted by word frequency
      val counts = scala.collection.mutable
        .HashMap.empty[(String, String), Long]
      var wi = 0
      while (wi < table.length) {
        val s = table(wi); val f = words(wi)._2
        var i = 0
        while (i < s.length - 1) {
          val k = (s(i), s(i + 1))
          counts(k) = counts.getOrElse(k, 0L) + f
          i += 1
        }
        wi += 1
      }
      val cand = counts.iterator.filter(_._2 >= 2L)
        .reduceOption { (x, y) =>
          // (freq desc, a asc, b asc) — the sequential tie-break
          if (x._2 != y._2) { if (x._2 > y._2) x else y }
          else if (x._1._1 != y._1._1) {
            if (x._1._1 < y._1._1) x else y
          } else if (x._1._2 < y._1._2) x else y
        }
      cand match {
        case None => done = true
        case Some(((a, b), f)) =>
          merges += ((a, b, f))
          val fused = a + b
          // greedy left-to-right non-overlapping (mergePair's fold)
          var w = 0
          while (w < table.length) {
            val s = table(w)
            if (s.length >= 2) {
              val out = new scala.collection.mutable
                .ArrayBuffer[String](s.length)
              var i = 0
              while (i < s.length) {
                if (out.nonEmpty && out.last == a && s(i) == b) {
                  out(out.length - 1) = fused
                } else out += s(i)
                i += 1
              }
              if (out.length < s.length) table(w) = out.toArray
            }
            w += 1
          }
      }
    }
    merges.toSeq
  }

  /** Greedy PREFIX acceptance for one batched round (see [[train]]):
    * candidates arrive in the sequential-greedy total order; accept
    * while symbols stay disjoint and the frequency clears the
    * new-pair ceiling. The first violation ends the batch — skipping
    * past an overlapping candidate could diverge from sequential
    * order, so the round stops instead. */
  private def selectBatch(cands: Seq[(String, String, Long)],
                          caps: (Map[String, Long], Map[String, Long]),
                          m: Int): Seq[(String, String, Long)] = {
    val (maxFirst, maxSecond) = caps
    val used = scala.collection.mutable.Set.empty[String]
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Long)]
    var ceiling = 0L
    var stop = false
    val it = cands.iterator
    while (!stop && out.size < m && it.hasNext) {
      val (a, b, f) = it.next()
      val fused = a + b
      if (out.nonEmpty &&
          (used(a) || used(b) || used(fused) || f <= ceiling)) stop = true
      else {
        out += ((a, b, f))
        used += a; used += b; used += fused
        // any pair the fused symbol can form is bounded by what its
        // parents formed — plus whatever a PRE-EXISTING symbol equal
        // to the fused string already formed (vocab-collision case)
        val grow = math.max(
          maxSecond.getOrElse(a, 0L) + maxSecond.getOrElse(fused, 0L),
          maxFirst.getOrElse(b, 0L) + maxFirst.getOrElse(fused, 0L))
        ceiling = math.max(ceiling, grow)
      }
    }
    out.toSeq
  }

  /** Per-symbol maxima over the current pair counts, for the batch
    * ceiling: max freq of any pair whose FIRST element is s, and of
    * any pair whose SECOND element is s — one small aggregation
    * filtered to the ≤ 3·batch candidate symbols. */
  private def symbolCaps(counts: DataFrame,
                         cands: Seq[(String, String, Long)])
      : (Map[String, Long], Map[String, Long]) = {
    val syms = cands.flatMap { case (a, b, _) => Seq(a, b, a + b) }.distinct
    val rows = counts.filter(col("a").isin(syms: _*))
      .groupBy(col("a").as("s")).agg(max(col("pair_freq")).as("mx"))
      .select(lit(1).as("side"), col("s"), col("mx"))
      .unionByName(counts.filter(col("b").isin(syms: _*))
        .groupBy(col("b").as("s")).agg(max(col("pair_freq")).as("mx"))
        .select(lit(2).as("side"), col("s"), col("mx")))
      .collect()
    (rows.filter(_.getInt(0) == 1)
       .map(r => r.getString(1) -> r.getLong(2)).toMap,
     rows.filter(_.getInt(0) == 2)
       .map(r => r.getString(1) -> r.getLong(2)).toMap)
  }

  /** Apply an ordered merge table to a symbols column (inference-side
    * segmentation: fold the rules in training order). ONE Column
    * expression — fine for the tens of rules a differential oracle
    * can replay, but each rule nests another `aggregate` HOF, so a
    * production merge table (30k–100k rules) must go through
    * [[vocabLengths]]' chunked application instead: the single
    * expression would exceed any codegen/analysis budget long before
    * the data mattered. */
  def applyMerges(symbols: Column, merges: Seq[(String, String, Long)])
      : Column =
    merges.foldLeft(symbols) { case (s, (a, b, _)) => mergePair(s, a, b) }

  /** STAGED (word → BPE token length) vocabulary at PRODUCTION rule
    * counts: encode the corpus's DISTINCT words (sublinear in the
    * corpus by Heaps' law) by applying the merge table in CHUNKS of
    * `chunkRules`, materializing the vocab-bounded table between
    * chunks — the same lineage-cut discipline the trainer itself uses
    * (checkpointEvery), applied at inference. Consumers broadcast-join
    * the result back onto word occurrences (the q404/q405 plan): no
    * shuffle, and hot-word skew structurally cannot exist under a
    * broadcast hash join. Returns (word, wn).
    *
    * RETENTION: the returned frame is backed by the FINAL
    * localCheckpoint (intermediate chunk checkpoints are released
    * here); its vocab-sized blocks go with the frame, or the caller
    * frees them with [[graft.operators.Lifecycle.release]] when done.
    * Callers that serve one vocab to many queries stage it through
    * [[graft.operators.Staged]] (the q404 discipline: parquet-backed). */
  def vocabLengths(spark: SparkSession, docs: DataFrame, text: Column,
                   merges: Seq[(String, String, Long)],
                   chunkRules: Int = 16): DataFrame = {
    require(chunkRules >= 1, "chunkRules must be >= 1")
    var words = docs
      .select(explode(TextAnalysis.tokens(text)).as("word"))
      .distinct()
      .withColumn("__sym", initSymbols(col("word")))
      .localCheckpoint()
    var lastCp = words
    merges.grouped(chunkRules).foreach { chunk =>
      val next = words
        .withColumn("__sym", applyMerges(col("__sym"), chunk))
        .localCheckpoint()
      Lifecycle.release(lastCp)
      lastCp = next
      words = next
    }
    words.select(col("word"),
      size(col("__sym")).cast("long").as("wn"))
  }
}
