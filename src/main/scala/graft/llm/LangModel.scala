package graft.llm

import graft.sources.Sinks
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** N-gram language-model quality scoring — the perplexity filter of
  * the CCNet/KenLM recipe re-derived relationally: train interpolated
  * add-k unigram+bigram counts on a (deterministic) train split, score
  * every document by its average token log-probability, drop the tail.
  * No model binary, no per-row state: the "model" IS two count tables.
  *
  * Scale shape:
  *  - TRAIN is two word-count groupBys over the train split (map-side
  *    combining; the classic shape);
  *  - SCORE explodes each doc to (prev, cur) token transitions and
  *    joins the two count tables. The unigram table is vocabulary-
  *    sized (Heaps' law) and broadcasts; the bigram table may not fit
  *    a broadcast at corpus scale, in which case the TRANSITION frame
  *    shuffles on the token key — a narrow (doc_id, prev, cur) frame,
  *    never the document text. Per-doc aggregation is one partial-agg
  *    groupBy on doc id.
  *  - probabilities are exact count ratios (bit-identical across
  *    engines); only the final log is libm (≤1 ULP skew), averaged
  *    over the doc and rounded — the same FP policy as every avg() in
  *    the oracle suite.
  *
  * p(cur|prev) = λ·(c(prev,cur)+k)/(c(prev)+k·V) + (1-λ)·(c(cur)+k)/(N+k·V)
  * with V = train vocabulary size, N = train token count; the first
  * token of a doc scores unigram-only (no prev). */
object LangModel {

  /** (word, c) unigram counts over a text column. */
  def unigrams(docs: DataFrame, text: Column): DataFrame =
    docs.select(explode(TextAnalysis.tokens(text)).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))

  /** (a, b, c) adjacent-token bigram counts. */
  def bigrams(docs: DataFrame, text: Column): DataFrame =
    docs.select(TextAnalysis.tokens(text).as("__t"))
      .select(explode(when(size(col("__t")) >= 2,
        transform(sequence(lit(1), size(col("__t")) - 1),
          i => struct(element_at(col("__t"), i).as("a"),
                      element_at(col("__t"), i + 1).as("b"))))
        .otherwise(array().cast("array<struct<a:string,b:string>>")))
        .as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(count(lit(1)).as("c"))

  /** Merge a new batch's unigram counts into an existing count table.
    * Integer addition is associative and commutative, so incrementally
    * merged counts are IDENTICAL to a full retrain over
    * history ∪ batch — the law q125 verifies end-to-end (scores under
    * the merged model hash-match a from-scratch oracle). The merge
    * shuffles only the COUNT TABLES (vocabulary-bounded, Heaps' law),
    * never historical text — the same incremental-corpus shape as the
    * minhash index (q95) and the semantic-dedup cell index (q111). */
  def mergeUnigrams(old: DataFrame, add: DataFrame): DataFrame =
    old.unionByName(add).groupBy(col("w")).agg(sum(col("c")).as("c"))

  /** [[mergeUnigrams]] for the (a, b, c) bigram table. */
  def mergeBigrams(old: DataFrame, add: DataFrame): DataFrame =
    old.unionByName(add).groupBy(col("a"), col("b"))
      .agg(sum(col("c")).as("c"))

  /** Persist a trained model (unigram + bigram count tables) as two
    * sink tables under `dir`, each replaced in one commit. */
  def writeModel(uni: DataFrame, bi: DataFrame, dir: String): Unit = {
    Sinks.replace(uni, dir + "/unigrams")
    Sinks.replace(bi, dir + "/bigrams")
  }

  /** Read a persisted model back: (unigrams, bigrams). */
  def readModel(spark: org.apache.spark.sql.SparkSession, dir: String)
      : (DataFrame, DataFrame) =
    (Sinks.read(spark, dir + "/unigrams"), Sinks.read(spark, dir + "/bigrams"))

  /** Per-doc (doc_id, n_scored, avg_logprob): every token transition
    * of `score` docs scored under the interpolated model trained from
    * the `uni`/`bi` count tables. Token-less docs drop out.
    *
    * `deterministicAvg`: plain `avg()` re-sums partial aggregates in
    * partition-dependent order, and a last-ULP difference between two
    * summation orders can flip the 6th rounded digit of a
    * hash-compared result (observed once on q102's cosines). With
    * `deterministicAvg = true` the per-doc mean is instead a fold over
    * the VALUE-SORTED collected log-probs — order-independent by
    * construction, replayable in any engine with an ordered-list
    * reduce. Cost: the shuffle carries the per-doc double list
    * (8 B/token, same order as the transition join itself) instead of
    * a (sum, count) pair, and the list is doc-length-bounded — fine
    * for verification surfaces; the default keeps the cheap shape for
    * production scoring where a ULP in the mean is immaterial. */
  def scoreDocs(docs: DataFrame, id: Column, text: Column,
                uni: DataFrame, bi: DataFrame,
                lambda: Double = 0.7, k: Double = 1.0,
                deterministicAvg: Boolean = false): DataFrame = {
    // scalar train stats as a broadcast single-row frame
    val stats = uni.agg(sum(col("c")).cast("double").as("__n"),
      count(lit(1)).cast("double").as("__v"))
    // (doc, pos, prev, cur): pos 1 has no prev (unigram backoff)
    val trans = docs.select(id.as("doc_id"),
        TextAnalysis.tokens(text).as("__t"))
      .select(col("doc_id"), explode(when(size(col("__t")) > 0,
        transform(sequence(lit(1), size(col("__t"))),
          i => struct(
            when(i > 1, element_at(col("__t"), i - 1)).as("prev"),
            element_at(col("__t"), i).as("cur"))))
        .otherwise(array().cast(
          "array<struct<prev:string,cur:string>>"))).as("p"))
      .select(col("doc_id"), col("p.prev").as("prev"),
        col("p.cur").as("cur"))
    val scored = trans
      .join(uni.select(col("w"), col("c").as("c_cur")),
        col("cur") === col("w"), "left").drop("w")
      .join(uni.select(col("w"), col("c").as("c_prev")),
        col("prev") === col("w"), "left").drop("w")
      .join(bi.select(col("a"), col("b"), col("c").as("c_bi")),
        col("prev") === col("a") && col("cur") === col("b"), "left")
      .drop("a", "b")
      .crossJoin(broadcast(stats))
    val pUni = (coalesce(col("c_cur"), lit(0L)).cast("double") + k) /
      (col("__n") + lit(k) * col("__v"))
    val pBi = (coalesce(col("c_bi"), lit(0L)).cast("double") + k) /
      (coalesce(col("c_prev"), lit(0L)).cast("double") +
        lit(k) * col("__v"))
    val p = when(col("prev").isNull, pUni)
      .otherwise(lit(lambda) * pBi + lit(1.0 - lambda) * pUni)
    val perTok = scored.select(col("doc_id"), log(p).as("__lp"))
    if (deterministicAvg)
      perTok.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_scored"),
          (aggregate(array_sort(collect_list(col("__lp"))), lit(0.0d),
            (acc, x) => acc + x) /
            count(lit(1)).cast("double")).as("avg_logprob"))
    else
      perTok.groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_scored"),
          avg(col("__lp")).as("avg_logprob"))
  }
}
