package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Model-based quality filtering: linear-classifier INFERENCE as pure
  * row-local column math. The reference pipeline has no ML scoring; a
  * training-data pipeline does (fastText-style quality classifiers in
  * the CCNet/Gopher recipes) — the engine-side contract is "apply a
  * trained linear model over cheap text features to every document with
  * zero shuffle", and that is what this module provides. Weights are a
  * plain `Seq[(feature, weight)]`; a production model's coefficients
  * load the same way.
  *
  * Two deliberate determinism choices (this scoring sits under a
  * hash-compared differential oracle, and at 100 TB "same score on
  * re-run anywhere" is a data-lineage requirement, not a nicety):
  *   - all features are RATIONAL functions of one
  *     [[graft.functions.text_stats]] pass (counts and ratios — no
  *     log/exp whose libm rounding differs across engines);
  *   - the logistic squash is replaced by the algebraic sigmoid
  *     x => 0.5 + 0.5 * x/(1+|x|) — same monotone S-shape and the same
  *     0.5-at-zero decision boundary, but IEEE-exact: +,*,/,abs are
  *     correctly-rounded everywhere, so Spark and DuckDB produce
  *     bit-identical doubles given the same evaluation order.
  */
object QualityModel {

  /** Algebraic sigmoid: monotone (0,1) squash, 0.5 at logit 0. */
  def squash(logit: Column): Column =
    lit(0.5) + lit(0.5) * (logit / (lit(1.0) + abs(logit)))

  /** bias + Σ wᵢ·fᵢ, folded left so the evaluation order is fixed and
    * an oracle can mirror it term by term. */
  def linear(bias: Double, terms: Seq[(Column, Double)]): Column =
    terms.foldLeft(lit(bias).cast(DoubleType): Column) {
      case (acc, (f, w)) => acc + lit(w) * f
    }

  /** The named feature columns over a PRECOMPUTED text_stats array
    * `ts` (the stopword hit count is its slot 6):
    * len_feat   = min(n_chars/500, 1)        (longer is better, capped)
    * punct_ratio, upper_ratio                (per non-ws char signals)
    * stopword_ratio                          (natural-language signal)
    * mean_word_len                           (gibberish detector)
    * Division-by-zero guards return 0.0 (not null): a model scores
    * every document. */
  def featuresFromStats(ts: Column): Seq[(String, Column)] = {
    val nc = element_at(ts, 1).cast(DoubleType)
    val nt = element_at(ts, 2).cast(DoubleType)
    val np = element_at(ts, 3).cast(DoubleType)
    val nu = element_at(ts, 4).cast(DoubleType)
    val stl = element_at(ts, 5).cast(DoubleType)
    val swHits = element_at(ts, 6).cast(DoubleType)
    Seq(
      "len_feat" -> least(nc / lit(500.0), lit(1.0)),
      "punct_ratio" -> when(nc > 0, np / nc).otherwise(lit(0.0)),
      "upper_ratio" -> when(nc > 0, nu / nc).otherwise(lit(0.0)),
      "stopword_ratio" -> when(nt > 0, swHits / nt)
        .otherwise(lit(0.0)),
      "mean_word_len" -> when(nt > 0, stl / nt).otherwise(lit(0.0)))
  }

  /** One-shot Column form (inlines the kernel; fine for single use —
    * [[classify]] stages it instead, see its note). */
  def features(text: Column): Seq[(String, Column)] =
    featuresFromStats(graft.functions.text_stats(text))

  /** Demonstration coefficients (hand-set, plausible signs: length and
    * stopwords up-weight prose; punctuation/caps walls and extreme word
    * lengths down-weight). A trained model replaces this Seq. */
  val DefaultBias: Double = -1.0
  val DefaultWeights: Seq[(String, Double)] = Seq(
    "len_feat" -> 1.2,
    "punct_ratio" -> -3.0,
    "upper_ratio" -> -1.5,
    "stopword_ratio" -> 2.5,
    "mean_word_len" -> -0.05)

  /** Score in (0,1); keep-decision at `threshold` (default 0.5 ⟺
    * logit >= 0). */
  def score(text: Column,
            bias: Double = DefaultBias,
            weights: Seq[(String, Double)] = DefaultWeights): Column = {
    val f = features(text).toMap
    squash(linear(bias, weights.map { case (n, w) => (f(n), w) }))
  }

  /** Stage the kernel + features + logit/score as named columns (the
    * CollapseProject discipline [[classify]] documents): the kernel
    * and each feature appear in the plan exactly once no matter how
    * many downstream expressions reference them. */
  private def staged(df: DataFrame, text: Column,
                     bias: Double, weights: Seq[(String, Double)])
      : DataFrame = {
    val withKernel = df.withColumn("__ts", graft.functions.text_stats(text))
    val withFeats = featuresFromStats(col("__ts"))
      .foldLeft(withKernel) { case (d, (n, c)) =>
        d.withColumn("__f_" + n, c)
      }
    withFeats
      .withColumn("__logit", linear(bias,
        weights.map { case (n, w) => (col("__f_" + n), w) }))
      .withColumn("__score", squash(col("__logit")))
  }

  /** TRAINING, step one: the batch gradient of the mean squared error
    * ½·avg((σ(xᵀw+b) − y)²) under the algebraic sigmoid, whose
    * derivative σ'(x) = 0.5/(1+|x|)² is RATIONAL — so every per-row
    * term is exact IEEE arithmetic an oracle can replay bit-for-bit
    * (the training counterpart of [[classify]]'s determinism choices).
    * Returns one (feature, g) row per weight plus the `bias` row.
    *
    * Shape for 100 TB: ONE pass — the kernel and features staged
    * row-local, then a single global aggregate whose map-side partials
    * reduce each task to (numFeatures+1) doubles before the (one-row)
    * exchange. The corpus is never collected; the model state that
    * leaves the executors is numFeatures+1 doubles.
    *
    * `deterministicSum`: the per-feature Σ resid·fᵢ re-sums in
    * partition-dependent order (the q103 hazard); with this flag the
    * sums fold VALUE-SORTED collected term lists instead —
    * order-independent for hash-compared verification (q110), at the
    * cost of shuffling the term lists (8 B/doc/feature). Production
    * steps keep the cheap partial-agg form. */
  def gradient(df: DataFrame, text: Column, label: Column,
               bias: Double = DefaultBias,
               weights: Seq[(String, Double)] = DefaultWeights,
               deterministicSum: Boolean = false): DataFrame = {
    val s = staged(df, text, bias, weights)
      .withColumn("__y", label.cast(DoubleType))
      // d/dlogit ½(σ−y)² = (σ−y)·σ'(logit); σ' = 0.5/(1+|x|)²
      .withColumn("__resid",
        (col("__score") - col("__y")) *
          (lit(0.5) / ((lit(1.0) + abs(col("__logit"))) *
                       (lit(1.0) + abs(col("__logit"))))))
    val terms: Seq[(String, Column)] =
      ("bias", lit(1.0).cast(DoubleType)) +:
        weights.map { case (n, _) => (n, col("__f_" + n)) }
    val aggs = terms.zipWithIndex.map { case ((_, f), i) =>
      val t = col("__resid") * f
      val g =
        if (deterministicSum)
          aggregate(array_sort(collect_list(t)), lit(0.0d),
            (acc, x) => acc + x) / count(lit(1)).cast(DoubleType)
        else sum(t) / count(lit(1)).cast(DoubleType)
      g.as(s"__g$i")
    }
    val one = s.agg(aggs.head, aggs.tail: _*)
    one.select(explode(array(terms.zipWithIndex.map { case ((n, _), i) =>
        struct(lit(n).as("feature"), col(s"__g$i").as("g"))
      }: _*)).as("__fg"))
      .select(col("__fg.feature").as("feature"), col("__fg.g").as("g"))
  }

  /** Full batch-gradient-descent TRAINING loop: `steps` gradient
    * passes, the driver holding only the (bias, weights) vector
    * between rounds (numFeatures+1 doubles — broadcast back into the
    * next pass as plan literals, the same state discipline as
    * [[KMeans.fit]]'s centroid row). No lineage growth: each step
    * plans fresh over `df` with updated literal weights, so no
    * checkpointing is needed. Returns (bias, weights). */
  def fit(df: DataFrame, text: Column, label: Column,
          steps: Int, lr: Double = 1.0,
          initBias: Double = 0.0,
          initWeights: Seq[(String, Double)] =
            DefaultWeights.map { case (n, _) => (n, 0.0) })
      : (Double, Seq[(String, Double)]) = {
    require(steps > 0, "training needs at least one step")
    var b = initBias
    var w = initWeights
    for (_ <- 0 until steps) {
      val g = gradient(df, text, label, b, w)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      b -= lr * g("bias")
      w = w.map { case (n, v) => (n, v - lr * g(n)) }
    }
    (b, w)
  }

  /** df + (score, keep) — narrow projections, no shuffle; the
    * downstream filter on `keep` pushes to the scan at 100 TB.
    *
    * The kernel output is STAGED as an intermediate column rather than
    * inlined into every feature: `score` references the logit twice
    * (squash) and `keep` references `score` again, so the inlined form
    * plants ~24 copies of the text_stats subtree in the plan and bets
    * on codegen CSE to deduplicate them. Staged behind projection
    * boundaries (CollapseProject keeps a multiply-referenced non-cheap
    * alias), the kernel appears in the plan exactly once —
    * PlanShapeSpec asserts it. */
  def classify(df: DataFrame, text: Column,
               threshold: Double = 0.5,
               bias: Double = DefaultBias,
               weights: Seq[(String, Double)] = DefaultWeights)
      : DataFrame =
    staged(df, text, bias, weights)
      .withColumn("score", col("__score"))
      .withColumn("keep", col("score") >= threshold)
      .drop(Seq("__ts", "__logit", "__score") ++
        weights.map("__f_" + _._1): _*)
}
