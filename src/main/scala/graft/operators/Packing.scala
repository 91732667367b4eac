package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Context-window packing (the GPT-style "concatenate docs in pinned
  * id order, cut every L tokens" batch-prep) as a first-class
  * operator: absolute token spans per doc, and the per-chunk census
  * (docs present / docs starting / token fill) a packer's layout
  * policy is judged by.
  *
  * Prefix sums never use a global window: docs bucket into ~256
  * ORDER-RANGES of the id axis, the 256-row bucket census
  * prefix-sums via a triangular join, and per-bucket windows add the
  * intra-bucket running sum — the q212/Sharding shape, so the scan
  * survives any corpus size. Bucket boundaries are RANK-SPACED
  * (percentile_approx cut points), not value-spaced (maxId/256): a
  * 100 TB id space with cohort-clustered ids (every batch append
  * lands above the history's max id) would pile whole cohorts into
  * the top value-stride while rank cuts stay balanced under any id
  * distribution — and because any order-preserving bucketing yields
  * the identical prefix sums, the cut placement never affects the
  * output, only the balance.
  *
  * `baseOffset` shifts the whole token axis: an INCREMENTAL packer
  * lays a new batch after `baseOffset` = the persisted total of the
  * already-packed history, and because per-chunk doc counts are
  * ADDITIVE over disjoint doc sets, merged history + offset-batch
  * censuses equal the full-rebuild census exactly (the q320/q351
  * fold theorem at chunk grain — q355 proves it against the oracle).
  */
object Packing {

  /** The 255 interior percentile_approx values of `doc_id`: the cut
    * points of ~256 rank-balanced order-range buckets. */
  private def cutsAgg: Column =
    percentile_approx(col("doc_id"),
      lit((1 to 255).map(_ / 256.0).toArray), lit(10000))

  /** Rank-spaced id-axis cut points ([[cutsAgg]]) — one distributed
    * aggregate, a 255-long bounded scalar pull. Exposed for the
    * balance law in PackingSpec. */
  private[graft] def rankCuts(base: DataFrame): Seq[Long] =
    base.agg(cutsAgg.as("cuts")).collect()(0).getSeq[Long](0)

  /** (doc_id, n_tok, s, e): absolute token span per doc in pinned
    * doc_id order, starting at `baseOffset`. Zero-token docs are
    * dropped (they occupy no span). */
  def spans(docs: DataFrame, id: Column, nTok: Column,
            baseOffset: Long = 0L): DataFrame = {
    val base0 = docs.select(id.as("doc_id"),
        nTok.cast("long").as("n_tok"))
      .filter(col("n_tok") > 0)
    // ONE probe aggregate for the emptiness check AND the rank cuts
    // (they were two sequential driver round-trips; every spans
    // consumer pays this once per call)
    val probe = base0.agg(max(col("doc_id")).as("__mx"),
        cutsAgg.as("__cuts"))
      .collect()(0)
    if (probe.isNullAt(0))
      return base0.select(col("doc_id"), col("n_tok"),
        lit(0L).as("s"), lit(0L).as("e")).limit(0)
    // bucket = how many rank cuts lie at or below this id — a
    // whole-stage-codegen array scan against the 255 broadcast-literal
    // cuts, monotone in doc_id so buckets stay order-ranges
    val cuts = probe.getSeq[Long](1)
    val based = base0.withColumn("__bk",
      size(filter(lit(cuts.toArray), c => c <= col("doc_id"))))
    val census = based.groupBy(col("__bk"))
      .agg(sum(col("n_tok")).as("__c"))
    val offs = census
      .join(census.select(col("__bk").as("__b2"),
        col("__c").as("__c2")), col("__b2") < col("__bk"), "left")
      .groupBy(col("__bk"))
      .agg(coalesce(sum(col("__c2")), lit(0L)).as("__off"))
    val iw = Window.partitionBy(col("__bk")).orderBy(col("doc_id"))
    based.join(offs, Seq("__bk"))
      .withColumn("__cum", col("__off") + sum(col("n_tok")).over(
        iw.rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("doc_id"), col("n_tok"),
        (col("__cum") - col("n_tok") + baseOffset).as("s"),
        (col("__cum") - 1 + baseOffset).as("e"))
  }

  /** Per-chunk census over a span frame: (chunk, n_docs, n_starts).
    * One row per chunk a doc TOUCHES (≤ len/L + 1 explode factor),
    * so rows stay ∝ tokens/L. Token fill is NOT included here — it
    * depends on the GLOBAL total; see [[withFill]]. */
  def chunkCensus(spanFrame: DataFrame, chunkTokens: Long): DataFrame =
    spanFrame
      .select(col("s"), explode(sequence(
        expr(s"s div $chunkTokens"),
        expr(s"e div $chunkTokens"))).as("chunk"))
      .groupBy(col("chunk"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(expr(s"s div $chunkTokens") === col("chunk"), 1L)
          .otherwise(0L)).as("n_starts"))

  /** Attach each chunk's token fill given the corpus total:
    * L everywhere except the tail chunk. */
  def withFill(census: DataFrame, chunkTokens: Long,
               totalTokens: Column): DataFrame =
    census.withColumn("n_tokens",
      least(lit(chunkTokens), totalTokens - col("chunk") * chunkTokens))
}
