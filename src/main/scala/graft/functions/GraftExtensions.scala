package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Session-extension entry point: registers the graft native functions
  * at session build time, so a cluster deploy only needs
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions`
  * (no per-session register() call). The same builders back the
  * imperative [[graft.functions.register]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.all.foreach { case (name, usage, builder) =>
      e.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name, usage),
        (es: Seq[Expression]) => builder(es)))
    }
}

object GraftExtensions {
  /** (name, usage, builder) for every graft SQL function. */
  val all: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("graft_token_hashes", "xxhash64 of each lowercased ws token",
      es => TokenHashes(es.head)),
    ("graft_shingle_hashes", "distinct word n-gram hashes (n=3)",
      es => ShingleHashes(es.head, 3)),
    ("graft_minhash_sig", "64-permutation minhash signature",
      es => MinHashSig(es.head, 64)),
    ("graft_simhash64", "64-bit simhash of the token multiset",
      es => SimHash64(es.head)),
    ("graft_cosine", "cosine similarity of two float/double arrays",
      es => CosineSim(es.head, es(1))),
    ("graft_text_stats",
      "[n_chars, n_tokens, n_punct, n_upper, sum_token_len, en_stop, " +
        "n_cjk, de/en/es/fr distinct stop] in one pass",
      es => TextStats(es.head)),
    ("graft_lsh_buckets",
      "multi-table random-hyperplane LSH bucket ids (planes=4, tables=8)",
      es => LshBuckets(es.head, 4, 8)),
    ("graft_pq_encode",
      "product-quantization codes vs a codebook (m=8 subspaces)",
      es => PqEncode(es.head, es(1), 8)),
    ("graft_adc_score",
      "PQ asymmetric-distance score: sum of lut[j][codes[j]]",
      es => AdcScore(es.head, es(1))),
    ("graft_hashed_bow",
      "hashed bag-of-words slot counts (md5 slots, dim=32)",
      es => HashedBow(es.head, 32)))
}
