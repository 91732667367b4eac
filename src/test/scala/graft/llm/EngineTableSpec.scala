package graft.llm

import graft.SparkSpec
import graft.sources.Sinks
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The tables the llm writers own are sink tables: a rewrite is one
  * commit, so a frame planned over the old generation still reads it,
  * and reading one back starts no Spark job. */
class EngineTableSpec extends SparkSpec {
  import spark.implicits._

  private def docs(from: Long) = Seq(
    (from, "the quick brown fox jumps over the lazy dog"),
    (from + 1, "a completely different sentence about parquet files"),
    (from + 2, "one more document with a few words in it"))
    .toDF("doc_id", "text")

  private def vecs(from: Long) = (0 until 6).map { i =>
    (from + i, Array((from + i).toDouble, (i % 2).toDouble, 1.0))
  }.toDF("vec_id", "embedding")

  private def sorted(df: DataFrame, c: String): Seq[Long] =
    df.select(col(c)).as[Long].collect().sorted.toSeq

  test("writeMinhashIndex rewritten under a held frame: the frame " +
      "still reads the first write's rows") {
    val idx = graft.Scratch.dir("graft_rw_mh").toString + "/idx"
    Dedup.writeMinhashIndex(docs(1), col("doc_id"), col("text"), idx,
      numHashes = 16)
    val held = Sinks.read(spark, idx)
    Dedup.writeMinhashIndex(docs(100), col("doc_id"), col("text"), idx,
      numHashes = 16)
    assert(sorted(held, "id") === Seq(1L, 2L, 3L))
    assert(sorted(Sinks.read(spark, idx), "id") === Seq(100L, 101L, 102L))
  }

  test("LangModel.writeModel rewritten under held frames: they still " +
      "read the first model; readModel starts no job") {
    val dir = graft.Scratch.dir("graft_rw_lm").toString
    def write(d: DataFrame) = LangModel.writeModel(
      LangModel.unigrams(d, $"text"), LangModel.bigrams(d, $"text"), dir)
    val first = Seq((1L, "the cat sat")).toDF("doc_id", "text")
    write(first)
    var held: (DataFrame, DataFrame) = null
    val n = jobsPerTag(tagged => tagged("read") {
      held = LangModel.readModel(spark, dir)
    })
    assert(n("read") === 0, s"readModel started ${n("read")} jobs")
    write(Seq((2L, "dogs run far away")).toDF("doc_id", "text"))
    val (u, b) = held
    assert(u.select($"w").as[String].collect().sorted.toSeq ===
      Seq("cat", "sat", "the"))
    assert(b.count() === LangModel.bigrams(first, $"text").count())
    assert(LangModel.readModel(spark, dir)._1.select($"w").as[String]
      .collect().sorted.toSeq === Seq("away", "dogs", "far", "run"))
  }

  test("ivfWriteIndexFitted rewritten under held frames: index and " +
      "sidecar still read the first write; their reads start no job") {
    val path = graft.Scratch.dir("graft_rw_ivf").toString + "/idx"
    def write(from: Long) = {
      val v = vecs(from)
      val means = KMeans.fit(v, col("vec_id"), col("embedding"), k = 2,
        iters = 1)
      try Similarity.ivfWriteIndexFitted(v, col("vec_id"),
        col("embedding"), path, means)
      finally graft.operators.Lifecycle.release(means)
    }
    write(0)
    var held: (DataFrame, DataFrame) = null
    val n = jobsPerTag(tagged => tagged("read") {
      held = Similarity.readIndex(spark, path, nlist = 2)
    })
    assert(n("read") === 0, s"index and sidecar reads: ${n("read")} jobs")
    val (index, cents) = held
    val firstCents = cents.collect().toSeq
    write(1000)
    assert(sorted(index, "vec_id") === (0L until 6L))
    assert(cents.collect().toSeq === firstCents)
    val (index2, cents2) = Similarity.readIndex(spark, path, nlist = 2)
    assert(sorted(index2, "vec_id") === (1000L until 1006L))
    assert(cents2.collect().toSeq !== firstCents)
  }
}
