package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression

/** Column-API surface for the graft native expressions, plus SQL
  * registration (so `SELECT graft_simhash64(text)` works too — the
  * SparkSessionExtensions route for users who want them session-wide). */
package object functions {

  private def toExpr(c: Column): Expression =
    org.apache.spark.sql.graft.bridge.expression(c)
  private def toCol(e: Expression): Column =
    org.apache.spark.sql.graft.bridge.column(e)

  def token_hashes(text: Column): Column =
    toCol(TokenHashes(toExpr(text)))
  def shingle_hashes(text: Column, n: Int = 3): Column =
    toCol(ShingleHashes(toExpr(text), n))
  def minhash_sig(shingles: Column, numHashes: Int = 64): Column =
    toCol(MinHashSig(toExpr(shingles), numHashes))
  def simhash64(text: Column): Column =
    toCol(SimHash64(toExpr(text)))
  def cosine_sim(a: Column, b: Column): Column =
    toCol(CosineSim(toExpr(a), toExpr(b)))
  def lsh_buckets(vec: Column, planes: Int, tables: Int): Column =
    toCol(LshBuckets(toExpr(vec), planes, tables))
  def pq_encode(vec: Column, cents: Column, m: Int): Column =
    toCol(PqEncode(toExpr(vec), toExpr(cents), m))
  def adc_score(codes: Column, lut: Column): Column =
    toCol(AdcScore(toExpr(codes), toExpr(lut)))
  def text_stats(text: Column): Column =
    toCol(TextStats(toExpr(text)))
  def hashed_bow(text: Column, dim: Int): Column =
    toCol(HashedBow(toExpr(text), dim))

  /** Register the native functions for SQL use (idempotent; the
    * session-wide alternative is `spark.sql.extensions=
    * graft.functions.GraftExtensions`). */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    GraftExtensions.all.foreach { case (name, _, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}
