package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the dedup/similarity hot path
  * (SURVEY.md §2m / the builder's preference order: a custom `Expression`
  * with `doGenCode` where built-in composition is too slow — here the
  * built-in form is an interpreted higher-order-function chain).
  *
  * Each expression participates in whole-stage codegen: `doGenCode`
  * emits a single static call into [[HashOps]]'s JIT'd kernels, so the
  * generated pipeline stays one fused loop per row batch.
  */
abstract class HashCallExpr extends UnaryExpression {
  /** Fully-qualified static call, e.g. "graft.functions.HashOps.simhash64". */
  protected def staticCall: String
  protected def extraArgs: String = ""

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"$staticCall($c$extraArgs)")
}

/** text -> array<long> of xxhash64(token) for lowercased ws tokens. */
case class TokenHashes(child: Expression) extends HashCallExpr {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def staticCall = "graft.functions.HashOps.tokenHashesData"
  override protected def nullSafeEval(v: Any): Any =
    HashOps.tokenHashesData(v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def withNewChildInternal(c: Expression): TokenHashes =
    copy(child = c)
  override def prettyName: String = "graft_token_hashes"
}

/** text -> array<long> of distinct word n-gram hashes. */
case class ShingleHashes(child: Expression, n: Int) extends HashCallExpr {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def staticCall = "graft.functions.HashOps.shingleHashes"
  override protected def extraArgs = s", $n"
  override protected def nullSafeEval(v: Any): Any =
    HashOps.shingleHashes(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], n)
  override protected def withNewChildInternal(c: Expression): ShingleHashes =
    copy(child = c)
  override def prettyName: String = "graft_shingle_hashes"
}

/** array<long> shingle hashes -> array<long> minhash signature. */
case class MinHashSig(child: Expression, numHashes: Int)
    extends HashCallExpr {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def staticCall = "graft.functions.HashOps.minhashSig"
  override protected def extraArgs = s", $numHashes"
  override protected def nullSafeEval(v: Any): Any =
    HashOps.minhashSig(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      numHashes)
  override protected def withNewChildInternal(c: Expression): MinHashSig =
    copy(child = c)
  override def prettyName: String = "graft_minhash_sig"
}

/** text -> array<double> hashed bag-of-words (md5 slot counts); null
  * for token-less text. */
case class HashedBow(child: Expression, dim: Int)
    extends UnaryExpression {
  override def dataType: DataType =
    ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override protected def nullSafeEval(v: Any): Any =
    HashOps.hashedBow(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], dim)
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val code =
      code"""
        ${childGen.code}
        boolean ${ev.isNull} = ${childGen.isNull};
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
        if (!${ev.isNull}) {
          ${ev.value} =
            graft.functions.HashOps.hashedBow(${childGen.value}, $dim);
          if (${ev.value} == null) { ${ev.isNull} = true; }
        }"""
    ev.copy(code = code)
  }
  override protected def withNewChildInternal(c: Expression): HashedBow =
    copy(child = c)
  override def prettyName: String = "graft_hashed_bow"
}

/** text -> 64-bit simhash (null for token-less text). */
case class SimHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override protected def nullSafeEval(v: Any): Any = {
    val h = HashOps.simhash64(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
    if (h == Long.MinValue) null else java.lang.Long.valueOf(h)
  }
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val code =
      code"""
        ${childGen.code}
        boolean ${ev.isNull} = ${childGen.isNull};
        long ${ev.value} = 0L;
        if (!${ev.isNull}) {
          ${ev.value} = graft.functions.HashOps.simhash64(${childGen.value});
          if (${ev.value} == Long.MIN_VALUE) { ${ev.isNull} = true; }
        }"""
    ev.copy(code = code)
  }
  override protected def withNewChildInternal(c: Expression): SimHash64 =
    copy(child = c)
  override def prettyName: String = "graft_simhash64"
}

/** text -> [n_chars, n_tokens, n_punct, n_upper, sum_token_len,
  * en_stop, n_cjk, de/en/es/fr distinct stop] in one pass: the kernel
  * behind every scoring signal (see [[HashOps.textStats]]). */
case class TextStats(child: Expression) extends HashCallExpr {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def staticCall = "graft.functions.HashOps.textStats"
  override protected def nullSafeEval(v: Any): Any =
    HashOps.textStats(
      v.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])
  override protected def withNewChildInternal(c: Expression): TextStats =
    copy(child = c)
  override def prettyName: String = "graft_text_stats"
}

/** array<float|double> -> array<long> of multi-table LSH bucket ids
  * (table tag in the high bits); one fused loop per row. */
case class LshBuckets(child: Expression, planes: Int, tables: Int)
    extends HashCallExpr {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  override protected def staticCall =
    if (isFloat) "graft.functions.HashOps.lshBucketsFloat"
    else "graft.functions.HashOps.lshBucketsDouble"
  override protected def extraArgs = s", $planes, $tables"
  override protected def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    if (isFloat) HashOps.lshBucketsFloat(a, planes, tables)
    else HashOps.lshBucketsDouble(a, planes, tables)
  }
  override protected def withNewChildInternal(c: Expression): LshBuckets =
    copy(child = c)
  override def prettyName: String = "graft_lsh_buckets"
}

/** (array<double> vec, array<array<double>> codebook) -> array<int> of
  * m PQ codes (argmin sub-L2 per equal slice, ties to lower index). */
case class PqEncode(left: Expression, right: Expression, m: Int)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override protected def nullSafeEval(v: Any, c: Any): Any =
    HashOps.pqEncode(
      v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      c.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], m)
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.HashOps.pqEncode($a, $b, $m)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): PqEncode = copy(left = l, right = r)
  override def prettyName: String = "graft_pq_encode"
}

/** (array<int> codes, array<array<double>> lut) -> ADC score double. */
case class AdcScore(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(cd: Any, lt: Any): Any =
    HashOps.adcScore(
      cd.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      lt.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.HashOps.adcScore($a, $b)")
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): AdcScore = copy(left = l, right = r)
  override def prettyName: String = "graft_adc_score"
}

/** (array<float|double>, array<float|double>) -> cosine similarity as
  * double; null (not an error) for zero-norm / mismatched inputs. */
case class CosineSim(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  private def kernel: String =
    if (isFloat(left)) "graft.functions.HashOps.cosineFloat"
    else "graft.functions.HashOps.cosineDouble"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val ad = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val bd = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val v = if (isFloat(left)) HashOps.cosineFloat(ad, bd)
            else HashOps.cosineDouble(ad, bd)
    if (v.isNaN) null else java.lang.Double.valueOf(v)
  }

  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"""
      ${ev.value} = $kernel($a, $b);
      if (Double.isNaN(${ev.value})) { ${ev.isNull} = true; }""")

  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): CosineSim = copy(left = l, right = r)
  override def prettyName: String = "graft_cosine"
}
