package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("SQL registration: graft functions callable from spark.sql") {
    graft.functions.register(spark)
    val row = spark.sql(
      """SELECT graft_simhash64('the quick brown fox') AS h,
                size(graft_token_hashes('a b c')) AS n,
                graft_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c
      """).collect().head
    assert(!row.isNullAt(0))
    assert(row.getInt(1) === 3)
    assert(math.abs(row.getDouble(2) - 1.0) < 1e-12)
  }

  test("extensions class registers every function without error") {
    // unit-level: the injector runs against a fresh extensions holder
    val e = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(e)
    assert(GraftExtensions.all.map(_._1).distinct.size ===
      GraftExtensions.all.size)
  }

  test("native and SQL forms agree") {
    graft.functions.register(spark)
    val df = Seq("one two three four five").toDF("t")
    val viaCol = df.select(simhash64($"t")).collect().head.getLong(0)
    df.createOrReplaceTempView("fn_t")
    val viaSql = spark.sql("SELECT graft_simhash64(t) FROM fn_t")
      .collect().head.getLong(0)
    assert(viaCol === viaSql)
  }

  test("codegen and interpreted paths agree (nullSafeEval vs doGenCode)") {
    val df = Seq(("alpha beta gamma", "alpha beta delta")).toDF("a", "b")
    // interpreted: direct expression eval on a literal child
    val interpreted = ShingleHashes(
        org.apache.spark.sql.catalyst.expressions.Literal("alpha beta gamma"),
        2).eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      .toLongArray().toSeq
    val viaPlan = df.select(shingle_hashes($"a", 2)).collect()
      .head.getSeq[Long](0)
    assert(interpreted === viaPlan)
    // every text_stats slot and the token hashes, over an RDD-backed
    // frame (a local Seq's projection is evaluated on the driver by
    // ConvertToLocalRelation, interpreted) inside whole-stage codegen
    val texts = Seq("The cat and the dog ran to the park, it was fun!",
      "el perro y el gato en la casa de los vecinos",
      "der Hund und die Katze sind nicht mit der Maus",
      "中文文本处理测试 mixed with the English", "", "  \t\u000B ",
      "İSTANBUL ẞTRASSE \uD83D\uDE00 LE CHAT EST DANS LA MAISON")
    val frame = spark.sparkContext.parallelize(texts, 2).toDF("t")
      .select($"t", text_stats($"t").as("ts"), token_hashes($"t").as("th"))
    val wsc = frame.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(wsc.exists(_.child.expressions.exists(_.exists(
      _.isInstanceOf[TextStats]))), "text_stats must run in codegen")
    frame.collect().foreach { r =>
      val lit = org.apache.spark.sql.catalyst.expressions.Literal(r.getString(0))
      val ts = TextStats(lit).eval(null)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toLongArray().toSeq
      assert(ts.length === 11)
      assert(r.getSeq[Long](1) === ts, s"text_stats of '${r.getString(0)}'")
      val th = TokenHashes(lit).eval(null)
        .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        .toLongArray().toSeq
      assert(r.getSeq[Long](2) === th, s"token_hashes of '${r.getString(0)}'")
    }
  }

  // --- the String-based kernels the byte-level ones replaced, kept as
  // references: every output must stay bit-identical to them ---

  private def refIsWs(c: Char): Boolean =
    c == ' ' || (c >= '\t' && c <= '\r' && c != '\u000B')

  private def refTokenHashes(text: UTF8String): Array[Long] = {
    val s = text.toLowerCase.toString
    val n = s.length
    val out = scala.collection.mutable.ArrayBuffer[Long]()
    var i = 0
    while (i < n) {
      while (i < n && refIsWs(s.charAt(i))) i += 1
      val start = i
      while (i < n && !refIsWs(s.charAt(i))) i += 1
      if (i > start) {
        val bytes = s.substring(start, i)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        out += XXH64.hashUnsafeBytes(bytes,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
          bytes.length, HashOps.Seed)
      }
    }
    out.toArray
  }

  /** [n_chars, n_tokens, n_punct, n_upper, sum_token_len]. */
  private def refTextStats(text: UTF8String): Seq[Long] = {
    val s = text.toString
    var chars, tokens, punct, upper, tokenChars = 0L
    var inTok = false
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      chars += 1
      if (cp < 0x80 && refIsWs(cp.toChar)) inTok = false
      else {
        if (!inTok) { tokens += 1; inTok = true }
        tokenChars += 1
        if (cp >= '!' && cp <= '~' && !Character.isLetterOrDigit(cp))
          punct += 1
        if (cp >= 'A' && cp <= 'Z') upper += 1
      }
      i += Character.charCount(cp)
    }
    Seq(chars, tokens, punct, upper, tokenChars)
  }

  private def refHash(w: String): Long = {
    val b = w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    XXH64.hashUnsafeBytes(b,
      org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length,
      HashOps.Seed)
  }

  // arbitrary Unicode with the tokenizer's edge cases over-weighted:
  // every ASCII whitespace and U+000B (not whitespace), upper case,
  // characters whose lower case changes length (İ -> i̇, ẞ -> ß), CJK,
  // astral code points, and stopwords in mixed case
  private val textGen: Gen[String] = {
    val sep = Gen.frequency(
      6 -> Gen.oneOf(" ", "\t", "\n", "\f", "\r", "  ", " \r\n "),
      1 -> Gen.oneOf("", "\u000B"))
    val piece = Gen.frequency(
      3 -> Gen.alphaStr.map(_.take(8)),
      2 -> Gen.alphaUpperStr.map(_.take(6)),
      2 -> Gen.oneOf("İ", "ẞ", "ß", "Σ", "ς", "\u212A", "é", "Ǆ"),
      2 -> Gen.choose(0x4E00, 0x9FFF).map(cp => new String(Character.toChars(cp))),
      1 -> Gen.choose(0x10000, 0x10FFFF).map(cp => new String(Character.toChars(cp))),
      2 -> Gen.oneOf("The", "AND", "of", "Der", "und", "LA", "que", "est"),
      1 -> Gen.oneOf("!", ",.", "?!*", "--", "\u3002"),
      2 -> org.scalacheck.Arbitrary.arbitrary[Char].map(_.toString))
    Gen.choose(0, 40).flatMap(n => Gen.listOfN(n, Gen.zip(sep, piece)))
      .map(_.map { case (s, p) => s + p }.mkString)
  }

  test("byte-level kernels == the String-based references on " +
      "arbitrary Unicode (token hashes, every text_stats slot)") {
    val texts = (1 to 600).flatMap(i =>
      textGen(Gen.Parameters.default, Seed(7300L + i)))
    assert(texts.length === 600)
    val en = HashOps.EnStopwords.map(refHash).toSet
    val langs = HashOps.LangStopwords.map(_._2.map(refHash).toSet)
    texts.foreach { t =>
      val u = UTF8String.fromString(t)
      val th = refTokenHashes(u)
      assert(HashOps.tokenHashes(u).toSeq === th.toSeq, s"tokens of '$t'")
      val cjk = u.toString.codePoints().toArray
        .count(cp => cp >= 0x4E00 && cp <= 0x9FFF).toLong
      val expected = refTextStats(u) ++
        Seq(th.count(en).toLong, cjk) ++
        langs.map(ws => th.distinct.count(ws).toLong)
      assert(HashOps.textStats(u).toLongArray().toSeq === expected,
        s"text_stats of '$t'")
    }
  }
}
