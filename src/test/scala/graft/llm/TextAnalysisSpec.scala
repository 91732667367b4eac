package graft.llm

import graft.SparkSpec
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  private lazy val df = Seq(
    (1L, "The quick brown fox, it was the best of times!"),
    (2L, "el perro y el gato en la casa de los vecinos"),
    (3L, "der Hund und die Katze sind nicht mit der Maus"),
    (4L, "le chat est dans la maison et le chien est dans le jardin"),
    (5L, "中文文本处理测试"),
    (6L, ""),
    (7L, "zzz qqq xxx yyy www")
  ).toDF("id", "text")

  private def one[T](id: Long, c: org.apache.spark.sql.Column): T =
    df.filter($"id" === id).select(c.as("v")).collect().head
      .getAs[T]("v")

  test("token count") {
    assert(one[Int](1L, TextAnalysis.tokenCount($"text")) === 10)
    assert(one[Int](6L, TextAnalysis.tokenCount($"text")) === 0)
  }

  test("whitespace contract: vertical tab (U+000B) is NOT a separator " +
      "— matching DuckDB/RE2 \\s, not Java \\s") {
    // 'a\x0Bb' is ONE token in DuckDB string_split_regex '\s+'
    // (verified empirically); the engine pins its whitespace class to
    // the most restrictive verification engine so hash-compared
    // tokenizations can never silently diverge on such text
    val vt = Seq((1L, "a\u000Bb c")).toDF("id", "text")
    val toks = vt.select(TextAnalysis.tokens($"text").as("t"))
      .as[Seq[String]].collect().head
    assert(toks === Seq("a\u000Bb", "c"))
    // the native kernel agrees: 2 tokens, and text_stats counts the
    // VT as a (non-whitespace) token character
    val th = vt.select(graft.functions.token_hashes($"text").as("h"))
      .as[Seq[Long]].collect().head
    assert(th.length === 2)
  }

  test("language id: stopword argmax + CJK script") {
    val preds = df.select($"id", TextAnalysis.langIdFast($"text").as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(preds(1L) === "en")
    assert(preds(2L) === "es")
    assert(preds(3L) === "de")
    assert(preds(4L) === "fr")
    assert(preds(5L) === "zh")
    assert(preds(7L) === "und")
  }

  test("quality score ranges and orders sensibly") {
    val q1 = one[Double](1L, TextAnalysis.qualityScore($"text"))
    val q7 = one[Double](7L, TextAnalysis.qualityScore($"text"))
    assert(q1 > q7) // fluent English beats keyword soup
    assert(q1 <= 1.0 && q7 >= 0.0)
  }

  test("shingles: n-grams distinct, short texts fall back to whole text") {
    val sh = df.filter($"id" === 1L)
      .select(TextAnalysis.shingles($"text", 3).as("v"))
      .collect().head.getSeq[String](0)
    assert(sh.contains("the quick brown"))
    val short = Seq((1L, "one two")).toDF("id", "text")
      .select(TextAnalysis.shingles($"text", 3).as("v"))
      .collect().head.getSeq[String](0)
    assert(short === Seq("one two"))
  }

  test("fingerprint: equal for equal text, stable across runs") {
    val f1 = one[String](1L, TextAnalysis.fingerprint($"text"))
    val f1b = one[String](1L, TextAnalysis.fingerprint($"text"))
    assert(f1 === f1b)
    val f4 = one[String](2L, TextAnalysis.fingerprint($"text"))
    assert(f1 !== f4)
    // exact content key: Spark md5 of the text's UTF-8 bytes
    assert(f1 === one[String](1L, md5($"text".cast("binary"))))
    // a strict prefix is different content, so a different key (a
    // min-shingle key would collide: both texts share every shingle)
    val pre = Seq("the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy")
      .toDF("text").select(TextAnalysis.fingerprint($"text"))
      .as[String].collect()
    assert(pre.length === 2)
    assert(pre(0) !== pre(1))
  }

  test("native text_stats fast path agrees with the column-math forms") {
    val docs = catalog.table("documents").limit(100)
    val fast = TextAnalysis.withTextStats(docs, col("text"))
      .select("doc_id", "n_tokens", "punct_ratio", "mean_word_len")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), Option(r.get(2)), Option(r.get(3)))).toMap
    val slow = docs.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("t"),
        TextAnalysis.punctRatio(col("text")).as("p"),
        TextAnalysis.meanWordLen(col("text")).as("m"))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), Option(r.get(2)), Option(r.get(3)))).toMap
    fast.foreach { case (id, (t, p, m)) =>
      val (t2, p2, m2) = slow(id)
      assert(t === t2, s"tokens doc $id")
      (p, p2) match {
        case (Some(a: Double), Some(b: Double)) =>
          assert(math.abs(a - b) < 1e-9, s"punct doc $id")
        case other => assert(p === p2, s"punct doc $id: $other")
      }
      (m, m2) match {
        case (Some(a: Double), Some(b: Double)) =>
          assert(math.abs(a - b) < 1e-9, s"mwl doc $id")
        case other => assert(m === m2, s"mwl doc $id: $other")
      }
    }
  }

  // --- the column forms the kernel slots replaced (lambda and regex),
  // kept as references: the scores must stay bit-identical to them ---

  private def refHashes(ws: Seq[String]): Array[Long] = ws.map { w =>
    val b = w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(b,
      org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length,
      graft.functions.HashOps.Seed)
  }.toArray

  private def refSwHitCount(text: Column): Column =
    size(filter(graft.functions.token_hashes(text), h =>
      array_contains(lit(refHashes(Seq("the", "a", "an", "and", "or",
        "of", "to", "in", "is", "it", "that", "for", "on", "with", "as",
        "was", "at", "by", "be", "this"))), h)))

  private def refQualityScore(text: Column): Column = {
    val ts = graft.functions.text_stats(text)
    val nc = element_at(ts, 1).cast(DoubleType)
    val nt = element_at(ts, 2).cast(DoubleType)
    val np = element_at(ts, 3).cast(DoubleType)
    val stl = element_at(ts, 5).cast(DoubleType)
    val lenScore = least(nc / lit(500.0), lit(1.0))
    val punct = when(nc > 0, np / nc).otherwise(lit(0.0))
    val punctScore = when(punct < 0.1, lit(1.0))
      .otherwise(greatest(lit(1.0) - (punct - lit(0.1)) * 5, lit(0.0)))
    val sw = when(nt > 0, refSwHitCount(text).cast(DoubleType) / nt)
      .otherwise(lit(0.0))
    val swScore = least(sw * 4, lit(1.0))
    val mwl = when(nt > 0, stl / nt).otherwise(lit(0.0))
    val mwlScore = when(mwl.between(3.0, 10.0), lit(1.0)).otherwise(lit(0.5))
    round((lenScore + punctScore + swScore + mwlScore) / 4, 6)
  }

  private def refLangId(text: Column): Column = {
    val cjk = length(regexp_replace(text, "[^\\x{4E00}-\\x{9FFF}]", ""))
    val th = graft.functions.token_hashes(text)
    val hits = Seq(
      "de" -> Seq("der", "die", "und", "das", "ist", "von", "den", "mit",
                  "nicht", "ein"),
      "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it",
                  "was", "for"),
      "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "del",
                  "las"),
      "fr" -> Seq("le", "la", "les", "de", "et", "est", "un", "une",
                  "dans", "que")).map { case (lang, words) =>
      struct(size(array_intersect(th, lit(refHashes(words)))).as("hits"),
        lit(lang).as("lang"))
    }
    val best = array_max(array(hits: _*))
    when(cjk > 0 && cjk * 2 >= length(text), lit("zh"))
      .when(best.getField("hits") > 0, best.getField("lang"))
      .otherwise(lit("und"))
  }

  test("qualityScore, langIdFast and swHitCount == their lambda/regex " +
      "forms, bit for bit") {
    val edge = Seq[String](null, "", "   ",
      "中文文本处理测试 中文 the",             // CJK majority
      "中文 and English text with 中 in it", // mixed script, CJK minority
      "Ελληνικά καὶ русский и the end",      // mixed script, no CJK
      "the the the THE The and and of of to a a a",  // repeated stopwords
      "!!! ??? ... ;;; ::: --- ,,, ((( ))) ***",       // punctuation wall
      "la la la de de que un un",            // es/fr tie -> later code
      "İS İT ẞ the WAS \u000B of\u000Bthe")
    val docs = edge.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
      .unionByName(catalog.table("documents").limit(200)
        .select($"doc_id".cast("long").as("id"), $"text"))
    val rows = docs.select($"id", $"text",
        TextAnalysis.qualityScore($"text"), refQualityScore($"text"),
        TextAnalysis.langIdFast($"text"), refLangId($"text"),
        TextAnalysis.swHitCount($"text"), refSwHitCount($"text"))
      .collect()
    assert(rows.length === edge.length + 200)
    rows.foreach { r =>
      val what = s"doc ${r.getLong(0)} '${r.getString(1)}'"
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(2)) ===
        java.lang.Double.doubleToRawLongBits(r.getDouble(3)), s"quality $what")
      assert(r.getString(4) === r.getString(5), s"lang $what")
      // a null text has no hit count; the old form's size() of a null
      // array said -1 (both only feed when(n_tokens > 0) branches)
      if (r.isNullAt(1)) assert(r.isNullAt(6) && r.getInt(7) === -1)
      else assert(r.getInt(6) === r.getInt(7), s"stopword hits $what")
    }
    // the edge texts reach every branch of the language id
    assert(rows.take(edge.length).map(_.getString(4)).toSet ===
      Set("und", "zh", "en", "fr"))
  }

  test("bpeish token count >= word count for long words") {
    val n = one[Long](7L, TextAnalysis.bpeishTokenCount($"text"))
    assert(n === 5L)
    val long = Seq((1L, "internationalization")).toDF("id", "text")
      .select(TextAnalysis.bpeishTokenCount($"text").as("v"))
      .as[Long].head()
    assert(long === 4L) // ceil(20/6)
  }

  private def rep(text: String, c: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Any =
    Seq((1L, text)).toDF("id", "text").select(c($"text").as("v"))
      .collect().head.get(0)

  test("dupLineFrac / dupParaFrac count repeated segments") {
    val txt = "line one\nline two\nline one\n\nline one"
    // 4 non-blank lines ("line one" x3), 2 distinct -> 1 - 2/4 = 0.5
    assert(rep(txt, TextAnalysis.dupLineFrac) === 0.5)
    // paragraphs: "line one\nline two\nline one" and "line one" -> 0.0
    assert(rep(txt, TextAnalysis.dupParaFrac) === 0.0)
    val para = "aaa\n\naaa\n\nbbb"
    assert(rep(para, TextAnalysis.dupParaFrac) ===
      1.0 - 2.0 / 3.0) // 3 paras, 2 distinct
    assert(rep("", TextAnalysis.dupLineFrac) === null)
  }

  test("dupTokenFrac and dupNgramFrac") {
    assert(rep("a b a b a", TextAnalysis.dupTokenFrac) ===
      1.0 - 2.0 / 5.0)
    // bigrams of (a b a b a): ab ba ab ba -> 2 distinct of 4
    assert(rep("a b a b a", t => TextAnalysis.dupNgramFrac(t, 2)) === 0.5)
    assert(rep("one", t => TextAnalysis.dupNgramFrac(t, 2)) === null)
    assert(rep("all unique words here", TextAnalysis.dupTokenFrac) === 0.0)
  }

  test("redactPii: emails/phones/ips tagged, clean text untouched") {
    val dirty = "mail a.user+x@foo-bar.org or 555-123-4567, " +
      "host 192.168.0.1 done"
    assert(rep(dirty, TextAnalysis.redactPii) ===
      "mail <EMAIL> or <PHONE>, host <IP> done")
    val clean = "no personal data here at all 123"
    assert(rep(clean, TextAnalysis.redactPii) === clean)
    val c = rep(dirty, TextAnalysis.piiCounts)
      .asInstanceOf[org.apache.spark.sql.Row]
    assert((c.getInt(0), c.getInt(1), c.getInt(2)) === ((1, 1, 1)))
  }

  test("topToken: mode with lexicographic tiebreak; char fraction") {
    val t = rep("b b a a c", TextAnalysis.topToken)
      .asInstanceOf[org.apache.spark.sql.Row]
    assert(t.getString(0) === "a" && t.getInt(1) === 2) // tie a/b -> a
    // "xx xx y": top=xx (2 occurrences * 2 chars) / 5 total token chars
    assert(rep("xx xx y", TextAnalysis.topTokenCharFrac) === 4.0 / 5.0)
    assert(rep("", TextAnalysis.topTokenCharFrac) === null)
  }

  test("collocations: bound pairs out-lift frequent-but-independent " +
      "ones; lift is the exact product ratio") {
    // "san francisco" always co-occur (5/5); "the" pairs with many
    // different successors — high counts, low lift
    val docs = Seq(
      "the san francisco fog rolls over the bay every day",
      "the san francisco bridge spans the bay in fog",
      "the san francisco hills rise over the water line",
      "the san francisco ferry crosses the bay at dawn",
      "the san francisco skyline fades into the fog bank"
    ).toDF("text")
    val rows = TextAnalysis.collocations(docs, $"text", minCount = 5)
      .orderBy($"lift".desc, $"a", $"b").collect()
    assert(rows.nonEmpty)
    val top = rows.head
    assert((top.getString(0), top.getString(1)) === (("san", "francisco")))
    // c_ab=5, c_a=5, c_b=5, N=46 tokens -> lift = 5*46/(5*5)
    assert(top.getLong(2) === 5L)
    assert(top.getDouble(5) === 5.0 * 46.0 / 25.0)
  }

  test("tokenEntropy: uniform = ln k, repetition = 0, single token " +
      "= exactly +0.0, empty docs omitted") {
    val docs = Seq(
      (1L, "a b c d"),     // uniform over 4 -> ln 4
      (2L, "a a a a"),     // all mass on one token -> 0
      (3L, "a a b b"),     // uniform over 2 -> ln 2
      (4L, "word"),        // single token -> 0 (and not -0.0)
      (5L, "   ")          // no tokens -> omitted
    ).toDF("id", "t")
    val out = TextAnalysis.tokenEntropy(docs, $"id", $"t")
      .as[(Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(out.keySet === Set(1L, 2L, 3L, 4L))
    assert(math.abs(out(1L)._2 - math.log(4)) < 1e-12)
    assert(out(2L) === ((4L, 0.0)))
    assert(math.abs(out(3L)._2 - math.log(2)) < 1e-12)
    assert(out(4L)._1 === 1L)
    assert(java.lang.Double.doubleToRawLongBits(out(4L)._2) === 0L)
  }
}
