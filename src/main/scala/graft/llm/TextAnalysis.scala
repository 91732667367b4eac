package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language ID, fingerprinting. All are
  * pure `Column` compositions (no UDFs), row-local with no shuffle — the
  * per-row cost IS the total cost at 100 TB. Quality, language id and
  * the stopword count are arithmetic over one native
  * [[graft.functions.text_stats]] call and stay inside whole-stage
  * codegen; the signals written with lambdas (`filter`, `transform`,
  * `aggregate`: the repetition signals, [[topToken]], [[stopwordRatio]],
  * [[meanWordLen]], [[bpeishTokenCount]]) are interpreted and take their
  * operator out of it.
  */
object TextAnalysis {

  /** Whitespace tokens, lowercased, empties dropped. */
  // explicit [ \t\n\f\r]+, NOT \s+: Java \s includes \x0B (vertical
  // tab) but DuckDB/RE2 \s does not — the explicit class makes the
  // engine, the native kernels (HashOps.isWs), and every oracle agree
  // on text containing a vertical tab. split never yields a null
  // element, so removing "" drops exactly the empty tokens, without a
  // lambda
  def tokens(text: Column): Column =
    array_remove(split(lower(trim(text)), "[ \t\n\f\r]+"), "")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count approximation: letter runs, digit runs, and
    * single punctuation marks each count as one token; long words cost
    * ceil(len/6) subwords (empirical BPE fertility for English). */
  def bpeishTokenCount(text: Column): Column = {
    val pieces = regexp_extract_all(
      text, lit("""[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"""), lit(0))
    aggregate(
      transform(pieces, p => ceil(length(p).cast(DoubleType) / lit(6.0))),
      lit(0L), (acc, x) => acc + x)
  }

  def punctRatio(text: Column): Column = {
    val n = length(text)
    when(n > 0,
      length(regexp_replace(text, "[^\\p{Punct}]", "")).cast(DoubleType) /
        n.cast(DoubleType)).otherwise(lit(null))
  }

  /** Fraction of tokens that are (EN) stopwords — a classic fluency
    * signal: natural text ~0.3-0.5, keyword soup / boilerplate much less. */
  def stopwordRatio(text: Column,
                    stopwords: Seq[String] = graft.functions.HashOps.EnStopwords)
      : Column = {
    val toks = tokens(text)
    val sw = array(stopwords.map(lit): _*)
    when(size(toks) > 0,
      size(filter(toks, t => array_contains(sw, t))).cast(DoubleType) /
        size(toks).cast(DoubleType)).otherwise(lit(null))
  }

  def meanWordLen(text: Column): Column = {
    val toks = tokens(text)
    when(size(toks) > 0,
      aggregate(toks, lit(0L), (acc, t) => acc + length(t))
        .cast(DoubleType) / size(toks).cast(DoubleType))
      .otherwise(lit(null))
  }

  /** Fast path: all ratio signals from the single-pass native
    * [[graft.functions.text_stats]] kernel (one text scan instead of a
    * regex scan per signal). Adds `n_chars, n_tokens, punct_ratio,
    * upper_ratio, mean_word_len` columns. Stopword ratio still needs the
    * token array (word membership), so it stays a separate column. */
  def withTextStats(df: org.apache.spark.sql.DataFrame, text: Column)
      : org.apache.spark.sql.DataFrame = {
    val stats = graft.functions.text_stats(text)
    df.withColumn("__ts", stats)
      .withColumn("n_chars", element_at(col("__ts"), 1)
        .cast(org.apache.spark.sql.types.IntegerType))
      .withColumn("n_tokens", element_at(col("__ts"), 2)
        .cast(org.apache.spark.sql.types.IntegerType))
      .withColumn("punct_ratio",
        when(col("n_chars") > 0,
          element_at(col("__ts"), 3).cast(DoubleType) /
            col("n_chars").cast(DoubleType)))
      .withColumn("upper_ratio",
        when(col("n_chars") > 0,
          element_at(col("__ts"), 4).cast(DoubleType) /
            col("n_chars").cast(DoubleType)))
      .withColumn("mean_word_len",
        when(col("n_tokens") > 0,
          element_at(col("__ts"), 5).cast(DoubleType) /
            col("n_tokens").cast(DoubleType)))
      .drop("__ts")
  }

  /** Composite quality score in [0,1] from length, punctuation,
    * stopword and word-length signals (heuristic in the spirit of
    * C4/Gopher quality filters — public recipes, re-derived).
    *
    * All counting signals, the stopword hits included, come from ONE
    * call of the native [[graft.functions.text_stats]] kernel — the
    * equivalent regex/HOF formulation re-scanned the text per signal
    * and measured ~10× slower. The arithmetic is identical (same
    * integer counts, same division order), so differential oracles
    * that replicate the formula are unaffected. */
  def qualityScore(text: Column): Column =
    qualityFromStats(graft.functions.text_stats(text))

  /** [[qualityScore]] over a `text_stats` array already computed —
    * stage the kernel as a column and derive several signals from it,
    * so each row runs it once. */
  def qualityFromStats(ts: Column): Column = {
    val nc = element_at(ts, 1).cast(DoubleType) // n_chars
    val nt = element_at(ts, 2).cast(DoubleType) // n_tokens
    val np = element_at(ts, 3).cast(DoubleType) // n_punct
    val stl = element_at(ts, 5).cast(DoubleType) // sum token len
    val swHits = element_at(ts, 6).cast(DoubleType) // en stopword hits
    val lenScore = least(nc / lit(500.0), lit(1.0))
    val punct = when(nc > 0, np / nc).otherwise(lit(0.0))
    val punctScore = when(punct < 0.1, lit(1.0))
      .otherwise(greatest(lit(1.0) - (punct - lit(0.1)) * 5, lit(0.0)))
    val sw = when(nt > 0, swHits / nt).otherwise(lit(0.0))
    val swScore = least(sw * 4, lit(1.0))
    val mwl = when(nt > 0, stl / nt).otherwise(lit(0.0))
    val mwlScore = when(mwl.between(3.0, 10.0), lit(1.0)).otherwise(lit(0.5))
    round((lenScore + punctScore + swScore + mwlScore) / 4, 6)
  }

  /** English stopword tokens in `text` (with multiplicity), a slot of
    * the [[graft.functions.text_stats]] kernel: the stopword signal of
    * [[qualityScore]] and of [[QualityModel]]'s features. */
  def swHitCount(text: Column): Column =
    element_at(graft.functions.text_stats(text), 6).cast(IntegerType)

  /** Heuristic language ID: CJK script detection first, then argmax of
    * per-language distinct stopword hits (ties to the later language
    * code); "und" (undetermined) when no signal. Every count is a slot
    * of the native [[graft.functions.text_stats]] kernel — no regex, no
    * per-token lambda. Pure column math — at scale this is a narrow
    * projection, no shuffle. */
  def langIdFast(text: Column): Column =
    langIdFromStats(graft.functions.text_stats(text))

  /** [[langIdFast]] over a `text_stats` array already computed. */
  def langIdFromStats(ts: Column): Column = {
    val nc = element_at(ts, 1) // n_chars
    val cjk = element_at(ts, 7) // CJK code points
    // slots 8-11: distinct stopword hits of de, en, es, fr
    val hits = graft.functions.HashOps.LangStopwords.map(_._1).zipWithIndex
      .map { case (lang, i) =>
        struct(element_at(ts, 8 + i).as("hits"), lit(lang).as("lang"))
      }
    val best = array_max(array(hits: _*))
    when(cjk > 0 && cjk * 2 >= nc, lit("zh"))
      .when(best.getField("hits") > 0, best.getField("lang"))
      .otherwise(lit("und"))
  }

  /** `df` plus language id as column `out`, the kernel staged as a
    * column: [[langIdFromStats]] reads it eleven times, and inlined each
    * read is a kernel call. */
  def withLangId(df: org.apache.spark.sql.DataFrame, text: Column,
                 out: String): org.apache.spark.sql.DataFrame =
    df.withColumn("__ts", graft.functions.text_stats(text))
      .withColumn(out, langIdFromStats(col("__ts")))
      .drop("__ts")

  // --- repetition signals (Gopher-style quality rules — Rae et al.
  // 2021 "Scaling Language Models" §A1.1, public recipe re-derived).
  // All are row-local column math: one projection, no shuffle, so the
  // per-row cost is the total cost at 100 TB. ---

  /** Fraction of non-blank lines that are duplicates of an earlier
    * line: 1 - distinct/total. Null on texts with no non-blank lines. */
  def dupLineFrac(text: Column): Column =
    dupSegmentFrac(split(text, "\n"))

  /** Duplicate-paragraph fraction (blank-line-separated paragraphs). */
  def dupParaFrac(text: Column): Column =
    dupSegmentFrac(split(text, "\n{2,}"))

  private def dupSegmentFrac(segments: Column): Column = {
    val segs = filter(transform(segments, s => trim(s)),
      s => length(s) > 0)
    val n = size(segs)
    when(n > 0, lit(1.0) -
      size(array_distinct(segs)).cast(DoubleType) / n.cast(DoubleType))
      .otherwise(lit(null))
  }

  /** Duplicate-token fraction: 1 - distinct tokens / tokens. */
  def dupTokenFrac(text: Column): Column = {
    val toks = tokens(text)
    val n = size(toks)
    when(n > 0, lit(1.0) -
      size(array_distinct(toks)).cast(DoubleType) / n.cast(DoubleType))
      .otherwise(lit(null))
  }

  /** Duplicate word-n-gram fraction: 1 - distinct n-grams / n-grams
    * (counted over occurrences, the standard repetition signal shape).
    * Texts with fewer than n tokens yield null. */
  def dupNgramFrac(text: Column, n: Int = 2): Column = {
    val toks = tokens(text)
    val k = size(toks)
    val grams = transform(sequence(lit(0), k - lit(n)),
      i => array_join(slice(toks, i + 1, lit(n)), " "))
    when(k >= n, lit(1.0) -
      size(array_distinct(grams)).cast(DoubleType) /
        (k - lit(n) + 1).cast(DoubleType))
      .otherwise(lit(null))
  }

  /** Most-frequent token and its occurrence count, row-local: sort the
    * token array and track the longest run (ties resolve to the
    * lexicographically smallest token, deterministic). Returns
    * struct(tok, cnt); null when no tokens. */
  def topToken(text: Column): Column = {
    val sorted = array_sort(tokens(text))
    val zero = struct(lit("").as("prev"), lit(0).as("run"),
      lit(0).as("best"), lit("").as("btok"))
    val state = aggregate(sorted, zero, (acc, t) => {
      val run = when(t === acc.getField("prev"),
        acc.getField("run") + 1).otherwise(lit(1))
      val isBetter = run > acc.getField("best")
      struct(t.as("prev"), run.as("run"),
        when(isBetter, run).otherwise(acc.getField("best")).as("best"),
        when(isBetter, t).otherwise(acc.getField("btok")).as("btok"))
    })
    when(size(sorted) > 0,
      struct(state.getField("btok").as("tok"),
        state.getField("best").as("cnt")))
      .otherwise(lit(null))
  }

  /** Fraction of word characters inside occurrences of the most
    * frequent token (Gopher's "fraction of characters in the most
    * common word"). Denominator is the sum of token lengths. */
  def topTokenCharFrac(text: Column): Column = {
    val toks = tokens(text)
    val stl = aggregate(toks, lit(0L), (acc, t) => acc + length(t))
    val top = topToken(text)
    when(size(toks) > 0,
      (top.getField("cnt") * length(top.getField("tok")))
        .cast(DoubleType) / stl.cast(DoubleType))
      .otherwise(lit(null))
  }

  // --- PII redaction (training-data hygiene). Patterns restricted to
  // constructs with identical semantics in Java regex and RE2 (word
  // boundaries, ASCII classes, bounded repeats) so redaction is
  // engine-portable and differentially verifiable. ---

  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Replace emails / phone numbers / IPv4 addresses with typed
    * placeholder tags. Row-local regexp chain — codegen'd, no shuffle;
    * clean text passes through byte-identical. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>"),
      Ipv4Re, "<IP>")

  /** Count of PII matches by kind (computed on the original text,
    * independent per pattern). */
  def piiCounts(text: Column): Column = struct(
    size(regexp_extract_all(text, lit(EmailRe), lit(0))).as("emails"),
    size(regexp_extract_all(text, lit(PhoneRe), lit(0))).as("phones"),
    size(regexp_extract_all(text, lit(Ipv4Re), lit(0))).as("ips"))

  /** Word n-gram shingles (distinct), the unit for Jaccard/minhash dedup. */
  def shingles(text: Column, n: Int = 3): Column = {
    val toks = tokens(text)
    val k = size(toks)
    when(k >= n,
      array_distinct(transform(sequence(lit(0), k - lit(n)),
        i => array_join(slice(toks, i + 1, lit(n)), " "))))
      .otherwise(when(k > 0, array(array_join(toks, " ")))
        .otherwise(array().cast(ArrayType(StringType))))
  }

  /** Shingle HASHES computed arithmetically from per-token hashes —
    * equivalent role to [[shingles]] for Jaccard/minhash (hash collisions
    * are negligible) but never builds n-gram strings: one string hash
    * per token, then O(1) position-weighted combines. Use this form in
    * hot dedup paths. */
  def shingleHashes(text: Column, n: Int = 3): Column =
    graft.functions.shingle_hashes(text, n)

  /** Document fingerprint: md5 hex of the text's UTF-8 bytes — the
    * exact-dedup key (equal fingerprints => byte-identical text; null
    * only for null text). Portable: Spark md5(binary) = DuckDB
    * md5(varchar) over the same bytes, so the dedup stages that key
    * on it are differentially verifiable. */
  def fingerprint(text: Column): Column = md5(text.cast(BinaryType))

  /** Collocation mining: adjacent-token pairs ranked by LIFT,
    * `lift(a,b) = c_ab · N / (c_a · c_b)` — how much more often the
    * pair occurs than independence predicts (the PMI argument without
    * the log: same ordering, but exact-product arithmetic instead of
    * a libm transcendental, so results hash-compare across engines).
    * `minCount` floors the pair count (rare pairs have unstable lift).
    *
    * Reuses the LM count tables ([[LangModel.unigrams]]/[[LangModel
    * .bigrams]]): two map-side-combining groupBys over the corpus,
    * then vocabulary-sized equi-joins — the corpus text itself is
    * read once and never shuffled. */
  def collocations(docs: DataFrame, text: Column,
                   minCount: Long = 5): DataFrame = {
    val uni = LangModel.unigrams(docs, text)
    val bi = LangModel.bigrams(docs, text)
    val total = uni.agg(sum(col("c")).as("__n"))
    bi.filter(col("c") >= minCount)
      .select(col("a"), col("b"), col("c").as("c_ab"))
      .join(uni.select(col("w").as("a"), col("c").as("c_a")), Seq("a"))
      .join(uni.select(col("w").as("b"), col("c").as("c_b")), Seq("b"))
      .crossJoin(broadcast(total))
      .select(col("a"), col("b"), col("c_ab"), col("c_a"), col("c_b"),
        ((col("c_ab").cast("double") * col("__n").cast("double"))
          / (col("c_a").cast("double") * col("c_b").cast("double")))
          .as("lift"))
  }

  /** Per-document Shannon entropy (nats) of the token distribution —
    * the Gopher-family diversity signal: machine-generated or
    * keyword-stuffed text concentrates its token mass (low entropy),
    * natural prose spreads it. Returns `(id, n_tokens, entropy)`.
    *
    * Shape: one explode into a narrow (id, token) frame, one
    * map-side-combining count, one id-keyed sum — text shuffles never,
    * only (id, token-hashable) rows. Entropy terms `-(c/n)·ln(c/n)`
    * are exact-ratio inputs to ln (the same portable-libm family q103
    * relies on), and the per-document sum FOLDS THE VALUE-SORTED term
    * list so it is engine-identical (the q103 deterministicAvg
    * discipline); single-token documents give exactly 0. */
  def tokenEntropy(docs: DataFrame, id: Column, text: Column)
      : DataFrame = {
    val tok = docs.select(id.as("id"), explode(tokens(text)).as("t"))
    val cnt = tok.groupBy(col("id"), col("t"))
      .agg(count(lit(1)).as("c"))
    val n = cnt.groupBy(col("id"))
      .agg(sum(col("c")).cast("double").as("__n"))
    cnt.join(n, Seq("id"))
      .select(col("id"),
        col("__n"),
        (negate(col("c").cast("double") / col("__n")) *
          log(col("c").cast("double") / col("__n"))).as("__term"))
      .groupBy(col("id"))
      .agg(first(col("__n")).cast("long").as("n_tokens"),
        aggregate(array_sort(collect_list(col("__term"))), lit(0.0d),
          (acc, x) => acc + x).as("entropy"))
  }
}
