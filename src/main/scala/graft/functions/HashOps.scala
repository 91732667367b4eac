package graft.functions

import org.apache.spark.sql.catalyst.expressions.{UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Tight-loop kernels behind the graft native expressions (called from
  * generated code — see [[HashExprs]]). One pass over the text, no
  * intermediate arrays of strings: tokenization, token hashing, shingle
  * combination, minhash permutations and simhash votes all run as plain
  * JIT'd long arithmetic.
  *
  * Replaces interpreted higher-order-function chains that evaluated one
  * lambda per element (~230ns/eval measured) with ~1ns/op loops — the
  * difference between 44s and <1s for minhash signatures over 10k docs,
  * and the difference between feasible and not at 100 TB.
  */
object HashOps {
  final val Seed = 42L
  final val Salt = 0x9E3779B97F4A7C15L

  /** Whitespace in the RE2 `\\s` sense — ASCII [ \\t\\n\\f\\r] ONLY,
    * WITHOUT U+000B (vertical tab). The engine's whitespace contract
    * is pinned to the most restrictive class among its verification
    * engines: Java regex `\\s` includes \\x0B but DuckDB/RE2 `\\s`
    * does not (verified empirically: string_split_regex keeps
    * 'a\\x0Bb' whole), so the column-side tokenizers use the EXPLICIT
    * class [ \\t\\n\\f\\r]+ (TextAnalysis.tokens) and this kernel
    * matches it — text containing a vertical tab now tokenizes
    * identically in the kernels, the relational twins, and every
    * oracle. Character.isWhitespace is further off (it adds Unicode
    * spaces U+2028, U+2003, U+001C...). */
  @inline private def isWs(c: Char): Boolean =
    c == ' ' || (c >= '\t' && c <= '\r' && c != '\u000B')

  /** [[isWs]] on one UTF-8 byte: whitespace is ASCII, so a byte of a
    * multi-byte sequence (negative as a signed byte) is never one. */
  @inline private def isWsByte(b: Byte): Boolean =
    b == ' ' || (b >= '\t' && b <= '\r' && b != '\u000B')

  /** xxhash64 of each lowercased whitespace token, in order. Each token
    * is hashed where it lies in the lowercased UTF-8 bytes: whitespace
    * is ASCII, so no multi-byte sequence straddles a token boundary and
    * the bytes hashed are exactly the token's UTF-8 encoding. */
  def tokenHashes(text: UTF8String): Array[Long] = {
    val low = text.toLowerCase
    val base = low.getBaseObject
    val off = low.getBaseOffset
    val n = low.numBytes
    var out = new Array[Long](16)
    var k = 0
    var i = 0
    while (i < n) {
      while (i < n && isWsByte(Platform.getByte(base, off + i))) i += 1
      val start = i
      while (i < n && !isWsByte(Platform.getByte(base, off + i))) i += 1
      if (i > start) {
        if (k == out.length) out = java.util.Arrays.copyOf(out, 2 * k)
        out(k) = XXH64.hashUnsafeBytes(base, off + start, i - start, Seed)
        k += 1
      }
    }
    java.util.Arrays.copyOf(out, k)
  }

  @inline private def rotl(x: Long, b: Int): Long =
    (x << b) | (x >>> (64 - b))

  /** Distinct order-sensitive n-gram combinations of the token hashes;
    * short texts (< n tokens) fall back to one whole-text shingle. */
  def shingleHashArray(text: UTF8String, n: Int): Array[Long] = {
    val th = tokenHashes(text)
    if (th.length == 0) return Array.emptyLongArray
    if (th.length < n) {
      var acc = 0L
      var j = 0
      while (j < th.length) { acc = rotl(acc, 5) ^ th(j); j += 1 }
      return Array(acc)
    }
    val m = th.length - n + 1
    val grams = new Array[Long](m)
    var i = 0
    while (i < m) {
      var acc = 0L
      var j = 0
      while (j < n) { acc ^= rotl(th(i + j), (7 * j + 1) & 63); j += 1 }
      grams(i) = acc
      i += 1
    }
    // distinct, preserving first-seen order not required — sort+dedup
    java.util.Arrays.sort(grams)
    var w = 0
    var r = 0
    while (r < m) {
      if (r == 0 || grams(r) != grams(r - 1)) { grams(w) = grams(r); w += 1 }
      r += 1
    }
    java.util.Arrays.copyOf(grams, w)
  }

  def shingleHashes(text: UTF8String, n: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(shingleHashArray(text, n))

  /** MinHash signature: for permutation i, min over shingles of
    * rotl(h, i) ^ mix(h). Single pass per shingle, numHashes longs out. */
  def minhashSig(shingles: ArrayData, numHashes: Int): ArrayData = {
    val m = shingles.numElements()
    val sig = new Array[Long](numHashes)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var j = 0
    while (j < m) {
      val h = shingles.getLong(j)
      val h2 = XXH64.hashLong(h, Salt)
      var i = 0
      while (i < numHashes) {
        val v = rotl(h, i & 63) ^ h2
        if (v < sig(i)) sig(i) = v
        i += 1
      }
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  /** 64-bit SimHash over token hashes; Long.MinValue marks "no tokens"
    * (mapped to null by the expression). */
  def simhash64(text: UTF8String): Long = {
    val th = tokenHashes(text)
    if (th.length == 0) return Long.MinValue
    val votes = new Array[Int](64)
    var j = 0
    while (j < th.length) {
      val h = th(j)
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) votes(i) += 1
        i += 1
      }
      j += 1
    }
    var out = 0L
    var i = 0
    while (i < 64) {
      if (votes(i) * 2 > th.length) out |= (1L << i)
      i += 1
    }
    out
  }

  def tokenHashesData(text: UTF8String): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(tokenHashes(text))

  /** English stopwords of the quality signal: `text_stats` counts
    * their tokens in slot 5. */
  val EnStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "that",
    "for", "on", "with", "as", "was", "at", "by", "be", "this")

  /** Stopwords of language id, in `text_stats` slot order (7-10). */
  val LangStopwords: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "das", "ist", "von", "den", "mit",
                "nicht", "ein"),
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "was",
                "for"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "del",
                "las"),
    "fr" -> Seq("le", "la", "les", "de", "et", "est", "un", "une", "dans",
                "que"))

  // xxhash64 of a word's UTF-8 bytes, as tokenHashes hashes a token
  private def wordHash(w: String): Long = {
    val b = w.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, Seed)
  }

  // every distinct stopword hash, sorted for binary search; a token's
  // index into it is its bit in the per-language "seen" masks
  private val StopHashes: Array[Long] =
    (EnStopwords ++ LangStopwords.flatMap(_._2)).map(wordHash)
      .distinct.sorted.toArray
  require(StopHashes.length <= 64, "stopword masks are one long")
  private val EnStop: Array[Boolean] = {
    val en = EnStopwords.map(wordHash).toSet
    StopHashes.map(en.contains)
  }
  private val LangMasks: Array[Long] = LangStopwords.map { case (_, ws) =>
    ws.map(w => 1L << java.util.Arrays.binarySearch(StopHashes, wordHash(w)))
      .reduce(_ | _)
  }.toArray

  /** Bytes of the UTF-8 sequence a lead byte starts: the widths Spark's
    * `length()` steps by, so the counts below are its code points. */
  @inline private def utf8Width(b: Byte): Int = {
    val u = b & 0xFF
    if (u < 0xC0) 1 else if (u < 0xE0) 2 else if (u < 0xF0) 3
    else if (u < 0xF8) 4 else 1
  }

  /** Every scoring signal of a document in one call: one scan over the
    * text's UTF-8 bytes and one over its [[tokenHashes]]. The regex and
    * higher-order column forms scan the text once PER SIGNAL, and their
    * lambdas run interpreted. Output order (0-based; `element_at` is
    * 1-based):
    *   - 0 n_chars, 1 n_tokens, 2 n_punct (ASCII `\p{Punct}`),
    *     3 n_upper (A-Z), 4 sum_token_len — code points, tokens split
    *     on [[isWs]];
    *   - 5 English stopword tokens ([[EnStopwords]], with multiplicity);
    *   - 6 CJK code points (U+4E00-U+9FFF);
    *   - 7-10 distinct stopwords of de, en, es, fr ([[LangStopwords]]).
    * Stopwords match by token hash, as `token_hashes` membership did. */
  def textStats(text: UTF8String): ArrayData = {
    val base = text.getBaseObject
    val off = text.getBaseOffset
    val n = text.numBytes
    // counts are CODE POINTS, not bytes or UTF-16 units: SQL length()
    // (the differential oracles' denominator) counts code points, so an
    // astral char (emoji) must count 1 here too
    var chars = 0L
    var tokens = 0L
    var punct = 0L
    var upper = 0L
    var tokenChars = 0L
    var cjk = 0L
    var inTok = false
    var i = 0
    while (i < n) {
      val b = Platform.getByte(base, off + i)
      chars += 1
      if (isWsByte(b)) inTok = false
      else {
        if (!inTok) { tokens += 1; inTok = true }
        tokenChars += 1
        if (b >= '!' && b <= '~' && !Character.isLetterOrDigit(b)) punct += 1
        if (b >= 'A' && b <= 'Z') upper += 1
      }
      val w = utf8Width(b)
      if (w == 3 && i + 2 < n) {
        val cp = ((b & 0x0F) << 12) |
          ((Platform.getByte(base, off + i + 1) & 0x3F) << 6) |
          (Platform.getByte(base, off + i + 2) & 0x3F)
        if (cp >= 0x4E00 && cp <= 0x9FFF) cjk += 1
      }
      i += w
    }
    val th = tokenHashes(text)
    var enHits = 0L
    var seen = 0L
    var j = 0
    while (j < th.length) {
      val k = java.util.Arrays.binarySearch(StopHashes, th(j))
      if (k >= 0) {
        if (EnStop(k)) enHits += 1
        seen |= 1L << k
      }
      j += 1
    }
    val out = new Array[Long](7 + LangMasks.length)
    out(0) = chars; out(1) = tokens; out(2) = punct; out(3) = upper
    out(4) = tokenChars; out(5) = enHits; out(6) = cjk
    var l = 0
    while (l < LangMasks.length) {
      out(7 + l) = java.lang.Long.bitCount(seen & LangMasks(l))
      l += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Cosine similarity kernels: single fused loop (dot + both norms),
    * double accumulation. Returns NaN for zero-norm or length-mismatched
    * inputs — the expression maps NaN to null (JX: missing, not error). */
  def cosineFloat(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    if (n != b.numElements()) return Double.NaN
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val d = math.sqrt(na) * math.sqrt(nb)
    if (d > 0) dot / d else Double.NaN
  }

  def cosineDouble(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    if (n != b.numElements()) return Double.NaN
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val d = math.sqrt(na) * math.sqrt(nb)
    if (d > 0) dot / d else Double.NaN
  }

  /** Hashed bag-of-words: per-token md5 slot counts in one fused loop —
    * the native form of graft.llm.Featurize.hashedBow's relational
    * construction (explode → groupBy → sparse→dense fold), bit-identical
    * to it: slot = first 2 md5 bytes of the lowercased token mod dim
    * (= the first 4 hex chars, matching Spark/DuckDB
    * `substring(md5(t),1,4)`), value = occurrence count. Null for
    * token-less text (the relational form emits no row). */
  def hashedBow(text: UTF8String, dim: Int): ArrayData = {
    val s = text.toLowerCase.toString
    val out = new Array[Double](dim)
    val md = java.security.MessageDigest.getInstance("MD5")
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val len = s.length
    var any = false
    var i = 0
    while (i < len) {
      while (i < len && isWs(s.charAt(i))) i += 1
      val start = i
      while (i < len && !isWs(s.charAt(i))) i += 1
      if (i > start) {
        any = true
        md.reset()
        val d = md.digest(s.substring(start, i).getBytes(utf8))
        val slot = (((d(0) & 0xFF) << 8) | (d(1) & 0xFF)) % dim
        out(slot) += 1.0
      }
    }
    if (!any) null else new GenericArrayData(out)
  }

  @inline private def splitmix64(seed: Long): Long = {
    var z = seed + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Deterministic pseudo-random hyperplane component for (plane p,
    * dim d), uniform in [-1, 1) — fixed seed, identical on every
    * executor and run. */
  @inline private def planeComponent(p: Int, d: Int): Double = {
    val h = splitmix64((p.toLong << 32) ^ (d.toLong * 0x9E3779B97F4A7C15L))
    (h >>> 11) * (2.0 / (1L << 53)) - 1.0
  }

  /** Multi-table random-hyperplane LSH buckets in ONE fused loop:
    * `tables` bucket ids, each from `planes` sign bits (plane index
    * space partitioned per table), table tag in the high 32 bits so a
    * plain equi-join never matches across tables. The HOF/Column form
    * of this is tables×planes interpreted lambda passes per row; this
    * kernel is the codegen'd replacement. */
  private def lshBucketsImpl(planes: Int, tables: Int,
                             dim: Int, at: Int => Double): ArrayData = {
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bits = 0L
      var p = 0
      while (p < planes) {
        val plane = t * planes + p
        var proj = 0.0
        var i = 0
        while (i < dim) { proj += at(i) * planeComponent(plane, i); i += 1 }
        if (proj >= 0) bits |= (1L << p)
        p += 1
      }
      out(t) = bits | (t.toLong << 32)
      t += 1
    }
    new GenericArrayData(out)
  }

  def lshBucketsFloat(vec: ArrayData, planes: Int, tables: Int): ArrayData =
    lshBucketsImpl(planes, tables, vec.numElements(),
      i => vec.getFloat(i).toDouble)

  def lshBucketsDouble(vec: ArrayData, planes: Int, tables: Int): ArrayData =
    lshBucketsImpl(planes, tables, vec.numElements(), i => vec.getDouble(i))

  /** Product-quantization encode: m codes, code j = argmin over the
    * codebook of sub-L2 on the j-th of m equal slices (ties -> lower
    * index; same accumulation order as the HOF slice/zip_with form, so
    * results are bit-identical). `cents` is array<array<double>>. */
  def pqEncode(vec: ArrayData, cents: ArrayData, m: Int): ArrayData = {
    val d = vec.numElements()
    val sub = d / m
    val k = cents.numElements()
    val codes = new Array[Int](m)
    var j = 0
    while (j < m) {
      var best = 0
      var bestD = Double.PositiveInfinity
      var s = 0
      while (s < k) {
        val c = cents.getArray(s)
        var dist = 0.0
        var t = 0
        val off = j * sub
        while (t < sub) {
          val diff = vec.getDouble(off + t) - c.getDouble(off + t)
          dist += diff * diff
          t += 1
        }
        if (dist < bestD) { bestD = dist; best = s }
        s += 1
      }
      codes(j) = best
      j += 1
    }
    new GenericArrayData(codes)
  }

  /** ADC score: sum over subspaces of lut[j][codes[j]] — the PQ
    * candidate-scan inner loop (m array reads per pair). */
  def adcScore(codes: ArrayData, lut: ArrayData): Double = {
    val m = codes.numElements()
    var acc = 0.0
    var j = 0
    while (j < m) {
      acc += lut.getArray(j).getDouble(codes.getInt(j))
      j += 1
    }
    acc
  }
}
