package graft.functions

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
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

  /** xxhash64 of each lowercased whitespace token, in order. */
  def tokenHashes(text: UTF8String): Array[Long] = {
    val s = text.toLowerCase.toString
    val n = s.length
    val out = new scala.collection.mutable.ArrayBuffer[Long]()
    var i = 0
    while (i < n) {
      while (i < n && isWs(s.charAt(i))) i += 1
      val start = i
      while (i < n && !isWs(s.charAt(i))) i += 1
      if (i > start) {
        val bytes = s.substring(start, i)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8)
        out += XXH64.hashUnsafeBytes(bytes,
          org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
          bytes.length, Seed)
      }
    }
    out.toArray
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
    new GenericArrayData(shingleHashArray(text, n))

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
    new GenericArrayData(sig)
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
    new GenericArrayData(tokenHashes(text))

  /** Single-pass text statistics: one scan over the characters computes
    * everything the quality signals need. The higher-order / regex
    * column forms scan the text once PER SIGNAL (and regex per row is
    * the 100 TB cost center); this is one pass total. Output order:
    * [n_chars, n_tokens, n_punct, n_upper, sum_token_len]. */
  def textStats(text: UTF8String): ArrayData = {
    val s = text.toString
    val n = s.length
    // counts are CODE POINTS, not UTF-16 units: SQL length() (the
    // differential oracles' denominator) counts code points, so an
    // astral char (emoji) must count 1 here too, not 2
    var chars = 0L
    var tokens = 0L
    var punct = 0L
    var upper = 0L
    var tokenChars = 0L
    var inTok = false
    var i = 0
    while (i < n) {
      val cp = s.codePointAt(i)
      chars += 1
      if (cp < 0x80 && isWs(cp.toChar)) inTok = false
      else {
        if (!inTok) { tokens += 1; inTok = true }
        tokenChars += 1
        // ASCII punct, matching \p{Punct}
        if (cp >= '!' && cp <= '~' &&
            !Character.isLetterOrDigit(cp)) punct += 1
        if (cp >= 'A' && cp <= 'Z') upper += 1
      }
      i += Character.charCount(cp)
    }
    new GenericArrayData(Array(chars, tokens, punct, upper, tokenChars))
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
