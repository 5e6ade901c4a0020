package graft.functions

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

/** Shared JVM implementations for the native text-hash expressions.
  *
  * Semantics are EXACTLY those of the pure-Catalyst versions in
  * [[graft.ops.Dedup]] (tokenize = lower, scrub `[^a-z ]` to space, split
  * on `\s+`, drop empties; 3-word shingles or whole text when short;
  * MinHash = mod-(2^61-1) universal-hash minima over one MD5 per shingle;
  * SimHash over the first 64 bits of each token's MD5) — property-tested
  * equal in `NativeFunctionsSpec`.
  */
object TextHashes {

  private val md = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("MD5"))

  /** Exactly Catalyst's `lower()` (`UTF8String.toLowerCase`): locale-
    * independent ASCII mapping on all-ASCII strings, JVM-default-locale
    * `String.toLowerCase` otherwise — so native/declarative equivalence
    * holds bit-for-bit on ANY input and ANY default locale (a plain
    * `toLowerCase(Locale.ROOT)` would diverge from Catalyst on non-ASCII
    * text under e.g. a Turkish default locale). */
  private def catalystLower(text: String): String = {
    var i = 0
    var ascii = true
    while (ascii && i < text.length) { ascii = text.charAt(i) < 0x80; i += 1 }
    if (ascii) {
      val out = new Array[Char](text.length)
      i = 0
      while (i < text.length) {
        val c = text.charAt(i)
        out(i) = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
        i += 1
      }
      new String(out)
    } else text.toLowerCase
  }

  def cleanTokens(text: String): Array[String] =
    catalystLower(text)
      .replaceAll("[^a-z ]", " ")
      .split("\\s+").filter(_.nonEmpty)

  /** Share of clean tokens contained in `set` (0.0 for token-less text):
    * the JVM twin of `size(filter(toks, _.isInCollection(set))) /
    * size(toks)` — same integer-count-over-integer-count double division. */
  def wordSetRatio(text: String, set: java.util.Set[String]): Double = {
    val toks = cleanTokens(text)
    if (toks.length == 0) 0.0
    else {
      var c = 0
      var i = 0
      while (i < toks.length) { if (set.contains(toks(i))) c += 1; i += 1 }
      c.toDouble / toks.length.toDouble
    }
  }

  /** One-pass text curation statistics —
    * [n_chars, n_punct, n_tokens, n_stop, n_distinct]:
    * code-point count, count of code points outside [a-zA-Z0-9] and the
    * ASCII regex-\s class (exactly what `regexp_replace(text,
    * "[^a-zA-Z0-9\\s]", "")` removes), clean-token count, stop-word
    * count, distinct-token count. ONE code-point walk + ONE
    * tokenization, vs one regex pass + three interpreted-HOF token
    * passes for the declarative formulation — every downstream ratio is
    * the same exact-integer-over-exact-integer double division. */
  def textStats(text: String, stop: java.util.Set[String]): Array[Long] = {
    var nChars = 0L
    var nPunct = 0L
    var i = 0
    while (i < text.length) {
      val cp = text.codePointAt(i)
      nChars += 1
      val alnum = (cp >= 'a' && cp <= 'z') || (cp >= 'A' && cp <= 'Z') ||
        (cp >= '0' && cp <= '9')
      // java regex \s (no UNICODE_CHARACTER_CLASS) = [ \t\n\x0B\f\r]
      val ws = cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B ||
        cp == '\f' || cp == '\r'
      if (!alnum && !ws) nPunct += 1
      i += Character.charCount(cp)
    }
    val toks = cleanTokens(text)
    var nStop = 0L
    val distinct = new java.util.HashSet[String](toks.length * 2)
    var j = 0
    while (j < toks.length) {
      if (stop.contains(toks(j))) nStop += 1
      distinct.add(toks(j))
      j += 1
    }
    Array(nChars, nPunct, toks.length.toLong, nStop, distinct.size.toLong)
  }

  /** Marker-word argmax language ID, the JVM twin of
    * [[graft.ops.Quality.langId]]: per language (in `langs` order) the
    * share of clean tokens that are marker words; emit the FIRST language
    * whose ratio equals the maximum when that maximum clears `floor`,
    * else "unknown". Single tokenization pass for all languages. */
  def langId(text: String, langs: Array[(String, java.util.Set[String])],
             floor: Double): String = {
    val toks = cleanTokens(text)
    if (toks.length == 0) return "unknown"
    val ratios = new Array[Double](langs.length)
    var li = 0
    while (li < langs.length) {
      val set = langs(li)._2
      var c = 0
      var i = 0
      while (i < toks.length) { if (set.contains(toks(i))) c += 1; i += 1 }
      ratios(li) = c.toDouble / toks.length.toDouble
      li += 1
    }
    var best = ratios(0)
    li = 1
    while (li < langs.length) { if (ratios(li) > best) best = ratios(li); li += 1 }
    if (best < floor) return "unknown"
    li = 0
    while (li < langs.length) {
      if (ratios(li) == best) return langs(li)._1
      li += 1
    }
    "unknown"
  }

  def shingles(text: String, n: Int = 3): Array[String] = {
    val t = cleanTokens(text)
    if (t.length >= n)
      Array.tabulate(t.length - n + 1)(i => t.slice(i, i + n).mkString(" "))
    else Array(t.mkString(" "))
  }

  /** MinHash over the Mersenne field p = 2^61-1: ONE MD5 per shingle
    * (u = first 8 digest bytes, big-endian unsigned), then k universal-
    * hash mixes `h_i = (a_i * (u mod p) + b_i) mod p` with fixed
    * [[mixConsts]] — the textbook k-permutation scheme, 8x less hashing
    * than k salted digests while keeping the estimator guarantees.
    * Every step is exact integer arithmetic that any engine reproduces:
    * the oracle computes the identical values in DuckDB via
    * `('0x' || substr(md5(s),1,16))::UBIGINT` and HUGEINT mod-p math. */
  val P61: Long = (1L << 61) - 1

  /** Fixed (a_i, b_i) mix constants from a splitmix64 stream — a_i in
    * [1, p), b_i in [0, p); deterministic so Spark, the native
    * expression, and the SQL oracle all embed the same values. */
  def mixConsts(k: Int): Array[(Long, Long)] = {
    var state = 0x9e3779b97f4a7c15L
    def next(): Long = {
      state += 0x9e3779b97f4a7c15L
      var z = state
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    Array.fill(k) {
      val a = (next() & Long.MaxValue) % (P61 - 1) + 1
      val b = (next() & Long.MaxValue) % P61
      (a, b)
    }
  }

  /** (a * x) mod (2^61-1) for 0 <= a, x < 2^61: 128-bit product via
    * multiplyHigh, folded with 2^61 === 1 (mod p). */
  private def mulMod61(a: Long, x: Long): Long = {
    val hi = Math.multiplyHigh(a, x) // < 2^58, nonneg (product < 2^122)
    val lo = a * x                   // low 64 bits of the product
    val c0 = lo & P61
    val c1 = ((hi << 3) | (lo >>> 61)) & P61
    val c2 = hi >>> 58
    var r = c0 + c1 + c2             // <= 3p, fits a long
    while (r >= P61) r -= P61
    r
  }

  /** Unsigned big-endian 64-bit word from the first 8 bytes of md5. */
  private def md5U64(bytes: Array[Byte], digest: MessageDigest): Long = {
    digest.reset()
    val h = digest.digest(bytes)
    var u = 0L
    var i = 0
    while (i < 8) { u = (u << 8) | (h(i) & 0xffL); i += 1 }
    u
  }

  def minhashSig(text: String, k: Int): Array[Long] =
    minhashSigOfShingles(shingles(text), k)

  /** MinHash minima over an ALREADY-COMPUTED shingle array — lets a
    * pipeline that also needs the raw shingles (e.g. exact-Jaccard
    * verification of LSH candidates) tokenize+shingle each document
    * ONCE and feed both consumers. MinHash is duplicate-invariant, so
    * multiset vs distinct shingle input makes no difference. */
  def minhashSigOfShingles(sh: Array[String], k: Int): Array[Long] = {
    val cs = mixConsts(k)
    val mins = Array.fill(k)(Long.MaxValue)
    val digest = md.get()
    var si = 0
    while (si < sh.length) {
      val u = md5U64(sh(si).getBytes(UTF_8), digest)
      val x = java.lang.Long.remainderUnsigned(u, P61)
      var i = 0
      while (i < k) {
        var h = mulMod61(cs(i)._1, x) + cs(i)._2
        if (h >= P61) h -= P61
        if (h < mins(i)) mins(i) = h
        i += 1
      }
      si += 1
    }
    mins
  }

  /** Content-defined chunking: an 8-code-point polynomial window hash
    * (base 263, field p = 2^61-1) slides over the text; 1-based position
    * `i >= 8` is a chunk boundary iff the Horner hash of code points
    * `i-7..i` is ≡ 0 (mod 64), and the text splits AFTER each boundary
    * (expected chunk ≈ 64 code points); the remainder — possibly the
    * whole text — is the final chunk. Code points (not UTF-16 units), so
    * `substr`-based engines reproduce the same chunks; every step is
    * exact field arithmetic any engine can replay (the oracle re-derives
    * boundaries in DuckDB with list lambdas and HUGEINT mod-p math).
    *
    * The window hash is maintained by ROLLING (drop the out-going code
    * point's `c*263^7` term, multiply by the base, add the in-coming
    * one): 2 field mults per position instead of the 8 a per-position
    * Horner recompute pays; equality with the windowed definition is
    * property-tested in NativeFunctionsSpec. */
  def cdcChunks(text: String): Array[String] = {
    val W = 8
    val B = 263L
    val Mask = 63L
    // B^(W-1) mod p, the weight of the out-going code point
    var powW1 = 1L
    var pi = 0
    while (pi < W - 1) { powW1 = mulMod61(powW1, B); pi += 1 }
    val cps = text.codePoints().toArray
    val n = cps.length
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var start = 0 // 0-based index of the current chunk's first code point
    if (n >= W) {
      // Horner over the first window
      var h = 0L
      var j = 0
      while (j < W) {
        h = mulMod61(h, B) + cps(j)
        if (h >= P61) h -= P61
        j += 1
      }
      var i = W - 1 // 0-based window end
      while (true) {
        if ((h & Mask) == 0L) {
          out += new String(cps, start, i + 1 - start)
          start = i + 1
        }
        i += 1
        if (i >= n) {
          out += new String(cps, start, n - start)
          return out.toArray
        }
        // roll: h = (h - cps(i-W)*B^(W-1)) * B + cps(i)  (mod p)
        var d = h - mulMod61(cps(i - W), powW1)
        if (d < 0) d += P61
        h = mulMod61(d, B) + cps(i)
        if (h >= P61) h -= P61
      }
    }
    out += text
    out.toArray
  }

  // ---- codegen bridges ----------------------------------------------------
  // Public static entry points called from whole-stage-generated Java (the
  // native expressions' doGenCode splices `graft.functions.TextHashes.xxx`
  // calls into the fused stage). They adapt Catalyst runtime types
  // (UTF8String / ArrayData) to the JVM implementations above.

  /** [[shingles]] over a Catalyst string, as Catalyst array data. */
  def shinglesData(text: org.apache.spark.unsafe.types.UTF8String, n: Int)
  : org.apache.spark.sql.catalyst.util.GenericArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      shingles(text.toString, n)
        .map(org.apache.spark.unsafe.types.UTF8String.fromString): Array[Any])

  /** [[minhashSigOfShingles]] over a Catalyst `array<string>`. */
  def minhashSigOfShinglesData(
      arr: org.apache.spark.sql.catalyst.util.ArrayData, k: Int)
  : org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val sh = new Array[String](arr.numElements())
    var i = 0
    while (i < sh.length) { sh(i) = arr.getUTF8String(i).toString; i += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      minhashSigOfShingles(sh, k))
  }

  /** [[minhashSig]] over a Catalyst string, as Catalyst array data. */
  def minhashSigData(text: org.apache.spark.unsafe.types.UTF8String, k: Int)
  : org.apache.spark.sql.catalyst.util.GenericArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      minhashSig(text.toString, k))

  /** [[cdcChunks]] over a Catalyst string, as Catalyst array data. */
  def cdcChunksData(text: org.apache.spark.unsafe.types.UTF8String)
  : org.apache.spark.sql.catalyst.util.GenericArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      cdcChunks(text.toString)
        .map(org.apache.spark.unsafe.types.UTF8String.fromString): Array[Any])

  /** 64-bit SimHash: bit j set iff sum over tokens of ±1 (bit j of the
    * token's first-8-md5-bytes big-endian word) is positive. */
  def simhash64(text: String): Long = {
    val toks = cleanTokens(text)
    val sums = new Array[Int](64)
    val digest = md.get()
    var ti = 0
    while (ti < toks.length) {
      val u = md5U64(toks(ti).getBytes(UTF_8), digest)
      var j = 0
      while (j < 64) {
        sums(j) += (if (((u >>> (63 - j)) & 1L) == 1L) 1 else -1)
        j += 1
      }
      ti += 1
    }
    var acc = 0L
    var j = 0
    while (j < 64) { if (sums(j) > 0) acc |= (1L << (63 - j)); j += 1 }
    acc
  }
}
