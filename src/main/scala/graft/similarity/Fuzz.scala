package graft.similarity

import scala.collection.mutable

/** Pure-Scala reimplementation of the rapidfuzz scorer semantics the
  * reference relies on (`/root/reference/addresskit/match.py:109-115`):
  * `ratio`, `partial_ratio`, `token_set_ratio` (plus `token_sort_ratio`
  * and Jaro-Winkler, named by the project north star). All scores are on
  * the 0..100 scale, like rapidfuzz.
  *
  * `ratio` is the normalized **indel** similarity
  * (`100 * 2*LCS(a,b) / (|a|+|b|)`), NOT a Levenshtein-substitution
  * ratio. LCS length is computed with the Allison–Dix bit-parallel
  * algorithm — O(ceil(m/64) * n) word ops — so scoring stays cheap for
  * the multi-hundred-character concatenated transcript texts this engine
  * scores inside the block join.
  *
  * These functions are called from codegen'd Catalyst expressions (see
  * [[Expressions]]); keep them static-dispatch, allocation-light and
  * free of closures.
  */
object Fuzz {

  /** Longest-common-subsequence length, bit-parallel (Allison–Dix).
    * Works on UTF-16 chars; inputs here are BMP-only (ASCII + Turkish).
    *
    * Hot-path note: pattern masks live in a flat Latin-1-indexed array
    * (`Array[Array[Long]](256)`) with a boxed-map fallback only for
    * chars ≥ 256 — the normalized corpus is ASCII, and a
    * HashMap[Char,_] per call (boxing every char) measured ~10× slower
    * than the scan itself. */
  def lcsLength(a: CharSequence, b: CharSequence): Int = {
    val m = a.length
    val n = b.length
    if (m == 0 || n == 0) return 0
    // Ensure the bit-vectors cover the *shorter* string: fewer words.
    if (m > n) return lcsLength(b, a)
    val words = (m + 63) >>> 6
    // Pattern-match bitmasks for each distinct char of `a`.
    val pmLatin = new Array[Array[Long]](256)
    var pmWide: mutable.HashMap[Char, Array[Long]] = null
    var i = 0
    while (i < m) {
      val c = a.charAt(i)
      val arr =
        if (c < 256) {
          var x = pmLatin(c)
          if (x == null) { x = new Array[Long](words); pmLatin(c) = x }
          x
        } else {
          if (pmWide == null) pmWide = new mutable.HashMap[Char, Array[Long]]()
          pmWide.getOrElseUpdate(c, new Array[Long](words))
        }
      arr(i >>> 6) |= 1L << (i & 63)
      i += 1
    }
    val r = new Array[Long](words) // bit i set => LCS row increased at i
    val x = new Array[Long](words)
    var j = 0
    while (j < n) {
      val cj = b.charAt(j)
      val mask =
        if (cj < 256) pmLatin(cj)
        else if (pmWide != null) pmWide.getOrElse(cj, null)
        else null
      if (mask != null) {
        // X = PM | R ; Y = X - ((R << 1) | 1) ; R = X & ~Y
        var carryIn = 1L // the "| 1" of (R << 1) | 1
        var borrow = 0L
        var w = 0
        while (w < words) {
          val xw = mask(w) | r(w)
          x(w) = xw
          // shifted = (R << 1) | carry across words
          val shifted = (r(w) << 1) | carryIn
          carryIn = r(w) >>> 63
          // y = xw - shifted - borrow  (unsigned, with borrow out)
          val d1 = xw - shifted
          val b1 = if (java.lang.Long.compareUnsigned(xw, shifted) < 0) 1L else 0L
          val d2 = d1 - borrow
          val b2 = if (borrow == 1L && d1 == 0L) 1L else 0L
          borrow = b1 | b2
          r(w) = xw & ~d2
          w += 1
        }
      }
      j += 1
    }
    var count = 0
    var w = 0
    while (w < words) { count += java.lang.Long.bitCount(r(w)); w += 1 }
    count
  }

  /** Indel distance = insertions + deletions to turn `a` into `b`. */
  def indelDistance(a: CharSequence, b: CharSequence): Int =
    a.length + b.length - 2 * lcsLength(a, b)

  /** rapidfuzz `fuzz.ratio`: 100 * (1 - indel/(|a|+|b|)); 100 for two
    * empty strings (rapidfuzz convention). */
  def ratio(a: CharSequence, b: CharSequence): Double = {
    val total = a.length + b.length
    if (total == 0) 100.0
    else 100.0 * (1.0 - indelDistance(a, b).toDouble / total)
  }

  /** rapidfuzz `fuzz.partial_ratio` semantics: best `ratio` of the
    * shorter string against any window of the longer one (full-length
    * windows plus the shrinking suffix windows). */
  def partialRatio(a: String, b: String): Double = {
    val (s, l) = if (a.length <= b.length) (a, b) else (b, a)
    if (s.isEmpty) return if (l.isEmpty) 100.0 else 0.0
    val sl = s.length
    var best = 0.0
    var i = 0
    while (i < l.length && best < 100.0) {
      val end = math.min(i + sl, l.length)
      val sc = ratio(s, l.subSequence(i, end))
      if (sc > best) best = sc
      i += 1
    }
    best
  }

  /** Exactly the Java-regex `\\s` class: space, TAB, LF, VT (U+000B),
    * FF, CR. NOT `Character.isWhitespace` — that is also true for
    * U+001C..U+001F (file/group/record/unit separators) where `\\s` is
    * false, and the pre-tokenized path (Spark `split("\\\\s+")`) uses
    * regex semantics; the two tokenizers must agree or the scalar and
    * pretok scorers diverge on such inputs. */
  @inline private def isRegexSpace(c: Char): Boolean =
    c == ' ' || (c >= '\t' && c <= '\r') // 0x09..0x0D = TAB LF VT FF CR

  /** Whitespace tokenizer, hand-rolled: `String.split("\\s+")` compiles
    * the regex on EVERY call (~200µs measured on 300-char docs) — 10-40×
    * the cost of the similarity computation itself. Splits on the exact
    * regex-`\s` set so scalar results match the `split("\\s+")`
    * pre-tokenized path on any input. */
  private[similarity] def splitTokens(s: String): Array[String] = {
    val n = s.length
    val out = new java.util.ArrayList[String](16)
    var i = 0
    while (i < n) {
      while (i < n && isRegexSpace(s.charAt(i))) i += 1
      val start = i
      while (i < n && !isRegexSpace(s.charAt(i))) i += 1
      if (i > start) out.add(s.substring(start, i))
    }
    out.toArray(new Array[String](out.size))
  }

  /** Sorted distinct tokens (the "token set"). */
  private def sortedUniqueTokens(s: String): Array[String] = {
    val t = splitTokens(s)
    java.util.Arrays.sort(t.asInstanceOf[Array[AnyRef]])
    var w = 0
    var i = 0
    while (i < t.length) {
      if (w == 0 || t(i) != t(w - 1)) { t(w) = t(i); w += 1 }
      i += 1
    }
    if (w == t.length) t else java.util.Arrays.copyOf(t.asInstanceOf[Array[AnyRef]], w)
      .asInstanceOf[Array[String]]
  }

  /** rapidfuzz `fuzz.token_sort_ratio`: ratio over whitespace-tokenized,
    * lexicographically sorted, space-rejoined strings. */
  def tokenSortRatio(a: String, b: String): Double = {
    val ta = splitTokens(a); java.util.Arrays.sort(ta.asInstanceOf[Array[AnyRef]])
    val tb = splitTokens(b); java.util.Arrays.sort(tb.asInstanceOf[Array[AnyRef]])
    ratio(ta.mkString(" "), tb.mkString(" "))
  }

  /** rapidfuzz `fuzz.token_set_ratio`. Tokenize on whitespace into
    * *sets*; with `sect` = sorted-joined intersection and `ab`/`ba` the
    * sorted-joined set differences, the score is
    * `max(ratio(sect+ab, sect+ba), ratio(sect, sect+ab), ratio(sect, sect+ba))`
    * — computed in closed form for the two prefix cases, with the
    * fast-path 100 when one token set contains the other (non-empty
    * intersection). Mirrors rapidfuzz's C++ `token_set_ratio`.
    */
  def tokenSetRatio(a: String, b: String): Double = {
    // merge-walk over the two sorted unique token arrays: one pass
    // yields the intersection length and the joined set-differences
    // (everything already sorted — no Set allocation on the hot path)
    val ta = sortedUniqueTokens(a)
    val tb = sortedUniqueTokens(b)
    var i = 0
    var j = 0
    var sectN = 0
    var sectChars = 0
    val abB = new java.lang.StringBuilder
    val baB = new java.lang.StringBuilder
    while (i < ta.length && j < tb.length) {
      val c = ta(i).compareTo(tb(j))
      if (c == 0) { sectN += 1; sectChars += ta(i).length; i += 1; j += 1 }
      else if (c < 0) {
        if (abB.length > 0) abB.append(' ')
        abB.append(ta(i)); i += 1
      } else {
        if (baB.length > 0) baB.append(' ')
        baB.append(tb(j)); j += 1
      }
    }
    while (i < ta.length) {
      if (abB.length > 0) abB.append(' ')
      abB.append(ta(i)); i += 1
    }
    while (j < tb.length) {
      if (baB.length > 0) baB.append(' ')
      baB.append(tb(j)); j += 1
    }
    if (sectN > 0 && (abB.length == 0 || baB.length == 0)) return 100.0
    val abJoined = abB.toString
    val baJoined = baB.toString
    val sectLen = if (sectN == 0) 0 else sectChars + sectN - 1
    val sectSep = if (sectLen > 0) 1 else 0
    val sectAbLen = sectLen + (if (abJoined.isEmpty) 0 else sectSep + abJoined.length)
    val sectBaLen = sectLen + (if (baJoined.isEmpty) 0 else sectSep + baJoined.length)
    // ratio(sect+" "+ab, sect+" "+ba): shared prefix contributes no edits
    val dist = indelDistance(abJoined, baJoined) // suffix-only edits
    val denom = sectAbLen + sectBaLen
    var best = if (denom == 0) 100.0 else 100.0 * (1.0 - dist.toDouble / denom)
    if (sectLen > 0) {
      val r1 = 100.0 * (1.0 - (sectAbLen - sectLen).toDouble / (sectLen + sectAbLen))
      val r2 = 100.0 * (1.0 - (sectBaLen - sectLen).toDouble / (sectLen + sectBaLen))
      if (r1 > best) best = r1
      if (r2 > best) best = r2
    }
    best
  }

  // -- pre-tokenized fast path --------------------------------------------
  //
  // The block join scores each ROW against hundreds-to-thousands of
  // candidates (hot blocks), but [[tokenSetRatio]] re-tokenizes and
  // re-sorts both strings for every PAIR — at 32 cores that is a
  // multi-GB/s allocation rate and the young-gen GC becomes the scaling
  // bottleneck (measured: 8→32 cores at only 0.72 efficiency). The fast
  // path moves tokenize+sort+dedup to a once-per-row Column expression
  // (`array_sort(array_distinct(filter(split(...))))`) and scores pairs
  // with a single merge-walk over the two sorted UTF8String arrays plus
  // a byte-level LCS on the set differences — ~1KB garbage per pair.

  /** Per-thread reusable buffers for the byte-level scoring path. At
    * ~2M scored pairs/sec × 32 threads, per-pair allocation is a
    * multi-GB/s garbage rate and young-gen GC becomes the scaling
    * bottleneck; the scratch turns the hot loop allocation-free.
    * Mask reuse is generation-stamped: a mask row is lazily zeroed the
    * first time its byte value appears in a call, so resetting costs
    * O(distinct bytes used), not O(256 × words). */
  private final class Scratch {
    val masks = new Array[Array[Long]](256)
    // Long generation stamps: an Int counter wraps after 2^32 calls on a
    // long-lived executor thread and a mask row untouched for exactly one
    // wrap would alias the current generation (stale bits → inflated LCS)
    val gen = new Array[Long](256)
    var curGen = 0L
    var r: Array[Long] = new Array[Long](16)
    var ab: Array[Byte] = new Array[Byte](1024)
    var ba: Array[Byte] = new Array[Byte](1024)
    def ensure(buf: Array[Byte], n: Int): Array[Byte] =
      if (buf.length >= n) buf
      else {
        var cap = buf.length
        while (cap < n) cap <<= 1
        new Array[Byte](cap)
      }
  }
  private val scratchTL = new ThreadLocal[Scratch] {
    override def initialValue(): Scratch = new Scratch
  }

  /** LCS length over byte ranges (Allison–Dix, masks indexed by byte),
    * scratch-buffered. Only the first `aLen`/`bLen` bytes are read. */
  private def lcsBytesScratch(
      sc: Scratch, a: Array[Byte], aLen: Int, b: Array[Byte], bLen: Int): Int = {
    if (aLen == 0 || bLen == 0) return 0
    if (aLen > bLen) return lcsBytesScratch(sc, b, bLen, a, aLen)
    val words = (aLen + 63) >>> 6
    sc.curGen += 1
    val g = sc.curGen
    var i = 0
    while (i < aLen) {
      val c = a(i) & 0xff
      var arr = sc.masks(c)
      if (arr == null || arr.length < words) {
        arr = new Array[Long](words)
        sc.masks(c) = arr
        sc.gen(c) = g
      } else if (sc.gen(c) != g) {
        java.util.Arrays.fill(arr, 0, words, 0L)
        sc.gen(c) = g
      }
      arr(i >>> 6) |= 1L << (i & 63)
      i += 1
    }
    if (sc.r.length < words) sc.r = new Array[Long](words << 1)
    val r = sc.r
    java.util.Arrays.fill(r, 0, words, 0L)
    var j = 0
    while (j < bLen) {
      val c = b(j) & 0xff
      val mask = if (sc.gen(c) == g) sc.masks(c) else null
      if (mask != null) {
        var carryIn = 1L
        var borrow = 0L
        var w = 0
        while (w < words) {
          val xw = mask(w) | r(w)
          val shifted = (r(w) << 1) | carryIn
          carryIn = r(w) >>> 63
          val d1 = xw - shifted
          val b1 = if (java.lang.Long.compareUnsigned(xw, shifted) < 0) 1L else 0L
          val d2 = d1 - borrow
          val b2 = if (borrow == 1L && d1 == 0L) 1L else 0L
          borrow = b1 | b2
          r(w) = xw & ~d2
          w += 1
        }
      }
      j += 1
    }
    var count = 0
    var w = 0
    while (w < words) { count += java.lang.Long.bitCount(r(w)); w += 1 }
    count
  }

  /** LCS length over byte arrays (test/API surface for the scratch path). */
  def lcsLengthBytes(a: Array[Byte], b: Array[Byte]): Int =
    lcsBytesScratch(scratchTL.get(), a, a.length, b, b.length)

  /** [[tokenSetRatio]] over PRE-SORTED, PRE-DEDUPED token arrays (as
    * produced by `array_sort(array_distinct(...))` — Spark's binary
    * UTF8String ordering, which equals String order on ASCII). ASCII-only
    * byte fast path; any non-ASCII token falls back to the scalar
    * [[tokenSetRatio]]-equivalent computation on Strings, so results are
    * identical either way (property-tested in FuzzSpec). */
  def tokenSetRatioSorted(
      ta: org.apache.spark.sql.catalyst.util.ArrayData,
      tb: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    val na = ta.numElements()
    val nb = tb.numElements()
    // non-ASCII anywhere (byte lengths ≠ char lengths, and UTF-8 binary
    // order ≠ UTF-16 order) -> scalar fallback, identical semantics
    var p = 0
    while (p < na + nb) {
      val s = if (p < na) ta.getUTF8String(p) else tb.getUTF8String(p - na)
      var q = 0
      val nbts = s.numBytes()
      while (q < nbts) {
        if (s.getByte(q) < 0) {
          val a = (0 until na).map(ta.getUTF8String(_).toString).mkString(" ")
          val b = (0 until nb).map(tb.getUTF8String(_).toString).mkString(" ")
          return tokenSetRatio(a, b)
        }
        q += 1
      }
      p += 1
    }
    // pass 1: merge-walk for intersection stats + diff byte lengths
    var i = 0
    var j = 0
    var sectN = 0
    var sectBytes = 0
    var abN = 0
    var abBytes = 0
    var baN = 0
    var baBytes = 0
    while (i < na && j < nb) {
      val sa = ta.getUTF8String(i)
      val sb = tb.getUTF8String(j)
      val c = sa.binaryCompare(sb)
      if (c == 0) { sectN += 1; sectBytes += sa.numBytes(); i += 1; j += 1 }
      else if (c < 0) { abN += 1; abBytes += sa.numBytes(); i += 1 }
      else { baN += 1; baBytes += sb.numBytes(); j += 1 }
    }
    while (i < na) { abN += 1; abBytes += ta.getUTF8String(i).numBytes(); i += 1 }
    while (j < nb) { baN += 1; baBytes += tb.getUTF8String(j).numBytes(); j += 1 }
    if (sectN > 0 && (abN == 0 || baN == 0)) return 100.0
    // pass 2: fill the joined diff byte buffers (thread-local scratch)
    val sc = scratchTL.get()
    val abLen = if (abN == 0) 0 else abBytes + abN - 1
    val baLen = if (baN == 0) 0 else baBytes + baN - 1
    sc.ab = sc.ensure(sc.ab, abLen)
    sc.ba = sc.ensure(sc.ba, baLen)
    val abArr = sc.ab
    val baArr = sc.ba
    def fill(src: org.apache.spark.sql.catalyst.util.ArrayData,
        other: org.apache.spark.sql.catalyst.util.ArrayData,
        out: Array[Byte]): Unit = {
      var ii = 0
      var jj = 0
      var pos = 0
      val n1 = src.numElements()
      val n2 = other.numElements()
      while (ii < n1) {
        val s = src.getUTF8String(ii)
        var c = -1
        while (jj < n2 && { c = s.binaryCompare(other.getUTF8String(jj)); c > 0 }) jj += 1
        if (jj < n2 && c == 0) { ii += 1; jj += 1 } // in intersection
        else {
          if (pos > 0) { out(pos) = ' '; pos += 1 }
          var k = 0
          val nbts = s.numBytes()
          while (k < nbts) { out(pos) = s.getByte(k); pos += 1; k += 1 }
          ii += 1
        }
      }
    }
    fill(ta, tb, abArr)
    fill(tb, ta, baArr)
    val sectLen = if (sectN == 0) 0 else sectBytes + sectN - 1
    val sectSep = if (sectLen > 0) 1 else 0
    val sectAbLen = sectLen + (if (abLen == 0) 0 else sectSep + abLen)
    val sectBaLen = sectLen + (if (baLen == 0) 0 else sectSep + baLen)
    val dist = abLen + baLen - 2 * lcsBytesScratch(sc, abArr, abLen, baArr, baLen)
    val denom = sectAbLen + sectBaLen
    var best = if (denom == 0) 100.0 else 100.0 * (1.0 - dist.toDouble / denom)
    if (sectLen > 0) {
      val r1 = 100.0 * (1.0 - (sectAbLen - sectLen).toDouble / (sectLen + sectAbLen))
      val r2 = 100.0 * (1.0 - (sectBaLen - sectLen).toDouble / (sectLen + sectBaLen))
      if (r1 > best) best = r1
      if (r2 > best) best = r2
    }
    best
  }

  /** Levenshtein distance CLAMPED at `bound`: returns the exact
    * distance when it is <= bound, else exactly bound + 1 on every
    * path (Myers, banded DP, non-ASCII fallback), so a sub-bound
    * score never depends on which path computed it.
    * Semantics match Spark's built-in `levenshtein` (codepoint-based)
    * exactly in the <= bound regime — ASCII inputs take a banded
    * byte-DP (Ukkonen band of width 2*bound+1, per-row early exit);
    * any non-ASCII byte falls back to Spark's own
    * `UTF8String.levenshteinDistance`, so parity is structural, not
    * reimplemented. The band + early exit is what makes a
    * threshold-aware scorer cheap: candidate pairs that cannot reach
    * the match threshold exit after a few rows instead of paying the
    * full O(|a|·|b|) table (guide §1.2 "per-task work").
    */
  def levenshteinWithin(a: org.apache.spark.unsafe.types.UTF8String,
      b: org.apache.spark.unsafe.types.UTF8String, bound: Int): Int = {
    if (bound < 0) return 1 // degenerate caller: anything "exceeds"
    def clamped(d: Int): Int = if (d > bound) bound + 1 else d
    // non-ASCII → Spark's own implementation (exact, unbanded)
    var q = 0
    val na = a.numBytes()
    while (q < na) { if (a.getByte(q) < 0) return clamped(a.levenshteinDistance(b)); q += 1 }
    q = 0
    val nb = b.numBytes()
    while (q < nb) { if (b.getByte(q) < 0) return clamped(a.levenshteinDistance(b)); q += 1 }
    // ASCII: bytes == codepoints; banded two-row DP over (s = shorter
    // as columns, l = longer as rows)
    val (s, l) = if (na <= nb) (a, b) else (b, a)
    val m = s.numBytes()
    val n = l.numBytes()
    if (n - m > bound) return bound + 1
    if (m == 0) return n // <= bound by the line above
    // r06: patterns up to 64 chars take Myers' bit-parallel algorithm
    // (Myers 1999 / Hyyrö 2001) — the EXACT distance in ~n word ops
    // instead of the banded DP's ~n·band cell ops; on ~60-char
    // normalized addresses that is ~10× fewer operations than the
    // band (which barely prunes at the match threshold's bound).
    if (m <= 64) return clamped(levenshteinMyers64(s, l))
    val inf = bound + 1
    var prev = new Array[Int](m + 1)
    var cur = new Array[Int](m + 1)
    var j = 0
    while (j <= m) { prev(j) = if (j <= bound) j else inf; j += 1 }
    var i = 1
    while (i <= n) {
      val lo = math.max(1, i - bound)
      val hi = math.min(m, i + bound)
      cur(lo - 1) = if (lo == 1) math.min(i, inf) else inf
      var rowMin = cur(lo - 1)
      val li = l.getByte(i - 1)
      j = lo
      while (j <= hi) {
        val cost = if (li == s.getByte(j - 1)) 0 else 1
        var v = prev(j - 1) + cost
        val del = prev(j) + 1
        if (del < v) v = del
        val ins = cur(j - 1) + 1
        if (ins < v) v = ins
        if (v > inf) v = inf
        cur(j) = v
        if (v < rowMin) rowMin = v
        j += 1
      }
      if (hi < m) cur(hi + 1) = inf // band edge guard for next row's prev(j)
      if (rowMin > bound) return bound + 1
      val t = prev; prev = cur; cur = t
      i += 1
    }
    clamped(prev(m))
  }

  /** Per-thread scratch for [[levenshteinMyers64]]: 256 pattern
    * bitmasks, generation-stamped so reset costs O(distinct bytes of
    * the pattern), not O(256). */
  private final class MyersScratch {
    val peq = new Array[Long](256)
    val gen = new Array[Long](256)
    var cur = 0L
  }
  private val myersTL = new ThreadLocal[MyersScratch] {
    override def initialValue(): MyersScratch = new MyersScratch
  }

  /** Myers' bit-parallel Levenshtein (single-word; Hyyrö's
    * formulation) over ASCII bytes. Caller guarantees: both inputs
    * all-ASCII, `1 <= s.numBytes <= 64`, `s.numBytes <= l.numBytes`.
    * Returns the EXACT unit-cost edit distance — property-tested
    * against Spark's `UTF8String.levenshteinDistance` (FuzzSpec). */
  private def levenshteinMyers64(
      s: org.apache.spark.unsafe.types.UTF8String,
      l: org.apache.spark.unsafe.types.UTF8String): Int = {
    val m = s.numBytes()
    val n = l.numBytes()
    val sc = myersTL.get()
    sc.cur += 1
    val g = sc.cur
    var j = 0
    while (j < m) {
      val c = s.getByte(j) & 0xff
      if (sc.gen(c) != g) { sc.peq(c) = 0L; sc.gen(c) = g }
      sc.peq(c) |= 1L << j
      j += 1
    }
    var pv = if (m == 64) -1L else (1L << m) - 1L
    var mv = 0L
    var score = m
    val hibit = 1L << (m - 1)
    var i = 0
    while (i < n) {
      val c = l.getByte(i) & 0xff
      val eq = if (sc.gen(c) == g) sc.peq(c) else 0L
      val xv = eq | mv
      val xh = (((eq & pv) + pv) ^ pv) | eq
      var ph = mv | ~(xh | pv)
      var mh = pv & xh
      if ((ph & hibit) != 0L) score += 1
      else if ((mh & hibit) != 0L) score -= 1
      ph = (ph << 1) | 1L
      mh = mh << 1
      pv = mh | ~(xv | ph)
      mv = ph & xv
      i += 1
    }
    score
  }

  /** Threshold-aware `lev_ratio`: identical to
    * `100 * (1 - levenshtein(a,b) / max(|a|,|b|))` (with 100.0 for two
    * empties) for every pair whose score is >= `minText`, and GUARANTEED
    * below `minText` (and <= any such pair's true-score ordering needs)
    * otherwise — callers must only use it where scores below `minText`
    * are filtered out before anything order-sensitive (see
    * [[graft.matching.Matcher.scoredPairs]], which derives `minText`
    * from the match threshold and weight caps). The win: the DP runs
    * banded at the bound implied by `minText` and exits at the first
    * row that proves the bound unreachable. */
  def levRatioBounded(a: org.apache.spark.unsafe.types.UTF8String,
      b: org.apache.spark.unsafe.types.UTF8String, minText: Double): Double = {
    val la = a.numChars()
    val lb = b.numChars()
    val mx = math.max(la, lb)
    if (mx == 0) return 100.0
    // any distance > bound forces score < minText; +1 absorbs the float
    // rounding of the bound product itself. Capped at mx: distance never
    // exceeds max(|a|,|b|), so a cap-wide band computes exactly.
    val bound = math.min(
      math.floor(mx * (100.0 - minText) / 100.0 + 1e-9).toInt + 1, mx)
    val d = levenshteinWithin(a, b, bound)
    100.0 * (1.0 - d.toDouble / mx)
  }

  /** Jaro similarity on 0..1. Standard definition: matches within a
    * window of floor(max(|a|,|b|)/2)-1, transpositions counted over the
    * matched sequences. Operates on UTF-8 **bytes**, matching DuckDB's
    * `jaro_similarity` (our oracle); identical to codepoint semantics on
    * ASCII input. */
  def jaro(a: String, b: String): Double =
    jaroBytes(a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  def jaroBytes(a: Array[Byte], b: Array[Byte]): Double = {
    val la = a.length
    val lb = b.length
    // Either side empty => 0.0 (DuckDB `jaro_similarity` convention, so
    // our DuckDB oracle SQL agrees bit-for-bit).
    if (la == 0 || lb == 0) return 0.0
    val window = math.max(0, math.max(la, lb) / 2 - 1)
    val aMatch = new Array[Boolean](la)
    val bMatch = new Array[Boolean](lb)
    var matches = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - window)
      val hi = math.min(lb - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!bMatch(j) && a(i) == b(j)) {
          aMatch(i) = true; bMatch(j) = true; matches += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < la) {
      if (aMatch(i)) {
        while (!bMatch(k)) k += 1
        if (a(i) != b(k)) t += 1
        k += 1
      }
      i += 1
    }
    val m = matches.toDouble
    // transpositions = floor(mismatches / 2) — integer division, matching
    // the rapidfuzz/DuckDB C++ implementations (`CommonChars - Transpositions/2`
    // in size_t arithmetic), so odd mismatch counts round down.
    (m / la + m / lb + (m - t / 2) / m) / 3.0
  }

  /** Jaro-Winkler on 0..1, scaling 0.1, prefix up to 4, boost threshold
    * 0.7 (the classic Winkler parameters; matches DuckDB's
    * `jaro_winkler_similarity`, which our oracle SQL uses). */
  def jaroWinkler(a: String, b: String): Double =
    jaroWinklerBytes(a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  def jaroWinklerBytes(a: Array[Byte], b: Array[Byte]): Double = {
    val j = jaroBytes(a, b)
    if (j <= 0.7) return j
    var prefix = 0
    val maxP = math.min(4, math.min(a.length, b.length))
    while (prefix < maxP && a(prefix) == b(prefix)) prefix += 1
    j + prefix * 0.1 * (1.0 - j)
  }

  /** UTF8String entry points for codegen'd Catalyst expressions — avoid
    * the UTF8String→String→bytes round-trip on the join hot path. */
  def jaroWinklerUTF8(a: org.apache.spark.unsafe.types.UTF8String,
      b: org.apache.spark.unsafe.types.UTF8String): Double =
    jaroWinklerBytes(a.getBytes, b.getBytes)

  /** True (unrestricted) Damerau-Levenshtein distance over UTF-8 BYTES —
    * the variant where a transposed pair may be edited again later
    * (distinguisher: CA→ABC = 2, not OSA's 3). Byte-oriented to match
    * DuckDB's `damerau_levenshtein` exactly (DuckDB's string distances
    * count bytes, not code points — ş→s costs 2 there); on this
    * engine's normalized text (diacritic-folded → ASCII) byte ==
    * character, which is where the scorer is meant to run. The
    * last-occurrence table is a flat 256-entry array (bytes, not a
    * char hash map) and the DP matrix one flat int array, so the inner
    * loop stays allocation-light under codegen. O(|a|·|b|) time AND
    * memory (the transposition rule reads arbitrary earlier rows, so
    * the two-row Levenshtein trick does not apply) — use on short keys
    * (addresses, names, lines), not multi-KB documents. */
  def damerauLevenshteinBytes(a: Array[Byte], b: Array[Byte]): Int = {
    val la = a.length
    val lb = b.length
    if (la == 0) return lb
    if (lb == 0) return la
    val inf = la + lb
    val w = lb + 2
    val d = new Array[Int]((la + 2) * w)
    d(0) = inf
    var i = 0
    while (i <= la) { d((i + 1) * w) = inf; d((i + 1) * w + 1) = i; i += 1 }
    var j = 0
    while (j <= lb) { d(j + 1) = inf; d(w + j + 1) = j; j += 1 }
    // last row in which each byte value occurred in `a`; 0 = never, and
    // d(0)(0) = inf makes the transposition arm unreachable then.
    val da = new Array[Int](256)
    i = 1
    while (i <= la) {
      var db = 0
      val ai = a(i - 1) & 0xff
      j = 1
      while (j <= lb) {
        val bj = b(j - 1) & 0xff
        val k = da(bj)
        val l = db
        var cost = 1
        if (ai == bj) { db = j; cost = 0 }
        var m = d(i * w + j) + cost // substitute / copy
        val ins = d((i + 1) * w + j) + 1
        if (ins < m) m = ins
        val del = d(i * w + j + 1) + 1
        if (del < m) m = del
        val tra = d(k * w + l) + (i - k - 1) + 1 + (j - l - 1)
        if (tra < m) m = tra
        d((i + 1) * w + j + 1) = m
        j += 1
      }
      da(ai) = i
      i += 1
    }
    d((la + 1) * w + lb + 1)
  }

  def damerauLevenshtein(a: String, b: String): Int =
    damerauLevenshteinBytes(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  def damerauLevenshteinUTF8(a: org.apache.spark.unsafe.types.UTF8String,
      b: org.apache.spark.unsafe.types.UTF8String): Int =
    damerauLevenshteinBytes(a.getBytes, b.getBytes)

  /** Symmetric Monge-Elkan hybrid similarity on 0..1 (Monge & Elkan
    * 1996): mean over the tokens of one side of the best Jaro-Winkler
    * match on the other side, averaged over both directions. Tolerates
    * token insertion/deletion/reorder (each token finds its own best
    * counterpart) while staying character-level fuzzy WITHIN tokens —
    * the classic middle ground between `token_set_ratio` (exact token
    * overlap) and whole-string `jaro_winkler`. Whitespace tokenization
    * (empties dropped) matches the engine's normalized single-spaced
    * text; either side tokenless → 0.0. Arithmetic shape (per-direction
    * left-to-right sum / count, then the two directions averaged) is
    * mirrored digit-for-digit by the DuckDB oracle's
    * `list_avg`/`list_max` comprehension over
    * `jaro_winkler_similarity`, so match oracles hash bit-for-bit.
    * O(|A|·|B|) token pairs per scored pair — same cost class as the
    * other scorers on short keys. */
  def mongeElkan(a: String, b: String): Double = {
    val ta = a.split("\\s+").filter(_.nonEmpty)
    val tb = b.split("\\s+").filter(_.nonEmpty)
    if (ta.isEmpty || tb.isEmpty) return 0.0
    def direction(xs: Array[String], ys: Array[String]): Double = {
      var sum = 0.0
      var i = 0
      while (i < xs.length) {
        var best = 0.0
        var j = 0
        while (j < ys.length) {
          val s = jaroWinkler(xs(i), ys(j))
          if (s > best) best = s
          j += 1
        }
        sum += best
        i += 1
      }
      sum / xs.length
    }
    (direction(ta, tb) + direction(tb, ta)) / 2.0
  }
}
