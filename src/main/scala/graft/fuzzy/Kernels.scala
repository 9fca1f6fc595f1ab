package graft.fuzzy

import org.apache.spark.unsafe.types.UTF8String

/** Pure string-distance kernels.
  *
  * The reference delegates these to the polars-distance Rust plugin
  * (`/root/reference/pl_fuzzy_frame_match/process.py:46-50`); here they are
  * built from scratch in Scala so Catalyst expressions can call them from
  * generated code (object methods get static forwarders, so
  * `graft.fuzzy.Kernels.dist(...)` is directly callable from Janino-compiled
  * whole-stage codegen).
  *
  * All `*Dist` methods return a NORMALIZED distance in [0,1] (0 = identical),
  * matching the reference's `normalized=True` semantics (process.py:46-50):
  *   - levenshtein / damerau_levenshtein / hamming: dist / max(len)
  *   - indel: dist / (lenA + lenB)
  *   - jaro / jaro_winkler: 1 - similarity
  * Golden values verified against the reference tests
  * (tests/test_pl_fuzzy_frame_match.py:360-362, tests/test_process.py:97).
  */
object Kernels {

  /** Codegen dispatch entry: `id` is [[FuzzyAlgorithm.id]]. */
  def dist(id: Int, a: UTF8String, b: UTF8String): Double = {
    val sa = a.toString
    val sb = b.toString
    id match {
      case 0 => levenshteinDist(sa, sb)
      case 1 => jaroDist(sa, sb)
      case 2 => jaroWinklerDist(sa, sb)
      case 3 => hammingDist(sa, sb)
      case 4 => damerauDist(sa, sb)
      case 5 => indelDist(sa, sb)
      case _ => throw new IllegalArgumentException(s"bad algorithm id $id")
    }
  }

  // ---------------------------------------------------------------- levenshtein

  /** Plain edit distance (insert/delete/substitute), two-row DP with
    * common prefix/suffix stripping. */
  def levenshtein(a: CharSequence, b: CharSequence): Int = {
    var aStart = 0
    var aEnd = a.length
    var bStart = 0
    var bEnd = b.length
    while (aStart < aEnd && bStart < bEnd && a.charAt(aStart) == b.charAt(bStart)) {
      aStart += 1; bStart += 1
    }
    while (aEnd > aStart && bEnd > bStart && a.charAt(aEnd - 1) == b.charAt(bEnd - 1)) {
      aEnd -= 1; bEnd -= 1
    }
    val n = aEnd - aStart
    val m = bEnd - bStart
    if (n == 0) return m
    if (m == 0) return n
    val prev = new Array[Int](m + 1)
    val cur = new Array[Int](m + 1)
    var j = 0
    while (j <= m) { prev(j) = j; j += 1 }
    var i = 1
    while (i <= n) {
      cur(0) = i
      val ca = a.charAt(aStart + i - 1)
      j = 1
      while (j <= m) {
        val cost = if (ca == b.charAt(bStart + j - 1)) 0 else 1
        cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1), prev(j - 1) + cost)
        j += 1
      }
      System.arraycopy(cur, 0, prev, 0, m + 1)
      i += 1
    }
    prev(m)
  }

  def levenshteinDist(a: String, b: String): Double = {
    val mx = math.max(a.length, b.length)
    if (mx == 0) 0.0 else levenshtein(a, b).toDouble / mx
  }

  /** Banded (Ukkonen-style) edit distance with cutoff: exact when the
    * distance is <= k, returns k+1 otherwise. O((2k+1) * n) instead of
    * O(n*m) — the right kernel under a similarity threshold, where most
    * candidate pairs exceed the budget early. */
  def levenshteinBounded(a: CharSequence, b: CharSequence, k: Int): Int = {
    var aStart = 0
    var aEnd = a.length
    var bStart = 0
    var bEnd = b.length
    while (aStart < aEnd && bStart < bEnd && a.charAt(aStart) == b.charAt(bStart)) {
      aStart += 1; bStart += 1
    }
    while (aEnd > aStart && bEnd > bStart && a.charAt(aEnd - 1) == b.charAt(bEnd - 1)) {
      aEnd -= 1; bEnd -= 1
    }
    val n = aEnd - aStart
    val m = bEnd - bStart
    if (math.abs(n - m) > k) return k + 1
    if (n == 0) return m
    if (m == 0) return n
    if (k >= math.max(n, m)) return levenshtein(a.subSequence(aStart, aEnd), b.subSequence(bStart, bEnd))
    val inf = k + 1
    val prev = new Array[Int](m + 1)
    val cur = new Array[Int](m + 1)
    java.util.Arrays.fill(prev, inf)
    var j = 0
    while (j <= math.min(m, k)) { prev(j) = j; j += 1 }
    var i = 1
    while (i <= n) {
      java.util.Arrays.fill(cur, inf)
      val lo = math.max(1, i - k)
      val hi = math.min(m, i + k)
      if (lo == 1 && i <= k) cur(0) = i
      var rowMin = cur(0)
      val ca = a.charAt(aStart + i - 1)
      j = lo
      while (j <= hi) {
        val cost = if (ca == b.charAt(bStart + j - 1)) 0 else 1
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
      if (rowMin >= inf) return inf
      System.arraycopy(cur, 0, prev, 0, m + 1)
      i += 1
    }
    math.min(prev(m), inf)
  }

  /** Bounded levenshtein directly over ASCII bytes of UTF8Strings — no
    * String allocation per pair (the scoring loop runs hundreds of millions
    * of times per join at sf0.1). Caller must ensure both are pure ASCII.
    *
    * Exact when the distance is <= k, returns k+1 otherwise. After common
    * prefix/suffix stripping:
    *   - k <= 1 resolves in O(1): with both end characters differing (strip
    *     maximality), distance 1 is possible only for a 1x1 remainder (one
    *     substitution) or an empty side (one indel) — any other shape needs
    *     >= 2 edits because one edit cannot repair two distinct mismatch
    *     sites;
    *   - otherwise the Landau-Vishkin / Ukkonen diagonal DP runs O(k^2)
    *     cells (+ match slides), NOT the O(k*n) banded matrix: f(e, dg) is
    *     the furthest row reached on diagonal dg with e edits, and only
    *     diagonals within k-e of the target diagonal can still finish in
    *     budget. The previous banded two-row DP paid a full-width
    *     Arrays.fill + arraycopy per row (~2(m+1) memory ops against
    *     2k+1 useful cells) — at the bench's k=1..3 that overhead was
    *     ~5x the real work (OPTIMIZATION_r19.md, kernel A/B). */
  /** Word-wise stripping is safe only on little-endian platforms with
    * unaligned access (every deployment target; the byte loop remains the
    * fallback). The first/last differing BYTE inside an 8-byte window is
    * trailing/leading-zero-count of the xor, divided by 8. */
  private val wordWise: Boolean =
    java.nio.ByteOrder.nativeOrder() == java.nio.ByteOrder.LITTLE_ENDIAN &&
      org.apache.spark.unsafe.Platform.unaligned()

  def levBoundedAscii(a: UTF8String, b: UTF8String, k: Int): Int = {
    var aStart = 0
    var aEnd = a.numBytes
    var bStart = 0
    var bEnd = b.numBytes
    // Common prefix/suffix stripping, 8 bytes at a time: on corpora with
    // a shared prefix (e.g. "Customer#000...") the byte-wise strip was the
    // dominant per-pair cost after the diagonal kernel (the benchmark's
    // kernel.levenshtein.ns_per_pair measures this path).
    if (wordWise) {
      val baseA = a.getBaseObject
      val offA = a.getBaseOffset
      val baseB = b.getBaseObject
      val offB = b.getBaseOffset
      var cont = true
      while (cont && aStart + 8 <= aEnd && bStart + 8 <= bEnd) {
        val x = org.apache.spark.unsafe.Platform.getLong(baseA, offA + aStart) ^
          org.apache.spark.unsafe.Platform.getLong(baseB, offB + bStart)
        if (x == 0L) { aStart += 8; bStart += 8 }
        else {
          val common = java.lang.Long.numberOfTrailingZeros(x) >> 3
          aStart += common; bStart += common
          cont = false
        }
      }
      while (aStart < aEnd && bStart < bEnd && a.getByte(aStart) == b.getByte(bStart)) {
        aStart += 1; bStart += 1
      }
      cont = true
      while (cont && aEnd - aStart >= 8 && bEnd - bStart >= 8) {
        val x = org.apache.spark.unsafe.Platform.getLong(baseA, offA + aEnd - 8) ^
          org.apache.spark.unsafe.Platform.getLong(baseB, offB + bEnd - 8)
        if (x == 0L) { aEnd -= 8; bEnd -= 8 }
        else {
          val common = java.lang.Long.numberOfLeadingZeros(x) >> 3
          aEnd -= common; bEnd -= common
          cont = false
        }
      }
      while (aEnd > aStart && bEnd > bStart && a.getByte(aEnd - 1) == b.getByte(bEnd - 1)) {
        aEnd -= 1; bEnd -= 1
      }
    } else {
      while (aStart < aEnd && bStart < bEnd && a.getByte(aStart) == b.getByte(bStart)) {
        aStart += 1; bStart += 1
      }
      while (aEnd > aStart && bEnd > bStart && a.getByte(aEnd - 1) == b.getByte(bEnd - 1)) {
        aEnd -= 1; bEnd -= 1
      }
    }
    val n = aEnd - aStart
    val m = bEnd - bStart
    if (math.abs(n - m) > k) return k + 1
    if (n == 0) return m
    if (m == 0) return n
    // here n, m >= 1, first and last remaining bytes both differ
    if (k <= 0) return k + 1
    if (k == 1) return if (n == 1 && m == 1) 1 else 2
    // Landau-Vishkin diagonal DP. reach(e, dg) = furthest i (bytes of a
    // consumed) on diagonal dg = j - i using exactly e edits, after sliding
    // over matches. Distance = first e with reach(e, m-n) == n.
    val dgStar = m - n
    val off = k + 1
    val NEG = Int.MinValue / 4
    var prev = new Array[Int](2 * k + 3)
    var cur = new Array[Int](2 * k + 3)
    java.util.Arrays.fill(prev, NEG)
    java.util.Arrays.fill(cur, NEG)
    prev(off) = 0 // e=0 seed: strip maximality => zero-length initial slide
    var e = 1
    while (e <= k) {
      val rem = k - e
      var dg = math.max(-e, dgStar - rem)
      val hi = math.min(e, dgStar + rem)
      while (dg <= hi) {
        val idx = off + dg
        var i = prev(idx) + 1 // substitution advances the same diagonal
        val ins = prev(idx - 1) // insert a b-byte: diag dg-1 -> dg, i fixed
        if (ins > i) i = ins
        val del = prev(idx + 1) + 1 // delete an a-byte: diag dg+1 -> dg
        if (del > i) i = del
        val iMax = if (n < m - dg) n else m - dg
        if (i > iMax) i = iMax
        if (i < 0) cur(idx) = NEG
        else {
          var aa = aStart + i
          var bb = bStart + i + dg
          while (aa < aEnd && bb < bEnd && a.getByte(aa) == b.getByte(bb)) {
            aa += 1; bb += 1; i += 1
          }
          cur(idx) = i
          if (dg == dgStar && i >= n) return e
        }
        dg += 1
      }
      val t = prev; prev = cur; cur = t
      e += 1
    }
    k + 1
  }

  /** Thresholded distance: exact normalized distance when it is <=
    * `maxDist`, any value > maxDist otherwise (2.0). Semantically
    * interchangeable with [[dist]] under a `<= maxDist` filter, but prunes
    * with [[lengthRejects]] and banded kernels ([[inBand]]). Levenshtein on
    * pure-ASCII inputs takes an allocation-free byte path. */
  def distBounded(id: Int, a: UTF8String, b: UTF8String, maxDist: Double): Double = {
    // isFullAscii is a word-wise high-bit scan — cheaper than the old
    // numChars walk (which decodes UTF-8 lengths byte by byte)
    if (id == 0 && a.isFullAscii && b.isFullAscii) {
      val la = a.numBytes
      val lb = b.numBytes
      val mx = math.max(la, lb)
      if (lengthRejects(0, la, lb, maxDist)) return 2.0
      if (mx == 0) return 0.0
      val k = (maxDist * mx).toInt
      val d = levBoundedAscii(a, b, k)
      return if (d > k) 2.0 else d.toDouble / mx
    }
    val sa = a.toString
    val sb = b.toString
    if (lengthRejects(id, sa.length, sb.length, maxDist)) 2.0
    else inBand(id).dist(sa, sb, maxDist)
  }

  /** The first reject of every bounded kernel: true when strings of
    * lengths `la` and `lb` are provably more than `maxDist` apart from
    * their length difference alone. [[distBounded]] tests it before any
    * character work and the sweep ([[FuzzySweep]]) once per length group,
    * so the pairs the sweep skips are exactly the pairs the kernel rejects.
    *  - levenshtein, damerau (<= levenshtein): dist >= diff, within
    *    budget floor(maxDist * mx);
    *  - hamming (padded): dist >= diff, within maxDist * mx;
    *  - indel: dist >= diff, within floor(maxDist * (la + lb));
    *  - jaro: sim <= (min/max + 2) / 3 => dist >= diff / (3 * mx);
    *  - jaro-winkler: the prefix boost can recover up to 0.4 of the jaro
    *    gap (4 * 0.1), so dist >= 0.6 * diff / (3 * mx) = diff / (5 * mx).
    */
  def lengthRejects(id: Int, la: Int, lb: Int, maxDist: Double): Boolean = {
    val mx = math.max(la, lb)
    val diff = math.abs(la - lb)
    id match {
      case 0 | 4 => diff > (maxDist * mx).toInt
      case 3 => diff > maxDist * mx
      case 5 => diff > (maxDist * (la + lb)).toInt
      case 1 => diff > 3.0 * maxDist * mx
      case 2 => diff > 5.0 * maxDist * mx
      case _ => throw new IllegalArgumentException(s"bad algorithm id $id")
    }
  }

  /** The in-band half of a bounded kernel, for a pair [[lengthRejects]]
    * passed: exact normalized distance when it is <= maxDist, 2.0 (or any
    * value > maxDist) otherwise. */
  private[fuzzy] abstract class InBandKernel extends Serializable {
    def dist(a: String, b: String, maxDist: Double): Double
  }

  /** [[InBandKernel]]s indexed by [[FuzzyAlgorithm.id]], so a caller picks
    * the kernel once rather than per pair. */
  private[fuzzy] val inBand: Array[InBandKernel] = Array(
    new InBandKernel { // levenshtein
      def dist(a: String, b: String, maxDist: Double): Double = {
        val mx = math.max(a.length, b.length)
        if (mx == 0) 0.0
        else {
          val k = (maxDist * mx).toInt
          val d = levenshteinBounded(a, b, k)
          if (d > k) 2.0 else d.toDouble / mx
        }
      }
    },
    new InBandKernel {
      def dist(a: String, b: String, maxDist: Double): Double = jaroDist(a, b)
    },
    new InBandKernel {
      def dist(a: String, b: String, maxDist: Double): Double = jaroWinklerDist(a, b)
    },
    new InBandKernel {
      def dist(a: String, b: String, maxDist: Double): Double = hammingDist(a, b)
    },
    new InBandKernel { // damerau
      def dist(a: String, b: String, maxDist: Double): Double = {
        val mx = math.max(a.length, b.length)
        if (mx == 0) 0.0
        else {
          val k = (maxDist * mx).toInt
          val d = damerauBounded(a, b, k)
          if (d > k) 2.0 else d.toDouble / mx
        }
      }
    },
    new InBandKernel { // indel
      def dist(a: String, b: String, maxDist: Double): Double = {
        val total = a.length + b.length
        if (total == 0) 0.0
        else {
          val k = (maxDist * total).toInt
          val d = indelBounded(a, b, k)
          if (d > k) 2.0 else d.toDouble / total
        }
      }
    })

  // ------------------------------------------------------- damerau-levenshtein

  /** Unrestricted Damerau-Levenshtein (true transposition distance, matching
    * DuckDB's `damerau_levenshtein` and rapidfuzz's DamerauLevenshtein).
    * Last-occurrence tracking is a direct char-indexed array for ASCII
    * strings (no boxing/HashMap churn in the hot loop), HashMap otherwise. */
  def damerau(a: String, b: String): Int = {
    val n = a.length
    val m = b.length
    if (n == 0) return m
    if (m == 0) return n
    val inf = n + m
    // d has an extra border row/col of `inf` for the transposition recurrence.
    val d = Array.ofDim[Int](n + 2, m + 2)
    d(0)(0) = inf
    var i = 0
    while (i <= n) { d(i + 1)(1) = i; d(i + 1)(0) = inf; i += 1 }
    var j = 0
    while (j <= m) { d(1)(j + 1) = j; d(0)(j + 1) = inf; j += 1 }
    // last-occurrence table: direct char-indexed array when the strings are
    // ASCII (the common case — zero boxing), HashMap otherwise
    var ascii = true
    i = 0
    while (ascii && i < n) { if (a.charAt(i) >= 128) ascii = false; i += 1 }
    i = 0
    while (ascii && i < m) { if (b.charAt(i) >= 128) ascii = false; i += 1 }
    if (ascii) {
      val da = new Array[Int](128)
      i = 1
      while (i <= n) {
        var db = 0
        j = 1
        while (j <= m) {
          val i1 = da(b.charAt(j - 1))
          val j1 = db
          var cost = 1
          if (a.charAt(i - 1) == b.charAt(j - 1)) { cost = 0; db = j }
          val sub = d(i)(j) + cost
          val ins = d(i + 1)(j) + 1
          val del = d(i)(j + 1) + 1
          val trans = d(i1)(j1) + (i - i1 - 1) + 1 + (j - j1 - 1)
          d(i + 1)(j + 1) = math.min(math.min(sub, ins), math.min(del, trans))
          j += 1
        }
        da(a.charAt(i - 1)) = i
        i += 1
      }
    } else {
      val da = new java.util.HashMap[Character, Integer]()
      i = 1
      while (i <= n) {
        var db = 0
        j = 1
        while (j <= m) {
          val i1v = da.get(b.charAt(j - 1))
          val i1 = if (i1v == null) 0 else i1v.intValue
          val j1 = db
          var cost = 1
          if (a.charAt(i - 1) == b.charAt(j - 1)) { cost = 0; db = j }
          val sub = d(i)(j) + cost
          val ins = d(i + 1)(j) + 1
          val del = d(i)(j + 1) + 1
          val trans = d(i1)(j1) + (i - i1 - 1) + 1 + (j - j1 - 1)
          d(i + 1)(j + 1) = math.min(math.min(sub, ins), math.min(del, trans))
          j += 1
        }
        da.put(a.charAt(i - 1), i)
        i += 1
      }
    }
    d(n + 1)(m + 1)
  }

  def damerauDist(a: String, b: String): Double = {
    val mx = math.max(a.length, b.length)
    if (mx == 0) 0.0 else damerau(a, b).toDouble / mx
  }

  /** Banded unrestricted Damerau-Levenshtein with cutoff: exact when the
    * distance is <= k, returns k+1 otherwise.
    *
    * Soundness of the band + early exit under transpositions: every DP
    * transition only ADDS cost, so any path through a cell of value > k
    * ends > k — out-of-band cells (true value >= |i-j| > k) may therefore
    * be overestimated as `inf`. The transposition jump from (i1, j1) to
    * (i+1, j+1) skips rows, but costs d(i1)(j1) + (i-i1-1) + 1 + (j-j1-1)
    * >= d(r)(j1) + (i-r) + (j-j1) - 1 > k for any skipped row r whose
    * in-band minimum exceeds k (reach (r, j1) from (i1, j1) by r-i1
    * deletions), so the per-row early exit remains exact. */
  def damerauBounded(a0: String, b0: String, k: Int): Int = {
    // common prefix/suffix stripping (safe for unrestricted damerau — no
    // cross-boundary transposition can beat matching equal chars for free)
    var aStart = 0
    var aEnd = a0.length
    var bStart = 0
    var bEnd = b0.length
    while (aStart < aEnd && bStart < bEnd && a0.charAt(aStart) == b0.charAt(bStart)) {
      aStart += 1; bStart += 1
    }
    while (aEnd > aStart && bEnd > bStart && a0.charAt(aEnd - 1) == b0.charAt(bEnd - 1)) {
      aEnd -= 1; bEnd -= 1
    }
    val a = a0.substring(aStart, aEnd)
    val b = b0.substring(bStart, bEnd)
    val n = a.length
    val m = b.length
    if (math.abs(n - m) > k) return k + 1
    if (n == 0) return m
    if (m == 0) return n
    if (k >= n + m) return damerau(a, b)
    val inf = n + m
    val d = Array.ofDim[Int](n + 2, m + 2)
    var i = 0
    while (i <= n + 1) { java.util.Arrays.fill(d(i), inf); i += 1 }
    i = 0
    while (i <= n) { d(i + 1)(1) = i; i += 1 }
    var j = 0
    while (j <= m) { d(1)(j + 1) = j; j += 1 }
    val da = new java.util.HashMap[Character, Integer]()
    i = 1
    while (i <= n) {
      var db = 0
      val lo = math.max(1, i - k)
      val hi = math.min(m, i + k)
      var rowMin = inf
      j = lo
      while (j <= hi) {
        val i1v = da.get(b.charAt(j - 1))
        val i1 = if (i1v == null) 0 else i1v.intValue
        val j1 = db
        var cost = 1
        if (a.charAt(i - 1) == b.charAt(j - 1)) { cost = 0; db = j }
        val sub = d(i)(j) + cost
        val ins = d(i + 1)(j) + 1
        val del = d(i)(j + 1) + 1
        val trans = d(i1)(j1) + (i - i1 - 1) + 1 + (j - j1 - 1)
        var v = math.min(math.min(sub, ins), math.min(del, trans))
        if (v > inf) v = inf
        d(i + 1)(j + 1) = v
        if (v < rowMin) rowMin = v
        j += 1
      }
      if (rowMin > k) return k + 1
      da.put(a.charAt(i - 1), i)
      i += 1
    }
    val res = d(n + 1)(m + 1)
    if (res > k) k + 1 else res
  }

  // ------------------------------------------------------------------ jaro

  /** Jaro similarity (standard definition; two empty strings are similarity
    * 1.0, one empty is 0.0). */
  def jaroSim(a: String, b: String): Double = {
    val n = a.length
    val m = b.length
    if (n == 0 && m == 0) return 1.0
    if (n == 0 || m == 0) return 0.0
    if (n == 1 && m == 1) return if (a.charAt(0) == b.charAt(0)) 1.0 else 0.0
    val window = math.max(0, math.max(n, m) / 2 - 1)
    val aMatched = new Array[Boolean](n)
    val bMatched = new Array[Boolean](m)
    var matches = 0
    var i = 0
    while (i < n) {
      val lo = math.max(0, i - window)
      val hi = math.min(m - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!bMatched(j) && a.charAt(i) == b.charAt(j)) {
          aMatched(i) = true
          bMatched(j) = true
          matches += 1
          found = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    // count transpositions between matched sequences
    var transpositions = 0
    var k = 0
    i = 0
    while (i < n) {
      if (aMatched(i)) {
        while (!bMatched(k)) k += 1
        if (a.charAt(i) != b.charAt(k)) transpositions += 1
        k += 1
      }
      i += 1
    }
    val mD = matches.toDouble
    // `transpositions` counts mismatched flagged positions; half-pairs are
    // FLOORED (integer /2) — the rapidfuzz/DuckDB convention. With odd
    // mismatch counts (e.g. "…102" vs "…021") fractional halves would give
    // a lower score than the oracle.
    (mD / n + mD / m + (mD - transpositions / 2) / mD) / 3.0
  }

  def jaroDist(a: String, b: String): Double = 1.0 - jaroSim(a, b)

  /** Jaro-Winkler with standard prefix weight 0.1, max prefix 4, and the
    * common 0.7 boost threshold (matches rapidfuzz / DuckDB conventions;
    * golden value 0.88 for "apple inc." vs "apple incorporated" verified
    * against tests/test_pl_fuzzy_frame_match.py:360). */
  def jaroWinklerSim(a: String, b: String): Double = {
    val j = jaroSim(a, b)
    if (j <= 0.7) return j
    var prefix = 0
    val maxPrefix = math.min(4, math.min(a.length, b.length))
    while (prefix < maxPrefix && a.charAt(prefix) == b.charAt(prefix)) prefix += 1
    j + prefix * 0.1 * (1.0 - j)
  }

  def jaroWinklerDist(a: String, b: String): Double = 1.0 - jaroWinklerSim(a, b)

  // ---------------------------------------------------------------- hamming

  /** Hamming distance with implicit padding: positions beyond the shorter
    * string count as mismatches (rapidfuzz `pad=True` convention, so the
    * reference's kernel sweep over unequal-length strings is well-defined;
    * for equal lengths this equals classic Hamming). */
  def hamming(a: String, b: String): Int = {
    val shared = math.min(a.length, b.length)
    var d = math.max(a.length, b.length) - shared
    var i = 0
    while (i < shared) {
      if (a.charAt(i) != b.charAt(i)) d += 1
      i += 1
    }
    d
  }

  def hammingDist(a: String, b: String): Double = {
    val mx = math.max(a.length, b.length)
    if (mx == 0) 0.0 else hamming(a, b).toDouble / mx
  }

  // ------------------------------------------------------------------ indel

  /** Longest common subsequence length, two-row DP. */
  def lcsLength(a: String, b: String): Int = {
    val n = a.length
    val m = b.length
    if (n == 0 || m == 0) return 0
    val prev = new Array[Int](m + 1)
    val cur = new Array[Int](m + 1)
    var i = 1
    while (i <= n) {
      val ca = a.charAt(i - 1)
      var j = 1
      while (j <= m) {
        cur(j) = if (ca == b.charAt(j - 1)) prev(j - 1) + 1
                 else math.max(prev(j), cur(j - 1))
        j += 1
      }
      System.arraycopy(cur, 0, prev, 0, m + 1)
      i += 1
    }
    prev(m)
  }

  /** Insert/delete-only edit distance = lenA + lenB - 2*LCS, normalized by
    * (lenA + lenB) (rapidfuzz Indel.normalized_distance convention). */
  def indelDist(a: String, b: String): Double = {
    val total = a.length + b.length
    if (total == 0) 0.0
    else (total - 2 * lcsLength(a, b)).toDouble / total
  }

  /** Banded insert/delete-only edit distance with cutoff: exact when the
    * distance is <= k, returns k+1 otherwise. Same Ukkonen band as
    * [[levenshteinBounded]] (every cell satisfies d >= |i-j|), with the
    * substitution transition removed — the diagonal move is free on equal
    * chars only. O((2k+1) * n) per pair. */
  def indelBounded(a: CharSequence, b: CharSequence, k: Int): Int = {
    var aStart = 0
    var aEnd = a.length
    var bStart = 0
    var bEnd = b.length
    while (aStart < aEnd && bStart < bEnd && a.charAt(aStart) == b.charAt(bStart)) {
      aStart += 1; bStart += 1
    }
    while (aEnd > aStart && bEnd > bStart && a.charAt(aEnd - 1) == b.charAt(bEnd - 1)) {
      aEnd -= 1; bEnd -= 1
    }
    val n = aEnd - aStart
    val m = bEnd - bStart
    if (math.abs(n - m) > k) return k + 1
    if (n == 0) return m
    if (m == 0) return n
    val inf = k + 1
    val prev = new Array[Int](m + 1)
    val cur = new Array[Int](m + 1)
    java.util.Arrays.fill(prev, inf)
    var j = 0
    while (j <= math.min(m, k)) { prev(j) = j; j += 1 }
    var i = 1
    while (i <= n) {
      java.util.Arrays.fill(cur, inf)
      val lo = math.max(1, i - k)
      val hi = math.min(m, i + k)
      if (lo == 1 && i <= k) cur(0) = i
      var rowMin = cur(0)
      val ca = a.charAt(aStart + i - 1)
      j = lo
      while (j <= hi) {
        var v =
          if (ca == b.charAt(bStart + j - 1)) prev(j - 1)
          else inf
        val del = prev(j) + 1
        if (del < v) v = del
        val ins = cur(j - 1) + 1
        if (ins < v) v = ins
        if (v > inf) v = inf
        cur(j) = v
        if (v < rowMin) rowMin = v
        j += 1
      }
      if (rowMin >= inf) return inf
      System.arraycopy(cur, 0, prev, 0, m + 1)
      i += 1
    }
    math.min(prev(m), inf)
  }
}
