package graft.fuzzy

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Tight-loop kernels for vector / sketch operators, callable from generated
  * code (static forwarders). These replace `transform`/`aggregate`
  * higher-order expressions on the hot paths: Spark evaluates HOF lambdas
  * interpreted per element, which benchmarked ~20-100x slower than these
  * loops at sf0.1.
  */
object VectorKernels {

  /** Dot product of two float-array columns (double accumulation,
    * left-to-right — same sum order as the DuckDB oracle). */
  def dotF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    s
  }

  /** Cosine similarity; a zero-norm side yields 0.0 (not 0/0 = NaN) so the
    * score stays inside the total order downstream rankers ([[TopKHeap]])
    * rely on — crawl corpora do contain all-zero embeddings. */
  def cosineF(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dot / denom
  }

  /** Symmetric per-vector int8 quantization of a float vector:
    * `q_i = floor(v_i * 127.0 / max_j |v_j|)`, all-zero when the vector is
    * all-zero. 4x smaller than float32 — the memory/shuffle compression
    * step for corpus-scale ANN — and every arithmetic step (float->double
    * widening is exact, one multiply, one divide, floor) is an IEEE
    * operation an oracle engine reproduces bit-for-bit, unlike a
    * round-to-nearest scheme whose tie rule differs across engines. */
  def quantizeI8(v: ArrayData): ArrayData = {
    val n = v.numElements()
    var ma = 0.0
    var i = 0
    while (i < n) {
      val x = math.abs(v.getFloat(i).toDouble)
      if (x > ma) ma = x
      i += 1
    }
    val out = new Array[Byte](n)
    if (ma > 0.0) {
      i = 0
      while (i < n) {
        out(i) = math.floor(v.getFloat(i).toDouble * 127.0 / ma).toByte
        i += 1
      }
    }
    ArrayData.toArrayData(out)
  }

  /** Integer dot product of two int8-quantized vectors ([[quantizeI8]]) —
    * exact LONG arithmetic, order-independent, oracle-reproducible. */
  def dotI8(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      s += a.getByte(i).toLong * b.getByte(i).toLong
      i += 1
    }
    s
  }

  /** Johnson-Lindenstrauss random projection of a float vector onto the
    * first `outDim` rows of a flattened row-major plane matrix, scaled by
    * `1/sqrt(outDim)` (the JL norm-preserving constant for unit-variance
    * planes). Output is float — the projected corpus feeds the same
    * float-array ANN operators at `outDim/dim` of the storage. */
  def projectF(v: ArrayData, planes: Array[Double], dim: Int, outDim: Int): ArrayData = {
    val n = math.min(v.numElements(), dim)
    val out = new Array[Float](outDim)
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    var p = 0
    while (p < outDim) {
      var s = 0.0
      var d = 0
      val off = p * dim
      while (d < n) {
        s += v.getFloat(d).toDouble * planes(off + d)
        d += 1
      }
      out(p) = (s * scale).toFloat
      p += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Oracle-reproducible projection: the vector quantizes to
    * `floor(v * 4096)` (exact IEEE floor on exactly-widened floats) and the
    * planes are integers (md5-derived), so every component is an exact
    * BIGINT sum any engine recomputes bit-for-bit. Same quantization grid
    * as [[signBitsInt]]. */
  def projectQ(v: ArrayData, planes: Array[Long], dim: Int, outDim: Int): ArrayData = {
    val n = math.min(v.numElements(), dim)
    val out = new Array[Long](outDim)
    var p = 0
    while (p < outDim) {
      var s = 0L
      var d = 0
      val off = p * dim
      while (d < n) {
        s += math.floor(v.getFloat(d).toDouble * 4096.0).toLong * planes(off + d)
        d += 1
      }
      out(p) = s
      p += 1
    }
    ArrayData.toArrayData(out)
  }

  // ------------------------------------------------------ BPE tokenizer

  /** Greedy BPE encode of ONE word: start from single characters and
    * repeatedly merge the LEFTMOST occurrence of the LOWEST-rank adjacent
    * pair present in `ranks` until no adjacent pair is mergeable — the
    * standard Sennrich/GPT-2 apply rule (merging one occurrence at a time
    * and re-scanning is equivalent to the merge-all-occurrences-per-step
    * formulation: a merge never creates a pair of lower rank than itself
    * out of scan order). `ranks` maps "a b" -> rank. Characters are
    * Unicode code points. O(len² · merges) worst case on a single word —
    * words are short; the corpus-scale cost is linear in total tokens. */
  def bpeTokens(word: UTF8String, ranks: java.util.HashMap[String, Integer]): ArrayData = {
    val s = word.toString
    if (s.isEmpty) return ArrayData.toArrayData(Array.empty[UTF8String])
    val toks = new java.util.ArrayList[String]()
    var ci = 0
    while (ci < s.length) {
      val cp = s.codePointAt(ci)
      val n = Character.charCount(cp)
      toks.add(s.substring(ci, ci + n))
      ci += n
    }
    var done = false
    while (!done && toks.size > 1) {
      var bestRank = Int.MaxValue
      var bestI = -1
      var i = 0
      while (i < toks.size - 1) {
        val r = ranks.get(toks.get(i) + " " + toks.get(i + 1))
        if (r != null && r < bestRank) { bestRank = r; bestI = i }
        i += 1
      }
      if (bestI < 0) done = true
      else {
        toks.set(bestI, toks.get(bestI) + toks.get(bestI + 1))
        toks.remove(bestI + 1)
      }
    }
    val out = new Array[UTF8String](toks.size)
    var j = 0
    while (j < out.length) { out(j) = UTF8String.fromString(toks.get(j)); j += 1 }
    ArrayData.toArrayData(out)
  }

  // ------------------------------------------------ content-defined chunking

  /** Content-defined chunk texts from a token array: a chunk boundary
    * falls AFTER every token whose md5-bucket (15-hex-digit prefix as a
    * long, mod 1e6 — the engine-wide [[graft.pipeline.Curation]] hash
    * grid) is divisible by `avg`, giving ~`avg`-token chunks whose
    * boundaries depend on CONTENT, not position — inserting a paragraph
    * shifts every fixed-window chunk after it, but shifts NO
    * content-defined boundary downstream of the edit, which is what
    * keeps chunk-level dedup stable under edits (the CDC idea of LBFS /
    * restic, on whitespace tokens). Tokens join with single spaces. */
  def cdcChunks(toks: ArrayData, avg: Int): ArrayData = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new java.util.ArrayList[UTF8String]()
    val sb = new java.lang.StringBuilder()
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      val t = toks.getUTF8String(i).toString
      if (sb.length() > 0) sb.append(' ')
      sb.append(t)
      md.reset()
      val hex = md.digest(t.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 15)
      if (java.lang.Long.parseLong(hex, 16) % 1000000L % avg == 0L) {
        out.add(UTF8String.fromString(sb.toString)); sb.setLength(0)
      }
      i += 1
    }
    if (sb.length() > 0) out.add(UTF8String.fromString(sb.toString))
    val arr = new Array[UTF8String](out.size)
    var j = 0
    while (j < arr.length) { arr(j) = out.get(j); j += 1 }
    ArrayData.toArrayData(arr)
  }

  // ------------------------------------------------------ product quantization

  /** Quantized component d of `v` on the exact-integer grid shared with
    * [[projectQ]] and the SQL oracles: floor(v_d * 4096), 0 beyond the
    * vector's length. */
  @inline private def q4096(v: ArrayData, d: Int, n: Int): Long =
    if (d < n) math.floor(v.getFloat(d).toDouble * 4096.0).toLong else 0L

  /** PQ encode (integer/oracle variant): split the 4096-grid-quantized
    * vector into `m` subvectors of `dim/m`, assign each to its nearest
    * codeword (exact integer L2; ties -> smallest codeword index) from a
    * flattened codebook laid out `[(s*ksub + j)*dsub + t]`. Output:
    * `m` codeword indices packed as BYTES (ksub <= 256) — the
    * whole-vector code is literally m bytes of shuffle/broadcast state,
    * and every arithmetic step is integer, so a SQL oracle reproduces
    * the code exactly. */
  def pqEncodeInt(v: ArrayData, codebook: Array[Long], m: Int, ksub: Int,
                  dim: Int): Array[Byte] = {
    val n = math.min(v.numElements(), dim)
    val dsub = dim / m
    val out = new Array[Byte](m)
    var s = 0
    while (s < m) {
      var best = 0
      var bestD = Long.MaxValue
      var j = 0
      while (j < ksub) {
        var d = 0L
        var t = 0
        val voff = s * dsub
        val coff = (s * ksub + j) * dsub
        while (t < dsub) {
          val diff = q4096(v, voff + t, n) - codebook(coff + t)
          d += diff * diff
          t += 1
        }
        if (d < bestD) { bestD = d; best = j }
        j += 1
      }
      out(s) = best.toByte
      s += 1
    }
    out
  }

  /** PQ query lookup table (integer/oracle variant): dot of each query
    * subvector with each codeword — `m * ksub` exact integer entries,
    * computed ONCE per query. Scoring a corpus code is then `m` array
    * reads ([[pqAdcInt]]) instead of a `dim`-wide dot: the asymmetric
    * distance computation (ADC) of Jegou et al. 2011. */
  def pqLutInt(v: ArrayData, codebook: Array[Long], m: Int, ksub: Int,
               dim: Int): ArrayData = {
    val n = math.min(v.numElements(), dim)
    val dsub = dim / m
    val out = new Array[Long](m * ksub)
    var s = 0
    while (s < m) {
      var j = 0
      while (j < ksub) {
        var acc = 0L
        var t = 0
        val voff = s * dsub
        val coff = (s * ksub + j) * dsub
        while (t < dsub) {
          acc += q4096(v, voff + t, n) * codebook(coff + t)
          t += 1
        }
        out(s * ksub + j) = acc
        j += 1
      }
      s += 1
    }
    ArrayData.toArrayData(out)
  }

  /** ADC score: Σ_s lut[s*ksub + code_s] — `m` adds per (query, corpus)
    * pair. Integer variant: exact, order-independent. */
  def pqAdcInt(codes: Array[Byte], lut: ArrayData, ksub: Int): Long = {
    val m = codes.length
    var s = 0
    var acc = 0L
    while (s < m) {
      acc += lut.getLong(s * ksub + (codes(s) & 0xff))
      s += 1
    }
    acc
  }

  /** PQ encode, float/production variant (k-means codebooks). Same layout
    * and tie rule as [[pqEncodeInt]] (strict `<`, so ties keep the
    * smallest index deterministically). */
  def pqEncodeF(v: ArrayData, codebook: Array[Double], m: Int, ksub: Int,
                dim: Int): Array[Byte] = {
    val n = math.min(v.numElements(), dim)
    val dsub = dim / m
    val out = new Array[Byte](m)
    var s = 0
    while (s < m) {
      var best = 0
      var bestD = Double.MaxValue
      var j = 0
      while (j < ksub) {
        var d = 0.0
        var t = 0
        val voff = s * dsub
        val coff = (s * ksub + j) * dsub
        while (t < dsub) {
          val x = if (voff + t < n) v.getFloat(voff + t).toDouble else 0.0
          val diff = x - codebook(coff + t)
          d += diff * diff
          t += 1
        }
        if (d < bestD) { bestD = d; best = j }
        j += 1
      }
      out(s) = best.toByte
      s += 1
    }
    out
  }

  /** PQ query lookup table, float/production variant. */
  def pqLutF(v: ArrayData, codebook: Array[Double], m: Int, ksub: Int,
             dim: Int): ArrayData = {
    val n = math.min(v.numElements(), dim)
    val dsub = dim / m
    val out = new Array[Double](m * ksub)
    var s = 0
    while (s < m) {
      var j = 0
      while (j < ksub) {
        var acc = 0.0
        var t = 0
        val voff = s * dsub
        val coff = (s * ksub + j) * dsub
        while (t < dsub) {
          val x = if (voff + t < n) v.getFloat(voff + t).toDouble else 0.0
          acc += x * codebook(coff + t)
          t += 1
        }
        out(s * ksub + j) = acc
        j += 1
      }
      s += 1
    }
    ArrayData.toArrayData(out)
  }

  /** ADC score, float/production variant. */
  def pqAdcF(codes: Array[Byte], lut: ArrayData, ksub: Int): Double = {
    val m = codes.length
    var s = 0
    var acc = 0.0
    while (s < m) {
      acc += lut.getDouble(s * ksub + (codes(s) & 0xff))
      s += 1
    }
    acc
  }

  /** Morton z-value: interleaves the low 31 bits of two non-negative longs
    * (`a` on even positions, `b` on odd) — the space-filling-curve sort key
    * for two-dimensional data clustering. 31+31 bits keep the result in
    * bit positions 0..61, so the z-value orders correctly as a SIGNED long
    * in any engine. Bits above 31 are ignored (callers normalize). */
  def interleave31(a: Long, b: Long): Long =
    spread31(a) | (spread31(b) << 1)

  /** Spreads the low 31 bits of x to even bit positions (Morton spread). */
  @inline private def spread31(x0: Long): Long = {
    var x = x0 & 0x7FFFFFFFL
    x = (x | (x << 16)) & 0x0000FFFF0000FFFFL
    x = (x | (x << 8)) & 0x00FF00FF00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  /** xxhash64-style seeded hash of a UTF8String via Spark's own XXH64. */
  @inline private def seededHash(s: UTF8String, seed: Long): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      s, org.apache.spark.sql.types.StringType, seed)

  /** SplitMix64 finalizer — the standard 64-bit avalanche mix. */
  @inline private def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** MinHash signature: hash-once + k cheap permutations. Each shingle is
    * xxhash64'd exactly ONCE (reading its bytes is the expensive part);
    * permutation j re-avalanches the 64-bit hash as SplitMix64(h ^ c_j) —
    * a full-mix bijection per lane (a bare multiply-add family measurably
    * degrades band-collision recall on small gram sets). This replaces k
    * full passes over every shingle's bytes with one pass plus ~6 ALU ops
    * per shingle per lane. */
  def minhash(shingles: ArrayData, k: Int): ArrayData = {
    val n = shingles.numElements()
    val base = new Array[Long](n)
    var m = 0
    var i = 0
    while (i < n) {
      if (!shingles.isNullAt(i)) {
        base(m) = seededHash(shingles.getUTF8String(i), 0L)
        m += 1
      }
      i += 1
    }
    val out = new Array[Long](k)
    var j = 0
    while (j < k) {
      val c = mix64(j.toLong)
      var mn = Long.MaxValue
      i = 0
      while (i < m) {
        val h = mix64(base(i) ^ c)
        if (h < mn) mn = h
        i += 1
      }
      out(j) = mn
      j += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Fraction of agreeing positions between two equal-length MinHash
    * signatures — the standard unbiased Jaccard estimator. Tight loop over
    * long arrays; replaces an interpreted `zip_with`+`aggregate` pair that
    * dominated the minhash verify stage. */
  def sigAgreement(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    if (n == 0) return 0.0
    var agree = 0
    var i = 0
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) agree += 1
      i += 1
    }
    agree.toDouble / n
  }

  // MD5-based hashes for ORACLE-CHECKABLE sketch variants: DuckDB computes
  // the same value as ('0x' || substring(md5(s), 1, 15))::BIGINT (60-bit) /
  // ('0x' || substring(md5(s), 1, 16))::UBIGINT (64-bit), so sketches built
  // on them can be verified bit-for-bit by the SQL oracle. ~3-5x slower than
  // xxhash64 — the xxhash variants stay the at-scale default.
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 8 MD5 bytes, big-endian (= first 16 hex chars as unsigned). */
  def md5Hash64(s: UTF8String): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(s.getBytes)
    ((d(0) & 0xFFL) << 56) | ((d(1) & 0xFFL) << 48) | ((d(2) & 0xFFL) << 40) |
      ((d(3) & 0xFFL) << 32) | ((d(4) & 0xFFL) << 24) | ((d(5) & 0xFFL) << 16) |
      ((d(6) & 0xFFL) << 8) | (d(7) & 0xFFL)
  }

  /** First 15 MD5 hex chars as a non-negative long (60 bits). */
  def md5Hash60(s: UTF8String): Long = md5Hash64(s) >>> 4

  /** 64-bit SimHash over a string token array: per bit, sign of the sum of
    * +-1 votes from each token's hash. `useMd5` picks the oracle-checkable
    * MD5 token hash over the (faster) default xxhash64. */
  def simhash(tokens: ArrayData, useMd5: Boolean): Long = {
    val votes = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val t = tokens.getUTF8String(i)
        val h = if (useMd5) md5Hash64(t) else seededHash(t, 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  def simhash(tokens: ArrayData): Long = simhash(tokens, useMd5 = false)

  /** HashingTF-compatible feature slot: `nonNegativeMod(murmur3_x86_32.
    * hashUnsafeBytes2(utf8 bytes, seed 42), slots)` — bit-identical to
    * `org.apache.spark.ml.feature.HashingTF.indexOf` (Spark 3+), so a
    * model FIT on HashingTF features can be APPLIED by a pure codegen
    * scan with no MLlib anywhere in the plan. The SQL `hash()` function
    * does NOT match: it keeps the pre-3.0 `hashUnsafeBytes` whose
    * trailing-byte sign-extension bug HashingTF's "2" variant fixed —
    * the two agree only on empty input (spec-pinned divergence). */
  def tfSlot(term: UTF8String, slots: Int): Int = {
    val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes2(
      term.getBaseObject, term.getBaseOffset, term.numBytes, 42)
    val m = h % slots
    if (m < 0) m + slots else m
  }

  /** Winnowing sketch: hash every k-char gram of `text`, keep the min hash
    * of each sliding window, distinct. Returns sorted minima. `useMd5`
    * picks the oracle-checkable 60-bit MD5 gram hash. */
  def winnow(text: UTF8String, k: Int, window: Int, useMd5: Boolean): ArrayData = {
    val s = text.toString
    val nGrams = math.max(s.length - k + 1, 1)
    val hashes = new Array[Long](nGrams)
    var i = 0
    while (i < nGrams) {
      val gram = UTF8String.fromString(s.substring(i, math.min(i + k, s.length)))
      hashes(i) = if (useMd5) md5Hash60(gram) else seededHash(gram, 7L)
      i += 1
    }
    val nWin = math.max(nGrams - window + 1, 1)
    val out = new java.util.TreeSet[java.lang.Long]()
    var w = 0
    while (w < nWin) {
      var mn = Long.MaxValue
      var j = w
      val end = math.min(w + window, nGrams)
      while (j < end) {
        if (hashes(j) < mn) mn = hashes(j)
        j += 1
      }
      out.add(mn)
      w += 1
    }
    val arr = new Array[Long](out.size())
    val it = out.iterator()
    var x = 0
    while (it.hasNext) { arr(x) = it.next(); x += 1 }
    ArrayData.toArrayData(arr)
  }

  /** Indices of the `nProbe` nearest centroids by cosine. `centroids` is a
    * flattened row-major (k x dim) matrix, L2-NORMALIZED at build time so
    * ranking by raw dot product equals ranking by cosine (the query's own
    * norm is constant across centroids). Ties break to the lower index. */
  def nearestCells(v: ArrayData, centroids: Array[Double], dim: Int, nProbe: Int): ArrayData = {
    val kc = centroids.length / dim
    val n = math.min(v.numElements(), dim)
    val sims = new Array[Double](kc)
    var c = 0
    while (c < kc) {
      var dot = 0.0
      val off = c * dim
      var i = 0
      while (i < n) { dot += v.getFloat(i).toDouble * centroids(off + i); i += 1 }
      sims(c) = dot
      c += 1
    }
    val p = math.min(nProbe, kc)
    val out = new Array[Int](p)
    val taken = new Array[Boolean](kc)
    var j = 0
    while (j < p) {
      var best = -1
      var bs = Double.NegativeInfinity
      c = 0
      while (c < kc) {
        if (!taken(c) && sims(c) > bs) { bs = sims(c); best = c }
        c += 1
      }
      if (best < 0) {
        // All remaining sims are NaN (query vector with NaN components):
        // degrade to the lowest untaken index instead of crashing the job.
        c = 0
        while (best < 0 && c < kc) { if (!taken(c)) best = c; c += 1 }
      }
      taken(best) = true
      out(j) = best
      j += 1
    }
    ArrayData.toArrayData(out)
  }

  /** Sign-LSH bits: pack sign(dot(v, plane_i)) into a long. `planes` is a
    * flattened row-major (nPlanes x dim) matrix. */
  /** Sign-LSH bits with integer-quantized arithmetic: vectors quantize to
    * floor(v * 4096) and plane components are integers, so every dot
    * product is EXACT integer math — order-independent and reproducible
    * bit-for-bit by a SQL oracle (float summation order is engine-defined;
    * integer sums are not). Quantization noise only perturbs bucketing,
    * never the exact-cosine re-rank. */
  def signBitsInt(v: ArrayData, planes: Array[Long], dim: Int): Long = {
    val nPlanes = planes.length / dim
    val n = math.min(v.numElements(), dim)
    var bits = 0L
    var p = 0
    while (p < nPlanes) {
      var dot = 0L
      var i = 0
      val off = p * dim
      while (i < n) {
        dot += math.floor(v.getFloat(i).toDouble * 4096.0).toLong * planes(off + i)
        i += 1
      }
      if (dot > 0) bits |= (1L << p)
      p += 1
    }
    bits
  }

  /** Binary (1-bit-per-dimension) quantization: bit j is set iff
    * component j is strictly positive. Unlike [[signBits]] there is no
    * hyperplane projection — the "planes" are the coordinate axes — so
    * the signature is a pure, exactly-reproducible function of the sign
    * pattern (a SQL oracle recomputes it from `v[j] > 0` comparisons).
    * Dimensions beyond 64 are ignored (callers validate dim <= 64); a
    * zero/negative vector packs to 0L, which is a valid signature. */
  def signBits64(v: ArrayData): Long = {
    val n = math.min(v.numElements(), 64)
    var bits = 0L
    var j = 0
    while (j < n) {
      if (v.getFloat(j) > 0f) bits |= (1L << j)
      j += 1
    }
    bits
  }

  def signBits(v: ArrayData, planes: Array[Double], dim: Int): Long = {
    val nPlanes = planes.length / dim
    val n = math.min(v.numElements(), dim)
    var bits = 0L
    var p = 0
    while (p < nPlanes) {
      var dot = 0.0
      var i = 0
      val off = p * dim
      while (i < n) {
        dot += v.getFloat(i).toDouble * planes(off + i)
        i += 1
      }
      if (dot > 0) bits |= (1L << p)
      p += 1
    }
    bits
  }

  /** 64-bit character-set mask of an ASCII string: bit `byte & 63` set for
    * every byte present; 0 for non-ASCII strings (gate disabled) and for
    * the empty string. One unit edit (insert/delete/substitute) changes the
    * character SET by at most one removal plus one addition, and any
    * projection onto bits can only shrink a symmetric difference, so
    * `bitCount(maskA ^ maskB) <= 2 * levenshtein(a, b)` — a sound
    * 3-instruction pre-filter in front of the bounded-distance kernel
    * (KernelsSpec pins the bound as a property). */
  def charMask(s: UTF8String): Long = {
    if (!s.isFullAscii) return 0L
    var m = 0L
    var i = 0
    val n = s.numBytes
    while (i < n) {
      m |= 1L << (s.getByte(i) & 63)
      i += 1
    }
    m
  }

  /** [[charMask]] over the UTF-16 code units of any string: bit `c & 63`
    * set for every code unit `c` present, 0 only for the empty string. The
    * String kernels ([[Kernels.levenshteinBounded]]) edit code units, so
    * the same argument gives `bitCount(maskA ^ maskB) <= 2 * levenshtein(a,
    * b)` for every pair; on an ASCII string it equals [[charMask]]
    * (KernelsSpec pins both). */
  def utf16CharMask(s: String): Long = {
    var m = 0L
    var i = 0
    while (i < s.length) {
      m |= 1L << (s.charAt(i) & 63)
      i += 1
    }
    m
  }

  /** 64-bit BIGRAM-set mask of an ASCII string: bit
    * `(b(i)*31 + b(i+1)) & 63` set for every adjacent byte pair; 0 for
    * non-ASCII strings and strings shorter than 2 (gate disabled). One
    * unit edit touches at most the two bigrams overlapping the edit
    * position: it removes <= 2 and adds <= 2, so
    * `bitCount(maskA ^ maskB) <= 4 * levenshtein(a, b)` (projection onto
    * bits only shrinks a symmetric difference — same argument as
    * [[charMask]], property-pinned in KernelsSpec). On running text the
    * bigram set separates unrelated values far better than the unigram
    * set (measured on the annf corpus: 98.3% of pairs pruned at k=3 vs
    * 81.7% unigram — OPTIMIZATION_r19.md). */
  def bigramMask(s: UTF8String): Long = {
    val n = s.numBytes
    if (n < 2 || !s.isFullAscii) return 0L
    var m = 0L
    var prev = s.getByte(0).toInt
    var i = 1
    while (i < n) {
      val c = s.getByte(i).toInt
      m |= 1L << ((prev * 31 + c) & 63)
      prev = c
      i += 1
    }
    m
  }

  /** Character n-grams of a string (duplicates kept; a string shorter than
    * n collapses to itself, so the gram set is never empty). */
  def charNgrams(s: UTF8String, n: Int): ArrayData = {
    val str = s.toString
    if (str.length < n)
      new org.apache.spark.sql.catalyst.util.GenericArrayData(Array[Any](UTF8String.fromString(str)))
    else {
      val cnt = str.length - n + 1
      val out = new Array[Any](cnt)
      var i = 0
      while (i < cnt) {
        out(i) = UTF8String.fromString(str.substring(i, i + n))
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
  }

  private val wsPattern = java.util.regex.Pattern.compile("\\s+")

  /** Count of tokens present in `words` (language-ID marker hits). */
  def markerHits(toks: ArrayData, words: java.util.HashSet[UTF8String]): Int = {
    var c = 0
    var i = 0
    val n = toks.numElements()
    while (i < n) {
      if (words.contains(toks.getUTF8String(i))) c += 1
      i += 1
    }
    c
  }

  /** DISTINCT word n-gram shingles of a (pre-lowered, pre-trimmed) text.
    * Token/edge semantics match `split(text, "\\s+")` with Spark's -1 limit
    * (leading/trailing regex-boundary empties kept), then
    * `when(size < n, concat_ws(" ", tokens)).otherwise(transform(...))` +
    * `array_distinct` — the HOF construction this kernel replaces (HOF
    * lambdas evaluate interpreted, element at a time; on document-length
    * text the shingling dominated the whole minhash stage). */
  def wordShingles(s: UTF8String, n: Int): ArrayData = {
    val toks = wsPattern.split(s.toString, -1)
    if (toks.length < n) {
      val sb = new java.lang.StringBuilder()
      var i = 0
      while (i < toks.length) {
        if (i > 0) sb.append(' ')
        sb.append(toks(i))
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        Array[Any](UTF8String.fromString(sb.toString)))
    } else {
      val seen = new java.util.LinkedHashSet[String]()
      val sb = new java.lang.StringBuilder()
      var i = 0
      while (i + n <= toks.length) {
        sb.setLength(0)
        var j = 0
        while (j < n) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        seen.add(sb.toString)
        i += 1
      }
      val out = new Array[Any](seen.size())
      val it = seen.iterator()
      var k = 0
      while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
  }

  /** Sorted DISTINCT xxhash64 set of the word n-gram shingles of a
    * (pre-lowered, pre-trimmed) text — the narrow-payload form of
    * [[wordShingles]]: 8 bytes per shingle through every downstream
    * shuffle/explode, and two sets compare in one merge pass
    * ([[sortedIntersectCount]]) instead of a per-(id, shingle) join. Two
    * distinct shingles hashing to the same 64-bit value merge (P ~ m²/2⁶⁵
    * per document) — the same accepted trade as the engine's xxhash64
    * value ids; a collision can only perturb one intersection count by 1. */
  def hashedShingleSet(s: UTF8String, n: Int): ArrayData = {
    val sh = wordShingles(s, n)
    val m = sh.numElements()
    val out = new Array[Long](m)
    var i = 0
    // seed 42 = Spark's own xxhash64() — keeps the set reproducible with
    // built-ins (spec'd) and consistent with the engine's value ids
    while (i < m) { out(i) = seededHash(sh.getUTF8String(i), 42L); i += 1 }
    java.util.Arrays.sort(out)
    var w = 0
    i = 0
    while (i < m) {
      if (w == 0 || out(w - 1) != out(i)) { out(w) = out(i); w += 1 }
      i += 1
    }
    ArrayData.toArrayData(if (w == m) out else java.util.Arrays.copyOf(out, w))
  }

  /** Size of the intersection of two SORTED distinct long arrays — one
    * merge pass per candidate pair (the shingle-jaccard verify kernel). */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  /** DISTINCT character n-grams minus a stop set, with a fallback to the
    * full distinct gram set when fewer than `minKept` survive (tiny or
    * asymmetric kept sets make MinHash recall collapse). One call per VALUE
    * — replaces an explode + anti-join + collect_list + join-back pipeline
    * (three shuffles per side) with a narrow codegen projection. */
  def keptGrams(s: UTF8String, n: Int, stops: java.util.HashSet[UTF8String],
                minKept: Int): ArrayData = {
    val all = new java.util.LinkedHashSet[UTF8String]()
    val str = s.toString
    if (str.length < n) all.add(UTF8String.fromString(str))
    else {
      var i = 0
      while (i <= str.length - n) {
        all.add(UTF8String.fromString(str.substring(i, i + n)))
        i += 1
      }
    }
    val kept = new java.util.ArrayList[AnyRef](all.size())
    val it = all.iterator()
    while (it.hasNext) {
      val g = it.next()
      if (!stops.contains(g)) kept.add(g)
    }
    val out =
      if (kept.size() < minKept) all.toArray(new Array[AnyRef](all.size()))
      else kept.toArray(new Array[AnyRef](kept.size()))
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** LSH band keys: one combined hash per band over `rows` consecutive
    * signature entries (band index mixed in so bands never collide). */
  def bandKeys(sig: ArrayData, bands: Int, rows: Int): ArrayData = {
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = 1125899906842597L ^ b
      var r = 0
      while (r < rows) {
        val v = sig.getLong(b * rows + r)
        h = h * 31 + v
        h ^= (h >>> 27)
        r += 1
      }
      out(b) = h
      b += 1
    }
    ArrayData.toArrayData(out)
  }

  // Scratch state for the per-pair jaccard gate: it runs once per LSH
  // candidate pair (tens of millions of times per join), so per-call
  // allocation, sorting, and even table-clearing measurably dominate. One
  // generation-stamped open-addressing table per executor thread: an entry
  // is valid only if it carries the current call's generation, so the table
  // is never cleared between calls (it is wiped once per 2^23 calls when
  // the generation counter wraps).
  private final class GateTable {
    val slots = new Array[Long](1024) // gen(23b) | flagB(1b) | flagA(1b) | key+1(33b)
    var gen = 0L
  }
  private val gateScratch = new ThreadLocal[GateTable] {
    override def initialValue(): GateTable = new GateTable
  }
  private final val GateMask = 1023
  private final val KeyBits = 33
  private final val FlagA = 1L << KeyBits
  private final val FlagB = 1L << (KeyBits + 1)

  /** Normalized Jaccard DISTANCE between the char n-gram SETS of two
    * strings. ASCII + n<=4 fast path packs grams into Ints and counts
    * distinct/intersection via a zero-clear hash table (no allocation, no
    * sort); generic path falls back to string-gram hash sets. */
  def ngramJaccardDist(a: UTF8String, b: UTF8String, n: Int): Double = {
    if (n <= 4 && a.numChars == a.numBytes && b.numChars == b.numBytes &&
        a.numBytes <= 400 && b.numBytes <= 400) {
      val t = gateScratch.get()
      t.gen += 1
      if (t.gen >= (1L << 23)) { java.util.Arrays.fill(t.slots, 0L); t.gen = 1 }
      val genTag = t.gen << (KeyBits + 2)
      val slots = t.slots
      var da = 0; var db = 0; var inter = 0

      @inline def grams(s: UTF8String, flag: Long, otherFlag: Long): Int = {
        var added = 0
        val len = s.numBytes
        val cnt = if (len < n) 1 else len - n + 1
        var i = 0
        while (i < cnt) {
          var packed = 0
          var j = 0
          val gn = if (len < n) len else n
          while (j < gn) { packed = (packed << 8) | (s.getByte(i + j) & 0xff); j += 1 }
          val key = (packed.toLong & 0xFFFFFFFFL) + 1L
          var h = (packed * 0x9E3779B1) >>> 22 // fibonacci hash to 10 bits
          var done = false
          while (!done) {
            val slot = slots(h & GateMask)
            if ((slot >>> (KeyBits + 2)) != t.gen || slot == 0L) {
              slots(h & GateMask) = genTag | flag | key
              added += 1
              done = true
            } else if ((slot & ((1L << KeyBits) - 1)) == key) {
              if ((slot & flag) == 0L) {
                slots(h & GateMask) = slot | flag
                added += 1
                if ((slot & otherFlag) != 0L) inter += 1
              }
              done = true
            } else h += 1
          }
          i += 1
        }
        added
      }

      da = grams(a, FlagA, FlagB)
      db = grams(b, FlagB, FlagA)
      val union = da + db - inter
      if (union == 0) 0.0 else 1.0 - inter.toDouble / union
    } else {
      val sa = new java.util.HashSet[String]()
      val sb = new java.util.HashSet[String]()
      val as = a.toString
      val bs = b.toString
      if (as.length < n) sa.add(as)
      else { var i = 0; while (i <= as.length - n) { sa.add(as.substring(i, i + n)); i += 1 } }
      if (bs.length < n) sb.add(bs)
      else { var i = 0; while (i <= bs.length - n) { sb.add(bs.substring(i, i + n)); i += 1 } }
      var inter = 0
      val it = sa.iterator()
      while (it.hasNext) if (sb.contains(it.next())) inter += 1
      val union = sa.size() + sb.size() - inter
      if (union == 0) 0.0 else 1.0 - inter.toDouble / union
    }
  }
}
