package graft.fuzzy

import org.scalatest.funsuite.AnyFunSuite

/** Golden float values are taken from the reference's own test suite
  * (/root/reference/tests/test_pl_fuzzy_frame_match.py:360-362 and
  * tests/test_process.py:97) — similarity = 1 - normalized distance.
  */
class KernelsSpec extends AnyFunSuite {

  /** Deterministic random word pairs (seeded; no network dep on a
    * scalatest-scalacheck bridge). */
  private def forAllWordPairs(n: Int)(check: (String, String) => Unit): Unit = {
    val rnd = new scala.util.Random(42)
    def word(): String = {
      val len = rnd.nextInt(13)
      (0 until len).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
    }
    (0 until n).foreach { _ => check(word(), word()) }
  }

  private val eps = 1e-12

  private def levSim(a: String, b: String) = 1.0 - Kernels.levenshteinDist(a, b)
  private def jwSim(a: String, b: String) = Kernels.jaroWinklerSim(a, b)

  test("levenshtein golden values (reference e2e expectations)") {
    assert(math.abs(levSim("tim cook", "timothy cook") - 0.6666666666666667) < eps)
    assert(math.abs(levSim("satya ndella", "satya nadella") - 0.9230769230769231) < eps)
    assert(math.abs(levSim("andy jessy", "andy jassy") - 0.9) < eps)
    assert(math.abs(levSim("sundar pichai", "sundar pichai") - 1.0) < eps)
    assert(math.abs(levSim("mark zukerberg", "mark zuckerberg") - 0.9333333333333333) < eps)
    // tests/test_process.py:97 — "john" vs "johny"
    assert(math.abs(levSim("john", "johny") - 0.8) < eps)
  }

  test("jaro_winkler golden values (reference e2e expectations)") {
    assert(math.abs(jwSim("apple inc.", "apple incorporated") - 0.88) < eps)
    assert(math.abs(jwSim("microsft", "microsoft corp") - 0.9142857142857143) < eps)
    assert(math.abs(jwSim("amazon", "amazon.com inc") - 0.8857142857142858) < eps)
    assert(math.abs(jwSim("gogle", "google llc") - 0.8666666666666667) < eps)
    assert(math.abs(jwSim("facebok", "facebook inc") - 0.9166666666666667) < eps)
  }

  test("damerau handles transpositions (unrestricted variant)") {
    assert(Kernels.damerau("ab", "ba") == 1)
    assert(Kernels.damerau("abcdef", "abcdef") == 0)
    // unrestricted: "ca" -> "abc" is 2 (delete a after transposing? no —
    // classic unrestricted-DL example: OSA gives 3, true DL gives 2)
    assert(Kernels.damerau("ca", "abc") == 2)
    assert(Kernels.levenshtein("kitten", "sitting") == 3)
    assert(Kernels.damerau("kitten", "sitting") == 3)
  }

  test("hamming with padding") {
    assert(Kernels.hamming("karolin", "kathrin") == 3)
    assert(Kernels.hamming("abc", "abcd") == 1)
    assert(math.abs(Kernels.hammingDist("abc", "abcd") - 0.25) < eps)
  }

  test("damerauBounded == damerau under the cutoff (property)") {
    forAllWordPairs(3000) { (a: String, b: String) =>
      val full = Kernels.damerau(a, b)
      for (k <- 0 to math.max(a.length, b.length) + 1) {
        val bounded = Kernels.damerauBounded(a, b, k)
        if (full <= k) assert(bounded == full, s"'$a' vs '$b' k=$k: $bounded != $full")
        else assert(bounded == k + 1, s"'$a' vs '$b' k=$k: expected cutoff ${k + 1}, got $bounded")
      }
    }
  }

  test("indelBounded == indel under the cutoff (property)") {
    forAllWordPairs(3000) { (a: String, b: String) =>
      val full = a.length + b.length - 2 * Kernels.lcsLength(a, b)
      for (k <- 0 to a.length + b.length + 1) {
        val bounded = Kernels.indelBounded(a, b, k)
        if (full <= k) assert(bounded == full, s"'$a' vs '$b' k=$k: $bounded != $full")
        else assert(bounded == k + 1, s"'$a' vs '$b' k=$k: expected cutoff ${k + 1}, got $bounded")
      }
    }
  }

  test("distBounded (damerau/indel) matches dist under the threshold filter (property)") {
    import org.apache.spark.unsafe.types.UTF8String
    forAllWordPairs(2000) { (a: String, b: String) =>
      val ua = UTF8String.fromString(a)
      val ub = UTF8String.fromString(b)
      for (id <- Seq(4, 5); maxDist <- Seq(0.1, 0.3, 0.5)) {
        val exact = Kernels.dist(id, ua, ub)
        val bounded = Kernels.distBounded(id, ua, ub, maxDist)
        if (exact <= maxDist)
          assert(math.abs(bounded - exact) < eps, s"id=$id '$a' vs '$b' @$maxDist")
        else
          assert(bounded > maxDist, s"id=$id '$a' vs '$b' @$maxDist: $bounded should exceed")
      }
    }
  }

  test("minhash signature agreement estimates jaccard (property, fixed seed)") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val rnd = new scala.util.Random(7)
    val universe = (0 until 400).map(i => s"tok$i")
    var maxErr = 0.0
    (0 until 50).foreach { _ =>
      val a = universe.filter(_ => rnd.nextDouble() < 0.4).toSet
      // b = a with ~30% perturbation
      val b = a.filter(_ => rnd.nextDouble() > 0.3) ++
        universe.filter(_ => rnd.nextDouble() < 0.1)
      val trueJ = (a & b).size.toDouble / (a | b).size
      def sig(s: Set[String]) = VectorKernels.minhash(
        ArrayData.toArrayData(s.toArray.map(UTF8String.fromString): Array[Any]), 256)
      val est = VectorKernels.sigAgreement(sig(a), sig(b))
      maxErr = math.max(maxErr, math.abs(est - trueJ))
    }
    // k=256 lanes: se ~ sqrt(j(1-j)/k) <= 0.031; 5 sigma plus margin
    assert(maxErr < 0.17, s"minhash estimator max error $maxErr over 50 set pairs")
  }

  test("indel = len1 + len2 - 2*LCS, normalized by sum") {
    assert(Kernels.lcsLength("abcde", "ace") == 3)
    // dist = (5 + 3 - 6) / 8 = 0.25
    assert(math.abs(Kernels.indelDist("abcde", "ace") - 0.25) < eps)
    assert(Kernels.indelDist("abc", "abc") == 0.0)
  }

  test("empty-string conventions") {
    assert(Kernels.levenshteinDist("", "") == 0.0)
    assert(Kernels.levenshteinDist("", "abc") == 1.0)
    assert(Kernels.jaroSim("", "") == 1.0)
    assert(Kernels.jaroSim("", "a") == 0.0)
    assert(Kernels.hammingDist("", "") == 0.0)
    assert(Kernels.indelDist("", "") == 0.0)
    assert(Kernels.damerauDist("", "abc") == 1.0)
  }

  test("property: all distances bounded in [0,1], identity = 0, symmetric") {
    forAllWordPairs(2000) { (a: String, b: String) =>
      for (algo <- FuzzyAlgorithm.all) {
        val d = Kernels.dist(algo.id,
          org.apache.spark.unsafe.types.UTF8String.fromString(a),
          org.apache.spark.unsafe.types.UTF8String.fromString(b))
        val dRev = Kernels.dist(algo.id,
          org.apache.spark.unsafe.types.UTF8String.fromString(b),
          org.apache.spark.unsafe.types.UTF8String.fromString(a))
        assert(d >= 0.0 && d <= 1.0, s"${algo.name}($a,$b)=$d out of range")
        assert(math.abs(d - dRev) < eps, s"${algo.name} not symmetric on ($a,$b)")
      }
      val same = Kernels.dist(0,
        org.apache.spark.unsafe.types.UTF8String.fromString(a),
        org.apache.spark.unsafe.types.UTF8String.fromString(a))
      assert(same == 0.0)
    }
  }

  test("property: bounded distance equals full distance under the threshold") {
    forAllWordPairs(3000) { (a: String, b: String) =>
      for (k <- Seq(0, 1, 2, 5)) {
        val full = Kernels.levenshtein(a, b)
        val bounded = Kernels.levenshteinBounded(a, b, k)
        if (full <= k) assert(bounded == full, s"bounded($a,$b,$k)=$bounded, full=$full")
        else assert(bounded == k + 1, s"bounded($a,$b,$k)=$bounded should be ${k + 1} (full=$full)")
      }
      for (algo <- FuzzyAlgorithm.all; maxDist <- Seq(0.1, 0.3, 0.8)) {
        val ua = org.apache.spark.unsafe.types.UTF8String.fromString(a)
        val ub = org.apache.spark.unsafe.types.UTF8String.fromString(b)
        val full = Kernels.dist(algo.id, ua, ub)
        val bounded = Kernels.distBounded(algo.id, ua, ub, maxDist)
        // the length band the sweep skips by must never drop a match
        if (Kernels.lengthRejects(algo.id, a.length, b.length, maxDist))
          assert(full > maxDist, s"${algo.name}($a,$b) length-rejected at $maxDist, full=$full")
        if (full <= maxDist) assert(math.abs(bounded - full) < eps,
          s"${algo.name}($a,$b) bounded=$bounded full=$full maxDist=$maxDist")
        else assert(bounded > maxDist,
          s"${algo.name}($a,$b) bounded=$bounded should exceed $maxDist (full=$full)")
      }
    }
  }

  test("levBoundedAscii (diagonal DP) == levenshtein for every cutoff (property)") {
    import org.apache.spark.unsafe.types.UTF8String
    val rnd = new scala.util.Random(19)
    def word(maxLen: Int, alpha: Int): String = {
      val len = rnd.nextInt(maxLen)
      (0 until len).map(_ => ('a' + rnd.nextInt(alpha)).toChar).mkString
    }
    (0 until 4000).foreach { _ =>
      // two regimes: short words over a tiny alphabet (dense edit space,
      // stresses every transition) and long diverse words (stresses the
      // window restriction + slides — the bench corpus shape)
      val (a, b) =
        if (rnd.nextBoolean()) (word(8, 3), word(8, 3))
        else (word(40, 26), word(40, 26))
      val full = Kernels.levenshtein(a, b)
      val ua = UTF8String.fromString(a)
      val ub = UTF8String.fromString(b)
      for (k <- 0 to math.max(a.length, b.length) + 1) {
        val got = Kernels.levBoundedAscii(ua, ub, k)
        if (full <= k) assert(got == full, s"'$a' vs '$b' k=$k: $got != $full")
        else assert(got == k + 1, s"'$a' vs '$b' k=$k: expected ${k + 1}, got $got")
      }
    }
    // typo-shaped pairs (single deletion at a random position) — exactly
    // the annf bench fixture recipe; distance must come back as 1
    (0 until 500).foreach { _ =>
      val a = word(30, 26) + "xy"
      val pos = rnd.nextInt(a.length)
      val b = a.substring(0, pos) + a.substring(pos + 1)
      for (k <- 1 to 4)
        assert(Kernels.levBoundedAscii(
          UTF8String.fromString(a), UTF8String.fromString(b), k) == 1,
          s"deletion pair '$a' vs '$b' k=$k")
    }
  }

  test("levBoundedAscii exhaustive: every {a,b}-string pair to length 5, every k") {
    import org.apache.spark.unsafe.types.UTF8String
    val alpha = "ab"
    val all: Seq[String] = (0 to 5).flatMap { n =>
      (0 until math.pow(alpha.length, n).toInt).map { x =>
        var v = x
        (0 until n).map { _ =>
          val c = alpha(v % alpha.length); v /= alpha.length; c
        }.mkString
      }
    }
    for (a <- all; b <- all) {
      val full = Kernels.levenshtein(a, b)
      val ua = UTF8String.fromString(a)
      val ub = UTF8String.fromString(b)
      for (k <- 0 to 7) {
        val got = Kernels.levBoundedAscii(ua, ub, k)
        val want = if (full <= k) full else k + 1
        assert(got == want, s"'$a' vs '$b' k=$k: got $got want $want")
      }
    }
  }

  test("charMask bound: bitCount(maskA ^ maskB) <= 2 * levenshtein (property)") {
    import org.apache.spark.unsafe.types.UTF8String
    val rnd = new scala.util.Random(23)
    // wide alphabet so masks actually differ; digits/punct/space included
    val chars = "abcdefghijklmnopqrstuvwxyz0123456789 #.-!"
    def w(): String = (0 until rnd.nextInt(35))
      .map(_ => chars(rnd.nextInt(chars.length))).mkString
    (0 until 4000).foreach { _ =>
      val (a, b) = (w(), w())
      val ma = VectorKernels.charMask(UTF8String.fromString(a))
      val mb = VectorKernels.charMask(UTF8String.fromString(b))
      val lev = Kernels.levenshtein(a, b)
      assert(java.lang.Long.bitCount(ma ^ mb) <= 2 * lev,
        s"mask bound violated on '$a' vs '$b': ${java.lang.Long.bitCount(ma ^ mb)} > 2*$lev")
    }
    // non-ASCII disables the gate (mask 0)
    assert(VectorKernels.charMask(UTF8String.fromString("café")) == 0L)
    assert(VectorKernels.charMask(UTF8String.fromString("")) == 0L)
  }

  test("bigramMask bound: bitCount(maskA ^ maskB) <= 4 * levenshtein (property)") {
    import org.apache.spark.unsafe.types.UTF8String
    val rnd = new scala.util.Random(29)
    val chars = "abcdefghijklmnopqrstuvwxyz0123456789 #.-!"
    def w(maxLen: Int): String = (0 until rnd.nextInt(maxLen))
      .map(_ => chars(rnd.nextInt(chars.length))).mkString
    (0 until 4000).foreach { _ =>
      val (a, b) = (w(35), w(35))
      val ma = VectorKernels.bigramMask(UTF8String.fromString(a))
      val mb = VectorKernels.bigramMask(UTF8String.fromString(b))
      val lev = Kernels.levenshtein(a, b)
      // strings shorter than 2 carry mask 0 (gate off); the bound must
      // still hold whenever both masks are live
      if (ma != 0L && mb != 0L)
        assert(java.lang.Long.bitCount(ma ^ mb) <= 4 * lev,
          s"bigram bound violated on '$a' vs '$b': ${java.lang.Long.bitCount(ma ^ mb)} > 4*$lev")
    }
    // typo-shaped pairs (one deletion) stay comfortably inside the k=3 gate
    (0 until 1000).foreach { _ =>
      val a = w(30) + "xy"
      val p = rnd.nextInt(a.length)
      val b = a.substring(0, p) + a.substring(p + 1)
      val ma = VectorKernels.bigramMask(UTF8String.fromString(a))
      val mb = VectorKernels.bigramMask(UTF8String.fromString(b))
      if (ma != 0L && mb != 0L)
        assert(java.lang.Long.bitCount(ma ^ mb) <= 4,
          s"deletion pair '$a' vs '$b' bigram xor too wide")
    }
    assert(VectorKernels.bigramMask(UTF8String.fromString("café")) == 0L)
    assert(VectorKernels.bigramMask(UTF8String.fromString("x")) == 0L)
    assert(VectorKernels.bigramMask(UTF8String.fromString("")) == 0L)
  }

  test("non-ASCII strings take the generic path and stay correct") {
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    // "café" vs "cafe": one substitution over 4 chars
    assert(math.abs(Kernels.distBounded(0, u("café"), u("cafe"), 0.5) - 0.25) < eps)
    assert(math.abs(Kernels.dist(0, u("café"), u("cafe")) - 0.25) < eps)
    // mixed: ASCII vs non-ASCII
    assert(math.abs(Kernels.distBounded(0, u("über"), u("uber"), 0.5) - 0.25) < eps)
    // bounded prune still correct on multibyte
    assert(Kernels.distBounded(0, u("日本語のテキスト"), u("x"), 0.1) > 0.1)
    assert(Kernels.dist(0, u("日本語"), u("日本語")) == 0.0)
    // jaccard kernel generic path (multibyte chars)
    val d = VectorKernels.ngramJaccardDist(u("日本語のテキスト"), u("日本語のテキスト"), 3)
    assert(d == 0.0)
  }

  test("property: damerau <= levenshtein <= indel distance counts") {
    forAllWordPairs(2000) { (a: String, b: String) =>
      val lev = Kernels.levenshtein(a, b)
      val dam = Kernels.damerau(a, b)
      val indel = a.length + b.length - 2 * Kernels.lcsLength(a, b)
      assert(dam <= lev, s"damerau > levenshtein on ($a,$b)")
      assert(lev <= indel, s"levenshtein > indel on ($a,$b)")
    }
  }
}
