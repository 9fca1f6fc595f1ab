package graft.fuzzy

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSql
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Predicate, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd expressions for the vector / sketch hot paths.
  *
  * Spark's higher-order functions (`transform`, `aggregate`, `zip_with`)
  * evaluate their lambdas interpreted, one element at a time; at sf0.1 that
  * made cosine top-k and MinHash ~20-100x slower than these tight loops.
  * Each expression generates a single static call into [[VectorKernels]],
  * keeping the surrounding plan inside WholeStageCodegen.
  */
case class FloatVectorCosine(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "fvec_cosine"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.cosineF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.fuzzy.VectorKernels.cosineF($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class FloatVectorDot(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "fvec_dot"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.dotF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.fuzzy.VectorKernels.dotF($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Symmetric per-vector int8 quantization (see VectorKernels.quantizeI8) —
  * the 4x storage/shuffle compression step for corpus-scale ANN.
  * Input types are CHECKED at analysis (unlike the Column-API-only
  * expressions in this file) because these are SQL-registered: an untyped
  * array<double> literal would otherwise pass analysis and read garbage
  * through getFloat. */
case class QuantizeInt8(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"i8vec_quantize requires array<float>, got $other")
    }
  override def dataType: DataType = ArrayType(ByteType, containsNull = false)
  override def prettyName: String = "i8vec_quantize"
  override protected def nullSafeEval(v: Any): Any =
    VectorKernels.quantizeI8(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.fuzzy.VectorKernels.quantizeI8($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Exact integer dot product of two int8-quantized vectors. */
case class ByteVectorDot(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(ByteType, _), ArrayType(ByteType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"i8vec_dot requires two array<tinyint> inputs, got ($l, $r)")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "i8vec_dot"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.dotI8(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.fuzzy.VectorKernels.dotI8($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class MinHashSignature(child: Expression, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"
  override protected def nullSafeEval(v: Any): Any =
    VectorKernels.minhash(v.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.fuzzy.VectorKernels.minhash($c, $k)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Fraction of agreeing positions between two MinHash signatures (the
  * unbiased Jaccard estimator). */
case class SignatureAgreement(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "sig_agreement"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.sigAgreement(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.fuzzy.VectorKernels.sigAgreement($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class SimHash(child: Expression, useMd5: Boolean = false) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"
  override protected def nullSafeEval(v: Any): Any =
    VectorKernels.simhash(v.asInstanceOf[ArrayData], useMd5)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.fuzzy.VectorKernels.simhash($c, $useMd5)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** See [[VectorKernels.tfSlot]]: the HashingTF featurization as a codegen
  * scalar — the seam that lets an MLlib-fitted hashed model score a
  * 100 TB corpus MLlib-free ([[graft.pipeline.QualityModel]]). */
case class TfSlot(child: Expression, slots: Int) extends UnaryExpression {
  require(slots > 0, s"tf_slot needs slots > 0 (got $slots)")
  override def dataType: DataType = IntegerType
  override def prettyName: String = "tf_slot"
  override protected def nullSafeEval(v: Any): Any =
    VectorKernels.tfSlot(v.asInstanceOf[UTF8String], slots)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.fuzzy.VectorKernels.tfSlot($c, $slots)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class WinnowSketch(child: Expression, k: Int, window: Int,
                        useMd5: Boolean = false) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_sketch"
  override protected def nullSafeEval(v: Any): Any =
    VectorKernels.winnow(v.asInstanceOf[UTF8String], k, window, useMd5)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.fuzzy.VectorKernels.winnow($c, $k, $window, $useMd5)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Membership of the (band, bucket-key) pair in a driver-collected key set,
  * stored as a sorted long array probed by binary search — the
  * broadcast-hash-join of bucket gating without the join stage.
  * [[graft.util.CapMetrics.BucketGate]] negates it over the DROPPED keys
  * (keep = not blocked), so driver state is O(drops) at any corpus size.
  * Keys use [[graft.util.CapMetrics.bucketKey]] (`key * 131 + band`), which
  * keeps every band count in [1, 130] apart. */
case class BucketAllowed(band: Expression, bkey: Expression, sortedKeys: Array[Long])
    extends BinaryExpression with Predicate {
  override def left: Expression = band
  override def right: Expression = bkey
  override def prettyName: String = "bucket_allowed"
  override protected def nullSafeEval(b: Any, k: Any): Any =
    java.util.Arrays.binarySearch(sortedKeys,
      graft.util.CapMetrics.bucketKey(b.asInstanceOf[Int], k.asInstanceOf[Long])) >= 0
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sortedKeys", sortedKeys, "long[]")
    defineCodeGen(ctx, ev, (b, k) =>
      s"(java.util.Arrays.binarySearch($ref, graft.util.CapMetrics.bucketKey($b, (long)$k)) >= 0)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(band = l, bkey = r)
}

/** Indices of the nProbe nearest centroids (IVF coarse quantizer; the
  * centroid matrix is flattened row-major and pre-normalized). */
case class NearestCells(child: Expression, centroids: Array[Double], dim: Int, nProbe: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "nearest_cells"
  override protected def nullSafeEval(v: Any): Any =
    VectorKernels.nearestCells(v.asInstanceOf[ArrayData], centroids, dim, nProbe)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", centroids, "double[]")
    defineCodeGen(ctx, ev, c => s"graft.fuzzy.VectorKernels.nearestCells($c, $ref, $dim, $nProbe)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Morton z-value of two non-negative 31-bit keys (see
  * VectorKernels.interleave31) — the two-dimensional clustering sort key. */
case class ZValue(left: Expression, right: Expression) extends BinaryExpression {
  // typed LONG-only: an INT argument would ClassCastException in
  // interpreted eval while silently widening under codegen — reject it
  // at analysis instead
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (LongType, LongType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"z_value requires two BIGINT inputs, got ($l, $r)")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "z_value"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.interleave31(a.asInstanceOf[Long], b.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.fuzzy.VectorKernels.interleave31($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** JL random projection to `outDim` float components (planes flattened
  * row-major, `outDim x dim`). */
case class RandomProjectF(child: Expression, planes: Array[Double], dim: Int, outDim: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "random_project"
  override protected def nullSafeEval(v: Any): Any =
    VectorKernels.projectF(v.asInstanceOf[ArrayData], planes, dim, outDim)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("planes", planes, "double[]")
    defineCodeGen(ctx, ev, c => s"graft.fuzzy.VectorKernels.projectF($c, $ref, $dim, $outDim)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Exact-integer projection (quantized vector x integer planes) — the
  * oracle-reproducible variant of [[RandomProjectF]]. */
case class RandomProjectInt(child: Expression, planes: Array[Long], dim: Int, outDim: Int)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "random_project_int"
  override protected def nullSafeEval(v: Any): Any =
    VectorKernels.projectQ(v.asInstanceOf[ArrayData], planes, dim, outDim)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("planes", planes, "long[]")
    defineCodeGen(ctx, ev, c => s"graft.fuzzy.VectorKernels.projectQ($c, $ref, $dim, $outDim)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Sign-LSH bits with integer-quantized exact arithmetic (oracle-
  * reproducible variant of [[SignLshBits]]; see VectorKernels.signBitsInt). */
case class SignLshBitsInt(child: Expression, planes: Array[Long], dim: Int)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "sign_lsh_bits_int"
  override protected def nullSafeEval(v: Any): Any =
    VectorKernels.signBitsInt(v.asInstanceOf[ArrayData], planes, dim)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("planes", planes, "long[]")
    defineCodeGen(ctx, ev, c => s"graft.fuzzy.VectorKernels.signBitsInt($c, $ref, $dim)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Binary (1-bit-per-dimension) quantization to a packed long: bit j set
  * iff component j > 0 (see VectorKernels.signBits64). The 32x-compressed
  * signature for Hamming-distance candidate scans — no plane matrix, so
  * the signature (and any search built on it) is exactly reproducible by
  * a SQL oracle from the raw float signs. */
case class BinarySignBits(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "sign_bits64"
  override protected def nullSafeEval(v: Any): Any =
    VectorKernels.signBits64(v.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.fuzzy.VectorKernels.signBits64($c)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Sign-LSH bits against a fixed hyperplane matrix (flattened row-major). */
case class SignLshBits(child: Expression, planes: Array[Double], dim: Int)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "sign_lsh_bits"
  override protected def nullSafeEval(v: Any): Any =
    VectorKernels.signBits(v.asInstanceOf[ArrayData], planes, dim)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("planes", planes, "double[]")
    defineCodeGen(ctx, ev, c => s"graft.fuzzy.VectorKernels.signBits($c, $ref, $dim)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Count of tokens present in a fixed word set (language-ID marker hits) —
  * replaces `size(filter(toks, isInCollection))`, whose lambda evaluates
  * interpreted per token. The set ships as a literal reference object. */
case class MarkerHits(child: Expression, words: Array[String]) extends UnaryExpression {
  @transient private lazy val wordSet: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](math.max(words.length * 2, 16))
    words.foreach(w => s.add(UTF8String.fromString(w)))
    s
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "marker_hits"
  override protected def nullSafeEval(v: Any): Any =
    VectorKernels.markerHits(v.asInstanceOf[ArrayData], wordSet)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("wordSet", wordSet, "java.util.HashSet")
    defineCodeGen(ctx, ev, c => s"graft.fuzzy.VectorKernels.markerHits($c, $ref)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Distinct word n-gram shingles of a pre-lowered/trimmed text — the
  * codegen'd replacement for the `split` + `transform(sequence, slice,
  * concat_ws)` + `array_distinct` HOF pipeline (interpreted lambdas). */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_shingles"
  override protected def nullSafeEval(v: Any): Any =
    VectorKernels.wordShingles(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.fuzzy.VectorKernels.wordShingles($c, $n)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Sorted DISTINCT xxhash64 set of the word n-gram shingles — the
  * narrow-payload (8 B/shingle) form of [[WordShingles]]; pairs of sets
  * compare in one merge pass via [[SortedIntersectCount]]. */
case class HashedShingleSet(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hashed_shingle_set"
  override protected def nullSafeEval(v: Any): Any =
    VectorKernels.hashedShingleSet(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.fuzzy.VectorKernels.hashedShingleSet($c, $n)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Intersection size of two SORTED distinct long arrays (one merge pass —
  * the per-candidate-pair shingle-jaccard verify kernel). */
case class SortedIntersectCount(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "sorted_intersect_count"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.sortedIntersectCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.fuzzy.VectorKernels.sortedIntersectCount($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Probabilistic membership of a string in a BROADCAST Bloom filter — the
  * executor-memory-bounded form of [[KeptGrams]]'s literal sets.
  * A literal reference object reships with EVERY task binary; holding the
  * `Broadcast` handle instead ships 8 bytes per task and the bits land on
  * each executor exactly once (TorrentBroadcast), so the filter can be
  * tens of MB (10^8 items at 1% fpp ≈ 120 MB of bits) where a literal
  * array would bloat every task. One-sided error: may return true for an
  * absent item (callers exact-confirm downstream), NEVER false for a
  * present one. Bytes probed are the UTF-8 encoding — the same bytes
  * `DataFrameStatFunctions.bloomFilter` inserts for a string column. */
case class BloomMightContain(child: Expression,
    bloom: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter])
    extends UnaryExpression with Predicate {
  @transient private lazy val bf = bloom.value
  override def prettyName: String = "bloom_might_contain"
  override protected def nullSafeEval(s: Any): Any =
    bf.mightContainBinary(s.asInstanceOf[UTF8String].getBytes)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bcRef = ctx.addReferenceObj("bloomBc", bloom,
      "org.apache.spark.broadcast.Broadcast")
    // resolve the broadcast once per task, not once per row
    val bfVar = ctx.addMutableState("org.apache.spark.util.sketch.BloomFilter",
      "graftBloom",
      v => s"$v = (org.apache.spark.util.sketch.BloomFilter) $bcRef.value();")
    defineCodeGen(ctx, ev, c => s"$bfVar.mightContainBinary($c.getBytes())")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class CharNgrams(child: Expression, n: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "char_ngrams"
  override protected def nullSafeEval(v: Any): Any =
    VectorKernels.charNgrams(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.fuzzy.VectorKernels.charNgrams($c, $n)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Distinct char n-grams minus a driver-collected stop-gram set, falling
  * back to the full distinct gram set when fewer than `minKept` survive.
  * The stop set is bounded by avgGramsPerValue / stopFraction entries
  * regardless of corpus size (only grams present in more than that fraction
  * of ALL values qualify), so shipping it as a literal reference object is
  * the broadcast-hash-join of gram filtering — zero shuffles. */
case class KeptGrams(child: Expression, n: Int, stops: Array[String], minKept: Int)
    extends UnaryExpression {
  @transient private lazy val stopSet: java.util.HashSet[UTF8String] = {
    val s = new java.util.HashSet[UTF8String](math.max(stops.length * 2, 16))
    stops.foreach(g => s.add(UTF8String.fromString(g)))
    s
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "kept_grams"
  override protected def nullSafeEval(v: Any): Any =
    VectorKernels.keptGrams(v.asInstanceOf[UTF8String], n, stopSet, minKept)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("stopSet", stopSet, "java.util.HashSet")
    defineCodeGen(ctx, ev, c => s"graft.fuzzy.VectorKernels.keptGrams($c, $n, $ref, $minKept)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class LshBandKeys(child: Expression, bands: Int, rows: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "lsh_band_keys"
  override protected def nullSafeEval(v: Any): Any =
    VectorKernels.bandKeys(v.asInstanceOf[ArrayData], bands, rows)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.fuzzy.VectorKernels.bandKeys($c, $bands, $rows)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class NgramJaccardDistance(left: Expression, right: Expression, n: Int)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "ngram_jaccard_dist"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.ngramJaccardDist(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.fuzzy.VectorKernels.ngramJaccardDist($a, $b, $n)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Product-quantization encode (integer/oracle variant): m codeword
  * indices from a flattened md5-integer codebook — see
  * VectorKernels.pqEncodeInt. */
case class PqEncodeInt(child: Expression, codebook: Array[Long], m: Int,
                       ksub: Int, dim: Int) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "pq_encode_int"
  override protected def nullSafeEval(v: Any): Any =
    VectorKernels.pqEncodeInt(v.asInstanceOf[ArrayData], codebook, m, ksub, dim)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("codebook", codebook, "long[]")
    defineCodeGen(ctx, ev, c => s"graft.fuzzy.VectorKernels.pqEncodeInt($c, $ref, $m, $ksub, $dim)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** PQ query lookup table (integer/oracle variant): m*ksub exact integer
  * subvector-codeword dots, computed once per query row. */
case class PqLutInt(child: Expression, codebook: Array[Long], m: Int,
                    ksub: Int, dim: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "pq_lut_int"
  override protected def nullSafeEval(v: Any): Any =
    VectorKernels.pqLutInt(v.asInstanceOf[ArrayData], codebook, m, ksub, dim)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("codebook", codebook, "long[]")
    defineCodeGen(ctx, ev, c => s"graft.fuzzy.VectorKernels.pqLutInt($c, $ref, $m, $ksub, $dim)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** ADC score from (codes, lut): m array reads + adds per scored pair —
  * the inner loop of PQ search, integer variant. */
case class PqAdcInt(left: Expression, right: Expression, ksub: Int)
    extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "pq_adc_int"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.pqAdcInt(a.asInstanceOf[Array[Byte]], b.asInstanceOf[ArrayData], ksub)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.fuzzy.VectorKernels.pqAdcInt($a, $b, $ksub)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** PQ encode, float/production variant (k-means codebooks). */
case class PqEncodeF(child: Expression, codebook: Array[Double], m: Int,
                     ksub: Int, dim: Int) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "pq_encode"
  override protected def nullSafeEval(v: Any): Any =
    VectorKernels.pqEncodeF(v.asInstanceOf[ArrayData], codebook, m, ksub, dim)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("codebook", codebook, "double[]")
    defineCodeGen(ctx, ev, c => s"graft.fuzzy.VectorKernels.pqEncodeF($c, $ref, $m, $ksub, $dim)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** PQ query lookup table, float/production variant. */
case class PqLutF(child: Expression, codebook: Array[Double], m: Int,
                  ksub: Int, dim: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "pq_lut"
  override protected def nullSafeEval(v: Any): Any =
    VectorKernels.pqLutF(v.asInstanceOf[ArrayData], codebook, m, ksub, dim)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("codebook", codebook, "double[]")
    defineCodeGen(ctx, ev, c => s"graft.fuzzy.VectorKernels.pqLutF($c, $ref, $m, $ksub, $dim)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** ADC score, float/production variant. */
case class PqAdcF(left: Expression, right: Expression, ksub: Int)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.pqAdcF(a.asInstanceOf[Array[Byte]], b.asInstanceOf[ArrayData], ksub)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.fuzzy.VectorKernels.pqAdcF($a, $b, $ksub)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Greedy BPE tokenization of a word against a fixed merge table
  * (see VectorKernels.bpeTokens). The merge table ships as one reference
  * object per plan — the "load the tokenizer once" step — and the apply
  * runs inside codegen like every other kernel here. */
case class BpeTokens(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {
  private val ranks: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    merges.zipWithIndex.foreach { case ((a, b), i) =>
      m.putIfAbsent(a + " " + b, Integer.valueOf(i))
    }
    m
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_tokens"
  override protected def nullSafeEval(v: Any): Any =
    VectorKernels.bpeTokens(v.asInstanceOf[UTF8String], ranks)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ranks", ranks, "java.util.HashMap")
    defineCodeGen(ctx, ev, c => s"graft.fuzzy.VectorKernels.bpeTokens($c, $ref)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Content-defined chunk texts from a token array (see
  * VectorKernels.cdcChunks). */
case class CdcChunks(child: Expression, avg: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "cdc_chunks"
  override protected def nullSafeEval(v: Any): Any =
    VectorKernels.cdcChunks(v.asInstanceOf[ArrayData], avg)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.fuzzy.VectorKernels.cdcChunks($c, $avg)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Column-level API for the native vector/sketch expressions. */
object vectorFunctions {
  private def c(e: Expression): Column = GraftSql.column(e)
  private def x(col: Column): Expression = GraftSql.expression(col)

  def fvec_cosine(a: Column, b: Column): Column = c(FloatVectorCosine(x(a), x(b)))
  def fvec_dot(a: Column, b: Column): Column = c(FloatVectorDot(x(a), x(b)))
  def i8vec_quantize(v: Column): Column = c(QuantizeInt8(x(v)))
  def i8vec_dot(a: Column, b: Column): Column = c(ByteVectorDot(x(a), x(b)))
  def z_value(a: Column, b: Column): Column = c(ZValue(x(a), x(b)))
  def minhash_signature(shingles: Column, k: Int): Column = c(MinHashSignature(x(shingles), k))
  def sig_agreement(a: Column, b: Column): Column = c(SignatureAgreement(x(a), x(b)))
  def simhash64(tokens: Column, useMd5: Boolean = false): Column = c(SimHash(x(tokens), useMd5))
  def winnow_sketch(text: Column, k: Int = 5, window: Int = 4,
                    useMd5: Boolean = false): Column =
    c(WinnowSketch(x(text), k, window, useMd5))
  def random_project(vec: Column, planes: Array[Double], dim: Int, outDim: Int): Column =
    c(RandomProjectF(x(vec), planes, dim, outDim))
  def random_project_int(vec: Column, planes: Array[Long], dim: Int, outDim: Int): Column =
    c(RandomProjectInt(x(vec), planes, dim, outDim))
  def sign_bits64(vec: Column): Column = c(BinarySignBits(x(vec)))
  def sign_lsh_bits(vec: Column, planes: Array[Double], dim: Int): Column =
    c(SignLshBits(x(vec), planes, dim))
  def sign_lsh_bits_int(vec: Column, planes: Array[Long], dim: Int): Column =
    c(SignLshBitsInt(x(vec), planes, dim))
  def char_ngrams(text: Column, n: Int): Column = c(CharNgrams(x(text), n))
  def word_shingles(text: Column, n: Int): Column = c(WordShingles(x(text), n))
  def hashed_shingle_set(text: Column, n: Int): Column = c(HashedShingleSet(x(text), n))
  def sorted_intersect_count(a: Column, b: Column): Column =
    c(SortedIntersectCount(x(a), x(b)))
  def bloom_might_contain(s: Column,
      bloom: org.apache.spark.broadcast.Broadcast[org.apache.spark.util.sketch.BloomFilter]): Column =
    c(BloomMightContain(x(s), bloom))
  def marker_hits(tokens: Column, words: Array[String]): Column =
    c(MarkerHits(x(tokens), words))
  def kept_grams(text: Column, n: Int, stops: Array[String], minKept: Int): Column =
    c(KeptGrams(x(text), n, stops, minKept))
  def bucket_allowed(band: Column, bkey: Column, sortedKeys: Array[Long]): Column =
    c(BucketAllowed(x(band), x(bkey), sortedKeys))
  def nearest_cells(vec: Column, centroids: Array[Double], dim: Int, nProbe: Int): Column =
    c(NearestCells(x(vec), centroids, dim, nProbe))
  def topk_pairs(score: Column, id: Column, k: Int): Column = {
    // a session built without GraftExtensions gets the engine's top-K plan
    // on first use
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .foreach(TopKStrategy.setup)
    c(BoundedTopK(x(score), x(id), k).toAggregateExpression())
  }
  def tf_slot(term: Column, slots: Int): Column = c(TfSlot(x(term), slots))
  def bpe_tokens(word: Column, merges: Seq[(String, String)]): Column =
    c(BpeTokens(x(word), merges))
  def cdc_chunks(tokens: Column, avg: Int): Column = c(CdcChunks(x(tokens), avg))
  def pq_encode_int(vec: Column, codebook: Array[Long], m: Int, ksub: Int, dim: Int): Column =
    c(PqEncodeInt(x(vec), codebook, m, ksub, dim))
  def pq_lut_int(vec: Column, codebook: Array[Long], m: Int, ksub: Int, dim: Int): Column =
    c(PqLutInt(x(vec), codebook, m, ksub, dim))
  def pq_adc_int(codes: Column, lut: Column, ksub: Int): Column =
    c(PqAdcInt(x(codes), x(lut), ksub))
  def pq_encode(vec: Column, codebook: Array[Double], m: Int, ksub: Int, dim: Int): Column =
    c(PqEncodeF(x(vec), codebook, m, ksub, dim))
  def pq_lut(vec: Column, codebook: Array[Double], m: Int, ksub: Int, dim: Int): Column =
    c(PqLutF(x(vec), codebook, m, ksub, dim))
  def pq_adc(codes: Column, lut: Column, ksub: Int): Column =
    c(PqAdcF(x(codes), x(lut), ksub))

  /** `(name, builder)` pairs for the SQL surface — consumed by
    * [[registerAll]] and by [[graft.GraftExtensions]]. Literal-int
    * arguments are extracted at resolution time. */
  private[graft] def sqlBuilders: Seq[(String, Seq[Expression] => Expression)] = {
    def intLit(e: Expression, what: String): Int = e match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(s"$what must be an integer literal, got $other")
    }
    Seq[(String, Seq[Expression] => Expression)](
      "fvec_cosine" -> (es => FloatVectorCosine(es(0), es(1))),
      "fvec_dot" -> (es => FloatVectorDot(es(0), es(1))),
      "i8vec_quantize" -> (es => QuantizeInt8(es(0))),
      "i8vec_dot" -> (es => ByteVectorDot(es(0), es(1))),
      "z_value" -> (es => ZValue(es(0), es(1))),
      "sig_agreement" -> (es => SignatureAgreement(es(0), es(1))),
      "minhash_signature" -> (es => MinHashSignature(es(0), intLit(es(1), "k"))),
      "simhash64" -> (es => SimHash(es(0))),
      "sign_bits64" -> (es => BinarySignBits(es(0))),
      "winnow_sketch" ->
        (es => WinnowSketch(es(0), intLit(es(1), "k"), intLit(es(2), "window"))),
      "char_ngrams" -> (es => CharNgrams(es(0), intLit(es(1), "n"))),
      "word_shingles" -> (es => WordShingles(es(0), intLit(es(1), "n"))),
      "hashed_shingle_set" -> (es => HashedShingleSet(es(0), intLit(es(1), "n"))),
      "sorted_intersect_count" -> (es => SortedIntersectCount(es(0), es(1))),
      "ngram_jaccard_dist" ->
        (es => NgramJaccardDistance(es(0), es(1), intLit(es(2), "n"))),
      "cdc_chunks" -> (es => CdcChunks(es(0), intLit(es(1), "avg"))),
      // aggregate: the analyzer wraps a raw AggregateFunction builder the
      // same way it does Spark's own sum/min builders
      "topk_pairs" -> (es => BoundedTopK(es(0), es(1), intLit(es(2), "k"))),
      "tf_slot" -> (es => TfSlot(es(0), intLit(es(1), "slots"))),
      // merges as 'a b' rank-ordered string literals after the word:
      // bpe_tokens(word, 't h', 'th e', ...)
      "bpe_tokens" -> (es => BpeTokens(es(0), es.drop(1).map {
        case org.apache.spark.sql.catalyst.expressions.Literal(s: UTF8String, StringType) =>
          s.toString.split(" ", 2) match {
            case Array(a, b) => (a, b)
            case _ => throw new IllegalArgumentException(
              s"merge must be 'left right', got '$s'")
          }
        case other => throw new IllegalArgumentException(
          s"merges must be string literals, got $other")
      })))
  }

  /** Register the sketch/vector expressions for `spark.sql(...)` users
    * (counterpart of `graft.fuzzy.functions.registerAll` for the similarity
    * kernels). Also adds the engine's top-K plan, as the extension does. */
  def registerAll(spark: org.apache.spark.sql.SparkSession): Unit = {
    TopKStrategy.setup(spark)
    sqlBuilders.foreach { case (name, builder) =>
      GraftSql.registerFunction(spark, name, builder)
    }
  }
  def lsh_band_keys(sig: Column, bands: Int, rows: Int): Column =
    c(LshBandKeys(x(sig), bands, rows))
  def ngram_jaccard_dist(a: Column, b: Column, n: Int): Column =
    c(NgramJaccardDistance(x(a), x(b), n))
}
