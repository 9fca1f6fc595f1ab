package graft.fuzzy

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, GraftSql}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions.{col, lower}
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Broadcast-side snapshot for the scoring sweep ([[FuzzySweep]]): one
  * block of the smaller side's distinct values hoisted out of UnsafeRow
  * form into flat primitive arrays, length-sorted.
  *
  * Motivation (guide §8.3 "fix the per-task work" / §4.5 "initialise
  * heavyweight state once per task"): a BroadcastNestedLoopJoin evaluates
  * its condition through per-pair UnsafeRow column reads of the broadcast
  * row, and that iteration, not the gate or the kernel, dominated the
  * per-pair cost of the exact path. Here the per-pair inner loop reads two
  * longs from flat arrays (cache-resident at 16 B/value: 150k values =
  * 2.4 MB vs ~15 MB of scattered UnsafeRows), and the length-sort turns
  * each kernel's own length reject ([[Kernels.lengthRejects]]) into one
  * test per length group instead of a per-pair test. The benchmark's
  * `sweep.s` and `kernel.*.ns_per_pair` (perfbench) measure both halves.
  *
  * Layout: values `[0, asciiCount)` are pure-ASCII lowercase, sorted by
  * byte length ascending, in groups of equal length — group `g` is
  * `[groupStarts(g), groupStarts(g + 1))`, every value of byte length
  * `groupLens(g)`; `[asciiCount, n)` are the non-ASCII tail (their masks
  * stay 0, which disables the gate). `lows` hold the Spark-side `lower()`
  * of each value, `origs` the original value emitted on a match.
  */
final class SweepTable(
    val n: Int,
    val asciiCount: Int,
    val groupStarts: Array[Int],
    val groupLens: Array[Int],
    val masks1: Array[Long],
    val masks2: Array[Long],
    val lows: Array[UTF8String],
    val origs: Array[UTF8String]) extends Serializable {

  /** `lows` as JVM strings for the String-based kernels, built once per
    * executor on first use (never serialized). */
  @transient lazy val lowStrings: Array[String] = lows.map(_.toString)
}

object SweepTable {

  /** Build from collected (original, lowered) string pairs. The lowered
    * strings MUST come from Spark's own `lower()` (collected alongside the
    * originals) so sweep scores are bit-identical to the expression path —
    * JVM `toLowerCase` differs from UTF8String.toLowerCase on some
    * non-ASCII code points. */
  def build(origs: Array[String], lows: Array[String]): SweepTable = {
    val n = origs.length
    val lowU = lows.map(UTF8String.fromString)
    val origU = origs.map(UTF8String.fromString)
    val ascii = lowU.map(_.isFullAscii)
    // ASCII region first, sorted by lowered byte length; non-ASCII tail last
    val order = Array.range(0, n).sortBy(i =>
      (if (ascii(i)) 0L else 1L) * Int.MaxValue.toLong + lowU(i).numBytes)
    val m1 = new Array[Long](n)
    val m2 = new Array[Long](n)
    val starts = ArrayBuffer[Int]()
    val lens = ArrayBuffer[Int]()
    var asciiCount = 0
    var i = 0
    while (i < n) {
      val v = lowU(order(i))
      if (ascii(order(i))) {
        if (lens.isEmpty || lens.last != v.numBytes) {
          starts += i
          lens += v.numBytes
        }
        asciiCount += 1
        m1(i) = VectorKernels.charMask(v)
        m2(i) = VectorKernels.bigramMask(v)
      }
      i += 1
    }
    starts += asciiCount
    new SweepTable(n, asciiCount, starts.toArray, lens.toArray, m1, m2,
      order.map(lowU(_)), order.map(origU(_)))
  }
}

/** Generator form of the exact scoring join for every [[FuzzyAlgorithm]]:
  * for one lowered left value, emit `(rightValue, similarity)` for every
  * value of one broadcast block within the threshold — the same surviving
  * pair set and scores as a cross join + [[BoundedFuzzyDistance]] +
  * `s <= maxDist` filter, pair by pair:
  *
  *  - a length group is skipped when [[Kernels.lengthRejects]] holds for
  *    it — the very test [[Kernels.distBounded]] rejects with first, so
  *    only pairs the kernel scores 2.0 are skipped;
  *  - levenshtein pairs pass the unigram/bigram mask gate
  *    (`bitCount(m1L^m1R) > 2k || bitCount(m2L^m2R) > 4k`, each side
  *    disabled on mask 0 — sound by KernelsSpec's mask bounds, which hold
  *    for levenshtein only), then [[Kernels.levBoundedAscii]];
  *  - other algorithms run [[Kernels.inBand]], the in-band half of the
  *    same kernel; non-ASCII values on either side run
  *    [[Kernels.distBounded]] itself over the whole block.
  *
  * The algorithm is dispatched once per left value and length group,
  * never per pair. Evaluated per LEFT row: the scan over the table is a
  * hand-written loop over primitive arrays, so the per-pair cost is array
  * loads + the kernel instead of a codegen'd BNLJ iteration with per-pair
  * UnsafeRow accessors. CodegenFallback is deliberate — GenerateExec
  * invokes `eval` once per left value, which is off the per-pair hot path.
  */
case class FuzzySweep(child: Expression, algoId: Int, maxDist: Double,
                      rightName: String, table: Broadcast[SweepTable])
    extends Expression with Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(child)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.catalogString}")

  override def elementSchema: StructType = StructType(Seq(
    StructField(rightName, StringType), StructField("s", DoubleType)))

  override def prettyName: String = "fuzzy_sweep"

  // Early exit on the long side: there the reject is `rLen - lLen >
  // budget(rLen)` with budget `c * maxDist * rLen` (c = 1 for the edit
  // distances, 3 for jaro, 5 for jaro-winkler; the floored budgets step
  // by at most 1 per length), so `rLen - budget(rLen)` is nondecreasing
  // while c * maxDist <= 1 — once a longer group is out of band, every
  // later one is too. Above that no long-side group is ever rejected.
  private val longSideMonotone =
    (algoId match { case 1 => 3.0; case 2 => 5.0; case _ => 1.0 }) * maxDist <= 1.0

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input).asInstanceOf[UTF8String]
    if (v == null) return Nil
    val t = table.value
    val out = new ArrayBuffer[InternalRow]()
    // clone: `v` may point into a reused row buffer, and the kernels read
    // it word-wise over a stable base object
    val lLow = v.clone()
    // a non-ASCII left value scans the whole block through the kernel;
    // an ASCII one sweeps the ASCII region, then the non-ASCII tail
    var j = 0
    if (lLow.isFullAscii) {
      sweepAscii(lLow, t, out)
      j = t.asciiCount
    }
    while (j < t.n) {
      emit(out, t, j, Kernels.distBounded(algoId, lLow, t.lows(j), maxDist))
      j += 1
    }
    out
  }

  private def emit(out: ArrayBuffer[InternalRow], t: SweepTable, j: Int,
                   nd: Double): Unit =
    if (nd <= maxDist) out += new GenericInternalRow(Array[Any](t.origs(j), 1.0 - nd))

  private def sweepAscii(lLow: UTF8String, t: SweepTable,
                         out: ArrayBuffer[InternalRow]): Unit = {
    val lLen = lLow.numBytes
    val lev = algoId == 0
    val lm1 = if (lev) VectorKernels.charMask(lLow) else 0L
    val lm2 = if (lev) VectorKernels.bigramMask(lLow) else 0L
    val kernel = if (lev) null else Kernels.inBand(algoId)
    val lStr = if (lev) null else lLow.toString
    val strs = if (lev) null else t.lowStrings
    var g = 0
    var done = false
    while (g < t.groupLens.length && !done) {
      val rLen = t.groupLens(g)
      val e = t.groupStarts(g + 1)
      var j = t.groupStarts(g)
      if (Kernels.lengthRejects(algoId, lLen, rLen, maxDist)) {
        if (rLen > lLen && longSideMonotone) done = true
      } else if (lev) {
        val mx = if (rLen > lLen) rLen else lLen
        val k = (maxDist * mx).toInt
        val g2 = 2L * k
        val g4 = 4L * k
        val mxd = mx.toDouble
        while (j < e) {
          val rm1 = t.masks1(j)
          val pruned =
            (lm1 != 0L && rm1 != 0L &&
              java.lang.Long.bitCount(lm1 ^ rm1) > g2) || {
              val rm2 = t.masks2(j)
              lm2 != 0L && rm2 != 0L &&
                java.lang.Long.bitCount(lm2 ^ rm2) > g4
            }
          if (!pruned) {
            val nd =
              if (mx == 0) 0.0
              else {
                val d = Kernels.levBoundedAscii(lLow, t.lows(j), k)
                if (d > k) 2.0 else d.toDouble / mxd
              }
            // emitted inline rather than through `emit`: the per-pair hot loop
            if (nd <= maxDist)
              out += new GenericInternalRow(Array[Any](t.origs(j), 1.0 - nd))
          }
          j += 1
        }
      } else {
        while (j < e) {
          emit(out, t, j, kernel.dist(lStr, strs(j), maxDist))
          j += 1
        }
      }
      g += 1
    }
  }
}

/** Entry point used by [[FuzzyMatcher]]'s exact path. */
object SweepScore {

  /** Scored value pairs `(lCol, rCol, s)` for the exact cross join of two
    * distinct-value frames under `algo`, computed by [[FuzzySweep]] over
    * length-sorted broadcast snapshots of the (smaller) right side. The
    * right side is collected once and cut into blocks of at most
    * `broadcastDistinctLimit` values; each block is broadcast and swept
    * by its own generator over the (materialized) left frame, and the
    * blocks' outputs are unioned — one shape at every size. */
  def sweepScoredPairs(leftVals: DataFrame, rightVals: DataFrame,
                       lCol: String, rCol: String, maxDist: Double,
                       algo: FuzzyAlgorithm = FuzzyAlgorithm.Levenshtein,
                       broadcastDistinctLimit: Long =
                         MatchOptions.default.broadcastDistinctLimit): DataFrame = {
    require(broadcastDistinctLimit > 0,
      s"MatchOptions.broadcastDistinctLimit must be positive on the exact path " +
        s"(it is the sweep block size), got $broadcastDistinctLimit")
    val spark = leftVals.sparkSession
    val rows = rightVals.select(col(rCol), lower(col(rCol))).collect()
    // AQE happily coalesces a small distinct-value frame to ONE partition,
    // which would serialize the whole O(n*m) sweep onto a single core:
    // spread the stream side across the cluster first.
    val parallelism = spark.sparkContext.defaultParallelism
    val lSpread =
      if (leftVals.queryExecution.toRdd.getNumPartitions < parallelism)
        leftVals.repartition(parallelism)
      else leftVals
    val lLow = GraftSql.expression(lower(col(lCol)))
    val block = math.min(broadcastDistinctLimit, Int.MaxValue.toLong).toInt
    val blocks = if (rows.isEmpty) Iterator(rows) else rows.grouped(block)
    blocks.map { b =>
      val bc = spark.sparkContext.broadcast(
        SweepTable.build(b.map(_.getString(0)), b.map(_.getString(1))))
      val gen: Column = GraftSql.column(FuzzySweep(lLow, algo.id, maxDist, rCol, bc))
      lSpread.select(col(lCol), gen.as(Seq(rCol, "s")))
    }.reduce(_ union _)
  }
}
