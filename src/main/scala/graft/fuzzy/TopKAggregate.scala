package graft.fuzzy

import java.nio.ByteBuffer

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet,
  BindReferences, Expression, GenericInternalRow, JoinedRow, NamedExpression, UnsafeProjection,
  UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Final, Partial,
  TypedImperativeAggregate}
import org.apache.spark.sql.catalyst.planning.PhysicalAggregation
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.{PartitioningPreservingUnaryExecNode, SparkPlan,
  SparkStrategy}
import org.apache.spark.sql.types._

/** Fixed-capacity binary heap of (score, id) pairs keeping the k BEST under
  * the total order (score desc, id asc) — the aggregation buffer of
  * [[BoundedTopK]]. The root is the WORST kept entry, so insertion beyond
  * capacity is an O(log k) evict-or-drop and memory is hard-capped at
  * `k * 16` bytes regardless of input volume.
  *
  * Backing arrays GROW LAZILY (start at 8, double up to k): memory per
  * group is proportional to the entries actually held, not to k. With a
  * large k (e.g. the LSH candidate top-N, k=500) an eager 8 KB per group
  * multiplied by millions of groups held concurrently in one partition's
  * map was a measured executor OOM at the sf1 tier —
  * most groups hold a handful of candidates and now pay tens of bytes.
  *
  * The (score, id) comparator is a strict total order over distinct ids, so
  * the surviving set — and the sorted order [[BoundedTopK.eval]] emits — is
  * independent of insertion and merge order: partial aggregation cannot
  * change the answer.
  */
final class TopKHeap(val k: Int) {
  var size: Int = 0
  var scores: Array[Double] = new Array[Double](math.min(k, 8))
  var ids: Array[Long] = new Array[Long](math.min(k, 8))

  private def grow(): Unit = {
    val cap = math.min(k, math.max(scores.length * 2, 8))
    scores = java.util.Arrays.copyOf(scores, cap)
    ids = java.util.Arrays.copyOf(ids, cap)
  }

  // "entry i is worse than entry j" under (score desc, id asc) ranking
  @inline private def worse(si: Double, ii: Long, sj: Double, ij: Long): Boolean =
    si < sj || (si == sj && ii > ij)

  @inline private def swap(i: Int, j: Int): Unit = {
    val s = scores(i); scores(i) = scores(j); scores(j) = s
    val d = ids(i); ids(i) = ids(j); ids(j) = d
  }

  def insert(s: Double, id: Long): Unit = {
    if (size < k) {
      if (size == scores.length) grow()
      var i = size
      scores(i) = s; ids(i) = id; size += 1
      var cont = true
      while (cont && i > 0) {
        val p = (i - 1) >> 1
        if (worse(scores(i), ids(i), scores(p), ids(p))) { swap(i, p); i = p }
        else cont = false
      }
    } else if (worse(scores(0), ids(0), s, id)) {
      scores(0) = s; ids(0) = id
      var i = 0
      var cont = true
      while (cont) {
        val l = 2 * i + 1
        val r = l + 1
        var w = i
        if (l < size && worse(scores(l), ids(l), scores(w), ids(w))) w = l
        if (r < size && worse(scores(r), ids(r), scores(w), ids(w))) w = r
        if (w == i) cont = false else { swap(i, w); i = w }
      }
    }
  }
}

/** Map-side-combining bounded top-k aggregate: per group, keep the k pairs
  * with the highest `score` (ties broken by lowest `id`) and emit them
  * best-first as `array<struct<id: bigint, score: double>>`.
  *
  * This is the scale-safe replacement for the
  * `Window.partitionBy(group).orderBy(score desc)` + `row_number <= k`
  * ranking idiom: a window must SHUFFLE AND SORT every scored candidate
  * (at sf10 ANN volumes, ~5e8 rows through one exchange — the measured 19×
  * super-linear row in SCALE.md), whereas a top-k runs partial aggregation
  * before the exchange, capping shuffle volume at
  * `groups × mapPartitions × k` fixed-size buffers and the reduce side at
  * an O(n log k) heap merge with no sort.
  *
  * This class is the single home of update, merge, serialize and eval, and
  * the `topk_pairs` SQL function. A grouped `topk_pairs` alone in its
  * aggregate is planned by [[TopKStrategy]]; anything else (a global
  * aggregate, `topk_pairs` beside other aggregates) runs as Spark's own
  * ObjectHashAggregate.
  */
case class BoundedTopK(
    score: Expression,
    id: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKHeap] with BinaryLike[Expression] {

  require(k >= 1, s"topk_pairs needs k >= 1 (got $k)")

  override def left: Expression = score
  override def right: Expression = id
  override def prettyName: String = "topk_pairs"
  override def nullable: Boolean = false

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("score", DoubleType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    (score.dataType, id.dataType) match {
      case (DoubleType, LongType) => TypeCheckResult.TypeCheckSuccess
      case (s, i) => TypeCheckResult.TypeCheckFailure(
        s"topk_pairs requires (double, bigint) children, got ($s, $i)")
    }

  override def createAggregationBuffer(): TopKHeap = new TopKHeap(k)

  override def update(buf: TopKHeap, input: InternalRow): TopKHeap = {
    val s = score.eval(input)
    val i = id.eval(input)
    // NaN is outside the heap's (score desc, id asc) total order — every
    // `worse` comparison on it is false, so one NaN at the root would block
    // all later inserts for the group. Null and NaN scores are both
    // un-rankable: drop the row, never the group.
    if (s != null && i != null && !s.asInstanceOf[Double].isNaN)
      buf.insert(s.asInstanceOf[Double], i.asInstanceOf[Long])
    buf
  }

  override def merge(buf: TopKHeap, other: TopKHeap): TopKHeap = {
    var i = 0
    while (i < other.size) { buf.insert(other.scores(i), other.ids(i)); i += 1 }
    buf
  }

  override def eval(buf: TopKHeap): Any = {
    val idx = Array.range(0, buf.size).sortWith { (a, b) =>
      buf.scores(a) > buf.scores(b) ||
        (buf.scores(a) == buf.scores(b) && buf.ids(a) < buf.ids(b))
    }
    new GenericArrayData(idx.map { j =>
      new GenericInternalRow(Array[Any](buf.ids(j), buf.scores(j))): Any
    })
  }

  override def serialize(buf: TopKHeap): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + buf.size * 16)
    bb.putInt(buf.k)
    bb.putInt(buf.size)
    var i = 0
    while (i < buf.size) { bb.putDouble(buf.scores(i)); bb.putLong(buf.ids(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKHeap = {
    val bb = ByteBuffer.wrap(bytes)
    val h = new TopKHeap(bb.getInt())
    val n = bb.getInt()
    var i = 0
    while (i < n) { val s = bb.getDouble(); val d = bb.getLong(); h.insert(s, d); i += 1 }
    h
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BoundedTopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BoundedTopK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(score = l, id = r)
}

/** Plans `groupBy(keys).agg(topk_pairs(score, id, k))` as the engine's own
  * two steps: [[TopKPartialExec]] keeps one heap per group key in each
  * partition, the exchange clusters the serialized heaps by key, and
  * [[TopKFinalExec]] merges them. Local top-k per partition, then a global
  * merge, needs no setting: Spark's ObjectHashAggregate would fall back to
  * a per-partition sort past 128 groups at the session default (measured
  * 56.0 s against 24.5 s on sf10 IVF search — SCALE.md). Memory is the
  * held entries: groups per partition × entries held × 16 B.
  *
  * Only an aggregate whose sole aggregate is one plain `topk_pairs`
  * (no DISTINCT, no FILTER) over a non-empty, non-streaming grouping is
  * taken; every other aggregate is left to Spark's own strategies.
  * `GraftExtensions` injects the strategy; [[setup]] adds it to a session
  * built without the extension. */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PhysicalAggregation(keys,
        Seq(agg @ AggregateExpression(_: BoundedTopK, _, false, None, _)), result, child)
        if keys.nonEmpty && !plan.isStreaming && agg.deterministic =>
      val buffer = AttributeReference("buf", BinaryType, nullable = false)()
      TopKFinalExec(keys.map(_.toAttribute), agg.copy(mode = Final), buffer, result,
        TopKPartialExec(keys, agg.copy(mode = Partial), buffer, planLater(child))) :: Nil
    case _ => Nil
  }

  /** Adds the strategy to `session`'s extra strategies, once. */
  def setup(session: SparkSession): Unit = {
    val methods = session.experimental
    methods.synchronized {
      if (!methods.extraStrategies.contains(TopKStrategy))
        methods.extraStrategies = TopKStrategy +: methods.extraStrategies
    }
  }

  /** The loop both steps run over a partition: fold `rows` into one heap
    * per key (`fold` gets the key's heap, null on its first row, and
    * returns it), then emit `project(key ++ [out(heap)])` once per key. */
  private[fuzzy] def perKey(rows: Iterator[InternalRow], keyOf: UnsafeProjection,
      fold: (TopKHeap, InternalRow) => TopKHeap, project: UnsafeProjection,
      out: TopKHeap => Any): Iterator[InternalRow] = {
    val heaps = new java.util.HashMap[UnsafeRow, TopKHeap]()
    rows.foreach { row =>
      val key = keyOf(row)
      val held = heaps.get(key)
      val heap = fold(held, row)
      if (held == null) heaps.put(key.copy(), heap)
    }
    val joined = new JoinedRow
    heaps.entrySet.iterator.asScala.map { e =>
      project(joined(e.getKey, new GenericInternalRow(Array[Any](out(e.getValue)))))
    }
  }
}

/** Partial step of [[TopKStrategy]]: per partition, one [[TopKHeap]] per
  * group key in a hash map, fed by [[BoundedTopK.update]]; emits
  * `(keys, serialized heap)` once per key. */
case class TopKPartialExec(keys: Seq[NamedExpression], topK: AggregateExpression,
    buffer: Attribute, child: SparkPlan) extends PartitioningPreservingUnaryExecNode {

  override def output: Seq[Attribute] = keys.map(_.toAttribute) :+ buffer
  override def outputExpressions: Seq[NamedExpression] = keys :+ buffer
  override def references: AttributeSet =
    AttributeSet(keys.flatMap(_.references) ++ topK.aggregateFunction.references)

  override protected def doExecute(): RDD[InternalRow] = {
    val fn = BindReferences.bindReference(topK.aggregateFunction, child.output)
      .asInstanceOf[BoundedTopK]
    val (keyExprs, in, outTypes) = (keys, child.output, output.map(_.dataType).toArray)
    child.execute().mapPartitions { rows =>
      TopKStrategy.perKey(rows, UnsafeProjection.create(keyExprs, in),
        (held, row) => fn.update(if (held == null) fn.createAggregationBuffer() else held, row),
        UnsafeProjection.create(outTypes), fn.serialize)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPartialExec =
    copy(child = newChild)
}

/** Final step of [[TopKStrategy]]: over input clustered by the group keys,
  * merges each key's serialized heaps with [[BoundedTopK.deserialize]] and
  * [[BoundedTopK.merge]], then projects the aggregate's result expressions
  * over [[BoundedTopK.eval]]. */
case class TopKFinalExec(keys: Seq[Attribute], topK: AggregateExpression, buffer: Attribute,
    result: Seq[NamedExpression], child: SparkPlan) extends PartitioningPreservingUnaryExecNode {

  override def output: Seq[Attribute] = result.map(_.toAttribute)
  override def outputExpressions: Seq[NamedExpression] = result
  override def references: AttributeSet = AttributeSet(keys :+ buffer)
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(keys) :: Nil

  override protected def doExecute(): RDD[InternalRow] = {
    val fn = topK.aggregateFunction.asInstanceOf[BoundedTopK]
    val in = child.output
    val bufAt = in.indexWhere(_.exprId == buffer.exprId)
    val (keyAttrs, resultExprs, resultIn) = (keys, result, keys :+ topK.resultAttribute)
    child.execute().mapPartitions { rows =>
      TopKStrategy.perKey(rows, UnsafeProjection.create(keyAttrs, in),
        (held, row) => {
          val heap = fn.deserialize(row.getBinary(bufAt))
          if (held == null) heap else fn.merge(held, heap)
        },
        UnsafeProjection.create(resultExprs, resultIn), fn.eval)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKFinalExec =
    copy(child = newChild)
}
