package graft.fuzzy

import scala.util.Random

import graft.SparkSpec
import graft.pipeline.AnnSearch
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[BoundedTopK]] / [[TopKHeap]]: the map-side-combining bounded top-k
  * aggregate that replaced the `Window.partitionBy(query_id)` ranking in
  * every [[AnnSearch]] path (the one measured super-linear plan at sf10 —
  * SCALE.md). Checks heap semantics against a sort oracle, merge-order
  * independence (partial aggregation must not change the answer), serde,
  * exact equivalence with the window formulation on real data, the engine
  * plan ([[TopKStrategy]]: partial and final steps, no Window, no sort)
  * against a brute force over the collected rows at the session's default
  * settings, and
  * the shapes left to Spark's own aggregate.
  */
class TopKAggregateSpec extends AnyFunSuite with SparkSpec {

  private def refTopK(pairs: Seq[(Double, Long)], k: Int): Seq[(Double, Long)] =
    pairs.sortBy { case (s, id) => (-s, id) }.take(k)

  private def drain(h: TopKHeap): Seq[(Double, Long)] =
    (0 until h.size).map(i => (h.scores(i), h.ids(i)))
      .sortBy { case (s, id) => (-s, id) }

  test("heap keeps the k best under (score desc, id asc) for random input") {
    val rnd = new Random(7)
    for (trial <- 0 until 50) {
      val n = rnd.nextInt(200)
      val k = 1 + rnd.nextInt(12)
      // duplicate scores on distinct ids exercise the tie-break
      val pairs = (0 until n).map(i => (rnd.nextInt(8).toDouble, i.toLong))
      val shuffled = rnd.shuffle(pairs)
      val h = new TopKHeap(k)
      shuffled.foreach { case (s, id) => h.insert(s, id) }
      assert(h.size === math.min(n, k))
      assert(drain(h) === refTopK(pairs, k), s"trial $trial (n=$n k=$k)")
    }
  }

  test("merge of split buffers equals single-buffer insert, any split/order") {
    val rnd = new Random(11)
    val pairs = (0 until 300).map(i => (rnd.nextInt(10).toDouble, i.toLong))
    val k = 9
    val expected = refTopK(pairs, k)
    for (trial <- 0 until 20) {
      val parts = rnd.shuffle(pairs).grouped(1 + rnd.nextInt(60)).toSeq
      val agg = BoundedTopK(org.apache.spark.sql.catalyst.expressions.Literal(0.0), org.apache.spark.sql.catalyst.expressions.Literal(0L), k)
      val bufs = parts.map { p =>
        val b = new TopKHeap(k); p.foreach { case (s, id) => b.insert(s, id) }; b
      }
      val merged = rnd.shuffle(bufs).reduce((a, b) => agg.merge(a, b))
      assert(drain(merged) === expected, s"trial $trial")
    }
  }

  test("serialize/deserialize round-trips the kept set") {
    val agg = BoundedTopK(org.apache.spark.sql.catalyst.expressions.Literal(0.0), org.apache.spark.sql.catalyst.expressions.Literal(0L), 5)
    val h = new TopKHeap(5)
    Seq((3.0, 4L), (1.0, 9L), (3.0, 2L), (0.5, 1L), (2.0, 7L), (4.0, 0L))
      .foreach { case (s, id) => h.insert(s, id) }
    val back = agg.deserialize(agg.serialize(h))
    assert(back.k === 5)
    assert(drain(back) === drain(h))
  }

  test("aggregate ranking equals the window formulation on real embeddings") {
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val queries = emb.where(col("vec_id") < 25)
    val agg = AnnSearch.bruteForceTopK(queries, emb, "embedding", "vec_id", 10)

    // the discarded plan, kept here as the semantics oracle
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("__qv"))
    val c = emb.select(col("vec_id").as("corpus_id"), col("embedding").as("__cv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("corpus_id").asc)
    val win = c.crossJoin(broadcast(q))
      .where(col("query_id") =!= col("corpus_id"))
      .withColumn("cosine", graft.pipeline.Dedup.cosineSimilarity(col("__qv"), col("__cv")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 10)
      .select(col("query_id"), col("corpus_id"), col("cosine"), col("rank"))

    // the aggregate plan tightens nullability (its output is provably
    // non-null); names and types must match the window formulation exactly
    assert(agg.schema.map(f => (f.name, f.dataType)) ===
      win.schema.map(f => (f.name, f.dataType)))
    assert(agg.count() === win.count())
    assert(agg.exceptAll(win).isEmpty && win.exceptAll(agg).isEmpty)
  }

  test("NaN scores are dropped in update and never poison the heap order") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val agg = BoundedTopK(
      BoundReference(0, DoubleType, nullable = true),
      BoundReference(1, LongType, nullable = true), 3)
    val buf = agg.createAggregationBuffer()
    // NaN-first is the poisoning order: were it inserted, it would sit at the
    // root and block every later insert for the group
    agg.update(buf, InternalRow(Double.NaN, 99L))
    assert(buf.size === 0)
    Seq((1.0, 1L), (Double.NaN, 98L), (2.0, 2L), (3.0, 3L), (Double.NaN, 97L), (4.0, 4L))
      .foreach { case (s, id) => agg.update(buf, InternalRow(s, id)) }
    assert(drain(buf) === Seq((4.0, 4L), (3.0, 3L), (2.0, 2L)))
  }

  test("zero-norm corpus vector scores 0.0 and the group's ranking stays complete") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 0.0f)), // zero-norm: cosine denominator is 0
      (3L, Array(0.5f, 0.5f))
    ).toDF("vec_id", "embedding")
    val res = AnnSearch
      .bruteForceTopK(emb.where($"vec_id" === 0), emb, "embedding", "vec_id", 3)
      .orderBy("rank").collect()
    assert(res.length === 3, "all non-query candidates must stay ranked")
    val zeroRow = res.find(_.getAs[Long]("corpus_id") == 2L)
    assert(zeroRow.isDefined, "the zero-norm vector must not be dropped")
    assert(zeroRow.get.getAs[Double]("cosine") === 0.0)
    assert(!res.exists(r => r.getAs[Double]("cosine").isNaN))
  }

  test("plan: engine top-K with a partial step, no Window, no candidate sort") {
    val dir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val queries = emb.where(col("vec_id") < 5)
    val plan = AnnSearch.bruteForceTopK(queries, emb, "embedding", "vec_id", 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TopKPartial") && plan.contains("TopKFinal"),
      s"expected the engine top-K (map-side-combining topk_pairs), got:\n$plan")
    assert(plan.contains("partial_topk_pairs"),
      s"expected a partial aggregation step before the exchange, got:\n$plan")
    assert(!plan.contains("Window"),
      s"candidate ranking must not shuffle+sort through a Window, got:\n$plan")
  }

  test("default settings: top-K equals brute force, 10k+ groups a partition") {
    val fallbackKey = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    assert(spark.conf.get(fallbackKey) === "128", "the session must run at its default")
    val groups = 20000
    val k = 5
    // two input partitions of 60k rows, each holding ~19k of the 20k
    // groups; group sizes vary around 6, so some groups hold fewer than k
    // rankable rows and others evict. Scores repeat (ties on id), some
    // scores are null or NaN, some ids are null, some group keys are null.
    val in = spark.range(0, 6L * groups, 1, 2).select(
      when(col("id") % 997 === 0, lit(null).cast("long"))
        .otherwise(pmod(hash(col("id")), lit(groups)).cast("long")).as("g"),
      when(col("id") % 31 === 0, lit(null).cast("double"))
        .when(col("id") % 29 === 0, lit(Double.NaN))
        .otherwise(pmod(hash(col("id"), lit(1)), lit(4)).cast("double")).as("score"),
      when(col("id") % 53 === 0, lit(null).cast("long")).otherwise(col("id")).as("id"))
    val ranked = in.groupBy(col("g"))
      .agg(vectorFunctions.topk_pairs(col("score"), col("id"), k).as("tk"))
    val got = ranked.collect().map { r =>
      (Option(r.get(0)).map(_.asInstanceOf[Long]),
        r.getSeq[org.apache.spark.sql.Row](1).map(e => (e.getLong(0), e.getDouble(1))))
    }.toMap

    val expected = in.collect().toSeq
      .groupBy(r => Option(r.get(0)).map(_.asInstanceOf[Long]))
      .map { case (g, rows) =>
        g -> rows.filter(r => !r.isNullAt(1) && !r.getDouble(1).isNaN && !r.isNullAt(2))
          .map(r => (r.getLong(2), r.getDouble(1)))
          .sortBy { case (id, s) => (-s, id) }.take(k)
      }
    assert(got.size === expected.size)
    assert(expected.values.exists(_.size < k) && expected.values.exists(_.size == k))
    assert(expected.values.exists(_.isEmpty), "a group of unrankable rows only")
    expected.foreach { case (g, top) => assert(got(g) === top, s"group $g") }

    val plan = ranked.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPartial") && plan.contains("partial_topk_pairs") &&
      plan.contains("TopKFinal"), s"expected the engine's partial and final steps:\n$plan")
    Seq("ObjectHashAggregate", "SortAggregate", "Window", "Sort [").foreach { node =>
      assert(!plan.contains(node), s"unexpected $node:\n$plan")
    }
  }

  test("global or mixed topk_pairs stay Spark's ObjectHashAggregate") {
    val in = spark.range(0, 100, 1, 2).select((col("id") % 3).as("g"),
      (col("id") % 7).cast("double").as("s"), col("id"))
    val global = in.agg(vectorFunctions.topk_pairs(col("s"), col("id"), 2).as("tk"))
    val mixed = in.groupBy(col("g"))
      .agg(vectorFunctions.topk_pairs(col("s"), col("id"), 2).as("tk"), count(lit(1)).as("n"))
    for (df <- Seq(global, mixed)) {
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("ObjectHashAggregate") && !plan.contains("TopKFinal"), plan)
    }
    assert(global.head().getSeq[org.apache.spark.sql.Row](0)
      .map(e => (e.getLong(0), e.getDouble(1))) === Seq((6L, 6.0), (13L, 6.0)))
    assert(mixed.collect().map(r => (r.getLong(0), r.getLong(2))).toSet ===
      Set((0L, 34L), (1L, 33L), (2L, 33L)))
  }

  test("topk_pairs and registerAll add the engine strategy to a session once") {
    val fresh = spark.newSession()
    // a new session's experimental strategies start empty; the extension's
    // injected copy lives in the planner's own list
    assert(!fresh.experimental.extraStrategies.contains(TopKStrategy))
    org.apache.spark.sql.SparkSession.setActiveSession(fresh)
    try {
      vectorFunctions.topk_pairs(col("s"), col("id"), 3)
      vectorFunctions.topk_pairs(col("s"), col("id"), 4)
    } finally org.apache.spark.sql.SparkSession.setActiveSession(spark)
    assert(fresh.experimental.extraStrategies.count(_ == TopKStrategy) === 1)
    // the pure-SQL path of a session that registers the functions by hand
    val sqlOnly = spark.newSession()
    vectorFunctions.registerAll(sqlOnly)
    vectorFunctions.registerAll(sqlOnly)
    assert(sqlOnly.experimental.extraStrategies.count(_ == TopKStrategy) === 1)
  }
}
