package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Binary (1-bit sign) quantization and the Hamming-candidate search path
  * ([[AnnSearch.binaryTopK]]): signature packing, provable equality to
  * brute force at full rerank, recall at the production partial rerank,
  * zero-vector handling, and the plan shape (bounded-heap ranking, no
  * float vectors in the candidate scan).
  */
class BinaryAnnSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("sign_bits64 packs the sign pattern exactly") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1f, -1f, 0f, 0.5f)),     // bits 0 and 3
      (2L, Seq(-1f, -2f, -3f, -4f)),    // no bits
      (3L, Seq(0f, 0f, 0f, 0f)),        // zero vector -> 0L
      (4L, (0 until 64).map(_ => 1f))   // all 64 bits
    ).toDF("id", "v")
    val got = df.select(col("id"), graft.fuzzy.vectorFunctions.sign_bits64(col("v")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) === ((1L << 0) | (1L << 3)))
    assert(got(2L) === 0L)
    assert(got(3L) === 0L)
    assert(got(4L) === -1L) // all 64 bits set
  }

  test("sign_bits64 is SQL-registered") {
    val bits = spark.sql(
      "SELECT sign_bits64(array(CAST(1.0 AS FLOAT), CAST(-1.0 AS FLOAT), CAST(2.0 AS FLOAT))) AS b")
      .head().getLong(0)
    assert(bits === ((1L << 0) | (1L << 2)))
  }

  test("full rerank equals float brute force exactly") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val queries = emb.where(col("vec_id") < 20)
    val n = emb.count().toInt
    val brute = AnnSearch.bruteForceTopK(queries, emb, "embedding", "vec_id", 10)
      .select("query_id", "corpus_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val bin = AnnSearch.binaryTopK(queries, emb, "embedding", "vec_id", 10, rerank = n)
      .select("query_id", "corpus_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(brute.nonEmpty && bin === brute)
  }

  test("partial rerank keeps recall vs brute force") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val queries = emb.where(col("vec_id") < 20)
    val brute = AnnSearch.bruteForceTopK(queries, emb, "embedding", "vec_id", 10)
      .select("query_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val bin = AnnSearch.binaryTopK(queries, emb, "embedding", "vec_id", 10, rerank = 40)
      .select("query_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty)
    val recall = bin.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.5, s"binary recall $recall < 0.5 at rerank=40")
  }

  test("zero vectors pack to 0L, score 0.0, and never crash the heap") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(1f, 0f, -1f, 0f)),
      (2L, Seq(0f, 0f, 0f, 0f)), // zero-norm: cosine defined as 0.0
      (3L, Seq(1f, 0.5f, -1f, 0.25f)),
      (4L, Seq(-1f, 0f, 1f, 0f))
    ).toDF("vec_id", "embedding")
    val res = AnnSearch.binaryTopK(df.where(col("vec_id") === 1L), df,
        "embedding", "vec_id", 3, rerank = 3)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
    // all three non-query rows rank; the zero vector scores exactly 0.0
    assert(res.keySet === Set(2L, 3L, 4L))
    assert(res(2L) === 0.0)
    assert(res(4L) < 0) // opposite vector: negative cosine, still ranked
  }

  test("rerank below k is rejected") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    intercept[IllegalArgumentException] {
      AnnSearch.binaryTopK(emb.limit(1), emb, "embedding", "vec_id", 10, rerank = 5)
    }
  }

  test("plan: bounded-heap ranking, no window, narrow candidate scan") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val res = AnnSearch.binaryTopK(emb.where(col("vec_id") < 10), emb,
      "embedding", "vec_id", 10, rerank = 40)
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPartial") && plan.contains("TopKFinal"),
      "top-k must aggregate, not sort")
    assert(!plan.contains("Window"), "no window ranking anywhere")
    // the Hamming stage's cross join must move signatures, not vectors:
    // bit_count(xor) appears inside the join-side projections
    assert(plan.toLowerCase.contains("bit_count"), "hamming cut missing from plan")
  }

  test("empty query side yields an empty result with the right schema") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val res = AnnSearch.binaryTopK(emb.where(col("vec_id") < 0), emb,
      "embedding", "vec_id", 5, rerank = 10)
    assert(res.columns.toSeq === Seq("query_id", "corpus_id", "cosine", "rank"))
    assert(res.count() === 0L)
  }
}
