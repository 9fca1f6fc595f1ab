package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.fuzzy.{FuzzyAlgorithm, FuzzyMapping, MatchOptions}

/** A workload as stated in workloads.json. Every workload matches exactly
  * (LSH off), so every planted pair must come back. */
final case class WorkloadSpec(name: String, props: Props, fields: Seq[FieldSpec],
                              isolatedLsh: Boolean) {
  def maps: Seq[FuzzyMapping] =
    fields.map(f => FuzzyMapping(f.leftCol, f.rightCol, f.threshold.toDouble, f.algo))

  def opts: MatchOptions = MatchOptions.exact
}

object WorkloadSpec {
  def load(path: String, name: String): WorkloadSpec = {
    val root = new ObjectMapper().readTree(new File(path))
    val w = Option(root.path("workloads").get(name)).getOrElse(
      throw new IllegalArgumentException(s"unknown workload '$name'; expected one of " +
        root.path("workloads").fieldNames().asScala.mkString(", ")))
    def int(k: String): Int = need(w, k).asInt()
    def dbl(k: String): Double = need(w, k).asDouble()
    val props = Props(int("left_rows"), int("right_rows"), int("min_len"), int("max_len"),
      dbl("planted_share"), dbl("typo_rate"), dbl("dup_share"), dbl("non_ascii_share"))
    val fields = need(w, "mappings").elements().asScala.map { m =>
      FieldSpec(need(m, "field").asText, need(m, "kind").asText, need(m, "pool").asDouble,
        FuzzyAlgorithm.fromName(need(m, "algo").asText), need(m, "threshold").asInt)
    }.toSeq
    WorkloadSpec(name, props, fields, w.path("isolated_lsh").asBoolean(false))
  }

  private def need(n: JsonNode, k: String): JsonNode =
    Option(n.get(k)).getOrElse(throw new IllegalArgumentException(s"missing key '$k'"))
}

object Frames {
  /** DataFrame of a generated table: id, one string column per field, payload. */
  def of(spark: SparkSession, t: Table): DataFrame = {
    val schema = StructType(
      StructField(t.idCol, LongType, nullable = false) +:
        t.fields.map(f => StructField(s"${t.prefix}_$f", StringType)) :+
        StructField(t.payloadCol, IntegerType, nullable = false))
    val rows = (0 until t.n).map { i =>
      Row.fromSeq((i.toLong +: t.values.toSeq.map(_(i))) :+ Table.payload(i))
    }
    spark.createDataFrame(rows.asJava, schema)
  }
}
