package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** The synthetic `events` table's `ts` column has shipped in different
  * physical encodings across testdata generations: parquet
  * TIMESTAMP(NANOS) (which Spark only reads as a raw long under
  * `spark.sql.legacy.parquet.nanosAsLong=true`) and parquet
  * TIMESTAMP(MICROS, isAdjustedToUTC=false) (which Spark reads as
  * TIMESTAMP_NTZ). Every graft event operator — and every DuckDB oracle,
  * via `epoch_us(ts)` — works on integer epoch NANOSECONDS, so this
  * normalizes whatever was stored to that one contract.
  *
  * Timezone safety: the NTZ branch uses `timestampdiff` between two NTZ
  * values — pure wall-clock arithmetic, no session-timezone dependency —
  * and therefore agrees bit-for-bit with DuckDB's `epoch_us` on the same
  * naive timestamp. The LTZ branch is `unix_micros`, exact under the UTC
  * session timezone the entry points pin. A pure projection either way:
  * pushdown and pruning on the other columns are unaffected. */
object EventTs {

  /** Normalize `tsCol` to epoch-nanosecond LONG, whatever the stored type.
    * Long columns pass through untouched (legacy nanos files). */
  def normalizeTs(df: DataFrame, tsCol: String = "ts"): DataFrame =
    df.schema(tsCol).dataType match {
      case LongType => df
      case _: TimestampNTZType =>
        df.withColumn(tsCol, expr(
          s"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', $tsCol) * 1000"))
      case _: TimestampType =>
        df.withColumn(tsCol, expr(s"unix_micros($tsCol) * 1000"))
      case other => throw new IllegalArgumentException(
        s"events ts column has unsupported type $other " +
          "(expected LONG nanos or a timestamp)")
    }

  /** The read setting legacy nanos files need. */
  val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"

  /** Read `$dir/events.parquet` with `ts` normalized to epoch nanos. The
    * session must be built with [[NanosAsLong]]` = true` (legacy nanos
    * files are unreadable without it): this fails fast otherwise, and
    * never changes the caller's session. */
  def loadEvents(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    require(spark.conf.get(NanosAsLong, "false") == "true",
      s"loadEvents needs $NanosAsLong=true on the session (set it when building the session)")
    normalizeTs(spark.read.parquet(s"$dir/events.parquet"))
  }
}
