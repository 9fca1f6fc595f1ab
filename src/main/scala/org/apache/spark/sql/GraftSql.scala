package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.{HintInfo, NO_BROADCAST_HASH, ResolvedHint}

/** Minimal bridge into Spark's `private[sql]` Column <-> Expression API.
  *
  * Spark 4 moved `new Column(expr)` behind `org.apache.spark.sql.classic.
  * ExpressionUtils`; custom Catalyst expressions (our similarity kernels)
  * still need to surface as `Column`s, and a join hint Spark's `hint` names
  * do not cover ([[noBroadcast]]) needs `Dataset.ofRows`. Keeping the
  * bridge in one tiny file confines the `private[sql]` access to a single
  * place.
  */
object GraftSql {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** `df` marked so that a join never broadcasts it; the planner may still
    * broadcast the other side. For frames whose size the planner cannot
    * estimate from their inputs (a generator's output is sized as its
    * input). */
  def noBroadcast(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    classic.Dataset.ofRows(ds.sparkSession,
      ResolvedHint(ds.logicalPlan, HintInfo(strategy = Some(NO_BROADCAST_HASH))))
  }

  /** Register an expression builder so the function is callable from SQL and
    * via `functions.call_function`. */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")
}
