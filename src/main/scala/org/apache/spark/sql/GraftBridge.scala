package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark 4.x's `private[sql]` API.
  *
  * Spark 4 moved `Column` to the shared sql-api module: a `Column` wraps a
  * `ColumnNode`, not a catalyst `Expression`, and the converters
  * (`org.apache.spark.sql.classic.ExpressionUtils`) are `private[sql]`, as
  * are the function registry and `Dataset.ofRows`. Library code (package
  * `graft`) needs them, so this one-file shim lives in the
  * `org.apache.spark.sql` package to re-export them. Nothing else belongs
  * here.
  */
object GraftBridge {
  /** Wrap a catalyst Expression as a classic-backend Column. */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Extract the catalyst Expression backing a classic Column. */
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Register a function builder on a LIVE session (the functionRegistry is
    * `private[sql]`; `spark.sql.extensions` only applies at session build).
    */
  def registerFunction(spark: SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "scala_udf")

  /** A DataFrame of `rdd`'s rows in `schema` with its plan leaf sized at
    * `sizeInBytes`, as `localCheckpoint` keeps sizes (`createDataFrame`
    * sizes an RDD at `spark.sql.defaultSizeInBytes`).
    */
  def sizedFrame(spark: SparkSession, schema: types.StructType, rdd: RDD[catalyst.InternalRow],
                 sizeInBytes: BigInt): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    classic.Dataset.ofRows(session, execution.LogicalRDD(
      catalyst.types.DataTypeUtils.toAttributes(schema), rdd)(
      session, Some(catalyst.plans.logical.Statistics(sizeInBytes))))
  }
}
