package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Expression bridge. Spark 4 hides the classic converters
  * behind private[sql]; this shim (in the sql package tree, the
  * conventional extension point) is the only place graft touches them.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Build a DataFrame over a custom LogicalPlan (Dataset.ofRows is
    * private[sql]; this is the supported-extension-point equivalent).
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The parquet files `index` lists, read under `dataSchema` and without
    * partition columns: the relation `spark.read.schema(dataSchema)
    * .parquet(...)` builds (a nullable data schema, no options), over a
    * caller's file index.
    */
  def parquetRelation(spark: org.apache.spark.sql.SparkSession,
      index: org.apache.spark.sql.execution.datasources.FileIndex,
      dataSchema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.baseRelationToDataFrame(org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      index, new org.apache.spark.sql.types.StructType(), dataSchema.asNullable, None,
      new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
      Map.empty)(spark))

  /** Free the block-manager storage behind a `localCheckpoint()`'d frame.
    * `Dataset.unpersist` only talks to the CacheManager, which does not
    * track checkpoint RDDs — the blocks live on the `LogicalRDD` leaf the
    * checkpoint produced. No-op for non-checkpoint plans.
    */
  def unpersistLocalCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false); ()
      case _ => ()
    }

  /** Register a function into an EXISTING session's registry (the
    * extensions path only covers sessions built with withExtensions).
    */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      name: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(name, info, builder)

  /** Register a TABLE-VALUED function (FROM-clause callable) into an
    * existing session — the companion of [[registerFunction]] for the
    * TableFunctionRegistry (what `injectTableFunction` feeds on the
    * withExtensions path).
    */
  def registerTableFunction(
      spark: org.apache.spark.sql.SparkSession,
      name: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.tableFunctionRegistry.registerFunction(name, info, builder)
}
