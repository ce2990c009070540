package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's `private[sql]` Column ⇄ Expression converters
  * (org.apache.spark.sql.classic.ExpressionUtils) so graft's native Catalyst
  * expressions can be exposed as user-facing Columns. Spark 4 moved Column to
  * ColumnNode internals; this is the supported classic-mode conversion path.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Wrap an analyzed LogicalPlan as a DataFrame (private[sql]
    * `classic.Dataset.ofRows`) — lets an analyzer Rule hand a plan subtree
    * to graft's DataFrame-level operators and splice the result back. */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Build the catalyst aggregate expression for a typed Aggregator over
    * already-analyzed children — the piece a FunctionRegistry builder needs
    * to expose a UDAF to SQL text (the Column-API path goes through
    * ColumnNode conversion, which a registry builder bypasses). */
  def udafExpression[I, B, O](agg: expressions.Aggregator[I, B, O],
      inputEnc: Encoder[I], children: Seq[Expression]): Expression =
    execution.aggregate.ScalaAggregator(
      expressions.UserDefinedAggregator(agg, inputEnc), children)
      .toAggregateExpression()

  /** `dataType.asNullable` (private[spark]): the schema a file-source read
    * reports for files written with `schema` — every field, element and
    * map value nullable, as `DataSource.resolveRelation` declares it. */
  def asNullable(schema: types.StructType): types.StructType = schema.asNullable

  /** Release the storage behind a checkpointed frame once no later iterate
    * references it. `Dataset.unpersist` only covers `cache()`/`persist()`;
    * a local checkpoint pins its materialized RDD until the session dies —
    * in a long session running many queries (Verify/Bench run 50+) those
    * blocks accumulate. Digs the checkpointed RDD out of the LogicalRDD
    * leaf and unpersists it; for a RELIABLE checkpoint the files are also
    * deleted (Spark never removes them on its own unless
    * `spark.cleaner.referenceTracking.cleanCheckpoints` is on, and even
    * then only at GC time) — otherwise a 60-iteration pagerank accumulates
    * one full copy of the frame per iteration on the checkpoint filesystem
    * (the PeriodicCheckpointer deletion pattern). A no-op for frames that
    * are not checkpoint leaves. */
  def releaseCheckpoint(df: Dataset[_]): Unit = df.queryExecution.analyzed match {
    case l: org.apache.spark.sql.execution.LogicalRDD =>
      l.rdd.getCheckpointFile.foreach { f =>
        val p = new org.apache.hadoop.fs.Path(f)
        val fs = p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
        fs.delete(p, true): Unit
      }
      l.rdd.unpersist(false): Unit
    case _ => ()
  }
}
