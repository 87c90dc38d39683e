package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/**
 * Bridge into Spark's `private[sql]` Column <-> Expression conversion
 * (Spark 4 Columns are ColumnNode-backed; `classic.ExpressionUtils` is
 * the supported internal conversion — public-bytecode, sql-private in
 * Scala). Pattern per public usage in Spark-extension projects.
 */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /**
   * Drop the `originStats` a checkpointed frame's [[execution.LogicalRDD]]
   * carries over from its pre-checkpoint plan. The carried stats are the
   * right default for one-shot checkpoints (they keep broadcast
   * decisions), but in an ITERATIVE loop they compound: a self-join's
   * size estimate is the product of its children's, so `label(k+1) =
   * checkpoint(label(k) join label(k))` SQUARES sizeInBytes every round
   * — the digit count doubles per iteration and by round ~20 Catalyst's
   * stats visitor is multiplying million-digit BigIntegers during join
   * selection (observed: q63 wedged the bench for 20+ minutes inside
   * SizeInBytesOnlyStatsPlanVisitor). A freshly-reset leaf falls back
   * to the conservative default size, which just means no broadcast —
   * correct for loop state frames.
   */
  def resetStats(df: DataFrame): DataFrame = df.queryExecution.logical match {
    case l: execution.LogicalRDD =>
      val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
      classic.Dataset.ofRows(spark,
        new execution.LogicalRDD(l.output, l.rdd, l.outputPartitioning,
          l.outputOrdering, l.isStreaming, l.stream)(spark, None, None))
    case _ => df
  }
}
