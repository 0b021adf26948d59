package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column ↔ catalyst Expression bridge. Spark 4 made the public `Column`
  * Connect-compatible and hid the classic expression accessors behind
  * `private[sql]`; extension libraries (custom `Expression`s / aggregates)
  * reach them through a same-package bridge — the standard pattern used by
  * third-party Spark extensions.
  */
object GraftBridge {
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Wrap a logical plan as a DataFrame (`Dataset.ofRows` went
    * `private[sql]` with the Connect split) — how a custom
    * [[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]]
    * operator enters the public Dataset API.
    */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Execute `df` up to its result RDD and wrap that RDD as a frame —
    * the `Dataset` factory pattern, over a `LogicalRDD` leaf. Under AQE
    * this runs `df`'s map stages now, once (without AQE the first job
    * over the frame runs them). Later jobs over the frame read the
    * finished shuffle output, their copies of those map stages skipped,
    * and nothing enters the cache manager. The shuffle files live as
    * long as the frame: the ContextCleaner drops them once the RDD is
    * collected.
    *
    * The frame carries the final physical plan's output partitioning on
    * its own output attributes, so a consumer keyed like that shuffle
    * adds no exchange. `LogicalRDD.fromDataset` reads the partitioning
    * of the `AdaptiveSparkPlanExec` wrapper instead, which is unknown. A
    * coalesced AQE read reports `CoalescedHashPartitioning`, which is
    * compatible only with the same coalesced read, so a join against a
    * freshly shuffled side still re-shuffles this one.
    */
  def ofExecutedRdd(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeMap}
    import org.apache.spark.sql.catalyst.plans.physical.Partitioning
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val rdd = ds.queryExecution.toRdd
    val finalPlan = ds.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val base = LogicalRDD.fromDataset(rdd, ds, isStreaming = false)
    val toOutput = AttributeMap(finalPlan.output.zip(base.output))
    val partitioning = finalPlan.outputPartitioning match {
      case p: Expression => p.transform {
        case a: Attribute => toOutput.getOrElse(a, a)
      }.asInstanceOf[Partitioning]
      case p => p
    }
    ofRows(ds.sparkSession, base.copy(outputPartitioning = partitioning)(
      ds.sparkSession, Some(base.computeStats()), Some(base.constraints)))
  }

  /** The analyzed logical plan of a DataFrame. */
  def analyzedPlan(df: DataFrame):
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** Fully convert a Column's node tree to a catalyst Expression using
    * the active session's converter — needed when the expression must be
    * self-contained (e.g. returned from a FunctionRegistry builder),
    * where the lazy [[expression]] wrapper would keep unresolved
    * function nodes that codegen rejects.
    */
  def resolvedExpression(c: Column): Expression = {
    val s = SparkSession.active.asInstanceOf[classic.SparkSession]
    s.expression(c)
  }
}
