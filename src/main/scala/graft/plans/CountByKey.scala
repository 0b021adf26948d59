package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.LongType

import graft.binning.HistogramKernel

/** Native count-by-Long-key: the whole-operator Catalyst form of the
  * two-phase kernel count [[graft.binning.Binning.histogram]] routes cubes
  * of ≥ [[graft.binning.HistogramKernel.kernelCellsFloor]] cells through.
  *
  * A Dataset form (`as[Long].mapPartitions(…)`) would pay a
  * `DeserializeToObject` / `SerializeFromObject` boundary on EVERY row of
  * BOTH kernel passes — ~2×10⁸ boxed `java.lang.Long`s at the reference
  * shape, pure allocator traffic. This operator consumes the child's
  * UnsafeRows directly: a logical node ([[CountByKeyPlan]]), a planner
  * strategy ([[CountByKeyStrategy]], registered per-session through
  * `spark.experimental.extraStrategies`), and physical execs: the partial
  * [[CountByKeyExec]] counts each map partition's rows, the
  * [[PackedCountExchangeExec]] moves the pre-combined `(key, cnt)` rows,
  * and the final [[CountByKeyExec]] merges them. The final side declares
  * `ClusteredDistribution(key)`, which the packed exchange's hash
  * partitioning satisfies. The exchange width is pinned to
  * [[graft.binning.HistogramKernel.mergePartitions]]'s sizing, which
  * intentionally takes AQE's post-shuffle coalescing out of the loop: the
  * merge map's memory is the constraint, not the partition byte size AQE
  * optimizes for.
  */
final case class CountByKeyPlan(
    child: LogicalPlan,
    numPartitions: Int,
    cnt: AttributeReference, // constructor arg: `copy` (analyzer/optimizer
                             // child rewrites) must PRESERVE the exprId the
                             // parent plan already resolved against
) extends UnaryNode {
  require(child.output.size == 1 && child.output.head.dataType == LongType,
    s"CountByKeyPlan needs a single LongType key column, got ${child.output}")
  // a nullable key's null rows would be read via getLong(0) and silently
  // counted as key 0 — diverging from groupBy's null-group semantics.
  // Callers filter/compute non-null keys (Binning's `_flat >= 0` filter on
  // the non-nullable FlatBinIndexExpr); demand the plan proves it.
  require(!child.output.head.nullable,
    "CountByKeyPlan needs a non-nullable key column: filter nulls out " +
      "first (a null would silently count as key 0)")

  /** The key attribute, reused from the child (like Aggregate's grouping
    * references). */
  def key: Attribute = child.output.head

  override def output: Seq[Attribute] = Seq(key, cnt)

  // `cnt` originates HERE, not from the child (CheckAnalysis's
  // missing-input rule)
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(cnt)

  // the node CONSUMES its child's key column even though no expression
  // argument mentions it — without this, ColumnPruning sees an empty
  // reference set and prunes `_flat` away under any consumer that only
  // reads `cnt` (e.g. histogram(...).agg(sum("cnt")))
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    child.outputSet

  override protected def withNewChildInternal(c: LogicalPlan): CountByKeyPlan =
    copy(child = c)
}

/** Plans [[CountByKeyPlan]] into partial [[CountByKeyExec]] → the
  * narrow-wire [[PackedCountExchangeExec]] (varint pairs instead of framed
  * UnsafeRows — same placement, ~5× fewer shuffle bytes at the
  * high-cardinality cube shape) → final [[CountByKeyExec]].
  */
object CountByKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case c: CountByKeyPlan =>
      val partial = CountByKeyExec(partial = true, c.key, c.cnt,
        c.numPartitions, planLater(c.child))
      val exchange =
        PackedCountExchangeExec(c.key, c.cnt, c.numPartitions, partial)
      CountByKeyExec(partial = false, c.key, c.cnt, c.numPartitions,
        exchange) :: Nil
    case _ => Nil
  }

  /** Idempotent per-session registration. */
  def register(spark: SparkSession): Unit = synchronized {
    if (!spark.experimental.extraStrategies.contains(CountByKeyStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ CountByKeyStrategy
  }
}

/** Physical open-hash count. `partial = true` counts raw keys with no
  * distribution requirement (runs inside the map stage); the final side
  * requires `ClusteredDistribution(key)` and merges the pre-combined
  * `(key, cnt)` rows. The plan string prints `partial` first and
  * `numPartitions` last — the form benchmark tooling parses.
  */
final case class CountByKeyExec(
    partial: Boolean,
    key: Attribute,
    cnt: AttributeReference,
    numPartitions: Int,
    child: SparkPlan,
) extends UnaryExecNode {

  override def output: Seq[Attribute] = Seq(key, cnt)

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(cnt)

  override def outputPartitioning: Partitioning = child.outputPartitioning

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) Seq(UnspecifiedDistribution)
    else Seq(ClusteredDistribution(Seq(key),
      requiredNumPartitions = Some(numPartitions)))

  override protected def doExecute(): RDD[InternalRow] = {
    val cntOrdinal = if (partial) -1 else 1
    // the PARTIAL map flushes at a bounded entry count so a huge
    // non-scan partition (cached/repartitioned upstream) can't OOM the
    // map task — duplicates across flushes merge in the final pass. The
    // FINAL side must stay unbounded (one output row per key); its map is
    // sized by HistogramKernel.mergePartitions' exchange width instead.
    val flush =
      if (partial) HistogramKernel.partialFlushEntries else Int.MaxValue
    child.execute().mapPartitions { it =>
      val counted = HistogramKernel.countInternalRows(it, cntOrdinal, flush)
      val proj = UnsafeProjection.create(Array(LongType, LongType): Array[org.apache.spark.sql.types.DataType])
      val row = new SpecificInternalRow(Seq(LongType, LongType))
      counted.map { case (k, c) =>
        row.setLong(0, k)
        row.setLong(1, c)
        proj(row): InternalRow // reused row: consumers copy on buffer
      }
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): CountByKeyExec =
    copy(child = c)
}

object CountByKey {

  /** `(key, cnt)` DataFrame counting `flat`'s single Long column with the
    * two-phase kernel. The strategy is registered on the session on first
    * use.
    */
  def apply(flat: DataFrame, numPartitions: Int, cntName: String): DataFrame = {
    val spark = flat.sparkSession
    CountByKeyStrategy.register(spark)
    val keyName = flat.columns.head
    val df = GraftBridge.ofRows(spark, CountByKeyPlan(
      GraftBridge.analyzedPlan(flat), numPartitions,
      AttributeReference(cntName, LongType, nullable = false)()))
    // hide the node's produced `cnt` behind a Project alias:
    // DeduplicateRelations knows how to regenerate conflicting Project
    // aliases on a self-join, but not a custom node's produced
    // attribute — without this, joining a kernel-routed histogram with
    // itself dies with INTERNAL_ERROR "conflicting references"
    import org.apache.spark.sql.functions.col
    df.select(col(keyName), col(cntName).as(cntName))
  }
}
