package graft.pipeline

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, IntegerType}

/** First band index (0-based) at which two MinHash signatures agree on
  * ALL `rowsPerBand` positions, or −1 when no band fully agrees — the
  * native kernel behind [[Dedup.minhashNearDuplicates]]'s
  * `inlineVerify` plan, where each candidate pair must be emitted from
  * exactly one band (the lowest matching one).
  *
  * A higher-order `filter(sequence(...), i -> slice(a) === slice(b))`
  * computes the same thing but is INTERPRETED per row with two array
  * allocations per band — it measured 5× slower than the whole plan it
  * was meant to fix (2 745 s vs 517 s at the ×64-clique rehearsal;
  * NOTES.md, "Round-9 ×64 pair-mass rehearsal"). This expression is one branch-predictable
  * loop with no allocation, codegen'd into the join stage. Null
  * elements never match (consistent with [[PositionalEqCount]]).
  */
case class FirstMatchingBand(
    left: Expression,
    right: Expression,
    bands: Int,
    rowsPerBand: Int,
) extends BinaryExpression {

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.types.{ArrayType, LongType}
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckFailure(s"needs two array<bigint> inputs, got $other")
    }
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    FirstMatchingBand.first(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], bands, rowsPerBand)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper =
      FirstMatchingBand.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = $helper.first($a, $b, $bands, $rowsPerBand);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FirstMatchingBand =
    copy(left = newLeft, right = newRight)
}

object FirstMatchingBand {

  /** Lowest band whose positions `[band·rows, (band+1)·rows)` are all
    * equal and non-null on both sides; −1 if none. Shared by
    * interpreted eval and codegen.
    */
  def first(a: ArrayData, b: ArrayData, bands: Int, rows: Int): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var band = 0
    while (band < bands) {
      var i = band * rows
      val end = math.min(i + rows, n)
      var ok = end == i + rows // a truncated trailing band never matches
      while (ok && i < end) {
        ok = !a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i)
        i += 1
      }
      if (ok) return band
      band += 1
    }
    -1
  }
}
