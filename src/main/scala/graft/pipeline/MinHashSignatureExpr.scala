package graft.pipeline

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Native codegen expression: the full MinHash signature from the reduced
  * shingle-hash array.
  *
  * The declarative form — `numHashes` sibling
  * `array_min(transform(base, h => (a·h + b) mod p))` subtrees — walks the
  * base array once per hash function through Catalyst's interpreted
  * higher-order-function machinery (a lambda-variable write + boxed eval
  * per element), allocating `numHashes` intermediate arrays per document.
  * This kernel copies the base hashes into an `int[]` once and runs the
  * family's shared minima loop ([[AffineMinHash.signature]], the same one
  * [[MinHashTextExpr]] uses): `O(|shingles| · numHashes)` tight Long
  * arithmetic with the minima in registers.
  *
  * Bit-identical to the declarative form (same affine family, same
  * reduction mod the Mersenne prime — the DuckDB oracle mirror is
  * unchanged);
  * an empty shingle set yields all-null elements exactly like
  * `array_min(empty)`.
  */
case class MinHashSignatureExpr(child: Expression, numHashes: Int, seed: Long)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckFailure(s"needs an array<bigint> input, got $other")
    }

  // coefficient arrays are part of the expression's identity (derived from
  // numHashes/seed, which participate in equals/hashCode via the case class)
  @transient private lazy val coeffA: Array[Long] =
    Dedup.hashCoeffs(numHashes, seed).map(_._1)
  @transient private lazy val coeffB: Array[Long] =
    Dedup.hashCoeffs(numHashes, seed).map(_._2)

  override def nullSafeEval(input: Any): Any =
    MinHashSignatureExpr.compute(
      input.asInstanceOf[ArrayData], coeffA, coeffB)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("minhashA", coeffA, "long[]")
    val bRef = ctx.addReferenceObj("minhashB", coeffB, "long[]")
    val helper =
      MinHashSignatureExpr.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData)" +
        s" $helper.compute($c, $aRef, $bRef);")
  }

  override protected def withNewChildInternal(
      newChild: Expression): MinHashSignatureExpr = copy(child = newChild)
}

object MinHashSignatureExpr {

  /** Signature kernel shared by interpreted eval and codegen:
    * copies the base hashes and runs [[AffineMinHash.signature]]. Base
    * hashes must already be reduced below 2^31 (see
    * [[Dedup.baseShingleHashes]]); anything else fails loudly instead of
    * being truncated.
    */
  def compute(base: ArrayData, as: Array[Long], bs: Array[Long]): ArrayData = {
    val m = base.numElements()
    val hs = new Array[Int](m)
    var i = 0
    while (i < m) {
      val h = base.getLong(i)
      if ((h >>> 31) != 0) throw new IllegalArgumentException(
        s"MinHash base hash $h at index $i is outside [0, 2^31)")
      hs(i) = h.toInt
      i += 1
    }
    AffineMinHash.signature(hs, m, as, bs)
  }
}
