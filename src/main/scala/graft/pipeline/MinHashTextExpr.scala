package graft.pipeline

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen expression: text → full MinHash signature in ONE pass
  * over the string's bytes — the fused form of
  * `minhashFromBase(baseShingleHashes(text, k), numHashes, seed)` on the
  * default (xxhash64) hash path.
  *
  * The declarative pipeline it replaces evaluates, per document, four
  * interpreted higher-order passes (Catalyst higher-order functions are
  * CodegenFallback): `sequence` materializes a boxed index array,
  * `transform(substr)` allocates one UTF8String copy per shingle
  * position, `array_distinct` builds a hash set over those strings, and a
  * second `transform(pmod(xxhash64))` boxes one Long per shingle.
  *
  * The kernel instead runs two tight loops per document:
  *  - **walk:** one pass over the UTF-8 bytes with a ring of the last `k`
  *    codepoint starts and a wrapping head (no division per character).
  *    Each k-char shingle is hashed IN PLACE (`XXH64.hashUnsafeBytes`
  *    over the parent string's buffer — a codepoint substring of UTF-8 is
  *    a contiguous byte slice, so no copy) and its reduced hash collected
  *    into an `int[]`;
  *  - **minima:** [[AffineMinHash.signature]] computes the `numHashes`
  *    minima hash-major, four functions per pass with register
  *    accumulators, reducing `(h·a + b) mod (2^31 − 1)` with a Mersenne
  *    fold instead of a 64-bit `%`. Repeated shingles stay in the array:
  *    a min over a multiset equals the min over its set, and a distinct
  *    pass cost more on all-distinct text than it saved on the benchmark
  *    corpus (NOTES.md, MinHash kernel entry).
  * All scratch arrays are allocated per call: generated code runs tasks
  * concurrently, so nothing lives in a shared object.
  *
  * Bit-identical to the declarative form, including edge semantics:
  *  - same shingle byte content → same `xxhash64` (seed 42, Spark's
  *    string-hash default) → same `pmod(·, 2^31−1)` reduction → same
  *    seeded affine family and min-reduction as [[MinHashSignatureExpr]]
  *    (both run the one loop in [[AffineMinHash]]);
  *  - texts shorter than `k` (including empty) produce the all-null
  *    signature, exactly like `array_min(empty)` downstream of the old
  *    `when(length >= k, …).otherwise(array())` guard;
  *  - a NULL text ALSO produces the all-null signature (never a null
  *    array): the old guard's null predicate fell through to
  *    `otherwise(array())`, so the output is non-nullable — pinned in
  *    MinHashTextExprSpec.
  */
case class MinHashTextExpr(child: Expression, k: Int, numHashes: Int, seed: Long,
    portable: Boolean = false)
    extends UnaryExpression {

  require(k >= 1, s"shingle size k=$k must be >= 1")
  require(numHashes >= 1, s"numHashes=$numHashes must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  // null text maps to the all-null signature, same as the declarative
  // guard's otherwise(array()) branch — the output itself is never null
  override def nullable: Boolean = false

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult
          .TypeCheckFailure(s"needs a string input, got $other")
    }

  @transient private lazy val coeffA: Array[Long] =
    Dedup.hashCoeffs(numHashes, seed).map(_._1)
  @transient private lazy val coeffB: Array[Long] =
    Dedup.hashCoeffs(numHashes, seed).map(_._2)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    MinHashTextExpr.compute(v.asInstanceOf[UTF8String], k, coeffA, coeffB,
      portable)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("minhashA", coeffA, "long[]")
    val bRef = ctx.addReferenceObj("minhashB", coeffB, "long[]")
    val helper =
      MinHashTextExpr.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val c = child.genCode(ctx)
    val in = ctx.freshName("minhashText")
    ev.copy(
      code = code"""
        |${c.code}
        |org.apache.spark.unsafe.types.UTF8String $in =
        |  ${c.isNull} ? null : ${c.value};
        |org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
        |  (org.apache.spark.sql.catalyst.util.ArrayData)
        |    $helper.compute($in, $k, $aRef, $bRef, $portable);
        |""".stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(
      newChild: Expression): MinHashTextExpr = copy(child = newChild)
}

object MinHashTextExpr {

  private final val XxSeed = 42L // Spark's xxhash64(...) default seed

  /** One-pass text → signature kernel shared by interpreted eval and
    * codegen. Walks codepoint starts exactly like `UTF8String.substring`
    * (so char-k-gram boundaries match the declarative `substr` shingles),
    * hashes each k-gram — `pmod(xxhash64(slice), p)` by default, or the
    * portable Horner polynomial over codepoints ([[TextOps.polyHashFixed]],
    * the form the DuckDB oracle mirrors) — collects the reduced hashes
    * and hands them to [[AffineMinHash.signature]].
    */
  def compute(s: UTF8String, k: Int,
      as: Array[Long], bs: Array[Long], portable: Boolean = false): ArrayData = {
    if (s == null) return AffineMinHash.signature(null, 0, as, bs)
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val nb = s.numBytes()
    // a text of c codepoints has c − k + 1 shingles, and c ≤ nb
    val hs = new Array[Int](math.max(nb - k + 1, 0))
    var m = 0
    // rings of the last k codepoint start offsets (and, for the portable
    // polynomial, codepoint values); after a step `head` is the slot of
    // the oldest, i.e. the first codepoint of the current shingle
    val ring = new Array[Int](k)
    val cps: Array[Int] = if (portable) new Array[Int](k) else null
    var head = 0
    var chars = 0
    var b = 0
    while (b < nb) {
      ring(head) = b
      if (portable) cps(head) = codePointAt(s, b, nb)
      b += UTF8String.numBytesForFirstByte(s.getByte(b))
      head += 1
      if (head == k) head = 0
      chars += 1
      if (chars >= k) {
        var h = 0L
        if (portable) {
          // Horner over the ring, oldest first — polyHashFixed verbatim
          // (base 31, p = 2^31−1; every step stays non-negative)
          var j = head
          var t = 0
          while (t < k) {
            h = AffineMinHash.reduce(h * 31L + cps(j))
            j += 1
            if (j == k) j = 0
            t += 1
          }
        } else {
          val start = ring(head)
          // clamp like UTF8String.substring does on a truncated final char
          val end = if (b < nb) b else nb
          h = AffineMinHash.pmod(
            XXH64.hashUnsafeBytes(base, off + start, end - start, XxSeed))
        }
        hs(m) = h.toInt
        m += 1
      }
    }
    AffineMinHash.signature(hs, m, as, bs)
  }

  /** Unicode codepoint starting at byte offset `b` — the value
    * `ascii(substring(…))` reads in the declarative portable chain
    * (`Chr`/`Ascii` are codepoint-based in Spark). Malformed or
    * truncated sequences fall back to the first byte, matching the
    * clamped-slice behavior of the byte-hash path.
    */
  private def codePointAt(s: UTF8String, b: Int, nb: Int): Int = {
    val b0 = s.getByte(b) & 0xFF
    val len = UTF8String.numBytesForFirstByte(s.getByte(b))
    if (len == 1 || b + len > nb) return b0
    var cp = len match {
      case 2 => b0 & 0x1F
      case 3 => b0 & 0x0F
      case _ => b0 & 0x07
    }
    var i = 1
    while (i < len) {
      cp = (cp << 6) | (s.getByte(b + i) & 0x3F)
      i += 1
    }
    cp
  }
}
