package graft.pipeline

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** The seeded affine MinHash family shared by [[MinHashTextExpr]] and
  * [[MinHashSignatureExpr]]: `sig_j = min over shingles of
  * (a_j·h + b_j) mod p` with the Mersenne prime `p = 2^31 − 1` and the
  * coefficients of [[Dedup.hashCoeffs]]. This object is the only place
  * that knows the reduction and the loop shape; both expressions hand it
  * an `int[]` of reduced shingle hashes.
  *
  * The reduction is a Mersenne fold instead of a 64-bit `%`: for
  * `x = hi·2^31 + lo`, `x ≡ hi + lo (mod p)`. Two folds bring any
  * `0 ≤ x < 2^63` to at most `p + 2`, and one conditional subtract lands
  * it in `[0, p)` — exactly `x % p`. The family's products stay below
  * 2^62 (`h, a, b < 2^31`).
  */
object AffineMinHash {

  final val P = 0x7fffffffL // 2^31 − 1

  /** `x % P` for `0 ≤ x < 2^63` (two Mersenne folds, one subtract). */
  def reduce(x: Long): Long = {
    val y = (x & P) + (x >>> 31) // < 2^31 + 2^32
    val z = (y & P) + (y >>> 31) // ≤ P + 2
    if (z >= P) z - P else z
  }

  /** Spark's `pmod(x, P)` for any signed `x`: a negative `x` is
    * `(x & Long.MaxValue) − 2^63`, and `2^63 ≡ 2 (mod P)`.
    */
  def pmod(x: Long): Long = {
    val r = reduce(x & Long.MaxValue) - ((x >>> 63) << 1)
    if (r < 0) r + P else r
  }

  /** The signature over the reduced shingle hashes `hs(0 until m)`, each
    * in `[0, 2^31)`. Hash-major: four hash functions per pass over the
    * array, their minima in registers. No shingle (`m == 0`) gives the
    * all-null signature, like `array_min` over an empty array.
    */
  def signature(hs: Array[Int], m: Int, as: Array[Long], bs: Array[Long]): ArrayData = {
    val n = as.length
    if (m == 0) return new GenericArrayData(new Array[Any](n))
    val mins = new Array[Long](n)
    var j = 0
    while (j + 4 <= n) {
      val a0 = as(j); val a1 = as(j + 1); val a2 = as(j + 2); val a3 = as(j + 3)
      val b0 = bs(j); val b1 = bs(j + 1); val b2 = bs(j + 2); val b3 = bs(j + 3)
      var m0, m1, m2, m3 = Long.MaxValue
      var i = 0
      while (i < m) {
        val h = hs(i).toLong
        val v0 = reduce(h * a0 + b0)
        val v1 = reduce(h * a1 + b1)
        val v2 = reduce(h * a2 + b2)
        val v3 = reduce(h * a3 + b3)
        if (v0 < m0) m0 = v0
        if (v1 < m1) m1 = v1
        if (v2 < m2) m2 = v2
        if (v3 < m3) m3 = v3
        i += 1
      }
      mins(j) = m0; mins(j + 1) = m1; mins(j + 2) = m2; mins(j + 3) = m3
      j += 4
    }
    while (j < n) {
      val a = as(j)
      val b = bs(j)
      var mn = Long.MaxValue
      var i = 0
      while (i < m) {
        val v = reduce(hs(i).toLong * a + b)
        if (v < mn) mn = v
        i += 1
      }
      mins(j) = mn
      j += 1
    }
    new GenericArrayData(mins)
  }
}
