package graft.pipeline

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.scalatest.funsuite.AnyFunSuite

import AffineMinHash.P

/** The Mersenne-fold arithmetic the MinHash kernels share, checked
  * against plain `%` on seeded random inputs and on the edges where a
  * fold could be off by one multiple of `P`.
  */
class AffineMinHashSpec extends AnyFunSuite {

  private val edges = Seq(0L, P - 1, P, P + 1, 2 * P, (P - 1) * (P - 1),
    (P - 1) * (P - 1) + P - 1)

  test("reduce(x) == x % P on seeded random x in [0, 2^63) and the edges") {
    val rnd = new scala.util.Random(31)
    val xs = edges ++ Seq(Long.MaxValue, Long.MaxValue - P) ++
      Seq.fill(200000)(rnd.nextLong() & Long.MaxValue) ++
      Seq.fill(200000)(rnd.nextLong() >>> (1 + rnd.nextInt(62)))
    xs.foreach { x =>
      assert(x >= 0L)
      assert(AffineMinHash.reduce(x) === x % P, s"x=$x")
    }
  }

  test("pmod(x) == Spark's pmod(x, P) on seeded random signed x") {
    val rnd = new scala.util.Random(37)
    val xs = edges.flatMap(e => Seq(e, -e)) ++
      Seq(Long.MinValue, Long.MinValue + 1, Long.MaxValue, -1L, -P, -P - 1) ++
      Seq.fill(200000)(rnd.nextLong())
    xs.foreach { x =>
      val r = x % P
      assert(AffineMinHash.pmod(x) === (if (r < 0) r + P else r), s"x=$x")
    }
  }

  test("signature matches the %-based reference for every numHashes tail") {
    val rnd = new scala.util.Random(41)
    for (n <- 1 to 9; m <- Seq(1, 2, 7, 300)) {
      val hs = Array.fill(m)(rnd.nextInt(Int.MaxValue))
      hs(0) = (P - 1).toInt // the largest reduced hash
      val coeffs = Dedup.hashCoeffs(n, n.toLong)
      val got = AffineMinHash.signature(hs, m, coeffs.map(_._1), coeffs.map(_._2))
      assert(got.toLongArray().toSeq ===
        MinHashReference.signature(hs.toSeq.map(_.toLong), n, n.toLong), s"n=$n m=$m")
    }
    val empty = AffineMinHash.signature(new Array[Int](4), 0, Array(1L, 2L), Array(3L, 4L))
    assert(empty.numElements() === 2 && empty.isNullAt(0) && empty.isNullAt(1))
  }

  test("MinHashSignatureExpr rejects base hashes outside [0, 2^31) by name") {
    val (as, bs) = (Array(3L, 5L), Array(7L, 11L))
    assert(MinHashSignatureExpr.compute(new GenericArrayData(Array(P)), as, bs)
      .toLongArray().toSeq === Seq((P * 3 + 7) % P, (P * 5 + 11) % P))
    for (bad <- Seq(-1L, 1L << 31, Long.MaxValue)) {
      val e = intercept[IllegalArgumentException](
        MinHashSignatureExpr.compute(new GenericArrayData(Array(1L, bad)), as, bs))
      assert(e.getMessage.contains("outside [0, 2^31)"), e.getMessage)
    }
  }
}
