package graft.fit

import org.scalatest.funsuite.AnyFunSuite

class FieldsSpec extends AnyFunSuite {

  test("peakdetect2d finds separated bumps in value order") {
    val img = Array.tabulate(64, 64) { (r, c) =>
      math.exp(-((r - 20.0) * (r - 20.0) + (c - 20.0) * (c - 20.0)) / 20.0) +
        0.8 * math.exp(-((r - 45.0) * (r - 45.0) + (c - 45.0) * (c - 45.0)) / 20.0)
    }
    val peaks = Fields.peakdetect2d(img, radius = 5, threshold = 0.3)
    assert(peaks.take(2).toSet === Set((20, 20), (45, 45)))
    assert(peaks.head === ((20, 20))) // ordered by value desc
  }

  test("rotSymmetricTargets lie on the circle with n-fold symmetry") {
    val pts = Fields.rotSymmetricTargets((10.0, 10.0), 5.0, 6)
    assert(pts.length === 6)
    pts.foreach { case (x, y) =>
      val r = math.hypot(x - 10.0, y - 10.0)
      assert(math.abs(r - 5.0) < 1e-12)
    }
  }

  test("TPS interpolation is exact at landmarks and affine for affine data") {
    val src = Array((0.0, 0.0), (10.0, 0.0), (0.0, 10.0), (10.0, 10.0), (5.0, 3.0))
    val vals = src.map { case (x, y) => 2.0 + 0.5 * x - 0.25 * y } // affine
    val f = Fields.tpsSolve(src, vals)
    src.zip(vals).foreach { case (p, v) => assert(math.abs(f(p) - v) < 1e-9) }
    // TPS of affine data reproduces the affine everywhere
    assert(math.abs(f((7.0, 7.0)) - (2.0 + 3.5 - 1.75)) < 1e-9)
  }

  test("splineWarp + applyDfield-style bilinear maps landmarks onto targets") {
    // landmarks displaced from a symmetric hexagon; warp sends targets → landmarks
    val targets = Fields.rotSymmetricTargets((16.0, 16.0), 8.0, 6) :+ ((16.0, 16.0))
    val landmarks = targets.map { case (r, c) => (r + 1.5, c - 0.5) } // pure shift
    val (rd, cd) = Fields.splineWarp(landmarks, targets, 33, 33)
    // evaluating the field at a target grid point returns the landmark position
    targets.foreach { case (r, c) =>
      assert(math.abs(Fields.bilinear(rd, r, c) - (r + 1.5)) < 0.05)
      assert(math.abs(Fields.bilinear(cd, r, c) - (c - 0.5)) < 0.05)
    }
  }

  test("composeAffine with identity leaves the field unchanged") {
    val rd = Array.tabulate(9, 9)((r, _) => r * 1.0)
    val cd = Array.tabulate(9, 9)((_, c) => c * 1.0)
    val (r2, c2) = Fields.composeAffine(rd, cd, Fields.translationAffine(0.0, 0.0))
    for (r <- 0 until 9; c <- 0 until 9) {
      assert(math.abs(r2(r)(c) - rd(r)(c)) < 1e-12)
      assert(math.abs(c2(r)(c) - cd(r)(c)) < 1e-12)
    }
  }

  test("composeAffine applies rotation about a center") {
    val rd = Array.tabulate(21, 21)((r, _) => r * 1.0)
    val cd = Array.tabulate(21, 21)((_, c) => c * 1.0)
    val (r2, c2) = Fields.composeAffine(rd, cd,
      Fields.rotationAffine(math.Pi / 2, (10.0, 10.0)))
    // identity field composed with rot: new field at (r,c) samples the
    // rotated position; (10,14) is offset (0,4) → rotates to offset (-4,0)
    assert(math.abs(r2(10)(14) - 6.0) < 1e-9)
    assert(math.abs(c2(10)(14) - 10.0) < 1e-9)
  }

  test("invertField inverts a pure translation") {
    val n = 33
    // forward warp: corrected (r,c) ← original (r+3, c-2)
    val rd = Array.tabulate(n, n)((r, _) => r + 3.0)
    val cd = Array.tabulate(n, n)((_, c) => c - 2.0)
    val (ir, ic) = Fields.invertField(rd, cd, n, n, ((0.0, n - 1.0), (0.0, n - 1.0)))
    // interior: inverse must send warped position back: ir(r+3, c-2) ≈ r
    for (r <- 5 until n - 5; c <- 5 until n - 5) {
      assert(math.abs(ir(r + 3)(c - 2) - r) < 0.25, s"ir at ($r,$c)")
      assert(math.abs(ic(r + 3)(c - 2) - c) < 0.25, s"ic at ($r,$c)")
    }
  }

  test("invertField equals the reference inversion bit for bit on seeded" +
      " fields with NaN, off-detector, crowded and empty buckets") {
    /** A seeded forward field `scale·(r, c)` plus a smooth wobble and
      * noise; about 1 sample in 20 is NaN and 1 in 20 lies off the detector.
      */
    def field(seed: Long, rows: Int, cols: Int, scale: Double): (Fields.Grid, Fields.Grid) = {
      val rnd = new scala.util.Random(seed)
      def sample(v: Double): Double = rnd.nextInt(20) match {
        case 0 => Double.NaN
        case 1 => v + (if (rnd.nextBoolean()) 1e3 else -1e3)
        case _ => v + 0.2 * rnd.nextGaussian()
      }
      (Array.tabulate(rows, cols)((r, c) => sample(scale * r + 0.7 * math.sin(c / 5.0))),
        Array.tabulate(rows, cols)((r, c) => sample(scale * c + 0.5 * math.cos(r / 7.0))))
    }
    /** Samples per output bucket, bucketed as the inversion buckets them. */
    def bucketCounts(f: (Fields.Grid, Fields.Grid), outRows: Int, outCols: Int,
        range: ((Double, Double), (Double, Double))): Array[Int] = {
      val ((rLo, rHi), (cLo, cHi)) = range
      val counts = new Array[Int](outRows * outCols)
      for (r <- f._1.indices; c <- f._1(0).indices) {
        val (wr, wc) = (f._1(r)(c), f._2(r)(c))
        if (!wr.isNaN && !wc.isNaN) {
          val br = math.round((wr - rLo) * ((outRows - 1) / (rHi - rLo))).toInt
          val bc = math.round((wc - cLo) * ((outCols - 1) / (cHi - cLo))).toInt
          if (br >= 0 && br < outRows && bc >= 0 && bc < outCols) counts(br * outCols + bc) += 1
        }
      }
      counts
    }
    val range = ((0.0, 59.0), (0.0, 43.0))
    val contracting = field(7L, 60, 44, 0.5) // ~3 samples per bucket and axis
    val expanding = field(11L, 30, 22, 2.0) // gaps between the samples
    val nan = Array.fill(6, 5)(Double.NaN) // no sample at all: every cell NaN
    val cases = Seq(
      ("contracting", contracting, 40, 31),
      ("expanding", expanding, 50, 41),
      ("all NaN", (nan, nan), 9, 7),
    )
    assert(bucketCounts(contracting, 40, 31, range).max > 1)
    assert(bucketCounts(expanding, 50, 41, range).count(_ == 0) > 50 * 41 / 2)
    for (f <- Seq(contracting, expanding)) {
      val flat = f._1.flatten ++ f._2.flatten
      assert(flat.exists(_.isNaN) && flat.exists(v => v < -100 || v > 1000))
    }
    for ((name, (rd, cd), outRows, outCols) <- cases) {
      val (ir, ic) = Fields.invertField(rd, cd, outRows, outCols, range)
      val (er, ec) = InvertFieldReference.invertField(rd, cd, outRows, outCols, range)
      assert(ir.length === outRows && ic.length === outRows)
      for (r <- 0 until outRows) {
        assert(java.util.Arrays.equals(ir(r), er(r)), s"$name: row $r of the row field")
        assert(java.util.Arrays.equals(ic(r), ec(r)), s"$name: row $r of the column field")
      }
    }
  }

  test("bilinear survives degenerate 1-row / 1-col grids") {
    val row = Array(Array(1.0, 3.0, 5.0)) // 1 x 3
    assert(Fields.bilinear(row, 0.0, 1.0) === 3.0)
    assert(Fields.bilinear(row, 7.0, 0.5) === 2.0) // r clamps, c interpolates
    val colG = Array(Array(2.0), Array(4.0)) // 2 x 1
    assert(Fields.bilinear(colG, 0.5, 0.0) === 3.0)
    assert(Fields.bilinear(Array(Array(9.0)), 3.0, -1.0) === 9.0) // 1 x 1
  }

  test("momentumCalibrate maps both reference points exactly") {
    val ((convR, convC), (det0R, det0C)) = Fields.momentumCalibrate(
      pointA = (300.0, 200.0), pointB = (100.0, 400.0),
      kA = (1.0, -0.5), kB = (-1.0, 0.5))
    def k(det: Double, conv: Double, det0: Double) = conv * (det - det0)
    assert(math.abs(k(300.0, convR, det0R) - 1.0) < 1e-12)
    assert(math.abs(k(100.0, convR, det0R) + 1.0) < 1e-12)
    assert(math.abs(k(200.0, convC, det0C) + 0.5) < 1e-12)
    assert(math.abs(k(400.0, convC, det0C) - 0.5) < 1e-12)
  }
}
