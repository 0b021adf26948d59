package graft.fit

import scala.collection.mutable.ArrayBuffer

/** Driver-side 2-D numerics for momentum correction (SURVEY.md §2.7
  * D7-D11): peak detection on images, thin-plate-spline landmark
  * registration, deformation-field composition, and field inversion.
  * Grids here are ≤ 2048² doubles — driver arrays, mirroring the
  * reference's NumPy usage.
  */
object Fields {

  type Grid = Array[Array[Double]]

  // ---- D7: 2-D peak detection (`feature_extract`, momentum.py:318-438) ----

  /** Local maxima above `threshold·max` within a square neighborhood of
    * radius `radius` (port of the public local-max + threshold approach
    * behind `peakdetect2d`). Returns (row, col) pairs ordered by value
    * descending.
    */
  def peakdetect2d(img: Grid, radius: Int = 10, threshold: Double = 0.3): Array[(Int, Int)] = {
    val rows = img.length
    val cols = img(0).length
    val cutoff = img.map(_.max).max * threshold
    val peaks = ArrayBuffer.empty[(Double, Int, Int)]
    var r = 0
    while (r < rows) {
      var c = 0
      while (c < cols) {
        val v = img(r)(c)
        if (v >= cutoff) {
          var isMax = true
          var dr = -radius
          while (isMax && dr <= radius) {
            var dc = -radius
            while (isMax && dc <= radius) {
              val rr = r + dr
              val cc = c + dc
              if ((dr != 0 || dc != 0) && rr >= 0 && rr < rows && cc >= 0 && cc < cols) {
                if (img(rr)(cc) > v) isMax = false
                // deterministic tie-break: first in scan order wins
                else if (img(rr)(cc) == v && (dr < 0 || (dr == 0 && dc < 0))) isMax = false
              }
              dc += 1
            }
            dr += 1
          }
          if (isMax) peaks += ((v, r, c))
        }
        c += 1
      }
      r += 1
    }
    peaks.sortBy(p => (-p._1, p._2, p._3)).map(p => (p._2, p._3)).toArray
  }

  /** Ideal rotation-symmetric target points: `n` vertices around a center
    * at `radius`, starting at `angle` (the `rotVertexGenerator` role in
    * spline warp estimation, momentum.py:591-793).
    */
  def rotSymmetricTargets(
      center: (Double, Double),
      radius: Double,
      n: Int,
      angle: Double = 0.0,
  ): Array[(Double, Double)] =
    Array.tabulate(n) { i =>
      val a = angle + 2 * math.Pi * i / n
      (center._1 + radius * math.cos(a), center._2 + radius * math.sin(a))
    }

  // ---- D8: thin-plate-spline warp (`spline_warp_estimate`) ----

  /** TPS radial basis `U(r) = r² log r` (0 at r = 0). */
  private def tpsKernel(r2: Double): Double =
    if (r2 <= 0.0) 0.0 else 0.5 * r2 * math.log(r2) // r² log r = ½ r² log r²

  /** Solve the TPS interpolation mapping `sources → targets` and return
    * the interpolant for one output coordinate: `f(p) = a0 + a1·x + a2·y
    * + Σ wᵢ U(|p − srcᵢ|)`.
    */
  def tpsSolve(
      sources: Array[(Double, Double)],
      values: Array[Double],
      regularization: Double = 0.0,
  ): ((Double, Double)) => Double = {
    val n = sources.length
    require(values.length == n && n >= 3, "need >= 3 landmarks")
    val m = Array.ofDim[Double](n + 3, n + 3)
    val rhs = new Array[Double](n + 3)
    for (i <- 0 until n) {
      for (j <- 0 until n) {
        val dx = sources(i)._1 - sources(j)._1
        val dy = sources(i)._2 - sources(j)._2
        m(i)(j) = tpsKernel(dx * dx + dy * dy) + (if (i == j) regularization else 0.0)
      }
      m(i)(n) = 1.0; m(i)(n + 1) = sources(i)._1; m(i)(n + 2) = sources(i)._2
      m(n)(i) = 1.0; m(n + 1)(i) = sources(i)._1; m(n + 2)(i) = sources(i)._2
      rhs(i) = values(i)
    }
    val sol = LinAlg.solve(m, rhs)
    val w = sol.slice(0, n)
    val a = sol.slice(n, n + 3)
    p => {
      var s = a(0) + a(1) * p._1 + a(2) * p._2
      var i = 0
      while (i < n) {
        val dx = p._1 - sources(i)._1
        val dy = p._2 - sources(i)._2
        s += w(i) * tpsKernel(dx * dx + dy * dy)
        i += 1
      }
      s
    }
  }

  /** `spline_warp_estimate` (momentum.py:591-793): TPS registration of
    * detected landmarks onto ideal symmetric targets, evaluated on a
    * `rows × cols` grid → forward deformation fields (rdeform, cdeform)
    * mapping corrected coordinates to original ones.
    */
  def splineWarp(
      landmarks: Array[(Double, Double)],
      targets: Array[(Double, Double)],
      rows: Int,
      cols: Int,
      regularization: Double = 0.0,
  ): (Grid, Grid) = {
    require(landmarks.length == targets.length)
    // inverse mapping (target → source), as map_coordinates expects
    val fr = tpsSolve(targets, landmarks.map(_._1), regularization)
    val fc = tpsSolve(targets, landmarks.map(_._2), regularization)
    val rd = Array.tabulate(rows, cols)((r, c) => fr((r.toDouble, c.toDouble)))
    val cd = Array.tabulate(rows, cols)((r, c) => fc((r.toDouble, c.toDouble)))
    (rd, cd)
  }

  // ---- D9: affine field composition + image resampling ----

  /** Bilinear sample of a grid at fractional (r, c), edge-clamped —
    * driver twin of the executor-side lookup in
    * [[graft.calibrate.Momentum.applyDfield]].
    */
  def bilinear(g: Grid, r: Double, c: Double): Double = {
    val rows = g.length
    val cols = g(0).length
    val rc = math.min(math.max(r, 0.0), rows - 1.0)
    val cc = math.min(math.max(c, 0.0), cols - 1.0)
    // r1/c1 clamp keeps 1-row/1-col grids in bounds (fr/fc are 0 there,
    // so the degenerate axis interpolates to the single sample)
    val r0 = math.max(0, math.min(rc.toInt, rows - 2))
    val c0 = math.max(0, math.min(cc.toInt, cols - 2))
    val r1 = math.min(r0 + 1, rows - 1)
    val c1 = math.min(c0 + 1, cols - 1)
    val fr = rc - r0
    val fc = cc - c0
    g(r0)(c0) * (1 - fr) * (1 - fc) + g(r1)(c0) * fr * (1 - fc) +
      g(r0)(c1) * (1 - fr) * fc + g(r1)(c1) * fr * fc
  }

  /** Compose an affine transform onto existing deformation fields
    * (`coordinate_transform` / `pose_adjustment`, momentum.py:870-1248):
    * the new field is `affine ∘ field`, sampled bilinearly.
    */
  def composeAffine(
      rdeform: Grid,
      cdeform: Grid,
      // 2x3 affine [ [a, b, tr], [c, d, tc] ] applied to (r, c)
      affine: Array[Array[Double]],
  ): (Grid, Grid) = {
    val rows = rdeform.length
    val cols = rdeform(0).length
    val rd = Array.ofDim[Double](rows, cols)
    val cd = Array.ofDim[Double](rows, cols)
    var r = 0
    while (r < rows) {
      var c = 0
      while (c < cols) {
        val ar = affine(0)(0) * r + affine(0)(1) * c + affine(0)(2)
        val ac = affine(1)(0) * r + affine(1)(1) * c + affine(1)(2)
        rd(r)(c) = bilinear(rdeform, ar, ac)
        cd(r)(c) = bilinear(cdeform, ar, ac)
        c += 1
      }
      r += 1
    }
    (rd, cd)
  }

  /** Affine builders mirroring the pose-adjustment options. */
  def translationAffine(dr: Double, dc: Double): Array[Array[Double]] =
    Array(Array(1.0, 0.0, dr), Array(0.0, 1.0, dc))

  def rotationAffine(angle: Double, center: (Double, Double)): Array[Array[Double]] = {
    val cs = math.cos(angle)
    val sn = math.sin(angle)
    Array(
      Array(cs, -sn, center._1 - cs * center._1 + sn * center._2),
      Array(sn, cs, center._2 - sn * center._1 - cs * center._2),
    )
  }

  def scaleAffine(sr: Double, sc: Double, center: (Double, Double)): Array[Array[Double]] =
    Array(
      Array(sr, 0.0, center._1 * (1 - sr)),
      Array(0.0, sc, center._2 * (1 - sc)),
    )

  // ---- D10: inverse deformation field (`generate_inverse_dfield`) ----

  /** Invert a forward deformation field by scattered interpolation
    * (`momentum.py:2074-2146`). The reference uses scipy `griddata`
    * (Delaunay linear); this port scatters every forward sample
    * `(rdeform(r,c), cdeform(r,c)) → (r, c)` into target-grid buckets and
    * reconstructs each target cell by inverse-distance weighting over an
    * expanding neighborhood — deterministic, O(cells · k), no external
    * geometry dependency (documented divergence, same O(h²) accuracy
    * class for smooth fields).
    */
  def invertField(
      rdeform: Grid,
      cdeform: Grid,
      outRows: Int,
      outCols: Int,
      detRange: ((Double, Double), (Double, Double)),
  ): (Grid, Grid) = {
    val rows = rdeform.length
    val cols = rdeform(0).length
    val ((rLo, rHi), (cLo, cHi)) = detRange
    val rScale = (outRows - 1) / (rHi - rLo)
    val cScale = (outCols - 1) / (cHi - cLo)
    // Bucket forward samples by their warped output-grid position, stored
    // as flat primitive arrays via counting sort (two passes) — the naive
    // ArrayBuffer-per-cell layout allocates outRows×outCols×3 buffers,
    // which dominated the runtime at 2048². Pass 1 records each sample's
    // bucket; pass 2 scatters the samples in row-major order, so every
    // bucket keeps its samples in that order (the IDW sums depend on it).
    val nBuckets = outRows * outCols
    val bucket = new Array[Int](rows * cols) // -1: NaN or off the grid
    // offsets(b + 2) counts bucket b; after the prefix sum offsets(b + 1)
    // is bucket b's start and its scatter cursor, and once the cursor has
    // passed every sample of b, bucket b spans offsets(b) until offsets(b + 1)
    val offsets = new Array[Int](nBuckets + 2)
    var r = 0
    while (r < rows) {
      val rowR = rdeform(r)
      val rowC = cdeform(r)
      var c = 0
      while (c < cols) {
        val wr = rowR(c)
        val wc = rowC(c)
        var b = -1
        if (!wr.isNaN && !wc.isNaN) {
          val br = math.round((wr - rLo) * rScale).toInt
          val bc = math.round((wc - cLo) * cScale).toInt
          if (br >= 0 && br < outRows && bc >= 0 && bc < outCols) {
            b = br * outCols + bc
            offsets(b + 2) += 1
          }
        }
        bucket(r * cols + c) = b
        c += 1
      }
      r += 1
    }
    var i = 2
    while (i <= nBuckets) { offsets(i) += offsets(i - 1); i += 1 }
    val total = offsets(nBuckets) + offsets(nBuckets + 1)
    val sampleAt = new Array[Int](total) // r * cols + c of the forward sample
    val sampleW = new Array[Double](total)
    r = 0
    while (r < rows) {
      val rowR = rdeform(r)
      val rowC = cdeform(r)
      var c = 0
      while (c < cols) {
        val s = r * cols + c
        val b = bucket(s)
        if (b >= 0) {
          val pos = offsets(b + 1)
          offsets(b + 1) = pos + 1
          sampleAt(pos) = s
          val dr = rowR(c) - (rLo + (b / outCols) / rScale)
          val dc = rowC(c) - (cLo + (b % outCols) / cScale)
          sampleW(pos) = dr * dr + dc * dc
        }
        c += 1
      }
      r += 1
    }
    val invR = Array.ofDim[Double](outRows, outCols)
    val invC = Array.ofDim[Double](outRows, outCols)
    // ring search + IDW is read-only over the buckets and writes only its
    // own output row -> embarrassingly parallel across driver cores (the
    // reference parallelizes its griddata calls the same way)
    import scala.collection.parallel.CollectionConverters._
    (0 until outRows).par.foreach { or0 =>
      var oc0 = 0
      while (oc0 < outCols) {
        // expanding ring search for the nearest non-empty buckets
        var ring = 0
        var found = false
        var sumW = 0.0
        var accR = 0.0
        var accC = 0.0
        while (!found && ring < math.max(outRows, outCols)) {
          var dr = -ring
          while (dr <= ring) {
            var dc = -ring
            while (dc <= ring) {
              if (math.max(math.abs(dr), math.abs(dc)) == ring) {
                val br = or0 + dr
                val bc = oc0 + dc
                if (br >= 0 && br < outRows && bc >= 0 && bc < outCols) {
                  val b = br * outCols + bc
                  var p = offsets(b)
                  val end = offsets(b + 1)
                  val ringD2 = (dr / rScale) * (dr / rScale) + (dc / cScale) * (dc / cScale)
                  while (p < end) {
                    val w = 1.0 / (sampleW(p) + ringD2 + 1e-12)
                    accR += w * (sampleAt(p) / cols).toDouble
                    accC += w * (sampleAt(p) % cols).toDouble
                    sumW += w
                    p += 1
                  }
                }
              }
              dc += 1
            }
            dr += 1
          }
          if (sumW > 0) found = true
          ring += 1
        }
        invR(or0)(oc0) = if (sumW > 0) accR / sumW else Double.NaN
        invC(or0)(oc0) = if (sumW > 0) accC / sumW else Double.NaN
        oc0 += 1
      }
    }
    (invR, invC)
  }

  // ---- D11: two-point momentum calibration (`MomentumCorrector.calibrate`) ----

  /** Linear k-scale from two reference points: returns (conversion, step)
    * per axis such that `k = conversion · (det − det0) / step` maps
    * `pointA → kA` and `pointB → kB` (equiscale variant uses the mean
    * ratio; momentum.py:1560-1675).
    */
  def momentumCalibrate(
      pointA: (Double, Double),
      pointB: (Double, Double),
      kA: (Double, Double),
      kB: (Double, Double),
  ): ((Double, Double), (Double, Double)) = {
    val convR = (kA._1 - kB._1) / (pointA._1 - pointB._1)
    val convC = (kA._2 - kB._2) / (pointA._2 - pointB._2)
    // det0 chosen so that pointA maps exactly to kA
    val det0R = pointA._1 - kA._1 / convR
    val det0C = pointA._2 - kA._2 / convC
    ((convR, convC), (det0R, det0C))
  }
}
