package graft.fit

/** The field inversion as [[Fields.invertField]] computed it before its
  * bucket pass was made leaner: two calls of `bucketOf` per sample, a
  * separate `fill` cursor array and the forward position kept as two
  * doubles per sample. Specs compare the library's output against it
  * bit for bit.
  */
object InvertFieldReference {

  def invertField(
      rdeform: Fields.Grid,
      cdeform: Fields.Grid,
      outRows: Int,
      outCols: Int,
      detRange: ((Double, Double), (Double, Double)),
  ): (Fields.Grid, Fields.Grid) = {
    val rows = rdeform.length
    val cols = rdeform(0).length
    val ((rLo, rHi), (cLo, cHi)) = detRange
    val rScale = (outRows - 1) / (rHi - rLo)
    val cScale = (outCols - 1) / (cHi - cLo)
    // Bucket forward samples by their warped output-grid position, stored
    // as flat primitive arrays via counting sort (two passes) — the naive
    // ArrayBuffer-per-cell layout allocates outRows×outCols×3 buffers,
    // which dominated the runtime at 2048².
    val nBuckets = outRows * outCols
    val counts = new Array[Int](nBuckets + 1)
    @inline def bucketOf(wr: Double, wc: Double): Int = {
      if (wr.isNaN || wc.isNaN) -1
      else {
        val br = math.round((wr - rLo) * rScale).toInt
        val bc = math.round((wc - cLo) * cScale).toInt
        if (br >= 0 && br < outRows && bc >= 0 && bc < outCols) br * outCols + bc
        else -1
      }
    }
    var r = 0
    while (r < rows) {
      var c = 0
      while (c < cols) {
        val b = bucketOf(rdeform(r)(c), cdeform(r)(c))
        if (b >= 0) counts(b + 1) += 1
        c += 1
      }
      r += 1
    }
    var i = 0
    while (i < nBuckets) { counts(i + 1) += counts(i); i += 1 }
    val offsets = counts // prefix sums; counts(b)..counts(b+1) = bucket b
    val fill = new Array[Int](nBuckets)
    val total = offsets(nBuckets)
    val sampleR = new Array[Double](total)
    val sampleC = new Array[Double](total)
    val sampleW = new Array[Double](total)
    r = 0
    while (r < rows) {
      var c = 0
      while (c < cols) {
        val wr = rdeform(r)(c)
        val wc = cdeform(r)(c)
        val b = bucketOf(wr, wc)
        if (b >= 0) {
          val pos = offsets(b) + fill(b)
          fill(b) += 1
          sampleR(pos) = r.toDouble
          sampleC(pos) = c.toDouble
          val dr = wr - (rLo + (b / outCols) / rScale)
          val dc = wc - (cLo + (b % outCols) / cScale)
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
                    accR += w * sampleR(p)
                    accC += w * sampleC(p)
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
}
