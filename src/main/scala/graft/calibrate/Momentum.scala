package graft.calibrate

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Momentum calibration — per-event application paths of
  * `sed/calibrator/momentum.py` (T8 distortion correction, T9 k-axis).
  */
object Momentum {

  /** T9 `detector_coordinates_2_k_coordinates`
    * (`sed/calibrator/momentum.py:1997-2032`): linear detector→momentum,
    * `k = conversion · ((r − (r_start + r_step·r_center)) / r_step)` per
    * axis.
    */
  def detectorToK(
      det: Column,
      start: Double,
      center: Double,
      conversion: Double,
      step: Double,
  ): Column = {
    val det0 = start + step * center
    lit(conversion) * ((det - lit(det0)) / lit(step))
  }

  /** `append_k_axis` (`sed/calibrator/momentum.py:1836-1916`): both axes in
    * one projection.
    */
  def appendKAxis(
      df: DataFrame,
      xColumn: String,
      yColumn: String,
      kxColumn: String,
      kyColumn: String,
      rStart: Double, cStart: Double,
      rCenter: Double, cCenter: Double,
      rConversion: Double, cConversion: Double,
      rStep: Double, cStep: Double,
  ): DataFrame =
    df.withColumns(Map(
      kxColumn -> detectorToK(col(xColumn), rStart, rCenter, rConversion, rStep),
      kyColumn -> detectorToK(col(yColumn), cStart, cCenter, cConversion, cStep),
    ))

  /** T8 `apply_dfield` (`sed/calibrator/momentum.py:2035-2071`): per-event
    * bilinear interpolation into the inverse deformation field —
    * `(Xm, Ym) = bilinear(invDfield[0|1], X/detRatioX, Y/detRatioY)`.
    *
    * Each field (a `rows × cols` grid, ≈2048² doubles) is broadcast once
    * per executor and looked up by the native codegen'd
    * [[BilinearGridLookup]] expression — no UDF in the hot path. Matches
    * `scipy.ndimage.map_coordinates(order=1)` with nearest-edge clamping.
    */
  def applyDfield(
      spark: SparkSession,
      df: DataFrame,
      invDfield: Array[Array[Array[Double]]], // [2][rows][cols]
      xColumn: String,
      yColumn: String,
      newXColumn: String,
      newYColumn: String,
      detectorRanges: ((Double, Double), (Double, Double)),
  ): DataFrame =
    dfieldCorrection(spark, invDfield, xColumn, yColumn, newXColumn,
      newYColumn, detectorRanges)(df)

  /** [[applyDfield]] as a reusable transform: the two field broadcasts are
    * built once, here, and every frame the returned function is applied
    * to looks up the same pair (the event and timed tables of one
    * Processor share them instead of shipping the fields twice). The two
    * fields are flattened and broadcast concurrently, as the driver would
    * otherwise serialize and compress one 2048² (33.5 MB) grid after the
    * other.
    */
  def dfieldCorrection(
      spark: SparkSession,
      invDfield: Array[Array[Array[Double]]], // [2][rows][cols]
      xColumn: String,
      yColumn: String,
      newXColumn: String,
      newYColumn: String,
      detectorRanges: ((Double, Double), (Double, Double)),
  ): DataFrame => DataFrame = {
    require(invDfield.length == 2 && !invDfield.contains(null),
      "applyDfield: want two non-null fields")
    // the codegen'd interp indexes (r0+1, c0+1) unconditionally — a
    // degenerate field must get the named error (rows checked before
    // cols so a 0-row field doesn't crash the cols read itself)
    val rows = invDfield(0).length
    require(rows >= 2, s"applyDfield: deformation field must be >= 2x2, " +
      s"got $rows rows")
    require(invDfield(0)(0) != null, "applyDfield: field 0 row 0 is null")
    val cols = invDfield(0)(0).length
    require(cols >= 2,
      s"applyDfield: deformation field must be >= 2x2, got ${rows}x$cols")
    // both flat grids are indexed as rows × cols: a null or ragged row, or
    // a second field of another shape, would shift every cell after it
    for (f <- 0 to 1) {
      val field = invDfield(f)
      require(field.length == rows,
        s"applyDfield: field $f has ${field.length} rows, want $rows")
      for (r <- 0 until rows) {
        val row = field(r)
        require(row != null, s"applyDfield: field $f row $r is null")
        require(row.length == cols, s"applyDfield: field $f row $r has " +
          s"length ${row.length}, want $cols")
      }
    }
    // map detector coordinates onto grid indices (momentum.py:2054-2060)
    val xScale = (rows - 1).toDouble / (detectorRanges._1._2 - detectorRanges._1._1)
    val yScale = (cols - 1).toDouble / (detectorRanges._2._2 - detectorRanges._2._1)
    val xOff = detectorRanges._1._1
    val yOff = detectorRanges._2._1

    import org.apache.spark.sql.GraftBridge
    import scala.collection.parallel.CollectionConverters._
    val grids: Seq[Broadcast[Array[Double]]] =
      invDfield.toSeq.par.map(f => spark.sparkContext.broadcast(f.flatten)).seq
    def lookup(field: Int): Column =
      GraftBridge.column(BilinearGridLookup(
        GraftBridge.expression(col(xColumn).cast("double")),
        GraftBridge.expression(col(yColumn).cast("double")),
        grids(field), rows, cols, xOff, xScale, yOff, yScale))

    df => df.withColumns(Map(
      newXColumn -> lookup(0),
      newYColumn -> lookup(1),
    ))
  }
}
