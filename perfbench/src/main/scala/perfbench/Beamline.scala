package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Processor
import graft.binning.UniformAxis
import graft.calibrate.Energy
import graft.fit.Fields

/** The calibration chain of one beamline run, as a user drives it through
  * [[Processor]]: jitter → momentum correction → k-axis → energy
  * correction → energy axis → delay axis.
  */
object Beamline {

  /** Detector grid of the deformation field, pixels per side. */
  val FieldSize = 2048

  private val detector = (Gen.XRange, Gen.YRange)

  /** Invert the seeded forward field onto the detector grid. */
  def invert(field: (Array[Array[Double]], Array[Array[Double]])): Array[Array[Array[Double]]] = {
    val (ir, ic) = Fields.invertField(field._1, field._2, FieldSize, FieldSize, detector)
    Array(ir, ic)
  }

  /** A fresh processor over `events` with the whole chain applied. */
  def calibrate(spark: SparkSession, events: DataFrame, inverse: Array[Array[Array[Double]]],
      seed: Long): Processor =
    new Processor(spark, events)
      .addJitter(Seq("X", "Y"), amps = Seq(0.5, 0.5), seed = Gen.subSeed(seed, 40))
      .applyMomentumCorrection(inverse, detector, "X", "Y", "Xm", "Ym")
      .applyMomentumCalibration("Xm", "Ym", rStart = 0.0, cStart = 0.0,
        rCenter = 1024.0, cCenter = 1024.0, rConversion = 0.002,
        cConversion = 0.002, rStep = 1.0, cStep = 1.0)
      .applyEnergyCorrection(
        Energy.Correction.spherical(_, _, 1024.0, 1024.0, 0.05, 4096.0),
        tofColumn = "t", xColumn = "Xm", yColumn = "Ym", correctedTofColumn = "tm")
      .appendEnergyAxis("tm", Left((2.4e11, 100.0, 0.5)), binwidth = 2.0, binning = 0)
      .calibrateDelayAxis("ADC", Gen.AdcRange, delayRange = Some((-500.0, 1500.0)))

  /** The calibrated columns the cubes bin. */
  val Columns: Seq[String] = Seq("kx", "ky", "energy", "delay")

  /** Per-column `(min, max)` of the calibrated data. */
  def ranges(df: DataFrame): Map[String, (Double, Double)] = {
    val r = df.agg(min("kx"), max("kx"), min("ky"), max("ky"),
      min("energy"), max("energy"), min("delay"), max("delay")).head()
    Columns.zipWithIndex.map { case (c, i) =>
      c -> (r.getDouble(2 * i), r.getDouble(2 * i + 1))
    }.toMap
  }

  /** A uniform axis whose bin centers span the middle 98% of the column's
    * range, so every cube also drops some out-of-range events.
    */
  def axis(ranges: Map[String, (Double, Double)], column: String, bins: Int): UniformAxis = {
    val (lo, hi) = ranges(column)
    val pad = 0.01 * (hi - lo)
    UniformAxis(column, bins, lo + pad, hi - pad)
  }
}
