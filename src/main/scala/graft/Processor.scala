package graft

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.binning._
import graft.calibrate.{Delay, Energy, Momentum}
import graft.config.SedConfig
import graft.dfops.DfOps

/** Workflow metadata tree with the reference's duplicate policies
  * (`sed/core/metadata.py:56-109`): raise / overwrite / merge.
  */
final class MetadataTree {
  private var tree: Map[String, Any] = Map.empty

  def add(entry: Map[String, Any], name: String, policy: String = "raise"): Unit = {
    if (tree.contains(name)) policy match {
      case "raise" =>
        throw new IllegalArgumentException(
          s"Key '$name' already exists; use policy overwrite/merge")
      case "overwrite" => tree += name -> entry
      case "merge" =>
        val prev = tree(name).asInstanceOf[Map[String, Any]]
        tree += name -> (prev ++ entry)
      case other => throw new IllegalArgumentException(s"Unknown policy $other")
    }
    else tree += name -> entry
  }

  def get: Map[String, Any] = tree
}

/** The orchestrating processor — the Spark re-expression of
  * `SedProcessor` (`sed/core/processor.py`): holds the event dataframe,
  * the optional timed companion, calibration parameter state, and the
  * metadata provenance tree; every transform mirrors onto the timed table
  * when its columns exist (`processor.py:1453-1474`).
  *
  * All transforms stay lazy `withColumn` chains; actions happen only in
  * [[compute]] / diagnostics, exactly like the reference's dask graphs.
  */
class Processor(
    val spark: SparkSession,
    private var df: DataFrame,
    private var timedDf: Option[DataFrame] = None,
    val config: JsonNode = JsonNodeFactory.instance.objectNode(),
) {
  val metadata = new MetadataTree

  def dataframe: DataFrame = df
  def timed: Option[DataFrame] = timedDf

  /** The reference's transparent staging hook (`sed/core/processor.py:
    * 340-362` `cpy`, constructed at `:150-162`): when
    * `core.use_copy_tool` is true, mirror a path (or path list) from
    * `core.copy_tool_source` into `core.copy_tool_dest` through
    * [[graft.loader.CopyTool]] and return the staged path; otherwise
    * return the input unchanged. Loaders then read the staged copies —
    * on a cluster this stages network/beamline trees into job-local
    * storage before the distributed decode.
    */
  def cpy(path: String): String =
    copyTool.map(_.copy(path)).getOrElse(path)

  /** [[cpy]] over a path list (`sed/core/processor.py:354-357`). */
  def cpy(paths: Seq[String]): Seq[String] =
    copyTool.map(ct => paths.map(ct.copy(_))).getOrElse(paths)

  private lazy val copyTool: Option[graft.loader.CopyTool] =
    if (!SedConfig.getBoolean(config, "core.use_copy_tool")) None
    else {
      val src = SedConfig.node(config, "core.copy_tool_source").map(_.asText())
      val dst = SedConfig.node(config, "core.copy_tool_dest").map(_.asText())
      // the reference silently disables the tool on missing keys
      // (processor.py:160-162 catches the KeyError) — mirror that
      if (src.isEmpty || dst.isEmpty) None
      else Some(new graft.loader.CopyTool(spark, src.get, dst.get,
        safetyMarginBytes = SedConfig.getDouble(config,
          "core.copy_tool_kwds.safetyMargin", (1L << 30).toDouble).toLong,
        ntasks = SedConfig.getInt(config, "core.copy_tool_kwds.ntasks", 25)))
    }

  // ------------------------------------------------------------------
  // calibration parameter state (the persistence surface of
  // `sed/core/processor.py` — each apply path records its parameters so
  // save* can write them back to the layered config; a fresh Processor
  // constructed with that config re-applies them via *FromConfig)
  // ------------------------------------------------------------------

  private val F = JsonNodeFactory.instance
  val energyCalibration: ObjectNode =
    copySection("energy.calibration")
  val energyCorrection: ObjectNode =
    copySection("energy.correction")
  val energyOffsets: ObjectNode =
    copySection("energy.offsets")
  val momentumCalibration: ObjectNode =
    copySection("momentum.calibration")
  val momentumCorrection: ObjectNode =
    copySection("momentum.correction")
  val momentumTransformations: ObjectNode =
    copySection("momentum.transformations")
  val delayCalibration: ObjectNode =
    copySection("delay.calibration")
  val delayOffsets: ObjectNode =
    copySection("delay.offsets")

  /** Seed a parameter store from the layered config, so a Processor
    * constructed from a saved `sed_config` starts with the beamtime's
    * fitted parameters (`sed/calibrator/energy.py:117`).
    */
  private def copySection(path: String): ObjectNode =
    SedConfig.node(config, path) match {
      case Some(o: ObjectNode) => o.deepCopy()
      case _                   => F.objectNode()
    }

  private def stampCreationDate(o: ObjectNode): Unit =
    if (!o.has("creation_date"))
      o.put("creation_date", System.currentTimeMillis() / 1000.0)

  private def onBoth(cols: Seq[String])(f: DataFrame => DataFrame): Unit = {
    df = f(df)
    timedDf = timedDf.map { t =>
      if (cols.forall(t.columns.contains)) f(t) else t
    }
  }

  /** P2 `filter_column`: validated open-interval filter on both tables. */
  def filterColumn(column: String, lower: Double, upper: Double): this.type = {
    require(df.columns.contains(column), s"Column $column not in dataframe")
    onBoth(Seq(column))(DfOps.applyFilter(_, column, lower, upper))
    metadata.add(Map("column" -> column, "lower" -> lower, "upper" -> upper),
      s"filter_$column", "overwrite")
    this
  }

  /** T1 `add_jitter` on the configured axes (in place, as the reference's
    * default workflow does).
    */
  def addJitter(cols: Seq[String], amps: Seq[Double] = Seq(0.5), seed: Long = 42L): this.type = {
    onBoth(cols)(DfOps.applyJitter(_, cols, Some(cols), amps, "uniform", seed))
    metadata.add(Map("cols" -> cols, "amps" -> amps), "jitter", "overwrite")
    this
  }

  /** T8 `apply_momentum_correction` via a broadcast inverse field; the
    * event and timed tables look up the same broadcast pair.
    */
  def applyMomentumCorrection(
      invDfield: Array[Array[Array[Double]]],
      detectorRanges: ((Double, Double), (Double, Double)),
      xColumn: String = "X", yColumn: String = "Y",
      newX: String = "Xm", newY: String = "Ym",
  ): this.type = {
    onBoth(Seq(xColumn, yColumn))(
      Momentum.dfieldCorrection(spark, invDfield, xColumn, yColumn, newX, newY, detectorRanges))
    metadata.add(Map("applied" -> true), "momentum_correction", "overwrite")
    this
  }

  /** T9 `apply_momentum_calibration`. Records the parameters under the
    * reference's `momentum.calibration` key names
    * (`sed/calibrator/momentum.py:1662-1671,1900-1907`) so
    * [[saveMomentumCalibration]] can persist them.
    */
  def applyMomentumCalibration(
      xColumn: String, yColumn: String,
      rStart: Double, cStart: Double, rCenter: Double, cCenter: Double,
      rConversion: Double, cConversion: Double, rStep: Double, cStep: Double,
  ): this.type = {
    onBoth(Seq(xColumn, yColumn))(
      Momentum.appendKAxis(_, xColumn, yColumn, "kx", "ky",
        rStart, cStart, rCenter, cCenter, rConversion, cConversion, rStep, cStep))
    momentumCalibration.put("rstart", rStart).put("cstart", cStart)
      .put("x_center", rCenter).put("y_center", cCenter)
      .put("kx_scale", rConversion).put("ky_scale", cConversion)
      .put("rstep", rStep).put("cstep", cStep)
    metadata.add(Map("applied" -> true), "momentum_calibration", "overwrite")
    this
  }

  /** [[applyMomentumCalibration]] from the stored/config parameters —
    * the reload half of the reference's calibrate-once-reuse workflow
    * (`tests/test_processor.py:443-491`).
    */
  def applyMomentumCalibrationFromConfig(
      xColumn: String = "X", yColumn: String = "Y",
  ): this.type = {
    require(momentumCalibration.has("kx_scale"),
      "No momentum calibration parameters in config!")
    def g(k: String) = momentumCalibration.get(k).asDouble()
    applyMomentumCalibration(xColumn, yColumn,
      g("rstart"), g("cstart"), g("x_center"), g("y_center"),
      g("kx_scale"), g("ky_scale"), g("rstep"), g("cstep"))
  }

  /** T5 `apply_energy_correction`. */
  def applyEnergyCorrection(
      correction: (Column, Column) => Column,
      tofColumn: String = "t", xColumn: String = "X", yColumn: String = "Y",
      correctedTofColumn: String = "tm",
  ): this.type = {
    onBoth(Seq(tofColumn, xColumn, yColumn))(
      Energy.applyEnergyCorrection(_, tofColumn, correctedTofColumn, correction, xColumn, yColumn))
    metadata.add(Map("applied" -> true), "energy_correction", "overwrite")
    this
  }

  /** `adjust_energy_correction` parameter capture
    * (`sed/core/processor.py:960-1030`): record the profile parameters —
    * `correction_type` one of spherical / Lorentzian / Gaussian /
    * Lorentzian_asymmetric, `center` as `[cx, cy]`, plus the
    * type-specific keyword (diameter / gamma / sigma / gamma2,
    * amplitude2) — without touching the dataframe.
    */
  def adjustEnergyCorrection(
      correctionType: String,
      amplitude: Double,
      center: (Double, Double),
      kwds: Map[String, Double] = Map.empty,
  ): this.type = {
    energyCorrection.removeAll()
    energyCorrection.put("correction_type", correctionType)
      .put("amplitude", amplitude)
    val c = energyCorrection.putArray("center")
    c.add(center._1); c.add(center._2)
    kwds.foreach { case (k, v) => energyCorrection.put(k, v) }
    this
  }

  /** Apply the energy correction from the stored/config parameters —
    * `apply_energy_correction` with `correction=None`
    * (`sed/calibrator/energy.py:1157-1258` profile dispatch).
    */
  def applyEnergyCorrectionFromConfig(
      tofColumn: String = "t", xColumn: String = "X", yColumn: String = "Y",
      correctedTofColumn: String = "tm",
  ): this.type = {
    require(energyCorrection.has("correction_type"),
      "No energy correction parameters in config!")
    val tpe = energyCorrection.get("correction_type").asText()
    val amp = energyCorrection.get("amplitude").asDouble()
    val cx = energyCorrection.get("center").get(0).asDouble()
    val cy = energyCorrection.get("center").get(1).asDouble()
    def kw(k: String): Double = {
      require(energyCorrection.has(k),
        s"Parameter '$k' required for correction type '$tpe'")
      energyCorrection.get(k).asDouble()
    }
    val profile: (Column, Column) => Column = tpe match {
      case "spherical" =>
        Energy.Correction.spherical(_, _, cx, cy, amp, kw("diameter"))
      case "Lorentzian" =>
        Energy.Correction.lorentzian(_, _, cx, cy, amp, kw("gamma"))
      case "Gaussian" =>
        Energy.Correction.gaussian(_, _, cx, cy, amp, kw("sigma"))
      case "Lorentzian_asymmetric" =>
        val amp2 =
          if (energyCorrection.has("amplitude2"))
            energyCorrection.get("amplitude2").asDouble()
          else amp
        // gamma2 defaults to gamma when absent, like amplitude2 := amplitude
        // (sed/calibrator/energy.py:1246-1247) — a config valid for the
        // reference must apply here too
        val gamma2 =
          if (energyCorrection.has("gamma2"))
            energyCorrection.get("gamma2").asDouble()
          else kw("gamma")
        Energy.Correction.lorentzianAsymmetric(_, _, cx, cy, amp, kw("gamma"),
          amp2, gamma2)
      case other =>
        throw new IllegalArgumentException(s"Unknown correction type $other")
    }
    applyEnergyCorrection(profile, tofColumn, xColumn, yColumn,
      correctedTofColumn)
  }

  /** T2/T3 `append_energy_axis` (fit or poly form). Records the
    * parameters under the reference's `energy.calibration` key names —
    * `d`/`t0`/`E0`/`energy_scale` for the fit form, `coeffs`/`E0` for
    * the poly form (`sed/calibrator/energy.py` calibrate →
    * `sed/core/processor.py:1386` save).
    */
  def appendEnergyAxis(
      tofColumn: String,
      calibration: Either[(Double, Double, Double), Seq[Double]],
      binwidth: Double, binning: Int,
      energyScale: String = "kinetic", energyOffset: Double = 0.0,
      energyColumn: String = "energy",
  ): this.type = {
    val expr = calibration match {
      case Left((d, t0, e0)) =>
        // clear the OTHER form's keys: a fit recalibration after a poly
        // one (or vice versa) must not leave stale parameters that a
        // later FromConfig reload would silently prefer
        energyCalibration.remove("coeffs")
        energyCalibration.put("d", d).put("t0", t0).put("E0", e0)
        Energy.tof2ev(col(tofColumn), d, t0, binwidth, binning, energyScale, e0)
      case Right(polyA) =>
        energyCalibration.remove("d"); energyCalibration.remove("t0")
        val arr = energyCalibration.putArray("coeffs")
        polyA.foreach(arr.add)
        energyCalibration.put("E0", energyOffset)
        Energy.tof2evpoly(col(tofColumn), polyA, energyOffset)
    }
    energyCalibration.put("energy_scale", energyScale)
    onBoth(Seq(tofColumn))(_.withColumn(energyColumn, expr))
    metadata.add(Map("scale" -> energyScale), "energy_calibration", "overwrite")
    this
  }

  /** [[appendEnergyAxis]] from the stored/config parameters. Binwidth
    * and binning come from the config's `dataframe` section
    * (`tof_binwidth`/`tof_binning`), exactly as the reference resolves
    * them (`sed/calibrator/energy.py:104-112`); the fit form is chosen
    * when `d`/`t0`/`E0` are all present, else the poly form.
    */
  def appendEnergyAxisFromConfig(
      tofColumn: String = "t", energyColumn: String = "energy",
  ): this.type = {
    val binwidth = SedConfig.getDouble(config, "dataframe.tof_binwidth", 4.125e-12)
    val binning = SedConfig.getInt(config, "dataframe.tof_binning", 1)
    val scale =
      if (energyCalibration.has("energy_scale"))
        energyCalibration.get("energy_scale").asText()
      else "kinetic"
    val calib: Either[(Double, Double, Double), Seq[Double]] =
      if (energyCalibration.has("d") && energyCalibration.has("t0") &&
        energyCalibration.has("E0"))
        Left((energyCalibration.get("d").asDouble(),
          energyCalibration.get("t0").asDouble(),
          energyCalibration.get("E0").asDouble()))
      else if (energyCalibration.has("coeffs")) {
        val coeffs = Seq.newBuilder[Double]
        energyCalibration.get("coeffs").forEach(c => coeffs += c.asDouble())
        Right(coeffs.result())
      } else throw new IllegalArgumentException(
        "No energy calibration parameters in config!")
    val e0 =
      if (energyCalibration.has("E0")) energyCalibration.get("E0").asDouble()
      else 0.0
    appendEnergyAxis(tofColumn, calib, binwidth, binning, scale, e0,
      energyColumn)
  }

  /** T10 `calibrate_delay_axis`. Records the parameters under the
    * reference's `delay.calibration` key names (`adc_range`,
    * `delay_range`/`delay_range_mm`, `time0`;
    * `sed/core/processor.py:1779` save).
    */
  def calibrateDelayAxis(
      adcColumn: String,
      adcRange: (Double, Double),
      delayRange: Option[(Double, Double)] = None,
      delayRangeMm: Option[(Double, Double)] = None,
      time0Mm: Double = 0.0,
  ): this.type = {
    onBoth(Seq(adcColumn))(
      Delay.appendDelayAxis(_, adcColumn, "delay", adcRange, delayRange, delayRangeMm, time0Mm))
    def putRange(key: String, r: (Double, Double)): Unit = {
      val a = delayCalibration.putArray(key); a.add(r._1); a.add(r._2)
    }
    putRange("adc_range", adcRange)
    delayRange.foreach(putRange("delay_range", _))
    delayRangeMm.foreach { r =>
      putRange("delay_range_mm", r)
      delayCalibration.put("time0", time0Mm)
    }
    metadata.add(Map("applied" -> true), "delay_calibration", "overwrite")
    this
  }

  /** [[calibrateDelayAxis]] from the stored/config parameters. */
  def calibrateDelayAxisFromConfig(adcColumn: String = "ADC"): this.type = {
    require(delayCalibration.has("adc_range"),
      "No delay calibration parameters in config!")
    def range(k: String): Option[(Double, Double)] =
      if (delayCalibration.has(k)) {
        val a = delayCalibration.get(k)
        Some((a.get(0).asDouble(), a.get(1).asDouble()))
      } else None
    val adc = range("adc_range").get
    val t0 =
      if (delayCalibration.has("time0"))
        delayCalibration.get("time0").asDouble()
      else 0.0
    calibrateDelayAxis(adcColumn, adc, range("delay_range"),
      range("delay_range_mm"), t0)
  }

  /** T11-T13 `add_offsets`. */
  def addOffsets(
      targetColumn: String,
      offsetColumns: Seq[String],
      weights: Seq[Double],
      preserveMean: Seq[Boolean] = Nil,
      reductions: Seq[Option[String]] = Nil,
  ): this.type = {
    onBoth(targetColumn +: offsetColumns)(
      DfOps.offsetByOtherColumns(_, targetColumn, offsetColumns, weights, preserveMean, reductions))
    metadata.add(Map("target" -> targetColumn), s"offsets_$targetColumn", "overwrite")
    this
  }

  /** T11 `add_energy_offset` (`sed/core/processor.py:1447-1563`): shift
    * the energy axis by a constant and/or weighted columns (sign flips
    * on the binding scale), recording the parameters in the reference's
    * `energy.offsets` shape — `constant` plus one
    * `{weight, preserve_mean, reduction}` entry per column
    * (`sed/calibrator/energy.py:1562-1570`).
    */
  def addEnergyOffsets(
      energyColumn: String = "energy",
      constant: Double = 0.0,
      columns: Seq[String] = Nil,
      weights: Seq[Double] = Nil,
      preserveMean: Seq[Boolean] = Nil,
      reductions: Seq[Option[String]] = Nil,
  ): this.type = {
    val scale =
      if (energyCalibration.has("energy_scale"))
        energyCalibration.get("energy_scale").asText()
      else "kinetic"
    onBoth(energyColumn +: columns)(
      Energy.addOffsets(_, energyColumn, scale, constant, columns, weights,
        preserveMean, reductions))
    recordOffsets(energyOffsets, constant, columns, weights, preserveMean,
      reductions)
    metadata.add(Map("constant" -> constant, "columns" -> columns),
      "energy_offsets", "overwrite")
    this
  }

  /** [[addEnergyOffsets]] from the stored/config parameters. */
  def addEnergyOffsetsFromConfig(energyColumn: String = "energy"): this.type = {
    val (constant, cols, ws, pms, reds) = readOffsets(energyOffsets)
    require(constant != 0.0 || cols.nonEmpty,
      "No energy offset parameters in config!")
    addEnergyOffsets(energyColumn, constant, cols, ws, pms, reds)
  }

  /** T12 `add_delay_offset` (`sed/calibrator/delay.py:207-300`): like
    * the energy variant plus `flip_delay_axis`, recorded under
    * `delay.offsets`.
    */
  def addDelayOffsets(
      delayColumn: String = "delay",
      constant: Double = 0.0,
      flipDelayAxis: Boolean = false,
      columns: Seq[String] = Nil,
      weights: Seq[Double] = Nil,
      preserveMean: Seq[Boolean] = Nil,
      reductions: Seq[Option[String]] = Nil,
  ): this.type = {
    onBoth(delayColumn +: columns) { d =>
      val shifted =
        if (columns.isEmpty) d
        else DfOps.offsetByOtherColumns(d, delayColumn, columns, weights,
          preserveMean, reductions)
      val withConst =
        if (constant == 0.0) shifted
        else shifted.withColumn(delayColumn, col(delayColumn) + lit(constant))
      if (flipDelayAxis)
        withConst.withColumn(delayColumn, -col(delayColumn))
      else withConst
    }
    recordOffsets(delayOffsets, constant, columns, weights, preserveMean,
      reductions)
    if (flipDelayAxis) delayOffsets.put("flip_delay_axis", true)
    metadata.add(Map("constant" -> constant, "flip" -> flipDelayAxis),
      "delay_offsets", "overwrite")
    this
  }

  /** [[addDelayOffsets]] from the stored/config parameters. */
  def addDelayOffsetsFromConfig(delayColumn: String = "delay"): this.type = {
    val (constant, cols, ws, pms, reds) = readOffsets(delayOffsets)
    val flip = delayOffsets.has("flip_delay_axis") &&
      delayOffsets.get("flip_delay_axis").asBoolean()
    require(constant != 0.0 || cols.nonEmpty || flip,
      "No delay offset parameters in config!")
    addDelayOffsets(delayColumn, constant, flip, cols, ws, pms, reds)
  }

  /** Offsets dict in the reference shape: per-column entries live at the
    * TOP level next to `constant` / `creation_date` / `flip_delay_axis`.
    * The store RESETS on each call (the reference rebuilds `offsets = {}`
    * whenever explicit parameters are passed, `delay.py:254-258`) — so a
    * corrected re-run never accumulates superseded columns, a stale
    * constant, or a sticky flip.
    */
  private def recordOffsets(
      store: ObjectNode, constant: Double, columns: Seq[String],
      weights: Seq[Double], preserveMean: Seq[Boolean],
      reductions: Seq[Option[String]],
  ): Unit = {
    store.removeAll()
    if (constant != 0.0) store.put("constant", constant)
    columns.zipWithIndex.foreach { case (c, i) =>
      val o = store.putObject(c)
      o.put("weight", weights.lift(i).getOrElse(1.0))
      o.put("preserve_mean", preserveMean.lift(i).getOrElse(false))
      reductions.lift(i).flatten match {
        case Some(r) => o.put("reduction", r)
        case None    => o.putNull("reduction")
      }
    }
  }

  private def readOffsets(store: ObjectNode)
      : (Double, Seq[String], Seq[Double], Seq[Boolean], Seq[Option[String]]) = {
    val constant =
      if (store.has("constant")) store.get("constant").asDouble() else 0.0
    val reserved = Set("constant", "creation_date", "flip_delay_axis")
    val cols = Seq.newBuilder[String]
    val ws = Seq.newBuilder[Double]
    val pms = Seq.newBuilder[Boolean]
    val reds = Seq.newBuilder[Option[String]]
    store.properties().forEach { e =>
      if (!reserved(e.getKey) && e.getValue.isObject) {
        val o = e.getValue
        cols += e.getKey
        ws += (if (o.has("weight")) o.get("weight").asDouble() else 1.0)
        pms += (o.has("preserve_mean") && o.get("preserve_mean").asBoolean())
        reds += (if (o.has("reduction") && !o.get("reduction").isNull)
          Some(o.get("reduction").asText()) else None)
      }
    }
    (constant, cols.result(), ws.result(), pms.result(), reds.result())
  }

  /** `generate_splinewarp` parameter capture
    * (`sed/core/processor.py:630-671` save_splinewarp): the persisted
    * keys are the GENERATING parameters — feature/outer points, symmetry,
    * center handling, ascale — never the dense deformation fields, which
    * regenerate deterministically from them.
    */
  def setSplinewarp(
      featurePoints: Seq[(Double, Double)],
      rotationSymmetry: Int,
      includeCenter: Boolean,
      useCenter: Boolean,
      centerPoint: Option[(Double, Double)] = None,
      ascale: Seq[Double] = Nil,
  ): this.type = {
    momentumCorrection.removeAll()
    val fp = momentumCorrection.putArray("feature_points")
    featurePoints.foreach { p =>
      val a = fp.addArray(); a.add(p._1); a.add(p._2)
    }
    // outer_points = feature ring without the center (reference keeps
    // both views; with include_center the center is the LAST feature)
    val outer =
      if (includeCenter) featurePoints.dropRight(1) else featurePoints
    val op = momentumCorrection.putArray("outer_points")
    outer.foreach { p => val a = op.addArray(); a.add(p._1); a.add(p._2) }
    momentumCorrection.put("rotation_symmetry", rotationSymmetry)
      .put("include_center", includeCenter)
      .put("use_center", useCenter)
    centerPoint.foreach { p =>
      val a = momentumCorrection.putArray("center_point")
      a.add(p._1); a.add(p._2)
    }
    if (ascale.nonEmpty) {
      val a = momentumCorrection.putArray("ascale")
      ascale.foreach(a.add)
    }
    this
  }

  /** Stored splinewarp feature points (config or [[setSplinewarp]]). */
  def splinewarpFeaturePoints: Seq[(Double, Double)] = {
    val out = Seq.newBuilder[(Double, Double)]
    if (momentumCorrection.has("feature_points"))
      momentumCorrection.get("feature_points").forEach(p =>
        out += ((p.get(0).asDouble(), p.get(1).asDouble())))
    out.result()
  }

  /** `pose_adjustment` parameter capture
    * (`sed/core/processor.py:733-763` save_transformations).
    */
  def setTransformations(
      scale: Double = 1.0, xtrans: Double = 0.0, ytrans: Double = 0.0,
      angle: Double = 0.0,
  ): this.type = {
    momentumTransformations.put("scale", scale).put("xtrans", xtrans)
      .put("ytrans", ytrans).put("angle", angle)
    this
  }

  // ------------------------------------------------------------------
  // config write-back (`sed/core/processor.py:630/733/887/1033/1386/
  // 1565/1779/1899/1928`): persist each fitted parameter set into the
  // layered config file; a later session constructs
  // `new Processor(spark, df, timed, SedConfig.load(...))` and re-applies
  // with the *FromConfig methods.
  // ------------------------------------------------------------------

  private def saveSection(
      outer: String, inner: String, params: ObjectNode, what: String,
      filename: String, overwrite: Boolean,
  ): Unit = {
    if (params.size() == 0)
      throw new IllegalStateException(s"No $what parameters to save!")
    stampCreationDate(params)
    SedConfig.save(SedConfig.section(outer, inner, params.deepCopy()),
      filename, overwrite)
  }

  def saveEnergyCalibration(filename: String = "sed_config.yaml",
      overwrite: Boolean = false): Unit =
    saveSection("energy", "calibration", energyCalibration,
      "energy calibration", filename, overwrite)

  def saveEnergyCorrection(filename: String = "sed_config.yaml",
      overwrite: Boolean = false): Unit =
    saveSection("energy", "correction", energyCorrection,
      "energy correction", filename, overwrite)

  def saveEnergyOffset(filename: String = "sed_config.yaml",
      overwrite: Boolean = false): Unit =
    saveSection("energy", "offsets", energyOffsets,
      "energy offset", filename, overwrite)

  def saveMomentumCalibration(filename: String = "sed_config.yaml",
      overwrite: Boolean = false): Unit =
    saveSection("momentum", "calibration", momentumCalibration,
      "momentum calibration", filename, overwrite)

  def saveSplinewarp(filename: String = "sed_config.yaml",
      overwrite: Boolean = false): Unit =
    saveSection("momentum", "correction", momentumCorrection,
      "momentum correction", filename, overwrite)

  def saveTransformations(filename: String = "sed_config.yaml",
      overwrite: Boolean = false): Unit =
    saveSection("momentum", "transformations", momentumTransformations,
      "momentum transformation", filename, overwrite)

  def saveDelayCalibration(filename: String = "sed_config.yaml",
      overwrite: Boolean = false): Unit =
    saveSection("delay", "calibration", delayCalibration,
      "delay calibration", filename, overwrite)

  def saveDelayOffsets(filename: String = "sed_config.yaml",
      overwrite: Boolean = false): Unit =
    saveSection("delay", "offsets", delayOffsets,
      "delay offset", filename, overwrite)

  /** `save_workflow_params` (`sed/core/processor.py:1928`): run every
    * save method, skipping the parameter sets that are empty — one call
    * persists the whole beamtime calibration state. With
    * `overwrite = true`, only the FIRST write truncates the file and the
    * remaining sections merge into it — passing `overwrite` through to
    * every save (as the reference does) would have each section wipe
    * the previous one, leaving only delay offsets on disk.
    */
  def saveWorkflowParams(filename: String = "sed_config.yaml",
      overwrite: Boolean = false): Unit = {
    var first = overwrite
    Seq(
      (o: Boolean) => saveSplinewarp(filename, o),
      (o: Boolean) => saveTransformations(filename, o),
      (o: Boolean) => saveMomentumCalibration(filename, o),
      (o: Boolean) => saveEnergyCorrection(filename, o),
      (o: Boolean) => saveEnergyCalibration(filename, o),
      (o: Boolean) => saveEnergyOffset(filename, o),
      (o: Boolean) => saveDelayCalibration(filename, o),
      (o: Boolean) => saveDelayOffsets(filename, o),
    ).foreach { m =>
      try { m(first); first = false }
      catch { case _: IllegalStateException => () }
    }
  }

  /** A8 `compute`: transient filters → optional binning-time jitter →
    * sparse histogram → dense cube, with optional normalization by the
    * timed-table histogram (A7). `jitter` lists quantized columns to
    * de-quantize in place with ±0.5 uniform noise before binning
    * (`bin_dataframe(jitter=…)`, `sed/binning/binning.py:511-537`).
    */
  def compute(
      axes: Seq[BinAxis],
      filters: Seq[(String, Double, Double)] = Nil,
      jitter: Seq[String] = Nil,
      normalizeToAcquisitionTime: Option[String] = None,
      timeUnit: Double = 0.001,
      dfPartitions: Option[Int] = None,
  ): BinnedCube = {
    // P7 partition selection (`processor.py:2210-2216`): bin only the
    // FIRST N input files in the loader's natural order — a bare
    // `distinct().limit(n)` would pick an arbitrary n files (Spark gives
    // limit-after-distinct no ordering), silently binning a different
    // subset per run; the reference's "first N partitions" is its sorted
    // file list. takeOrdered keeps only n names per partition and merges
    // them on the driver, so a million-file lake never ships its full
    // distinct file list driver-side. Pruned at the scan via
    // input_file_name.
    val limited = dfPartitions match {
      case None => df
      case Some(n) =>
        val files = df.select(input_file_name()).distinct()
          .rdd.map(_.getString(0))
          .takeOrdered(n)(loader.GenericLoader.naturalOrdering).toSeq
        df.filter(input_file_name().isin(files: _*))
    }
    val filtered = filters.foldLeft(limited) { case (d, (c, lo, up)) =>
      require(d.columns.contains(c), s"Filter column $c not in dataframe")
      DfOps.applyFilter(d, c, lo, up)
    }
    val jittered =
      if (jitter.isEmpty) filtered
      else DfOps.applyJitter(filtered, jitter, colsJittered = Some(jitter))
    val cube = Binning.histogramCube(jittered, axes)
      .withAttrs("units" -> "counts", "long_name" -> "photoelectron counts")
    val result = normalizeToAcquisitionTime match {
      case None => cube
      case Some(axisName) =>
        val ax = axes.find(_.column == axisName)
          .getOrElse(throw new IllegalArgumentException(
            s"Normalization axis $axisName not among bin axes"))
        val norm = getNormalizationHistogram(ax, timeUnit)
        val normalized = cube.normalizeBy(axisName, norm)
        BinnedCube(cube.axisNames, cube.axes,
          normalized.map(v => math.round(v)), cube.shape,
          cube.attrs + ("normalized" -> "per_second")) // integer view
    }
    lastBinned = Some(result)
    result
  }

  private var lastBinned: Option[BinnedCube] = None

  /** The last [[compute]] result, if any (the reference's `_binned` /
    * `_normalized` state that `save` exports).
    */
  def binned: Option[BinnedCube] = lastBinned

  /** Reference `SedProcessor.save` (`sed/core/processor.py:2459-2549`):
    * export the last [[compute]] result, dispatched on the file
    * extension — `.tif`/`.tiff` → ImageJ TIFF stack, `.h5`/`.hdf5` → the
    * reference's HDF5 container layout, `.nxs`/`.nexus` → NXmpes NeXus.
    * For NeXus the processor's provenance [[metadata]] tree lands under
    * `/entry/process` (merged with any caller-supplied `process`
    * entries, caller wins per key), and `extraMetadata` keys `user` /
    * `instrument` / `sample` fill their template groups — the role the
    * pynxtools config + eln files play for the reference.
    */
  def save(faddr: String, extraMetadata: Map[String, Any] = Map.empty): Unit = {
    val cube = lastBinned.getOrElse(
      throw new IllegalStateException("Need to bin data first!"))
    // Locale.ROOT: default-locale case mapping breaks extension
    // dispatch on tr/az-locale JVMs (".TIF" -> ".t\u0131f")
    val lower = faddr.toLowerCase(java.util.Locale.ROOT)
    if (lower.endsWith(".tif") || lower.endsWith(".tiff"))
      graft.export.Tiff.writeCube(cube, faddr)
    else if (lower.endsWith(".h5") || lower.endsWith(".hdf5"))
      graft.export.CubeIO.writeH5(cube, faddr)
    else if (lower.endsWith(".nxs") || lower.endsWith(".nexus")) {
      val userProc: Map[String, Any] = extraMetadata.get("process") match {
        case Some(m: Map[_, _]) => m.asInstanceOf[Map[String, Any]]
        // a scalar under "process" keeps the same value-dataset shape the
        // other template keys get, instead of silently vanishing
        case Some(scalar) => Map("value" -> scalar)
        case None => Map.empty
      }
      // provenance includes the Python-side closing step: this writer
      // emits the NXmpes skeleton + local validation; the FAIRmat
      // appdef check runs in pynxtools (sed/io/nexus.py:13-47) — record
      // the exact command so a CI can pick it up from the file itself
      val validation: Map[String, Any] = Map("validation" -> Map(
        "local" -> "graft.export.CubeIO.validateNexus (skeleton, ran at export)",
        "appdef_command" -> s"verify_nexus $faddr",
        "appdef_tool" -> "pynxtools (pip install pynxtools[mpes])"))
      graft.export.CubeIO.writeNexus(cube, faddr,
        extraMetadata + ("process" -> (metadata.get ++ validation ++ userProc)))
    } else throw new IllegalArgumentException(
      s"Unrecognized file format: $faddr")
  }

  /** A9 `get_normalization_histogram` from the timed table (A7), as a
    * dense per-bin array aligned with the axis.
    */
  def getNormalizationHistogram(ax: BinAxis, timeUnit: Double = 0.001): Array[Double] = {
    val t = timedDf.getOrElse(
      throw new IllegalStateException("No timed dataframe available"))
    val rows = Binning
      .normalizationHistogramFromTimedDataframe(t, ax, timeUnit)
      .collect()
    val out = new Array[Double](ax.nBins)
    rows.foreach(r => out(r.getLong(0).toInt) = r.getDouble(1))
    out
  }
}
