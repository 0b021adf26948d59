package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.binning.{BinnedCube, Binning, UniformAxis}
import graft.export.CubeIO
import graft.loader.Hdf5Minimal

class ProcessorSpec extends SparkSpec with FixtureReport {

  private def events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")

  test("full workflow: jitter → corrections → calibrations → compute") {
    val base = events
      .withColumn("X", col("value"))
      .withColumn("Y", col("value") * 0.5)
      .withColumn("t", col("value") + 1000.0)
    val p = new Processor(spark, base, Some(base))
    p.addJitter(Seq("X", "Y"), Seq(0.1))
      .applyEnergyCorrection(
        calibrate.Energy.Correction.spherical(_, _, 250.0, 125.0, 0.1, 2000.0))
      .appendEnergyAxis("tm", Left((1.0e5, -10.0, 0.0)), binwidth = 2.0, binning = 0)
      .calibrateDelayAxis("value", (0.0, 500.0), delayRangeMm = Some((25.0, 25.6)),
        time0Mm = 25.3)
      .filterColumn("energy", -1e9, 1e9)
    assert(Seq("tm", "energy", "delay").forall(p.dataframe.columns.contains))
    // timed table mirrored the shared-column transforms
    assert(p.timed.get.columns.contains("energy"))
    val cube = p.compute(Seq(UniformAxis("energy", 50,
      0.0, 0.06)))
    assert(cube.total > 0)
    assert(cube.attrs("units") === "counts")
    // metadata provenance recorded along the chain
    assert(p.metadata.get.keySet.intersect(
      Set("jitter", "energy_correction", "energy_calibration", "delay_calibration")).size === 4)
  }

  test("momentum correction broadcasts the inverse field once for both" +
      " tables") {
    val base = spark.range(16).select(
      col("id").cast("double").as("X"), (col("id") * 0.5).as("Y"))
    val field = Array.tabulate(2, 4, 4)((f, r, c) => f + r * 0.1 + c * 0.01)
    val p = new Processor(spark, base, Some(base))
      .applyMomentumCorrection(field, ((0.0, 16.0), (0.0, 16.0)))
    def gridIds(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.queryExecution.analyzed.flatMap(_.expressions.flatMap(_.collect {
        case l: calibrate.BilinearGridLookup => l.bcGrid.id
      })).toSet
    val ids = gridIds(p.dataframe)
    assert(ids.size === 2)
    assert(gridIds(p.timed.get) === ids)
    assert(p.timed.get.select("Xm", "Ym").collect() ===
      p.dataframe.select("Xm", "Ym").collect())
  }

  test("SparkEntry.entry produces a non-empty flagship result") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  // ---------------------------------------------------------------
  // calibration persistence round-trips (tests/test_processor.py:276-656:
  // calibrate → save → FRESH processor from the saved config → applied
  // columns identical)
  // ---------------------------------------------------------------

  private def base = events
    .withColumn("X", col("value"))
    .withColumn("Y", col("value") * 0.5)
    .withColumn("t", col("value") + 1000.0)

  private def tmpCfg(name: String): String =
    Files.createTempDirectory("sedcfg").resolve(name).toString

  private def hashOf(df: org.apache.spark.sql.DataFrame, cols: String*): Long =
    df.select((xxhash64(cols.map(c => round(col(c) * 1e9)): _*)
        % 1000000007L).as("h"))
      .agg(sum("h")).collect().head.getLong(0)

  test("energy calibration: calibrate → save → fresh processor applies" +
      " identically (fit + poly, yaml + json)") {
    for (ext <- Seq("yaml", "json"); poly <- Seq(false, true)) {
      val file = tmpCfg(s"sed_config.$ext")
      val p1 = new Processor(spark, base)
      val calib: Either[(Double, Double, Double), Seq[Double]] =
        if (poly) Right(Seq(1.1e-9, -3.2e-6, 4.8e-3))
        else Left((1.0e5, -10.0, 1.5))
      p1.appendEnergyAxis("t", calib, binwidth = 4.125e-12, binning = 1,
        energyScale = "binding")
      p1.saveEnergyCalibration(file)
      // fresh processor, parameters ONLY from the saved config
      val cfg = config.SedConfig.load(Seq(file))
      assert(config.SedConfig.getString(cfg,
        "energy.calibration.energy_scale") === "binding")
      val p2 = new Processor(spark, base, config = cfg)
      p2.appendEnergyAxisFromConfig("t")
      assert(hashOf(p1.dataframe, "energy") === hashOf(p2.dataframe, "energy"),
        s"ext=$ext poly=$poly")
    }
  }

  test("energy correction: adjust → save → fresh processor applies" +
      " identically (all four profiles)") {
    val profiles = Seq(
      ("spherical", Map("diameter" -> 3000.0)),
      ("Lorentzian", Map("gamma" -> 920.0)),
      ("Gaussian", Map("sigma" -> 700.0)),
      ("Lorentzian_asymmetric",
        Map("gamma" -> 920.0, "gamma2" -> 750.0, "amplitude2" -> 1.2)),
    )
    profiles.foreach { case (tpe, kwds) =>
      val file = tmpCfg("sed_config.yaml")
      val p1 = new Processor(spark, base)
      p1.adjustEnergyCorrection(tpe, 2.5, (250.0, 125.0), kwds)
      p1.applyEnergyCorrectionFromConfig()
      p1.saveEnergyCorrection(file)
      val p2 = new Processor(spark, base,
        config = config.SedConfig.load(Seq(file)))
      assert(p2.energyCorrection.get("correction_type").asText() === tpe)
      p2.applyEnergyCorrectionFromConfig()
      assert(hashOf(p1.dataframe, "tm") === hashOf(p2.dataframe, "tm"), tpe)
    }
  }

  test("momentum calibration: apply → save → fresh processor applies" +
      " identically; kx_scale != ky_scale survives") {
    val file = tmpCfg("sed_config.yaml")
    val p1 = new Processor(spark, base)
    p1.applyMomentumCalibration("X", "Y",
      rStart = 0.0, cStart = 0.0, rCenter = 256.0, cCenter = 128.0,
      rConversion = 0.0122, cConversion = 0.0141, rStep = 1.0, cStep = 0.5)
    p1.saveMomentumCalibration(file)
    val cfg = config.SedConfig.load(Seq(file))
    assert(config.SedConfig.getDouble(cfg, "momentum.calibration.kx_scale") !==
      config.SedConfig.getDouble(cfg, "momentum.calibration.ky_scale"))
    val p2 = new Processor(spark, base, config = cfg)
    p2.applyMomentumCalibrationFromConfig("X", "Y")
    assert(Seq("kx", "ky").forall(p2.dataframe.columns.contains))
    assert(hashOf(p1.dataframe, "kx", "ky") === hashOf(p2.dataframe, "kx", "ky"))
  }

  test("delay calibration + offsets: save → fresh processor applies" +
      " identically including flip") {
    val file = tmpCfg("sed_config.yaml")
    val p1 = new Processor(spark, base)
    p1.calibrateDelayAxis("value", (0.0, 500.0),
      delayRangeMm = Some((25.0, 25.6)), time0Mm = 25.3)
    p1.addDelayOffsets("delay", constant = 0.75, flipDelayAxis = true,
      columns = Seq("X"), weights = Seq(0.01))
    p1.saveDelayCalibration(file)
    p1.saveDelayOffsets(file)
    val p2 = new Processor(spark, base,
      config = config.SedConfig.load(Seq(file)))
    p2.calibrateDelayAxisFromConfig("value")
    p2.addDelayOffsetsFromConfig("delay")
    assert(hashOf(p1.dataframe, "delay") === hashOf(p2.dataframe, "delay"))
  }

  test("energy offsets: binding-scale sign flip survives the round-trip") {
    val file = tmpCfg("sed_config.yaml")
    val p1 = new Processor(spark, base)
    p1.appendEnergyAxis("t", Left((1.0e5, -10.0, 0.0)), 4.125e-12, 1,
      energyScale = "binding")
    p1.addEnergyOffsets("energy", constant = 0.5, columns = Seq("X"),
      weights = Seq(1.0), preserveMean = Seq(true))
    p1.saveEnergyCalibration(file)
    p1.saveEnergyOffset(file)
    val p2 = new Processor(spark, base,
      config = config.SedConfig.load(Seq(file)))
    p2.appendEnergyAxisFromConfig("t")
    p2.addEnergyOffsetsFromConfig("energy")
    assert(hashOf(p1.dataframe, "energy") === hashOf(p2.dataframe, "energy"))
  }

  test("save_workflow_params persists every non-empty section to ONE file;" +
      " splinewarp/transformations params survive") {
    val file = tmpCfg("sed_config.yaml")
    val p1 = new Processor(spark, base)
    p1.appendEnergyAxis("t", Left((1.0e5, -10.0, 0.0)), 4.125e-12, 1)
    p1.applyMomentumCalibration("X", "Y", 0.0, 0.0, 256.0, 128.0,
      0.0122, 0.0141, 1.0, 0.5)
    p1.calibrateDelayAxis("value", (0.0, 500.0),
      delayRange = Some((-100.0, 200.0)))
    val feats = Seq((10.0, 20.0), (30.0, 40.0), (50.0, 60.0), (25.0, 35.0))
    p1.setSplinewarp(feats, rotationSymmetry = 3, includeCenter = true,
      useCenter = true, centerPoint = Some((25.0, 35.0)))
    p1.setTransformations(scale = 1.05, xtrans = 2.0, ytrans = -3.0,
      angle = 0.1)
    p1.saveWorkflowParams(file)
    val cfg = config.SedConfig.load(Seq(file))
    // every section landed in the one file
    for (path <- Seq("energy.calibration.d", "momentum.calibration.kx_scale",
      "momentum.correction.rotation_symmetry",
      "momentum.transformations.angle", "delay.calibration.adc_range"))
      assert(config.SedConfig.node(cfg, path).isDefined, path)
    // empty sections did NOT write (no energy.correction was set)
    assert(config.SedConfig.node(cfg, "energy.correction").isEmpty)
    val p2 = new Processor(spark, base, config = cfg)
    assert(p2.splinewarpFeaturePoints === feats)
    assert(p2.momentumTransformations.get("scale").asDouble() === 1.05)
    // and the saved creation_date stamp is present (reference behavior)
    assert(p2.energyCalibration.has("creation_date"))
  }

  test("recalibration replaces the stored form: fit→poly reload uses poly;" +
      " offsets re-run resets the store") {
    val file = tmpCfg("sed_config.yaml")
    val p1 = new Processor(spark, base)
    // fit form first, then the CORRECTED poly calibration
    p1.appendEnergyAxis("t", Left((1.0e5, -10.0, 1.5)), 2.0, 0)
    p1.appendEnergyAxis("t", Right(Seq(1.1e-9, -3.2e-6, 4.8e-3)), 2.0, 0,
      energyOffset = 0.25)
    assert(!p1.energyCalibration.has("d") && !p1.energyCalibration.has("t0"))
    // offsets: first attempt superseded by a corrected one
    p1.addDelayOffsets("t", constant = 0.75, flipDelayAxis = true,
      columns = Seq("X"), weights = Seq(0.01))
    p1.addDelayOffsets("t", constant = 0.0, flipDelayAxis = false,
      columns = Seq("Y"), weights = Seq(0.5))
    assert(!p1.delayOffsets.has("constant") &&
      !p1.delayOffsets.has("flip_delay_axis") && !p1.delayOffsets.has("X"))
    p1.saveEnergyCalibration(file)
    p1.saveDelayOffsets(file)
    val cfg = config.SedConfig.load(Seq(file))
    assert(config.SedConfig.node(cfg, "energy.calibration.d").isEmpty)
    assert(config.SedConfig.getDoubles(cfg,
      "energy.calibration.coeffs").length === 3)
    assert(config.SedConfig.node(cfg, "delay.offsets.X").isEmpty)
    assert(config.SedConfig.node(cfg, "delay.offsets.Y").isDefined)
  }

  test("saveWorkflowParams(overwrite=true) keeps every section, not just" +
      " the last one") {
    val file = tmpCfg("sed_config.yaml")
    // pre-existing junk that overwrite must clear
    config.SedConfig.save(config.SedConfig.parseString(
      """{"stale": {"junk": 1}}"""), file)
    val p1 = new Processor(spark, base)
    p1.appendEnergyAxis("t", Left((1.0e5, -10.0, 0.0)), 4.125e-12, 1)
    p1.applyMomentumCalibration("X", "Y", 0.0, 0.0, 256.0, 128.0,
      0.0122, 0.0141, 1.0, 0.5)
    p1.calibrateDelayAxis("value", (0.0, 500.0),
      delayRange = Some((-100.0, 200.0)))
    p1.saveWorkflowParams(file, overwrite = true)
    val cfg = config.SedConfig.load(Seq(file))
    assert(config.SedConfig.node(cfg, "stale").isEmpty) // truncated once
    for (path <- Seq("energy.calibration.d", "momentum.calibration.kx_scale",
      "delay.calibration.adc_range"))
      assert(config.SedConfig.node(cfg, path).isDefined, path)
  }

  test("SedConfig.save merge semantics: existing keys survive unless" +
      " overwrite") {
    val file = tmpCfg("sed_config.yaml")
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    config.SedConfig.save(m.readTree("""{"a": {"x": 1, "y": 2}}"""), file)
    config.SedConfig.save(m.readTree("""{"a": {"y": 9}, "b": true}"""), file)
    val merged = config.SedConfig.load(Seq(file))
    assert(config.SedConfig.getInt(merged, "a.x") === 1) // survived
    assert(config.SedConfig.getInt(merged, "a.y") === 9) // new wins
    assert(config.SedConfig.getBoolean(merged, "b"))
    config.SedConfig.save(m.readTree("""{"c": 3}"""), file, overwrite = true)
    val clobbered = config.SedConfig.load(Seq(file))
    assert(config.SedConfig.node(clobbered, "a").isEmpty)
    assert(config.SedConfig.getInt(clobbered, "c") === 3)
  }

  test("compute applies transient filters and normalization") {
    val base = events
    val p = new Processor(spark, base, Some(base))
    val ax = UniformAxis("value", 20, 0.0, 500.0)
    val full = p.compute(Seq(ax))
    val filtered = p.compute(Seq(ax), filters = Seq(("value", 100.0, 400.0)))
    assert(filtered.total < full.total)
    val err = intercept[IllegalArgumentException] {
      p.compute(Seq(ax), filters = Seq(("nope", 0.0, 1.0)))
    }
    assert(err.getMessage.contains("nope"))
  }

  test("compute(dfPartitions = N) bins the FIRST N files in natural order") {
    import spark.implicits._
    // file names whose natural order (2 < 10) differs from the
    // lexicographic order ("f10" < "f2") — the arbitrary
    // distinct-then-limit selection this pins against would also flake
    // run to run
    val dir = Files.createTempDirectory("proc-parts").toString
    Seq((2, 100.0), (2, 200.0)).toDF("k", "value")
      .coalesce(1).write.parquet(s"$dir/f2")
    Seq((10, 300.0)).toDF("k", "value")
      .coalesce(1).write.parquet(s"$dir/f10")
    val base = spark.read.parquet(s"$dir/f2", s"$dir/f10")
    val p = new Processor(spark, base, None)
    val ax = UniformAxis("value", 10, 0.0, 500.0)
    assert(p.compute(Seq(ax), dfPartitions = Some(1)).total === 2L) // f2 only
    assert(p.compute(Seq(ax), dfPartitions = Some(2)).total === 3L)
  }

  test("compute-time jitter de-quantizes an integer column across bins") {
    import spark.implicits._
    // all mass on the integer value 5 → without jitter one bin, with ±0.5
    // uniform jitter the two bins straddling it both receive counts
    val quantized = Seq.fill(500)(5.0).toDF("q")
    val p = new Processor(spark, quantized, None)
    val ax = UniformAxis("q", 10, 0.5, 10.5) // width-1 bins, edges at integers
    val plain = p.compute(Seq(ax))
    assert(plain.data.count(_ > 0) === 1)
    val jittered = p.compute(Seq(ax), jitter = Seq("q"))
    assert(jittered.data.count(_ > 0) === 2)
    assert(jittered.total === plain.total)
  }

  test("metadata duplicate policies: raise, overwrite, merge") {
    val m = new MetadataTree
    m.add(Map("a" -> 1), "k")
    intercept[IllegalArgumentException] { m.add(Map("b" -> 2), "k") }
    m.add(Map("b" -> 2), "k", "merge")
    assert(m.get("k") === Map("a" -> 1, "b" -> 2))
    m.add(Map("c" -> 3), "k", "overwrite")
    assert(m.get("k") === Map("c" -> 3))
  }

  test("save dispatches on extension and lands provenance under /entry/process") {
    val p = new Processor(spark, events, Some(events))
    intercept[IllegalStateException] { p.save("x.h5") } // bin first
    val ax = Seq(UniformAxis("value", 10, 0.0, 500.0),
      UniformAxis("user_id", 8, 0.0, 200.0))
    val cube = p.compute(ax, filters = Seq(("value", 100.0, 400.0)))
    val dir = Files.createTempDirectory("psave").toFile.getPath
    try {
      p.save(s"$dir/out.h5")
      assert(CubeIO.readH5(s"$dir/out.h5").data.toSeq === cube.data.toSeq)
      p.save(s"$dir/out.tif")
      val (tdata, n, rows, cols) = graft.export.Tiff.read(s"$dir/out.tif")
      assert(n.toLong * rows * cols === cube.data.length.toLong)
      p.save(s"$dir/out.nxs",
        extraMetadata = Map(
          "sample" -> Map("name" -> "WSe2", "temperature" -> 300.0),
          "process" -> Map("note" -> "unit test")))
      assert(CubeIO.readNexus(s"$dir/out.nxs").data.toSeq === cube.data.toSeq)
      val entry = Hdf5Minimal.read(s"$dir/out.nxs").group("entry")
      val sample = entry.group("sample")
      assert(sample.attrs("NX_class") === "NXsample")
      assert(sample.dataset("name").data === Hdf5Minimal.Str("WSe2"))
      assert(sample.dataset("temperature").data
        .asInstanceOf[Hdf5Minimal.F64].values.toSeq === Seq(300.0))
      val proc = entry.group("process")
      // caller-supplied process entries merge with the provenance tree
      assert(proc.dataset("note").data === Hdf5Minimal.Str("unit test"))
      // apply paths record provenance — exercise one and re-save: the
      // metadata tree's entry must appear as an NXcollection subgroup
      p.filterColumn("value", 0.0, 999.0)
      p.compute(ax)
      p.save(s"$dir/out2.nxs")
      val proc2 = Hdf5Minimal.read(s"$dir/out2.nxs")
        .group("entry").group("process")
      assert(proc2.hasChild("filter_value"))
      val fg = proc2.group("filter_value")
      assert(fg.attrs("NX_class") === "NXcollection")
      assert(fg.dataset("lower").data
        .asInstanceOf[Hdf5Minimal.F64].values.toSeq === Seq(0.0))
      intercept[IllegalArgumentException] { p.save(s"$dir/out.xyz") }
    } finally {
      new java.io.File(dir).listFiles().foreach(_.delete())
      new java.io.File(dir).delete()
    }
  }

  test("NeXus save under a path longer than 64 characters reads back") {
    val p = new Processor(spark, events, Some(events))
    val cube = p.compute(Seq(UniformAxis("value", 10, 0.0, 500.0),
      UniformAxis("user_id", 8, 0.0, 200.0)))
    val dir = Files.createTempDirectory("psave").toFile
    val path = s"${dir.getPath}/${"long_nexus_file_name_" * 4}scan.nxs"
    try {
      assert(path.length > 64)
      p.save(path)
      assert(CubeIO.readNexus(path).data.toSeq === cube.data.toSeq)
      val validation = Hdf5Minimal.read(path).group("entry").group("process")
        .group("validation")
      assert(validation.dataset("appdef_command").data ===
        Hdf5Minimal.Str(s"verify_nexus $path"))
    } finally {
      dir.listFiles().foreach(_.delete())
      dir.delete()
    }
  }

  test("CubeIO dense round trip preserves data, axes, shape") {
    val cube = BinnedCube(
      Seq("x", "y"),
      Seq(Array(0.5, 1.5), Array(0.0, 1.0, 2.0)),
      Array(1L, 2L, 3L, 4L, 5L, 6L),
      Seq(2, 3),
      Map("units" -> "counts"))
    val path = Files.createTempDirectory("cube").toFile.getPath + "/c"
    CubeIO.writeDense(cube, path)
    val back = CubeIO.readDense(path)
    assert(back.data.toSeq === cube.data.toSeq)
    assert(back.shape === cube.shape)
    assert(back.axisNames === cube.axisNames)
    assert(back.axes.head.toSeq === Seq(0.5, 1.5))
    // adversarial names/values (self-review round-13): a quoted attr
    // value must emit VALID JSON, and a non-\w axis name ("E-EF") must
    // survive the reload — both previously corrupted the header
    val tricky = BinnedCube(
      Seq("E-EF", "k.x"),
      Seq(Array(0.5, 1.5), Array(0.0, 1.0, 2.0)),
      Array(1L, 2L, 3L, 4L, 5L, 6L),
      Seq(2, 3),
      Map("note" -> """say "hi" \ done"""))
    val p2 = Files.createTempDirectory("cube2").toFile.getPath + "/c"
    CubeIO.writeDense(tricky, p2)
    val b2 = CubeIO.readDense(p2)
    assert(b2.axisNames === Seq("E-EF", "k.x"))
    assert(b2.data.toSeq === tricky.data.toSeq)
    // the header is real JSON (jackson parses it)
    val header = Files.readString(java.nio.file.Paths.get(p2 + ".json"))
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper().readTree(header)
    assert(parsed.get("attrs").get("note").asText() === """say "hi" \ done""")
  }

  test("CubeIO HDF5 cube container round-trips in the reference layout") {
    val cube = BinnedCube(
      Seq("kx", "energy"),
      Seq(Array(0.5, 1.5), Array(0.0, 1.0, 2.0)),
      Array(1L, 2L, 3L, 4L, 5L, 6L),
      Seq(2, 3),
      Map("units" -> "counts", "long_name" -> "intensity", "run" -> "30"))
    val path = Files.createTempDirectory("cubeh5").toFile.getPath + "/binned.h5"
    CubeIO.writeH5(cube, path)
    // the file IS HDF5 with the reference's group layout
    val root = graft.loader.Hdf5Minimal.read(path)
    assert(root.dataset("binned/BinnedData").dims === Seq(2L, 3L))
    assert(root.dataset("axes/ax0").attrs("name") === "kx")
    val back = CubeIO.readH5(path)
    assert(back.data.toSeq === cube.data.toSeq)
    assert(back.shape === cube.shape)
    assert(back.axisNames === cube.axisNames)
    assert(back.axes(1).toSeq === Seq(0.0, 1.0, 2.0))
    assert(back.attrs === cube.attrs)
  }

  test("CubeIO NeXus export writes an NXmpes tree that round-trips") {
    val cube = BinnedCube(
      Seq("kx", "energy"),
      Seq(Array(0.5, 1.5), Array(0.0, 1.0, 2.0)),
      Array(1L, 2L, 3L, 4L, 5L, 6L),
      Seq(2, 3),
      Map("title" -> "scan 30", "units.energy" -> "eV", "run" -> "30"))
    val path = Files.createTempDirectory("nexus").toFile.getPath + "/scan.nxs"
    CubeIO.writeNexus(cube, path)
    // the file IS HDF5 with the NXmpes plottable-data skeleton
    val root = graft.loader.Hdf5Minimal.read(path)
    val entry = root.group("entry")
    assert(entry.attrs("NX_class") === "NXentry")
    assert(entry.dataset("definition").data ===
      graft.loader.Hdf5Minimal.Str("NXmpes"))
    assert(entry.dataset("title").data === graft.loader.Hdf5Minimal.Str("scan 30"))
    val data = entry.group("data")
    assert(data.attrs("NX_class") === "NXdata")
    assert(data.attrs("signal") === "data")
    assert(data.attrs("axes") === "kx:energy")
    assert(data.attrs("energy_indices") === "1")
    assert(data.dataset("data").dims === Seq(2L, 3L))
    assert(data.dataset("energy").attrs("units") === "eV")
    val back = CubeIO.readNexus(path)
    assert(back.data.toSeq === cube.data.toSeq)
    assert(back.shape === cube.shape)
    assert(back.axisNames === cube.axisNames)
    assert(back.axes(1).toSeq === Seq(0.0, 1.0, 2.0))
    assert(back.attrs === cube.attrs)
  }

  test("CubeIO NXmpes validator: clean export passes, corruptions are named") {
    import graft.loader.Hdf5Minimal
    val cube = BinnedCube(
      Seq("kx", "energy"),
      Seq(Array(0.5, 1.5), Array(0.0, 1.0, 2.0)),
      Array(1L, 2L, 3L, 4L, 5L, 6L),
      Seq(2, 3),
      Map("title" -> "scan 30", "units.kx" -> "1/A", "units.energy" -> "eV"))
    val dir = Files.createTempDirectory("nxval").toFile.getPath
    CubeIO.writeNexus(cube, s"$dir/good.nxs")
    assert(CubeIO.validateNexus(s"$dir/good.nxs") === Seq.empty)

    // hand-build violations and check each is reported by name
    def dataGroup(attrs: Map[String, String], axLen: Int = 2) = Hdf5Minimal.Group(
      datasets = Seq(
        Hdf5Minimal.Dataset("data", Hdf5Minimal.I64(Array(1L, 2L, 3L, 4L, 5L, 6L)),
          shape = Some(Seq(2L, 3L))),
        Hdf5Minimal.Dataset("kx", Hdf5Minimal.F64(
          Array.tabulate(axLen)(_.toDouble)), Map("units" -> "1/A")),
        Hdf5Minimal.Dataset("energy", Hdf5Minimal.F64(
          Array(0.0, 1.0, 2.0)), Map("units" -> "eV"))),
      attrs = attrs)
    def write(name: String, entryAttrs: Map[String, String],
        dAttrs: Map[String, String], axLen: Int = 2, definition: String = "NXmpes") = {
      Hdf5Minimal.write(s"$dir/$name", Hdf5Minimal.Group(
        subgroups = Seq("entry" -> Hdf5Minimal.Group(
          datasets = Seq(Hdf5Minimal.Dataset("definition", Hdf5Minimal.Str(definition))),
          subgroups = Seq("data" -> dataGroup(dAttrs, axLen)),
          attrs = entryAttrs)),
        attrs = Map("default" -> "entry")))
      CubeIO.validateNexus(s"$dir/$name")
    }
    val full = Map("NX_class" -> "NXdata", "signal" -> "data",
      "axes" -> "kx:energy", "kx_indices" -> "0", "energy_indices" -> "1")
    val entryOk = Map("NX_class" -> "NXentry", "default" -> "data")

    assert(write("v0.nxs", entryOk, full) === Seq.empty)
    assert(write("v1.nxs", entryOk, full - "signal")
      .exists(_.contains("@signal attribute missing")))
    assert(write("v2.nxs", entryOk, full - "axes")
      .exists(_.contains("@axes attribute missing")))
    assert(write("v3.nxs", entryOk, full - "energy_indices")
      .exists(_.contains("energy_indices attribute missing")))
    assert(write("v4.nxs", entryOk, full + ("kx_indices" -> "7"))
      .exists(_.contains("out of range")))
    assert(write("v5.nxs", entryOk, full, axLen = 5)
      .exists(_.contains("kx has 5 points but signal dim 0 is 2")))
    assert(write("v6.nxs", entryOk, full, definition = "NXarpes")
      .exists(_.contains("must be the string NXmpes")))
    assert(write("v7.nxs", entryOk - "NX_class", full)
      .exists(_.contains("@NX_class must be NXentry")))
    assert(write("v8.nxs", entryOk, full + ("NX_class" -> "NXlog"))
      .exists(_.contains("@NX_class must be NXdata")))
  }

  test("CubeIO sparse round trip via parquet + sidecar") {
    val ax = UniformAxis("value", 10, 0.0, 500.0)
    val hist = Binning.histogram(events, Seq(ax))
    val path = Files.createTempDirectory("sparse").toFile.getPath + "/h"
    CubeIO.writeSparse(hist, Seq(ax), path, Map("units" -> "counts"))
    val (back, meta) = CubeIO.readSparse(spark, path)
    assert(back.agg(sum("cnt")).first().getLong(0) ===
      hist.agg(sum("cnt")).first().getLong(0))
    assert(meta.contains("bin_value") && meta.contains("counts"))
  }

  test("end-to-end: dataset fetch -> cpy staging -> load -> compute parity") {
    // the reference's load-by-dataset-name flow (dataset.py -> processor
    // cpy -> loader): registry row served by a local HTTP server carrying
    // the REAL mpes fixture, fetched by Datasets.get, staged through
    // Processor.cpy, loaded, computed — the staged path must be
    // value-identical to loading the fixture directly
    import java.nio.file.{Files, Paths}
    val fixturePath = "/root/reference/tests/data/loader/mpes/Scan0030_2.h5"
    assumeFixture(fixturePath)
    val h5 = Files.readAllBytes(Paths.get(fixturePath))
    val zipBytes = {
      val bos = new java.io.ByteArrayOutputStream()
      val z = new java.util.zip.ZipOutputStream(bos)
      val e = new java.util.zip.ZipEntry("Scan0030_2.h5")
      e.setTime(1600000000000L)
      z.putNextEntry(e); z.write(h5); z.closeEntry(); z.close()
      bos.toByteArray
    }
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/scan.zip",
      (ex: com.sun.net.httpserver.HttpExchange) => {
        ex.sendResponseHeaders(200, zipBytes.length)
        ex.getResponseBody.write(zipBytes)
        ex.close()
      })
    server.start()
    val root = Files.createTempDirectory("e2e").toString
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/scan.zip"
      Files.createDirectories(Paths.get(s"$root/module"))
      Files.writeString(Paths.get(s"$root/module/datasets.json"),
        s"""{"Scan": {"url": "$url"}}""")
      val fetched = new graft.loader.Datasets(
        s"$root/module/datasets.json", s"$root/user/datasets.json",
        s"$root/folder/datasets.json").get("Scan", rootDir = Some(root))
      val fetchedH5 = new java.io.File(fetched.dir)
        .listFiles().filter(_.getName.endsWith(".h5")).map(_.toString)
      assert(fetchedH5.length === 1)
      // cpy staging into a job-local dest
      val dst = Files.createTempDirectory("e2e_dst").toString
      val cfg = graft.config.SedConfig.parseString(
        s"""{"core": {"use_copy_tool": true,
           | "copy_tool_source": "${fetched.dir}",
           | "copy_tool_dest": "$dst"}}""".stripMargin)
      val stagingProc = new Processor(spark, spark.range(1).toDF(), config = cfg)
      val staged = stagingProc.cpy(fetchedH5.head)
      assert(staged.contains(dst) && staged != fetchedH5.head, staged)
      // load staged vs direct, compute the same cube, compare exactly
      def cubeOf(path: String): (Long, Seq[Double]) = {
        val (ev, _) = graft.loader.MpesLoader.readDataframe(spark, Seq(path))
        val p = new Processor(spark, ev)
        val cube = p.compute(Seq(UniformAxis("X", 64, 0.0, 2048.0)))
        (ev.count(), cube.data.toSeq.map(_.toDouble))
      }
      val (nStaged, cubeStaged) = cubeOf(staged)
      val (nDirect, cubeDirect) = cubeOf(fixturePath)
      assert(nStaged === nDirect && nStaged > 0)
      assert(cubeStaged === cubeDirect)
    } finally server.stop(0)
  }

  test("cpy: config-gated staging through the CopyTool (processor.py:340-362)") {
    import java.nio.file.{Files, Paths}
    val src = Files.createTempDirectory("cpy_src").toString
    val dst = Files.createTempDirectory("cpy_dst").toString
    val f = Paths.get(src, "scan", "a.dat")
    Files.createDirectories(f.getParent)
    Files.writeString(f, "events")
    // tool disabled (default): paths pass through untouched
    val off = new Processor(spark, spark.range(1).toDF())
    assert(off.cpy(f.toString) === f.toString)
    // enabled: the mirrored path comes back and the bytes landed
    val cfg = graft.config.SedConfig.parseString(
      s"""{"core": {"use_copy_tool": true,
         | "copy_tool_source": "$src", "copy_tool_dest": "$dst"}}""".stripMargin)
    val on = new Processor(spark, spark.range(1).toDF(), config = cfg)
    val staged = on.cpy(f.toString)
    assert(staged !== f.toString)
    assert(Files.readString(Paths.get(dst, "scan", "a.dat")) === "events")
    assert(on.cpy(Seq(f.toString)).head === staged)
    // missing keys silently disable, like the reference's KeyError catch
    val broken = graft.config.SedConfig.parseString(
      """{"core": {"use_copy_tool": true}}""")
    val p2 = new Processor(spark, spark.range(1).toDF(), config = broken)
    assert(p2.cpy(f.toString) === f.toString)
  }
}
