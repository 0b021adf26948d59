package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.binning._
import graft.calibrate.{Delay, Energy, Momentum}
import graft.dfops.{DfOps, Interp}
import graft.loader.ChannelLoader

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry is one operator from SURVEY.md §2 exercised over the
  * driver's parquet tables; its `oracleSql` twin is the DuckDB-runnable
  * equivalent. Column names are aliased identically on both sides (the
  * driver's compare sorts columns by name before hashing).
  */
object SparkEntry {

  /** Remove a round-trip query's temp directory (best-effort — a failed
    * delete must not fail the gate query that already produced its rows).
    */
  private def deleteRecursively(dir: java.nio.file.Path): Unit =
    try {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(dir)
      try walk.iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close() // the stream holds directory handles
    } catch { case _: Exception => () }

  def table(s: SparkSession, dir: String, name: String): DataFrame = {
    val df = s.read.parquet(s"$dir/$name.parquet")
    // The driver's events.parquet has shipped `ts` as both TIMESTAMP(NANOS)
    // (read as Long nanos via the nanosAsLong flag) and timestamp[us]
    // (read as TIMESTAMP_NTZ). Normalize to Long NANOSECONDS since epoch —
    // the type every downstream operator and oracle (`epoch_ns`/`epoch_us`)
    // assumes. Sessions run UTC, so the NTZ→timestamp cast is exact.
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.TimestampType) |
           Some(org.apache.spark.sql.types.TimestampNTZType) =>
        df.withColumn("ts", expr("unix_micros(cast(ts as timestamp)) * 1000"))
      case _ => df
    }
  }

  /** Deterministic per-SF scratch dir for the TFRecord gate rows,
    * cleared before each run (writeRecords refuses a pre-existing
    * COMMITTED dir). NOTE: `java.io.tmpdir` works only because the gate
    * runs single-box (local / local-cluster); on a real multi-node
    * cluster executor-local /tmp is invisible to the driver's shard
    * listing — use a shared FS (hdfs/s3a) there, as TfRecord's own
    * scaladoc says. Do not copy this tmpdir pattern into pipelines.
    */
  private def tfrecGateDir(s: SparkSession, dir: String, tag: String): String = {
    val tmp = s"${sys.props("java.io.tmpdir")}/graft_tfrec_${tag}gate_" +
      math.abs(dir.hashCode).toString
    val hp = new org.apache.hadoop.fs.Path(tmp)
    hp.getFileSystem(s.sparkContext.hadoopConfiguration).delete(hp, true)
    tmp
  }

  // ---- shared axis definitions (single source of truth for Spark + oracle) ----

  /** 1-D: 100 bins over events.value, center-range [0, 500) (A2/A3). */
  val ax1dValue: UniformAxis = UniformAxis("value", 100, 0.0, 500.0)

  /** 2-D on lineitem: quantity × discount. */
  val axQty: UniformAxis = UniformAxis("l_quantity", 49, 1.0, 50.0)
  val axDisc: UniformAxis = UniformAxis("l_discount", 11, 0.0, 0.11)

  /** 4-D on lineitem (the binning_4d analog, BASELINE.md). */
  val ax4d: Seq[UniformAxis] = Seq(
    UniformAxis("l_quantity", 25, 1.0, 50.0),
    UniformAxis("l_extendedprice", 20, 900.0, 105000.0),
    UniformAxis("l_discount", 11, 0.0, 0.11),
    UniformAxis("l_tax", 9, 0.0, 0.09),
  )

  /** 4-D at the reference's 100-bins-per-axis cube scale (1e8 cells) —
    * past [[graft.binning.HistogramKernel.kernelCellsFloor]], so
    * [[Binning.histogram]] counts it with the two-phase kernel. */
  val ax4dHuge: Seq[UniformAxis] = Seq(
    UniformAxis("l_quantity", 100, 1.0, 50.0),
    UniformAxis("l_extendedprice", 100, 900.0, 105000.0),
    UniformAxis("l_discount", 100, 0.0, 0.11),
    UniformAxis("l_tax", 100, 0.0, 0.09),
  )

  /** Explicit (non-uniform) edges over events.value (`_hist_from_bins`). */
  val axEdges: EdgesAxis =
    EdgesAxis("value", Array(0.0, 10.0, 50.0, 100.0, 200.0, 350.0, 500.0))

  // ---- shared transform parameters (single source for Spark + oracle) ----

  /** T3 polynomial coefficients, highest degree first. */
  val polyACoeffs: Seq[Double] = Seq(1.0e-7, -2.0e-4, 0.3)

  /** T6 8-sector detector delays. */
  val sectorDelays: Array[Double] =
    Array(0.0, 0.25, -0.25, 0.5, -0.5, 0.125, -0.125, 0.0)

  /** T14 rotation angle constants. */
  val cos03: Double = math.cos(0.3)
  val sin03: Double = math.sin(0.3)

  /** T15 interpolation knots. */
  val interpXs: Array[Double] = Array(0.0, 100.0, 250.0, 400.0, 500.0)
  val interpYs: Array[Double] = Array(1.0, 0.5, 2.0, -1.0, 3.0)

  /** ANN: 8 seeded random hyperplanes over the 64-dim embeddings. */
  val lshPlanes: Array[Array[Double]] = pipeline.Similarity.hyperplanes(64, 8)

  /** Deterministic formula weight table for the q_quality_score gate
    * (mirrored literally in [[OracleSql.qualityScoreSql]]).
    */
  val qualityScoreWeights: Array[Double] =
    Array.tabulate(64)(i => ((i.toLong * 2654435761L) % 97 - 48) / 100.0)

  /** Porter-stemming gate fixture: 40 words covering every algorithm
    * step, with the hand-verified FULL-PIPELINE stems (per-step examples
    * from the paper differ — e.g. relational → relate in step 2 alone
    * but → relat after step 5a). Mirrored literally in the q_stem oracle.
    */
  val stemPairs: Seq[(String, String)] = Seq(
    "caresses" -> "caress", "ponies" -> "poni", "ties" -> "ti",
    "cats" -> "cat", "feed" -> "feed", "agreed" -> "agre",
    "plastered" -> "plaster", "motoring" -> "motor", "sing" -> "sing",
    "conflated" -> "conflat", "troubled" -> "troubl", "sized" -> "size",
    "hopping" -> "hop", "tanned" -> "tan", "falling" -> "fall",
    "failing" -> "fail", "filing" -> "file", "happy" -> "happi",
    "sky" -> "sky", "relational" -> "relat", "conditional" -> "condit",
    "rational" -> "ration", "valenci" -> "valenc", "hesitanci" -> "hesit",
    "digitizer" -> "digit", "operator" -> "oper", "feudalism" -> "feudal",
    "decisiveness" -> "decis", "hopefulness" -> "hope",
    "formaliti" -> "formal", "triplicate" -> "triplic",
    "formative" -> "form", "electriciti" -> "electr", "hopeful" -> "hope",
    "goodness" -> "good", "revival" -> "reviv", "allowance" -> "allow",
    "inference" -> "infer", "replacement" -> "replac", "probate" -> "probat",
  )
  val stemWords: Seq[String] = stemPairs.map(_._1)

  /** Sessionization gap: 12 h in nanoseconds (events.ts is Long nanos). */
  val sessionGapNs: Long = 12L * 3600 * 1000 * 1000 * 1000

  /** Per-source sampling rates (permille) for the stratified-sample gate
    * query; sources not listed drop out entirely.
    */
  val stratifiedRates: Map[String, Int] =
    Map("src0" -> 900, "src1" -> 500, "src2" -> 250, "src3" -> 100)

  /** Target language mixture for `q_resample` (shares sum to 1; `zh`
    * deliberately unlisted so the drop-out path is exercised).
    */
  val resampleShares: Map[String, Double] =
    Map("en" -> 0.5, "de" -> 0.2, "es" -> 0.2, "fr" -> 0.1)

  /** Split layout for `q_split` (5 % held out past the last range). */
  val splitRanges: Seq[(String, Int)] =
    Seq("train" -> 800, "val" -> 100, "test" -> 50)

  /** Epoch multipliers for `q_epochs`: exact-integer, fractional, drop,
    * and (for unlisted sources) the pass-through default of 1.0.
    */
  val epochMap: Map[String, Double] =
    Map("src0" -> 2.5, "src1" -> 0.4, "src2" -> 0.0, "src3" -> 2.0)

  /** T8: analytic 2×9×9 inverse deformation field (node values derive
    * from closed-form polynomials so the oracle can recompute them; the
    * production path broadcasts measured grids the same way).
    */
  val dfieldDims: (Int, Int) = (9, 9)
  def dfieldNode(field: Int, i: Int, j: Int): Double =
    if (field == 0) 0.1 * i * i + 0.2 * j * j + 0.05 * i * j
    else 2.0 + 0.3 * i + 0.07 * j * j - 0.01 * i * j
  val dfieldGrid: Array[Array[Array[Double]]] =
    Array.tabulate(2, dfieldDims._1, dfieldDims._2)(dfieldNode)
  val dfieldRanges: ((Double, Double), (Double, Double)) =
    ((0.0, 50.0), (0.0, 8.0))

  // ---- flagship ----

  /** Flagship: the full reference calibration workflow — jitter →
    * momentum correction (broadcast dfield bilinear) → momentum
    * calibration → energy correction → energy calibration → delay axis —
    * then a 2-D (kx, energy) histogram on sf0.001 lineitem; driver
    * smoke-checks rows>0. (lineitem, not events: events.parquet carries
    * TIMESTAMP(NANOS), which would require the nanosAsLong flag on
    * whatever session the driver passes in.)
    */
  def entry(spark: SparkSession): DataFrame = {
    val li = table(spark, "/root/testdata/sf0.001", "lineitem")
    val jittered = DfOps.applyJitter(li, Seq("l_quantity"), amps = Seq(0.5))
    val corrected = calibrate.Momentum.applyDfield(spark, jittered,
      dfieldGrid, "l_quantity", "l_linenumber", "xm", "ym", dfieldRanges)
    val withK = calibrate.Momentum.appendKAxis(corrected, "xm", "ym",
      "kx", "ky", rStart = 0.0, cStart = 0.0, rCenter = 10.0, cCenter = 2.0,
      rConversion = 0.01, cConversion = 0.01, rStep = 1.0, cStep = 1.0)
    val chained = Energy
      .applyEnergyCorrection(withK, "l_extendedprice", "tm",
        Energy.Correction.spherical(_, _, 25.0, 4.0, 0.05, 100.0),
        "l_quantity", "l_linenumber")
      .withColumn("energy",
        Energy.tof2ev(col("tm"), 1.0e6, 100.0, 2.0, 0, "kinetic", 0.5))
    val withDelay = Delay.appendDelayAxis(chained, "l_discount", "delay",
      adcRange = (0.0, 0.11), delayRange = Some((-2.0, 2.0)))
    Binning.histogram(withDelay, Seq(
      UniformAxis("kx", 50, -0.25, 0.25),
      UniformAxis("energy", 100, 0.5, 1.5)))
  }

  // ---- operator inventory ----

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A2/A3: uniform 1-D histogram (binning_1d analog)
    "q_bin1d" -> ((s, dir) =>
      Binning.histogram(table(s, dir, "events"), Seq(ax1dValue))),
    // A3: 2-D histogram
    "q_bin2d" -> ((s, dir) =>
      Binning.histogram(table(s, dir, "lineitem"), Seq(axQty, axDisc))),
    // A3: 4-D histogram (binning_4d analog)
    "q_bin4d" -> ((s, dir) =>
      Binning.histogram(table(s, dir, "lineitem"), ax4d)),
    // A3 at reference cube scale: 100 bins/axis = 1e8 cells ≥ the 2^17
    // kernel floor, so this row gates the primitive two-phase count
    // kernel (CountByKey) the classic q_bin4d cube is too small to reach
    "q_bin4d_huge" -> ((s, dir) =>
      Binning.histogram(table(s, dir, "lineitem"), ax4dHuge)),
    // A2: explicit-edge histogram (binsearch kernel)
    "q_bin_edges" -> ((s, dir) =>
      Binning.histogram(table(s, dir, "events"), Seq(axEdges))),
    // A3 return_partitions=True: per-category cubes in one aggregation
    "q_bin_per_part" -> ((s, dir) =>
      Binning.histogramPer(
        table(s, dir, "events"), col("event_type"), "event_type", Seq(ax1dValue))),
    // A3 return_partitions=True at kernel scale: integral part ids with
    // caller-supplied bounds fold into the flat Long key as a synthetic
    // leading axis (7 parts × 100³ cells = 7e6 ≥ the 2^17 auto floor →
    // the CountByKey kernel; see HistogramKernelSpec's plan pins)
    "q_bin_per_part_huge" -> ((s, dir) =>
      Binning.histogramPer(
        table(s, dir, "lineitem"), col("l_linenumber"), "l_linenumber",
        ax4dHuge.take(3), partBounds = Some((1L, 7L)))),
    // A12 count rate / elapsed time (`get_count_rate`/`get_elapsed_time`,
    // sed/loader/base/loader.py): per-type rows via the grouped formula,
    // plus an 'ALL' row computed by the ACTUAL driver-side operator — so
    // the scalar path itself sits under the oracle
    "q_count_rate" -> ((s, dir) => {
      val e = table(s, dir, "events").select(col("event_type"), col("ts"))
      val grouped = e.groupBy(col("event_type")).agg(
        count(lit(1)).as("n"),
        (max(col("ts")) - min(col("ts"))).cast("double").as("elapsed_ns"))
        .select(col("event_type"), col("n"), col("elapsed_ns"),
          round(col("n").cast("double") / col("elapsed_ns") * lit(1.0e9), 6)
            .as("rate_per_sec"))
      val nAll = e.count()
      val rateNs = graft.loader.GenericLoader.countRate(e, "ts") // events/ns
      val dtNs = graft.loader.GenericLoader.elapsedTime(e, "ts")
      val all = s.range(1).select(lit("ALL").as("event_type"),
        lit(nAll).as("n"), lit(dtNs).as("elapsed_ns"),
        round(lit(rateNs * 1.0e9), 6).as("rate_per_sec"))
      grouped.unionByName(all)
    }),
    // K1/K2 cube sinks under the oracle: bin a 2-D cube, round-trip it
    // through BOTH the HDF5 writer/reader and the TIFF stack writer/reader,
    // and emit the reloaded nonzero cells — DuckDB recomputes the histogram
    // directly, so any loss in either codec breaks the hash
    "q_cube_roundtrip" -> ((s, dir) => {
      val cube = Binning.histogramCube(table(s, dir, "lineitem"),
        Seq(axQty, axDisc))
      val tmp = java.nio.file.Files.createTempDirectory("graft-cube")
      // the round-trip is driver-side and complete before the DataFrame is
      // built, so the temp files can be removed in a finally (gate runs
      // must not accumulate /tmp litter)
      try {
        val h5 = tmp.resolve("cube.h5").toString
        val tif = tmp.resolve("cube.tif").toString
        graft.export.CubeIO.writeH5(cube, h5)
        graft.export.Tiff.writeCube(cube, tif)
        val back = graft.export.CubeIO.readH5(h5)
        require(back.shape == cube.shape && back.axisNames == cube.axisNames,
          "H5 round-trip changed the cube geometry")
        require(back.axes.zip(cube.axes).forall { case (a, b) =>
          a.sameElements(b) }, "H5 round-trip changed the axes")
        val (tdata, nSlices, rows, cols) = graft.export.Tiff.read(tif)
        require(nSlices == 1 && rows == cube.shape.head &&
          cols == cube.shape(1) &&
          tdata.zip(back.data).forall { case (f, l) => f == l.toFloat },
          "TIFF round-trip diverged from the H5 payload")
        import s.implicits._
        val c = cube.shape(1)
        back.data.zipWithIndex.collect { case (v, i) if v != 0L =>
          ((i / c).toLong, (i % c).toLong, v)
        }.toSeq.toDF("bin_l_quantity", "bin_l_discount", "cnt")
      } finally deleteRecursively(tmp)
    }),
    // A7: normalization histogram from the timed table (count × time unit)
    "q_norm_timed" -> ((s, dir) =>
      Binning.normalizationHistogramFromTimedDataframe(
        table(s, dir, "events"), ax1dValue, 0.001)),
    // A6: normalization histogram from per-event timestamps (lag + bucket-sum;
    // integer-exact sums). Compared at µs granularity: DuckDB truncates the
    // parquet's TIMESTAMP(NANOS) to µs on read, Spark keeps full nanos.
    "q_norm_ts" -> ((s, dir) =>
      Binning.normalizationHistogramFromTimestamps(
        table(s, dir, "events")
          .withColumn("ts_us", expr("ts div 1000")),
        ax1dValue, "ts_us", "event_id")),
    // A6 at scale: the partitioned-window form — lag runs per key (here
    // user_id; per ingestion file in production), so no single-reducer
    // global sort. This is the 100 TB-safe path of the same operator.
    "q_norm_ts_part" -> ((s, dir) =>
      Binning.normalizationHistogramFromTimestamps(
        table(s, dir, "events")
          .withColumn("ts_us", expr("ts div 1000")),
        ax1dValue, "ts_us", "event_id", partitionCols = Seq("user_id"))),

    // ---- projections / filters ----
    // P1 apply_filter: open-interval range predicate
    "q_filter_range" -> ((s, dir) =>
      DfOps.applyFilter(table(s, dir, "events"), "value", 100.0, 400.0)
        .select("event_id", "value")),

    // ---- per-event calibration transforms (T2-T15) ----
    // T2 tof2ev: fit-form TOF→energy
    "q_tof2ev" -> ((s, dir) =>
      table(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        Energy.tof2ev(col("l_extendedprice"), tofDistance = 1.0e6,
          timeOffset = 100.0, binwidth = 2.0, binning = 0,
          energyScale = "kinetic", energyOffset = 0.5).as("energy"))),
    // T3 tof2evpoly: 3rd-order polynomial TOF→energy
    "q_tof2evpoly" -> ((s, dir) =>
      table(s, dir, "events").select(
        col("event_id"),
        Energy.tof2evpoly(col("value"), polyACoeffs, 10.0).as("energy"))),
    // T4 tof2ns
    "q_tof2ns" -> ((s, dir) =>
      table(s, dir, "events").select(
        col("event_id"),
        Energy.tof2ns(col("value"), binwidth = 2.0e-9, binning = 1).as("t_ns"))),
    // T5 energy corrections: tm = t + f(x, y), all four profile types
    "q_corr_spherical" -> ((s, dir) =>
      table(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") + Energy.Correction.spherical(
          col("l_quantity"), col("l_linenumber"), 25.0, 4.0, 0.05, 100.0)).as("tm"))),
    "q_corr_lorentzian" -> ((s, dir) =>
      table(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") + Energy.Correction.lorentzian(
          col("l_quantity"), col("l_linenumber"), 25.0, 4.0, 0.02, 30.0)).as("tm"))),
    "q_corr_gaussian" -> ((s, dir) =>
      table(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        round(col("l_extendedprice") + Energy.Correction.gaussian(
          col("l_quantity"), col("l_linenumber"), 25.0, 4.0, 0.02, 20.0), 6).as("tm"))),
    "q_corr_asym" -> ((s, dir) =>
      table(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice") + Energy.Correction.lorentzianAsymmetric(
          col("l_quantity"), col("l_linenumber"), 25.0, 4.0,
          0.02, 30.0, 0.01, 45.0)).as("tm"))),
    // T6 align_dld_sectors: per-sector TOF skew removal
    "q_sector_align" -> ((s, dir) =>
      DfOps.dropColumns(
        Energy.alignDldSectors(
          table(s, dir, "events")
            .select(col("event_id"), col("value"),
              (col("event_id") % 8).as("sector")),
          "value", "sector", sectorDelays),
        "sector")),
    // T7 split_channel_bitwise: sector ID packed in the LSBs
    "q_bitsplit" -> ((s, dir) =>
      DfOps.splitChannelBitwise(
        table(s, dir, "events").select("event_id", "user_id"),
        "user_id", "low", "high", 3).drop("user_id")),
    // T8 apply_dfield: per-event bilinear lookup into the broadcast
    // inverse deformation field (native codegen BilinearGridLookup)
    "q_dfield" -> ((s, dir) =>
      calibrate.Momentum.applyDfield(s,
        table(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_quantity"),
        dfieldGrid, "l_quantity", "l_linenumber", "xm", "ym", dfieldRanges)
        .select("l_orderkey", "l_linenumber", "xm", "ym")),
    // T9 append_k_axis: linear detector→momentum
    "q_k_axis" -> ((s, dir) =>
      Momentum.appendKAxis(
        table(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"),
        "l_quantity", "l_extendedprice", "kx", "ky",
        rStart = 0.0, cStart = 900.0, rCenter = 25.0, cCenter = 100.0,
        rConversion = 0.01, cConversion = 2.0e-5, rStep = 1.0, cStep = 500.0)
        .drop("l_quantity", "l_extendedprice")),
    // T10 append_delay_axis: ADC→ps incl. mm_to_ps range derivation
    "q_delay_axis" -> ((s, dir) =>
      Delay.appendDelayAxis(
        table(s, dir, "events").select("event_id", "value"),
        "value", "delay", adcRange = (0.0, 500.0),
        delayRangeMm = Some((25.0, 25.6)), time0Mm = 25.3).drop("value")),
    // T12 add_delay_offset (sed/calibrator/delay.py:207-300 via the actual
    // Processor operator): calibrated delay axis, then a per-row column
    // offset with preserve_mean, a constant shift, and flip_delay_axis —
    // the full T12 semantic stack under one oracle (mirrors
    // tests/calibrator/test_delay.py:21-219)
    "q_delay_offsets" -> ((s, dir) => {
      val src = table(s, dir, "events")
        .select(col("event_id"), col("value").as("ADC"),
          (col("event_id") % 7).cast("double").as("bam"))
      val p = new Processor(s, src)
      p.calibrateDelayAxis("ADC", (0.0, 500.0), delayRange = Some((-1.0, 2.0)))
      p.addDelayOffsets(constant = 0.25, flipDelayAxis = true,
        columns = Seq("bam"), weights = Seq(0.5), preserveMean = Seq(true))
      p.dataframe.select("event_id", "delay")
    }),
    // calibration persistence round-trip (sed/core/config.py:175 +
    // processor.py:1386/1779): calibrate → SedConfig.save(yaml) → FRESH
    // Processor seeded only from the reloaded config → apply. The oracle
    // recomputes the same arithmetic from the original constants, so any
    // loss in the write/parse cycle (precision, key names, binding-scale
    // sign, mm→ps conversion) breaks the hash
    "q_calib_roundtrip" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft-calib")
      // the YAML write/reload completes before the returned plan is built
      // (config constants embed as literals at apply time), so the temp
      // dir can be removed in a finally
      try {
        val file = tmp.resolve("sed_config.yaml").toString
        val src = table(s, dir, "events")
          .select(col("event_id"), col("value").as("t"), col("value").as("ADC"))
        val p1 = new Processor(s, src)
        p1.appendEnergyAxis("t", Left((1.0e6, -1.0e7, 0.5)), binwidth = 2.0,
          binning = 0, energyScale = "binding")
        p1.calibrateDelayAxis("ADC", (0.0, 500.0),
          delayRangeMm = Some((25.0, 25.6)), time0Mm = 25.3)
        p1.saveWorkflowParams(file)
        // the instrument constants (binwidth/binning) live in the config's
        // dataframe section, as in the reference beamtime configs
        config.SedConfig.save(config.SedConfig.parseString(
          """{"dataframe": {"tof_binwidth": 2.0, "tof_binning": 0}}"""), file)
        val p2 = new Processor(s, src,
          config = config.SedConfig.load(Seq(file)))
        p2.appendEnergyAxisFromConfig("t")
        p2.calibrateDelayAxisFromConfig("ADC")
        p2.dataframe.select("event_id", "energy", "delay")
      } finally deleteRecursively(tmp)
    }),
    // T11/T13 add_offsets with preserve_mean (mean is integer-exact here)
    "q_offset_preserve" -> ((s, dir) =>
      DfOps.offsetByOtherColumns(
        table(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity"),
        "l_extendedprice", Seq("l_quantity"), Seq(1.0),
        preserveMean = Seq(true), rename = Some("shifted"))
        .select("l_orderkey", "l_linenumber", "shifted")),
    // T13 reduction="mean": offset by the scalar mean instead of the row value
    "q_offset_mean" -> ((s, dir) =>
      DfOps.offsetByOtherColumns(
        table(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_quantity"),
        "l_extendedprice", Seq("l_quantity"), Seq(0.5),
        reductions = Seq(Some("mean")), rename = Some("shifted"))
        .select("l_orderkey", "l_linenumber", "shifted")),
    // T14 map_columns_2d: rotation
    "q_map2d" -> ((s, dir) =>
      DfOps.mapColumns2D(
        table(s, dir, "lineitem")
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_tax"),
        "l_quantity", "l_tax",
        (x, y) => (lit(cos03) * x - lit(sin03) * y, lit(sin03) * x + lit(cos03) * y),
        "xr", "yr").drop("l_quantity", "l_tax")),
    // T15 add_time_stamped_data: np.interp of an external series
    "q_interp" -> ((s, dir) =>
      DfOps.addTimeStampedData(
        table(s, dir, "events").select("event_id", "value"),
        "aux", "value", interpXs, interpYs).drop("value")),
    // T16 forward_fill_lazy: last-non-null propagation in ingestion order
    "q_ffill" -> ((s, dir) =>
      DfOps.forwardFill(
        table(s, dir, "events").select(
          col("event_id"),
          when(col("event_type") === "click", col("value")).as("sparse")),
        Seq("sparse"), "event_id")),
    // T16 at scale: per-key partitioned fill — one shuffle on the key,
    // no global sort (the 100 TB-safe form; keys are ingestion files in
    // production, user_id here)
    "q_ffill_part" -> ((s, dir) =>
      DfOps.forwardFill(
        table(s, dir, "events").select(
          col("event_id"), col("user_id"),
          when(col("event_type") === "click", col("value")).as("sparse")),
        Seq("sparse"), "event_id", partitionCols = Seq("user_id"))),
    // T16 backward_fill_lazy: next-non-null propagation (the mirror pass)
    "q_bfill" -> ((s, dir) =>
      DfOps.backwardFill(
        table(s, dir, "events").select(
          col("event_id"),
          when(col("event_type") === "click", col("value")).as("sparse")),
        Seq("sparse"), "event_id")),
    // S5 timed-table derivation: last event value per time bucket
    "q_timed_table" -> ((s, dir) =>
      table(s, dir, "events")
        .groupBy(expr("ts div 1000000000").as("sec"))
        .agg(expr("max_by(value, event_id)").as("last_value"),
          count(lit(1)).as("n"))),

    // ---- training-data pipeline extensions ----
    // exact dedup: fingerprint → keep lowest id per cluster
    "q_dedup_exact" -> ((s, dir) =>
      pipeline.Dedup.exactDuplicates(table(s, dir, "documents"), "text", "doc_id")),
    // exact dedup, materializing variant (left-semi against winners)
    "q_dedup_drop" -> ((s, dir) =>
      pipeline.Dedup.dropExactDuplicates(table(s, dir, "documents"), "text", "doc_id")),
    // normalized document fingerprint
    "q_fingerprint" -> ((s, dir) =>
      table(s, dir, "documents").select(
        col("doc_id"), pipeline.TextOps.fingerprint(col("text")).as("fp"))),
    // token counting: whitespace + BPE-ish regex
    "q_token_count" -> ((s, dir) =>
      table(s, dir, "documents").select(
        col("doc_id"),
        pipeline.TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
        pipeline.TextOps.bpeishTokenCount(col("text")).cast("long").as("n_bpeish"))),
    // quality scoring: length/punct/stopword signals
    "q_quality" -> ((s, dir) =>
      pipeline.TextOps.qualityColumns(table(s, dir, "documents"), "text")
        .select("doc_id", "n_tokens", "avg_token_len", "punct_ratio",
          "stopword_ratio")
        .withColumn("n_tokens", col("n_tokens").cast("long"))),
    // Okapi BM25 relevance against a literal query-term set (tokens
    // pre-filtered to the query before any aggregation)
    "q_bm25" -> ((s, dir) =>
      pipeline.TextOps.bm25(table(s, dir, "documents"), "text", "doc_id",
        Seq("join", "spark", "vector"))
        .select(col("doc_id"), round(col("bm25"), 6).as("bm25"))),
    // BM25 top-k through the PERSISTED inverted index (TextIndex lake):
    // build writes term-bucketed postings+vocab, search prunes at the
    // directory level and must return the in-flight scorer's exact
    // scores — the build-once/probe-many retrieval path
    "q_text_search" -> ((s, dir) => {
      // deterministic per-SF path: build() overwrites, so reruns reuse
      // one directory instead of littering /tmp with index copies
      val tmp = s"${sys.props("java.io.tmpdir")}/graft_tidx_gate_" +
        math.abs(dir.hashCode).toString
      pipeline.TextIndex.build(table(s, dir, "documents"), "text", "doc_id", tmp)
      pipeline.TextIndex.search(s, tmp, Seq("join", "spark", "vector"), k = 20)
    }),
    // batch BM25: 3 queries scored in ONE plan over the in-flight
    // postings frame (term-keyed equi-join + per-query top-k heap).
    // autoDfPrune is OFF here so the row is pinned to the EXACT
    // unpruned BM25 regardless of corpus size (the synthetic vocab is
    // ~78% df — on any corpus past the 10000-df floor the auto rule
    // would rightly drop every term and empty this row); the
    // default-settings auto path is gated separately by
    // q_text_batch_auto.
    "q_text_batch" -> ((s, dir) => {
      import s.implicits._
      val docs = table(s, dir, "documents")
      val stats = docs
        .select(pipeline.TextOps.tokenCount(col("text")).as("_len"))
        .agg(count(lit(1)), avg(col("_len"))).head()
      val queries = Seq(
        (0L, Seq("join", "spark")),
        (1L, Seq("vector", "index")),
        (2L, Seq("shuffle"))).toDF("q_id", "terms")
      pipeline.TextIndex.searchAll(queries, "q_id", "terms",
        pipeline.TextIndex.postingsFrame(docs, "text", "doc_id"),
        nDocs = stats.getLong(0), avgLen = stats.getDouble(1), k = 10,
        autoDfPrune = false)
    }),
    // batch BM25 at DEFAULT settings — the round-11 scale-safe path:
    // query terms with df > max(10000, 0.1·N) are auto-dropped before
    // candidate generation. The corpus gains a rare 'rareK' token per
    // doc (df ≈ N/50); queries mix a stopword-grade vocab term with a
    // rare term, and the oracle mirrors the ROUTING RULE itself (not a
    // fixed term set), so the row stays green at any SF. Every gate SF
    // sits under the 10000-df floor, so here the rule must be a NO-OP
    // (pruned ≡ unpruned — the judge's non-stopword contract); the
    // pruning direction is pinned engine-side in TextIndexSpec and
    // measured at ×64 in the index64 rehearsal.
    "q_text_batch_auto" -> ((s, dir) => {
      import s.implicits._
      val docs = table(s, dir, "documents")
        .filter(col("text").isNotNull)
        .select(col("doc_id"),
          concat(col("text"), lit(" rare"), col("doc_id") % 50).as("text"))
      val stats = docs
        .select(pipeline.TextOps.tokenCount(col("text")).as("_len"))
        .agg(count(lit(1)), avg(col("_len"))).head()
      val queries = Seq(
        (0L, Seq("join", "rare7")),
        (1L, Seq("spark", "rare13")),
        (2L, Seq("rare21"))).toDF("q_id", "terms")
      pipeline.TextIndex.searchAll(queries, "q_id", "terms",
        pipeline.TextIndex.postingsFrame(docs, "text", "doc_id"),
        nDocs = stats.getLong(0), avgLen = stats.getDouble(1), k = 10)
    }),
    // trained hashed-linear quality score (QualityModel): the gate pins
    // the SCORING pass with a deterministic formula weight table —
    // training itself is data-derived (driver-side logistic regression,
    // spec-covered), but every corpus-side instruction is exercised here
    "q_quality_score" -> ((s, dir) =>
      pipeline.QualityModel.scoreQuality(
        table(s, dir, "documents"), "text", qualityScoreWeights, 0.1)
        .select(col("doc_id"), round(col("q_score"), 6).as("q_score"))),
    // per-document character Shannon entropy: native one-pass codegen
    // kernel, map-only (the explode+groupBy formulation would shuffle
    // len(text) rows per doc); oracle = DuckDB's entropy() aggregate
    // over the split-character multiset
    // NULL text filtered on BOTH sides: the oracle's unnest(string_split)
    // drops a null doc's row entirely while a bare select would emit
    // (doc_id, NULL) — filter explicitly so the surfaces can't diverge
    "q_entropy" -> ((s, dir) =>
      table(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"),
          round(pipeline.TextOps.charEntropy(col("text")), 6).as("char_entropy"))),
    // Porter stemming against a hand-verified answer table: each doc
    // picks one of 40 words covering all five algorithm steps; the
    // oracle carries the corresponding full-pipeline stems as a literal
    // array, so every rule path is pinned
    "q_stem" -> ((s, dir) => {
      val idx = (col("doc_id") % 40 + 1).cast("int")
      val words = array(SparkEntry.stemWords.map(lit): _*)
      table(s, dir, "documents").select(col("doc_id"),
        element_at(words, idx).as("word"),
        pipeline.TextOps.porterStem(element_at(words, idx)).as("stem"))
    }),
    // Unicode NFC normalization: decomposed sequences (combining acute /
    // ring, repeated per doc) injected in-query; Spark runs the JDK
    // Normalizer kernel, DuckDB runs its own nfc_normalize — the two
    // implementations must agree byte-for-byte on the composed result
    "q_nfc" -> ((s, dir) => {
      val decomposed = concat(col("text"),
        lit(" cafe\u0301 A\u030A"),
        expr("repeat('e\u0301', int(doc_id % 3))"))
      table(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"),
          pipeline.TextOps.normalizeUnicode(decomposed, "NFC").as("nfc_text"))
    }),
    // encoding-health signals over text corrupted IN-QUERY (injected
    // mojibake pairs, a control byte, a replacement char — both engines
    // build the identical string, Spark runs the operator, the oracle
    // mirrors the counting)
    "q_encoding" -> ((s, dir) => {
      val corrupted = concat(col("text"),
        expr("repeat('Ã©', int(doc_id % 3))"),
        when(col("doc_id") % 5 === 0, lit("x\u0007y")).otherwise(lit("")),
        when(col("doc_id") % 7 === 0, lit("�")).otherwise(lit("")))
      pipeline.TextOps.encodingColumns(
        table(s, dir, "documents").filter(col("text").isNotNull)
          .select(col("doc_id"), corrupted.as("text")), "text")
        .select("doc_id", "n_replacement", "n_control", "n_mojibake",
          "encoding_clean")
    }),
    // sentence segmentation over synthesized prose: even docs repeat a
    // plain sentence, odd docs one full of abbreviation traps (Dr./Mr./
    // e.g./initials) — if the abbreviation guard over- or under-fires,
    // the count or the first-sentence string diverges from the oracle's
    // arithmetic expectation
    "q_sentences" -> ((s, dir) => {
      val k = (col("doc_id") % 4 + 1).cast("int")
      val even = expr("repeat('The value is fine. ', int(doc_id % 4 + 1))")
      val odd = expr(
        "repeat('Dr. Smith met Mr. Jones at 5 p.m. today, e.g. with J. Doe. ', " +
          "int(doc_id % 4 + 1))")
      val text = when(col("doc_id") % 2 === 0, even).otherwise(odd)
      table(s, dir, "documents").select(col("doc_id"),
        size(pipeline.TextOps.sentences(text)).cast("long").as("n_sentences"),
        element_at(pipeline.TextOps.sentences(text), 1).as("first_sentence"),
        k.cast("long").as("expected_k"))
    }),
    // temperature-scaled domain rebalancing (α = 0.5) over a synthesized
    // 6:3:1 domain skew — share table computed in-plan from the census,
    // binding-constraint sizing and the salted-hash draw all mirrored
    "q_temperature" -> ((s, dir) => {
      val domain = when(col("doc_id") % 10 < 6, lit("big"))
        .when(col("doc_id") % 10 < 9, lit("mid")).otherwise(lit("small"))
      pipeline.Sampling.resampleByTemperature(
        table(s, dir, "documents").select(col("doc_id"), domain.as("domain")),
        "doc_id", "domain", alpha = 0.5)
        .select("doc_id", "domain")
    }),
    // Flesch readability over synthesized prose: sentence counts come
    // from the real kernel, word/syllable counts and the formula are
    // mirrored term-for-term in the oracle
    "q_readability" -> ((s, dir) => {
      val even = expr("repeat('The value is fine. ', int(doc_id % 4 + 1))")
      val odd = expr(
        "repeat('Excellent documentation improves considerably. ', " +
          "int(doc_id % 4 + 1))")
      val text = when(col("doc_id") % 2 === 0, even).otherwise(odd)
      pipeline.TextOps.readabilityColumns(
        table(s, dir, "documents").select(col("doc_id"), text.as("text")),
        "text")
        .select("doc_id", "n_sentences", "n_words", "n_syllables", "flesch")
    }),
    // sentence-level cross-document boilerplate removal: every doc
    // carries one shared banner sentence (doc_id % 7 variants, each in
    // ~70 docs) and one unique sentence — the censor must drop exactly
    // the banner and rebuild the remainder
    "q_sent_dedup" -> ((s, dir) => {
      val text = concat(lit("Share this banner number "),
        col("doc_id") % 7, lit(" now. Unique sentence "), col("doc_id"),
        lit(" here."))
      pipeline.Dedup.dropRepeatedSentences(
        table(s, dir, "documents").select(col("doc_id"), text.as("text")),
        "text", "doc_id")
    }),
    // language-ID heuristic
    "q_langid" -> ((s, dir) =>
      table(s, dir, "documents").select(
        col("doc_id"), pipeline.TextOps.langId(col("text")).as("lang_pred"))),
    // n-gram Jaccard near-dup pairs, blocked by source
    "q_ngram_jaccard" -> ((s, dir) =>
      pipeline.Dedup.ngramJaccardPairs(
        table(s, dir, "documents"), "text", "doc_id", col("source"), n = 3)
        .withColumn("jaccard", round(col("jaccard"), 6))),
    // embedding-cosine near-dup pairs, blocked by label
    "q_embed_pairs" -> ((s, dir) =>
      pipeline.Dedup.embeddingNearDuplicates(
        table(s, dir, "embeddings"), "embedding", "vec_id", col("label"), 0.2)),
    // brute-force cosine top-k against the vec_id=0 embedding
    "q_cosine_topk" -> ((s, dir) => {
      val q = table(s, dir, "embeddings").filter(col("vec_id") === 0)
        .select("embedding").first().getSeq[Float](0).map(_.toDouble).toArray
      pipeline.Similarity.bruteForceTopK(
        table(s, dir, "embeddings"), "embedding", "vec_id", q, 20)
    }),
    // batch brute-force top-k (the exact ANN baseline recallAgainst
    // measures IVF against): every %100 vector queries the whole corpus
    "q_brute_batch" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      pipeline.Similarity.bruteTopKBatch(queries, "q_vec", "q_id", emb,
        "embedding", "vec_id", k = 10)
    }),
    // per-vector int8 quantization codes (min-max affine, exploded so
    // the scalar compare pins every component)
    "q_embed_quant" -> ((s, dir) =>
      table(s, dir, "embeddings")
        .select(col("vec_id"),
          posexplode(pipeline.Similarity.quantizeInt8(col("embedding"))
            .getField("codes")))
        .select(col("vec_id"), col("pos").cast("long").as("pos"),
          col("col").as("code"))),
    // matryoshka truncation: first-16-dims L2-renormalized (cheap-tier
    // embedding), exploded per component
    "q_embed_trunc" -> ((s, dir) =>
      table(s, dir, "embeddings")
        .select(col("vec_id"),
          posexplode(pipeline.Similarity.truncateNormalize(
            col("embedding"), 16)))
        .select(col("vec_id"), col("pos").cast("long").as("pos"),
          round(col("col"), 6).as("val"))),
    // corpus Zipf profile: OLS slope of ln(freq)~ln(rank) over the vocab
    "q_zipf" -> ((s, dir) =>
      pipeline.TextOps.zipfProfile(table(s, dir, "documents"), "text")),
    // LSH bucket assignment (the ANN indexing pass)
    "q_lsh_bucket" -> ((s, dir) =>
      pipeline.Similarity.lshBuckets(
        table(s, dir, "embeddings"), "embedding", lshPlanes)
        .select("vec_id", "bucket")),
    // LSH-bucketed ANN top-k (multi-probe: query bucket + all Hamming-1
    // neighbors) — fully deterministic given the seeded planes
    "q_lsh_topk" -> ((s, dir) => {
      val q = table(s, dir, "embeddings").filter(col("vec_id") === 0)
        .select("embedding").first().getSeq[Float](0).map(_.toDouble).toArray
      pipeline.Similarity.lshTopK(
        table(s, dir, "embeddings"), "embedding", "vec_id", q, lshPlanes, 10)
    }),
    // IVF ANN top-k: seed-vector coarse quantizer (embeddings 0..7 as the
    // inverted lists — random-sample init, the standard IVF recipe) +
    // probed search; the k-means-trained quantizer variant is
    // property-tested (centroids are data-derived, not SQL-expressible)
    "q_ivf_topk" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val seeds = emb.filter(col("vec_id") < 8).orderBy("vec_id")
        .select("embedding").collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      pipeline.Similarity.ivfTopK(emb, "embedding", "vec_id", seeds(0), seeds, 10)
    }),
    // Distributed BATCH ANN search (Ivf.searchAll): a whole frame of
    // queries routed map-side to their nProbe coarse lists, one
    // probe→postings equi-join, per-query top-k window over candidates
    // only — the retrieval/decontamination shape (ivfTopK answers one
    // driver-side query; this answers millions in one plan). Seed
    // quantizer as in q_ivf_topk; queries = vectors 0..3.
    "q_ivf_batch" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val seeds = emb.filter(col("vec_id") < 8).orderBy("vec_id")
        .select("embedding").collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      val queries = emb.filter(col("vec_id") < 4)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      pipeline.Ivf.searchAll(queries, "q_vec", "q_id",
        emb, "embedding", "vec_id", seeds, k = 5, nProbe = 2)
    }),
    // Batch IVF-PQ search: same routing as q_ivf_batch but candidates
    // are ranked by ADC distance over their m-int codes (the
    // shuffle-lean 100-TB form — codes, not float vectors, cross the
    // corpus exchange). Seed coarse quantizer AND seed codebooks.
    "q_ivf_pq_batch" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val seeds = emb.filter(col("vec_id") < 8).orderBy("vec_id")
        .select("embedding").collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      val model = pipeline.Pq.Model(64, 8,
        Array.tabulate(8)(sub => seeds.map(_.slice(sub * 8, (sub + 1) * 8))))
      val queries = emb.filter(col("vec_id") < 4)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      pipeline.Ivf.searchAllPq(queries, "q_vec", "q_id",
        emb, "embedding", "vec_id", seeds, model, k = 5, nProbe = 2)
    }),
    // IVF-PQ with exact RE-RANK (the standard recall-recovery stage):
    // ADC shortlists top-8 codes per query, the shortlist alone is
    // re-scored by exact cosine on raw vectors and cut to 5 — the
    // quantization error moves within the shortlist for the price of 8
    // raw-vector reads per query
    "q_pq_rerank" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val seeds = emb.filter(col("vec_id") < 8).orderBy("vec_id")
        .select("embedding").collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      val model = pipeline.Pq.Model(64, 8,
        Array.tabulate(8)(sub => seeds.map(_.slice(sub * 8, (sub + 1) * 8))))
      val queries = emb.filter(col("vec_id") < 4)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
      pipeline.Ivf.searchAllPq(queries, "q_vec", "q_id",
        emb, "embedding", "vec_id", seeds, model, k = 5, nProbe = 2,
        reRank = 8)
    }),
    // Embedding covariance moments from Pca's one-pass INTEGER-exact
    // aggregate (the distributed half of PCA; the float covariance +
    // driver-side Jacobi eigen half is spec-covered). Components are
    // quantized q=⌊v·2^20⌋ on both sides, so every moment is an exact
    // long and the hash is partition-order-proof — a post-rounded float
    // hash flips whenever a true value sits near a …5e-7 boundary on a
    // different partition count (the r6/r7 red-gate root cause).
    "q_embed_cov" -> ((s, dir) => {
      import s.implicits._
      val (sxy, sx, n) = pipeline.Pca.exactMoments(
        table(s, dir, "embeddings"), "embedding", 64)
      var p = -1
      val rows = for { i <- 0 until 64; j <- i until 64 } yield {
        p += 1
        (i, j, sxy(p), sx(i), sx(j), n)
      }
      rows.toDF("i", "j", "sxy", "sx", "sy", "n_v")
    }),
    // Product-quantization encoding (the corpus-scale pass of IVF-PQ):
    // seed-sliced codebooks, one broadcast nearest-centroid per
    // subspace, map-only. Codebook training and ADC search are
    // spec-covered (data-derived / ordering-sensitive)
    "q_pq_encode" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val seeds = emb.filter(col("vec_id") < 8).orderBy("vec_id")
        .select("embedding").collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      val model = pipeline.Pq.Model(64, 8,
        Array.tabulate(8)(sub => seeds.map(_.slice(sub * 8, (sub + 1) * 8))))
      pipeline.Pq.encode(emb, "embedding", model)
        .select(col("vec_id"), posexplode(col("pq_code")).as(Seq("sub", "code")))
    }),
    // ADC search over the encoded corpus (the query half of PQ): seed
    // codebooks, vec_id=0 query, top-10 by the m-lookup approximate
    // distance
    "q_pq_adc" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val seeds = emb.filter(col("vec_id") < 8).orderBy("vec_id")
        .select("embedding").collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      val model = pipeline.Pq.Model(64, 8,
        Array.tabulate(8)(sub => seeds.map(_.slice(sub * 8, (sub + 1) * 8))))
      pipeline.Pq.adcTopK(pipeline.Pq.encode(emb, "embedding", model),
        "pq_code", "vec_id", seeds(0), model, 10)
    }),
    // mean within-cluster SSE against the seed quantizer — the inertia
    // scalar KMeans.fit's elbow diagnostic is built on (moment-form
    // Σ|x|²−2c·Σx+n|c|² vs the oracle's direct min-distance sum)
    "q_kmeans_inertia" -> ((s, dir) => {
      import s.implicits._
      val emb = table(s, dir, "embeddings")
      val seeds = emb.filter(col("vec_id") < 8).orderBy("vec_id")
        .select("embedding").collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      val total = pipeline.KMeans.inertia(emb, "embedding", seeds)
      val n = emb.filter(col("embedding").isNotNull).count()
      Seq(total / n).toDF("mean_inertia")
        .select(round(col("mean_inertia"), 6).as("mean_inertia"))
    }),
    // One distributed Lloyd update step (the full-corpus quantizer
    // trainer behind KMeans.fit): seed-vector centroids, broadcast
    // nearest-centroid assignment, per-cluster (count, per-dim mean)
    // via the flat VectorSumAgg buffer. The iterated fit is
    // property-tested (its centroids are data-derived, not
    // SQL-expressible); this pins the one pass everything iterates on.
    "q_kmeans_step" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val seeds = emb.filter(col("vec_id") < 8).orderBy("vec_id")
        .select("embedding").collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      pipeline.KMeans.step(emb, "embedding", seeds)
    }),
    // Bloom-filter incremental dedup: fingerprint the even-id half of the
    // corpus, keep batch rows not (probably) seen. Oracle = the exact
    // anti-join equivalent — sound because the FP budget rounds to zero
    // at gate fill ratios (see oracleSql) and the filter is
    // deterministic; FN/FP bounds are additionally property-tested in
    // PipelineSpec, and the bloom-vs-exact subset contract under FORCED
    // false positives in ContractSpec
    "q_bloom_new" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val fp = pipeline.Dedup.buildBloomFingerprint(
        docs.filter(col("doc_id") % 2 === 0), "text",
        expectedItems = 10000, fpp = 0.001)
      pipeline.Dedup.dropBloomSeen(docs, "text", fp).select("doc_id")
    }),
    // SemDeDup: nearest-centroid clustering (seed-vector quantizer,
    // embeddings 0..7) + within-cluster cosine near-dup components,
    // keeping the min-id representative of each component
    "q_semdedup" -> ((s, dir) => {
      val emb = table(s, dir, "embeddings")
      val seeds = emb.filter(col("vec_id") < 8).orderBy("vec_id")
        .select("embedding").collect()
        .map(_.getSeq[Float](0).map(_.toDouble).toArray)
      pipeline.Dedup.semDedup(emb, "embedding", "vec_id", seeds, 0.4)
        .select(col("vec_id"), col("sem_cluster").cast("int"))
    }),
    // MinHash+LSH near-dup pairs (portable polynomial shingle hash → the
    // full signature/banding/estimate pipeline is oracle-checked)
    "q_minhash_pairs" -> ((s, dir) =>
      pipeline.Dedup.minhashNearDuplicates(
        table(s, dir, "documents"), "text", "doc_id", threshold = 0.2,
        portable = true)),
    // the clique-robust inline-verify plan must produce the IDENTICAL
    // pair set — same oracle as q_minhash_pairs, different physical plan
    // (sigs ride the band exchange, first-matching-band dedup, no
    // distinct / no pair-keyed exchange)
    "q_minhash_inline" -> ((s, dir) =>
      pipeline.Dedup.minhashNearDuplicates(
        table(s, dir, "documents"), "text", "doc_id", threshold = 0.2,
        portable = true, inlineVerify = true)),
    // census-routed plan selection (the Curation-facing default): on the
    // sparse documents table the census must route to the default plan
    // and the output must be the identical pair set — same oracle again
    "q_minhash_auto" -> ((s, dir) =>
      pipeline.Dedup.minhashNearDuplicatesAuto(
        table(s, dir, "documents"), "text", "doc_id", threshold = 0.2,
        portable = true)),
    // incremental ingestion: near-dup probe of a new batch (odd doc_ids)
    // against a pre-signed corpus (even doc_ids) — the minhashAgainst path
    "q_cross_dedup" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val corpusSigs = pipeline.Dedup.minhashSignatures(
        docs.filter(col("doc_id") % 2 === 0), "text", "doc_id",
        portable = true)
      pipeline.Dedup.minhashNearDuplicatesAgainst(
        corpusSigs, docs.filter(col("doc_id") % 2 === 1), "text", "doc_id",
        threshold = 0.2, portable = true)
    }),
    // SimHash near-dup pairs (portable 62-bit token hash)
    "q_simhash_pairs" -> ((s, dir) =>
      pipeline.Dedup.simhashNearDuplicates(
        table(s, dir, "documents"), "text", "doc_id", maxDistance = 16,
        portable = true)
        .withColumn("distance", col("distance").cast("long"))),
    // winnowing rolling-hash fingerprints, exploded to (doc_id, fp) rows
    // (scalar output so the driver compare can sort; portable k-gram hash
    // via the native one-pass kernel)
    "q_rolling_fp" -> ((s, dir) =>
      table(s, dir, "documents").select(
        col("doc_id"),
        explode(pipeline.TextOps.winnowingFingerprintPortable(col("text")))
          .as("fp"))),
    // word n-gram shingles (the word-level dedup unit), exploded
    "q_word_shingles" -> ((s, dir) =>
      table(s, dir, "documents").select(
        col("doc_id"),
        explode(pipeline.TextOps.wordShingles(col("text"), 3)).as("shingle"))),
    // multimodal: binary column + stubbed decode via batched mapPartitions
    "q_multimodal_meta" -> ((s, dir) =>
      pipeline.Multimodal.decodeMeta(
        table(s, dir, "documents")
          .select(col("doc_id"), col("text").cast("binary").as("bin")),
        "bin").drop("bin")),

    // REAL baseline-JPEG decode (huffman + IDCT, graft.pipeline.Jpeg):
    // deterministic gradient images keyed by doc_id are encoded across
    // gray / 4:4:4 / 4:2:0 variants, then decoded by imageColumns — the
    // decoded dimensions/channels reaching the output proves the full
    // entropy+DCT pipeline ran (decode throws on any stream corruption),
    // and they are pure doc_id arithmetic the oracle reproduces
    "q_jpeg_decode" -> ((s, dir) => {
      import s.implicits._
      val ids = table(s, dir, "documents")
        .filter(col("doc_id") < 200).select(col("doc_id")).as[Long]
      val withBytes = ids.map { id =>
        val w = 16 + (id % 5).toInt * 4
        val h = 12 + (id % 3).toInt * 4
        val ch = if (id % 2 == 0) 3 else 1
        val img = pipeline.PixelCodec.Image(w, h, ch,
          Array.tabulate(w * h * ch) { i =>
            ((i % w) * 5 + (i / w) * 3 + (id % 7).toInt * 11 + 20).toByte
          })
        // a third of the corpus is PROGRESSIVE (SOF2) — the decoder must
        // handle both entropy layouts behind one dispatch
        val bytes =
          if (id % 3 == 1) pipeline.Jpeg.encodeProgressive(img, quality = 85,
            subsample = ch == 3 && id % 4 == 0)
          else pipeline.Jpeg.encode(img, quality = 85,
            subsample = ch == 3 && id % 4 == 0)
        (id, bytes)
      }.toDF("doc_id", "img")
      pipeline.Multimodal.imageColumns(withBytes, "img")
        .select(col("doc_id"), col("img_width"), col("img_height"),
          col("img_channels"))
    }),
    // REAL video-container metadata: half the corpus is MJPEG AVI (JPEG
    // frames in a RIFF container), half the bespoke GVID (PNG frames);
    // videoColumns must parse both headers. Frame counts / fps are
    // doc_id arithmetic so the oracle reproduces them; the decode is
    // real (corrupt containers would null out and mismatch)
    "q_video_meta" -> ((s, dir) => {
      import s.implicits._
      val ids = table(s, dir, "documents")
        .filter(col("doc_id") < 60).select(col("doc_id")).as[Long]
      val withBytes = ids.map { id =>
        val n = 2 + (id % 4).toInt
        // divisors of 1e6 only: AVI stores µs/frame, so 15 fps would
        // round-trip as 14.999925
        val fps = Seq(10, 20, 25)((id % 3).toInt)
        val bytes = if (id % 2 == 0) {
          val frames = (0 until n).map { p =>
            pipeline.Jpeg.encode(pipeline.PixelCodec.Image(16, 16, 1,
              Array.tabulate(256)(i => ((i * 3 + p * 7 + id).toInt % 256).toByte)),
              quality = 90)
          }
          pipeline.Avi.encode(frames, 16, 16, fps.toDouble)
        } else {
          val frames = (0 until n).map { p =>
            pipeline.PixelCodec.encodePng(pipeline.PixelCodec.Image(8, 8, 1,
              Array.tabulate(64)(i => ((i * 5 + p * 11 + id).toInt % 256).toByte)))
          }
          pipeline.Multimodal.encodeVideo(frames, fps * 1000)
        }
        (id, bytes)
      }.toDF("doc_id", "vid")
      pipeline.Multimodal.videoColumns(withBytes, "vid")
        .select(col("doc_id"), col("n_frames"),
          round(col("fps"), 6).as("fps"))
    }),
    // one deterministic image per doc, container rotating over ALL FOUR
    // real codecs (PNG / baseline JPEG / BMP / GIF) — geometry survives
    // every decode path behind the signature dispatcher
    "q_image_formats" -> ((s, dir) => {
      import s.implicits._
      val ids = table(s, dir, "documents")
        .filter(col("doc_id") < 120).select(col("doc_id")).as[Long]
      val withBytes = ids.map { id =>
        val w = 16 + (id % 4).toInt * 8
        val h = 8 + (id % 3).toInt * 4
        // ≤ 8 distinct colors so the GIF path stays palette-bound
        val img = pipeline.PixelCodec.Image(w, h, 3,
          Array.tabulate(w * h * 3) { j =>
            val p = j / 3
            (((p % w) / 4 + (p / w) / 4 + (id % 5).toInt) % 8 * 30 +
              (j % 3) * 7).toByte
          })
        val bytes = (id % 4).toInt match {
          case 0 => pipeline.PixelCodec.encodePng(img)
          case 1 => pipeline.Jpeg.encode(img, quality = 85)
          case 2 => pipeline.PixelCodec.encodeBmp(img)
          case _ => pipeline.Gif.encode(img)
        }
        (id, bytes)
      }.toDF("doc_id", "img")
      pipeline.Multimodal.imageColumns(withBytes, "img")
        .select(col("doc_id"), col("img_width"), col("img_height"),
          col("img_channels"))
    }),
    // WAV decode + FFT spectral chain against EXACT on-bin tones: 1024
    // samples at 8 kHz → hzPerBin = 7.8125 (a power-of-two divisor, so
    // bin·hzPerBin is float-exact); each doc's tone sits exactly on bin
    // 16 + 8·(id%8), and the Hann-windowed peak must land on that bin
    "q_audio_meta" -> ((s, dir) => {
      import s.implicits._
      val ids = table(s, dir, "documents")
        .filter(col("doc_id") < 80).select(col("doc_id")).as[Long]
      val withBytes = ids.map { id =>
        val k = 16 + (id % 8).toInt * 8
        val hz = k * 8000.0 / 1024
        val n = 1024
        val data = java.nio.ByteBuffer.allocate(n * 2)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        (0 until n).foreach { i =>
          data.putShort((0.5 * math.sin(2 * math.Pi * hz * i / 8000.0) * 32767).toShort)
        }
        val out = java.nio.ByteBuffer.allocate(44 + n * 2)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        out.put("RIFF".getBytes).putInt(36 + n * 2).put("WAVE".getBytes)
        out.put("fmt ".getBytes).putInt(16).putShort(1).putShort(1)
          .putInt(8000).putInt(16000).putShort(2).putShort(16)
        out.put("data".getBytes).putInt(n * 2).put(data.array())
        (id, out.array())
      }.toDF("doc_id", "audio")
      pipeline.Multimodal.audioColumns(withBytes, "audio")
        .select(col("doc_id"), col("sample_rate"),
          round(col("duration_s"), 6).as("duration_s"),
          round(col("dominant_hz"), 6).as("dominant_hz"))
    }),

    // WARC crawl ingestion end-to-end: per-doc WARC blob (warcinfo +
    // response, alternating raw / per-record-gzip framing) synthesized
    // from escaped document text → record explode → HTTP split → HTML
    // body → extracted text; the oracle recomputes every output column
    // arithmetically, so framing, Content-Length walking, gzip member
    // boundaries, HTTP header split and HTML extraction are ALL load-
    // bearing for the hash to match
    "q_warc_extract" -> ((s, dir) => {
      import s.implicits._
      val docs = table(s, dir, "documents").filter(col("text").isNotNull)
        .select(col("doc_id"), col("text")).as[(Long, String)]
      val blobs = docs.map { case (id, text) =>
        val esc = text.replace("&", "&amp;").replace("<", "&lt;")
          .replace(">", "&gt;")
        val html = s"<html><head><title>Doc $id</title></head><body>" +
          s"<h1>Doc $id</h1><p>$esc</p></body></html>"
        val rec = pipeline.Warc.responseRecord(s"https://ex.com/doc/$id",
          "2026-01-01T00:00:00Z", html)
        val blob = pipeline.Warc.encodeBlob(
          Seq(pipeline.Warc.warcinfoRecord(s"f$id.warc"), rec),
          gzipPerRecord = id % 2 == 0)
        (id, blob)
      }.toDF("doc_id", "warc")
      pipeline.Warc.responses(blobs, "warc")
        .select(col("doc_id"), col("target_uri"),
          col("http_status").cast("long").as("http_status"), col("mime"),
          pipeline.Html.extractText(col("body")).as("plain_text"))
    }),
    // duplicate-cluster resolution: connected components over near-dup
    // pairs → canonical (minimum) id per cluster
    "q_dedup_cluster" -> ((s, dir) =>
      pipeline.Dedup.connectedComponents(
        pipeline.Dedup.ngramJaccardPairs(
          table(s, dir, "documents"), "text", "doc_id", col("source"),
          n = 3, threshold = 0.5))),

    // ---- event-stream + corpus operators (round 3) ----
    // as-of join: latest marker value at-or-before each event, per user —
    // union+running-window formulation, one shuffle, no inequality join
    "q_asof" -> ((s, dir) => {
      val e = table(s, dir, "events")
      val markers = e.filter(col("event_id") % 7 === 0)
        .select(col("user_id"), col("ts"), col("value").as("mark_value"))
      DfOps.asofJoin(e.select("event_id", "user_id", "ts"), markers,
        "ts", "ts", Seq("user_id"), Seq("mark_value"))
        .select("event_id", "mark_value")
    }),
    // range (interval) join: events into ±5-wide marker intervals via
    // bucketized equi-join + residual filter (no nested-loop join)
    "q_range_join" -> ((s, dir) => {
      val e = table(s, dir, "events")
      val iv = e.filter(col("event_id") % 97 === 0)
        .select(col("event_id").as("interval_id"),
          (col("value") - 5.0).as("lo"), (col("value") + 5.0).as("hi"))
      DfOps.rangeJoin(e.select(col("event_id"), col("value")),
        "value", iv, "lo", "hi", bucketWidth = 10.0)
        .select("event_id", "interval_id")
    }),
    // semi-structured extraction: typed JSON field as a codegen'd
    // projection (get_json_object + cast, no UDF), filter on the
    // extracted value — the event-properties payload path
    "q_json_extract" -> ((s, dir) =>
      dfops.SemiStructured.extractJson(
        table(s, dir, "events").select("event_id", "props"), "props",
        Map("k" -> (("$.k", org.apache.spark.sql.types.IntegerType))))
        .filter(col("k") >= 50)
        .select("event_id", "k")),
    // semi-structured aggregation: explicit-schema from_json flatten
    // (the bounded-sample inference path is spec-covered) feeding a
    // grouped aggregate — parse rides the scan projection
    "q_json_stats" -> ((s, dir) =>
      dfops.SemiStructured.flattenJson(
        table(s, dir, "events").select("event_type", "props"), "props",
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k",
            org.apache.spark.sql.types.IntegerType))))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          round(avg("k"), 6).as("avg_k"))),
    // per-key argmax (latest event per user): single max_by aggregation,
    // no window/sort — the reference's timed-table "last per bucket" at
    // per-key granularity
    "q_argmax" -> ((s, dir) =>
      table(s, dir, "events").groupBy("user_id")
        .agg(max_by(col("event_type"), col("ts")).as("last_type"),
          max_by(col("value"), col("ts")).as("last_value"),
          // µs, not ns: DuckDB truncates TIMESTAMP(NANOS) to its µs
          // internal type on read, so ns would never hash-match
          expr("max(ts) div 1000").as("last_ts"))),
    // per-key rolling mean over a bounded ROWS frame (the ordered
    // window-frame contract: one shuffle on the key, no self-join)
    "q_rolling_avg" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(-3, Window.currentRow)
      table(s, dir, "events")
        .select(col("event_id"),
          round(avg(col("value")).over(w), 6).as("rolling_avg"))
    }),
    // per-key event-type pivot (conditional aggregation; fixed literal
    // column set, so the plan is one agg — no two-phase pivot scan)
    "q_pivot" -> ((s, dir) =>
      table(s, dir, "events").groupBy("user_id")
        .pivot("event_type", Seq("view", "click", "purchase", "signup", "error"))
        .count().na.fill(0L)),
    // Morton (Z-order) code of two binned keys — the multi-dimensional
    // lake-layout key behind stats-pruned scans (Lake.writeZOrdered)
    // TFRecord sink/source round-trip: documents -> tf.train.Example
    // shards (CRC32C-masked framing, hand-rolled proto) -> typed
    // read-back. The oracle is the SOURCE TABLE itself, so framing,
    // Example encode/decode, null-feature omission and shard streaming
    // are ALL load-bearing for the hash to match.
    "q_tfrecord_roundtrip" -> ((s, dir) => {
      val tmp = tfrecGateDir(s, dir, "")
      val docs = table(s, dir, "documents").select("doc_id", "text")
      pipeline.TfRecord.writeExamples(docs, tmp, Seq("doc_id", "text"))
      pipeline.TfRecord.readExamples(s, tmp,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType))))
    }),
    // same contract through the ZLIB (RFC 1950) shard codec — deflate
    // wrap/unwrap, extension routing and the commit marker all
    // load-bearing for the hash (oracle = source table, like above)
    "q_tfrecord_zlib" -> ((s, dir) => {
      val tmp = tfrecGateDir(s, dir, "zlib_")
      val docs = table(s, dir, "documents").select("doc_id", "text")
      pipeline.TfRecord.writeExamples(docs, tmp, Seq("doc_id", "text"),
        compression = "ZLIB")
      pipeline.TfRecord.readExamples(s, tmp,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType))))
    }),
    // SequenceExample round-trip: text splits into per-timestep token
    // features (split/join on a single space is lossless, empties
    // included — Spark split keeps trailing empties), writes as
    // context(doc_id) + feature_lists(tokens), reads back typed and
    // reassembles the text — so the FeatureList encode/decode and the
    // null→absent-list convention are load-bearing for the hash
    "q_tfrecord_seq" -> ((s, dir) => {
      val tmp = tfrecGateDir(s, dir, "seq_")
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), split(col("text"), " ").as("tokens"))
      pipeline.TfRecord.writeSequenceExamples(docs, tmp,
        contextCols = Seq("doc_id"), sequenceCols = Seq("tokens"))
      pipeline.TfRecord.readSequenceExamples(s, tmp,
        contextSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType))),
        sequenceSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("tokens",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.StringType)))))
        .select(col("doc_id"), array_join(col("tokens"), " ").as("text"))
    }),
    // SequenceExample with PER-TIMESTEP FLOAT VECTORS (the speech/
    // embedding-frame case the typed surface documents): each 64-dim
    // embedding chunks into 8 timesteps × 8 floats, writes as a
    // feature_list of multi-valued float Features, reads back as
    // array<array<float>>, and flattens per component — so the IEEE754
    // float wire encode/decode and the inner-list framing are
    // load-bearing for the hash (oracle = source table, exploded)
    "q_tfrecord_seq_float" -> ((s, dir) => {
      val tmp = tfrecGateDir(s, dir, "seqf_")
      val emb = table(s, dir, "embeddings").select(col("vec_id"),
        transform(sequence(lit(0), lit(7)),
          i => slice(col("embedding"), i * 8 + 1, lit(8))).as("frames"))
      pipeline.TfRecord.writeSequenceExamples(emb, tmp,
        contextCols = Seq("vec_id"), sequenceCols = Seq("frames"))
      pipeline.TfRecord.readSequenceExamples(s, tmp,
        contextSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("vec_id",
            org.apache.spark.sql.types.LongType))),
        sequenceSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("frames",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.ArrayType(
                org.apache.spark.sql.types.FloatType))))))
        .select(col("vec_id"),
          posexplode(flatten(col("frames"))).as(Seq("pos", "value")))
        .select(col("vec_id"), col("pos").cast("long").as("pos"),
          col("value").cast("double").as("value"))
    }),
    "q_zorder" -> ((s, dir) =>
      table(s, dir, "events").select(col("event_id"),
        loader.Lake.zValue(
          Seq(col("event_id") % 256, col("user_id") % 256), 8).as("z"))),
    // gap-based sessionization (12 h gap), one window pass per user
    "q_sessionize" -> ((s, dir) =>
      DfOps.sessionize(table(s, dir, "events").select("event_id", "user_id", "ts"),
        "ts", lit(sessionGapNs), Seq("user_id"))
        .select("event_id", "session_id")),
    // daily cohort retention matrix (distinct-active cells, integral
    // DIV periods)
    "q_retention" -> ((s, dir) =>
      DfOps.retention(table(s, dir, "events"), "ts", Seq("user_id"),
        86400000000000L)),
    // ordered funnel over the event stream (chained strict-min
    // semantics — one shuffle + per-user sorted-array fold, no
    // per-step join chain)
    "q_funnel" -> ((s, dir) =>
      DfOps.funnelReport(table(s, dir, "events"), "ts", "event_type",
        Seq("user_id"), Seq("view", "click", "purchase"))
        .select(col("step"), col("step_name"), col("users"))),
    // the per-key depth the report aggregates — pins the fold itself
    "q_funnel_depth" -> ((s, dir) =>
      DfOps.funnelDepth(table(s, dir, "events"), "ts", "event_type",
        Seq("user_id"), Seq("view", "click", "purchase"))),
    // corpus TF-IDF (smoothed idf), two chained aggregations
    "q_tfidf" -> ((s, dir) =>
      pipeline.TextOps.tfidf(table(s, dir, "documents"), "text", "doc_id")
        .withColumn("tfidf", round(col("tfidf"), 6))),
    // exact grouped quantiles (auto-ranging companion to binning)
    "q_percentiles" -> ((s, dir) =>
      DfOps.groupQuantiles(table(s, dir, "lineitem"), "l_extendedprice",
        Seq("l_returnflag"),
        Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75, "p95" -> 0.95))),
    // deterministic top-3 documents per source (one key-window shuffle,
    // total order via the doc_id tiebreak)
    "q_topn_group" -> ((s, dir) =>
      DfOps.topKPerGroup(table(s, dir, "documents"), Seq("source"),
        Seq(col("n_chars").desc, col("doc_id").asc), 3)
        .select("doc_id", "source", "n_chars")),
    // per-type z-score normalization (moment-form, single window pass)
    "q_zscore" -> ((s, dir) =>
      DfOps.zscoreNormalize(table(s, dir, "events"), "value",
        Seq("event_type"))
        .select("event_id", "z")),
    // per-key equi-depth (quantile) bins: ntile(4) in a total order
    "q_equidepth" -> ((s, dir) =>
      DfOps.equiDepthBins(table(s, dir, "lineitem"), "l_extendedprice",
        Seq("l_returnflag"), 4,
        Seq(col("l_orderkey"), col("l_linenumber")))
        .select("l_orderkey", "l_linenumber", "bin")),
    // hierarchical mixture census: one rollup agg, grouping_id-tagged
    "q_rollup" -> ((s, dir) =>
      pipeline.Sampling.mixtureRollup(table(s, dir, "documents"),
        Seq("source", "lang"), col("n_chars"))),
    // median/MAD robust outlier scores (two exact percentile windows
    // over ONE exchange; flag on the rounded score)
    "q_mad_outliers" -> ((s, dir) =>
      DfOps.robustOutliers(table(s, dir, "events"), "value",
        Seq("event_type"))
        .select("event_id", "mad_z", "is_outlier")),
    // PSI distribution drift between two event populations: two sparse
    // histograms + a <=nBins-row join, corpus never co-shuffled
    "q_psi" -> ((s, dir) => {
      val ev = table(s, dir, "events")
      pipeline.Drift.psiReport(
        ev.filter(col("event_type") === "view"),
        ev.filter(col("event_type") === "click"),
        ax1dValue)
    }),
    // first-order event-transition matrix (one key window + one agg;
    // normalizer windows over the |types|^2 grouped result)
    "q_transition" -> ((s, dir) =>
      DfOps.transitionMatrix(table(s, dir, "events"), "ts", "event_type",
        Seq("user_id"), Seq(col("event_id")))),
    // Efraimidis-Spirakis weighted sample (portable-hash draws): 5 docs
    // per source, n_chars-weighted, reproducible
    "q_wsample" -> ((s, dir) =>
      pipeline.Sampling.weightedHashSample(table(s, dir, "documents"),
        "doc_id", "n_chars", Seq("source"), 5)
        .select("doc_id", "source")),
    // two-pass exact heavy hitters: Misra-Gries candidate sweep (one
    // O(k)-state agg) + exact re-count of candidates only
    "q_heavy_hitters" -> ((s, dir) =>
      pipeline.HeavyHitters.heavyHitterTokens(
        table(s, dir, "documents"), "text", minFrac = 0.005)),
    // per-label embedding centroids: one agg keyed (label, dim)
    "q_centroid" -> ((s, dir) =>
      pipeline.Similarity.groupCentroids(table(s, dir, "embeddings"),
        "embedding", Seq("label"))
        .select(col("label").cast("long").as("label"),
          col("dim").cast("long").as("dim"), col("centroid"))),
    // deterministic portable-hash Bernoulli sample (20 %)
    "q_sample" -> ((s, dir) =>
      pipeline.Sampling.hashSample(table(s, dir, "documents"), "doc_id", 200)
        .select("doc_id", "source")),
    // per-source cap (class rebalancing): lowest 10 doc_ids per source
    "q_balance" -> ((s, dir) =>
      pipeline.Sampling.capPerGroup(table(s, dir, "documents"),
        Seq("source"), "doc_id", 10)
        .select("doc_id", "source")),

    // unigram log-perplexity quality score (broadcast vocab join)
    "q_unigram_ppl" -> ((s, dir) =>
      pipeline.TextOps.unigramLogPerplexity(
        table(s, dir, "documents"), "text", "doc_id")),
    // bigram-LM log-perplexity (add-one smoothing, corpus-trained)
    "q_bigram_ppl" -> ((s, dir) =>
      pipeline.TextOps.bigramLogPerplexity(
        table(s, dir, "documents"), "text", "doc_id")),
    // trigram stupid-backoff log-perplexity: LM counts from the src0
    // subset only, scored over the whole corpus — unseen trigrams
    // exercise the real backoff chain (self-scoring would never back off)
    "q_trigram_ppl" -> ((s, dir) =>
      pipeline.TextOps.trigramLogPerplexity(
        table(s, dir, "documents"), "text", "doc_id",
        col("source") === "src0")),
    // interpolated Kneser-Ney bigram perplexity, src0-trained: the
    // discount/continuation formula is mirrored term-for-term (explicit
    // DOUBLE casts, same association order)
    "q_kn_ppl" -> ((s, dir) =>
      pipeline.TextOps.kneserNeyLogPerplexity(
        table(s, dir, "documents"), "text", "doc_id",
        col("source") === "src0")),
    // CCNet head/middle/tail perplexity tiers (threshold agg + map-only
    // assignment — no keyless window)
    "q_ppl_buckets" -> ((s, dir) =>
      pipeline.TextOps.perplexityBuckets(
        table(s, dir, "documents"), "text", "doc_id")),
    // HTML → text extraction: the page is SYNTHESIZED in-query from the
    // document text (escaped, so the kernel's entity decode must invert
    // it exactly) wrapped in title/style/script/comment/heading/list
    // markup; the oracle computes the expected extraction arithmetically
    // from the same base columns — raw-text drops, block-newline and
    // whitespace-collapse semantics are all load-bearing here
    "q_html_extract" -> ((s, dir) => {
      val d = table(s, dir, "documents").filter(col("text").isNotNull)
      val esc = regexp_replace(regexp_replace(regexp_replace(
        col("text"), "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
      val html = concat(
        lit("<html><head><title>Doc "), col("doc_id"),
        lit("</title><style>p { color: red; }</style></head><body>" +
          "<!-- synthesized --><h1>Doc "), col("doc_id"),
        lit("</h1><script>var t = \"<p>42 &amp; not text</p>\";</script><p>"),
        esc,
        lit("</p><ul><li>alpha</li><li>beta &amp; gamma</li></ul>" +
          "</body></html>"))
      d.select(col("doc_id"), pipeline.Html.extractText(html).as("plain_text"))
    }),
    // HTML → Markdown: structure-preserving extraction (heading prefix,
    // bold markers, [text](url) link, list-item dash) over the same
    // synthesized-page trick — the oracle rebuilds the exact Markdown
    // arithmetically, so marker placement interacts with the whitespace
    // machinery under test
    "q_html_markdown" -> ((s, dir) => {
      val d = table(s, dir, "documents").filter(col("text").isNotNull)
      val esc = regexp_replace(regexp_replace(regexp_replace(
        col("text"), "&", "&amp;"), "<", "&lt;"), ">", "&gt;")
      val html = concat(
        lit("<h2>Doc "), col("doc_id"),
        lit("</h2><p>Quality: <b>high</b> for <a href=\"https://ex.com/d/"),
        col("doc_id"), lit("\">ref "), col("doc_id"),
        lit("</a></p><ul><li>"), esc, lit("</li></ul>"))
      d.select(col("doc_id"), pipeline.Html.toMarkdown(html).as("markdown"))
    }),
    // HTML metadata: title + link census over pages synthesized with a
    // doc_id-determined link count (repeat() with a column count); the
    // oracle reproduces both arithmetically
    "q_html_meta" -> ((s, dir) => {
      val html = concat(
        lit("<html><head><title>Page "), col("doc_id"),
        lit("</title></head><body>"),
        expr("repeat('<a href=\"https://ex.com/d\">x</a>', " +
          "cast(doc_id % 4 as int))"),
        lit("</body></html>"))
      table(s, dir, "documents").select(col("doc_id"),
        pipeline.Html.title(html).as("html_title"),
        size(pipeline.Html.links(html)).cast("long").as("n_links"))
    }),
    // Gopher composite quality rules (minTokens/minRequiredHits relaxed
    // for the short synthetic word-soup docs so the flag discriminates)
    "q_gopher" -> ((s, dir) =>
      pipeline.TextOps.gopherColumns(table(s, dir, "documents"), "text",
        "doc_id", minTokens = 10, minRequiredHits = 1)),
    // train/test contamination: distinct word-3gram overlap vs src0 docs
    "q_contamination" -> ((s, dir) =>
      pipeline.TextOps.contaminationFraction(
        table(s, dir, "documents"), "text", "doc_id",
        col("source") === "src0", n = 3)),
    // Gopher-style repetition ratios (duplicate words / 2-grams per doc)
    "q_repetition" -> ((s, dir) =>
      pipeline.TextOps.repetitionColumns(table(s, dir, "documents"), "text")
        .select("doc_id", "dup_word_ratio", "dup_2gram_ratio")),
    // C4 corpus-level duplicate-span removal (word units on the
    // punctuation-free synthetic corpus; sentence mode is fixture-tested)
    "q_span_dedup" -> ((s, dir) =>
      pipeline.Dedup.dedupSpans(table(s, dir, "documents"), "text", "doc_id",
        n = 5, unit = "word")
        .select("doc_id", "cleaned")),
    // C4-style line filtering signals (single-line corpus: exercises the
    // keep predicate + page flags + survival ratio)
    "q_c4" -> ((s, dir) =>
      pipeline.TextOps.c4Columns(table(s, dir, "documents"), "text")
        .select(col("doc_id"),
          col("c4_kept_lines").cast("long").as("kept_lines"),
          round(col("c4_kept_ratio"), 6).as("kept_ratio"),
          col("c4_flag_lorem").cast("int").as("flag_lorem"),
          col("c4_flag_short").cast("int").as("flag_short"))),
    // PII detection + redaction over a deterministic contact-string corpus
    // synthesized from events ids (the synthetic tables carry no real PII,
    // so the corpus is built in-query identically on both engines; the
    // oracle then cross-checks Java regex vs DuckDB RE2 on every class)
    // CUBE grouping sets: all (source × lang) margin combinations in
    // ONE pass (map-side Expand + one exchange — the rollup plan with
    // the full lattice)
    "q_cube" -> ((s, dir) =>
      table(s, dir, "documents")
        .cube(col("source"), col("lang"))
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("docs"), sum("n_chars").as("weight"))),
    // deterministic epoch shuffle: salted portable-hash total order ->
    // contiguous shuffle_pos via range repartition + zipWithIndex (no
    // single-partition window); same salt = same order on any engine
    "q_shuffle" -> ((s, dir) =>
      pipeline.Sampling.shuffleDeterministic(
        table(s, dir, "documents").select("doc_id"), "doc_id", "ep1")),
    // cross-document paragraph dedup (Dolma-style boilerplate pass):
    // md5-keyed census -> anti-join -> order-restoring rebuild. Fixture
    // synthesizes multi-paragraph docs with a planted shared header on
    // every 3rd doc
    "q_para_dedup" -> ((s, dir) => {
      val docs = table(s, dir, "documents").select(col("doc_id"),
        concat(
          when(col("doc_id") % 3 === 0,
            lit("subscribe to our newsletter\n")).otherwise(lit("")),
          substring(col("text"), 1, 60), lit("\n"),
          substring(col("text"), 61, 60)).as("text"))
      pipeline.Dedup.dropRepeatedParagraphs(docs, "text", "doc_id")
    }),
    // RANGE-frame trailing time window: per-user 1-hour trailing sum +
    // count ordered by event time (a RANGE frame is tie-safe: all rows
    // at one instant share a frame, so equal-ts events cannot flip it)
    "q_rolling_time" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id").orderBy(col("ts"))
        .rangeBetween(-3600000000000L, 0)
      table(s, dir, "events").select(col("event_id"),
        round(sum("value").over(w), 6).as("trailing_sum"),
        count(lit(1)).over(w).as("n_in_window"))
    }),
    // fixed-grid series resampling with LOCF fill: per-key bounds agg ->
    // sequence explode -> the asofJoin union+window fill (one key
    // shuffle, no inequality join). 6-hour grid over the event stream
    "q_resample_grid" -> ((s, dir) =>
      dfops.DfOps.resampleSeries(
        table(s, dir, "events").select("user_id", "ts", "value", "event_id"),
        ordCol = "ts", valueCol = "value", tieCol = "event_id",
        keyCols = Seq("user_id"), stepOrd = 21600000000000L)),
    // SCD2 history build: observation stream -> validity intervals
    // (change-collapse lag + interval-close lead share ONE exchange on
    // the entity key; the filter between them preserves partitioning)
    "q_scd2" -> ((s, dir) =>
      dfops.History.scd2(
        table(s, dir, "events").select("user_id", "ts", "event_id", "event_type"),
        keyCols = Seq("user_id"), orderCol = "ts",
        attrCols = Seq("event_type"), tieBreak = Seq("event_id"))
        .select("user_id", "event_type", "valid_from", "valid_to", "is_current")),
    // edit-distance fuzzy matching: length-banded blocking (band +
    // successor probe guarantees |len diff| <= k pairs co-band) + Spark's
    // thresholded codegen levenshtein verify. Fixture: 40-char prefixes
    // plus planted distance-1 variants, blocked by source
    "q_fuzzy_pairs" -> ((s, dir) => {
      val docs = table(s, dir, "documents").select(col("doc_id"),
        col("source"), substring(col("text"), 1, 40).as("txt"))
      val corpus = docs.unionByName(docs.select(
        (col("doc_id") + 100000).as("doc_id"), col("source"),
        concat(col("txt"), lit("x")).as("txt")))
      pipeline.Fuzzy.editSimilarityPairs(corpus, "doc_id", "txt", "source",
        maxEdit = 2)
    }),
    // link-graph centrality (PageRank, 3 fixed rounds for oracle
    // determinism): the canonical two-shuffle-per-iteration loop — ranks
    // join pre-partitioned edges on src, aggregate on dst; dangling mass
    // via an O(nodes) scalar per round. Edge fixture: events modular
    // projection (user -> event hash buckets)
    "q_pagerank" -> ((s, dir) => {
      val e = table(s, dir, "events").select(
        (col("user_id") % 40).as("src"), (col("event_id") % 40).as("dst"))
      pipeline.Graph.pageRank(e, "src", "dst", alpha = 0.85, iterations = 3)
        .select(col("id"), round(col("r"), 6).as("r"))
    }),
    // graph-shape profile: in/out degree per node (one agg per direction
    // + full-outer merge)
    "q_degrees" -> ((s, dir) => {
      val e = table(s, dir, "events").select(
        (col("user_id") % 40).as("src"), (col("event_id") % 40).as("dst"))
      pipeline.Graph.degreeStats(e, "src", "dst")
    }),
    // URL curation family: host/registered-domain/path/query parsing +
    // tracking-param canonicalization, all codegen'd projections (the
    // fixture synthesizes provenance URLs from doc_id/source in-query —
    // documents.parquet carries no URL column)
    // sitemap ingestion: per-doc sitemap XML synthesized with two <loc>
    // entries (one entity-encoded, whitespace-padded), extracted via the
    // generic tag-text kernel and exploded to (doc_id, pos, url) — the
    // oracle rebuilds both URLs arithmetically
    "q_sitemap" -> ((s, dir) => {
      val xml = concat(
        lit("<?xml version=\"1.0\"?><urlset><url><loc>https://ex.com/a/"),
        col("doc_id"),
        lit("</loc><lastmod>2026-01-01</lastmod></url><url><loc> " +
          "https://ex.com/b?id="),
        col("doc_id"), lit("&amp;ref=s </loc></url></urlset>"))
      table(s, dir, "documents").select(col("doc_id"),
        posexplode(pipeline.Html.tagTexts(xml, "loc")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          col("col").as("url"))
    }),
    // robots.txt crawl-politeness filter: per-domain robots bodies are
    // synthesized (comments, an agent-specific group that must be
    // IGNORED for '*', overlapping Allow/Disallow prefixes, a
    // domain-conditional extra rule), parsed by the real parser, and the
    // longest-match/tie-break/group-selection decision runs through
    // filterAllowed — the oracle recomputes the verdict arithmetically
    "q_robots" -> ((s, dir) => {
      val withUrl = table(s, dir, "documents").select(col("doc_id"),
        concat(col("source"),
          when(col("doc_id") % 2 === 0, lit(".com")).otherwise(lit(".co.uk")))
          .as("domain"),
        expr("repeat('/seg', int(doc_id % 4))").as("path"))
      val robotsTxt = withUrl.select("domain").distinct()
        .withColumn("robots", concat(
          lit("# synthetic robots\nUser-agent: bot\nDisallow: /\n\n" +
            "User-agent: *\nDisallow: /seg/seg\nAllow: /seg/seg/seg\n"),
          // sources run src0..src19, so anchor the prefix with the dot
          // (bare "src1" would also catch src10..src19)
          when(col("domain").startsWith("src1."), lit("Disallow: /seg\n"))
            .otherwise(lit(""))))
      pipeline.Robots.filterAllowed(withUrl, "domain", "path",
        pipeline.Robots.rules(robotsTxt, "robots"))
    }),
    "q_url_parse" -> ((s, dir) => {
      val withUrl = table(s, dir, "documents").select(col("doc_id"),
        concat(lit("https://"),
          when(col("doc_id") % 3 === 0, lit("www.")).otherwise(lit("")),
          col("source"),
          when(col("doc_id") % 2 === 0, lit(".com")).otherwise(lit(".co.uk")),
          expr("repeat('/seg', int(doc_id % 4))"),
          when(col("doc_id") % 5 === 0,
            concat(lit("?id="), col("doc_id"), lit("&utm_source=feed&q=x")))
            .when(col("doc_id") % 5 === 1, lit("?utm_campaign=a"))
            .otherwise(lit(""))).as("url"))
      pipeline.UrlOps.urlColumns(withUrl, "url")
        .select("doc_id", "url_host", "url_domain", "url_path",
          "path_depth", "n_params", "url_clean")
    }),
    // domain blocklist drop on the same synthesized URLs (literal set →
    // broadcast by construction; the table-sided anti-join variant is
    // spec-covered)
    "q_url_block" -> ((s, dir) => {
      val withUrl = table(s, dir, "documents").select(col("doc_id"),
        concat(lit("https://"),
          when(col("doc_id") % 3 === 0, lit("www.")).otherwise(lit("")),
          col("source"),
          when(col("doc_id") % 2 === 0, lit(".com")).otherwise(lit(".co.uk")))
          .as("url"))
      pipeline.UrlOps.dropBlockedDomains(withUrl, "url",
        Seq("src2.com", "src1.co.uk"))
        .withColumn("url_domain",
          pipeline.UrlOps.registeredDomainOf(pipeline.UrlOps.hostOf(col("url"))))
        .select("doc_id", "url_domain")
    }),
    "q_pii" -> ((s, dir) => {
      val base = table(s, dir, "events").select(col("event_id"),
        concat_ws(" ",
          lit("contact"),
          concat(lit("user"), col("user_id"), lit("@example.com")),
          lit("tel"),
          concat(lit("555-"),
            lpad(pmod(col("user_id"), lit(10000)).cast("string"), 4, "0")),
          lit("ip"),
          concat(lit("10.0."), pmod(col("user_id"), lit(256)).cast("string"),
            lit("."), pmod(col("event_id"), lit(256)).cast("string")),
          lit("ssn"),
          concat(lpad(pmod(col("event_id"), lit(1000)).cast("string"), 3, "0"),
            lit("-"), lpad(pmod(col("user_id"), lit(100)).cast("string"), 2, "0"),
            lit("-"), lpad(pmod(col("event_id"), lit(10000)).cast("string"), 4, "0")),
          lit("ref"),
          concat(lit("https://example.com/item/"), col("event_id")),
          lit("acct"),
          lpad(pmod(col("user_id") * 31 + col("event_id"), lit(1000000000))
            .cast("string"), 9, "0"),
          col("props")).as("text"))
      pipeline.TextOps.piiColumns(base, "text")
        .select(col("event_id") +:
          pipeline.TextOps.PiiClasses.map { case (n, _, _) =>
            col(s"pii_$n").cast("long").as(s"n_$n") } :+
          col("pii_redacted").as("redacted"): _*)
    }),
    // corpus vocabulary head: top-50 tokens, deterministic rank
    "q_vocab" -> ((s, dir) =>
      pipeline.TextOps.topTokens(table(s, dir, "documents"), "text", 50)
        .withColumn("rank", col("rank").cast("long"))),
    // exact dedup on the NORMALIZED text key (case/punct-insensitive)
    "q_dedup_norm" -> ((s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"),
          pipeline.TextOps.normalizeText(col("text")).as("_norm"))
        .groupBy("_norm")
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_count"))
        .select(md5(col("_norm")).as("fp"), col("keep_id"), col("dup_count"))),
    // context-window chunking: 64-token windows, stride 48 (overlapping)
    "q_chunks" -> ((s, dir) =>
      pipeline.TextOps.chunkTokens(table(s, dir, "documents"), "text",
        "doc_id", window = 64, stride = 48)),
    // concat-then-chunk sequence packing: 512-token packs, 16 hash groups
    "q_pack" -> ((s, dir) =>
      pipeline.TextOps.packSequences(table(s, dir, "documents"), "text",
        "doc_id", budget = 512L, numGroups = 16)),
    // data-mixture report per source (domain reweighting input)
    "q_mixture" -> ((s, dir) =>
      pipeline.Sampling.mixtureReport(table(s, dir, "documents"), "text",
        Seq("source"))),
    // per-stratum deterministic sampling rates (domain reweighting apply)
    "q_stratified" -> ((s, dir) =>
      pipeline.Sampling.stratifiedHashSample(table(s, dir, "documents"),
        "doc_id", "source", stratifiedRates)
        .select("doc_id", "source")),
    // deterministic train/val/test split labels (content-hash ranges;
    // map-only projection, stable under corpus growth)
    "q_split" -> ((s, dir) =>
      pipeline.Sampling.assignSplit(table(s, dir, "documents"),
        "doc_id", splitRanges)
        .select("doc_id", "split")),
    // deterministic resampling to a target language mixture (largest
    // exact-mix downsample; broadcast rate table, corpus never shuffled)
    "q_resample" -> ((s, dir) =>
      pipeline.Sampling.resampleToMixture(table(s, dir, "documents"),
        "doc_id", "lang", resampleShares)
        .select("doc_id", "lang")),
    // cross-document duplicated passages (winnowing fp doc frequency)
    "q_dup_passages" -> ((s, dir) =>
      pipeline.Dedup.duplicatePassages(table(s, dir, "documents"),
        "doc_id", "text")),
    // per-document duplicated-passage exposure (fraction of a doc's
    // fingerprints shared corpus-wide; sub-document boilerplate score)
    "q_dup_exposure" -> ((s, dir) =>
      pipeline.Dedup.duplicatePassageExposure(table(s, dir, "documents"),
        "doc_id", "text")),
    // DSIR importance weights (hashed n-gram log-ratio vs the src0
    // target slice; one-pass λ estimation + map-only scoring)
    "q_dsir" -> ((s, dir) =>
      pipeline.Dsir.importanceWeights(table(s, dir, "documents"),
        "doc_id", "text", col("source") === "src0", numBuckets = 256)),
    // percentile-threshold quality filter: top 25 % by n_chars per
    // source (one keyed window exchange, deterministic tie-break)
    "q_top_percent" -> ((s, dir) =>
      pipeline.Sampling.topPercentByGroup(table(s, dir, "documents"),
        "n_chars", "doc_id", Seq("source"), 0.25)
        .select("doc_id", "source", "n_chars")),
    // hashed bag-of-features document embedding (L2-normalized bucket
    // counts from the native feature kernel), exploded per component
    "q_hashed_embed" -> ((s, dir) =>
      table(s, dir, "documents").select(col("doc_id"),
        posexplode(pipeline.TextOps.hashedEmbedding(col("text"), 32)))
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          round(col("col"), 6).as("val"))),
    // long-format column profile of the events table (one agg pass)
    "q_profile" -> ((s, dir) =>
      DfOps.profileColumns(table(s, dir, "events"),
        Seq("event_id", "user_id", "event_type"))),
    // contiguous sequential ids in doc_id order (range repartition +
    // zipWithIndex offsets — no single-partition global window)
    "q_seq_ids" -> ((s, dir) =>
      pipeline.Sampling.withSequentialIds(
        table(s, dir, "documents"), Seq("doc_id"))
        .select("doc_id", "seq_id")),
    // epoch-style mixture upsampling (fractional epochs via the salted
    // hash coin; map-side generator, no shuffle)
    "q_epochs" -> ((s, dir) =>
      pipeline.Sampling.upsampleEpochs(table(s, dir, "documents"),
        "doc_id", "source", epochMap)
        .select(col("doc_id"), col("source"),
          col("epoch_copy").cast("long").as("epoch_copy"))),
    // line-level structural signals (Dolma/C4); multi-line fixture
    // synthesized by word->line translation so the rules actually bite
    "q_line_signals" -> ((s, dir) =>
      pipeline.TextOps.lineSignals(
        table(s, dir, "documents")
          .withColumn("text", translate(col("text"), " ", "\n")),
        "text", "doc_id")),
    // per-line cleaning with first-occurrence line dedupe (map-only)
    "q_clean_lines" -> ((s, dir) =>
      pipeline.TextOps.cleanLines(
        table(s, dir, "documents")
          .withColumn("text", translate(col("text"), " ", "\n")),
        "text", "doc_id", minWords = 1, dedupe = true)
        .select("doc_id", "clean_text", "n_lines", "n_kept")),
    // Gumbel-top-k weighted resample (deterministic per-key Gumbel draw
    // + log-weight; plans as per-partition top-k, no global sort)
    "q_gumbel" -> ((s, dir) =>
      pipeline.Dsir.resampleByWeight(
        table(s, dir, "documents")
          .select(col("doc_id"), log(col("n_chars").cast("double")).as("logw")),
        "doc_id", "logw", 100)
        .select(col("doc_id"), round(col("logw"), 6).as("logw"))),
    // corpus snapshot diff (added/removed/changed/unchanged by content
    // digest; digests shuffle, not document bodies)
    "q_corpus_diff" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val oldSnap = d.filter(col("doc_id") % 7 =!= 0)
      val newSnap = d.filter(col("doc_id") % 5 =!= 0)
        .withColumn("text", when(col("doc_id") % 3 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
      pipeline.Curation.corpusDiff(oldSnap, newSnap, "doc_id", "text")
    }),
    // incremental snapshot MERGE: upserts replace/insert, deletes drop
    // (two id-keyed anti-joins + union; base never rewritten wide)
    "q_merge" -> ((s, dir) => {
      val d = table(s, dir, "documents").select("doc_id", "text")
      val base = d.filter(col("doc_id") % 2 === 0)
      val ups = d.filter(col("doc_id") % 3 === 0)
        .withColumn("text", concat(col("text"), lit(" v2")))
      val dels = d.filter(col("doc_id") % 10 === 7).select("doc_id")
      pipeline.Curation.mergeSnapshot(base, ups, dels, "doc_id")
    }),
    // per-source KL divergence from the corpus blend (hashed-feature
    // distributions; corpus shuffled once into (source, bucket) space)
    "q_domain_kl" -> ((s, dir) =>
      pipeline.Drift.domainDivergence(table(s, dir, "documents"),
        "text", "source", numBuckets = 256)),
    // grouped distinct cardinality (Expand-based two-phase distinct agg;
    // swap countDistinct -> approx_count_distinct at 100 TB)
    "q_user_card" -> ((s, dir) =>
      table(s, dir, "events").groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n_events"))),

    // ---- loader-family operators (S3/F1-F5) ----
    // F2 posexplode of array channels onto the index
    "q_explode" -> ((s, dir) =>
      table(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("cnt"))),
    // F5 full-outer channel join (the only join in the reference)
    "q_channel_join" -> ((s, dir) => {
      val c = table(s, dir, "customer")
      val o = table(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
        .select(coalesce(c("c_custkey"), o("o_custkey")).as("k"), o("o_orderkey"))
        .groupBy("k").agg(count(col("o_orderkey")).as("n_orders"))
    }),
    // S3 union-all of per-file frames
    "q_union" -> ((s, dir) => {
      val e = table(s, dir, "events")
      e.filter(col("event_id") % 2 === 0)
        .unionByName(e.filter(col("event_id") % 2 === 1))
        .groupBy("event_type").agg(count(lit(1)).as("cnt"))
    }),
    // F3 dldAux fan-out: fixed slots of an array channel to named scalars
    "q_aux_fanout" -> ((s, dir) =>
      table(s, dir, "embeddings").select(
        col("vec_id") +:
          ChannelLoader.AuxNames.zipWithIndex.map { case (n, i) =>
            col("embedding")(i).cast("double").as(n)
          }: _*)),
    // F1 electron index: explode pulse array, enumerate electrons per pulse
    "q_electron_index" -> ((s, dir) =>
      loader.ChannelLoader.electronIndex(
        table(s, dir, "embeddings")
          .select(col("vec_id").as("trainId"), col("embedding").as("pulseId")),
        ubidOffset = 0)
        .select(col("trainId"), col("pulseId").cast("double").as("pulseId"),
          col("electronId").cast("long").as("electronId"))),
  )

  def oracleSql: Map[String, String] = Map(
    "q_count_rate" ->
      raw"""WITH g AS (SELECT event_type, count(*) AS n,
           |  CAST(max(epoch_ns(ts)) - min(epoch_ns(ts)) AS DOUBLE) AS elapsed_ns
           |  FROM events GROUP BY 1
           |  UNION ALL
           |  SELECT 'ALL', count(*),
           |    CAST(max(epoch_ns(ts)) - min(epoch_ns(ts)) AS DOUBLE)
           |  FROM events)
           |SELECT event_type, n, elapsed_ns,
           |  ROUND(CAST(n AS DOUBLE) / elapsed_ns * 1000000000.0, 6)
           |    AS rate_per_sec FROM g""".stripMargin.replace("\n", " "),
    "q_cube_roundtrip" -> OracleSql.histogramSql("lineitem", Seq(axQty, axDisc)),
    "q_bin1d" -> OracleSql.histogramSql("events", Seq(ax1dValue)),
    "q_bin2d" -> OracleSql.histogramSql("lineitem", Seq(axQty, axDisc)),
    "q_bin4d" -> OracleSql.histogramSql("lineitem", ax4d),
    "q_bin4d_huge" -> OracleSql.histogramSql("lineitem", ax4dHuge),
    "q_bin_per_part_huge" -> OracleSql.histogramSql("lineitem",
      ax4dHuge.take(3), groupCols = Seq("l_linenumber")),
    "q_bin_edges" -> OracleSql.histogramSql("events", Seq(axEdges)),
    "q_bin_per_part" -> {
      val j = OracleSql.uniformJ("value", ax1dValue)
      val idx = OracleSql.uniformIdx("j0", ax1dValue)
      s"""SELECT event_type, bin_value, count(*) AS cnt FROM (
         |  SELECT event_type, $idx AS bin_value
         |  FROM (SELECT event_type, $j AS j0 FROM events)
         |  WHERE ${OracleSql.uniformKeep("j0", ax1dValue)}
         |) GROUP BY event_type, bin_value""".stripMargin.replace("\n", " ")
    },
    "q_norm_timed" -> {
      val j = OracleSql.uniformJ("value", ax1dValue)
      val idx = OracleSql.uniformIdx("j0", ax1dValue)
      s"""SELECT bin_value, count(*) * CAST(0.001 AS DOUBLE) AS norm FROM (
         |  SELECT $idx AS bin_value FROM (SELECT $j AS j0 FROM events)
         |  WHERE ${OracleSql.uniformKeep("j0", ax1dValue)}
         |) GROUP BY bin_value""".stripMargin.replace("\n", " ")
    },
    "q_norm_ts" -> {
      val j = OracleSql.uniformJ("value", ax1dValue)
      val idx = OracleSql.uniformIdx("j0", ax1dValue)
      s"""SELECT bin_value, CAST(sum(dts) AS BIGINT) AS norm FROM (
         |  SELECT $idx AS bin_value, dts FROM (
         |    SELECT $j AS j0,
         |      epoch_us(ts) - lag(epoch_us(ts)) OVER (ORDER BY event_id) AS dts
         |    FROM events)
         |  WHERE ${OracleSql.uniformKeep("j0", ax1dValue)} AND dts IS NOT NULL
         |) GROUP BY bin_value""".stripMargin.replace("\n", " ")
    },
    "q_norm_ts_part" -> {
      val j = OracleSql.uniformJ("value", ax1dValue)
      val idx = OracleSql.uniformIdx("j0", ax1dValue)
      s"""SELECT bin_value, CAST(sum(dts) AS BIGINT) AS norm FROM (
         |  SELECT $idx AS bin_value, dts FROM (
         |    SELECT $j AS j0,
         |      epoch_us(ts) - lag(epoch_us(ts))
         |        OVER (PARTITION BY user_id ORDER BY event_id) AS dts
         |    FROM events)
         |  WHERE ${OracleSql.uniformKeep("j0", ax1dValue)} AND dts IS NOT NULL
         |) GROUP BY bin_value""".stripMargin.replace("\n", " ")
    },
    "q_filter_range" ->
      "SELECT event_id, value FROM events WHERE value > 100.0 AND value < 400.0",
    "q_tof2ev" -> {
      val den = "((l_extendedprice * 2.0) * 1.0) - 100.0"
      val r = s"(1000000.0 / ($den))"
      s"SELECT l_orderkey, l_linenumber, (2.84281E-12 * ($r * $r)) + 0.5 AS energy FROM lineitem"
    },
    "q_tof2evpoly" -> {
      import OracleSql.d
      val Seq(a3, a2, a1) = polyACoeffs
      val p1 = "value"
      val p2 = "(value * value)"
      val p3 = "((value * value) * value)"
      s"SELECT event_id, (((${d(a1)} * $p1) + (${d(a2)} * $p2)) + (${d(a3)} * $p3)) + 10.0 AS energy FROM events"
    },
    "q_tof2ns" ->
      "SELECT event_id, ((value * 1.0E9) * 2.0E-9) * 2.0 AS t_ns FROM events",
    "q_corr_spherical" -> {
      val dx = "(l_quantity - 25.0)"
      val dy = "(l_linenumber - 4.0)"
      s"""SELECT l_orderkey, l_linenumber, l_extendedprice +
         | (-((1.0 - SQRT(1.0 - ($dx * $dx + $dy * $dy) / 10000.0)) * 100.0 * 0.05))
         | AS tm FROM lineitem""".stripMargin.replace("\n", " ")
    },
    "q_corr_lorentzian" -> {
      import OracleSql.d
      val k = d(100000.0 * 0.02 / (30.0 * math.Pi))
      val dx = "(l_quantity - 25.0)"
      val dy = "(l_linenumber - 4.0)"
      s"""SELECT l_orderkey, l_linenumber, l_extendedprice +
         | ($k * (900.0 / ($dx * $dx + $dy * $dy + 900.0) - 1.0))
         | AS tm FROM lineitem""".stripMargin.replace("\n", " ")
    },
    "q_corr_gaussian" -> {
      import OracleSql.d
      val k = d(20000.0 * 0.02 / math.sqrt(2.0 * math.Pi * 20.0 * 20.0))
      val dx = "(l_quantity - 25.0)"
      val dy = "(l_linenumber - 4.0)"
      s"""SELECT l_orderkey, l_linenumber, ROUND(l_extendedprice +
         | ($k * (EXP((-($dx * $dx + $dy * $dy)) / 800.0) - 1.0)), 6)
         | AS tm FROM lineitem""".stripMargin.replace("\n", " ")
    },
    "q_corr_asym" -> {
      import OracleSql.d
      val k1 = d(100000.0 * 0.02 / (30.0 * math.Pi))
      val k2 = d(100000.0 * 0.01 / (45.0 * math.Pi))
      val dx = "(l_quantity - 25.0)"
      val dy = "(l_linenumber - 4.0)"
      s"""SELECT l_orderkey, l_linenumber, l_extendedprice +
         | ($k1 * (900.0 / ($dy * $dy + 900.0) - 1.0) + $k2 * (2025.0 / ($dx * $dx + 2025.0) - 1.0))
         | AS tm FROM lineitem""".stripMargin.replace("\n", " ")
    },
    "q_sector_align" -> {
      import OracleSql.d
      val cases = sectorDelays.zipWithIndex
        .map { case (v, i) => s"WHEN $i THEN ${d(v)}" }
        .mkString(" ")
      s"SELECT event_id, value - (CASE (event_id % 8) $cases END) AS value FROM events"
    },
    "q_bitsplit" ->
      "SELECT event_id, user_id % 8 AS low, user_id // 8 AS high FROM events",
    "q_dfield" -> OracleSql.dfieldSql(
      "lineitem", Seq("l_orderkey", "l_linenumber"),
      "l_quantity", "l_linenumber",
      dfieldDims._1, dfieldDims._2, dfieldRanges,
      // mirrors dfieldNode's exact arithmetic (same association); constants
      // must be CAST to DOUBLE — bare literals are DECIMAL in DuckDB and
      // would fold `0.1 * r0 * r0` exactly instead of in binary doubles
      field => (r, c) =>
        if (field == 0)
          s"(CAST(0.1 AS DOUBLE) * $r * $r + CAST(0.2 AS DOUBLE) * $c * $c + CAST(0.05 AS DOUBLE) * $r * $c)"
        else
          s"(2.0 + CAST(0.3 AS DOUBLE) * $r + CAST(0.07 AS DOUBLE) * $c * $c - CAST(0.01 AS DOUBLE) * $r * $c)",
      ("xm", "ym")),
    "q_k_axis" -> {
      import OracleSql.d
      val det0r = d(0.0 + 1.0 * 25.0)
      val det0c = d(900.0 + 500.0 * 100.0)
      s"""SELECT l_orderkey, l_linenumber,
         | 0.01 * ((l_quantity - $det0r) / 1.0) AS kx,
         | 2.0E-5 * ((l_extendedprice - $det0c) / 500.0) AS ky
         | FROM lineitem""".stripMargin.replace("\n", " ")
    },
    "q_delay_axis" -> {
      import OracleSql.d
      val d0 = Delay.mmToPs(25.0, 25.3)
      val d1 = Delay.mmToPs(25.6, 25.3)
      s"SELECT event_id, ${d(d0)} + ((value - 0.0) * ${d(d1 - d0)}) / 500.0 AS delay FROM events"
    },
    "q_delay_offsets" ->
      """SELECT event_id,
        | -((((-1.0 + ((ADC - 0.0) * 3.0) / 500.0)
        |      + 0.5 * bam)
        |     - 0.5 * (SELECT avg(event_id % 7) FROM events))
        |    + 0.25) AS delay
        |FROM (SELECT event_id, value AS ADC,
        |        CAST(event_id % 7 AS DOUBLE) AS bam FROM events)
        |""".stripMargin.replace("\n", " "),
    "q_calib_roundtrip" -> {
      import OracleSql.d
      // energy: tof2ev on the binding scale (sign −1), t0 = −1e7
      val r = "(1000000.0 / (((value * 2.0) * 1.0) + 10000000.0))"
      val energy = s"(-2.84281E-12 * ($r * $r)) + 0.5"
      // delay: mm range → ps (driver-side constants, identical both runs)
      val d0 = Delay.mmToPs(25.0, 25.3)
      val d1 = Delay.mmToPs(25.6, 25.3)
      val delay = s"${d(d0)} + ((value - 0.0) * ${d(d1 - d0)}) / 500.0"
      s"SELECT event_id, $energy AS energy, $delay AS delay FROM events"
    },
    "q_offset_preserve" ->
      """SELECT l_orderkey, l_linenumber,
        | ((l_extendedprice + 1.0 * l_quantity) - 1.0 * (SELECT avg(l_quantity) FROM lineitem))
        | AS shifted FROM lineitem""".stripMargin.replace("\n", " "),
    "q_offset_mean" ->
      """SELECT l_orderkey, l_linenumber,
        | (l_extendedprice + 0.5 * (SELECT avg(l_quantity) FROM lineitem))
        | AS shifted FROM lineitem""".stripMargin.replace("\n", " "),
    "q_map2d" -> {
      import OracleSql.d
      s"""SELECT l_orderkey, l_linenumber,
         | ${d(cos03)} * l_quantity - ${d(sin03)} * l_tax AS xr,
         | ${d(sin03)} * l_quantity + ${d(cos03)} * l_tax AS yr
         | FROM lineitem""".stripMargin.replace("\n", " ")
    },
    "q_interp" -> {
      val e = Interp.piecewiseLinearSql("value", interpXs, interpYs)
      s"SELECT event_id, $e AS aux FROM events"
    },
    "q_ffill" ->
      """SELECT event_id,
        | last_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
        |   OVER (ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        | AS sparse FROM events""".stripMargin.replace("\n", " "),
    "q_bfill" ->
      """SELECT event_id,
        | first_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
        |   OVER (ORDER BY event_id ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
        | AS sparse FROM events""".stripMargin.replace("\n", " "),
    "q_ffill_part" ->
      """SELECT event_id, user_id,
        | last_value(CASE WHEN event_type = 'click' THEN value END IGNORE NULLS)
        |   OVER (PARTITION BY user_id ORDER BY event_id
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        | AS sparse FROM events""".stripMargin.replace("\n", " "),
    "q_timed_table" ->
      """SELECT epoch_ns(ts) // 1000000000 AS sec,
        | arg_max(value, event_id) AS last_value, count(*) AS n
        | FROM events GROUP BY sec""".stripMargin.replace("\n", " "),
    "q_dedup_exact" ->
      "SELECT md5(text) AS h, min(doc_id) AS keep_id, count(*) AS dup_count FROM documents GROUP BY md5(text)",
    "q_dedup_drop" ->
      "SELECT * FROM documents WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))",
    // exact-dedup equivalent of the bloom drop: rows whose text is not in
    // the fingerprinted (even-id) half. Valid as the bloom oracle because
    // the FP budget at gate fill ratios rounds to zero (m sized for 10k
    // items at fpp=1e-3; inserting <=5k fills <18% of the bits, so the
    // per-probe FP rate is ~0.18^10 < 1e-7) and the filter is
    // deterministic — bloom == exact on every gate dataset
    "q_bloom_new" ->
      """SELECT doc_id FROM documents d WHERE NOT EXISTS
        | (SELECT 1 FROM documents c WHERE c.doc_id % 2 = 0 AND c.text = d.text)"""
        .stripMargin.replace("\n", " "),
    "q_fingerprint" ->
      raw"SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp FROM documents",
    "q_token_count" ->
      raw"""SELECT doc_id,
           | CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
           | CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpeish
           | FROM documents""".stripMargin.replace("\n", " "),
    "q_entropy" ->
      """SELECT doc_id, round(entropy(ch), 6) AS char_entropy
        | FROM (SELECT doc_id, unnest(string_split(text, '')) AS ch
        |       FROM documents WHERE text IS NOT NULL)
        | GROUP BY doc_id""".stripMargin.replace("\n", " "),
    "q_quality" -> {
      val sw = pipeline.TextOps.EnStopwords.map(w => s"'$w'").mkString(", ")
      raw"""SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           | CAST(nws AS DOUBLE) / n_tokens AS avg_token_len,
           | CAST(np AS DOUBLE) / n_chars_m AS punct_ratio,
           | CAST(nsw AS DOUBLE) / n_tokens AS stopword_ratio
           | FROM (SELECT doc_id,
           |  len(regexp_split_to_array(trim(text), '\s+')) AS n_tokens,
           |  length(regexp_replace(text, '\s+', '', 'g')) AS nws,
           |  length(text) AS n_chars_m,
           |  length(text) - length(regexp_replace(text, '[.,!?;:''"()\[\]{}-]', '', 'g')) AS np,
           |  len(list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t IN ($sw))) AS nsw
           | FROM documents)""".stripMargin.replace("\n", " ")
    },
    "q_stem" -> {
      // single source of truth: the SQL literal arrays are generated
      // from stemPairs, so the Spark fixture and oracle cannot drift
      val ws = stemPairs.map(p => s"'${p._1}'").mkString(", ")
      val ss = stemPairs.map(p => s"'${p._2}'").mkString(", ")
      s"SELECT doc_id, [$ws][CAST(doc_id % 40 AS INTEGER) + 1] AS word, " +
        s"[$ss][CAST(doc_id % 40 AS INTEGER) + 1] AS stem FROM documents"
    },
    "q_nfc" ->
      raw"""SELECT doc_id,
           |  nfc_normalize(text || ' cafe' || chr(769) || ' A' || chr(778)
           |    || repeat('e' || chr(769), CAST(doc_id % 3 AS INTEGER)))
           |    AS nfc_text
           |FROM documents WHERE text IS NOT NULL""".stripMargin
        .replace("\n", " "),
    "q_encoding" ->
      raw"""WITH t AS (SELECT doc_id,
           |  text || repeat('Ã©', CAST(doc_id % 3 AS INTEGER))
           |    || CASE WHEN doc_id % 5 = 0 THEN 'x' || chr(7) || 'y'
           |       ELSE '' END
           |    || CASE WHEN doc_id % 7 = 0 THEN chr(65533) ELSE '' END AS c
           |  FROM documents WHERE text IS NOT NULL),
           |s AS (SELECT doc_id,
           |  CAST(len(regexp_extract_all(c, chr(65533))) AS BIGINT)
           |    AS n_replacement,
           |  CAST(len(regexp_extract_all(c,
           |    '[\x{00}-\x{08}\x{0B}\x{0C}\x{0E}-\x{1F}\x{7F}-\x{9F}]'))
           |    AS BIGINT) AS n_control,
           |  CAST(len(regexp_extract_all(c, '[ÂÃ][\x{80}-\x{BF}]'))
           |    AS BIGINT) AS n_mojibake
           |  FROM t)
           |SELECT doc_id, n_replacement, n_control, n_mojibake,
           |  CAST(CASE WHEN n_replacement = 0 AND n_control = 0
           |    AND n_mojibake = 0 THEN 1 ELSE 0 END AS INTEGER)
           |    AS encoding_clean
           |FROM s""".stripMargin.replace("\n", " "),
    "q_temperature" -> {
      s"""WITH d AS (SELECT doc_id,
         |  CASE WHEN doc_id % 10 < 6 THEN 'big'
         |       WHEN doc_id % 10 < 9 THEN 'mid'
         |       ELSE 'small' END AS domain FROM documents),
         |c AS (SELECT domain, count(*) AS cnt FROM d GROUP BY 1),
         |sh AS (SELECT domain, cnt,
         |  pow(CAST(cnt AS DOUBLE), CAST(0.5 AS DOUBLE))
         |    / sum(pow(CAST(cnt AS DOUBLE), CAST(0.5 AS DOUBLE))) OVER ()
         |    AS share FROM c),
         |r AS (SELECT domain, cnt, share,
         |  FLOOR(MIN(CAST(cnt AS DOUBLE) / share) OVER ()) AS n_out FROM sh)
         |SELECT d.doc_id, d.domain FROM d JOIN r ON d.domain = r.domain
         |WHERE (CAST((${OracleSql.portableTokenHashSql(
        "(d.domain || chr(1) || CAST(d.doc_id AS VARCHAR))")}) % 1000003
         |    AS DOUBLE) + 0.5) / 1000003.0
         |  < (r.share * r.n_out) / CAST(r.cnt AS DOUBLE)""".stripMargin
        .replace("\n", " ")
    },
    "q_readability" ->
      raw"""WITH t AS (SELECT doc_id,
           |  CASE WHEN doc_id % 2 = 0
           |    THEN repeat('The value is fine. ',
           |      CAST(doc_id % 4 + 1 AS INTEGER))
           |    ELSE repeat('Excellent documentation improves considerably. ',
           |      CAST(doc_id % 4 + 1 AS INTEGER)) END AS text
           |  FROM documents),
           |s AS (SELECT doc_id,
           |  CAST(doc_id % 4 + 1 AS BIGINT) AS n_sentences,
           |  regexp_split_to_array(trim(text), '\s+') AS toks FROM t),
           |c AS (SELECT doc_id, n_sentences,
           |  CAST(len(toks) AS BIGINT) AS n_words,
           |  CAST(list_sum(list_transform(toks, w -> GREATEST(
           |    len(regexp_extract_all(lower(w), '[aeiouy]+'))
           |    - CASE WHEN regexp_matches(lower(w), 'e$$')
           |        AND NOT regexp_matches(lower(w), 'le$$')
           |      THEN 1 ELSE 0 END, 1))) AS BIGINT) AS n_syllables
           |  FROM s)
           |SELECT doc_id, n_sentences, n_words, n_syllables,
           |  ROUND(CAST(206.835 AS DOUBLE)
           |    - CAST(1.015 AS DOUBLE) *
           |      (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
           |    - CAST(84.6 AS DOUBLE) *
           |      (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)), 6)
           |    AS flesch
           |FROM c""".stripMargin.replace("\n", " "),
    "q_sent_dedup" ->
      raw"""SELECT doc_id,
           |  'Unique sentence ' || doc_id || ' here.' AS text
           |FROM documents""".stripMargin.replace("\n", " "),
    "q_sentences" ->
      raw"""SELECT doc_id,
           |  CAST(doc_id % 4 + 1 AS BIGINT) AS n_sentences,
           |  CASE WHEN doc_id % 2 = 0 THEN 'The value is fine.'
           |    ELSE 'Dr. Smith met Mr. Jones at 5 p.m. today, e.g. with J. Doe.'
           |    END AS first_sentence,
           |  CAST(doc_id % 4 + 1 AS BIGINT) AS expected_k
           |FROM documents""".stripMargin.replace("\n", " "),
    "q_langid" -> {
      val scoreCols = pipeline.TextOps.LangProfiles.map { case (lang, words) =>
        val ws = words.map(w => s"'$w'").mkString(", ")
        raw"len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'), t -> t IN ($ws))) AS s_$lang"
      }.mkString(", ")
      val langs = pipeline.TextOps.LangProfiles.map(_._1)
      val best = langs.map(l => s"s_$l").mkString("greatest(", ", ", ")")
      val branches = langs
        .map(l => s"WHEN s_$l = best AND best > 0 THEN '$l'")
        .mkString(" ")
      val passthrough = langs.map(l => s"s_$l").mkString(", ")
      raw"""SELECT doc_id, CASE WHEN regexp_matches(text, '[\x{4E00}-\x{9FFF}]') THEN 'zh'
           | $branches ELSE 'und' END AS lang_pred
           | FROM (SELECT doc_id, text, $passthrough, $best AS best FROM
           |   (SELECT doc_id, text, $scoreCols FROM documents))""".stripMargin.replace("\n", " ")
    },
    "q_ngram_jaccard" ->
      """WITH s AS (SELECT doc_id AS id, source AS block,
        |  list_distinct([substr(text, i, 3) for i in range(1, length(text) - 1)]) AS sh
        |  FROM documents)
        |SELECT a.id AS id_a, b.id AS id_b,
        |  ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |    (CAST(len(a.sh) + len(b.sh) AS DOUBLE) - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)),
        |    6) AS jaccard
        |FROM s a JOIN s b ON a.block = b.block AND a.id < b.id""".stripMargin.replace("\n", " "),
    "q_embed_pairs" ->
      """WITH x AS (SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
        |  unnest(embedding) AS v FROM embeddings),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  sum(CAST(a.v AS DOUBLE) * CAST(b.v AS DOUBLE)) AS dot,
        |  sum(CAST(a.v AS DOUBLE) * CAST(a.v AS DOUBLE)) AS na,
        |  sum(CAST(b.v AS DOUBLE) * CAST(b.v AS DOUBLE)) AS nb
        | FROM x a JOIN x b ON a.label = b.label AND a.i = b.i AND a.vec_id < b.vec_id
        | GROUP BY 1, 2)
        |SELECT id_a, id_b, ROUND(dot / (sqrt(na) * sqrt(nb)), 6) AS cos FROM p
        |WHERE ROUND(dot / (sqrt(na) * sqrt(nb)), 6) >= 0.2""".stripMargin.replace("\n", " "),
    "q_cosine_topk" ->
      """WITH x AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |  unnest(embedding) AS v FROM embeddings),
        |q AS (SELECT generate_subscripts(embedding, 1) AS i, unnest(embedding) AS v
        |  FROM embeddings WHERE vec_id = 0),
        |p AS (SELECT x.vec_id, sum(CAST(x.v AS DOUBLE) * CAST(q.v AS DOUBLE)) AS dot,
        |  sum(CAST(x.v AS DOUBLE) * CAST(x.v AS DOUBLE)) AS nx,
        |  sum(CAST(q.v AS DOUBLE) * CAST(q.v AS DOUBLE)) AS nq
        | FROM x JOIN q ON x.i = q.i GROUP BY 1)
        |SELECT vec_id, ROUND(dot / (sqrt(nx) * sqrt(nq)), 6) AS cos FROM p
        |ORDER BY cos DESC, vec_id LIMIT 20""".stripMargin.replace("\n", " "),
    "q_brute_batch" ->
      """WITH x AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |  unnest(embedding) AS v FROM embeddings),
        |q AS (SELECT vec_id AS q_id, generate_subscripts(embedding, 1) AS i,
        |  unnest(embedding) AS v FROM embeddings WHERE vec_id % 100 = 0),
        |p AS (SELECT q.q_id, x.vec_id,
        |  ROUND(sum(CAST(x.v AS DOUBLE) * CAST(q.v AS DOUBLE)) /
        |    (sqrt(sum(CAST(x.v AS DOUBLE) * CAST(x.v AS DOUBLE))) *
        |     sqrt(sum(CAST(q.v AS DOUBLE) * CAST(q.v AS DOUBLE)))), 6) AS cos
        | FROM x JOIN q ON x.i = q.i GROUP BY 1, 2)
        |SELECT q_id, vec_id, cos FROM p
        |QUALIFY row_number() OVER (PARTITION BY q_id
        |  ORDER BY cos DESC, vec_id) <= 10""".stripMargin.replace("\n", " "),
    "q_semdedup" ->
      """WITH RECURSIVE e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
        |  CAST(unnest(embedding) AS DOUBLE) AS v FROM embeddings),
        |c AS (SELECT vec_id AS cid, i, v FROM e WHERE vec_id < 8),
        |rd AS (SELECT e.vec_id, c.cid, sum((e.v - c.v) * (e.v - c.v)) AS dd
        |  FROM e JOIN c ON e.i = c.i GROUP BY 1, 2),
        |asg AS (SELECT vec_id, cid FROM (
        |  SELECT vec_id, cid,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dd, cid) AS rn FROM rd)
        |  WHERE rn = 1),
        |x AS (SELECT e.vec_id, asg.cid, e.i, e.v FROM e JOIN asg USING (vec_id)),
        |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  sum(a.v * b.v) AS dot, sum(a.v * a.v) AS na, sum(b.v * b.v) AS nb
        | FROM x a JOIN x b ON a.cid = b.cid AND a.i = b.i AND a.vec_id < b.vec_id
        | GROUP BY 1, 2),
        |pr AS (SELECT id_a, id_b FROM p
        |  WHERE ROUND(dot / (sqrt(na) * sqrt(nb)), 6) >= 0.4),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM pr
        |  UNION SELECT id_b, id_a FROM pr),
        |walk AS (SELECT src AS id, dst AS reach FROM edges
        |  UNION SELECT w.id, e2.dst FROM walk w JOIN edges e2 ON w.reach = e2.src),
        |lab AS (SELECT id, least(id, min(reach)) AS label FROM walk GROUP BY id)
        |SELECT vec_id, CAST(cid AS INTEGER) AS sem_cluster FROM asg
        |WHERE vec_id NOT IN (SELECT id FROM lab WHERE id != label)"""
        .stripMargin.replace("\n", " "),
    "q_embed_quant" ->
      """WITH q AS (SELECT vec_id, embedding,
        |  CAST(list_min(embedding) AS DOUBLE) AS lo,
        |  CASE WHEN list_max(embedding) = list_min(embedding) THEN 1.0
        |    ELSE (CAST(list_max(embedding) AS DOUBLE) -
        |          CAST(list_min(embedding) AS DOUBLE)) / 255.0 END AS s
        | FROM embeddings)
        |SELECT vec_id, unnest(range(0, len(embedding))) AS pos,
        | unnest([ CAST(round((CAST(x AS DOUBLE) - lo) / s) AS INTEGER)
        |   for x in embedding ]) AS code
        |FROM q""".stripMargin.replace("\n", " "),
    "q_lsh_bucket" ->
      s"SELECT vec_id, ${OracleSql.lshBucketExprSql(lshPlanes)} AS bucket FROM embeddings",
    "q_lsh_topk" -> OracleSql.lshTopKSql("embeddings", lshPlanes, 10),
    "q_ivf_topk" -> OracleSql.ivfTopKSql("embeddings", nLists = 8, nProbe = 2, k = 10),
    "q_ivf_batch" -> OracleSql.ivfBatchSql("embeddings", nLists = 8,
      nQueries = 4, nProbe = 2, k = 5),
    "q_pq_rerank" -> OracleSql.ivfPqRerankSql("embeddings", nLists = 8,
      subDim = 8, nQueries = 4, nProbe = 2, shortK = 8, k = 5),
    "q_ivf_pq_batch" -> OracleSql.ivfPqBatchSql("embeddings", nLists = 8,
      subDim = 8, nQueries = 4, nProbe = 2, k = 5),
    "q_embed_cov" -> OracleSql.embedCovSql("embeddings"),
    "q_pq_encode" -> OracleSql.pqEncodeSql("embeddings", nSeeds = 8, subDim = 8),
    "q_pq_adc" -> OracleSql.pqAdcSql("embeddings", nSeeds = 8, subDim = 8, k = 10),
    "q_kmeans_inertia" -> OracleSql.kmeansInertiaSql("embeddings", nLists = 8),
    "q_kmeans_step" -> OracleSql.kmeansStepSql("embeddings", nLists = 8),
    "q_quality_score" ->
      OracleSql.qualityScoreSql("documents", numBuckets = 64, bias = 0.1),
    "q_bm25" ->
      raw"""WITH toks AS (SELECT doc_id,
           |  unnest(regexp_split_to_array(trim(text), '\s+')) AS t FROM documents),
           |lens AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY doc_id),
           |sc AS (SELECT count(*) AS n, avg(CAST(len AS DOUBLE)) AS avgl FROM lens),
           |tf AS (SELECT doc_id, t, count(*) AS tfc FROM toks
           |  WHERE t IN ('join', 'spark', 'vector') GROUP BY doc_id, t),
           |dfq AS (SELECT t, count(*) AS dfr FROM tf GROUP BY t)
           |SELECT tf.doc_id, ROUND(sum(
           |  ln(CAST(1 AS DOUBLE) +
           |    (CAST(sc.n AS DOUBLE) - dfr + 0.5) / (CAST(dfr AS DOUBLE) + 0.5)) *
           |  (CAST(tfc AS DOUBLE) * 2.2) /
           |  (CAST(tfc AS DOUBLE) +
           |    1.2 * (0.25 + 0.75 * CAST(lens.len AS DOUBLE) / sc.avgl))), 6) AS bm25
           |FROM tf JOIN dfq USING (t) JOIN lens USING (doc_id) CROSS JOIN sc
           |GROUP BY tf.doc_id""".stripMargin.replace("\n", " "),
    // identical scoring core, ranked: top-20 by (rounded score desc, id)
    "q_text_search" ->
      raw"""WITH toks AS (SELECT doc_id,
           |  unnest(regexp_split_to_array(trim(text), '\s+')) AS t FROM documents),
           |lens AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY doc_id),
           |sc AS (SELECT count(*) AS n, avg(CAST(len AS DOUBLE)) AS avgl FROM lens),
           |tf AS (SELECT doc_id, t, count(*) AS tfc FROM toks
           |  WHERE t IN ('join', 'spark', 'vector') GROUP BY doc_id, t),
           |dfq AS (SELECT t, count(*) AS dfr FROM tf GROUP BY t)
           |SELECT doc_id, bm25 FROM (
           |  SELECT tf.doc_id, ROUND(sum(
           |    ln(CAST(1 AS DOUBLE) +
           |      (CAST(sc.n AS DOUBLE) - dfr + 0.5) / (CAST(dfr AS DOUBLE) + 0.5)) *
           |    (CAST(tfc AS DOUBLE) * 2.2) /
           |    (CAST(tfc AS DOUBLE) +
           |      1.2 * (0.25 + 0.75 * CAST(lens.len AS DOUBLE) / sc.avgl))), 6) AS bm25
           |  FROM tf JOIN dfq USING (t) JOIN lens USING (doc_id) CROSS JOIN sc
           |  GROUP BY tf.doc_id)
           |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin.replace("\n", " "),
    // batch form: per-query top-10 over the full-term postings
    "q_text_batch" ->
      raw"""WITH toks AS (SELECT doc_id,
           |  unnest(regexp_split_to_array(trim(text), '\s+')) AS t FROM documents),
           |lens AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY doc_id),
           |sc AS (SELECT count(*) AS n, avg(CAST(len AS DOUBLE)) AS avgl FROM lens),
           |tf AS (SELECT doc_id, t, count(*) AS tfc FROM toks GROUP BY doc_id, t),
           |dfq AS (SELECT t, count(*) AS dfr FROM tf GROUP BY t),
           |q AS (SELECT * FROM (VALUES (0, 'join'), (0, 'spark'),
           |  (1, 'vector'), (1, 'index'), (2, 'shuffle')) v(qi, t)),
           |s AS (SELECT q.qi, tf.doc_id, ROUND(sum(
           |    ln(CAST(1 AS DOUBLE) +
           |      (CAST(sc.n AS DOUBLE) - dfr + 0.5) / (CAST(dfr AS DOUBLE) + 0.5)) *
           |    (CAST(tfc AS DOUBLE) * 2.2) /
           |    (CAST(tfc AS DOUBLE) +
           |      1.2 * (0.25 + 0.75 * CAST(lens.len AS DOUBLE) / sc.avgl))), 6) AS bm25
           |  FROM q JOIN tf USING (t) JOIN dfq USING (t)
           |  JOIN lens USING (doc_id) CROSS JOIN sc
           |  GROUP BY q.qi, tf.doc_id)
           |SELECT q_id, doc_id, bm25 FROM (
           |  SELECT CAST(qi AS BIGINT) AS q_id, doc_id, bm25,
           |    row_number() OVER (PARTITION BY qi
           |      ORDER BY bm25 DESC, doc_id) AS rn FROM s)
           |WHERE rn <= 10""".stripMargin.replace("\n", " "),
    // default-settings batch form: the oracle mirrors the auto df-prune
    // ROUTING RULE (drop terms with df > greatest(10000, 0.1·N)) so the
    // row pins pruned ≡ engine at every SF — no pruning below the floor,
    // stopword-grade terms dropped above it
    "q_text_batch_auto" ->
      raw"""WITH docs2 AS (SELECT doc_id,
           |  concat(text, ' rare', doc_id % 50) AS text
           |  FROM documents WHERE text IS NOT NULL),
           |toks AS (SELECT doc_id,
           |  unnest(regexp_split_to_array(trim(text), '\s+')) AS t FROM docs2),
           |lens AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY doc_id),
           |sc AS (SELECT count(*) AS n, avg(CAST(len AS DOUBLE)) AS avgl,
           |  greatest(10000.0, 0.1 * count(*)) AS cap FROM lens),
           |tf AS (SELECT doc_id, t, count(*) AS tfc FROM toks GROUP BY doc_id, t),
           |dfq AS (SELECT t, count(*) AS dfr FROM tf GROUP BY t),
           |q AS (SELECT * FROM (VALUES (0, 'join'), (0, 'rare7'),
           |  (1, 'spark'), (1, 'rare13'), (2, 'rare21')) v(qi, t)),
           |s AS (SELECT q.qi, tf.doc_id, ROUND(sum(
           |    ln(CAST(1 AS DOUBLE) +
           |      (CAST(sc.n AS DOUBLE) - dfr + 0.5) / (CAST(dfr AS DOUBLE) + 0.5)) *
           |    (CAST(tfc AS DOUBLE) * 2.2) /
           |    (CAST(tfc AS DOUBLE) +
           |      1.2 * (0.25 + 0.75 * CAST(lens.len AS DOUBLE) / sc.avgl))), 6) AS bm25
           |  FROM q JOIN tf USING (t) JOIN dfq USING (t)
           |  JOIN lens USING (doc_id) CROSS JOIN sc
           |  WHERE CAST(dfr AS DOUBLE) <= sc.cap
           |  GROUP BY q.qi, tf.doc_id)
           |SELECT q_id, doc_id, bm25 FROM (
           |  SELECT CAST(qi AS BIGINT) AS q_id, doc_id, bm25,
           |    row_number() OVER (PARTITION BY qi
           |      ORDER BY bm25 DESC, doc_id) AS rn FROM s)
           |WHERE rn <= 10""".stripMargin.replace("\n", " "),
    "q_minhash_pairs" -> OracleSql.minhashPairsSql(
      "documents", k = 5, numHashes = 32, bands = 8, threshold = 0.2, seed = 42L),
    "q_minhash_inline" -> OracleSql.minhashPairsSql(
      "documents", k = 5, numHashes = 32, bands = 8, threshold = 0.2, seed = 42L),
    "q_minhash_auto" -> OracleSql.minhashPairsSql(
      "documents", k = 5, numHashes = 32, bands = 8, threshold = 0.2, seed = 42L),
    "q_cross_dedup" -> OracleSql.minhashAgainstSql(
      "documents", k = 5, numHashes = 32, bands = 8, threshold = 0.2,
      seed = 42L, batchPred = "a.id % 2 = 1", corpusPred = "b.id % 2 = 0"),
    "q_simhash_pairs" -> OracleSql.simhashPairsSql("documents", maxDistance = 16),
    "q_rolling_fp" -> OracleSql.rollingFpSql("documents", k = 7, window = 4),
    "q_word_shingles" ->
      raw"""SELECT doc_id, unnest(
           | [array_to_string(toks[i : i + 2], ' ')
           |  for i in range(1, len(toks) - 1)]) AS shingle
           | FROM (SELECT doc_id,
           |   regexp_split_to_array(trim(text), '\s+') AS toks
           |  FROM documents)
           | WHERE len(toks) >= 3""".stripMargin.replace("\n", " "),
    "q_jpeg_decode" ->
      """SELECT doc_id,
        | CAST(16 + (doc_id % 5) * 4 AS INTEGER) AS img_width,
        | CAST(12 + (doc_id % 3) * 4 AS INTEGER) AS img_height,
        | CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS INTEGER) AS img_channels
        | FROM documents WHERE doc_id < 200""".stripMargin.replace("\n", " "),
    "q_video_meta" ->
      """SELECT doc_id,
        | CAST(2 + doc_id % 4 AS INTEGER) AS n_frames,
        | ROUND(CAST(CASE doc_id % 3 WHEN 0 THEN 10 WHEN 1 THEN 20 ELSE 25 END
        |   AS DOUBLE), 6) AS fps
        | FROM documents WHERE doc_id < 60""".stripMargin.replace("\n", " "),
    "q_image_formats" ->
      """SELECT doc_id,
        | CAST(16 + (doc_id % 4) * 8 AS INTEGER) AS img_width,
        | CAST(8 + (doc_id % 3) * 4 AS INTEGER) AS img_height,
        | CAST(3 AS INTEGER) AS img_channels
        | FROM documents WHERE doc_id < 120""".stripMargin.replace("\n", " "),
    "q_audio_meta" ->
      """SELECT doc_id,
        | CAST(8000 AS INTEGER) AS sample_rate,
        | ROUND(CAST(0.128 AS DOUBLE), 6) AS duration_s,
        | ROUND(CAST(16 + (doc_id % 8) * 8 AS DOUBLE) * 7.8125, 6) AS dominant_hz
        | FROM documents WHERE doc_id < 80""".stripMargin.replace("\n", " "),
    "q_multimodal_meta" ->
      """SELECT doc_id,
        | CAST(octet_length(CAST(text AS BLOB)) % 640 AS INTEGER) AS width,
        | CAST((octet_length(CAST(text AS BLOB)) // 640) % 480 AS INTEGER) AS height,
        | CASE (ord(substr(text, 1, 1)) % 3) WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' ELSE 'wav' END AS format,
        | CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len
        | FROM documents""".stripMargin.replace("\n", " "),
    "q_dedup_cluster" ->
      """WITH RECURSIVE s AS (SELECT doc_id AS id, source AS block,
        |  list_distinct([substr(text, i, 3) for i in range(1, length(text) - 1)]) AS sh
        |  FROM documents),
        |p AS (SELECT a.id AS id_a, b.id AS id_b FROM s a JOIN s b
        |  ON a.block = b.block AND a.id < b.id
        |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |    (CAST(len(a.sh) + len(b.sh) AS DOUBLE) - CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE))
        |    >= 0.5),
        |edges AS (SELECT id_a AS src, id_b AS dst FROM p
        |  UNION SELECT id_b, id_a FROM p),
        |walk AS (SELECT src AS id, dst AS reach FROM edges
        |  UNION SELECT w.id, e.dst FROM walk w JOIN edges e ON w.reach = e.src)
        |SELECT id, least(id, min(reach)) AS label FROM walk GROUP BY id""".stripMargin.replace("\n", " "),
    "q_explode" ->
      """SELECT token, count(*) AS cnt FROM
        | (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        | GROUP BY token""".stripMargin.replace("\n", " "),
    "q_channel_join" ->
      """SELECT COALESCE(c_custkey, o_custkey) AS k, count(o_orderkey) AS n_orders
        | FROM customer FULL OUTER JOIN orders ON c_custkey = o_custkey
        | GROUP BY 1""".stripMargin.replace("\n", " "),
    "q_union" ->
      """SELECT event_type, count(*) AS cnt FROM (
        | SELECT * FROM events WHERE event_id % 2 = 0
        | UNION ALL SELECT * FROM events WHERE event_id % 2 = 1
        |) GROUP BY event_type""".stripMargin.replace("\n", " "),
    "q_aux_fanout" -> {
      val cols = ChannelLoader.AuxNames.zipWithIndex
        .map { case (n, i) => s"CAST(embedding[${i + 1}] AS DOUBLE) AS $n" }
        .mkString(", ")
      s"SELECT vec_id, $cols FROM embeddings"
    },
    "q_asof" ->
      """SELECT e.event_id, m.mark_value FROM events e ASOF LEFT JOIN (
        | SELECT user_id, ts, value AS mark_value FROM events
        | WHERE event_id % 7 = 0) m
        | ON e.user_id = m.user_id AND m.ts <= e.ts""".stripMargin.replace("\n", " "),
    "q_range_join" ->
      """SELECT e.event_id, m.event_id AS interval_id FROM events e
        | JOIN (SELECT event_id, value - CAST(5.0 AS DOUBLE) AS lo,
        |   value + CAST(5.0 AS DOUBLE) AS hi FROM events
        |  WHERE event_id % 97 = 0) m
        | ON e.value >= m.lo AND e.value < m.hi""".stripMargin.replace("\n", " "),
    "q_json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        | FROM events
        | WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) >= 50"""
        .stripMargin.replace("\n", " "),
    "q_json_stats" ->
      """SELECT event_type, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k,
        | ROUND(avg(k), 6) AS avg_k FROM (
        |  SELECT event_type, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |  FROM events)
        | GROUP BY event_type""".stripMargin.replace("\n", " "),
    "q_argmax" ->
      """SELECT user_id, arg_max(event_type, ts) AS last_type,
        | arg_max(value, ts) AS last_value, max(epoch_us(ts)) AS last_ts
        | FROM events GROUP BY user_id""".stripMargin.replace("\n", " "),
    "q_rolling_avg" ->
      """SELECT event_id, ROUND(avg(value) OVER (
        |  PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6) AS rolling_avg
        | FROM events""".stripMargin.replace("\n", " "),
    "q_pivot" ->
      """SELECT user_id,
        | CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
        | CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        | CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        | CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        | CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
        | FROM events GROUP BY user_id""".stripMargin.replace("\n", " "),
    "q_tfrecord_roundtrip" ->
      "SELECT doc_id, text FROM documents",
    "q_tfrecord_zlib" ->
      "SELECT doc_id, text FROM documents",
    "q_tfrecord_seq" ->
      "SELECT doc_id, text FROM documents",
    // float32 → float64 widening is exact in both engines; the parallel
    // unnests zip (the q_embed_quant convention)
    "q_tfrecord_seq_float" ->
      """SELECT vec_id, unnest(range(0, len(embedding))) AS pos,
        | CAST(unnest(embedding) AS DOUBLE) AS value
        | FROM embeddings""".stripMargin.replace("\n", " "),
    "q_zorder" -> {
      val terms = for {
        j <- 0 until 8
        (c, ci) <- Seq("(event_id % 256)" -> 0, "(user_id % 256)" -> 1)
      } yield s"((($c >> $j) & 1) << ${j * 2 + ci})"
      s"SELECT event_id, (${terms.mkString(" | ")}) AS z FROM events"
    },
    "q_sessionize" ->
      s"""SELECT event_id, CAST(SUM(CASE WHEN g > $sessionGapNs THEN 1 ELSE 0 END)
         | OVER (PARTITION BY user_id ORDER BY ts
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
         | FROM (SELECT event_id, user_id, ts,
         |   epoch_ns(ts) - lag(epoch_ns(ts))
         |     OVER (PARTITION BY user_id ORDER BY ts) AS g
         |  FROM events)""".stripMargin.replace("\n", " "),
    "q_retention" ->
      """WITH a AS (SELECT DISTINCT user_id,
        |  epoch_ns(ts) // 86400000000000 AS p FROM events),
        |c AS (SELECT user_id, min(p) AS cohort FROM a GROUP BY user_id)
        |SELECT c.cohort, a.p - c.cohort AS "offset", count(*) AS users
        |FROM a JOIN c USING (user_id)
        |GROUP BY c.cohort, a.p - c.cohort""".stripMargin.replace("\n", " "),
    "q_funnel_depth" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events
        |  WHERE event_type IN ('view', 'click', 'purchase')),
        |s1 AS (SELECT user_id, min(epoch_ns(ts)) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(epoch_ns(e.ts)) AS t FROM events e
        |  JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND epoch_ns(e.ts) > s1.t GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(epoch_ns(e.ts)) AS t FROM events e
        |  JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) > s2.t GROUP BY e.user_id)
        |SELECT u.user_id, CAST(CASE WHEN s3.t IS NOT NULL THEN 3
        |  WHEN s2.t IS NOT NULL THEN 2
        |  WHEN s1.t IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) AS funnel_depth
        |FROM u LEFT JOIN s1 ON u.user_id = s1.user_id
        |LEFT JOIN s2 ON u.user_id = s2.user_id
        |LEFT JOIN s3 ON u.user_id = s3.user_id""".stripMargin.replace("\n", " "),
    "q_funnel" ->
      """WITH s1 AS (SELECT user_id, min(epoch_ns(ts)) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(epoch_ns(e.ts)) AS t FROM events e
        |  JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'click' AND epoch_ns(e.ts) > s1.t GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(epoch_ns(e.ts)) AS t FROM events e
        |  JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) > s2.t GROUP BY e.user_id)
        |SELECT 1 AS step, 'view' AS step_name, count(*) AS users FROM s1
        |UNION ALL SELECT 2, 'click', count(*) FROM s2
        |UNION ALL SELECT 3, 'purchase', count(*) FROM s3""".stripMargin
        .replace("\n", " "),
    "q_tfidf" ->
      raw"""WITH toks AS (SELECT doc_id,
           |  unnest(regexp_split_to_array(trim(text), '\s+')) AS token
           |  FROM documents),
           |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
           |dfq AS (SELECT token, count(*) AS dfc FROM tf GROUP BY 1),
           |n AS (SELECT count(*) AS n FROM documents)
           |SELECT tf.doc_id, tf.token, tf.tf,
           |  ROUND(CAST(tf.tf AS DOUBLE) *
           |    (ln(CAST(n.n + 1 AS DOUBLE) / CAST(dfc + 1 AS DOUBLE)) + 1.0), 6) AS tfidf
           |FROM tf JOIN dfq USING (token) CROSS JOIN n""".stripMargin.replace("\n", " "),
    "q_percentiles" ->
      """SELECT l_returnflag,
        | ROUND(quantile_cont(l_extendedprice, 0.25), 6) AS p25,
        | ROUND(quantile_cont(l_extendedprice, 0.50), 6) AS p50,
        | ROUND(quantile_cont(l_extendedprice, 0.75), 6) AS p75,
        | ROUND(quantile_cont(l_extendedprice, 0.95), 6) AS p95
        | FROM lineitem GROUP BY l_returnflag""".stripMargin.replace("\n", " "),
    "q_topn_group" ->
      """SELECT doc_id, source, n_chars FROM (
        | SELECT doc_id, source, n_chars,
        |   row_number() OVER (PARTITION BY source
        |     ORDER BY n_chars DESC, doc_id) AS rn
        | FROM documents) WHERE rn <= 3""".stripMargin.replace("\n", " "),
    "q_zscore" ->
      // mirror the engine's moment formula term-for-term (sum/n, not
      // stddev_pop) so both engines round the same double
      """SELECT event_id,
        | ROUND(CASE WHEN sx2 / n - (sx / n) * (sx / n) > 0 THEN
        |   (value - sx / n) / sqrt(sx2 / n - (sx / n) * (sx / n)) END, 6) AS z
        | FROM (SELECT event_id, value,
        |   sum(value) OVER w AS sx,
        |   sum(value * value) OVER w AS sx2,
        |   CAST(count(value) OVER w AS DOUBLE) AS n
        | FROM events WINDOW w AS (PARTITION BY event_type))""".stripMargin
        .replace("\n", " "),
    "q_equidepth" ->
      """SELECT l_orderkey, l_linenumber,
        | CAST(ntile(4) OVER (PARTITION BY l_returnflag
        |   ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS BIGINT)
        |   AS bin
        | FROM lineitem""".stripMargin.replace("\n", " "),
    "q_rollup" ->
      """SELECT source, lang,
        | CAST(grouping(source, lang) AS BIGINT) AS gid,
        | count(*) AS docs, CAST(sum(n_chars) AS BIGINT) AS weight
        | FROM documents GROUP BY ROLLUP(source, lang)""".stripMargin
        .replace("\n", " "),
    "q_mad_outliers" ->
      """SELECT event_id,
        | CASE WHEN mad > 0 THEN ROUND(dev / mad, 6) END AS mad_z,
        | CASE WHEN mad > 0 THEN ROUND(dev / mad, 6) > 3.5 END AS is_outlier
        | FROM (SELECT event_id, dev,
        |   quantile_cont(dev, 0.5) OVER (PARTITION BY event_type) AS mad
        | FROM (SELECT event_id, event_type,
        |   abs(value - quantile_cont(value, 0.5)
        |     OVER (PARTITION BY event_type)) AS dev
        | FROM events))""".stripMargin.replace("\n", " "),
    "q_psi" -> {
      val j = OracleSql.uniformJ("value", ax1dValue)
      val idx = OracleSql.uniformIdx("j0", ax1dValue)
      val keep = OracleSql.uniformKeep("j0", ax1dValue)
      val nb = ax1dValue.nBins
      def hist(et: String, cnt: String) =
        s"""SELECT $idx AS bin, count(*) AS $cnt FROM
           | (SELECT $j AS j0 FROM events WHERE event_type = '$et')
           | WHERE $keep GROUP BY 1""".stripMargin.replace("\n", " ")
      s"""WITH a AS (${hist("view", "cnt_a")}),
         | b AS (${hist("click", "cnt_b")}),
         | j AS (SELECT COALESCE(a.bin, b.bin) AS bin,
         |   COALESCE(cnt_a, 0) AS cnt_a, COALESCE(cnt_b, 0) AS cnt_b
         |   FROM a FULL JOIN b ON a.bin = b.bin),
         | p AS (SELECT bin, cnt_a, cnt_b,
         |   ((cnt_a + 0.5) / (sum(cnt_a) OVER () + 0.5 * $nb)
         |     - (cnt_b + 0.5) / (sum(cnt_b) OVER () + 0.5 * $nb))
         |   * ln(((cnt_a + 0.5) / (sum(cnt_a) OVER () + 0.5 * $nb))
         |     / ((cnt_b + 0.5) / (sum(cnt_b) OVER () + 0.5 * $nb))) AS c
         |   FROM j)
         | SELECT bin, cnt_a, cnt_b, ROUND(c, 6) AS psi_bin,
         |   ROUND(sum(c) OVER (), 6) AS psi FROM p""".stripMargin
        .replace("\n", " ")
    },
    "q_transition" ->
      """WITH p AS (SELECT event_type AS ft,
        |   lead(event_type) OVER (PARTITION BY user_id
        |     ORDER BY ts, event_id) AS tt
        | FROM events)
        | SELECT ft AS from_type, tt AS to_type, count(*) AS cnt,
        |   ROUND(CAST(count(*) AS DOUBLE) /
        |     sum(count(*)) OVER (PARTITION BY ft), 6) AS prob
        | FROM p WHERE tt IS NOT NULL GROUP BY 1, 2""".stripMargin
        .replace("\n", " "),
    "q_wsample" ->
      s"""SELECT doc_id, source FROM (
         | SELECT doc_id, source, row_number() OVER (PARTITION BY source
         |   ORDER BY pow(((
         |     (${OracleSql.portableTokenHashSql("CAST(doc_id AS VARCHAR)")})
         |       % 1000003) + 0.5) / 1000003.0,
         |     1.0 / n_chars) DESC, doc_id) AS rn
         | FROM documents) WHERE rn <= 5""".stripMargin.replace("\n", " "),
    "q_heavy_hitters" ->
      raw"""WITH toks AS (SELECT
           |  unnest(regexp_split_to_array(trim(text), '\s+')) AS token
           |  FROM documents)
           |SELECT token, count(*) AS cnt FROM toks GROUP BY 1
           |HAVING count(*) >=
           |  ceil(0.005 * (SELECT count(*) FROM toks))""".stripMargin
        .replace("\n", " "),
    "q_centroid" ->
      """SELECT CAST(label AS BIGINT) AS label, CAST(i - 1 AS BIGINT) AS dim,
        | ROUND(AVG(CAST(v AS DOUBLE)), 6) AS centroid
        | FROM (SELECT label, generate_subscripts(embedding, 1) AS i,
        |   unnest(embedding) AS v FROM embeddings)
        | GROUP BY 1, 2""".stripMargin.replace("\n", " "),
    "q_sample" ->
      s"""SELECT doc_id, source FROM documents
         | WHERE (${OracleSql.portableTokenHashSql("CAST(doc_id AS VARCHAR)")}) % 1000 < 200""".stripMargin
        .replace("\n", " "),
    "q_balance" ->
      """SELECT doc_id, source FROM (
        | SELECT doc_id, source,
        |   row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        | FROM documents) WHERE rn <= 10""".stripMargin.replace("\n", " "),
    "q_ppl_buckets" ->
      raw"""WITH toks AS (SELECT doc_id,
           |  unnest(regexp_split_to_array(trim(text), '\s+')) AS token
           |  FROM documents),
           |vocab AS (SELECT token, count(*) AS cnt FROM toks GROUP BY 1),
           |tot AS (SELECT count(*) AS tot FROM toks),
           |p AS (SELECT toks.doc_id,
           |  ROUND(AVG(-ln(CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE))), 6)
           |    AS logppl
           |  FROM toks JOIN vocab USING (token) CROSS JOIN tot
           |  GROUP BY toks.doc_id),
           |t AS (SELECT quantile_cont(logppl, CAST(1 AS DOUBLE)/3) AS t1,
           |  quantile_cont(logppl, CAST(2 AS DOUBLE)/3) AS t2 FROM p)
           |SELECT doc_id, logppl,
           |  CAST(1 + (CASE WHEN logppl > t1 THEN 1 ELSE 0 END)
           |    + (CASE WHEN logppl > t2 THEN 1 ELSE 0 END) AS INTEGER)
           |    AS ppl_bucket
           |FROM p CROSS JOIN t""".stripMargin.replace("\n", " "),
    "q_unigram_ppl" ->
      raw"""WITH toks AS (SELECT doc_id,
           |  unnest(regexp_split_to_array(trim(text), '\s+')) AS token
           |  FROM documents),
           |vocab AS (SELECT token, count(*) AS cnt FROM toks GROUP BY 1),
           |tot AS (SELECT count(*) AS tot FROM toks)
           |SELECT toks.doc_id,
           |  ROUND(AVG(-ln(CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE))), 6)
           |    AS logppl
           |FROM toks JOIN vocab USING (token) CROSS JOIN tot
           |GROUP BY toks.doc_id""".stripMargin.replace("\n", " "),
    "q_bigram_ppl" ->
      raw"""WITH t AS (SELECT doc_id,
           |  regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
           |uni AS (SELECT unnest(toks) AS w1 FROM t),
           |uc AS (SELECT w1, count(*) AS c1 FROM uni GROUP BY 1),
           |v AS (SELECT count(*) AS v FROM uc),
           |bg AS (SELECT doc_id, unnest(
           |  [{'b': toks[i] || ' ' || toks[i+1], 'w1': toks[i]}
           |   for i in range(1, len(toks))]) AS s
           |  FROM t WHERE len(toks) >= 2),
           |bgf AS (SELECT doc_id, s.b AS b, s.w1 AS w1 FROM bg),
           |bc AS (SELECT b, count(*) AS c2 FROM bgf GROUP BY 1),
           |agg AS (SELECT bgf.doc_id, count(*) AS n_bigrams,
           |  ROUND(AVG(-ln((CAST(c2 AS DOUBLE) + 1.0)
           |    / (CAST(c1 AS DOUBLE) + CAST(v AS DOUBLE)))), 6) AS bigram_logppl
           |  FROM bgf JOIN bc USING (b) JOIN uc USING (w1) CROSS JOIN v
           |  GROUP BY bgf.doc_id)
           |SELECT d.doc_id, CAST(COALESCE(n_bigrams, 0) AS BIGINT) AS n_bigrams,
           |  COALESCE(bigram_logppl, 0.0) AS bigram_logppl
           |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id""".stripMargin
        .replace("\n", " "),
    "q_embed_trunc" ->
      raw"""WITH t AS (SELECT vec_id, embedding[1:16] AS e FROM embeddings),
           |n AS (SELECT vec_id, e, sqrt(list_sum(list_transform(e,
           |  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm FROM t),
           |x AS (SELECT vec_id, unnest([{'p': i, 'v': e[i]}
           |  for i in range(1, len(e) + 1)]) AS s, nrm
           |  FROM n WHERE nrm > 0)
           |SELECT vec_id, CAST(s.p - 1 AS BIGINT) AS pos,
           |  ROUND(CAST(s.v AS DOUBLE) / nrm, 6) AS val
           |FROM x""".stripMargin.replace("\n", " "),
    "q_zipf" ->
      raw"""WITH vocab AS (SELECT w, count(*) AS f FROM
           |  (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
           |   FROM documents WHERE text IS NOT NULL) GROUP BY 1),
           |ranked AS (SELECT f,
           |  row_number() OVER (ORDER BY f DESC, w) AS r FROM vocab),
           |xy AS (SELECT ln(CAST(r AS DOUBLE)) AS x,
           |  ln(CAST(f AS DOUBLE)) AS y, f FROM ranked),
           |agg AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
           |  sum(x * x) AS sxx, sum(x * y) AS sxy, sum(f) AS tok FROM xy)
           |SELECT ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
           |    / (CAST(n AS DOUBLE) * sxx - sx * sx), 6) AS zipf_slope,
           |  CAST(n AS BIGINT) AS n_types, CAST(tok AS BIGINT) AS n_tokens
           |FROM agg""".stripMargin.replace("\n", " "),
    "q_kn_ppl" ->
      raw"""WITH docs AS (SELECT doc_id,
           |  regexp_split_to_array(trim(text), '\s+') AS toks
           |  FROM documents WHERE text IS NOT NULL),
           |lm AS (SELECT regexp_split_to_array(trim(text), '\s+') AS toks
           |  FROM documents WHERE source = 'src0' AND text IS NOT NULL),
           |uni AS (SELECT w, count(*) AS c1 FROM
           |  (SELECT unnest(toks) AS w FROM lm) GROUP BY 1),
           |lmbg AS (SELECT s.b AS b, s.w1 AS w1, s.w2 AS w2 FROM
           |  (SELECT unnest([{'b': toks[i] || ' ' || toks[i+1],
           |     'w1': toks[i], 'w2': toks[i+1]}
           |     for i in range(1, len(toks))]) AS s
           |   FROM lm WHERE len(toks) >= 2)),
           |bc AS (SELECT b, count(*) AS c2 FROM lmbg GROUP BY 1),
           |types AS (SELECT DISTINCT b, w1, w2 FROM lmbg),
           |cont AS (SELECT w1, count(*) AS n1fwd FROM types GROUP BY 1),
           |ctx AS (SELECT w2, count(*) AS n1bwd FROM types GROUP BY 1),
           |scal AS (SELECT (SELECT count(*) FROM types) AS bt,
           |  (SELECT count(*) FROM uni) AS v),
           |dbg AS (SELECT doc_id, s.b AS b, s.w1 AS w1, s.w2 AS w2 FROM
           |  (SELECT doc_id, unnest([{'b': toks[i] || ' ' || toks[i+1],
           |     'w1': toks[i], 'w2': toks[i+1]}
           |     for i in range(1, len(toks))]) AS s
           |   FROM docs WHERE len(toks) >= 2)),
           |j AS (SELECT dbg.doc_id,
           |  (CAST(COALESCE(n1bwd, 0) AS DOUBLE) + CAST(1.0 AS DOUBLE))
           |    / (CAST(bt AS DOUBLE) + CAST(v AS DOUBLE)) AS pcont,
           |  COALESCE(u1.c1, 0) AS c1, COALESCE(bc.c2, 0) AS c2,
           |  COALESCE(cont.n1fwd, 0) AS n1fwd
           |  FROM dbg
           |  LEFT JOIN bc USING (b)
           |  LEFT JOIN uni u1 ON dbg.w1 = u1.w
           |  LEFT JOIN cont ON dbg.w1 = cont.w1
           |  LEFT JOIN ctx ON dbg.w2 = ctx.w2
           |  CROSS JOIN scal),
           |p AS (SELECT doc_id,
           |  CASE WHEN c1 > 0 AND n1fwd > 0 THEN
           |    GREATEST(CAST(c2 AS DOUBLE) - CAST(0.75 AS DOUBLE),
           |      CAST(0.0 AS DOUBLE)) / CAST(c1 AS DOUBLE)
           |    + CAST(0.75 AS DOUBLE) / CAST(c1 AS DOUBLE)
           |      * CAST(n1fwd AS DOUBLE) * pcont
           |  ELSE pcont END AS pr FROM j),
           |agg AS (SELECT doc_id, count(*) AS n_bigrams,
           |  ROUND(AVG(-ln(pr)), 6) AS kn_logppl FROM p GROUP BY 1)
           |SELECT d.doc_id,
           |  CAST(COALESCE(n_bigrams, 0) AS BIGINT) AS n_bigrams,
           |  COALESCE(kn_logppl, 0.0) AS kn_logppl
           |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id""".stripMargin
        .replace("\n", " "),
    // trigram stupid backoff: every count table (uni/bi/tri, T, V) comes
    // from the src0 LM subset; the CASE chain mirrors TextOps term for
    // term (0.4 CAST to DOUBLE — DuckDB bare decimals are DECIMAL)
    "q_trigram_ppl" ->
      raw"""WITH docs AS (SELECT doc_id,
           |  regexp_split_to_array(trim(text), '\s+') AS toks
           |  FROM documents WHERE text IS NOT NULL),
           |lm AS (SELECT regexp_split_to_array(trim(text), '\s+') AS toks
           |  FROM documents WHERE source = 'src0' AND text IS NOT NULL),
           |lmtok AS (SELECT unnest(toks) AS w FROM lm),
           |uni AS (SELECT w, count(*) AS c1 FROM lmtok GROUP BY 1),
           |scal AS (SELECT count(*) AS t, count(DISTINCT w) AS v FROM lmtok),
           |bg AS (SELECT g, count(*) AS c FROM (
           |  SELECT unnest([toks[i] || ' ' || toks[i+1]
           |    for i in range(1, len(toks))]) AS g
           |  FROM lm WHERE len(toks) >= 2) GROUP BY 1),
           |tg3 AS (SELECT g, count(*) AS c FROM (
           |  SELECT unnest([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
           |    for i in range(1, len(toks) - 1)]) AS g
           |  FROM lm WHERE len(toks) >= 3) GROUP BY 1),
           |dt AS (SELECT doc_id, unnest(
           |  [{'t3': toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2],
           |    'c2': toks[i] || ' ' || toks[i+1],
           |    'b23': toks[i+1] || ' ' || toks[i+2],
           |    'w2': toks[i+1], 'w3': toks[i+2]}
           |   for i in range(1, len(toks) - 1)]) AS s
           |  FROM docs WHERE len(toks) >= 3),
           |dtf AS (SELECT doc_id, s.t3 AS t3, s.c2 AS ctx2, s.b23 AS b23,
           |  s.w2 AS w2, s.w3 AS w3 FROM dt),
           |j AS (SELECT dtf.doc_id,
           |  CASE WHEN COALESCE(t3c.c, 0) > 0
           |    THEN CAST(t3c.c AS DOUBLE) / CAST(c2x.c AS DOUBLE)
           |    ELSE CAST(0.4 AS DOUBLE) *
           |      (CASE WHEN COALESCE(b2c.c, 0) > 0
           |        THEN CAST(b2c.c AS DOUBLE) / CAST(u2.c1 AS DOUBLE)
           |        ELSE CAST(0.4 AS DOUBLE) *
           |          (CAST(COALESCE(u3.c1, 0) AS DOUBLE) + CAST(1.0 AS DOUBLE))
           |          / (CAST(t AS DOUBLE) + CAST(v AS DOUBLE)) END) END AS sc
           |  FROM dtf
           |  LEFT JOIN tg3 t3c ON dtf.t3 = t3c.g
           |  LEFT JOIN bg c2x ON dtf.ctx2 = c2x.g
           |  LEFT JOIN bg b2c ON dtf.b23 = b2c.g
           |  LEFT JOIN uni u2 ON dtf.w2 = u2.w
           |  LEFT JOIN uni u3 ON dtf.w3 = u3.w
           |  CROSS JOIN scal),
           |agg AS (SELECT doc_id, count(*) AS n_trigrams,
           |  ROUND(AVG(-ln(sc)), 6) AS trigram_logppl FROM j GROUP BY 1)
           |SELECT d.doc_id,
           |  CAST(COALESCE(n_trigrams, 0) AS BIGINT) AS n_trigrams,
           |  COALESCE(trigram_logppl, 0.0) AS trigram_logppl
           |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id""".stripMargin
        .replace("\n", " "),
    // HTML extraction oracle: the expected text is COMPUTED from the
    // same base columns the Spark side synthesized the page from —
    // 'Doc N' heading line, whitespace-collapsed body (dropped when
    // empty), then the two static list items; title/style/script/comment
    // content must not appear
    "q_html_extract" ->
      raw"""WITH t AS (SELECT doc_id,
           |  trim(regexp_replace(text, '\s+', ' ', 'g')) AS nws
           |  FROM documents WHERE text IS NOT NULL)
           |SELECT doc_id,
           |  'Doc ' || doc_id || chr(10) ||
           |  (CASE WHEN nws <> '' THEN nws || chr(10) ELSE '' END) ||
           |  'alpha' || chr(10) || 'beta & gamma' AS plain_text
           |FROM t""".stripMargin.replace("\n", " "),
    "q_html_markdown" ->
      raw"""WITH t AS (SELECT doc_id,
           |  trim(regexp_replace(text, '\s+', ' ', 'g')) AS nws
           |  FROM documents WHERE text IS NOT NULL)
           |SELECT doc_id,
           |  '## Doc ' || doc_id || chr(10) ||
           |  'Quality: **high** for [ref ' || doc_id ||
           |  '](https://ex.com/d/' || doc_id || ')' || chr(10) ||
           |  (CASE WHEN nws <> '' THEN '- ' || nws ELSE '-' END)
           |    AS markdown
           |FROM t""".stripMargin.replace("\n", " "),
    "q_html_meta" ->
      raw"""SELECT doc_id, 'Page ' || doc_id AS html_title,
           |  CAST(doc_id % 4 AS BIGINT) AS n_links
           |FROM documents""".stripMargin.replace("\n", " "),
    "q_warc_extract" ->
      raw"""WITH t AS (SELECT doc_id,
           |  trim(regexp_replace(text, '\s+', ' ', 'g')) AS nws
           |  FROM documents WHERE text IS NOT NULL)
           |SELECT doc_id, 'https://ex.com/doc/' || doc_id AS target_uri,
           |  CAST(200 AS BIGINT) AS http_status, 'text/html' AS mime,
           |  'Doc ' || doc_id ||
           |  (CASE WHEN nws <> '' THEN chr(10) || nws ELSE '' END)
           |    AS plain_text
           |FROM t""".stripMargin.replace("\n", " "),
    "q_gopher" ->
      raw"""WITH t AS (SELECT doc_id, text,
           |  regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
           |s AS (SELECT doc_id,
           |  CAST(len(toks) AS BIGINT) AS n_tokens,
           |  ROUND(CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE)
           |    / len(toks), 6) AS avg_token_len,
           |  ROUND(CAST(len(regexp_extract_all(text, '#|\.\.\.')) AS DOUBLE)
           |    / len(toks), 6) AS symbol_ratio,
           |  ROUND(CAST(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
           |    AS DOUBLE) / len(toks), 6) AS alpha_ratio,
           |  CAST(len(list_intersect(toks,
           |    ['the','be','to','of','and','that','have','with'])) AS BIGINT)
           |    AS required_hits,
           |  ROUND(CAST(1.0 AS DOUBLE) - CAST(len(list_distinct(toks)) AS DOUBLE)
           |    / len(toks), 6) AS dup_word_ratio,
           |  CASE WHEN len(toks) >= 2 THEN ROUND(CAST(1.0 AS DOUBLE) -
           |    CAST(len(list_distinct([array_to_string(toks[i : i + 1], ' ')
           |      for i in range(1, len(toks))])) AS DOUBLE)
           |    / (len(toks) - 1), 6) ELSE 0.0 END AS dup_2gram_ratio
           |  FROM t)
           |SELECT *, CAST(CASE WHEN n_tokens >= 10 AND n_tokens <= 100000
           |  AND avg_token_len >= 3.0 AND avg_token_len <= 10.0
           |  AND symbol_ratio <= 0.1 AND alpha_ratio >= 0.8
           |  AND required_hits >= 1 AND dup_word_ratio <= 0.3
           |  AND dup_2gram_ratio <= 0.2 THEN 1 ELSE 0 END AS INTEGER)
           |  AS gopher_keep FROM s""".stripMargin.replace("\n", " "),
    "q_contamination" ->
      raw"""WITH t AS (SELECT doc_id,
           |  regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
           |sh AS (SELECT doc_id, unnest(list_distinct(
           |  [array_to_string(toks[i : i + 2], ' ')
           |   for i in range(1, len(toks) - 1)])) AS s
           |  FROM t WHERE len(toks) >= 3),
           |bench AS (SELECT DISTINCT sh.s FROM sh
           |  JOIN documents d ON sh.doc_id = d.doc_id WHERE d.source = 'src0'),
           |agg AS (SELECT sh.doc_id, count(*) AS n_sh, count(bench.s) AS n_m
           |  FROM sh LEFT JOIN bench ON sh.s = bench.s GROUP BY 1)
           |SELECT d.doc_id,
           |  CAST(COALESCE(n_sh, 0) AS BIGINT) AS n_shingles,
           |  CAST(COALESCE(n_m, 0) AS BIGINT) AS n_matched,
           |  ROUND(CASE WHEN COALESCE(n_sh, 0) > 0
           |    THEN CAST(n_m AS DOUBLE) / CAST(n_sh AS DOUBLE)
           |    ELSE 0.0 END, 6) AS contamination
           |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id""".stripMargin
        .replace("\n", " "),
    "q_repetition" ->
      raw"""WITH t AS (SELECT doc_id,
           |  regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
           |s AS (SELECT doc_id, toks,
           |  [array_to_string(toks[i : i + 1], ' ')
           |   for i in range(1, len(toks))] AS sh2 FROM t)
           |SELECT doc_id,
           | CASE WHEN len(toks) > 0 THEN ROUND(CAST(1.0 AS DOUBLE) -
           |   CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE), 6)
           |  ELSE 0.0 END AS dup_word_ratio,
           | CASE WHEN len(sh2) > 0 THEN ROUND(CAST(1.0 AS DOUBLE) -
           |   CAST(len(list_distinct(sh2)) AS DOUBLE) / CAST(len(sh2) AS DOUBLE), 6)
           |  ELSE 0.0 END AS dup_2gram_ratio
           |FROM s""".stripMargin.replace("\n", " "),
    "q_span_dedup" ->
      raw"""WITH toks AS (
           |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\s+'),
           |    t -> length(t) > 0) AS u FROM documents),
           |spans AS (
           |  SELECT doc_id, unnest([{'pos': i - 1,
           |      'span': array_to_string(u[i:i+4], chr(1))}
           |    for i in range(1, len(u) - 3)], recursive := true)
           |  FROM toks),
           |ranked AS (
           |  SELECT doc_id, pos, span,
           |    row_number() OVER (PARTITION BY span ORDER BY doc_id, pos) AS rn
           |  FROM spans),
           |drops AS (
           |  SELECT DISTINCT doc_id, unnest(range(pos, pos + 5)) AS uidx
           |  FROM ranked WHERE rn > 1),
           |units AS (
           |  SELECT doc_id, unnest(u) AS unit, unnest(range(len(u))) AS uidx
           |  FROM toks),
           |kept AS (
           |  SELECT un.doc_id, un.uidx, un.unit FROM units un
           |  LEFT JOIN drops d ON un.doc_id = d.doc_id AND un.uidx = d.uidx
           |  WHERE d.doc_id IS NULL),
           |rebuilt AS (
           |  SELECT doc_id, string_agg(unit, ' ' ORDER BY uidx) AS cleaned
           |  FROM kept GROUP BY doc_id)
           |SELECT d.doc_id, coalesce(r.cleaned, '') AS cleaned
           |FROM documents d LEFT JOIN rebuilt r ON d.doc_id = r.doc_id"""
        .stripMargin.replace("\n", " "),
    "q_c4" -> {
      // single-line corpus: the keep predicate decides everything
      val keep = raw"""(regexp_matches(trim(text), '[.!?"'']$$')
           | AND len(regexp_split_to_array(trim(text), '\s+')) >= 3
           | AND NOT contains(lower(text), 'javascript'))""".stripMargin
        .replace("\n", " ")
      raw"""SELECT doc_id,
           | CAST(CASE WHEN $keep THEN 1 ELSE 0 END AS BIGINT) AS kept_lines,
           | CASE WHEN length(text) = 0 OR $keep THEN CAST(1.0 AS DOUBLE)
           |   ELSE CAST(0.0 AS DOUBLE) END AS kept_ratio,
           | CAST(contains(lower(text), 'lorem ipsum') AS INTEGER) AS flag_lorem,
           | CAST((len(list_filter(
           |   regexp_split_to_array(CASE WHEN $keep THEN text ELSE '' END, '[.!?]'),
           |   s -> length(trim(s)) > 0)) < 5) AS INTEGER) AS flag_short
           |FROM documents""".stripMargin.replace("\n", " ")
    },
    "q_cube" ->
      """SELECT source, lang, CAST(grouping(source, lang) AS BIGINT) AS gid,
        | count(*) AS docs, CAST(sum(n_chars) AS BIGINT) AS weight
        | FROM documents GROUP BY CUBE (source, lang)"""
        .stripMargin.replace("\n", " "),
    "q_shuffle" -> {
      val h = OracleSql.portableTokenHashSql(
        "(CAST(doc_id AS VARCHAR) || chr(1) || 'ep1')")
      s"""SELECT doc_id, row_number() OVER (
         | ORDER BY ($h) % 1000000007, doc_id) - 1 AS shuffle_pos
         |FROM documents""".stripMargin.replace("\n", " ")
    },
    "q_para_dedup" ->
      """WITH d AS (SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0
        |    THEN 'subscribe to our newsletter' || chr(10) ELSE '' END ||
        |  substr(text, 1, 60) || chr(10) || substr(text, 61, 60) AS t
        |  FROM documents),
        |p AS (SELECT doc_id,
        |  generate_subscripts(string_split(t, chr(10)), 1) AS pidx,
        |  unnest(string_split(t, chr(10))) AS para FROM d),
        |rep AS (SELECT md5(para) AS h FROM p WHERE trim(para) <> ''
        |  GROUP BY md5(para) HAVING count(DISTINCT doc_id) > 1),
        |k AS (SELECT doc_id, pidx, para FROM p
        |  WHERE md5(para) NOT IN (SELECT h FROM rep))
        |SELECT doc_id, string_agg(para, chr(10) ORDER BY pidx) AS text
        |FROM k GROUP BY doc_id""".stripMargin.replace("\n", " "),
    "q_rolling_time" ->
      """SELECT event_id, ROUND(sum(value) OVER w, 6) AS trailing_sum,
        | count(*) OVER w AS n_in_window
        |FROM (SELECT event_id, user_id, epoch_ns(ts) AS tsn, value
        |  FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY tsn
        | RANGE BETWEEN 3600000000000 PRECEDING AND CURRENT ROW)"""
        .stripMargin.replace("\n", " "),
    "q_resample_grid" ->
      """WITH o AS (SELECT user_id, epoch_ns(ts) AS tsn,
        |  arg_max(value, event_id) AS v
        |  FROM events GROUP BY user_id, epoch_ns(ts)),
        |b AS (SELECT user_id, min(tsn) AS mn, max(tsn) AS mx FROM o
        |  GROUP BY user_id),
        |g AS (SELECT user_id, unnest(generate_series(mn, mx, 21600000000000))
        |  AS grid_ts FROM b)
        |SELECT g.user_id, g.grid_ts, o.v
        |FROM g ASOF LEFT JOIN o
        | ON g.user_id = o.user_id AND g.grid_ts >= o.tsn"""
        .stripMargin.replace("\n", " "),
    "q_scd2" ->
      """WITH o AS (SELECT user_id, event_id, event_type, epoch_ns(ts) AS tsn
        |  FROM events),
        |c AS (SELECT *, lag(event_type)
        |  OVER (PARTITION BY user_id ORDER BY tsn, event_id) AS prev FROM o),
        |s AS (SELECT * FROM c WHERE prev IS NULL OR prev <> event_type),
        |f AS (SELECT user_id, event_type, tsn AS valid_from, lead(tsn)
        |  OVER (PARTITION BY user_id ORDER BY tsn, event_id) AS valid_to
        |  FROM s)
        |SELECT user_id, event_type, valid_from, valid_to,
        | valid_to IS NULL AS is_current FROM f""".stripMargin.replace("\n", " "),
    "q_fuzzy_pairs" ->
      """WITH base AS (SELECT doc_id, source, substr(text, 1, 40) AS txt
        |  FROM documents),
        |c AS (SELECT * FROM base UNION ALL
        |  SELECT doc_id + 100000, source, txt || 'x' FROM base)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | CAST(levenshtein(a.txt, b.txt) AS INTEGER) AS dist
        |FROM c a JOIN c b ON a.source = b.source AND a.doc_id < b.doc_id
        |WHERE levenshtein(a.txt, b.txt) <= 2""".stripMargin.replace("\n", " "),
    "q_pagerank" -> {
      // 3 unrolled damped-PageRank rounds; every constant CAST to DOUBLE
      // (bare decimals are DECIMAL in DuckDB and diverge from IEEE)
      val a = "CAST(0.85 AS DOUBLE)"
      val iters = (0 until 3).map { i =>
        s"""d$i AS (SELECT coalesce(sum(r), CAST(0 AS DOUBLE)) AS dang
           | FROM r$i WHERE id NOT IN (SELECT src FROM deg)),
           |c$i AS (SELECT e.dst AS id, sum(p.r / deg.d) AS c
           | FROM e JOIN r$i p ON e.src = p.id JOIN deg ON e.src = deg.src
           | GROUP BY e.dst),
           |r${i + 1} AS (SELECT nodes.id,
           | (CAST(1 AS DOUBLE) - $a) / nn.n
           |   + $a * (coalesce(c$i.c, CAST(0 AS DOUBLE)) + d$i.dang / nn.n) AS r
           | FROM nodes CROSS JOIN nn CROSS JOIN d$i
           | LEFT JOIN c$i ON nodes.id = c$i.id)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT DISTINCT user_id % 40 AS src, event_id % 40 AS dst
         | FROM events),
         |nodes AS (SELECT DISTINCT id FROM
         |  (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
         |nn AS (SELECT count(*) AS n FROM nodes),
         |deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
         |r0 AS (SELECT id, CAST(1 AS DOUBLE) / nn.n AS r FROM nodes CROSS JOIN nn),
         |$iters
         |SELECT id, ROUND(r, 6) AS r FROM r3""".stripMargin.replace("\n", " ")
    },
    "q_degrees" ->
      """WITH e AS (SELECT DISTINCT user_id % 40 AS src, event_id % 40 AS dst
        | FROM events),
        |o AS (SELECT src AS id, count(*) AS out_deg FROM e GROUP BY src),
        |i AS (SELECT dst AS id, count(*) AS in_deg FROM e GROUP BY dst)
        |SELECT coalesce(o.id, i.id) AS id,
        | coalesce(o.out_deg, 0) AS out_deg, coalesce(i.in_deg, 0) AS in_deg
        |FROM o FULL OUTER JOIN i ON o.id = i.id""".stripMargin.replace("\n", " "),
    "q_sitemap" ->
      raw"""SELECT doc_id, CAST(p AS BIGINT) AS pos,
           |  CASE WHEN p = 0 THEN 'https://ex.com/a/' || doc_id
           |       ELSE 'https://ex.com/b?id=' || doc_id || '&ref=s' END AS url
           |FROM documents, unnest([0, 1]) AS t(p)""".stripMargin
        .replace("\n", " "),
    "q_robots" ->
      raw"""SELECT doc_id,
           |  source || CASE WHEN doc_id % 2 = 0 THEN '.com' ELSE '.co.uk' END
           |    AS domain,
           |  repeat('/seg', CAST(doc_id % 4 AS INTEGER)) AS path,
           |  CAST(CASE
           |    WHEN doc_id % 4 = 2 THEN 0
           |    WHEN doc_id % 4 = 1 AND source = 'src1' THEN 0
           |    ELSE 1 END AS INTEGER) AS allowed
           |FROM documents""".stripMargin.replace("\n", " "),
    "q_url_parse" -> {
      val synth = """SELECT doc_id,
        | 'https://' || CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END ||
        | source || CASE WHEN doc_id % 2 = 0 THEN '.com' ELSE '.co.uk' END ||
        | repeat('/seg', CAST(doc_id % 4 AS INTEGER)) ||
        | CASE WHEN doc_id % 5 = 0
        |   THEN '?id=' || CAST(doc_id AS VARCHAR) || '&utm_source=feed&q=x'
        |  WHEN doc_id % 5 = 1 THEN '?utm_campaign=a' ELSE '' END AS url
        | FROM documents""".stripMargin.replace("\n", " ")
      s"""WITH u AS ($synth),
         |p AS (SELECT doc_id, url,
         |  lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#:]+)', 1)) AS url_host,
         |  regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*)', 1) AS url_path,
         |  regexp_extract(url, '\\?([^#]*)', 1) AS q FROM u),
         |d AS (SELECT *, string_split(url_host, '.') AS labs,
         |  list_filter(string_split(q, '&'), s -> s <> '' AND
         |    NOT regexp_matches(s, '^(utm_[a-z]+|gclid|fbclid)=')) AS kept
         |  FROM p)
         |SELECT doc_id, url_host,
         |  CASE WHEN len(labs) >= 3 AND
         |      labs[-2] IN ('co','com','net','org','gov','ac','edu')
         |    THEN labs[-3] || '.' || labs[-2] || '.' || labs[-1]
         |   WHEN len(labs) >= 2 THEN labs[-2] || '.' || labs[-1]
         |   ELSE url_host END AS url_domain,
         |  url_path,
         |  CAST(len(list_filter(string_split(url_path, '/'), s -> s <> ''))
         |    AS INTEGER) AS path_depth,
         |  CAST(CASE WHEN q = '' THEN 0 ELSE len(string_split(q, '&')) END
         |    AS INTEGER) AS n_params,
         |  CASE WHEN len(kept) = 0 THEN regexp_extract(url, '^([^?#]*)', 1)
         |   ELSE regexp_extract(url, '^([^?#]*)', 1) || '?' ||
         |     array_to_string(kept, '&') END AS url_clean
         |FROM d""".stripMargin.replace("\n", " ")
    },
    "q_url_block" -> {
      """WITH u AS (SELECT doc_id,
        | 'https://' || CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END ||
        | source || CASE WHEN doc_id % 2 = 0 THEN '.com' ELSE '.co.uk' END AS url
        | FROM documents),
        |d AS (SELECT doc_id, string_split(
        |  lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#:]+)', 1)), '.') AS labs,
        |  lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#:]+)', 1)) AS url_host
        | FROM u),
        |r AS (SELECT doc_id,
        |  CASE WHEN len(labs) >= 3 AND
        |      labs[-2] IN ('co','com','net','org','gov','ac','edu')
        |    THEN labs[-3] || '.' || labs[-2] || '.' || labs[-1]
        |   WHEN len(labs) >= 2 THEN labs[-2] || '.' || labs[-1]
        |   ELSE url_host END AS url_domain FROM d)
        |SELECT doc_id, url_domain FROM r
        |WHERE url_domain NOT IN ('src2.com', 'src1.co.uk')"""
        .stripMargin.replace("\n", " ")
    },
    "q_pii" -> {
      // same synthesized corpus; counts/redaction chained per class in
      // the same priority order as TextOps.PiiClasses
      val corpus = raw"""SELECT event_id, concat_ws(' ',
           | 'contact', 'user' || CAST(user_id AS VARCHAR) || '@example.com',
           | 'tel', '555-' || lpad(CAST(user_id % 10000 AS VARCHAR), 4, '0'),
           | 'ip', '10.0.' || CAST(user_id % 256 AS VARCHAR) || '.' ||
           |   CAST(event_id % 256 AS VARCHAR),
           | 'ssn', lpad(CAST(event_id % 1000 AS VARCHAR), 3, '0') || '-' ||
           |   lpad(CAST(user_id % 100 AS VARCHAR), 2, '0') || '-' ||
           |   lpad(CAST(event_id % 10000 AS VARCHAR), 4, '0'),
           | 'ref', 'https://example.com/item/' || CAST(event_id AS VARCHAR),
           | 'acct', lpad(CAST((user_id * 31 + event_id) % 1000000000 AS VARCHAR), 9, '0'),
           | props) AS text FROM events""".stripMargin.replace("\n", " ")
      val stages = pipeline.TextOps.PiiClasses.zipWithIndex.map {
        case ((n, pattern, tag), i) =>
          val p = pattern.replace("'", "''")
          s"t${i + 1} AS (SELECT event_id, " +
            (1 to i).map(j => s"n_${pipeline.TextOps.PiiClasses(j - 1)._1}")
              .map(c => s"$c, ").mkString +
            s"len(regexp_extract_all(text, '$p')) AS n_$n, " +
            s"regexp_replace(text, '$p', '$tag', 'g') AS text FROM t$i)"
      }
      val countCols = pipeline.TextOps.PiiClasses.map(c => s"n_${c._1}").mkString(", ")
      s"WITH t0 AS ($corpus), ${stages.mkString(", ")} " +
        s"SELECT event_id, $countCols, text AS redacted " +
        s"FROM t${pipeline.TextOps.PiiClasses.size}"
    },
    "q_vocab" ->
      raw"""SELECT token, cnt,
           | CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS rank
           |FROM (SELECT token, count(*) AS cnt FROM (
           |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
           |  FROM documents) GROUP BY token)
           |ORDER BY cnt DESC, token LIMIT 50""".stripMargin.replace("\n", " "),
    "q_user_card" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
        | count(*) AS n_events FROM events
        | GROUP BY event_type""".stripMargin.replace("\n", " "),
    "q_dedup_norm" ->
      raw"""SELECT md5(n) AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS dup_count
           |FROM (SELECT doc_id,
           |  trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS n
           |  FROM documents)
           |GROUP BY n""".stripMargin.replace("\n", " "),
    "q_chunks" ->
      raw"""WITH t AS (SELECT doc_id,
           |  regexp_split_to_array(trim(text), '\s+') AS toks FROM documents),
           |c AS (SELECT doc_id, toks,
           |  unnest(range(0, ((len(toks) - 1) // 48) + 1)) AS chunk_idx FROM t)
           |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
           |  CAST(len(toks[chunk_idx * 48 + 1 : chunk_idx * 48 + 64]) AS BIGINT)
           |    AS chunk_len,
           |  array_to_string(toks[chunk_idx * 48 + 1 : chunk_idx * 48 + 64], ' ')
           |    AS chunk_text
           |FROM c""".stripMargin.replace("\n", " "),
    "q_pack" ->
      raw"""WITH d AS (SELECT doc_id,
           |  (${OracleSql.portableTokenHashSql("CAST(doc_id AS VARCHAR)")}) % 16
           |    AS pack_group,
           |  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
           |    AS n_tokens FROM documents),
           |w AS (SELECT doc_id, pack_group, n_tokens,
           |  SUM(n_tokens) OVER (PARTITION BY pack_group ORDER BY doc_id)
           |    - n_tokens AS s FROM d)
           |SELECT doc_id, CAST(pack_group AS BIGINT) AS pack_group, n_tokens,
           |  CAST(s // 512 AS BIGINT) AS pack_id,
           |  CAST(s % 512 AS BIGINT) AS pack_offset
           |FROM w""".stripMargin.replace("\n", " "),
    "q_mixture" ->
      raw"""WITH g AS (SELECT source, COUNT(*) AS docs,
           |  SUM(CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT))
           |    AS tokens FROM documents GROUP BY source)
           |SELECT source, docs, CAST(tokens AS BIGINT) AS tokens,
           |  ROUND(CAST(tokens AS DOUBLE)
           |    / CAST((SELECT SUM(tokens) FROM g) AS DOUBLE), 6) AS token_share
           |FROM g""".stripMargin.replace("\n", " "),
    "q_stratified" ->
      s"""SELECT doc_id, source FROM documents
         | WHERE (${OracleSql.portableTokenHashSql("(source || chr(1) || CAST(doc_id AS VARCHAR))")}) % 1000 <
         |  CASE ${stratifiedRates.map { case (k, v) => s"WHEN source = '$k' THEN $v" }.mkString(" ")}
         |  ELSE 0 END""".stripMargin.replace("\n", " "),
    "q_split" -> {
      val cuts = splitRanges.scanLeft(0)(_ + _._2).tail
      s"""SELECT doc_id,
         |  CASE ${splitRanges.zip(cuts).map { case ((name, _), hi) =>
               s"WHEN b < $hi THEN '$name'" }.mkString(" ")} END AS split
         |FROM (SELECT doc_id,
         |  (${OracleSql.portableTokenHashSql("CAST(doc_id AS VARCHAR)")}) % 1000 AS b
         |  FROM documents)""".stripMargin.replace("\n", " ")
    },
    "q_resample" ->
      s"""WITH c AS (SELECT lang, COUNT(*) AS cnt,
         |    CASE ${resampleShares.toSeq.sortBy(_._1).map { case (k, v) =>
                 s"WHEN lang = '$k' THEN CAST($v AS DOUBLE)" }.mkString(" ")} END AS share
         |  FROM documents
         |  WHERE lang IN (${resampleShares.keys.toSeq.sorted.map(l => s"'$l'").mkString(", ")})
         |  GROUP BY lang),
         | r AS (SELECT lang, cnt, share,
         |    FLOOR(MIN(CAST(cnt AS DOUBLE) / share) OVER ()) AS n_out FROM c)
         |SELECT d.doc_id, d.lang FROM documents d JOIN r ON d.lang = r.lang
         |WHERE (CAST((${OracleSql.portableTokenHashSql("(d.lang || chr(1) || CAST(d.doc_id AS VARCHAR))")}) % 1000003 AS DOUBLE) + 0.5) / 1000003.0
         |  < (r.share * r.n_out) / CAST(r.cnt AS DOUBLE)""".stripMargin.replace("\n", " "),
    "q_dup_passages" ->
      s"""WITH fps AS (${OracleSql.rollingFpSql("documents", k = 7, window = 4)})
         |SELECT fp, COUNT(*) AS ndocs FROM fps
         |GROUP BY fp HAVING COUNT(*) >= 2""".stripMargin.replace("\n", " "),
    "q_dsir" -> {
      val b = 256
      val uni = OracleSql.portableTokenHashSql("l[i]")
      val bi = OracleSql.portableTokenHashSql("(l[i] || ' ' || l[i+1])")
      raw"""WITH tk AS (SELECT doc_id, source,
           |    regexp_split_to_array(trim(text), '\s+') AS l FROM documents),
           | feats AS (SELECT doc_id, source, unnest(
           |    [ ($uni) % $b for i in range(1, len(l) + 1) ] ||
           |    [ ($bi) % $b for i in range(1, len(l)) ]) AS bucket FROM tk),
           | raw AS (SELECT bucket, COUNT(*) AS c FROM feats GROUP BY 1),
           | rt AS (SELECT COUNT(*) AS t FROM feats),
           | tgt AS (SELECT bucket, COUNT(*) AS c FROM feats
           |   WHERE source = 'src0' GROUP BY 1),
           | tt AS (SELECT COUNT(*) AS t FROM feats WHERE source = 'src0'),
           | lam AS (SELECT r.bucket,
           |    (ln((CAST(COALESCE(g.c, 0) AS DOUBLE) + 0.5) /
           |        (CAST(tt.t AS DOUBLE) + 0.5 * $b)) -
           |     ln((CAST(r.c AS DOUBLE) + 0.5) /
           |        (CAST(rt.t AS DOUBLE) + 0.5 * $b))) AS lam
           |  FROM raw r LEFT JOIN tgt g USING (bucket)
           |  CROSS JOIN rt CROSS JOIN tt)
           |SELECT f.doc_id, ROUND(SUM(lam.lam), 6) AS dsir_logw
           |FROM feats f JOIN lam USING (bucket)
           |GROUP BY f.doc_id""".stripMargin.replace("\n", " ")
    },
    "q_seq_ids" ->
      "SELECT doc_id, row_number() OVER (ORDER BY doc_id) - 1 AS seq_id FROM documents",
    "q_top_percent" ->
      """SELECT doc_id, source, n_chars FROM (
        |  SELECT doc_id, source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS rn,
        |    count(*) OVER (PARTITION BY source) AS n
        |  FROM documents)
        |WHERE rn <= ceil(n * 0.25)""".stripMargin.replace("\n", " "),
    "q_hashed_embed" -> {
      val dim = 32
      val uni = OracleSql.portableTokenHashSql("l[i]")
      val bi = OracleSql.portableTokenHashSql("(l[i] || ' ' || l[i+1])")
      raw"""WITH tk AS (SELECT doc_id,
           |    regexp_split_to_array(trim(text), '\s+') AS l FROM documents),
           | f AS (SELECT doc_id,
           |    [ ($uni) % $dim for i in range(1, len(l) + 1) ] ||
           |    [ ($bi) % $dim for i in range(1, len(l)) ] AS bks FROM tk),
           | c AS (SELECT doc_id, [ CAST(len(list_filter(bks, b -> b = i))
           |    AS DOUBLE) for i in range(0, $dim) ] AS cs FROM f),
           | n AS (SELECT doc_id, cs,
           |    sqrt(list_sum([ x * x for x in cs ])) AS nrm FROM c)
           |SELECT doc_id, unnest(range(0, $dim)) AS pos,
           |  unnest([ ROUND(CASE WHEN nrm = 0 THEN x ELSE x / nrm END, 6)
           |    for x in cs ]) AS val FROM n""".stripMargin.replace("\n", " ")
    },
    "q_profile" -> Seq("event_id", "user_id", "event_type").map { c =>
      s"""SELECT '$c' AS "column", count(*) AS n_rows,
         | CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_nulls,
         | count(DISTINCT $c) AS n_distinct,
         | CAST(min($c) AS VARCHAR) AS min_value,
         | CAST(max($c) AS VARCHAR) AS max_value FROM events"""
        .stripMargin.replace("\n", " ")
    }.mkString(" UNION ALL "),
    "q_epochs" ->
      s"""WITH d AS (SELECT doc_id, source,
         |    CASE ${epochMap.toSeq.sortBy(_._1).map { case (k, v) =>
                 s"WHEN source = '$k' THEN CAST($v AS DOUBLE)" }.mkString(" ")}
         |      ELSE CAST(1.0 AS DOUBLE) END AS e,
         |    (CAST((${OracleSql.portableTokenHashSql(
                 "(source || chr(1) || CAST(doc_id AS VARCHAR))")}) % 1000003
         |      AS DOUBLE) + 0.5) / 1000003.0 AS u
         |  FROM documents),
         | c AS (SELECT doc_id, source,
         |    CAST(FLOOR(e) AS INTEGER) +
         |    (CASE WHEN u < e - FLOOR(e) THEN 1 ELSE 0 END) AS n FROM d)
         |SELECT doc_id, source, CAST(unnest(range(0, n)) AS BIGINT)
         |  AS epoch_copy FROM c""".stripMargin.replace("\n", " "),
    "q_line_signals" ->
      """WITH t AS (SELECT doc_id,
        |    string_split(replace(text, ' ', chr(10)), chr(10)) AS ls
        |  FROM documents)
        |SELECT doc_id, CAST(len(ls) AS BIGINT) AS n_lines,
        | ROUND(CAST(1 AS DOUBLE) -
        |   CAST(len(list_distinct(ls)) AS DOUBLE) / CAST(len(ls) AS DOUBLE),
        |   6) AS dup_line_frac,
        | ROUND(CAST(len([ l for l in ls
        |     if right(rtrim(l), 1) IN ('.', '!', '?', '"') ]) AS DOUBLE)
        |   / CAST(len(ls) AS DOUBLE), 6) AS punct_line_frac
        |FROM t""".stripMargin.replace("\n", " "),
    "q_clean_lines" ->
      """WITH t AS (SELECT doc_id,
        |    string_split(replace(text, ' ', chr(10)), chr(10)) AS ls
        |  FROM documents),
        | k AS (SELECT doc_id, ls,
        |    [ ls[i] for i in range(1, len(ls) + 1)
        |      if list_position(ls[1:i-1], ls[i]) = 0 ] AS kept FROM t)
        |SELECT doc_id, array_to_string(kept, chr(10)) AS clean_text,
        | CAST(len(ls) AS BIGINT) AS n_lines,
        | CAST(len(kept) AS BIGINT) AS n_kept
        |FROM k""".stripMargin.replace("\n", " "),
    "q_gumbel" ->
      s"""SELECT doc_id, ROUND(logw, 6) AS logw FROM (
         | SELECT doc_id, ln(CAST(n_chars AS DOUBLE)) AS logw,
         |  (ln(CAST(n_chars AS DOUBLE)) +
         |   -ln(-ln((CAST((${OracleSql.portableTokenHashSql(
               "CAST(doc_id AS VARCHAR)")}) % 1000003 AS DOUBLE) + 0.5)
         |     / 1000003.0))) AS pri
         | FROM documents)
         |ORDER BY pri DESC, doc_id LIMIT 100""".stripMargin.replace("\n", " "),
    "q_corpus_diff" ->
      """WITH o AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 <> 0),
        | n AS (SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 5 <> 0)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        | CASE WHEN o.doc_id IS NULL THEN 'added'
        |      WHEN n.doc_id IS NULL THEN 'removed'
        |      WHEN o.text = n.text THEN 'unchanged'
        |      ELSE 'changed' END AS diff_status
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id"""
      .stripMargin.replace("\n", " "),
    "q_merge" ->
      """WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
        | ups AS (SELECT doc_id, text || ' v2' AS text FROM documents
        |   WHERE doc_id % 3 = 0),
        | dels AS (SELECT doc_id FROM documents WHERE doc_id % 10 = 7),
        | m AS (SELECT * FROM base
        |   WHERE doc_id NOT IN (SELECT doc_id FROM ups)
        |  UNION ALL SELECT * FROM ups)
        |SELECT doc_id, text FROM m
        |WHERE doc_id NOT IN (SELECT doc_id FROM dels)"""
      .stripMargin.replace("\n", " "),
    "q_domain_kl" -> {
      val b = 256
      val uni = OracleSql.portableTokenHashSql("l[i]")
      val bi = OracleSql.portableTokenHashSql("(l[i] || ' ' || l[i+1])")
      raw"""WITH tk AS (SELECT source,
           |    regexp_split_to_array(trim(text), '\s+') AS l FROM documents),
           | feats AS (SELECT source, unnest(
           |    [ ($uni) % $b for i in range(1, len(l) + 1) ] ||
           |    [ ($bi) % $b for i in range(1, len(l)) ]) AS bucket FROM tk),
           | g AS (SELECT source, bucket, COUNT(*) AS c FROM feats GROUP BY 1, 2),
           | t AS (SELECT source, CAST(SUM(c) AS BIGINT) AS tg FROM g GROUP BY 1),
           | q AS (SELECT bucket, CAST(SUM(c) AS BIGINT) AS cb FROM g GROUP BY 1),
           | nt AS (SELECT CAST(SUM(c) AS BIGINT) AS nn FROM g)
           |SELECT g.source, t.tg AS n_feats,
           | ROUND(SUM((CAST(g.c AS DOUBLE) / CAST(t.tg AS DOUBLE)) *
           |   ln((CAST(g.c AS DOUBLE) / CAST(t.tg AS DOUBLE)) /
           |      (CAST(q.cb AS DOUBLE) / CAST(nt.nn AS DOUBLE)))), 6) AS kl_nats
           |FROM g JOIN t USING (source) JOIN q USING (bucket) CROSS JOIN nt
           |GROUP BY g.source, t.tg""".stripMargin.replace("\n", " ")
    },
    "q_dup_exposure" ->
      s"""WITH fps AS (${OracleSql.rollingFpSql("documents", k = 7, window = 4)}),
         | rep AS (SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) >= 2)
         |SELECT f.doc_id, COUNT(r.fp) AS shared_fps, COUNT(*) AS total_fps,
         | ROUND(CAST(COUNT(r.fp) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         |   AS shared_frac
         |FROM fps f LEFT JOIN rep r ON f.fp = r.fp
         |GROUP BY f.doc_id""".stripMargin.replace("\n", " "),
    "q_electron_index" ->
      """SELECT trainId, CAST(pulseId AS DOUBLE) AS pulseId,
        | CAST(electronId AS BIGINT) AS electronId FROM (
        | SELECT trainId, v AS pulseId,
        |   row_number() OVER (PARTITION BY trainId, v ORDER BY i) - 1 AS electronId
        | FROM (SELECT vec_id AS trainId, generate_subscripts(embedding, 1) AS i,
        |       unnest(embedding) AS v FROM embeddings)
        | WHERE v >= 0)""".stripMargin.replace("\n", " "),
  )
}
