package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.binning._
import graft.calibrate.{Delay, Energy}
import graft.dfops.DfOps

/** Reference-scale benchmark: the four headline workloads at the
  * reference's own scale — 1e8 rows × 4 uniform-random float columns
  * (`X, Y, t, ADC`; ranges `[0,2048] [0,2048] [60000,120000]
  * [2000,20000]`), seed 42, ≤20 cores — mirroring
  * `benchmarks/benchmark_sed.py:23-33` so the recorded numbers compare
  * directly against BASELINE.md's absolute targets (3.02 / 9.21 / 17.06 /
  * 21.42 s) instead of extrapolating from sf0.1.
  *
  * Like-for-like posture:
  *  - The reference's input is a LAZY dask random array: every timed
  *    `compute()` regenerates the random data as part of the graph. The
  *    Spark mirror is a `range → rand(seed)` projection — also
  *    regenerated inside every timed run, no caching.
  *  - min of 5 timed repetitions after one untimed warm-up
  *    (`benchmark_sed.py:57`, `timeit.repeat(5, number=1)`).
  *  - `local[20]` by default (`num_cores = min(20, cpu_count)`,
  *    `benchmark_sed.py:23`).
  *  - The workflow chain is jitter → momentum correction (2048² dfield
  *    bilinear lookup) → momentum calibration → energy correction →
  *    energy calibration → delay calibration, then the 1-D/4-D histogram
  *    (`benchmark_sed.py:114-179`); axis ranges are probed from the
  *    transformed data (untimed) so bin occupancy matches the
  *    reference's in-range binning.
  *
  * Additionally records `binning_1d_coldscan`: the same 1-D histogram
  * reading a freshly written ~3 GB parquet copy of the events (scan +
  * decode measured; the file system cache is warm after the write, so
  * this is an IO-path cost, not a disk-latency number — the in-memory
  * workloads above stay the BASELINE-comparable metrics).
  *
  * Prints ONE JSON line like Bench, and exits like Bench too
  * ([[BenchProtocol.verdict]]): 3 when queries stay canary-hot after
  * the retry budget (`contaminated` nonempty), 4 when the whole box is
  * uniformly hot (`run_quiet` false) — either way `"usable":false` is
  * in the artifact and a driver that only checks the exit code can
  * never commit a weather-contaminated refresh. Not part of the
  * per-round driver gate; run manually:
  * {{{ SPARK_GRAFT_REFBENCH_ROWS=100000000 sbt "runMain graft.RefBench" }}}
  */
object RefBench {

  private def exec(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** One measured attempt: (name, min seconds, worst cpu canary, worst
    * bw canary).
    */
  type Reading = (String, Double, Double, Double)

  /** The self-heal pass over the first-attempt readings — extracted so
    * a spec can drive it with scripted re-runs (VERDICT r17 #2: the
    * by-hand "discard a contaminated refresh" discipline worked at the
    * r17 close, but protocol beats discipline).
    *
    * Queries whose canary pair reads hot (cpu > 1.3× / bw > 1.5× the
    * suite-quiet minima — Bench's bands) re-run up to `maxRounds`
    * times; each retry keeps whichever attempt's WORST band-normalized
    * canary is quieter (a retry must not lose a quiet bw to regain
    * cpu). Returns (final readings, `contaminated` = still hot after
    * the budget, per-query retry counts).
    */
  private[graft] def selfHeal(initial: Seq[Reading],
      reRun: String => (Double, Double, Double), maxRounds: Int = 2)
      : (Seq[Reading], Seq[String], Map[String, Int]) = {
    require(initial.nonEmpty, "refbench: no readings to adjudicate")
    var rs = initial
    val retried = collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    def minima(): (Double, Double) = (rs.map(_._3).min, rs.map(_._4).min)
    def hot(can: Double, bw: Double): Boolean = {
      val (quietC, quietB) = minima()
      can > 1.3 * quietC || bw > 1.5 * quietB
    }
    for (_ <- 1 to maxRounds) {
      val (quietC, quietB) = minima()
      rs = rs.map { case q @ (name, _, can, bw) =>
        if (hot(can, bw)) {
          retried(name) += 1
          val (sec2, can2, bw2) = reRun(name)
          val oldScore = math.max(can / quietC, bw / quietB)
          val newScore = math.max(can2 / quietC, bw2 / quietB)
          if (newScore < oldScore) (name, sec2, can2, bw2) else q
        } else q
      }
    }
    (rs, rs.filter(r => hot(r._3, r._4)).map(_._1), retried.toMap)
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(20, Runtime.getRuntime.availableProcessors()).toString)
    val n = sys.env.getOrElse("SPARK_GRAFT_REFBENCH_ROWS", "100000000").toLong
    val reps = sys.env.getOrElse("SPARK_GRAFT_REFBENCH_REPS", "5").toInt
    val scanDir = sys.env.getOrElse("SPARK_GRAFT_REFBENCH_DIR",
      "/tmp/graft_refbench_events")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTS", cpus))
      .config("spark.ui.enabled", "false")
      // heap comes from the forked JVM: SPARK_DRIVER_MEM (build.sbt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // the reference's synthetic event table (benchmark_sed.py:25-33):
    // regenerated lazily inside every timed run, exactly like the dask
    // random array. 4× cpus input splits keep every core busy.
    val nSplits = cpus.toInt * 4
    def events: DataFrame = spark.range(0L, n, 1L, nSplits).select(
      (rand(42) * 2048.0).as("X"),
      (rand(43) * 2048.0).as("Y"),
      (rand(44) * 60000.0 + 60000.0).as("t"),
      (rand(45) * 18000.0 + 2000.0).as("ADC"))

    // identity-plus-smooth-warp inverse deformation field on the full
    // 2048² detector grid, built once untimed (the reference builds its
    // dfield in apply_momentum_correction setup, not in the timed body)
    val nGrid = 2048
    val invD: Array[Array[Array[Double]]] = Array(
      Array.tabulate(nGrid, nGrid)((i, j) =>
        i.toDouble + 0.5 * math.sin(j / 300.0)),
      Array.tabulate(nGrid, nGrid)((i, j) =>
        j.toDouble + 0.2 * math.cos(i / 400.0)),
    )
    def chain(df: DataFrame): DataFrame = {
      val j = DfOps.applyJitter(df, Seq("X"), amps = Seq(0.5))
      val m = graft.calibrate.Momentum.applyDfield(spark, j, invD,
        "X", "Y", "xm", "ym", ((0.0, 2048.0), (0.0, 2048.0)))
      val k = graft.calibrate.Momentum.appendKAxis(m, "xm", "ym",
        "kx", "ky", rStart = 0.0, cStart = 0.0, rCenter = 1024.0,
        cCenter = 1024.0, rConversion = 0.002, cConversion = 0.002,
        rStep = 1.0, cStep = 1.0)
      // diameter must dominate the detector diagonal or the sqrt in the
      // spherical profile goes NaN off-center (1024√2 ≈ 1448 < 4096/2·…)
      val corr = Energy.applyEnergyCorrection(k, "t", "tm",
        Energy.Correction.spherical(_, _, 1024.0, 1024.0, 0.05, 4096.0),
        "xm", "ym")
      // d chosen so E spans ~[3.3, 11.9] eV over t ∈ [60000, 120000] —
      // a physically-spread energy axis (Bench's small-d parameters would
      // collapse energy to offset ± 1e-10 and give the 4-D cube an
      // unrealistically cheap single-slot energy axis)
      val en = corr.withColumn("energy",
        Energy.tof2ev(col("tm"), 2.4e11, 100.0, 2.0, 0, "kinetic", 0.5))
      Delay.appendDelayAxis(en, "ADC", "delay",
        adcRange = (2000.0, 20000.0), delayRange = Some((-500.0, 1500.0)))
    }

    // probe output ranges once, untimed, on a 1e6-row slice so the
    // workflow histograms bin in-range data like the reference's do
    val probe = chain(events.limit(1000000))
      .agg(min("kx"), max("kx"), min("ky"), max("ky"),
        min("energy"), max("energy"), min("delay"), max("delay"))
      .collect()(0)
    def rng(i: Int): (Double, Double) = (probe.getDouble(i), probe.getDouble(i + 1))
    val (kxR, kyR, enR, deR) = (rng(0), rng(2), rng(4), rng(6))
    val ax1dEnergy = UniformAxis("energy", 1000, enR._1, enR._2)
    val ax4dWf = Seq(
      UniformAxis("kx", 100, kxR._1, kxR._2),
      UniformAxis("ky", 100, kyR._1, kyR._2),
      UniformAxis("energy", 100, enR._1, enR._2),
      UniformAxis("delay", 100, deR._1, deR._2))

    // the reference's three loader_compute_* baseline rows
    // (benchmark_sed.py:182-208; BASELINE.md: mpes 0.016 s, flash
    // 0.036 s, sxp 0.006 s). Like-for-like posture: the reference calls
    // read_dataframe ONCE in setup (for flash/sxp that pass builds the
    // parquet buffer) and times only `loaded_dataframe.compute()` — so
    // here the dataframe is BUILT ONCE, untimed (flash/sxp through the
    // bufferDir parquet buffer, matching the baseline rows' own
    // "materialize ... buffer" wording), and each timed rep is the
    // materialization alone. Skipped with a stderr note when the
    // read-only fixtures are absent.
    val mpesPath = "/root/reference/tests/data/loader/mpes/Scan0030_2.h5"
    val flashPath = "/root/reference/tests/data/loader/flash/" +
      "FLASH1_USER3_stream_2_run43878_file1_20230130T153807.1.h5"
    val sxpPath =
      "/root/reference/tests/data/loader/sxp/RAW-R0016-DA03-S00000.h5"
    def fixture(p: String) = new java.io.File(p).exists()
    val bufRoot = java.nio.file.Files
      .createTempDirectory("graft_refbench_loaders").toString
    val loaderWorkloads: Seq[(String, () => Unit)] =
      Seq[(String, String, () => DataFrame)](
        ("loader_compute_mpes", mpesPath, () =>
          graft.loader.MpesLoader.readDataframe(spark, Seq(mpesPath))._1),
        ("loader_compute_flash", flashPath, () =>
          graft.loader.InstrumentH5Loader.readDataframe(spark, Seq(flashPath),
            graft.loader.InstrumentH5Loader.flashDefaultChannels,
            pulseChannel = "pulseId", tofChannel = "dldTimeSteps",
            ubidOffset = 5, bufferDir = Some(s"$bufRoot/flash"))._1),
        ("loader_compute_sxp", sxpPath, () =>
          graft.loader.InstrumentH5Loader.readDataframe(spark, Seq(sxpPath),
            graft.loader.InstrumentH5Loader.sxpDefaultChannels,
            pulseChannel = "pulseId", tofChannel = "dldTimeSteps",
            ubidOffset = 0, bufferDir = Some(s"$bufRoot/sxp"))._1),
      ).flatMap { case (name, path, build) =>
        if (fixture(path)) {
          val df = build() // setup, untimed — decode + buffer happen here
          Some(name -> (() => exec(df)))
        } else {
          System.err.println(s"[refbench] $name skipped: $path missing")
          None
        }
      }

    val workloads: Seq[(String, () => Unit)] = Seq[(String, () => Unit)](
      "binning_1d" -> (() => Binning.histogramCube(events,
        Seq(UniformAxis("t", 1000, 60000.0, 120000.0)))),
      "binning_4d" -> (() => exec(Binning.histogram(events, Seq(
        UniformAxis("X", 100, 0.0, 2048.0),
        UniformAxis("Y", 100, 0.0, 2048.0),
        UniformAxis("t", 100, 60000.0, 120000.0),
        UniformAxis("ADC", 100, 2000.0, 20000.0))))),
      "workflow_1d" -> (() => Binning.histogramCube(chain(events), Seq(ax1dEnergy))),
      "workflow_4d" -> (() => exec(Binning.histogram(chain(events), ax4dWf))),
    ) ++ loaderWorkloads

    // per-query canary bracket (same probe as Bench): a single-thread
    // CPU reference that exposes frequency/contention drift — the 4-D
    // legs vary up to ~1.8× with box state on byte-identical code
    // (NOTES.md round-9 RefBench re-runs), so the artifact must carry
    // the evidence needed to interpret a hot reading
    def canary(): Double = {
      val t0 = System.nanoTime()
      var s = 0.0
      var i = 0
      while (i < 20000000) { s += java.lang.Math.sqrt(i.toDouble); i += 1 }
      if (s < 0) println(s)
      (System.nanoTime() - t0) / 1e9
    }
    /** Warm-up (once per distinct plan) + min-of-`reps` + canary PAIRS:
      * the single-thread CPU probe AND Bench's 8-thread stream triad —
      * round 17 caught two same-code RefBench runs 40-75 % slow with
      * QUIET CPU canaries (the r12 bandwidth-weather mechanism: another
      * process's memory traffic is invisible to a sqrt loop).
      */
    val warmed = collection.mutable.Set[String]()
    def timeOne(name: String, run: () => Unit): (Double, Double, Double) = {
      if (warmed.add(name)) run() // codegen + C2, as the reference warms once
      val cBefore = canary()
      val bwBefore = Bench.bwProbe()
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        run()
        (System.nanoTime() - t0) / 1e9
      }
      System.err.println(s"[refbench] $name ${times.map(t => f"$t%.2f").mkString(" ")}")
      (times.min, math.max(cBefore, canary()),
        math.max(bwBefore, Bench.bwProbe()))
    }
    // self-healing pass (the same contract as Bench's runSuite): see
    // selfHeal — anything still hot after the budget is named in
    // `contaminated`, and every re-measured query in `retried`
    val first = workloads.map { case (name, run) =>
      val (sec, can, bw) = timeOne(name, run)
      (name, sec, can, bw)
    }
    val byName = workloads.toMap
    val (rs, contaminated, retried) =
      selfHeal(first, name => timeOne(name, byName(name)))
    // absolute whole-run check against the committed quiet-box constants
    // (Bench.runQuiet): a UNIFORMLY slow box passes the relative test —
    // cross-run baseline comparisons are only valid when this is true
    val runQuiet = Bench.runQuiet(rs.map(_._3).min, rs.map(_._4).min)
    val results = collection.mutable.LinkedHashMap[String, Double]()
    val canaries = collection.mutable.LinkedHashMap[String, Double]()
    val bwCanaries = collection.mutable.LinkedHashMap[String, Double]()
    rs.foreach { case (n, sec, can, bw) =>
      results(n) = sec; canaries(n) = can; bwCanaries(n) = bw
    }

    // cold(ish)-scan variant: same 1-D histogram over a parquet copy
    val fs = new java.io.File(scanDir)
    if (!fs.exists()) events.write.parquet(scanDir)
    val scanT = (1 to 2).map { _ =>
      val t0 = System.nanoTime()
      Binning.histogramCube(spark.read.parquet(scanDir),
        Seq(UniformAxis("t", 1000, 60000.0, 120000.0)))
      (System.nanoTime() - t0) / 1e9
    }
    results("binning_1d_coldscan") = scanT.min

    def jmap(m: collection.Map[String, Double]): String =
      m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = results.values.sum
    val contJ = contaminated.map("\"" + _ + "\"").mkString("[", ",", "]")
    val retrJ = retried.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    // the same roll-up + exit-code contract as Bench (VERDICT r17 #2):
    // a contaminated or baseline-shifted refresh exits nonzero so a
    // driver that only checks the exit code can never commit it —
    // exit 3 = named queries still hot after the retry budget,
    // exit 4 = uniformly hot box (run_quiet false). The r17 close
    // proved the by-hand discipline works AND that the weather happens;
    // protocol beats discipline.
    val (usable, exitCode) = BenchProtocol.verdict(contaminated, runQuiet)
    val json = s"""{"metric":"refbench_total","value":$total,"unit":"sec","queries":${jmap(results)},"canaries":${jmap(canaries)},"bw_canaries":${jmap(bwCanaries)},"run_quiet":$runQuiet,"usable":$usable,"contaminated":$contJ,"retried":$retrJ,"rows":$n,"cores":$cpus}"""
    Bench.emitArtifact(json,
      sys.env.getOrElse("SPARK_GRAFT_REFBENCH_OUT", "BENCH_REF.json"))
    spark.stop()
    if (exitCode == 3) {
      System.err.println("[refbench] UNUSABLE: still-hot canaries after " +
        s"the retry budget: ${contaminated.mkString(", ")} — the refresh " +
        "is weather, not a number of record; exiting 3")
      sys.exit(3)
    } else if (exitCode != 0) {
      System.err.println("[refbench] UNUSABLE: uniformly hot box (suite " +
        "canary minima outside the committed quiet envelope) — do not " +
        "commit this refresh; exiting 4")
      sys.exit(exitCode)
    }
  }
}
