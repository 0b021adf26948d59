package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.GraftSparkBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.binning._
import graft.calibrate.{Delay, Energy}
import graft.dfops.DfOps

/** Round benchmark: headline workloads mirroring the reference's benchmark
  * suite (`benchmarks/benchmark_sed.py`, see BASELINE.md) plus the pipeline
  * extensions, on `SPARK_GRAFT_SF_DIR`. Prints ONE JSON line
  * `{"metric":"total","value":N,"value_1x":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Since round 19 the query map also carries a ×100 SCALE LEG (`_x100`
  * suffixed names, `SPARK_GRAFT_XSCALE` to resize/disable): four
  * shuffle-heavy workloads re-run on ×100 inflated inputs so the
  * cpu-count scaling comparison measures parallelism instead of
  * task-launch floors. Adding entries is contract-allowed; it inflates
  * `value`, so cross-round totals compare on `value_1x`, the sum of the
  * ×1 minima alone.
  *
  * Timing discipline (the protocol of the round-12 histogram-strategy
  * table in NOTES.md, promoted here after round 12 proved the old
  * per-query min-of-5 unreproducible on a shared box —
  * same-HEAD committed artifacts swung 2.8 s → 47.2 s on allocation-heavy
  * queries while the single-thread CPU canary stayed quiet):
  *
  *  - one untimed warm-up + one shuffle-metered run per workload, then
  *    reps are INTERLEAVED across workloads in rounds within this one
  *    JVM — a transient load spike lands on one rep of several queries
  *    instead of every rep of one query, so the per-query min survives;
  *  - every rep is bracketed by a canary PAIR: the single-thread CPU
  *    probe (~0.05 s quiet) AND a multi-threaded stream-triad bandwidth
  *    probe (~0.05 s quiet) — the mechanism that moved the round-12
  *    artifacts was memory-bandwidth weather, invisible to a
  *    single-thread CPU probe;
  *  - a rep is QUIET iff all four bracket readings sit within 1.3× the
  *    suite-wide quiet minimum of their kind; per query the artifact
  *    reports min / median / spread (max÷min) over its quiet reps, and
  *    `agreed_spreads` — the same max÷min over the agreed subset, the
  *    dispersion statistic the usability verdict is actually based on
  *    (read THAT one when judging a usable artifact's stability).
  *    For SUB-SECOND queries a quiet rep additionally counts only if it
  *    AGREES with the query's quiet minimum (1.3× / +50 ms band) — a
  *    spike shorter than the bracket interval can land wholly inside a
  *    short timed region without touching either canary, so the floor
  *    must be reproduced, not just bracketed (round 16's ×1 leg carried
  *    quiet-rep spreads up to 4.8× this way);
  *  - the suite SELF-HEALS: while any query has < 2 quiet+agreed reps,
  *    up to 10 additional full interleaved rounds run; a query with
  *    ZERO quiet reps after that falls back to all-rep stats and is
  *    named in `contaminated`, and any query still under 2 quiet+agreed
  *    reps is named in `unusable`;
  *  - `usable` and the exit code roll up BOTH weather modes
  *    ([[BenchProtocol.verdict]]): `unusable` nonempty → exit 3 (noisy
  *    box), and `run_quiet` false → exit 4 (uniformly hot box: every
  *    rep mutually quiet but the suite canary minima sit outside the
  *    committed quiet-box envelope — the whole-run baseline shift the
  *    absolute constants exist for). Either way the artifact carries
  *    `"usable":false` and can never be archived as the round's number
  *    of record (protocol spec-pinned with scripted canaries).
  *
  * Each workload executes to a noop sink — `count()` would let Catalyst
  * prune the projections being measured. The reported headline stays the
  * per-query MIN (the reference's own min-of-5, `benchmark_sed.py:57`);
  * `medians`/`spreads` exist so a cross-round reader can tell a real
  * regression (min moved, spread tight) from weather (spread wide).
  */
object Bench {

  /** Committed quiet-box calibration: the canary constants this box reads
    * in a verified-quiet state (three same-HEAD r13 validation runs; cpu
    * single-thread sqrt probe, bw 8-thread stream triad). The RELATIVE
    * per-rep gating above cannot see a WHOLE-RUN baseline shift — two
    * same-code runs once read 2.37 s vs 1.63 s with flat within-run
    * canaries — so the artifact also carries `run_quiet`: whether this
    * run's suite-minimum canaries sit within the absolute envelope of the
    * committed constants. A false `run_quiet` means cross-run comparisons
    * of this artifact are weather, not code.
    */
  val quietCpuCanarySec: Double = 0.046
  val quietBwCanarySec: Double = 0.020

  /** True iff a run whose suite-wide canary minima are `cpuMin`/`bwMin`
    * is comparable against other quiet runs: cpu within 1.3× and bw
    * within 1.5× of the committed quiet constants (bw gets the wider
    * band — bandwidth contention from neighbors is burstier than CPU
    * steal and the triad reads noisier even when quiet).
    */
  def runQuiet(cpuMin: Double, bwMin: Double): Boolean =
    cpuMin <= quietCpuCanarySec * 1.3 && bwMin <= quietBwCanarySec * 1.5

  /** Write the artifact JSON next to stdout: round 13's one-line stdout
    * JSON outgrew the driver's tail-capture window and the committed
    * artifact lost its whole ×1 leg (`parsed: null`) — the file is the
    * durable copy, the stdout line stays for the driver.
    */
  def emitArtifact(json: String, path: String): Unit = {
    println(json)
    try java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Exception =>
      System.err.println(s"[bench] artifact write to $path failed: $e") }
  }

  /** Force full computation of every column without collecting. */
  private def exec(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Fixed single-thread CPU-bound probe (~0.05 s quiet): measures machine
    * CPU load, independent of Spark.
    */
  private def canary(): Double = {
    val t0 = System.nanoTime()
    var s = 0.0
    var i = 0
    while (i < 20000000) { s += java.lang.Math.sqrt(i.toDouble); i += 1 }
    if (s < 0) println(s) // defeat dead-code elimination
    (System.nanoTime() - t0) / 1e9
  }

  /** Multi-threaded stream-triad memory-bandwidth probe (~0.05 s quiet):
    * 8 threads each sweep `a(i) = b(i) + s·c(i)` over a 16 MiB slice,
    * twice — ~800 MB of memory traffic, far past any L3. Another
    * process's allocation storm (the round-12 contamination mechanism)
    * slows THIS probe even when the CPU probe stays quiet. Arrays are
    * allocated once and reused: the probe must not itself create GC
    * pressure.
    */
  /** The bandwidth triad as a callable probe for sibling benches
    * (RefBench) — CPU canaries alone cannot see the r12 contamination
    * mechanism (another process's memory traffic).
    */
  private[graft] def bwProbe(): Double = Triad.probe()

  private object Triad {
    private val threads = 8
    private val perThread = 1 << 21 // doubles per slice (16 MiB)
    private val passes = 4 // ~1.6 GB of traffic: pool dispatch jitter ≪ 1%
    private val n = threads * perThread
    private lazy val a = new Array[Double](n)
    private lazy val b = Array.tabulate(n)(i => (i % 1024).toDouble)
    private lazy val c = Array.tabulate(n)(i => ((i * 7) % 1024).toDouble)
    // fixed pool: per-probe Thread.start()/join() added ms-scale jitter —
    // 10 %+ of a quiet reading, enough to fake a hot bracket
    private lazy val pool = java.util.concurrent.Executors.newFixedThreadPool(
      threads, (r: Runnable) => { val t = new Thread(r); t.setDaemon(true); t })

    def probe(): Double = {
      val (aa, bb, cc) = (a, b, c) // force init outside the timed region
      val tasks = new java.util.ArrayList[java.util.concurrent.Callable[Unit]]()
      (0 until threads).foreach { t =>
        tasks.add(() => {
          val lo = t * perThread
          val hi = lo + perThread
          var pass = 0
          while (pass < passes) {
            var i = lo
            while (i < hi) { aa(i) = bb(i) + 0.5 * cc(i); i += 1 }
            pass += 1
          }
        })
      }
      val t0 = System.nanoTime()
      pool.invokeAll(tasks)
      if (aa(0) < -1) println(aa(0)) // defeat dead-code elimination
      (System.nanoTime() - t0) / 1e9
    }
  }

  /** Cumulative shuffle-write bytes across all completed stages — the
    * scale-sensitivity signal: a workload whose shuffle bytes grow faster
    * than its input is the one that dies first on a cluster.
    */
  private final class ShuffleMeter extends SparkListener {
    val bytes = new AtomicLong(0L)
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
      bytes.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // batch-search TopKAgg: keep ObjectHashAggregate in the hash path
      // for query-batch group counts (see TopKAgg scaladoc)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "1000000")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // single-JVM bench posture (a real cluster keeps defaults for both):
      // shuffle bytes never cross a network, so compression is pure CPU
      // cost here. AQE stays ON, same as Verify, the tests, and a real
      // cluster: a recorded min-of-5 A/B at sf0.1/32 cpus measured
      // off=2.54/2.06 s vs on=2.14/2.08 s total — a wash within noise —
      // so the round-3 off-by-default (claimed ~20 % barrier cost from a
      // min-of-2 run) did not reproduce and is reverted.
      .config("spark.sql.adaptive.enabled", sys.env.getOrElse("SPARK_GRAFT_AQE", "true"))
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // The driver's parquet files are written as ONE row group each, so a
    // cold scan is a single task regardless of cores. The reference
    // baseline times pure compute over in-memory synthetic arrays
    // (benchmark_sed.py:25-33) — for a like-for-like comparison the inputs
    // are repartitioned across cores and cached once, untimed. (At real
    // scale the lake has many files/row groups and scans parallelize
    // naturally; this is a bench-harness artifact only.)
    val nPart = cpus.toInt
    def load(name: String) = {
      val df = spark.read.parquet(s"$sfDir/$name.parquet").repartition(nPart).cache()
      df.count() // materialize
      df
    }
    val lineitem = load("lineitem")
    val documents = load("documents")
    val embeddings = load("embeddings")
    // A cached input breaks AQE exchange reuse in Spark 4.1 (cache query
    // stages don't canonicalize equal), which would recompute minhash's
    // shared signature exchange 4×. Feed minhash an uncached scan with an
    // explicit hash repartition — a different plan than the cached one, so
    // cache substitution doesn't re-inject it — which is also the honest
    // at-scale shape: a lake scan, not an in-memory array.
    val documentsScan = spark.read.parquet(s"$sfDir/documents.parquet")
      .repartition(nPart, col("doc_id"))

    /** The reference's canonical transform chain (benchmark_sed.py:124-129):
      * jitter → momentum correction (2048² inverse-dfield bilinear lookup)
      * → momentum calibration → energy correction → energy calibration →
      * delay calibration, on the lineitem event columns. Built once: the
      * deformation grids broadcast at plan-build time, as in production.
      */
    val nGrid = 2048
    // ≈ identity + smooth warp, in detector units (x∈[0,50], y∈[0,8])
    val invD: Array[Array[Array[Double]]] = Array(
      Array.tabulate(nGrid, nGrid)((i, j) =>
        i * (50.0 / (nGrid - 1)) + 0.5 * math.sin(j / 300.0)),
      Array.tabulate(nGrid, nGrid)((i, j) =>
        j * (8.0 / (nGrid - 1)) + 0.2 * math.cos(i / 400.0)),
    )
    val workflowChain: DataFrame = {
      val j = DfOps.applyJitter(lineitem, Seq("l_quantity"), amps = Seq(0.5))
      val m = graft.calibrate.Momentum.applyDfield(spark, j, invD,
        "l_quantity", "l_linenumber", "xm", "ym", ((0.0, 50.0), (0.0, 8.0)))
      val k = graft.calibrate.Momentum.appendKAxis(m, "xm", "ym",
        "kx", "ky", rStart = 0.0, cStart = 0.0, rCenter = 25.0, cCenter = 4.0,
        rConversion = 0.01, cConversion = 0.01, rStep = 1.0, cStep = 1.0)
      val corr = Energy.applyEnergyCorrection(k, "l_extendedprice", "tm",
        Energy.Correction.spherical(_, _, 25.0, 4.0, 0.05, 100.0),
        "xm", "ym")
      val en = corr.withColumn("energy",
        Energy.tof2ev(col("tm"), 1.0e6, 100.0, 2.0, 0, "kinetic", 0.5))
      Delay.appendDelayAxis(en, "l_discount", "delay",
        adcRange = (0.0, 0.11), delayRange = Some((-2.0, 2.0)))
    }

    val axEnergy = UniformAxis("energy", 1000, 0.5, 1.5)
    val ax4dWf = Seq(
      UniformAxis("kx", 100, -0.3, 0.3),
      UniformAxis("ky", 100, -0.06, 0.06),
      UniformAxis("energy", 100, 0.5, 1.5),
      UniformAxis("delay", 100, -2.0, 2.1),
    )

    // D10 inverse-field generation (reference inv_dfield baseline: 2048²
    // target grid) — driver-side numerics; forward field built once, untimed
    val fwdR = Array.tabulate(nGrid, nGrid)((r, c) => r + 5.0 * math.sin(c / 200.0))
    val fwdC = Array.tabulate(nGrid, nGrid)((r, c) => c + 3.0 * math.cos(r / 150.0))

    // The ANN query vector is a CONSTANT of the workload — built once,
    // untimed. r16/r17 fetched it with a `.first()` INSIDE the timed
    // closure, adding a scheduler-floor Spark job (~50 ms) per rep to a
    // ~0.1 s workload; that fixed cost (not the top-k itself) was most
    // of the ann_brute_topk ×1-slower-than-×10 inversion (VERDICT r17
    // #1). The reference's equivalent would not refetch per rep either.
    val annQuery: Array[Double] = embeddings.filter(col("vec_id") === 0)
      .select("embedding").first().getSeq[Float](0).map(_.toDouble).toArray

    val workloads: Seq[(String, () => Unit)] = Seq(
      // reference binning_1d: 1-D histogram, 1000 bins — dense-aggregate
      // fast path, materialized like the reference's cube
      "binning_1d" -> (() => Binning.histogramCube(lineitem,
        Seq(UniformAxis("l_extendedprice", 1000, 900.0, 105000.0)))),
      // reference binning_4d: 4-D histogram, 100 bins per axis
      "binning_4d" -> (() => exec(Binning.histogram(lineitem, Seq(
        UniformAxis("l_quantity", 100, 1.0, 50.0),
        UniformAxis("l_extendedprice", 100, 900.0, 105000.0),
        UniformAxis("l_discount", 100, 0.0, 0.11),
        UniformAxis("l_tax", 100, 0.0, 0.09))))),
      // reference workflow_1d: full transform chain + 1-D energy histogram
      "workflow_1d" -> (() => Binning.histogramCube(workflowChain, Seq(axEnergy))),
      // reference workflow_4d: chain + 4-D (kx, ky, energy, delay) histogram
      "workflow_4d" -> (() => exec(Binning.histogram(workflowChain, ax4dWf))),
      // reference inv_dfield: D10 scattered-interpolation field inversion
      "inv_dfield" -> (() => {
        graft.fit.Fields.invertField(fwdR, fwdC, nGrid, nGrid,
          ((0.0, nGrid - 1.0), (0.0, nGrid - 1.0)))
        ()
      }),
      // pipeline extensions at the same scale factor
      "dedup_exact" -> (() => exec(pipeline.Dedup.exactDuplicates(
        documents, "text", "doc_id"))),
      "dedup_minhash" -> (() => exec(pipeline.Dedup.minhashNearDuplicates(
        documentsScan, "text", "doc_id", threshold = 0.5))),
      // the SHIPPED default: Curation routes near-dup through the census
      // auto-plan — benched beside the pinned default plan above so the
      // artifact measures what users actually run (census cost included)
      "dedup_minhash_auto" -> (() => exec(pipeline.Dedup.minhashNearDuplicatesAuto(
        documentsScan, "text", "doc_id", threshold = 0.5))),
      "ann_brute_topk" -> (() => exec(pipeline.Similarity.bruteForceTopK(
        embeddings, "embedding", "vec_id", annQuery, 10))),
      "text_quality" -> (() => exec(pipeline.TextOps.qualityColumns(
        documents, "text"))),
    )

    val meter = new ShuffleMeter
    spark.sparkContext.addSparkListener(meter)
    /** Shuffle-write bytes generated by one execution of `run`, read after
      * draining the async listener bus.
      */
    def shuffleDelta(run: () => Unit): Long = {
      GraftSparkBridge.drainListeners(spark.sparkContext)
      val before = meter.bytes.get()
      run()
      GraftSparkBridge.drainListeners(spark.sparkContext)
      meter.bytes.get() - before
    }

    import BenchProtocol.QStat
    /** The interleaved, canary-bracketed, self-healing suite run —
      * [[BenchProtocol.runSuite]] with the real probes. `maxExtraRounds`
      * is the round-16 hardening: the old budget of 2 let round-15's
      * driver artifact archive `quiet_reps:0` numbers as the number of
      * record; 10 extra rounds (~35 s ×1 / ~80 s ×10 worst case) ride
      * out transient weather, and what survives is named `unusable`.
      */
    def runSuite(ws: Seq[(String, () => Unit)], rounds: Int,
        warmups: Int = 1, extraWarmups: Map[String, Int] = Map.empty,
        selfBracketed: Boolean = false)
        : BenchProtocol.SuiteResult =
      BenchProtocol.runSuite(ws, rounds, maxExtraRounds = 10,
        cpuProbe = () => canary(), bwProbe = () => Triad.probe(),
        shuffleMbOf = (_, run) => shuffleDelta(run) / 1e6,
        warmups = warmups, extraWarmups = extraWarmups,
        selfBracketed = selfBracketed)

    // dedup_exact's full-text xxhash is allocation-heavy enough that
    // its C2 warm-up TAIL spans ~17 executions (the quiet-box floor
    // descends monotonically 0.42 → 0.22 s, no GC correlation; NOTES.md,
    // "Round-19 candidates / standing cautions" item 2) — with the suite-default warm-up its minimum keeps
    // creeping down through the timed rounds, and on an unlucky run the
    // min-anchored agreement band excludes every earlier rep (two r18
    // close runs exited 3 exactly this way). Pay the tail untimed so
    // the timed reps start at the plateau the band anchors to.
    val longTail = Map("dedup_exact" -> 10)

    // warmups=2 on the ×1 leg only: it runs in a FRESH JVM, while the
    // ×10 leg starts after ~50 executions of the same operators have
    // fully C2-compiled Spark's scan/agg internals — the ×1 leg's timed
    // reps were paying JIT the ×10 leg inherited for free, the second
    // mechanism behind the r17 sub-second ×1/×10 inversion. One extra
    // untimed pass per workload (~2 s total) pays that cost up front.
    val r1x = runSuite(workloads, rounds = 5, warmups = 2,
      extraWarmups = longTail)
    val results = r1x.stats

    // ---- 10× weak-scaling leg ----------------------------------------
    // The sf0.1 numbers are sub-second — small enough that fixed costs
    // dominate and a scaling cliff can hide. Inflate the inputs 10× into
    // a temp lake (≈ sf1 row counts), re-run the data-bound headline
    // workloads, and record per-query seconds + shuffle bytes next to the
    // 1× numbers: a workload is cluster-safe when sec and shuffle MB grow
    // ≲ linearly with rows. Document copies are Caesar-shifted per copy so
    // cross-copy shingles differ — near-dup output mass stays linear in
    // rows (identical copies would grow it quadratically and the bench
    // would measure output explosion, not throughput).
    val x10 = sys.env.getOrElse("SPARK_GRAFT_X10", "true").toBoolean
    val rX10: BenchProtocol.SuiteResult = if (!x10)
      BenchProtocol.SuiteResult(Seq.empty, Seq.empty, 0, Seq.empty)
    else {
      val dir = java.nio.file.Files.createTempDirectory("graft_bench_x10").toString
      val copies = explode(sequence(lit(0), lit(9))).as("copy")
      lineitem
        .select(col("l_quantity"), col("l_extendedprice"), col("l_discount"),
          col("l_tax"), col("l_linenumber"))
        .select(col("*"), copies).drop("copy")
        .repartition(nPart)
        .write.mode("overwrite").parquet(s"$dir/lineitem")
      val alpha = "abcdefghijklmnopqrstuvwxyz"
      documentsScan
        .select(col("doc_id"), col("text"), copies)
        .select(
          (col("doc_id") + col("copy") * lit(10000000L)).as("doc_id"),
          element_at(
            array((0 until 10).map(k =>
              translate(col("text"), alpha, alpha.drop(k) + alpha.take(k))): _*),
            col("copy") + 1).as("text"))
        .repartition(nPart, col("doc_id"))
        .write.mode("overwrite").parquet(s"$dir/documents")
      embeddings
        .select(col("vec_id"), col("embedding"), copies)
        .select((col("vec_id") + col("copy") * lit(10000000L)).as("vec_id"),
          col("embedding"))
        .repartition(nPart)
        .write.mode("overwrite").parquet(s"$dir/embeddings")

      val liX = spark.read.parquet(s"$dir/lineitem").cache()
      liX.count()
      val docXScan = spark.read.parquet(s"$dir/documents")
        .repartition(nPart, col("doc_id"))
      // same repartition(nPart) normalization as the ×1 leg's load():
      // the inflated embeddings are ~8 MB in 32 tiny files, which the
      // scan coalesces into 1-2 splits — the cached ×10 input then runs
      // 1-2 tasks where the ×1 leg runs 32, and the ann top-k (floor-
      // dominated at this size) reads FASTER at 10× rows purely from
      // task-launch overhead: the remaining ~30 ms of the r17 inversion
      // after the .first() hoist. Like-for-like task shape in both legs.
      val embX = spark.read.parquet(s"$dir/embeddings")
        .repartition(nPart).cache()
      embX.count()

      val chainX: DataFrame = {
        val j = DfOps.applyJitter(liX, Seq("l_quantity"), amps = Seq(0.5))
        val m = graft.calibrate.Momentum.applyDfield(spark, j, invD,
          "l_quantity", "l_linenumber", "xm", "ym", ((0.0, 50.0), (0.0, 8.0)))
        val k = graft.calibrate.Momentum.appendKAxis(m, "xm", "ym",
          "kx", "ky", rStart = 0.0, cStart = 0.0, rCenter = 25.0, cCenter = 4.0,
          rConversion = 0.01, cConversion = 0.01, rStep = 1.0, cStep = 1.0)
        val corr = Energy.applyEnergyCorrection(k, "l_extendedprice", "tm",
          Energy.Correction.spherical(_, _, 25.0, 4.0, 0.05, 100.0),
          "xm", "ym")
        val en = corr.withColumn("energy",
          Energy.tof2ev(col("tm"), 1.0e6, 100.0, 2.0, 0, "kinetic", 0.5))
        Delay.appendDelayAxis(en, "l_discount", "delay",
          adcRange = (0.0, 0.11), delayRange = Some((-2.0, 2.0)))
      }
      // constant of the workload, built untimed (see annQuery above)
      val annQueryX: Array[Double] = embX.filter(col("vec_id") === 0)
        .select("embedding").first().getSeq[Float](0).map(_.toDouble).toArray
      val x10Workloads: Seq[(String, () => Unit)] = Seq(
        "binning_1d" -> (() => Binning.histogramCube(liX,
          Seq(UniformAxis("l_extendedprice", 1000, 900.0, 105000.0)))),
        "binning_4d" -> (() => exec(Binning.histogram(liX, Seq(
          UniformAxis("l_quantity", 100, 1.0, 50.0),
          UniformAxis("l_extendedprice", 100, 900.0, 105000.0),
          UniformAxis("l_discount", 100, 0.0, 0.11),
          UniformAxis("l_tax", 100, 0.0, 0.09))))),
        "workflow_1d" -> (() => Binning.histogramCube(chainX, Seq(axEnergy))),
        "workflow_4d" -> (() => exec(Binning.histogram(chainX, ax4dWf))),
        "dedup_exact" -> (() => exec(pipeline.Dedup.exactDuplicates(
          docXScan, "text", "doc_id"))),
        "dedup_minhash" -> (() => exec(pipeline.Dedup.minhashNearDuplicates(
          docXScan, "text", "doc_id", threshold = 0.5))),
        "dedup_minhash_auto" -> (() => exec(pipeline.Dedup.minhashNearDuplicatesAuto(
          docXScan, "text", "doc_id", threshold = 0.5))),
        "ann_brute_topk" -> (() => exec(pipeline.Similarity.bruteForceTopK(
          embX, "embedding", "vec_id", annQueryX, 10))),
        "text_quality" -> (() => exec(pipeline.TextOps.qualityColumns(
          docXScan, "text"))),
      )
      // the ×1 leg's ~25 dedup_exact executions have C2-compiled the
      // shared hash kernels, but the ×10 plan's own codegen classes are
      // fresh — a smaller slice of the long tail (r18 try9 named
      // dedup_exact in BOTH legs) still buys plateau-anchored reps
      val out = runSuite(x10Workloads, rounds = 3,
        extraWarmups = Map("dedup_exact" -> 4))
      liX.unpersist(); embX.unpersist()
      try {
        import scala.reflect.io.Directory
        new Directory(new java.io.File(dir)).deleteRecursively()
      } catch { case _: Throwable => () }
      out
    }
    val x10Results = rX10.stats

    // ---- ×100 scale leg (VERDICT r18 #3: "give the scaling block teeth")
    // At sf0.1 every ×1 workload is sub-second — 8 cores beat 32 on most,
    // so the driver's low-core/high-core ratios measured task-launch
    // floors, not parallelism. This leg re-runs the four shuffle-heavy
    // workloads on ×100 inputs (~60 M lineitem rows / 500 k docs), where
    // each takes seconds at 32 cores and the cpu-count ratio is a real
    // scaling signal. Results are ADDED to the artifact's top-level query
    // map under new `_x100` names — the driver contract allows adding
    // entries (never renaming/removing); NOTE this inflates the "value"
    // total by design, so round-over-round totals are comparable only
    // over the shared names (OPTIMIZATION_r19.md).
    //
    // Document copies get per-copy ALPHABET PERMUTATIONS (seeded
    // Fisher–Yates; identity for copy 0): the ×10 leg's Caesar shifts run
    // out at 26 copies, while 100 distinct permutations keep cross-copy
    // shingle overlap negligible (a shared 5-gram needs every letter
    // mapped identically by two independent permutations, p ≈ 26^-d), so
    // near-dup candidate and output mass stay LINEAR in rows — the bench
    // measures throughput, not output explosion.
    val xsFactor = sys.env.getOrElse("SPARK_GRAFT_XSCALE", "100").toInt
    val rXs: BenchProtocol.SuiteResult = if (xsFactor <= 1)
      BenchProtocol.SuiteResult(Seq.empty, Seq.empty, 0, Seq.empty)
    else {
      val sfx = s"_x$xsFactor"
      val dir = java.nio.file.Files.createTempDirectory("graft_bench_xs").toString
      val copiesXs = explode(sequence(lit(0), lit(xsFactor - 1))).as("copy")
      lineitem
        .select(col("l_quantity"), col("l_extendedprice"), col("l_discount"),
          col("l_tax"), col("l_linenumber"))
        .select(col("*"), copiesXs).drop("copy")
        .repartition(nPart)
        .write.mode("overwrite").parquet(s"$dir/lineitem")
      val alpha = "abcdefghijklmnopqrstuvwxyz"
      val perms: Seq[String] = (0 until xsFactor).map { k =>
        if (k == 0) alpha
        else {
          val arr = alpha.toCharArray
          val r = new scala.util.Random(k)
          var i = arr.length - 1
          while (i > 0) {
            val j = r.nextInt(i + 1)
            val t = arr(i); arr(i) = arr(j); arr(j) = t
            i -= 1
          }
          new String(arr)
        }
      }
      val txtXs = perms.zipWithIndex.tail.foldLeft(
        when(col("copy") === 0, col("text"))) { case (acc, (p, k)) =>
        acc.when(col("copy") === k, translate(col("text"), alpha, p))
      }
      documentsScan
        .select(col("doc_id"), col("text"), copiesXs)
        .select(
          (col("doc_id") + col("copy") * lit(10000000L)).as("doc_id"),
          txtXs.as("text"))
        .repartition(nPart, col("doc_id"))
        .write.mode("overwrite").parquet(s"$dir/documents")

      val liXs = spark.read.parquet(s"$dir/lineitem").cache()
      liXs.count()
      val docXsScan = spark.read.parquet(s"$dir/documents")
        .repartition(nPart, col("doc_id"))
      val chainXs: DataFrame = {
        val j = DfOps.applyJitter(liXs, Seq("l_quantity"), amps = Seq(0.5))
        val m = graft.calibrate.Momentum.applyDfield(spark, j, invD,
          "l_quantity", "l_linenumber", "xm", "ym", ((0.0, 50.0), (0.0, 8.0)))
        val k = graft.calibrate.Momentum.appendKAxis(m, "xm", "ym",
          "kx", "ky", rStart = 0.0, cStart = 0.0, rCenter = 25.0, cCenter = 4.0,
          rConversion = 0.01, cConversion = 0.01, rStep = 1.0, cStep = 1.0)
        val corr = Energy.applyEnergyCorrection(k, "l_extendedprice", "tm",
          Energy.Correction.spherical(_, _, 25.0, 4.0, 0.05, 100.0),
          "xm", "ym")
        val en = corr.withColumn("energy",
          Energy.tof2ev(col("tm"), 1.0e6, 100.0, 2.0, 0, "kinetic", 0.5))
        Delay.appendDelayAxis(en, "l_discount", "delay",
          adcRange = (0.0, 0.11), delayRange = Some((-2.0, 2.0)))
      }
      val xsWorkloads: Seq[(String, () => Unit)] = Seq(
        s"binning_4d$sfx" -> (() => exec(Binning.histogram(liXs, Seq(
          UniformAxis("l_quantity", 100, 1.0, 50.0),
          UniformAxis("l_extendedprice", 100, 900.0, 105000.0),
          UniformAxis("l_discount", 100, 0.0, 0.11),
          UniformAxis("l_tax", 100, 0.0, 0.09))))),
        s"workflow_4d$sfx" -> (() => exec(Binning.histogram(chainXs, ax4dWf))),
        s"dedup_exact$sfx" -> (() => exec(pipeline.Dedup.exactDuplicates(
          docXsScan, "text", "doc_id"))),
        s"dedup_minhash$sfx" -> (() => exec(pipeline.Dedup.minhashNearDuplicates(
          docXsScan, "text", "doc_id", threshold = 0.5))),
      )
      // selfBracketed: these workloads are big enough that their own
      // GC/page-cache residue poisons the canary brackets (the bw triad
      // read 1.3-1.6× right after them while the ×1 suite stayed quiet)
      // — the agreement band is the quiet criterion here, canaries stay
      // recorded (see BenchProtocol.agreedSubset)
      val out = runSuite(xsWorkloads, rounds = 2,
        extraWarmups = Map(s"dedup_exact$sfx" -> 2),
        selfBracketed = true)
      liXs.unpersist()
      try {
        import scala.reflect.io.Directory
        new Directory(new java.io.File(dir)).deleteRecursively()
      } catch { case _: Throwable => () }
      out
    }
    // the scale-leg stats ride the TOP-LEVEL query map (new names) so the
    // driver's cpu-scaling comparison sees them without contract changes
    val r1xAll = BenchProtocol.SuiteResult(
      r1x.stats ++ rXs.stats,
      r1x.contaminated ++ rXs.contaminated,
      r1x.extraRounds + rXs.extraRounds,
      r1x.unusable ++ rXs.unusable)
    val results1xAll = r1xAll.stats

    // cross-leg sanity, report-only: a query CANNOT be meaningfully slower
    // at 1× than at 10× rows in steady state — with quiet-gated interleaved
    // mins an inversion means both legs' quiet reps still disagree with
    // physics, so NAME it rather than silently re-measure. The band is
    // 15% relative AND 20 ms absolute: enough slack for per-job scheduler
    // jitter near the overhead floor, but tight enough that genuine
    // sub-second inversions are named. (r17 carried a 50 ms band to
    // excuse ann_brute_topk's inversion; the CAUSES — a timed `.first()`
    // per rep and the ×1 leg's cold-JVM JIT — are fixed above, so the
    // band is back to jitter-scale.)
    val inverted1x: Seq[String] = if (x10Results.isEmpty) Seq.empty else {
      val x10ByName = x10Results.map(r => r.name -> r.min).toMap
      results.collect {
        case r if x10ByName.get(r.name)
          .exists(s10 => r.min > 1.15 * s10 && r.min - s10 > 0.02) =>
          r.name
      }
    }

    def jmap(rs: Seq[QStat], f: QStat => Double): String =
      rs.map { r => "\"" + r.name + "\":" + f(r) }.mkString("{", ",", "}")
    def jmapi(rs: Seq[QStat], f: QStat => Int): String =
      rs.map { r => "\"" + r.name + "\":" + f(r) }.mkString("{", ",", "}")
    def jlist(names: Seq[String]): String =
      names.map("\"" + _ + "\"").mkString("[", ",", "]")
    def legJson(r: BenchProtocol.SuiteResult): String = {
      val rs = r.stats
      s""""queries":${jmap(rs, _.min)},"medians":${jmap(rs, _.median)},"spreads":${jmap(rs, _.spread)},"agreed_spreads":${jmap(rs, _.agreedSpread)},"canaries":${jmap(rs, _.cpuCanary)},"bw_canaries":${jmap(rs, _.bwCanary)},"shuffle_mb":${jmap(rs, _.shuffleMb)},"quiet_reps":${jmapi(rs, _.quietReps)},"agreed_reps":${jmapi(rs, _.agreedReps)},"contaminated":${jlist(r.contaminated)},"unusable":${jlist(r.unusable)},"extra_rounds":${r.extraRounds}"""
    }
    val total = results1xAll.map(_.min).sum
    // name-stable headline: the ×1 minima alone, without the `_x100` leg
    val total1x = r1x.stats.map(_.min).sum
    val canarySec = results1xAll.map(_.cpuCanary).min
    val bwCanarySec = results1xAll.map(_.bwCanary).min
    val x10Part = if (x10Results.isEmpty) "" else {
      val t10 = x10Results.map(_.min).sum
      s""","x10":{"rows_factor":10,"total_sec":$t10,${legJson(rX10)}}"""
    }
    // run_quiet judges the WHOLE run (all legs' canary minima) against
    // the committed quiet-box constants — see quietCpuCanarySec
    val allCpuMin = (results1xAll ++ x10Results).map(_.cpuCanary).min
    val allBwMin = (results1xAll ++ x10Results).map(_.bwCanary).min
    val quiet = runQuiet(allCpuMin, allBwMin)
    // BOTH weather modes gate `usable` and the exit code (see
    // BenchProtocol.verdict): per-query contamination the extension
    // budget could not heal (exit 3), and a UNIFORMLY hot box whose
    // reps all look quiet relative to each other while the whole run
    // sits outside the committed quiet envelope (exit 4) — round 16's
    // artifact reported run_quiet honestly but still said usable:true,
    // so a driver could archive a baseline-shifted run as the number
    // of record.
    val unusableAll =
      (r1xAll.unusable.map("1x:" + _) ++ rX10.unusable.map("x10:" + _))
    val (usable, exitCode) = BenchProtocol.verdict(unusableAll, quiet)
    val json = s"""{"metric":"total","value":$total,"value_1x":$total1x,"unit":"sec",${legJson(r1xAll)},"canary_sec":$canarySec,"bw_canary_sec":$bwCanarySec,"run_quiet":$quiet,"quiet_cpu_ref":$quietCpuCanarySec,"quiet_bw_ref":$quietBwCanarySec,"usable":$usable,"inverted_1x":${jlist(inverted1x)},"xscale_factor":$xsFactor$x10Part,"sf":"$sfDir"}"""
    emitArtifact(json, sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH.json"))
    spark.stop()
    if (exitCode == 3) {
      System.err.println("[bench] UNUSABLE after extension budget " +
        s"(queries without 2 quiet+agreed reps): ${unusableAll.mkString(", ")}" +
        " — numbers for these are weather, not code; exiting nonzero")
      sys.exit(3)
    } else if (exitCode != 0) {
      System.err.println("[bench] UNUSABLE: uniformly hot box — suite " +
        f"canary minima cpu=$allCpuMin%.4f/bw=$allBwMin%.4f exceed the " +
        f"committed quiet envelope (cpu ${quietCpuCanarySec}×1.3, bw " +
        f"${quietBwCanarySec}×1.5); whole-run baseline shift, exiting " +
        s"$exitCode")
      sys.exit(exitCode)
    }
  }
}
