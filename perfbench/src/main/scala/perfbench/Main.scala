package perfbench

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** Runs one workload for a fixed time and prints one JSON result line.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * With `--trace 0` the result carries the end-to-end metrics, measured
  * with tracing off. With `--trace 1` it carries the per-layer metrics: the
  * same untraced loop runs first (its median is the base of
  * `trace.overhead_s`), then [[TracedOps]] traced ops, each followed by its
  * prefix probes.
  */
object Main {

  /** Set-up repetitions; `setup_s` reports their median. */
  val SetupReps = 3
  /** Untimed ops before the timed loop: the op time falls over the first
    * ops while the JIT compiles Spark's planner and the op's operators.
    */
  val WarmupOps = 2
  /** The timed loop runs past `--seconds` until it has this many ops, so a
    * tail percentile with ten ops beyond it exists.
    */
  val MinOps = Stats.TailBeyond + 1
  val TracedOps = 3

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: String)

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(get("workload"), get("seed").toLong, get("seconds").toInt,
      get("trace") match {
        case "0" => false
        case "1" => true
        case o => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $o")
      }, get("work"))
    require(Workload.names.contains(a.workload),
      s"unknown workload ${a.workload}; one of ${Workload.names.mkString(", ")}")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors()
    val work = new java.io.File(args.work, s"${args.workload}-${ProcessHandle.current.pid}")
    work.mkdirs()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new java.io.File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(work, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionStart = (System.nanoTime() - t0) / 1e9
    val code =
      try {
        val out = run(spark, args, cores, work.getPath, sessionStart)
        out.foreach(println)
        0
      } catch {
        case e: Throwable =>
          System.err.println("[perfbench] run aborted:")
          e.printStackTrace()
          1
      } finally {
        spark.stop()
        deleteTree(work)
        log("stopped")
      }
    sys.exit(code)
  }

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

  private def log(msg: String): Unit = System.err.println(
    f"[perfbench] +${(System.currentTimeMillis() - jvmStart) / 1e3}%.1fs $msg")

  /** Runs the workload and returns the detail line and the result line. */
  def run(spark: SparkSession, args: Args, cores: Int, dir: String,
      sessionStart: Double): Seq[String] = {
    val meter = new Meter(spark)
    val w = Workload(args.workload, spark, args.seed, dir, cores)

    val setups = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      w.setup()
      (System.nanoTime() - t0) / 1e9
    }
    log(f"session ${sessionStart}%.2f s, set-ups ${setups.map(s => f"$s%.2f").mkString(" ")} s")
    w.reference()
    log("reference done")

    var attempted = 0
    var failed = 0
    val errors = ArrayBuffer.empty[String]
    var opId = 0
    /** One op: its seconds, listener window and driver heap peak, or None
      * when it threw or its check failed.
      */
    def attempt(t: Option[Tracer]): Option[(Double, Window, Double)] = {
      attempted += 1
      val id = opId
      opId += 1
      w.reset()
      val m = meter.mark()
      Heap.resetPeak()
      val t0 = System.nanoTime()
      val res =
        try Right(t.fold(w.op(id, None))(tr => tr.span("op", id, "op")(w.op(id, t))))
        catch { case e: Exception => Left(e) }
      val s = (System.nanoTime() - t0) / 1e9
      val heap = Heap.peakMb
      val win = meter.since(m)
      val errs = res match {
        case Left(e) => Seq(s"op $id threw $e")
        case Right(verify) =>
          try verify() catch { case e: Exception => Seq(s"op $id check threw $e") }
      }
      if (errs.nonEmpty) {
        failed += 1
        errors ++= errs.take(3)
        errs.foreach(e => log(s"FAILED: $e"))
        None
      } else Some((s, win, heap))
    }

    (1 to WarmupOps).foreach(_ => attempt(None))
    log("warm-up done")
    val opSeconds = ArrayBuffer.empty[Double]
    val cpu = ArrayBuffer.empty[Double]
    val shuffle = ArrayBuffer.empty[Double]
    var firstRoutes: Seq[PlanRoute] = Nil
    var firstReduceTasks = 0
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    while ((elapsed < args.seconds || opSeconds.size < MinOps) &&
        elapsed < 2 * args.seconds && failed < 3) {
      attempt(None).foreach { case (s, win, _) =>
        if (opSeconds.isEmpty) {
          firstRoutes = win.routes.filter(_.route != "none")
          firstReduceTasks = win.reduceTasks
        }
        opSeconds += s
        cpu += win.cpuS
        shuffle += win.shuffleBytes / 1e6
      }
    }
    if (opSeconds.isEmpty) throw new IllegalStateException(
      s"no op succeeded: ${errors.take(3).mkString("; ")}")
    val opMedian = Stats.median(opSeconds.toSeq)
    val tail = Stats.tail(opSeconds.toSeq)
      .getOrElse(Stats.Tail(opSeconds.max, 100.0, opSeconds.size))
    log(f"${opSeconds.size} ops, median $opMedian%.3f s, p${tail.percentile}%.1f ${tail.value}%.3f s")

    val metrics: Seq[(String, Double)] =
      if (!args.trace) Seq(
        "setup_s" -> (sessionStart + Stats.median(setups)),
        "rows_per_s" -> w.inputRows / opMedian,
        "request_p50_s" -> opMedian,
        "request_tail_s" -> tail.value,
        "cpu_s" -> Stats.median(cpu.toSeq),
        "shuffle_mb" -> Stats.median(shuffle.toSeq),
      )
      else {
        val tracer = new Tracer
        val perOp = (1 to TracedOps).flatMap { _ =>
          val id = opId
          attempt(Some(tracer)).map { case (_, win, heap) =>
            val spans = tracer.all.filter(_.opId == id)
            val opSpan = spans.find(_.kind == "op").get
            common(win, opSpan, spans, opMedian, heap) ++
              w.layers(id, tracer, meter, opSpan, win)
          }
        }
        if (perOp.isEmpty) throw new IllegalStateException("no traced op succeeded")
        writeTrace(dir, args, tracer)
        Metrics.perLayer.map { case (n, _) =>
          n -> Stats.median(perOp.map(_.getOrElse(n, 0.0)))
        }
      }

    val units = (Metrics.endToEnd ++ Metrics.perLayer).toMap
    val detail = Json.obj(Seq(
      "workload" -> args.workload, "seed" -> args.seed, "seconds" -> args.seconds,
      "trace" -> args.trace, "nproc" -> cores,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "heap_max_mb" -> Heap.maxMb,
      "input_rows" -> w.inputRows,
      "session_start_s" -> sessionStart, "setup_reps_s" -> setups,
      "ops" -> opSeconds.size, "op_seconds" -> opSeconds,
      "tail_percentile" -> tail.percentile, "tail_samples" -> tail.samples,
      "routes_first_op" -> firstRoutes.map(r => ListMap("route" -> r.route,
        "nodes" -> r.nodes, "reduce_partitions" -> r.reducePartitions)),
      "reduce_tasks_first_op" -> firstReduceTasks,
      "errors" -> errors.take(10),
    ))
    val result = Json.obj(Seq(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.map { case (n, v) =>
        n -> Map("value" -> v, "unit" -> units(n))
      }.to(ListMap),
    ))
    Seq("perfbench-detail " + detail, result)
  }

  /** Per-layer numbers every workload reports from its op's window. */
  private def common(win: Window, op: Span, spans: Seq[Span], untracedMedian: Double,
      heapPeakMb: Double): Map[String, Double] = Map(
    "binning.driver_heap_peak_mb" -> heapPeakMb,
    "plans.shuffle_write_bytes" -> win.shuffleBytes.toDouble,
    "plans.shuffle_records" -> win.shuffleRecords.toDouble,
    "plans.shuffle_write_s" -> win.shuffleWriteS,
    "plans.fetch_wait_s" -> win.fetchWaitS,
    "plans.reduce_tasks" -> win.reduceTasks.toDouble,
    "plans.task_skew" -> win.taskSkew,
    "spark.executor_cpu_s" -> win.cpuS,
    "spark.gc_s" -> win.gcS,
    "spark.spill_bytes" -> win.spillBytes.toDouble,
    "spark.tasks" -> win.tasks.size.toDouble,
    "spark.jobs" -> win.jobs.toDouble,
    "trace.overhead_s" -> (op.seconds - untracedMedian),
    "trace.accounted_share" -> (1.0 - Trace.selfTimes(spans)(op.id).toDouble / op.durNs),
  )

  private def writeTrace(dir: String, args: Args, t: Tracer): Unit = {
    val out = new java.io.File(new java.io.File(dir).getParentFile,
      s"trace-${args.workload}-seed${args.seed}.json")
    java.nio.file.Files.writeString(out.toPath, t.toJson)
    log(s"spans written to $out")
  }
}

/** The metric names and units, in the order BENCHMARK.json lists them. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "rows_per_s" -> "rows/s",
    "request_p50_s" -> "s",
    "request_tail_s" -> "s",
    "cpu_s" -> "s",
    "shuffle_mb" -> "MB",
  )

  val perLayer: Seq[(String, String)] = Seq(
    "loader.scan_s" -> "s",
    "loader.bytes_read" -> "bytes",
    "fit.invert_dfield_s" -> "s",
    "calibrate.build_s" -> "s",
    "calibrate.chain_self_s" -> "s",
    "calibrate.chain_cpu_s" -> "s",
    "binning.histogram_self_s" -> "s",
    "binning.histogram_cpu_s" -> "s",
    "binning.route.dense" -> "count",
    "binning.route.classic" -> "count",
    "binning.route.kernel" -> "count",
    "binning.cells_nonempty" -> "count",
    "binning.combine_ratio" -> "ratio",
    "binning.driver_heap_peak_mb" -> "MB",
    "plans.shuffle_write_bytes" -> "bytes",
    "plans.shuffle_records" -> "count",
    "plans.shuffle_write_s" -> "s",
    "plans.fetch_wait_s" -> "s",
    "plans.reduce_tasks" -> "count",
    "plans.task_skew" -> "ratio",
    "export.sparse_write_s" -> "s",
    "export.bytes_written" -> "bytes",
    "dedup.exact_s" -> "s",
    "dedup.signature_s" -> "s",
    "dedup.candidate_pairs" -> "count",
    "dedup.pairs_out" -> "count",
    "dedup.verify_yield" -> "ratio",
    "dedup.shuffle_bytes_per_doc" -> "bytes",
    "spark.executor_cpu_s" -> "s",
    "spark.gc_s" -> "s",
    "spark.spill_bytes" -> "bytes",
    "spark.tasks" -> "count",
    "spark.jobs" -> "count",
    "trace.overhead_s" -> "s",
    "trace.accounted_share" -> "ratio",
  )
}
