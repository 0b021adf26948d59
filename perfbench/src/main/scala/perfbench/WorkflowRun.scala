package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.binning.{Binning, UniformAxis}
import graft.export.CubeIO
import graft.loader.GenericLoader

/** One beamline run processed end to end: load the event files, invert the
  * deformation field, calibrate, bin a 100⁴ cube and write it sparse.
  * The only workload where the loader, fit, calibration and the count
  * exchange all do real work.
  */
final class WorkflowRun(spark: SparkSession, seed: Long, dir: String)
    extends Workload {
  import WorkflowRun._

  def inputRows: Long = Events

  private val eventsDir = s"$dir/events"
  private val cubeDir = s"$dir/cube"
  private var field: (Array[Array[Double]], Array[Array[Double]]) = _
  private var axes: Seq[UniformAxis] = _
  private var expected: Checks.CubeDigest = _

  def setup(): Unit = {
    Gen.events(spark, seed, Events, Files).write.mode("overwrite").parquet(eventsDir)
    Workload.noop(spark.read.parquet(eventsDir)) // warm the page cache
    field = Gen.forwardField(seed, Beamline.FieldSize)
  }

  private def load(): DataFrame =
    GenericLoader.read(spark, GenericLoader.gatherFiles(eventsDir, "parquet"))

  private def shape = axes.map(_.nBins)

  def reference(): Unit = {
    val calibrated = Beamline.calibrate(spark, load(), Beamline.invert(field), seed).dataframe
      .select(Beamline.Columns.map(col): _*).persist(StorageLevel.MEMORY_ONLY)
    try {
      val ranges = Beamline.ranges(calibrated)
      axes = Beamline.Columns.map(Beamline.axis(ranges, _, Bins))
      // a plain per-axis groupBy, without the library's flat key or kernel
      val idx = axes.map(ax => Binning.binIndex(ax).as(Binning.idxName(ax)))
      val plain = calibrated.select(idx: _*).na.drop()
        .groupBy(axes.map(ax => col(Binning.idxName(ax))): _*).count()
      expected = Checks.cubeDigest(plain, shape)
    } finally calibrated.unpersist()
  }

  def op(opId: Int, t: Option[Tracer]): () => Seq[String] = {
    def call[T](name: String)(body: => T): T = t.fold(body)(_.span(name, opId)(body))
    val events = call("loader.read")(load())
    val inverse = call("fit.invert_dfield")(Beamline.invert(field))
    val p = call("calibrate.build")(Beamline.calibrate(spark, events, inverse, seed))
    val hist = call("binning.histogram")(Binning.histogram(p.dataframe, axes))
    call("export.write_sparse")(CubeIO.writeSparse(hist, axes, cubeDir))
    () => verify()
  }

  private def verify(): Seq[String] = {
    val (written, _) = CubeIO.readSparse(spark, cubeDir)
    val got = Checks.cubeDigest(
      written.select((axes.map(ax => col(Binning.idxName(ax))) :+ col("cnt")): _*), shape)
    Seq(
      if (got.total != expected.total)
        Some(s"cube total ${got.total} != in-range events ${expected.total}") else None,
      if (got.cells != expected.cells)
        Some(s"non-empty cells ${got.cells} != reference ${expected.cells}") else None,
      if (got.checksum != expected.checksum)
        Some("cell checksum differs from the groupBy reference") else None,
    ).flatten
  }

  def layers(opId: Int, t: Tracer, meter: Meter, op: Span,
      window: Window): Map[String, Double] = {
    // each probe materializes a prefix of the op's plan, built untimed, so
    // the probe times execution only; driver-side work is in the call spans
    val scanDf = load()
    // the chain prefix keeps only the columns the histogram consumes, as
    // Catalyst prunes the op's plan to them
    val chainDf = Beamline.calibrate(spark, load(), Beamline.invert(field), seed).dataframe
      .select(Beamline.Columns.map(col): _*)
    val histDf = Binning.histogram(chainDf, axes)
    val (scan, scanW) = Workload.probe(t, meter, opId, "probe.scan")(Workload.noop(scanDf))
    val (withChain, chainW) = Workload.probe(t, meter, opId, "probe.scan_chain")(
      Workload.noop(chainDf))
    val (withHist, histW) = Workload.probe(t, meter, opId, "probe.scan_chain_histogram")(
      Workload.noop(histDf))
    def call(name: String) = Workload.callSeconds(t, opId, name)
    val self = Map(
      "loader.scan_s" -> (call("loader.read") + scan),
      "fit.invert_dfield_s" -> call("fit.invert_dfield"),
      "calibrate.build_s" -> call("calibrate.build"),
      "calibrate.chain_self_s" -> (withChain - scan),
      "binning.histogram_self_s" -> (call("binning.histogram") + withHist - withChain),
      "export.sparse_write_s" -> (call("export.write_sparse") - withHist),
    )
    val route = window.route
    self ++ Map(
      "loader.bytes_read" -> Workload.dirBytes(eventsDir).toDouble,
      "calibrate.chain_cpu_s" -> (chainW.cpuS - scanW.cpuS),
      "binning.histogram_cpu_s" -> (histW.cpuS - chainW.cpuS),
      "binning.route.dense" -> (if (route.route == "dense") 1.0 else 0.0),
      "binning.route.classic" -> (if (route.route == "classic") 1.0 else 0.0),
      "binning.route.kernel" -> (if (route.route == "kernel") 1.0 else 0.0),
      "binning.cells_nonempty" -> expected.cells.toDouble,
      "binning.combine_ratio" -> Events.toDouble / math.max(1L, window.shuffleRecords),
      "export.bytes_written" -> Workload.dirBytes(cubeDir).toDouble,
    )
  }
}

object WorkflowRun {
  val Events = 500000L
  val Files = 4
  val Bins = 100
}
