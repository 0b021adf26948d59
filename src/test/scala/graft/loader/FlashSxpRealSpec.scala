package graft.loader

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** ChannelLoader contract matrix over the REAL flash/sxp instrument
  * fixtures (mirrors `tests/loader/test_loaders.py:79-314`: read types,
  * electron indexing, aux fan-out, timed frames, count rate / elapsed
  * time), now that [[Hdf5Minimal]] decodes their layouts. Expected
  * numbers were extracted with an independent Python struct walker.
  *
  * Channel geometry (the fixtures' own configs):
  *  - flash `DLD1/value` is (50 trains × 5 slices × 2048):
  *    slice 0 = dldPosY, 1 = dldPosX, 2 = pulseId (ubid_offset 5),
  *    3 = dldTimeSteps, 4 = dldAux (16 live positions);
  *    NaN pads unused pulse entries
  *  - sxp channels are (50 trains × 1000 hits) 2-D datasets keyed by the
  *    `data/trainId` index; zero pads unused entries
  */
class FlashSxpRealSpec extends SparkSpec with graft.FixtureReport {
  import spark.implicits._

  private val flashPath = "/root/reference/tests/data/loader/flash/" +
    "FLASH1_USER3_stream_2_run43878_file1_20230130T153807.1.h5"
  private val sxpPath = "/root/reference/tests/data/loader/sxp/RAW-R0016-DA03-S00000.h5"

  private val Dld1 = "uncategorised/FLASH.EXP/HEXTOF.DAQ/DLD1"

  /** value[train][slice] of the (50, 5, 2048) DLD1 block. */
  private def dldSlice(flat: Array[Double], t: Int, s: Int): Seq[Double] =
    flat.slice((t * 5 + s) * 2048, (t * 5 + s + 1) * 2048).toSeq

  test("real flash fixture: electron index + NaN-drop explode (F1/F2/F5)") {
    assumeFixture(flashPath)
    val root = Hdf5Minimal.read(flashPath)
    val trains = root.dataset(s"$Dld1/index").data.asLongs
    val value = root.dataset(s"$Dld1/value").data.asDoubles
    assert(trains.length === 50 && trains.head === 1603282901L)
    assert(root.dataset(s"$Dld1/value").dims === Seq(50L, 5L, 2048L))

    val ch = trains.indices.map(t =>
      (trains(t), dldSlice(value, t, 2), dldSlice(value, t, 3)))
      .toSeq.toDF("trainId", "pulseId", "dldTimeSteps")

    // F1: explode pulse ids, apply ubid_offset=5, drop negatives/NaN
    val idx = ChannelLoader.electronIndex(
      ch.select("trainId", "pulseId"), ubidOffset = 5)
    assert(idx.count() === 102240L) // independent walker count

    // F2+F5: NaN-dropping explode of the tof channel, positional join
    val events = ch
      .select(col("trainId"), posexplode(arrays_zip(
        col("pulseId"), col("dldTimeSteps"))).as(Seq("_pos", "_z")))
      .select(col("trainId"),
        (col("_z.pulseId") - 5).as("pulseId"), col("_z.dldTimeSteps"))
      .filter(col("pulseId") >= 0 && !isnan(col("dldTimeSteps")))
    val tofSum = events.agg(sum("dldTimeSteps")).head().getDouble(0)
    assert(math.abs(tofSum - 3373675881.0) < 100.0)
  }

  test("real flash fixture: dldAux fan-out + assemble events/timed frames") {
    assumeFixture(flashPath)
    val root = Hdf5Minimal.read(flashPath)
    val trains = root.dataset(s"$Dld1/index").data.asLongs
    val value = root.dataset(s"$Dld1/value").data.asDoubles

    // F3: the aux slice's 16 live positions fan out to named scalars
    val aux = trains.indices.map(t =>
      (trains(t), dldSlice(value, t, 4).take(16))).toSeq.toDF("trainId", "aux")
    val fan = ChannelLoader.auxFanout(aux, "aux", ChannelLoader.AuxNames)
    assert(fan.count() === 50L)
    assert(fan.columns.toSeq === "trainId" +: ChannelLoader.AuxNames)
    val first = fan.filter(col("trainId") === trains.head).head()
    assert(first.getAs[Double]("sampleBias") === value(4 * 2048))

    // F6/F7: electrons + a real per-train channel -> events + timed frame
    val electrons = trains.indices.map { t =>
      val pulses = dldSlice(value, t, 2)
      val tofs = dldSlice(value, t, 3)
      pulses.indices.collect {
        case j if !pulses(j).isNaN && pulses(j) - 5 >= 0 && !tofs(j).isNaN =>
          (trains(t), (pulses(j) - 5).toLong, j.toLong, tofs(j))
      }
    }.flatten.toSeq.toDF("trainId", "pulseId", "electronId", "dldTimeSteps")
    val ts = root.dataset(
      "uncategorised/FLASH.DIAG/TIMINGINFO/TIME1.BUNCH_FIRST_INDEX.1/time")
      .data.asDoubles
    val trainFrame = trains.indices.map(t => (trains(t), ts(t)))
      .toSeq.toDF("trainId", "timeStamp")
    val (events, timed) = ChannelLoader.assemble(
      electrons, Seq.empty, Seq(trainFrame), "dldTimeSteps")
    assert(events.count() === electrons.count())
    assert(events.filter(col("timeStamp").isNull).count() === 0L) // ffilled
    assert(timed.count() ===
      electrons.filter(col("electronId") === 0).count())

    // A12 contract on the real timestamps
    object L extends Loader {
      def readDataframe(spark: org.apache.spark.sql.SparkSession,
          paths: Seq[String]) = (events, Some(timed))
    }
    assert(L.elapsedTime(trainFrame, "timeStamp") > 0.0)
    assert(L.countRate(events, "timeStamp") > 0.0)
  }

  test("real flash fixture: one-call readDataframe builds events + timed") {
    assumeFixture(flashPath)
    val (events, timedOpt) = InstrumentH5Loader.readDataframe(spark, Seq(flashPath))
    val timed = timedOpt.get
    val ev = events.cache()
    try {
      // 102240 = entries with non-NaN pulse, pulse-5 >= 0 (all have tof)
      assert(ev.count() === 102240L)
      assert(Set("trainId", "pulseId", "electronId", "dldPosX", "dldPosY",
        "dldTimeSteps", "timeStamp", "gmdTunnel").subsetOf(ev.columns.toSet))
      // per-train timestamp forward-filled onto every electron
      assert(ev.filter(col("timeStamp").isNull).count() === 0L)
      val span = ev.agg(max("timeStamp") - min("timeStamp")).head().getDouble(0)
      assert(span > 0.0 && span < 10.0) // the file covers ~5 s of beam time
      // timed frame: one row per (train, pulse) group (46291 of them),
      // plus pulse rows that carried no electrons (full-outer attach)
      assert(timed.filter(col("electronId") === 0).count() === 46291L)
      assert(timed.count() >= 46291L)
    } finally ev.unpersist()
  }

  test("eager small-file load: one-scan plan, values identical to lazy") {
    assumeFixture(flashPath)
    // default: single small file loads eagerly — the materialization plan
    // is one parquet-spill scan, no joins/exchanges/windows left to re-run
    val (eager, eagerTimed) = InstrumentH5Loader.readDataframe(spark, Seq(flashPath))
    val plan = eager.queryExecution.executedPlan.toString
    assert(plan.contains("Scan parquet") && plan.contains("graft_eager_load"), plan)
    assert(!plan.contains("Exchange") && !plan.contains("Window") &&
      !plan.contains("Join"), plan)
    // opt-out: the fully-lazy distributed plan, same rows
    spark.conf.set("spark.graft.loader.eagerSmall", "false")
    try {
      val (lazyEv, lazyTimed) = InstrumentH5Loader.readDataframe(spark, Seq(flashPath))
      val lp = lazyEv.queryExecution.executedPlan.toString
      // the lazy plan still carries the whole assemble
      assert(lp.contains("Join") && lp.contains("Window"), lp)
      def key(df: org.apache.spark.sql.DataFrame): Set[String] = {
        val cols = df.columns.sorted
        df.select(cols.map(col): _*).collect().map(_.mkString("|")).toSet
      }
      assert(key(eager) === key(lazyEv))
      assert(key(eagerTimed.get) === key(lazyTimed.get))
    } finally spark.conf.unset("spark.graft.loader.eagerSmall")
  }

  test("multi-file load with colliding train ids never cross-joins") {
    assumeFixture(flashPath)
    // two copies of the SAME file = every trainId collides across files;
    // file_id in the join keys must keep them apart (2x events, not x²)
    val dir = java.nio.file.Files.createTempDirectory("flash2").toFile.getPath
    val c1 = s"$dir/copy_1.h5"
    val c2 = s"$dir/copy_2.h5"
    java.nio.file.Files.copy(java.nio.file.Paths.get(flashPath),
      java.nio.file.Paths.get(c1))
    java.nio.file.Files.copy(java.nio.file.Paths.get(flashPath),
      java.nio.file.Paths.get(c2))
    val (events, _) = InstrumentH5Loader.readDataframe(spark, Seq(c1, c2))
    assert(events.count() === 2 * 102240L)
    // electron enumeration stays per (file, train, pulse)
    assert(events.groupBy("file_id", "trainId", "pulseId", "electronId")
      .count().filter(col("count") > 1).count() === 0L)
  }

  test("real flash fixture: parquet buffer converts once and reloads") {
    assumeFixture(flashPath)
    val dir = java.nio.file.Files.createTempDirectory("flashbuf").toFile.getPath + "/buf"
    def load() = InstrumentH5Loader.readDataframe(
      spark, Seq(flashPath), InstrumentH5Loader.flashDefaultChannels,
      pulseChannel = "pulseId", tofChannel = "dldTimeSteps", ubidOffset = 5,
      bufferDir = Some(dir))
    assert(load()._1.count() === 102240L)
    // buffer is channel-partitioned parquet; second call reuses it
    val parts = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("channel="))
    assert(parts.toSet === InstrumentH5Loader.flashDefaultChannels.map(c => s"channel=${c.name}").toSet)
    val mtime = new java.io.File(dir).lastModified()
    assert(load()._1.count() === 102240L)
    assert(new java.io.File(dir).lastModified() === mtime, "buffer was rewritten")
  }

  test("buffer reuse rejects a different file set of the same size") {
    assumeFixture(flashPath)
    // two copies of the fixture under different names: same channel set,
    // same file COUNT — only the manifest's path mapping can tell them
    // apart (the pre-manifest checks silently served stale data here)
    val tmp = java.nio.file.Files.createTempDirectory("flashbuf2")
    val a = tmp.resolve("run_a.h5"); val b = tmp.resolve("run_b.h5")
    java.nio.file.Files.copy(java.nio.file.Paths.get(flashPath), a)
    java.nio.file.Files.copy(java.nio.file.Paths.get(flashPath), b)
    val dir = tmp.toString + "/buf"
    def load(p: String) = InstrumentH5Loader.readDataframe(
      spark, Seq(p), InstrumentH5Loader.flashDefaultChannels,
      pulseChannel = "pulseId", tofChannel = "dldTimeSteps", ubidOffset = 5,
      bufferDir = Some(dir))
    assert(load(a.toString)._1.count() === 102240L)
    val e = intercept[IllegalArgumentException] { load(b.toString) }
    assert(e.getMessage.contains("different (file, channel) set"))
    // the original call still reuses its buffer cleanly
    assert(load(a.toString)._1.count() === 102240L)
  }

  test("real sxp fixture: one-call readDataframe with sxp channel geometry") {
    assumeFixture(sxpPath)
    val (events, timed) = InstrumentH5Loader.readDataframe(
      spark, Seq(sxpPath), InstrumentH5Loader.sxpDefaultChannels,
      pulseChannel = "pulseId", tofChannel = "dldTimeSteps", ubidOffset = 0)
    // zero-padded integer channels: no NaN drop, every entry survives
    assert(events.count() === 50000L)
    assert(Set("trainId", "pulseId", "electronId", "dldPosX", "dldPosY",
      "dldTimeSteps", "timeStamp").subsetOf(events.columns.toSet))
    assert(events.filter(col("timeStamp").isNull).count() === 0L)
    assert(timed.filter(col("electronId") === 0).count() > 0L)
  }

  test("real sxp fixture: electron index + macrobunch segmentation (S7)") {
    assumeFixture(sxpPath)
    val root = Hdf5Minimal.read(sxpPath)
    val det = "INSTRUMENT/SXP_TR_XPES/DET/MCP_DETECTOR:output/data"
    val trains = root.dataset(s"$det/trainId").data.asLongs
    val sc = root.dataset(s"$det/starterCounter").data.asDoubles
    val t = root.dataset(s"$det/t").data.asDoubles
    assert(trains.length === 50 && trains.head === 1838217184L)

    val ch = trains.indices.map(i =>
      (trains(i), sc.slice(i * 1000, (i + 1) * 1000).toSeq,
        t.slice(i * 1000, (i + 1) * 1000).toSeq))
      .toSeq.toDF("trainId", "pulseId", "t")

    // F1 with sxp's ubid_offset=0: every entry survives (zero-padded)
    val idx = ChannelLoader.electronIndex(
      ch.select("trainId", "pulseId"), ubidOffset = 0)
    assert(idx.count() === 50000L)
    // electronId enumerates within (train, pulse) starting at 0
    val en = idx.groupBy("trainId", "pulseId")
      .agg(count(lit(1)).as("n"), max("electronId").as("mx"),
        min("electronId").as("mn"))
    assert(en.filter(col("mx") =!= col("n") - 1 || col("mn") =!= 0).count() === 0L)

    // S7: macrobunch recovery over the real concatenated pulse arrays
    val seg = ChannelLoader.segmentMacrobunches(ch.select("trainId", "pulseId"))
    assert(seg.count() === 50000L)
    assert(seg.agg(min("macrobunchId")).head().getLong(0) === 0L)
    assert(seg.filter(col("macrobunchId").isNull).count() === 0L)
  }
}
