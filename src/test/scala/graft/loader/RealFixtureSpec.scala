package graft.loader

import graft.SparkSpec
import Hdf5Minimal._

/** Ingestion of the ACTUAL bundled reference instrument files — not
  * engine-written round-trips. Mirrors the reference's loader contract
  * tests (`tests/loader/test_loaders.py:79-314`, `tests/test_processor
  * .py:55-137`) on the real fixtures:
  *
  *  - mpes `Scan0030_2.h5` (SPECS Metis): chunked-layout u8/u16/u32/u64
  *    streams, 50000-element chunks, `Name` alias attributes,
  *    `FirstEventTimeStamp` with 3 fractional digits;
  *  - flash `FLASH1_USER3_stream_2_run43878_file1_...h5` (HEXTOF DAQ):
  *    deep group nesting, contiguous u32/i32/f32/f64 datasets;
  *  - sxp `RAW-R0016-DA03-S00000.h5` (European XFEL): CONTROL/INDEX/
  *    INSTRUMENT trees, u8/u16/u64/i16/f64 datasets.
  *
  * Expected values below were extracted from the files with an
  * independent (Python struct) HDF5 walker, not with this reader.
  */
class RealFixtureSpec extends SparkSpec with graft.FixtureReport {

  private val mpesPath = "/root/reference/tests/data/loader/mpes/Scan0030_2.h5"
  private val flashPath = "/root/reference/tests/data/loader/flash/" +
    "FLASH1_USER3_stream_2_run43878_file1_20230130T153807.1.h5"
  private val sxpPath = "/root/reference/tests/data/loader/sxp/RAW-R0016-DA03-S00000.h5"


  test("real mpes fixture: chunked streams decode with exact values") {
    assumeFixture(mpesPath)
    val root = Hdf5Minimal.read(mpesPath)
    assert(root.datasets.map(_.name) === Seq(
      "EventFormat", "Stream_0", "Stream_1", "Stream_2", "Stream_3",
      "Stream_4", "Stream_5", "msMarkers"))

    val s0 = root.dataset("Stream_0").data.asLongs // u16, chunked 50000
    assert(s0.length === 297398)
    assert(s0.take(5).toSeq === Seq(651L, 1094L, 798L, 450L, 962L))
    assert(s0.takeRight(3).toSeq === Seq(1162L, 949L, 1093L))
    assert(s0.sum === 225689507L)

    val s2 = root.dataset("Stream_2").data.asLongs // u32 → widened to long
    assert(s2.take(5).toSeq === Seq(135143L, 136240L, 140812L, 135209L, 137166L))
    assert(s2.sum === 41250962665L) // exceeds Int.MaxValue: u32 decode is real

    val markers = root.dataset("msMarkers").data.asLongs // u64
    assert(markers.length === 4007)
    assert(markers.take(5).toSeq === Seq(66L, 146L, 229L, 293L, 353L))
    assert(markers.last === 297398L)
    assert(markers.sum === 582591874L)

    assert(root.dataset("EventFormat").data.length === 32) // i8
    assert(root.attrs("FirstEventTimeStamp") === "2022-08-31T23:16:22.635+0200")
    assert(root.dataset("Stream_0").attrs("Name") === "X")
  }

  test("real mpes fixture: channel aliases discovered from Name attrs") {
    assumeFixture(mpesPath)
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(mpesPath))
    val aliases = MpesLoader.groupsAndAliases(bytes)
    assert(aliases === Seq(
      "Stream_0" -> "X", "Stream_1" -> "Y", "Stream_2" -> "t",
      "Stream_3" -> "MasterRstCtr", "Stream_4" -> "ADC",
      "Stream_5" -> "State Input"))
  }

  test("real mpes fixture: event table ingests end-to-end through Spark") {
    assumeFixture(mpesPath)
    val aliases = Seq( // the reference's default mpes channels (X, Y, t, ADC)
      "Stream_0" -> "X", "Stream_1" -> "Y", "Stream_2" -> "t", "Stream_4" -> "ADC")
    val df = MpesLoader.ingest(spark, Seq(mpesPath), aliases).cache()
    try {
      assert(df.count() === 297398L)
      assert(df.columns.toSeq === Seq("file_id", "seq", "ts", "X", "Y", "t", "ADC"))
      val startTs = 1661980582.635 // 2022-08-31T23:16:22.635+0200
      val row = df.selectExpr("min(ts)", "max(ts)", "sum(X)", "sum(t)").head()
      assert(math.abs(row.getDouble(0) - startTs) < 1e-6)
      // last events fall in the 4006th elapsed ms (markers(4005)=297319 ≤ e)
      assert(math.abs(row.getDouble(1) - (startTs + 4.006)) < 1e-6)
      assert(row.getDouble(2) === 225689507.0)
      assert(row.getDouble(3) === 41250962665.0)
    } finally df.unpersist()
  }

  test("real mpes fixture: ingestAuto discovers channels like the reference default") {
    assumeFixture(mpesPath)
    val df = MpesLoader.ingestAuto(spark, Seq(mpesPath))
    assert(df.columns.toSeq === Seq("file_id", "seq", "ts",
      "X", "Y", "t", "MasterRstCtr", "ADC", "State Input"))
    assert(df.count() === 297398L)
    // S8 Loader contract wrapper: events + timed + count-rate/elapsed
    val (events, timedOpt) = MpesLoader.readDataframe(spark, Seq(mpesPath))
    assert(events.count() === 297398L)
    assert(timedOpt.get.count() === 4007L)
    assert(MpesLoader.elapsedTime(events, "ts") > 4.0)
    assert(MpesLoader.countRate(events, "ts") > 50000.0)
  }

  test("real mpes fixture: timed table has one row per ms marker") {
    assumeFixture(mpesPath)
    val timed = MpesLoader.ingestTimed(
      spark, Seq(mpesPath), Seq("Stream_0" -> "X")).cache()
    try {
      assert(timed.count() === 4007L)
      val first = timed.orderBy("ms").head()
      // ms 0: markers(0)=66 → samples event 65 (g_dataset[int(point)-1])
      assert(first.getAs[Double]("X") === 907.0)
      assert(math.abs(first.getAs[Double]("ts") - 1661980582.635) < 1e-6)
      val last = timed.orderBy(org.apache.spark.sql.functions.desc("ms")).head()
      assert(last.getAs[Double]("X") === 1093.0) // event 297397, the file's last
    } finally timed.unpersist()
  }

  test("real flash fixture: deep group tree and N-D datasets parse") {
    assumeFixture(flashPath)
    val root = Hdf5Minimal.read(flashPath)
    assert(root.childNames.toSet === Set("FL1", "uncategorised", "zraw"))
    val dld = root.dataset(
      "uncategorised/FLASH.EXP/HEXTOF.DAQ/DLD1/value")
    assert(dld.dims === Seq(50L, 5L, 2048L))
    assert(dld.data.length === 50 * 5 * 2048)
    val mono = root.dataset(
      "FL1/Beamlines/PG/Monochromator/monochromator photon energy/value")
    assert(mono.dims === Seq(36L))
    val idx = root.dataset(
      "uncategorised/FLASH.EXP/HEXTOF.DAQ/DLD1/index")
    assert(idx.dims === Seq(50L))
  }

  test("real sxp fixture: CONTROL/INDEX/INSTRUMENT trees parse") {
    assumeFixture(sxpPath)
    val root = Hdf5Minimal.read(sxpPath)
    assert(root.childNames.toSet === Set("CONTROL", "INDEX", "INSTRUMENT"))
    assert(root.dataset("INDEX/trainId").data.length === 50)
    val t = root.dataset(
      "INSTRUMENT/SXP_TR_XPES/DET/MCP_DETECTOR:output/data/t")
    assert(t.dims === Seq(50L, 1000L))
    val delay = root.dataset(
      "CONTROL/SCS_ILH_LAS/MDL/OPTICALDELAY_PP800/actualPosition/value")
    assert(delay.data.length === 50)
  }

  test("filter pipeline: shuffle+deflate chunks invert bit-exactly") {
    // simulate what h5py writes with shuffle=True, compression="gzip"
    val es = 4
    val plain = Array.tabulate(1000 * es)(i => ((i * 2654435761L) & 0xff).toByte)
    val n = plain.length / es
    val shuffled = new Array[Byte](plain.length)
    for (j <- 0 until n; b <- 0 until es)
      shuffled(b * n + j) = plain(j * es + b)
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(shuffled); deflater.finish()
    val comp = new Array[Byte](plain.length * 2)
    val compLen = deflater.deflate(comp)
    deflater.end()
    val stored = java.util.Arrays.copyOf(comp, compLen)
    // pipeline in application order: shuffle (id 2) then deflate (id 1)
    val filters = Seq(Filter(2, Seq(es)), Filter(1, Seq(6)))
    val back = Hdf5Minimal.defilter(stored, filters, 0, plain.length, "t")
    assert(back.toSeq === plain.toSeq)
    // filter mask bit 0 set → shuffle skipped on write, only inflate runs
    val onlyDeflated = {
      val d = new java.util.zip.Deflater()
      d.setInput(plain); d.finish()
      val c = new Array[Byte](plain.length * 2)
      val l = d.deflate(c); d.end()
      java.util.Arrays.copyOf(c, l)
    }
    val back2 = Hdf5Minimal.defilter(onlyDeflated, filters, 1, plain.length, "t")
    assert(back2.toSeq === plain.toSeq)
  }
}
