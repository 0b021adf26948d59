package graft.loader

import java.nio.file.Files

import graft.SparkSpec
import Hdf5Minimal._

/** Round-trip and structural tests for the minimal HDF5 reader/writer
  * (mpes instrument layout + binned-cube container layout).
  */
class Hdf5Spec extends SparkSpec {
  import spark.implicits._

  test("hdf5: all datatypes round-trip bit-exactly with attributes") {
    val root = Group(datasets = Seq(
      Dataset("f64", F64(Array(1.5, -2.25, Double.MinPositiveValue, 1e300)),
        Map("unit" -> "eV")),
      Dataset("f32", F32(Array(0.5f, -3.75f, Float.MaxValue))),
      Dataset("i64", I64(Array(Long.MinValue, -1L, 0L, Long.MaxValue))),
      Dataset("i32", I32(Array(Int.MinValue, 7, Int.MaxValue))),
    ), attrs = Map("who" -> "graft", "version" -> "1"))
    val back = parse(writeBytes(root))
    assert(back.attrs === Map("who" -> "graft", "version" -> "1"))
    assert(back.dataset("f64").data.asInstanceOf[F64].values.toSeq ===
      Seq(1.5, -2.25, Double.MinPositiveValue, 1e300))
    assert(back.dataset("f64").attrs === Map("unit" -> "eV"))
    assert(back.dataset("f32").data.asInstanceOf[F32].values.toSeq ===
      Seq(0.5f, -3.75f, Float.MaxValue))
    assert(back.dataset("i64").data.asInstanceOf[I64].values.toSeq ===
      Seq(Long.MinValue, -1L, 0L, Long.MaxValue))
    assert(back.dataset("i32").data.asInstanceOf[I32].values.toSeq ===
      Seq(Int.MinValue, 7, Int.MaxValue))
  }

  test("hdf5: >8 datasets span multiple symbol nodes and stay sorted") {
    val ds = (0 until 23).map(i =>
      Dataset(f"Stream_$i%02d", F64(Array(i.toDouble))))
    // shuffled on write; B-tree/SNOD layout must deliver them sorted
    val back = parse(writeBytes(Group(datasets = scala.util.Random
      .javaRandomToRandom(new java.util.Random(7)).shuffle(ds))))
    assert(back.datasets.map(_.name) === ds.map(_.name))
    assert(back.datasets.map(_.data.asDoubles.head) === (0 until 23).map(_.toDouble))
  }

  test("hdf5: nested groups (binned-cube layout) round-trip") {
    val cube = Group(
      subgroups = Seq(
        "binned" -> Group(datasets = Seq(
          Dataset("BinnedData", I64((1L to 24L).toArray),
            Map("units" -> "counts", "long_name" -> "intensity"),
            shape = Some(Seq(2L, 3L, 4L))))),
        "axes" -> Group(datasets = Seq(
          Dataset("ax0", F64(Array(0.0, 1.0)), Map("name" -> "kx")),
          Dataset("ax1", F64(Array(0.0, 0.5, 1.0)), Map("name" -> "ky")),
          Dataset("ax2", F64(Array(1.0, 2.0, 3.0, 4.0)), Map("name" -> "energy")),
        )),
      ))
    val back = parse(writeBytes(cube))
    val bd = back.dataset("binned/BinnedData")
    assert(bd.dims === Seq(2L, 3L, 4L))
    assert(bd.data.asLongs.toSeq === (1L to 24L))
    assert(bd.attrs("units") === "counts")
    assert(back.group("axes").datasets.map(_.attrs("name")) ===
      Seq("kx", "ky", "energy"))
    assert(back.dataset("axes/ax1").data.asDoubles.toSeq === Seq(0.0, 0.5, 1.0))
  }

  test("hdf5: chunked+deflate write round-trips through the reader," +
      " including edge chunks and a two-level B-tree") {
    // 7×5×3 cube, 2×2×2 chunks → 4×3×2 = 24 chunks (single leaf) with
    // clipped edges on every axis
    val data = (0 until 105).map(i => (i * 37 % 101).toLong).toArray
    val d1 = Dataset("chunked", I64(data), Map("units" -> "counts"),
      shape = Some(Seq(7L, 5L, 3L)), chunkDims = Some(Seq(2L, 2L, 2L)),
      deflateLevel = Some(6))
    val back1 = parse(writeBytes(Group(datasets = Seq(d1))))
      .dataset("chunked")
    assert(back1.dims === Seq(7L, 5L, 3L))
    assert(back1.data.asLongs.toSeq === data.toSeq)
    assert(back1.attrs("units") === "counts")
    // uncompressed chunked (layout only, no filter pipeline)
    val d2 = Dataset("plain", F64(data.map(_.toDouble)),
      shape = Some(Seq(105L)), chunkDims = Some(Seq(10L)))
    val back2 = parse(writeBytes(Group(datasets = Seq(d2)))).dataset("plain")
    assert(back2.data.asDoubles.toSeq === data.map(_.toDouble).toSeq)
    // > 64 chunks exercises the internal level: 1-D 300 elems, chunk 4
    // → 75 leaves-entries → 2 leaf nodes + 1 internal node
    val big = (0 until 300).map(_.toLong * 3).toArray
    val d3 = Dataset("deep", I64(big), shape = Some(Seq(300L)),
      chunkDims = Some(Seq(4L)), deflateLevel = Some(1))
    val back3 = parse(writeBytes(Group(datasets = Seq(d3)))).dataset("deep")
    assert(back3.data.asLongs.toSeq === big.toSeq)
    // compression actually engages: a compressible cube shrinks on disk
    val zeros = Dataset("z", I64(new Array[Long](4096)),
      shape = Some(Seq(4096L)), chunkDims = Some(Seq(4096L)),
      deflateLevel = Some(6))
    val plain = Dataset("z", I64(new Array[Long](4096)),
      shape = Some(Seq(4096L)))
    assert(writeBytes(Group(datasets = Seq(zeros))).length <
      writeBytes(Group(datasets = Seq(plain))).length / 4)
  }

  test("hdf5: CubeIO compressed cube export reloads identically") {
    val cube = graft.binning.BinnedCube(
      data = (1L to 24L).toArray,
      shape = Seq(2, 3, 4),
      axisNames = Seq("kx", "ky", "energy"),
      axes = Seq(Array(0.0, 1.0), Array(0.0, 0.5, 1.0),
        Array(1.0, 2.0, 3.0, 4.0)),
      attrs = Map("units" -> "counts"))
    val tmp = Files.createTempDirectory("h5z")
    val p = tmp.resolve("cube.h5").toString
    graft.export.CubeIO.writeH5(cube, p, compress = true)
    val back = graft.export.CubeIO.readH5(p)
    assert(back.shape === cube.shape)
    assert(back.data.toSeq === cube.data.toSeq)
    assert(back.axisNames === cube.axisNames)
    assert(back.axes.zip(cube.axes).forall { case (a, b) => a.sameElements(b) })
  }

  test("hdf5: unsupported features fail loudly, not silently") {
    val bytes = writeBytes(Group(datasets = Seq(
      Dataset("d", F64(Array(1.0))))))
    // corrupt the signature → not HDF5
    val bad = bytes.clone(); bad(0) = 0
    intercept[IllegalArgumentException](parse(bad))
    // superblock version 2 → explicit unsupported error
    val v2 = bytes.clone(); v2(8) = 2
    val e = intercept[IllegalArgumentException](parse(v2))
    assert(e.getMessage.contains("superblock v2"))
  }

  test("hdf5: string datasets have their own 64 KiB bound; numeric stay ≤ 64 bytes") {
    def file(v: String) = writeBytes(Group(datasets = Seq(Dataset("s", Str(v)))))
    // the writer stores value + NUL: this one sits exactly on the bound
    val widest = "p" * (MaxStringTypeBytes - 1)
    assert(parse(file(widest)).dataset("s").data === Str(widest))
    val e = intercept[IllegalArgumentException](parse(file(widest + "p")))
    assert(e.getMessage.contains("64 KiB string bound"), e.getMessage)
    // an f64 datatype message (class 1, size 8, precision 64) claiming 72
    // bytes is still a corrupt numeric header
    val b = writeBytes(Group(datasets = Seq(Dataset("d", F64(Array(1.0))))))
    val le = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val at = (0 until b.length - 12).find(i => b(i) == 0x11 && le.getInt(i + 4) == 8 &&
      le.getShort(i + 8) == 0 && le.getShort(i + 10) == 64).get
    le.putInt(at + 4, 72)
    val e2 = intercept[IllegalArgumentException](parse(b))
    assert(e2.getMessage.contains("implausible datatype size 72"), e2.getMessage)
  }

  test("hdf5: mpes-layout .h5 ingests through the Spark file-bytes path") {
    val dir = Files.createTempDirectory("h5").toFile.getPath
    MpesLoader.writeH5(s"$dir/Scan0030_2.h5", MpesLoader.StreamData(
      startTs = 1.6e9 + 0.25,
      channels = Seq(
        "Stream_0" -> Array(1.0, 2.0, 3.0, 4.0),
        "Stream_1" -> Array(0.1, 0.2, 0.3, 0.4),
        "Stream_2" -> Array(7.0, 8.0, 9.0, 10.0)),
      msMarkers = Array(2L, 3L, 4L)))
    // decode on raw bytes (what executors do)
    val data = MpesLoader.decode(
      Files.readAllBytes(java.nio.file.Paths.get(s"$dir/Scan0030_2.h5")))
    assert(data.startTs === 1.6e9 + 0.25)
    assert(data.channels.map(_._1) === Seq("Stream_0", "Stream_1", "Stream_2"))
    assert(data.msMarkers.toSeq === Seq(2L, 3L, 4L))
    // full Spark ingestion: per-file byte read in the task → decode →
    // event table
    val events = MpesLoader.ingest(spark, Seq(s"$dir/Scan0030_2.h5"),
      Seq("Stream_0" -> "X", "Stream_2" -> "t"))
    val rows = events.orderBy("seq").collect()
      .map(r => (r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.length === 4)
    assert(rows.map(_._2).toSeq === Seq(1.0, 2.0, 3.0, 4.0))
    assert(rows.map(_._3).toSeq === Seq(7.0, 8.0, 9.0, 10.0))
    // S4 ms-marker timestamp synthesis
    assert(rows.map(_._1).toSeq ===
      Seq(1.6e9 + 0.25, 1.6e9 + 0.25, 1.6e9 + 0.251, 1.6e9 + 0.252))
    // timed table works off the same .h5
    val timed = MpesLoader.ingestTimed(spark, Seq(s"$dir/Scan0030_2.h5"),
      Seq("Stream_0" -> "X"))
    assert(timed.count() === 3)
  }
}
