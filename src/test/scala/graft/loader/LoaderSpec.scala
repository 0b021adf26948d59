package graft.loader

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, UnionExec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType, StructType}
import graft.SparkSpec

class LoaderSpec extends SparkSpec {
  import spark.implicits._

  test("naturalSort orders digit runs numerically") {
    val files = Seq("Scan10_2.h5", "Scan2_1.h5", "Scan2_10.h5", "Scan2_2.h5", "Scan1_1.h5")
    assert(GenericLoader.naturalSort(files) ===
      Seq("Scan1_1.h5", "Scan2_1.h5", "Scan2_2.h5", "Scan2_10.h5", "Scan10_2.h5"))
  }

  test("gatherFiles globs, sorts, and slices [start:end:step]") {
    val dir = Files.createTempDirectory("gather").toFile
    Seq("a3.csv", "a1.csv", "a10.csv", "a2.csv", "b.txt").foreach { n =>
      Files.writeString(new java.io.File(dir, n).toPath, "x\n1")
    }
    val all = GenericLoader.gatherFiles(dir.getPath, "csv")
    assert(all.map(new java.io.File(_).getName) === Seq("a1.csv", "a2.csv", "a3.csv", "a10.csv"))
    val sliced = GenericLoader.gatherFiles(dir.getPath, "csv", fStart = Some(1), fEnd = Some(4), fStep = 2)
    assert(sliced.map(new java.io.File(_).getName) === Seq("a2.csv", "a10.csv"))
  }

  test("GenericLoader.read unions per-file frames with stable ordering cols") {
    val dir = Files.createTempDirectory("generic").toFile
    Seq(("f1", Seq(1, 2)), ("f2", Seq(3, 4))).foreach { case (n, vs) =>
      Files.writeString(new java.io.File(dir, s"$n.csv").toPath,
        "v\n" + vs.mkString("\n"))
    }
    val files = GenericLoader.gatherFiles(dir.getPath, "csv")
    val df = GenericLoader.read(spark, files, "csv", withOrdering = true)
    assert(df.columns.toSet === Set("v", "file_id", "seq"))
    val byFile = df.groupBy("file_id").agg(collect_set("v"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Int](1).toSet).toMap
    assert(byFile(0) === Set(1, 2))
    assert(byFile(1) === Set(3, 4))
  }

  /** Four single-file parquet parts of 1000 rows each (ids 1000·i until
    * 1000·(i+1), in id order); part 2 stores its columns in another order.
    */
  private def parquetRun(): Seq[String] = {
    val dir = Files.createTempDirectory("run").toFile
    (0 until 4).map { i =>
      val cols = if (i == 2) Seq("tof", "X", "id") else Seq("id", "X", "tof")
      val tmp = new java.io.File(dir, s"part$i").getPath
      spark.range(i * 1000L, (i + 1) * 1000L, 1, 1)
        .select(col("id"), (col("id") * 0.5).as("X"), (col("id") % 7).cast("int").as("tof"))
        .select(cols.map(col): _*)
        .write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      val file = new java.io.File(dir, s"events_$i.parquet")
      Files.move(part.toPath, file.toPath)
      file.getPath
    }
  }

  /** Spark jobs started on this thread while `body` runs. */
  private def jobsStartedBy(body: => Unit): Int = {
    val group = s"loader-jobs-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "GenericLoader.read job count")
    try {
      body
      org.apache.spark.GraftSparkBridge.drainListeners(sc)
      jobs.get()
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("GenericLoader.read: one parquet scan gives the per-file union's rows") {
    // the first path is the part with the other column order; Spark's scan
    // takes its schema from the lexicographically first file (part 0), so
    // this also pins the columns to the first path's order, as the union's
    val files = parquetRun()
    val rotated = files.drop(2) ++ files.take(2)
    val single = GenericLoader.read(spark, rotated)
    val union = rotated.map(spark.read.parquet(_)).reduce(_.unionByName(_))
    assert(single.columns.toSeq === Seq("tof", "X", "id"))
    assert(union.columns.toSeq === single.columns.toSeq)
    def digest(df: DataFrame) = df.select(expr("count(1)"), expr("sum(hash(*))")).first()
    assert(digest(single) === digest(union))
    assert(digest(single).getLong(0) === 4000L)
  }

  test("GenericLoader.read plans one parquet FileSourceScanExec and no Union") {
    val files = parquetRun()
    val plan = GenericLoader.read(spark, files).queryExecution.sparkPlan
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(scans.size === 1, plan)
    assert(scans.head.relation.fileFormat.isInstanceOf[ParquetFileFormat])
    assert(scans.head.relation.location.rootPaths.size === 4)
    assert(plan.collect { case u: UnionExec => u }.isEmpty, plan)
  }

  test("GenericLoader.read over 4 parquet files starts no Spark job") {
    val files = parquetRun()
    assert(jobsStartedBy(GenericLoader.read(spark, files)) === 0)
  }

  test("GenericLoader.read's footer schema equals Spark's inferred schema") {
    def parity(paths: Seq[String]): StructType = {
      val got = GenericLoader.read(spark, paths).schema
      assert(got === spark.read.parquet(paths: _*).schema, paths)
      got
    }
    // Spark-written files: the footer carries Spark's own row schema
    val typed = Files.createTempDirectory("typed").toString
    val typedFiles = (0 until 2).map { i =>
      val out = s"$typed/part$i"
      spark.range(i * 3L, i * 3L + 3, 1, 1).selectExpr(
        "cast(id as int) as i", "id as l", "id * 0.5 as d", "cast(id as string) as s",
        "timestamp_seconds(id) as ts", "date_add(date'2024-01-01', cast(id as int)) as dt",
        "cast(id / 7 as decimal(12, 4)) as dec", "array(id, id + 1) as arr",
        "named_struct('a', id, 'b', cast(id as string)) as st", "map(cast(id as string), id * 2.0) as m",
      ).write.parquet(out)
      new java.io.File(out).listFiles().filter(_.getName.endsWith(".parquet")).head.getPath
    }
    val sparkWritten = parity(typedFiles)
    assert(sparkWritten.fieldNames.toSeq ===
      Seq("i", "l", "d", "s", "ts", "dt", "dec", "arr", "st", "m"))
    // a plain parquet-hadoop file: no Spark schema in the footer, so the
    // parquet types convert under the session's parquet settings
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.io.api.Binary
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      "message plain { required int32 a; optional binary raw; optional binary u (UTF8); " +
        "optional int64 tn (TIMESTAMP(NANOS,true)); optional double x; }")
    val plain = Files.createTempDirectory("plain").toString + "/plain.parquet"
    val writer = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(plain))
      .withType(schema).build()
    try {
      val groups = new SimpleGroupFactory(schema)
      (0 until 3).foreach { i =>
        writer.write(groups.newGroup().append("a", i)
          .append("raw", Binary.fromString(s"r$i")).append("u", s"u$i")
          .append("tn", i * 1000L).append("x", i * 0.25))
      }
    } finally writer.close()
    assert(parity(Seq(plain))("raw").dataType === BinaryType)
    spark.conf.set("spark.sql.parquet.binaryAsString", "true")
    try assert(parity(Seq(plain))("raw").dataType === StringType)
    finally spark.conf.unset("spark.sql.parquet.binaryAsString")
    // a partitioned directory: the partition column comes last
    val parted = Files.createTempDirectory("parted").toString + "/events"
    spark.range(12).select(col("id"), (col("id") * 0.5).as("X"), (col("id") % 3).as("p"))
      .write.partitionBy("p").parquet(parted)
    assert(parity(Seq(parted)).fieldNames.toSeq === Seq("id", "X", "p"))
  }

  test("GenericLoader.read names the parquet file whose columns differ") {
    val files = parquetRun()
    val odd = Files.createTempDirectory("odd").toString + "/lacks_tof"
    spark.range(3).select(col("id"), (col("id") * 0.5).as("X")).coalesce(1)
      .write.parquet(odd)
    val oddFile = new java.io.File(odd).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getPath
    val err = intercept[IllegalArgumentException] {
      GenericLoader.read(spark, files.take(2) ++ Seq(oddFile) ++ files.drop(2))
    }
    assert(err.getMessage.contains(oddFile), err.getMessage)
    assert(err.getMessage.contains("tof"), err.getMessage)
    // a wider type for the same name is a different column too
    val retyped = Files.createTempDirectory("retyped").toString + "/tof_int64"
    spark.range(3).select(col("id"), (col("id") * 0.5).as("X"), col("id").as("tof"))
      .write.parquet(retyped)
    val err2 = intercept[IllegalArgumentException] {
      GenericLoader.read(spark, files :+ retyped)
    }
    assert(err2.getMessage.contains(retyped), err2.getMessage)
  }

  test("GenericLoader.read(withOrdering) on parquet: file_id is the file's" +
      " index, seq rises within each file, no Spark job") {
    val files = parquetRun()
    var df: DataFrame = null
    assert(jobsStartedBy { df = GenericLoader.read(spark, files, withOrdering = true) } === 0)
    assert(df.columns.toSeq === Seq("id", "X", "tof", "file_id", "seq"))
    val byFile = df.select("file_id", "seq", "id").collect()
      .groupBy(_.getInt(0)).map { case (f, rs) =>
        f -> rs.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq
      }
    assert(byFile.keySet === Set(0, 1, 2, 3))
    for ((f, ids) <- byFile) assert(ids === (f * 1000L until (f + 1) * 1000L))
  }

  test("electronIndex explodes pulses and enumerates electrons") {
    val raw = Seq(
      (1L, Seq(5.0, 5.0, 6.0, -1.0)), // two electrons in pulse 5, one in 6, one dropped
      (2L, Seq(7.0)),
    ).toDF("trainId", "pulseId")
    val idx = ChannelLoader.electronIndex(raw, ubidOffset = 0)
      .orderBy("trainId", "pulseId", "electronId")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    assert(idx.toSeq === Seq((1L, 5.0, 0), (1L, 5.0, 1), (1L, 6.0, 0), (2L, 7.0, 0)))
  }

  test("ubidOffset shifts and negative pulses are dropped") {
    val raw = Seq((1L, Seq(3.0, 2.0))).toDF("trainId", "pulseId")
    val idx = ChannelLoader.electronIndex(raw, ubidOffset = 3)
      .select("pulseId").as[Double].collect().sorted
    assert(idx.toSeq === Seq(0.0)) // 3-3=0 kept, 2-3=-1 dropped
  }

  test("auxFanout slices fixed positions into named scalars") {
    val raw = Seq((1L, Seq(10.0, 20.0, 30.0, 40.0, 50.0, 60.0, 70.0)))
      .toDF("trainId", "aux")
    val out = ChannelLoader.auxFanout(raw, "aux", ChannelLoader.AuxNames).first()
    assert(out.getAs[Double]("sampleBias") === 10.0)
    assert(out.getAs[Double]("dldTimeBinSize") === 70.0)
  }

  test("assemble: full-outer join + ffill of train values + timed frame") {
    val electrons = Seq(
      (1L, 0L, 0L, 100.0), (1L, 0L, 1L, 101.0), (1L, 1L, 0L, 102.0),
      (2L, 0L, 0L, 103.0),
    ).toDF("trainId", "pulseId", "electronId", "dldTime")
    val pulse = Seq((1L, 0L, 7.5), (1L, 1L, 7.6), (2L, 0L, 7.7))
      .toDF("trainId", "pulseId", "bam")
    val train = Seq((1L, 0.5)).toDF("trainId", "sampleBias") // train 2 missing → ffilled
    val (events, timed) = ChannelLoader.assemble(
      electrons, Seq(pulse), Seq(train), "dldTime")
    val ev = events.orderBy("trainId", "pulseId", "electronId").collect()
    assert(ev.length === 4)
    // sampleBias forward-filled onto train 2
    assert(ev.forall(_.getAs[Double]("sampleBias") === 0.5))
    assert(ev.head.getAs[Double]("bam") === 7.5)
    // timed frame: one row per (train, pulse) where electronId == 0
    assert(timed.count() === 3)
  }

  test("bufferToParquet writes once and validates the channel schema") {
    val dir = Files.createTempDirectory("buffer").toFile.getPath + "/buf"
    val df = Seq((1L, 2.0)).toDF("trainId", "x")
    val loaded = ChannelLoader.bufferToParquet(df, dir, Seq("trainId", "x"))
    assert(loaded.count() === 1)
    val err = intercept[IllegalArgumentException] {
      ChannelLoader.bufferToParquet(df, dir, Seq("trainId", "missing_channel"))
    }
    assert(err.getMessage.contains("missing_channel"))
  }

  test("getFilesFromRunId resolves per-facility patterns") {
    val dir = Files.createTempDirectory("runs").toFile
    Seq("Scan0030_1.h5", "Scan0030_2.h5", "Scan0031_1.h5", "other.h5").foreach { n =>
      Files.writeString(new java.io.File(dir, n).toPath, "x")
    }
    val files = GenericLoader.getFilesFromRunId(dir.getPath, "0030", "h5", "Scan{run}_*")
    assert(files.map(new java.io.File(_).getName) === Seq("Scan0030_1.h5", "Scan0030_2.h5"))
    intercept[IllegalArgumentException] {
      GenericLoader.getFilesFromRunId(dir.getPath, "9999", "h5", "Scan{run}_*")
    }
  }

  test("segmentMacrobunches splits concatenated pulse arrays on descents") {
    // S7: pulse ids [0,1,2, 0,1, 0] = three macrobunches in one train
    val raw = Seq((1L, Seq(0.0, 1.0, 2.0, 0.0, 1.0, 0.0)), (2L, Seq(5.0, 6.0)))
      .toDF("trainId", "pulseId")
    val out = ChannelLoader.segmentMacrobunches(raw)
      .orderBy("trainId", "macrobunchId", "pulse")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    assert(out.filter(_._1 == 1L).map(_._3).toSeq === Seq(0L, 0L, 0L, 1L, 1L, 2L))
    assert(out.filter(_._1 == 2L).map(_._3).toSeq === Seq(0L, 0L))
  }

  test("countRate and elapsedTime aggregate timestamps") {
    val df = Seq((0.0, 1L), (10.0, 2L), (20.0, 3L)).toDF("ts", "v")
    assert(GenericLoader.elapsedTime(df, "ts") === 20.0)
    assert(GenericLoader.countRate(df, "ts") === 3.0 / 20.0)
  }

  test("MpesLoader: binary stream files round-trip to the event table") {
    val dir = Files.createTempDirectory("mpes").toFile.getPath
    // file written out of order on purpose: natural sort fixes ingestion order
    MpesLoader.writeH5(s"$dir/Scan2.h5", MpesLoader.StreamData(
      startTs = 2000.0,
      channels = Seq(
        "Stream_0" -> Array(10.0, 11.0, 12.0),
        "Stream_1" -> Array(0.5, 0.6, 0.7),
        "Stream_9" -> Array(9.9, 9.8, 9.7)), // unmapped dataset: skipped
      msMarkers = Array(1L, 3L)))
    MpesLoader.writeH5(s"$dir/Scan1.h5", MpesLoader.StreamData(
      startTs = 1000.0,
      channels = Seq(
        "Stream_0" -> Array(1.0, 2.0, 3.0, 4.0),
        "Stream_1" -> Array(0.1, 0.2, 0.3, 0.4)),
      msMarkers = Array(2L, 3L, 4L)))
    val aliases = Seq("Stream_0" -> "X", "Stream_1" -> "t")
    val events = MpesLoader.ingest(spark,
      Seq(s"$dir/Scan2.h5", s"$dir/Scan1.h5"), aliases)
    assert(events.columns.toSeq === Seq("file_id", "seq", "ts", "X", "t"))
    val rows = events.orderBy("file_id", "seq")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.length === 7)
    // Scan1 first (natural sort), its 4 events in file order
    assert(rows.take(4).map(_._4).toSeq === Seq(1.0, 2.0, 3.0, 4.0))
    // S4 step timestamps: markers (2,3,4) -> events 0,1 in ms 0; 2 in ms 1; 3 in ms 2
    assert(rows.take(4).map(_._3).toSeq === Seq(1000.0, 1000.0, 1000.001, 1000.002))
    assert(rows.drop(4).map(_._4).toSeq === Seq(10.0, 11.0, 12.0))
    assert(rows.drop(4).map(_._3).toSeq === Seq(2000.0, 2000.001, 2000.001))

    // F6 buffering round-trip: write-once parquet, schema-checked reuse
    val buf = s"$dir/buffer"
    val buffered = ChannelLoader.bufferToParquet(events, buf, Seq("X", "t", "ts"))
    assert(buffered.count() === 7)
    val again = ChannelLoader.bufferToParquet(
      spark.emptyDataFrame, buf, Seq("X", "t", "ts")) // must NOT rewrite
    assert(again.count() === 7)
    intercept[IllegalArgumentException] {
      ChannelLoader.bufferToParquet(events, buf, Seq("X", "missing_channel"))
    }
  }

  test("MpesLoader: timed table samples the last event per ms marker") {
    val dir = Files.createTempDirectory("mpes2").toFile.getPath
    MpesLoader.writeH5(s"$dir/Scan0.h5", MpesLoader.StreamData(
      startTs = 100.0,
      channels = Seq("Stream_0" -> Array(1.0, 2.0, 3.0, 4.0)),
      msMarkers = Array(0L, 2L, 4L)))
    val timed = MpesLoader.ingestTimed(spark, Seq(s"$dir/Scan0.h5"),
      Seq("Stream_0" -> "X"))
    val rows = timed.orderBy("ms").collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3)))
    // marker 0 (no events yet) clamps to the first value; marker 2 -> value[1];
    // marker 4 -> value[3]  (g_dataset[int(point)-1])
    assert(rows.toSeq === Seq((0L, 100.0, 1.0), (1L, 100.001, 2.0), (2L, 100.002, 4.0)))
  }

  test("MpesLoader: missing configured dataset fails the ingest") {
    val dir = Files.createTempDirectory("mpes3").toFile.getPath
    MpesLoader.writeH5(s"$dir/Scan0.h5", MpesLoader.StreamData(
      startTs = 0.0, channels = Seq("Stream_0" -> Array(1.0)),
      msMarkers = Array(1L)))
    val bad = MpesLoader.ingest(spark, Seq(s"$dir/Scan0.h5"),
      Seq("Stream_0" -> "X", "Stream_7" -> "Y"))
    val e = intercept[org.apache.spark.SparkException] { bad.collect() }
    assert(e.getMessage.contains("missing datasets")
      || Option(e.getCause).exists(_.getMessage.contains("missing datasets")))
  }

  test("MpesLoader: a non-HDF5 input file fails the ingest with its name") {
    val dir = Files.createTempDirectory("mpes4").toFile.getPath
    MpesLoader.writeH5(s"$dir/Scan0.h5", MpesLoader.StreamData(
      startTs = 0.0, channels = Seq("Stream_0" -> Array(1.0)),
      msMarkers = Array(1L)))
    val notH5 = s"$dir/Scan1.h5"
    Files.write(java.nio.file.Paths.get(notH5),
      "events as text, no HDF5 superblock".getBytes("UTF-8"))
    def messages(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .flatMap(c => Option(c.getMessage)).toSeq
    for (frame <- Seq(
        MpesLoader.ingest(spark, Seq(s"$dir/Scan0.h5", notH5), Seq("Stream_0" -> "X")),
        MpesLoader.ingestTimed(spark, Seq(s"$dir/Scan0.h5", notH5), Seq("Stream_0" -> "X")))) {
      val e = intercept[org.apache.spark.SparkException] { frame.collect() }
      assert(messages(e).exists(m => m.contains(notH5) && m.contains("not an HDF5 file")),
        messages(e).mkString(" | "))
    }
  }
}
