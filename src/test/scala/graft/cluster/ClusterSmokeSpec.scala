package graft.cluster

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry
import graft.binning.Binning
import graft.{loader => gl}
import graft.pipeline

/** Multi-JVM smoke: the engine's cluster-aware branches executed across
  * REAL JVM boundaries for the first time. `local-cluster[2,2,1536]`
  * launches two separate executor processes through SPARK_HOME (the
  * driver holds only master+worker endpoints), so everything here
  * crosses process serialization, not local[..] thread handoff:
  *
  *  - the CountByKey custom exec's partial/merge rows (kernel histogram),
  *  - TypedImperativeAggregate serialize/merge (TopKAgg batch search),
  *  - the minhash auto census + MEMORY_ONLY persist across executors,
  *  - the instrument loader's `isLocal` gate taking the LAZY branch
  *    (the eager parquet spill would be executor-local and unreadable),
  *  - WARC ingestion's mapPartitions decode on executor JVMs,
  *  - TFRecord shard write (attempt-tmp + rename + driver `_SUCCESS`)
  *    and one-task-per-shard read, both on executor JVMs,
  *  - `cubeSnapshotSink(stateDir=)` kill/restart with the streaming
  *    aggregation's state stores living on the executors,
  *  - GraftBridge codegen statics resolving via the executor classpath.
  *
  * The suite runs in its own forked JVM (build.sbt `Test/testGrouping`):
  * the shared SparkSpec session is `local[4]`, and `getOrCreate` cannot
  * change an existing context's master.
  */
class ClusterSmokeSpec extends AnyFunSuite with BeforeAndAfterAll
    with graft.FixtureReport {

  private val sfDir = "/root/testdata/sf0.001"
  private def haveData = new java.io.File(s"$sfDir/lineitem.parquet").exists()

  private lazy val spark: SparkSession = {
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar",
    ).map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" ")
    val s = SparkSession.builder()
      .master("local-cluster[2,2,1536]")
      .appName("graft-cluster-smoke")
      // executor JVMs are fresh processes: they need this build's
      // classes (and scalatest for the lambdas defined in this file)
      .config("spark.executor.extraClassPath",
        System.getProperty("java.class.path"))
      .config("spark.executor.extraJavaOptions", addOpens)
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit =
    try super.afterAll() finally if (haveData) spark.stop()

  /** Distinct executor-process names (`pid@host`) a 16-partition job
    * actually ran on — proves multi-JVM execution, not just multi-slot
    * registration.
    */
  private def executorJvms(): Set[String] =
    spark.range(0, 256, 1, 16).rdd
      .map(_ => java.lang.management.ManagementFactory
        .getRuntimeMXBean.getName)
      .distinct().collect().toSet

  test("two separate executor JVMs run the work; driver is not one of them") {
    assume(haveData)
    assert(!spark.sparkContext.isLocal)
    val driverJvm =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getName
    val jvms = executorJvms()
    assert(jvms.size === 2, s"expected 2 executor JVMs, saw $jvms")
    assert(!jvms.contains(driverJvm), "work ran in the driver JVM")
  }

  test("kernel histogram (CountByKey partial/merge) crosses JVM" +
      " boundaries and matches the classic HashAggregate plan") {
    assume(haveData)
    val li = SparkEntry.table(spark, sfDir, "lineitem").repartition(8)
    def key(df: DataFrame): Map[Seq[Long], Long] =
      df.collect().map { r =>
        (0 until 4).map(r.getLong) -> r.getLong(4)
      }.toMap
    // 1e8 cells: the cube alone routes it through the kernel
    val kernel = key(Binning.histogram(li, SparkEntry.ax4dHuge))
    // reference: a plain per-axis groupBy over the bin indices
    val idx = SparkEntry.ax4dHuge.map(ax =>
      Binning.binIndex(ax).as(Binning.idxName(ax)))
    val classic = key(li.select(idx: _*).na.drop()
      .groupBy(SparkEntry.ax4dHuge.map(ax => col(Binning.idxName(ax))): _*)
      .count())
    assert(kernel.nonEmpty)
    assert(kernel === classic)
  }

  test("TypedImperativeAggregate (TopKAgg) serialize/merge across" +
      " executors matches a window-rank recompute") {
    assume(haveData)
    val emb = SparkEntry.table(spark, sfDir, "embeddings").repartition(8)
    val queries = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val top = pipeline.Similarity.bruteTopKBatch(
      queries, "q_vec", "q_id", emb, "embedding", "vec_id", k = 5)
    val got = top.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got.nonEmpty)
    // independent plan: the same scored frame ranked with a window
    // function (no imperative aggregate) must agree exactly
    val scored = emb
      .crossJoin(broadcast(queries))
      .select(col("q_id"), col("vec_id"),
        round(pipeline.Dedup.cosine(col("q_vec"), col("embedding")), 6)
          .as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))
    val expect = scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5).drop("rk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === expect)
    // and every query's best match is itself at cosine 1
    val self = got.filter { case (q, id, _) => q == id }
    assert(self.size === queries.count())
    assert(self.forall(_._3 === 1.0))
  }

  test("minhash auto census over the shared signature shuffle routes" +
      " correctly with executor-side shuffle files, parity with the" +
      " direct plan") {
    assume(haveData)
    val docs = SparkEntry.table(spark, sfDir, "documents")
      .filter(col("text").isNotNull).repartition(8)
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    // censusFloorBytes = 0 forces the census; census and chosen plan read
    // one signature shuffle whose map output lives in executor JVMs
    val auto = pairs(pipeline.Dedup.minhashNearDuplicatesAuto(
      docs, "text", "doc_id", threshold = 0.2, portable = true,
      censusFloorBytes = 0L))
    val direct = pairs(pipeline.Dedup.minhashNearDuplicates(
      docs, "text", "doc_id", threshold = 0.2, portable = true))
    assert(auto === direct)
    assert(auto.nonEmpty)
  }

  test("instrument load takes the LAZY distributed branch on a cluster" +
      " (eager driver-local spill is gated off)") {
    val flashPath = "/root/reference/tests/data/loader/flash/" +
      "FLASH1_USER3_stream_2_run43878_file1_20230130T153807.1.h5"
    assume(haveData)
    assumeFixture(flashPath)
    // the gate itself: cluster mode refuses the eager path outright
    assert(!gl.ChannelLoader.eagerSmallLoad(spark, Some(1L)))
    val (events, timedOpt) =
      gl.InstrumentH5Loader.readDataframe(spark, Seq(flashPath))
    val plan = events.queryExecution.executedPlan.toString
    assert(!plan.contains("graft_eager_load"), plan)
    assert(events.count() === 102240L)
    assert(timedOpt.get.filter(col("electronId") === 0).count() === 46291L)
  }

  test("Bloom probe (codegen expression over broadcast filter bytes)" +
      " evaluates on executors") {
    assume(haveData)
    val docs = SparkEntry.table(spark, sfDir, "documents")
      .filter(col("text").isNotNull).repartition(8)
    val fp = pipeline.Dedup.buildBloomFingerprint(
      docs.filter(col("doc_id") % 2 === 0), "text",
      expectedItems = 10000, fpp = 0.001)
    val kept = pipeline.Dedup.dropBloomSeen(docs, "text", fp)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // Bloom has no false negatives: every even-id doc's text was added,
    // so no doc sharing one of those texts survives
    val evenTexts = docs.filter(col("doc_id") % 2 === 0)
      .select("text").collect().map(_.getString(0)).toSet
    val keptTexts = docs.filter(col("doc_id").isin(kept.toSeq: _*))
      .select("text").collect().map(_.getString(0))
    assert(keptTexts.forall(t => !evenTexts.contains(t)))
  }

  test("stateful streaming (mapGroupsWithState) keeps its state store on" +
      " executor JVMs across micro-batches") {
    assume(haveData)
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("cluster-stream").toFile.getPath
    val dataDir = s"$root/data"
    // two files = two micro-batches (maxFilesPerTrigger=1): the running
    // means must carry per-key state ACROSS batches through the
    // cluster's state store
    Seq((1L, 10.0), (1L, 20.0), (2L, 5.0)).toDF("sector", "v")
      .coalesce(1).write.parquet(dataDir)
    Seq((1L, 30.0), (2L, 15.0)).toDF("sector", "v")
      .coalesce(1).write.mode("append").parquet(dataDir)
    val schema = spark.read.parquet(dataDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dataDir)
    val out = graft.streaming.StreamingBinning
      .runningSectorMeans(stream, "sector", "v")
    val q = out.writeStream.format("memory").queryName("cluster_means")
      .outputMode("update")
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // last update per sector reflects ALL rows of both batches
    val last = spark.table("cluster_means")
      .groupBy("sector").agg(max(struct(col("n"), col("mean"))).as("s"))
      .select(col("sector"), col("s.n"), col("s.mean"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(last(1L) === ((3L, 20.0)))
    assert(last(2L) === ((2L, 10.0)))
  }

  test("TFRecord shards write from and read back on executor JVMs" +
      " (shared directory, commit marker, one task per shard)") {
    assume(haveData)
    val dir = java.nio.file.Files
      .createTempDirectory("cluster-tfrec").toFile.getPath + "/lake"
    // single box, so java.io.tmpdir IS the shared FS here; on a real
    // multi-node cluster this directory must be hdfs/s3a (TfRecord doc)
    val docs = SparkEntry.table(spark, sfDir, "documents")
      .filter(col("text").isNotNull).select("doc_id", "text").repartition(8)
    val n = pipeline.TfRecord.writeExamples(docs, dir, Seq("doc_id", "text"))
    assert(n === docs.count())
    // the commit protocol ran: marker present, no attempt litter
    val names = new java.io.File(dir).listFiles().map(_.getName)
    assert(names.contains("_SUCCESS"))
    assert(!names.exists(_.startsWith("_tmp.")))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val back = pipeline.TfRecord.readExamples(spark, dir, schema)
    // decode happens on the executors, one task per shard file
    assert(back.rdd.getNumPartitions ===
      names.count(_.endsWith(".tfrecord")))
    val got = back.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === want)
  }

  test("TFRecord commit protocol survives a REAL task retry: an attempt" +
      " dying mid-shard leaves litter the epilogue sweeps, the retry" +
      " commits, and the lake reads back complete") {
    assume(haveData)
    val dir = java.nio.file.Files
      .createTempDirectory("cluster-tfrec-retry").toFile.getPath + "/lake"
    import org.apache.spark.sql.{Encoder, Encoders, Row}
    import org.apache.spark.sql.types.{BinaryType, StructField, StructType}
    val enc: Encoder[Row] = Encoders.row(
      StructType(Seq(StructField("rec", BinaryType))))
    // partition 3's FIRST attempt dies midway through its rows — after
    // writeRecords has opened (and part-written) its _tmp file. Under
    // local-cluster spark.task.maxFailures is 4, so Spark retries the
    // task; the commit protocol must give the retry a fresh
    // attempt-keyed tmp and sweep the dead attempt's litter.
    val df = spark.range(0, 64, 1, 8).toDF("id").mapPartitions { it =>
      val tc = org.apache.spark.TaskContext.get()
      it.map { r =>
        val i = r.getLong(0)
        if (tc.partitionId() == 3 && tc.attemptNumber() == 0 && i % 8 >= 4)
          throw new RuntimeException("injected first-attempt death")
        Row(s"record $i".getBytes("UTF-8"))
      }
    }(enc)
    val n = pipeline.TfRecord.writeRecords(df, "rec", dir)
    assert(n === 64L)
    val names = new java.io.File(dir).listFiles().map(_.getName)
    assert(names.contains("_SUCCESS"))
    assert(!names.exists(_.startsWith("_tmp.")),
      s"dead attempt's litter survived: ${names.mkString(", ")}")
    assert(names.count(_.endsWith(".tfrecord")) === 8)
    val got = pipeline.TfRecord.readRecords(spark, dir)
      .collect().map(r => new String(r.getAs[Array[Byte]](1), "UTF-8")).toSet
    assert(got === (0L until 64L).map(i => s"record $i").toSet)
  }

  test("CopyTool mirrors across executor JVMs: stale destinations" +
      " replaced (driver-side delete), rename-first commit, no litter") {
    assume(haveData)
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("cluster-copytool").toString
    val src = s"$root/src"; val dst = s"$root/dst"
    (0 until 12).foreach { i =>
      val p = Paths.get(src, s"run/seg$i/data_$i.bin")
      Files.createDirectories(p.getParent)
      Files.write(p, Array.fill[Byte](1024 + i)(i.toByte))
    }
    // plant a STALE destination (wrong size) and attempt litter from a
    // hypothetical killed task — the driver must delete the stale file
    // once before the distributed copy and sweep the litter after
    Files.createDirectories(Paths.get(dst, "run/seg3"))
    Files.write(Paths.get(dst, "run/seg3/data_3.bin"), Array[Byte](1))
    Files.write(Paths.get(dst, "run/seg3/._tmp.data_3.bin.77"), Array[Byte](2))
    val ct = new graft.loader.CopyTool(spark, src, dst, ntasks = 8)
    ct.copy(s"$src/run")
    (0 until 12).foreach { i =>
      val got = Files.readAllBytes(Paths.get(dst, s"run/seg$i/data_$i.bin"))
      assert(got.length === 1024 + i, s"seg$i wrong size")
      assert(got.forall(_ == i.toByte), s"seg$i wrong bytes")
    }
    val litter = Files.walk(Paths.get(dst)).iterator()
    val leftovers = new scala.collection.mutable.ArrayBuffer[String]
    while (litter.hasNext) {
      val p = litter.next().getFileName.toString
      if (p.startsWith("._tmp.")) leftovers += p
    }
    assert(leftovers.isEmpty, leftovers.mkString(", "))
  }

  test("Lake.compact across executor JVMs: singleton files copy" +
      " byte-for-byte through attempt-tmp + rename, groups rewrite, rows" +
      " survive, no litter") {
    assume(haveData)
    import java.nio.file.{Files, Paths}
    import spark.implicits._
    val root = Files.createTempDirectory("cluster-compact").toString
    val in = s"$root/in"; val out = s"$root/out"
    // 6 small files (each ~1 KB, grouped and rewritten) + 2 large
    // singletons (≥ targetBytes, byte-for-byte DISTRIBUTED copies — the
    // commit-protocol path this pin is about)
    (0 until 6).foreach { i =>
      spark.range(i * 100L, i * 100L + 100L).toDF("id").coalesce(1)
        .write.mode("append").parquet(in)
    }
    Seq(600L -> 100000L, 700000L -> 100000L).foreach { case (start, n) =>
      spark.range(start, start + n).toDF("id").coalesce(1)
        .write.mode("append").parquet(in)
    }
    val targetBytes = 64L * 1024
    val groups = gl.Lake.compact(spark, in, out, targetBytes)
    // every row survives the mixed copy/rewrite plan
    val got = spark.read.parquet(out).as[Long].collect().toSet
    val want = (0L until 600L).toSet ++ (600L until 100600L) ++
      (700000L until 800000L)
    assert(got === want)
    // the singletons landed byte-identical under the copy names —
    // proof the executor-side FileUtil.copy → attempt-tmp → rename
    // chain committed whole files across JVM boundaries
    def bytes(p: java.nio.file.Path) = Files.readAllBytes(p).toSeq
    val inBySize = Files.list(Paths.get(in)).iterator()
    val bigIn = new scala.collection.mutable.ArrayBuffer[Seq[Byte]]
    while (inBySize.hasNext) {
      val p = inBySize.next()
      if (p.getFileName.toString.endsWith(".parquet") &&
          Files.size(p) >= targetBytes) bigIn += bytes(p)
    }
    assert(bigIn.size === 2)
    val copies = Files.list(Paths.get(out)).iterator()
    var copied = 0
    val leftovers = new scala.collection.mutable.ArrayBuffer[String]
    while (copies.hasNext) {
      val p = copies.next()
      val name = p.getFileName.toString
      if (name.startsWith("part-copy-")) {
        copied += 1
        assert(bigIn.exists(_ == bytes(p)), s"$name differs from every input")
      }
      if (name.startsWith("._tmp.")) leftovers += name
    }
    assert(copied === 2)
    assert(leftovers.isEmpty, leftovers.mkString(", "))
    assert(groups === 3) // 6 small files fit one 64 KB group + 2 singletons
  }

  test("cubeSnapshotSink(stateDir) kill/restart stays complete with" +
      " executor-side state stores (local-cluster)") {
    assume(haveData)
    import spark.implicits._
    import graft.binning.UniformAxis
    val root = java.nio.file.Files
      .createTempDirectory("cluster-restart").toFile.getPath
    val dataDir = s"$root/data"
    val ax = UniformAxis("value", 4, 0.0, 40.0)
    def startSink(onCube: graft.binning.BinnedCube => Unit) = {
      val schema = spark.read.parquet(dataDir).schema
      val stream = spark.readStream.schema(schema).parquet(dataDir)
      val binned = graft.streaming.StreamingBinning.windowedHistogram(
        stream, Seq(ax), "ts", "1 minute")
      graft.streaming.StreamingBinning.cubeSnapshotSink(binned, Seq(ax),
          (cube, _) => onCube(cube), stateDir = Some(s"$root/state"))
        .option("checkpointLocation", s"$root/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 5.0),
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:01"), 15.0),
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:02"), 15.5),
    ).toDF("ts", "value").coalesce(1).write.parquet(dataDir)
    @volatile var run1: Option[graft.binning.BinnedCube] = None
    val q1 = startSink(c => run1 = Some(c))
    q1.awaitTermination()
    assert(run1.get.total === 3L)
    // "kill": q1 is gone; run 2 is a FRESH sink on the same checkpoint.
    // The new file only touches bin 3 / a later window, so Update mode
    // never re-delivers bins 1/2 — they must come from the state restore
    Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:30"), 25.0),
      (java.sql.Timestamp.valueOf("2024-01-01 00:01:10"), 25.5),
    ).toDF("ts", "value").coalesce(1).write.mode("append").parquet(dataDir)
    @volatile var run2: Option[graft.binning.BinnedCube] = None
    val q2 = startSink(c => run2 = Some(c))
    q2.awaitTermination()
    val got = run2.get
    val batch = Binning.histogram(spark.read.parquet(dataDir), Seq(ax))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.total === 5L)
    (0 until 4).foreach { b =>
      assert(got(b) === batch.getOrElse(b.toLong, 0L), s"bin $b")
    }
  }

  test("WARC ingest decodes on executor JVMs") {
    assume(haveData)
    import spark.implicits._
    val docs = SparkEntry.table(spark, sfDir, "documents")
      .filter(col("text").isNotNull)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .repartition(8)
    val blobs = docs.map { case (id, text) =>
      val html = s"<html><body><p>${text.replace("&", "&amp;")
        .replace("<", "&lt;").replace(">", "&gt;")}</p></body></html>"
      val rec = pipeline.Warc.responseRecord(s"https://ex.com/doc/$id",
        "2026-01-01T00:00:00Z", html)
      (id, pipeline.Warc.encodeBlob(
        Seq(pipeline.Warc.warcinfoRecord(s"f$id.warc"), rec),
        gzipPerRecord = id % 2 == 0))
    }.toDF("doc_id", "warc")
    val out = pipeline.Warc.responses(blobs, "warc")
      .select(col("doc_id"), col("http_status"), col("target_uri"))
      .collect()
    assert(out.length === docs.count())
    assert(out.forall(_.getInt(1) == 200))
    assert(out.forall(r =>
      r.getString(2) == s"https://ex.com/doc/${r.getLong(0)}"))
  }
}
