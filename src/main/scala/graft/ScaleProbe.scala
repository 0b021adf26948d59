package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev utility (like BenchProf/TimeProbe): scaling-shape probe for the
  * heavy pipeline operators. Inflates the sf0.1 documents table by
  * 1×/4×/16× with NEAR-DUPLICATE copies (distinct ids, one extra token
  * per copy — a worst-realistic case for dedup: every document sits in
  * an f-clique), then times the operators whose cost could in principle
  * grow super-linearly. Read the per-factor timings for the cliff: a
  * healthy operator scales ~linearly in rows (pair outputs scale with
  * true duplicate mass, which here grows ~f² by construction — the
  * output row count is printed so the two effects can be separated).
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // TopKAgg is a TypedImperativeAggregate → ObjectHashAggregateExec,
      // which falls back to SORT-BASED aggregation past 128 distinct
      // groups per task (SQLConf default) — a full sort of the candidate
      // mass. Batch search has thousands of query-groups per task with
      // tiny (k-entry) buffers, so raise the threshold; heap cost is
      // groups × k × 16 B (see TopKAgg scaladoc)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "1000000")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    // "pairs64" mode: the pair-mass family only (minhash / fuzzy /
    // warc_html / zipf) pushed to ×64 — the rehearsal that catches a
    // super-linear exchange or a native-resource leak before the gate does
    val pairs64 = args.contains("pairs64")
    val base = spark.read.parquet(s"$dir/documents.parquet")

    def inflate(f: Int): DataFrame =
      base
        .withColumn("copy", explode(sequence(lit(0), lit(f - 1))))
        .withColumn("doc_id", col("doc_id") * 64 + col("copy"))
        .withColumn("text",
          concat_ws(" ", col("text"), concat(lit("tail"), col("copy"))))
        .drop("copy")

    // shuffle-write bytes per step (same metering as Bench): a probe that
    // only reports seconds can hide an exchange that grows super-linearly
    // but stays CPU-cheap at this scale
    val meter = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
          meter.addAndGet(
            sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      })

    // SPARK_GRAFT_ONLY=text_search,... skips non-matching workloads (name
    // prefix match) — re-running one ×64 leg must not pay for the others
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    def timedAlways(name: String, f: Int)(run: => Long): Unit = {
      org.apache.spark.GraftSparkBridge.drainListeners(spark.sparkContext)
      val before = meter.get()
      val t0 = System.nanoTime()
      val rows = run
      val sec = (System.nanoTime() - t0) / 1e9
      org.apache.spark.GraftSparkBridge.drainListeners(spark.sparkContext)
      val mb = (meter.get() - before) / 1e6
      println(f"SCALE $name%-16s x$f%-3d $sec%8.2f s  rows=$rows%-12d shuffle=$mb%10.2f MB")
    }
    def timed(name: String, f: Int)(run: => Long): Unit =
      if (!only.exists(!_.exists(name.startsWith))) timedAlways(name, f)(run)

    val factors = sys.env.get("SPARK_GRAFT_FACTORS")
      .map(_.split(",").map(_.trim.toInt).toSeq).getOrElse(Seq(1, 4, 16, 64))

    // "loader64": instrument-loader THROUGHPUT at growing file count —
    // the real mpes/flash fixtures copied ×f and ingested through the
    // full decode→assemble path. This is the scale framing the
    // BENCH_REF loader_compute_* rows cannot show: those time one tiny
    // file and measure Spark's fixed per-job latency floor (~0.1-1 s);
    // here the file count grows 64× and the question is whether
    // events/s scales with the file parallelism (one decode task per
    // file — a beamtime run IS many files).
    if (args.contains("loader64")) {
      val mpes = "/root/reference/tests/data/loader/mpes/Scan0030_2.h5"
      val flash = "/root/reference/tests/data/loader/flash/" +
        "FLASH1_USER3_stream_2_run43878_file1_20230130T153807.1.h5"
      if (!new java.io.File(mpes).exists()) {
        println("loader64: fixtures missing, skipping"); spark.stop(); return
      }
      val tmp = java.nio.file.Files.createTempDirectory("graft_loader64")
      def copies(src: String, tag: String, f: Int): Seq[String] =
        (0 until f).map { i =>
          val dst = java.nio.file.Paths.get(s"$tmp/${tag}_$i.h5")
          if (!java.nio.file.Files.exists(dst))
            java.nio.file.Files.copy(java.nio.file.Paths.get(src), dst)
          dst.toString
        }
      val mpesAliases = Seq("Stream_0" -> "X", "Stream_1" -> "Y",
        "Stream_2" -> "t", "Stream_4" -> "ADC")
      factors.foreach { f =>
        val mp = copies(mpes, "mpes", f)
        val t0 = System.nanoTime()
        val n = loader.StreamFixture.ingest(spark, mp, mpesAliases)
          .agg(count(lit(1)), sum(col("t"))).head().getLong(0)
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"SCALE loader_mpes      x$f%-3d $sec%8.2f s  rows=$n%-12d ${n / sec / 1e6}%6.1f M ev/s")
        val fl = copies(flash, "flash", f)
        val t1 = System.nanoTime()
        val (ev, _) = loader.InstrumentH5Loader.readDataframe(spark, fl)
        val nf = ev.agg(count(lit(1)), sum(col("dldTimeSteps"))).head().getLong(0)
        val sec1 = (System.nanoTime() - t1) / 1e9
        println(f"SCALE loader_flash     x$f%-3d $sec1%8.2f s  rows=$nf%-12d ${nf / sec1 / 1e6}%6.1f M ev/s")
        // GC between factors: a multi-factor run in ONE JVM otherwise
        // contaminates later factors with earlier ones' old-gen debris
        // (measured: mpes ×64 read 46 s after a ×1..×16 prefix vs 6.1 s
        // on a fresh JVM — same build, same data). For publishable
        // numbers run each factor in its own JVM (SPARK_GRAFT_FACTORS=64).
        System.gc()
      }
      spark.stop()
      return
    }

    // "bin64": the kernel histogram's weak-scaling rehearsal — rows
    // ×1..×64 through the SHIPPED Binning.histogram (CountByKey kernel
    // at both cube sizes here) at the two cube regimes that matter:
    // ~1e6 cells (32⁴ — strong map-side combining still possible) and
    // 1e8 cells (100⁴, the reference shape — rows ≈ cells, combining
    // ~nil). Reports per-factor sec + shuffle MB + the merge-map live-
    // entry high-water mark, i.e. the 256 MB/task sizing claim MEASURED
    // (peakMB = entries × 17 B). Healthy = sec and shuffle ~linear in
    // rows, peak bounded by mergePartitions' target.
    if (args.contains("bin64")) {
      import graft.binning._
      val baseRows = sys.env.getOrElse("SPARK_GRAFT_BIN64_ROWS", "4000000").toLong
      for (bpa <- Seq(32, 100)) {
        val axes = Seq(
          UniformAxis("X", bpa, 0.0, 2048.0),
          UniformAxis("Y", bpa, 0.0, 2048.0),
          UniformAxis("t", bpa, 60000.0, 120000.0),
          UniformAxis("ADC", bpa, 2000.0, 20000.0))
        factors.foreach { f =>
          val rows = baseRows * f
          def events = spark.range(0L, rows, 1L, cpus * 4).select(
            (rand(42) * 2048.0).as("X"),
            (rand(43) * 2048.0).as("Y"),
            (rand(44) * 60000.0 + 60000.0).as("t"),
            (rand(45) * 18000.0 + 2000.0).as("ADC"))
          graft.binning.HistogramKernel.maxMapEntries.set(0L)
          timedAlways(s"bin_k_${bpa}e4", f) {
            val h = Binning.histogram(events, axes)
            h.write.format("noop").mode("overwrite").save()
            -1L
          }
          val peak = graft.binning.HistogramKernel.maxMapEntries.get()
          println(f"SCALE bin_k_${bpa}e4_peak x$f%-3d merge-map peak " +
            f"$peak%d entries = ${peak * 17 / 1e6}%8.1f MB")
          // GC between factors (same rationale as loader64's note)
          System.gc()
        }
      }
      spark.stop()
      return
    }

    // "ingest64": the crawl front door at scale — WARC segment files of
    // growing COUNT (segments ×f, fixed records/segment) through the
    // full path route: recordsFromPaths → responsesFromRecords →
    // Curation.ingestCrawlFromPaths (HTTP gate, URL columns, HTML
    // extraction, language id). Stages are CUMULATIVE (each includes its
    // upstream — caching the streamed middle would defeat the
    // memory-bounded-by-one-record design being verified); read marginal
    // cost as the diff. Heap-after-GC is printed per factor: the decode
    // path streams record-by-record, so the ceiling must stay flat while
    // bytes grow 64×.
    if (args.contains("ingest64")) {
      import spark.implicits._
      val segRecords = 200
      val tmpRoot = java.nio.file.Files.createTempDirectory("graft_ingest64")
      factors.foreach { f =>
        val nSegs = 4 * f
        val segDir = s"$tmpRoot/f$f"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(segDir))
        // build segments executor-side: parallel gzip across cores; each
        // record carries ~15 KB of HTML so ×64 is ~0.8 GB of crawl bytes
        spark.range(0, nSegs, 1, math.min(nSegs, cpus)).as[Long].foreach { s =>
          val para = ("The quick brown fox jumps over the lazy dog near " +
            "the riverbank while engineers benchmark streaming ingestion. ") * 12
          val recs = (0 until segRecords).map { r =>
            val id = s * segRecords + r
            val html = s"<html><head><title>Doc $id</title></head><body>" +
              s"<h1>Document $id</h1>" +
              (0 until 10).map(p => s"<p>$para seg $s rec $r para $p</p>")
                .mkString + "</body></html>"
            pipeline.Warc.responseRecord(
              s"https://crawl.example.com/seg$s/doc$r", "d", html)
          }
          val bytes = pipeline.Warc.encodeBlob(recs, gzipPerRecord = true)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(f"$segDir/seg_$s%05d.warc.gz"), bytes)
          ()
        }
        val segBytes = new java.io.File(segDir).listFiles().map(_.length).sum
        // decoded volume is what scales the decode/parse work: ~13.5 KB
        // of HTML per record (the gzip members compress the repeated
        // prose ~25×, as real WARC segments do)
        val decodedMb = nSegs * segRecords * 13.5e3 / 1e6
        println(s"-- factor $f: $nSegs segments, ${nSegs * segRecords} " +
          f"records, ${segBytes / 1e6}%.1f MB on disk / ~$decodedMb%.0f MB decoded --")
        val paths = new java.io.File(segDir).listFiles().map(_.getPath)
          .sorted.toSeq.toDF("path")
        // each stage aggregates over its HEAVY column — a bare count()
        // would let Catalyst prune the decode/extract projections and
        // time only the record framing (measured: 0.6 s for ~700 MB of
        // "extraction", i.e. the work never ran)
        def forced(df: DataFrame, heavy: String): Long = {
          val r = df.agg(count(lit(1)), sum(length(col(heavy)))).head()
          if (r.isNullAt(1) && r.getLong(0) > 0)
            sys.error(s"$heavy all-null — probe no longer forces the work")
          r.getLong(0)
        }
        timed("records", f)(
          forced(pipeline.Warc.recordsFromPaths(paths), "payload"))
        timed("responses", f)(
          forced(pipeline.Warc.responsesFromRecords(
            pipeline.Warc.recordsFromPaths(paths)).drop("path"), "body"))
        timed("ingest_full", f)(
          forced(pipeline.Curation.ingestCrawlFromPaths(paths), "text"))
        System.gc()
        val used = (Runtime.getRuntime.totalMemory() -
          Runtime.getRuntime.freeMemory()) / 1e6
        println(f"SCALE heap_after_gc    x$f%-3d $used%8.0f MB")
        // drop this factor's segments before inflating the next one
        new java.io.File(segDir).listFiles().foreach(_.delete())
      }
      spark.stop()
      return
    }

    // "tfrecord64": the TFRecord lake's weak-scaling rehearsal — shard
    // COUNT grows ×f at a fixed 256 records/shard (8 KB binary records,
    // deterministic sha2-derived bytes), through the full commit
    // protocol (attempt-keyed tmp → idempotent rename → driver litter
    // sweep → _SUCCESS) and back. Asserted per factor, not just timed:
    // exactly one read task per shard file, marker present + zero _tmp
    // litter after the epilogue, and flat heap-after-GC (write and read
    // are memory-bounded by one record). The driver's commit epilogue
    // (one listStatus + marker create) is inside the write timing, so
    // healthy = write/read seconds ~linear in shards (sec/shard flat ⇔
    // commit overhead O(files)) with a flat heap ceiling.
    if (args.contains("tfrecord64")) {
      val tmpRoot = java.nio.file.Files.createTempDirectory("graft_tfrec64")
      val recsPerShard = 256
      val baseShards = 8
      factors.foreach { f =>
        val shards = baseShards * f
        val lake = s"$tmpRoot/f$f"
        // 8 KB deterministic binary per record: 64 hex chars of sha2
        // repeated 256× and unhexed — no driver-side materialization
        val df = spark.range(0L, shards.toLong * recsPerShard, 1L, shards)
          .select(unhex(repeat(
            sha2(col("id").cast("string"), 256), 256)).as("rec"))
        timedAlways("tfrec_write", f) {
          pipeline.TfRecord.writeRecords(df, "rec", lake)
        }
        timedAlways("tfrec_read", f) {
          pipeline.TfRecord.readRecords(spark, lake)
            .agg(count(lit(1)), sum(length(col("record")))).head().getLong(0)
        }
        // structural assertions — the claims the cluster smoke pinned at
        // one size, re-checked at every factor
        val perPart = pipeline.TfRecord.readRecords(spark, lake)
          .select("path").rdd
          .mapPartitions(it =>
            Iterator.single(it.map(_.getString(0)).toSet.size))
          .collect()
        require(perPart.length == shards && perPart.forall(_ == 1),
          s"tfrecord64 x$f: expected one task per shard ($shards), got " +
            s"${perPart.length} partitions, per-task shard counts " +
            perPart.distinct.mkString("{", ",", "}"))
        val names = new java.io.File(lake).listFiles().map(_.getName)
        require(names.contains("_SUCCESS"), s"tfrecord64 x$f: marker missing")
        require(!names.exists(_.startsWith("_tmp.")),
          s"tfrecord64 x$f: attempt litter survived the driver sweep")
        System.gc()
        val used = (Runtime.getRuntime.totalMemory() -
          Runtime.getRuntime.freeMemory()) / 1e6
        println(f"SCALE heap_after_gc    x$f%-3d $used%8.0f MB  " +
          s"(shards=$shards, one-task-per-shard ok, marker ok, no litter)")
        // drop this factor's lake before inflating the next one
        try {
          import scala.reflect.io.Directory
          new Directory(new java.io.File(lake)).deleteRecursively()
        } catch { case _: Throwable => () }
        ()
      }
      spark.stop()
      return
    }

    // "tfrecseq64": the tfrecord64 rehearsal on a SequenceExample
    // FLOAT-FRAME lake — per-timestep float vectors
    // (array<array<float>>, the newest wire path: IEEE754 float encode
    // + inner-list framing, q_tfrecord_seq_float's shape) instead of
    // opaque binary records. Same per-factor assertions: exactly one
    // read task per shard, marker present, zero _tmp litter, flat
    // heap-after-GC — the write path additionally round-trips through
    // proto encode/decode, so a per-record memory leak or a super-
    // linear encode cost would surface here first.
    if (args.contains("tfrecseq64")) {
      import org.apache.spark.sql.types._
      val tmpRoot = java.nio.file.Files.createTempDirectory("graft_tfrecseq64")
      val recsPerShard = 256
      val baseShards = 8
      val steps = 32; val frameDim = 16 // 512 floats/record (~2.3 KB wire)
      val ctxSchema = StructType(Seq(StructField("id", LongType)))
      val seqSchema = StructType(Seq(StructField("frames",
        ArrayType(ArrayType(FloatType)))))
      factors.foreach { f =>
        val shards = baseShards * f
        val lake = s"$tmpRoot/f$f"
        // deterministic per-(record, timestep, component) floats — no
        // driver-side materialization, exact in float32
        val df = spark.range(0L, shards.toLong * recsPerShard, 1L, shards)
          .select(col("id"),
            transform(sequence(lit(0), lit(steps - 1)), t =>
              transform(sequence(lit(0), lit(frameDim - 1)), j =>
                ((col("id") % 997) * 513 + t * 17 + j).cast("float")
                  * lit(0.001f))).as("frames"))
        timedAlways("tfrecseq_write", f) {
          pipeline.TfRecord.writeSequenceExamples(df, lake,
            contextCols = Seq("id"), sequenceCols = Seq("frames"))
        }
        timedAlways("tfrecseq_read", f) {
          val back = pipeline.TfRecord.readSequenceExamples(spark, lake,
            ctxSchema, seqSchema)
            .agg(count(lit(1)).as("n"),
              sum(aggregate(flatten(col("frames")), lit(0.0),
                (acc, x) => acc + x.cast("double"))).as("s")).head()
          require(back.getLong(0) == shards.toLong * recsPerShard,
            s"tfrecseq64 x$f: record count ${back.getLong(0)} != " +
              s"${shards.toLong * recsPerShard}")
          back.getLong(0)
        }
        // structural assertions — same claims as tfrecord64, re-checked
        // on the SequenceExample lake at every factor
        val perPart = pipeline.TfRecord.readRecords(spark, lake)
          .select("path").rdd
          .mapPartitions(it =>
            Iterator.single(it.map(_.getString(0)).toSet.size))
          .collect()
        require(perPart.length == shards && perPart.forall(_ == 1),
          s"tfrecseq64 x$f: expected one task per shard ($shards), got " +
            s"${perPart.length} partitions, per-task shard counts " +
            perPart.distinct.mkString("{", ",", "}"))
        val names = new java.io.File(lake).listFiles().map(_.getName)
        require(names.contains("_SUCCESS"), s"tfrecseq64 x$f: marker missing")
        require(!names.exists(_.startsWith("_tmp.")),
          s"tfrecseq64 x$f: attempt litter survived the driver sweep")
        System.gc()
        val used = (Runtime.getRuntime.totalMemory() -
          Runtime.getRuntime.freeMemory()) / 1e6
        println(f"SCALE heap_after_gc    x$f%-3d $used%8.0f MB  " +
          s"(shards=$shards, one-task-per-shard ok, marker ok, no litter)")
        try {
          import scala.reflect.io.Directory
          new Directory(new java.io.File(lake)).deleteRecursively()
        } catch { case _: Throwable => () }
        ()
      }
      spark.stop()
      return
    }

    // "recall64": ANN QUALITY at scale — recall@10 of IVF / IVF-PQ /
    // IVF-PQ+re-rank against the exact brute-force baseline
    // (Similarity.bruteTopKBatch + recallAgainst) across
    // nProbe ∈ {1,2,4,8,√lists} at ×1..×16 (the brute baseline is
    // Θ(queries × corpus) by definition — it, not the ANN paths, bounds
    // the probe's factor range). √N centroids (the encoded build rule);
    // the table this prints backs Ivf.suggestedProbes' default and the
    // re-rank recall-recovery claim with numbers.
    if (args.contains("recall64")) {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      factors.filter(_ <= 16).foreach { f =>
        val corpus = emb
          .withColumn("copy", explode(sequence(lit(0), lit(f - 1))))
          .select((col("vec_id") * 64 + col("copy")).as("vec_id"),
            transform(col("embedding"),
              x => x + col("copy").cast("float") * lit(0.003f)).as("embedding"))
          .cache()
        val n = corpus.count()
        val qn = 64 * f
        val queries = corpus.filter(col("vec_id") % lit(math.max(1L, n / qn)) === 0)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
          .cache()
        val nq = queries.count()
        val kRoot = math.max(16, math.sqrt(n.toDouble).toInt)
        val cents = pipeline.Similarity.kmeansCentroids(corpus, "embedding",
          "vec_id", kRoot, iters = 3, sampleN = math.max(2000, 4 * kRoot))
        val pqModel = pipeline.Pq.fitOnSample(corpus, "embedding", "vec_id",
          dim = 64, m = 8, k = 16, sampleN = 2000)
        val exact = pipeline.Similarity.bruteTopKBatch(queries, "q_vec",
          "q_id", corpus, "embedding", "vec_id", k = 10).cache()
        exact.count()
        println(s"-- factor $f: $n vectors, $nq queries, $kRoot lists, " +
          s"suggestedProbes=${pipeline.Ivf.suggestedProbes(kRoot)} --")
        def avgRecall(d: DataFrame): Double =
          pipeline.Similarity.recallAgainst(d, exact, "q_id", "vec_id")
            .agg(avg(col("recall"))).head().getDouble(0)
        val probeSet =
          (Seq(1, 2, 4, 8) :+ pipeline.Ivf.suggestedProbes(kRoot))
            .distinct.sorted
        probeSet.foreach { np =>
          def t[A](body: => A): (A, Double) = {
            val t0 = System.nanoTime()
            val a = body
            (a, (System.nanoTime() - t0) / 1e9)
          }
          val (rIvf, tIvf) = t(avgRecall(pipeline.Ivf.searchAll(
            queries, "q_vec", "q_id", corpus, "embedding", "vec_id",
            cents, k = 10, nProbe = np)))
          val (rPq, tPq) = t(avgRecall(pipeline.Ivf.searchAllPq(
            queries, "q_vec", "q_id", corpus, "embedding", "vec_id",
            cents, pqModel, k = 10, nProbe = np)))
          val (rRr, tRr) = t(avgRecall(pipeline.Ivf.searchAllPq(
            queries, "q_vec", "q_id", corpus, "embedding", "vec_id",
            cents, pqModel, k = 10, nProbe = np, reRank = 50)))
          val mark = if (np == pipeline.Ivf.suggestedProbes(kRoot)) " <- default" else ""
          println(f"RECALL x$f%-3d nProbe=$np%-3d ivf=$rIvf%.4f ($tIvf%5.1f s)  " +
            f"pq=$rPq%.4f ($tPq%5.1f s)  pq_rr50=$rRr%.4f ($tRr%5.1f s)$mark")
        }
        exact.unpersist(); queries.unpersist(); corpus.unpersist()
      }
      spark.stop()
      return
    }

    // "index64": the batch-index family — Ivf.searchAll / searchAllPq /
    // TextIndex.searchAll at growing corpus × query-batch scale. The
    // pair-mass-shaped risk here is candidate fan-out per query: with a
    // FIXED centroid count, avg postings-list size grows with the corpus
    // and total candidates grow f² (corpus f × queries f); the scale rule
    // is k ≈ √N centroids (fan-out then grows f^1.5 total, f^0.5 per
    // query) — both variants are measured so the cliff and its fix carry
    // numbers. Query batch = 64·f vectors / queries.
    if (args.contains("index64")) {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val docsB = spark.read.parquet(s"$dir/documents.parquet")
      factors.foreach { f =>
        val corpus = emb
          .withColumn("copy", explode(sequence(lit(0), lit(f - 1))))
          .select((col("vec_id") * 64 + col("copy")).as("vec_id"),
            transform(col("embedding"),
              x => x + col("copy").cast("float") * lit(0.003f)).as("embedding"))
          .cache()
        val n = corpus.count()
        val qn = 64 * f
        val queries = corpus.filter(col("vec_id") % lit(math.max(1L, n / qn)) === 0)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
          .cache()
        val nq = queries.count()
        println(s"-- factor $f: $n vectors, $nq queries --")
        // centroid sets: fixed 16 (the naive choice) vs √N (the scale rule)
        val kFixed = 16
        val kRoot = math.max(16, math.sqrt(n.toDouble).toInt)
        val centsFixed = pipeline.Similarity.kmeansCentroids(corpus, "embedding",
          "vec_id", kFixed, iters = 3, sampleN = 2000)
        val centsRoot = pipeline.Similarity.kmeansCentroids(corpus, "embedding",
          "vec_id", kRoot, iters = 3, sampleN = math.max(2000, 4 * kRoot))
        timed(s"ivf_search_k$kFixed", f)(
          pipeline.Ivf.searchAll(queries, "q_vec", "q_id", corpus,
            "embedding", "vec_id", centsFixed, k = 10, nProbe = 2).count())
        timed(s"ivf_search_root", f)(
          pipeline.Ivf.searchAll(queries, "q_vec", "q_id", corpus,
            "embedding", "vec_id", centsRoot, k = 10, nProbe = 2).count())
        // same search with URL-STRING doc ids: since round 11 these ride
        // the TopKStrAgg heap — the leg must track the integral-id
        // numbers (pre-round-11 they fell back to the full-candidate-mass
        // window, the 2.5 GB-at-×16 shape)
        val corpusS = corpus.select(
          concat(lit("https://crawl.example.com/doc/"), col("vec_id"))
            .as("vec_id"), col("embedding"))
        timed(s"ivf_root_strid", f)(
          pipeline.Ivf.searchAll(queries, "q_vec", "q_id", corpusS,
            "embedding", "vec_id", centsRoot, k = 10, nProbe = 2).count())
        val pqModel = pipeline.Pq.fitOnSample(corpus, "embedding", "vec_id",
          dim = 64, m = 8, k = 16, sampleN = 2000)
        timed(s"ivf_pq_root", f)(
          pipeline.Ivf.searchAllPq(queries, "q_vec", "q_id", corpus,
            "embedding", "vec_id", centsRoot, pqModel, k = 10,
            nProbe = 2).count())
        // BM25 batch: corpus f×, query batch 64·f three-term queries;
        // candidate mass = Σ df(term) over query terms — linear in f per
        // query, f² total, bounded per query only by term selectivity
        val docsX = docsB
          .withColumn("copy", explode(sequence(lit(0), lit(f - 1))))
          .select((col("doc_id") * 64 + col("copy")).as("doc_id"),
            concat_ws(" ", col("text"), concat(lit("tail"), col("copy")))
              .as("text"))
          .cache()
        val nd = docsX.count()
        val postings = pipeline.TextIndex.postingsFrame(docsX, "text", "doc_id")
          .cache()
        postings.count()
        val stats = docsX.select(
          avg(pipeline.TextOps.tokenCount(col("text")))).head().getDouble(0)
        val tQueries = docsX
          .filter(col("doc_id") % lit(math.max(1L, nd / qn)) === 0)
          .select(col("doc_id").as("q_id"),
            slice(split(col("text"), " "), 1, 3).as("terms"))
        // unpruned plan PINNED (autoDfPrune = false) for trend
        // continuity with the round-10 tables — this is the leg that
        // aborts the box at ×64 on stopword-grade queries
        timed("text_search", f)(
          pipeline.TextIndex.searchAll(tQueries, "q_id", "terms", postings,
            nDocs = nd, avgLen = stats, k = 10,
            autoDfPrune = false).count())
        // df-pruning head-to-head on MIXED queries (2 stopword-grade
        // terms at ~78% df + the rare per-copy tail token at ~1.5%):
        // unpruned pays the common terms' f² candidate mass; df10 keeps
        // only the rare term, bounding the exchange at queries × df(rare)
        val sp = split(col("text"), " ")
        val mQueries = docsX
          .filter(col("doc_id") % lit(math.max(1L, nd / qn)) === 0)
          .select(col("doc_id").as("q_id"),
            concat(slice(sp, 1, 2), slice(sp, -1, 1)).as("terms"))
        timed("text_mix", f)(
          pipeline.TextIndex.searchAll(mQueries, "q_id", "terms", postings,
            nDocs = nd, avgLen = stats, k = 10,
            autoDfPrune = false).count())
        timed("text_mix_df10", f)(
          pipeline.TextIndex.searchAll(mQueries, "q_id", "terms", postings,
            nDocs = nd, avgLen = stats, k = 10,
            maxDfFraction = Some(0.10)).count())
        // DEFAULT-SETTINGS call (round-11 auto df-prune): the common
        // terms (~78% df) cross the 10000-df floor at N > 12.8k docs
        // (f ≥ 4 here), the per-copy tail token (df = 5000 at every f)
        // never does — so above ×1 the default call must route to the
        // df-pruned shape and SURVIVE ×64 where the pinned unpruned leg
        // dies
        timed("text_mix_auto", f)(
          pipeline.TextIndex.searchAll(mQueries, "q_id", "terms", postings,
            nDocs = nd, avgLen = stats, k = 10).count())
        postings.unpersist(); docsX.unpersist()
        queries.unpersist(); corpus.unpersist()
      }
      spark.stop()
      return
    }

    // "curate64": the full curate() funnel — language → gopher quality →
    // exact dedup → near-dup (auto plan) → temperature mixture → split —
    // at ×1..×64 with PER-STAGE marginal sec + shuffle MB. Stage inputs
    // are cache-materialized so each timing isolates one stage instead of
    // recomputing the prefix; the composition mirrors Curation.curate's
    // order exactly (asserted at ×1 by matching curate()'s output count).
    if (args.contains("curate64")) {
      // SPARK_GRAFT_ONLY is ignored here: each stage's timing assumes the
      // previous stage's cache is materialized, so skipping a stage would
      // silently fold its cost into the next measured one
      if (only.nonEmpty)
        println("curate64: SPARK_GRAFT_ONLY ignored (stage isolation needs the full chain)")
      factors.foreach { f =>
        val df0 = inflate(f).cache()
        val n0 = df0.count()
        println(s"-- factor $f: $n0 docs --")
        var cur = df0
        def stage(name: String)(next: DataFrame => DataFrame): Unit = {
          val out = next(cur).cache()
          timedAlways(name, f)(out.count())
          cur.unpersist()
          cur = out
        }
        // thresholds tuned to the synthetic corpus (published defaults
        // reject ~100% of its word-salad text: half the docs sit under 50
        // tokens and dup-word ratios run high) so every downstream stage
        // sees a realistic surviving mass — the signal COMPUTATION cost
        // being measured is threshold-independent
        val g = pipeline.Curation.GopherConfig(minTokens = 10,
          minRequiredHits = 0, minAlphaRatio = 0.5,
          maxDupWord = 1.0, maxDup2gram = 1.0)
        stage("language")(d => d.filter(col("lang").isin("en", "de", "fr")))
        stage("gopher") { d =>
          val keep = pipeline.TextOps.gopherColumns(d, "text", "doc_id",
            g.minTokens, g.maxTokens, g.minAvgLen, g.maxAvgLen,
            g.maxSymbolRatio, g.minAlphaRatio, g.minRequiredHits,
            g.maxDupWord, g.maxDup2gram)
            .filter(col("gopher_keep") === 1).select(col("doc_id"))
          d.join(keep, Seq("doc_id"), "left_semi")
        }
        stage("exact_dedup")(d =>
          pipeline.Dedup.dropExactDuplicates(d, "text", "doc_id"))
        stage("near_dedup")(d =>
          pipeline.Dedup.dropNearDuplicates(d, "text", "doc_id",
            threshold = 0.7, plan = "auto"))
        stage("temperature")(d =>
          pipeline.Sampling.resampleByTemperature(d, "doc_id", "source", 0.7))
        stage("split")(d => pipeline.Sampling.assignSplit(d, "doc_id",
          Seq("train" -> 980, "val" -> 10, "test" -> 10)))
        if (f == 1) {
          // drift guard: the mirrored chain IS curate()'s composition
          val (curated, _) = pipeline.Curation.curate(df0, "doc_id", "text",
            "lang", "source", pipeline.Curation.CurationConfig(
              keepLanguages = Set("en", "de", "fr"),
              gopher = true, gopherConfig = g, dropExact = true,
              nearDupThreshold = Some(0.7), nearDupPlan = "auto",
              temperatureAlpha = Some(0.7),
              splits = Seq("train" -> 980, "val" -> 10, "test" -> 10)))
          val a = curated.count(); val b = cur.count()
          require(a == b, s"probe chain diverged from curate(): $b vs $a")
          println(s"SCALE curate_parity    x$f   OK rows=$a")
        }
        cur.unpersist(); df0.unpersist()
      }
      spark.stop()
      return
    }

    if (pairs64) {
      factors.foreach { f =>
        val df = inflate(f).cache()
        val n = df.count()
        println(s"-- factor $f: $n docs --")
        timed("minhash_pairs", f)(
          pipeline.Dedup.minhashNearDuplicates(df, "text", "doc_id",
            threshold = 0.7).count())
        timed("minhash_inline", f)(
          pipeline.Dedup.minhashNearDuplicates(df, "text", "doc_id",
            threshold = 0.7, inlineVerify = true).count())
        // census-routed plan (the user-facing default in Curation): must
        // track the inline numbers on this clique corpus — census cost
        // included in the timing
        timed("minhash_auto", f)(
          pipeline.Dedup.minhashNearDuplicatesAuto(df, "text", "doc_id",
            threshold = 0.7).count())
        timed("fuzzy_pairs", f)(
          pipeline.Fuzzy.editSimilarityPairs(
            df.withColumn("t40", substring(col("text"), 1, 40)),
            "doc_id", "t40", "source", maxEdit = 8).count())
        timed("warc_html", f) {
          import spark.implicits._
          val blobs = df.select(col("doc_id"), col("text"))
            .repartition(cpus)
            .as[(Long, String)].map { case (id, text) =>
              val html = s"<html><head><title>D$id</title></head><body><h1>" +
                s"D$id</h1><p>${Option(text).getOrElse("")}</p></body></html>"
              (id, pipeline.Warc.encodeBlob(Seq(pipeline.Warc.responseRecord(
                s"https://ex.com/$id", "d", html)), gzipPerRecord = true))
            }.toDF("doc_id", "warc")
          pipeline.Warc.responses(blobs, "warc")
            .select(pipeline.Html.extractText(col("body"))).count()
        }
        // zipf: vocab grows ~linearly in rows (one unique token per
        // doc-copy) — the keyless-window regression this guards against
        // would funnel the whole vocab through one task
        timed("zipf", f)(
          pipeline.TextOps.zipfProfile(
            df.withColumn("text",
              concat_ws(" ", col("text"), concat(lit("uniq"), col("doc_id")))),
            "text").count())
        df.unpersist()
      }
      spark.stop()
      return
    }

    Seq(1, 4, 16).foreach { f =>
      val df = inflate(f).cache()
      val n = df.count()
      println(s"-- factor $f: $n docs --")
      timed("exact_dup", f)(
        pipeline.Dedup.exactDuplicates(df, "text", "doc_id").count())
      timed("minhash_pairs", f)(
        pipeline.Dedup.minhashNearDuplicates(df, "text", "doc_id",
          threshold = 0.7).count())
      timed("dedup_drop", f)(
        pipeline.Dedup.dropNearDuplicates(df, "text", "doc_id",
          threshold = 0.7).count())
      timed("dsir_weights", f)(
        pipeline.Dsir.importanceWeights(df, "doc_id", "text",
          col("source") === "src0").count())
      timed("domain_kl", f)(
        pipeline.Drift.domainDivergence(df, "text", "source").count())
      timed("dup_passages", f)(
        pipeline.Dedup.duplicatePassages(df, "doc_id", "text").count())
      // fuzzy pairs: near-dup copies differ by one appended token
      // (edit distance ≈ 6) — maxEdit 8 keeps copies inside the
      // threshold, so true-pair mass again grows ~f² while candidate
      // generation must stay band-bounded
      timed("fuzzy_pairs", f)(
        pipeline.Fuzzy.editSimilarityPairs(
          df.withColumn("t40", substring(col("text"), 1, 40)),
          "doc_id", "t40", "source", maxEdit = 8).count())
      timed("para_dedup", f)(
        pipeline.Dedup.dropRepeatedParagraphs(
          df.withColumn("text", translate(col("text"), " ", "\n")),
          "text", "doc_id").count())
      timed("url_parse", f)(
        pipeline.UrlOps.urlColumns(
          df.withColumn("url", concat(lit("https://h"),
            col("doc_id") % 1000, lit(".example.com/a/b?id="),
            col("doc_id"), lit("&utm_source=x"))), "url").count())
      // crawl chain: synthesize a WARC blob per doc (gzip members), then
      // records→HTTP→HTML→text — all map-side; must scale linearly
      timed("warc_html", f) {
        import spark.implicits._
        // the inflated frame inherits the base parquet's few partitions;
        // spread the CPU-bound gzip/parse work across the cores (a real
        // crawl lake arrives as one partition per WARC file)
        val blobs = df.select(col("doc_id"), col("text"))
          .repartition(cpus)
          .as[(Long, String)].map { case (id, text) =>
            val html = s"<html><head><title>D$id</title></head><body><h1>" +
              s"D$id</h1><p>${Option(text).getOrElse("")}</p></body></html>"
            (id, pipeline.Warc.encodeBlob(Seq(pipeline.Warc.responseRecord(
              s"https://ex.com/$id", "d", html)), gzipPerRecord = true))
          }.toDF("doc_id", "warc")
        pipeline.Warc.responses(blobs, "warc")
          .select(pipeline.Html.extractText(col("body"))).count()
      }
      // robots filter: rules per domain (|domains| tiny), corpus-keyed agg
      timed("robots", f) {
        val urls = df.select(col("doc_id"),
          concat(col("source"), lit(".com")).as("domain"),
          expr("repeat('/seg', int(doc_id % 4))").as("path"))
        val robots = urls.select("domain").distinct().withColumn("robots",
          lit("User-agent: *\nDisallow: /seg/seg\nAllow: /seg/seg/seg\n"))
        pipeline.Robots.filterAllowed(urls, "domain", "path",
          pipeline.Robots.rules(robots, "robots")).count()
      }
      df.unpersist()
    }
    // graph scaling: synthetic power-law-ish edges from the events table,
    // scaled by edge-set replication (node space grows with the factor)
    val ev = spark.read.parquet(s"$dir/events.parquet")
    Seq(1, 4, 16).foreach { f =>
      val edges = ev.withColumn("copy", explode(sequence(lit(0), lit(f - 1))))
        .select(((col("user_id") + col("copy") * 1000) % lit(200 * f)).as("src"),
          ((col("event_id") + col("copy") * 77) % lit(200 * f)).as("dst"))
      val t0 = System.nanoTime()
      val n = pipeline.Graph.pageRank(edges, "src", "dst", iterations = 5).count()
      println(f"SCALE pagerank5        x$f%-3d ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$n")
    }
    spark.stop()
  }
}
