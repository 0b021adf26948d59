package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.col

import graft.binning.UniformAxis

/** Guards on the driver contract and on the physical-plan shapes the
  * scale story depends on (regressions here wouldn't fail correctness,
  * only the 100 TB plan).
  */
class ContractSpec extends SparkSpec {
  import spark.implicits._

  // Queries whose results are deterministic but not ANSI-SQL-expressible
  // (engine-internal hash layouts); the driver records a rows-only check
  // for these. Empty since q_bloom_new gained its exact-dedup oracle —
  // additions here need a property test covering the semantics.
  private val rowsOnlyQueries = Set.empty[String]

  test("every query has an oracle and every oracle has a query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o) === rowsOnlyQueries, s"queries without oracle: ${q -- o}")
    assert((o -- q).isEmpty, s"orphaned oracles: ${o -- q}")
  }

  test("multi-axis histogram plan: one exchange, partial aggregation, no UDFs") {
    val df = Seq.fill(1000)((math.random() * 10, math.random() * 10))
      .toDF("x", "y")
    val hist = binning.Binning.histogram(df,
      Seq(UniformAxis("x", 10, 0.0, 10.0), UniformAxis("y", 10, 0.0, 10.0)))
    hist.collect()
    val executed = hist.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case other                    => other.toString
    }
    // partial + final hash aggregation around a single shuffle on the
    // flat bin key — the per-partition histogram the reference hand-rolls
    assert("partial_count".r.findAllIn(executed).nonEmpty, executed)
    assert("Exchange hashpartitioning\\(_flat".r.findAllIn(executed).length === 1,
      executed)
    assert(!executed.contains("BatchEvalPython") && !executed.contains("ScalaUDF"),
      "hot path must stay UDF-free")
  }

  test("asofJoin and rangeJoin never plan a nested-loop or cartesian join") {
    val left = Seq.tabulate(500)(i => (i.toLong, s"k${i % 3}", (i * 7 % 100).toLong))
      .toDF("id", "k", "t")
    val right = Seq.tabulate(50)(i => (s"k${i % 3}", (i * 13 % 100).toLong, i * 1.0))
      .toDF("k", "t", "v")
      .groupBy("k", "t").agg(org.apache.spark.sql.functions.max("v").as("v"))
    val asof = dfops.DfOps.asofJoin(left, right, "t", "t", Seq("k"), Seq("v"))
    asof.collect()
    val range = dfops.DfOps.rangeJoin(
      left.select(col("id"), col("t").cast("double").as("x")), "x",
      right.select(col("t").cast("double").as("lo"),
        (col("t") + 10.0).cast("double").as("hi"), col("v")),
      "lo", "hi", bucketWidth = 10.0)
    range.collect()
    for (df <- Seq(asof, range)) {
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan.toString
        case other                    => other.toString
      }
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"), plan)
    }
  }

  test("minhash band exchange carries no signature arrays") {
    val docs = Seq.tabulate(200)(i =>
      (i.toLong, s"the quick brown fox ${i % 20} jumps over the lazy dog " * 3))
      .toDF("doc_id", "text")
    // disable broadcast joins so the at-scale shuffle plan shape is what
    // gets asserted (at test size AQE would broadcast the band join away)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    val pairs =
      try {
        val p = pipeline.Dedup.minhashNearDuplicates(docs, "text", "doc_id")
        p.collect()
        p
      } finally {
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    val executed = pairs.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other                    => other
    }
    // AQE query stages are leaves of the final plan — descend explicitly
    def all(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p +: (p match {
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        all(q.plan)
      case _ => p.children.flatMap(all)
    })
    val bandExchanges = all(executed).collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
          if e.outputPartitioning.toString.contains("band_hash") => e
    }
    assert(bandExchanges.nonEmpty, executed.toString)
    bandExchanges.foreach { e =>
      assert(!e.output.exists(_.name.contains("sig")),
        s"band exchange must shuffle (id, band) only, got ${e.output}")
    }
  }

  test("chunking is map-only; packing shuffles once, keyed on pack_group") {
    val docs = Seq.tabulate(300)(i =>
      (i.toLong, Seq.fill(i % 30 + 1)(s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    def planOf(df: org.apache.spark.sql.DataFrame): String = {
      df.collect()
      df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan.toString
        case other                    => other.toString
      }
    }
    // context-window chunking: row amplification with NO exchange — it
    // must fuse into whatever scan feeds it at 100 TB
    val chunks = planOf(
      pipeline.TextOps.chunkTokens(docs, "text", "doc_id", 16, 8))
    assert(!chunks.contains("Exchange"), chunks)
    // sequence packing: exactly one exchange, keyed on the hash group
    val pack = planOf(
      pipeline.TextOps.packSequences(docs, "text", "doc_id", 64L, 8))
    assert("Exchange hashpartitioning\\(pack_group".r
      .findAllIn(pack).length === 1, pack)
    assert("Exchange".r.findAllIn(pack).length === 1, pack)
  }

  test("model-apply passes are map-only; kmeans stats shuffle exactly once") {
    val docs = Seq.tabulate(100)(i => (i.toLong, s"tok$i word$i more$i"))
      .toDF("doc_id", "text")
    val vecs = Seq.tabulate(100)(i =>
      (i.toLong, Seq.fill(8)((i % 7).toFloat))).toDF("vec_id", "embedding")
    def planOf(df: org.apache.spark.sql.DataFrame): String = {
      df.collect()
      df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan.toString
        case other                    => other.toString
      }
    }
    // classifier scoring: pure projection, no exchange, no UDF nodes
    val score = planOf(pipeline.QualityModel.scoreQuality(
      docs, "text", Array.fill(32)(0.1), 0.0))
    assert(!score.contains("Exchange") && !score.contains("BatchEvalPython")
      && !score.contains("ScalaUDF"), score)
    // PQ encoding: map-only as well
    val model = pipeline.Pq.Model(8, 2,
      Array.tabulate(2)(s => Array.tabulate(4)(c =>
        Array.fill(4)(c.toDouble))))
    val enc = planOf(pipeline.Pq.encode(vecs, "embedding", model))
    assert(!enc.contains("Exchange") && !enc.contains("ScalaUDF"), enc)
    // one Lloyd stats pass: partial agg -> ONE exchange on cluster -> final
    val cents = Array(Array.fill(8)(0.0), Array.fill(8)(6.0))
    val stats = planOf(pipeline.KMeans.clusterStats(vecs, "embedding", cents))
    assert("Exchange".r.findAllIn(stats).length === 1, stats)
    assert(stats.contains("partial_vectorsumagg"), stats)
    // funnel: ONE key exchange + sorted-array fold, never a per-step
    // join chain (the report wrapper is driver-side and trivially flat)
    val ev = Seq((1L, 1L, "A"), (1L, 2L, "B"), (2L, 1L, "A"))
      .toDF("user_id", "ts", "event_type")
    val funnel = planOf(dfops.DfOps.funnelDepth(
      ev, "ts", "event_type", Seq("user_id"), Seq("A", "B")))
    assert("Exchange".r.findAllIn(funnel).length === 1, funnel)
    assert(!funnel.contains("Join"), funnel)
    // ADC top-k: per-partition top-k (TakeOrderedAndProject), never a
    // global sort of the encoded corpus
    val adc = planOf(pipeline.Pq.adcTopK(
      pipeline.Pq.encode(vecs, "embedding", model),
      "pq_code", "vec_id", Array.fill(8)(0.5), model, 5))
    assert(adc.contains("TakeOrderedAndProject"), adc)
    assert(!adc.contains("Exchange rangepartitioning"), adc)
  }

  test("bloom dedup = exact dedup minus a bounded FP budget (forced FPs)") {
    // the q_bloom_new oracle equates bloom with the exact anti-join; this
    // pins the semantic contract on the regime where they CAN differ — a
    // deliberately undersized filter (expectedItems 500 for 1000 inserts,
    // ~70% bit fill → per-probe FP ≈ 0.4) that forces false positives
    val docs = (0 until 2000).map(i => (i.toLong, s"bloom contract doc $i"))
      .toDF("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val fp = pipeline.Dedup.buildBloomFingerprint(
      corpus, "text", expectedItems = 500, fpp = 0.1)
    val bloomKept = pipeline.Dedup.dropBloomSeen(docs, "text", fp)
      .select("doc_id").as[Long].collect().toSet
    val exactKept = docs.join(corpus.select(col("text")), Seq("text"), "left_anti")
      .select("doc_id").as[Long].collect().toSet
    // bloom can only DROP extra rows (false positives), never keep a seen one
    assert(bloomKept.subsetOf(exactKept),
      s"bloom kept rows exact dedup dropped: ${bloomKept -- exactKept}")
    assert((exactKept -- bloomKept).nonEmpty,
      "fixture failed to force any false positives — tighten it")
    // and the FP budget is a budget, not a collapse
    assert(bloomKept.size >= exactKept.size / 2,
      s"FP blowup: kept ${bloomKept.size} of ${exactKept.size}")
  }

  test("heavy-hitter re-count prunes to candidates; rollup expands map-side") {
    def planOf(df: org.apache.spark.sql.DataFrame): String = {
      df.collect()
      df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan.toString
        case other                    => other.toString
      }
    }
    val dir = java.nio.file.Files.createTempDirectory("hh").toFile.getPath + "/t"
    ((1 to 200).map(_ => "hot") ++ (1 to 50).map(i => s"cold$i"))
      .toDF("item").write.parquet(dir)
    // pass 2 of the two-pass recipe: the exchange must sit ABOVE a
    // candidate filter pushed at the scan (partial agg of filtered
    // rows), never shuffle the full dictionary
    val hh = planOf(pipeline.HeavyHitters.heavyHitters(
      spark.read.parquet(dir), "item", minFrac = 0.5, sketchK = 8))
    assert("(?i)item.* IN |INSET".r.findFirstIn(hh).isDefined, hh)
    assert("PushedFilters: \\[.*In\\(item".r.findFirstIn(hh).isDefined, hh)
    assert("Exchange".r.findAllIn(hh).length === 1, hh)
    // rollup: ONE aggregation over a map-side Expand — a second corpus
    // scan or per-level union would show up as extra exchanges
    val docs = Seq(("a", "en", 1L), ("b", "de", 2L)).toDF("s", "l", "w")
    val ru = planOf(pipeline.Sampling.mixtureRollup(docs, Seq("s", "l"),
      org.apache.spark.sql.functions.col("w")))
    assert(ru.contains("Expand"), ru)
    assert("Exchange".r.findAllIn(ru).length === 1, ru)
    // transition matrix: lead-window exchange + matrix agg exchange +
    // the normalizer's re-key of the |types|²-row grouped result — and
    // never a self-join of the corpus
    val ev = Seq((1L, 1L, "A"), (1L, 2L, "B")).toDF("u", "ts", "et")
    val tm = planOf(dfops.DfOps.transitionMatrix(ev, "ts", "et", Seq("u")))
    assert(!tm.contains("Join"), tm)
    assert("Exchange".r.findAllIn(tm).length <= 3, tm)
  }

  test("resample broadcasts rates onto the corpus; dup-passages shuffles once") {
    def planOf(df: org.apache.spark.sql.DataFrame): String = {
      df.collect()
      df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan.toString
        case other                    => other.toString
      }
    }
    val dir = java.nio.file.Files.createTempDirectory("rs").toFile.getPath + "/t"
    Seq.tabulate(300)(i =>
      (i.toLong, if (i % 3 == 0) "a" else "b", s"some repeated text body $i"))
      .toDF("id", "dom", "text").write.parquet(dir)
    val corpus = spark.read.parquet(dir)
    // the corpus output path is map-only: rates arrive by broadcast, and
    // the only shuffles in the plan belong to the tiny rate-table
    // derivation (domain-count agg + its keyless window)
    val rs = planOf(pipeline.Sampling.resampleToMixture(
      corpus, "id", "dom", Map("a" -> 0.6, "b" -> 0.4)))
    assert(rs.contains("BroadcastHashJoin"), rs)
    assert(!rs.contains("SortMergeJoin"), rs)
    assert("Exchange (hashpartitioning|SinglePartition)".r
      .findAllIn(rs).length <= 2, rs)
    // duplicated passages: explode → partial agg → ONE fp-keyed exchange;
    // never a join, never a second corpus pass
    val dp = planOf(pipeline.Dedup.duplicatePassages(corpus, "id", "text"))
    assert(!dp.contains("Join"), dp)
    assert("Exchange hashpartitioning\\(fp".r.findAllIn(dp).length === 1, dp)
    assert("Exchange (hashpartitioning|SinglePartition)".r
      .findAllIn(dp).length === 1, dp)
  }

  test("dsir scoring and epoch upsampling never shuffle the corpus") {
    def planOf(df: org.apache.spark.sql.DataFrame): String = {
      df.collect()
      df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan.toString
        case other                    => other.toString
      }
    }
    val dir = java.nio.file.Files.createTempDirectory("ds").toFile.getPath + "/t"
    Seq.tabulate(200)(i =>
      (i.toLong, s"s${i % 3}", s"token$i words about topic ${i % 9}"))
      .toDF("id", "src", "text").write.parquet(dir)
    val corpus = spark.read.parquet(dir)
    // DSIR scoring: λ already estimated (that pass is its own agg job) —
    // the corpus-wide weight pass must be a pure projection
    val lambda = pipeline.Dsir.importanceTable(
      corpus, "text", col("src") === "s0", 64)
    val score = planOf(corpus.select(col("id"),
      pipeline.Dsir.importanceWeightColumn(col("text"), lambda).as("w")))
    assert(!score.contains("Exchange"), score)
    assert(!score.contains("Join"), score)
    // end-to-end DSIR selection: one map-scored top-k pass — weights
    // are a column on the corpus scan (no id join), top-k is
    // per-partition (no global sort)
    val sel = planOf(pipeline.Dsir.select(
      corpus, "id", "text", col("src") === "s0", 20, 64))
    assert(!sel.contains("Join"), sel)
    assert(sel.contains("TakeOrderedAndProject"), sel)
    // epoch upsampling: map-side generator only
    val ep = planOf(pipeline.Sampling.upsampleEpochs(
      corpus, "id", "src", Map("s0" -> 2.5, "s1" -> 0.0)))
    assert(ep.contains("Generate"), ep)
    assert(!ep.contains("Exchange"), ep)
    assert(!ep.contains("Join"), ep)
    // passage exposure: equi-joins only (no forced broadcast of the
    // repeated set — it can be corpus-sized on boilerplate-heavy input)
    val exp = planOf(pipeline.Dedup.duplicatePassageExposure(
      corpus, "id", "text"))
    assert(!exp.contains("BroadcastNestedLoopJoin"), exp)
    assert(!exp.contains("CartesianProduct"), exp)
  }

  test("histogram scan prunes to exactly the binned columns") {
    val dir = java.nio.file.Files.createTempDirectory("prune").toFile.getPath + "/t"
    Seq.fill(100)((1.0, 2.0, 3.0, "pad")).toDF("a", "b", "c", "d")
      .write.parquet(dir)
    val hist = binning.Binning.histogram(spark.read.parquet(dir),
      Seq(UniformAxis("a", 5, 0.0, 5.0), UniformAxis("c", 5, 0.0, 5.0)))
    val scan = hist.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    val schema = scan.split("ReadSchema: ").last
    assert(schema === "struct<a:double,c:double>", scan)
  }

  test("zValue and int8 quantization are map-only; seq ids shuffle once") {
    def planOf(df: org.apache.spark.sql.DataFrame): String = {
      df.collect()
      df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan.toString
        case other                    => other.toString
      }
    }
    val df = spark.range(2000).select(
      (col("id") % 97).as("x"), (col("id") % 89).as("y"))
    val z = planOf(df.select(
      loader.Lake.zValue(Seq(col("x"), col("y")), 8).as("z")))
    assert(!z.contains("Exchange") && !z.contains("Join"), z)
    val vecs = Seq.tabulate(100)(i =>
      (i.toLong, Array.tabulate(8)(j => (i * j).toFloat))).toDF("id", "v")
    val q = planOf(vecs.select(
      pipeline.Similarity.quantizeInt8(col("v")).as("q")))
    assert(!q.contains("Exchange") && !q.contains("Join"), q)
    // withSequentialIds: ONE range exchange feeds both the count job and
    // the id-attach job (zipWithIndex reuses the shuffle); in particular
    // there is no single-partition global-window stage
    val ids = pipeline.Sampling.withSequentialIds(df, Seq("x", "y"),
      numPartitions = 4)
    ids.collect()
    val plan = ids.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(ids.rdd.getNumPartitions === 4)
  }

  test("zipfProfile ranks the vocab without a keyless window") {
    // VERDICT r8: a single-partition Window over a 1e8-type web vocab is
    // a scale-killer — ranks must attach via range-repartition +
    // zipWithIndex; this pin fails if anyone reintroduces the window
    val docs = Seq.tabulate(200)(i =>
      (i.toLong, s"alpha beta w$i gamma ${if (i % 2 == 0) "delta" else "eps"}"))
      .toDF("doc_id", "text")
    val out = pipeline.TextOps.zipfProfile(docs, "text")
    val row = out.collect().head
    assert(!out.queryExecution.executedPlan.toString.contains("Window"),
      out.queryExecution.executedPlan.toString)
    assert(row.getAs[Long]("n_types") === 205) // alpha/beta/gamma/delta/eps + w0..w199
    assert(row.getAs[Long]("n_tokens") === 1000)
    assert(row.getAs[Double]("zipf_slope") < 0.0) // frequency decays in rank
  }

  test("json/url extraction are map-only; fuzzy pairs join equi-keyed only") {
    def planOf(df: org.apache.spark.sql.DataFrame): String = {
      df.collect()
      df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan.toString
        case other                    => other.toString
      }
    }
    val docs = Seq((1L, """{"k": 3}""", "https://a.b.com/x?utm_source=z", "s"))
      .toDF("id", "js", "url", "blk")
    val j = planOf(dfops.SemiStructured.extractJson(docs, "js",
      Map("k" -> (("$.k", org.apache.spark.sql.types.IntegerType)))))
    assert(!j.contains("Exchange") && !j.contains("Join"), j)
    val u = planOf(pipeline.UrlOps.urlColumns(docs, "url"))
    assert(!u.contains("Exchange") && !u.contains("Join"), u)
    // fuzzy matching: hash equi-join on (block, band) + filter — never a
    // nested-loop/cartesian pair generator
    val f = pipeline.Fuzzy.editSimilarityPairs(
      docs.select(col("id"), col("url").as("txt"), col("blk")),
      "id", "txt", "blk", maxEdit = 2)
    val fp = planOf(f)
    assert(!fp.contains("BroadcastNestedLoopJoin") && !fp.contains("Cartesian"), fp)
  }

  test("scd2 single-exchange guard holds through the gate query shape") {
    val obs = Seq((1L, 10L, 1L, "a"), (1L, 20L, 2L, "b"), (2L, 5L, 3L, "c"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val h = dfops.History.scd2(obs, Seq("user_id"), "ts",
      Seq("event_type"), tieBreak = Seq("event_id"))
    h.collect()
    val plan = h.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case other                    => other.toString
    }
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges === 1, plan)
  }

  test("runQuiet: absolute canary envelope around the committed constants") {
    // at the committed quiet constants the run is quiet
    assert(Bench.runQuiet(Bench.quietCpuCanarySec, Bench.quietBwCanarySec))
    // boundary: cpu 1.3×, bw 1.5× still quiet; just past either is not
    assert(Bench.runQuiet(Bench.quietCpuCanarySec * 1.3,
      Bench.quietBwCanarySec * 1.5))
    assert(!Bench.runQuiet(Bench.quietCpuCanarySec * 1.31,
      Bench.quietBwCanarySec))
    assert(!Bench.runQuiet(Bench.quietCpuCanarySec,
      Bench.quietBwCanarySec * 1.51))
    // both dimensions gate independently — a loud bw probe is not excused
    // by a quiet cpu probe (the round-12 contamination shape)
    assert(!Bench.runQuiet(0.0, 1.0))
    assert(!Bench.runQuiet(1.0, 0.0))
  }

  test("the library entry points the benchmark compiles against keep their types") {
    // perfbench/ builds against these calls with these argument names and
    // types; a test suite that compiles only src/ would not notice a change
    import org.apache.spark.sql.{Column, DataFrame}
    import org.apache.spark.sql.functions.sum
    import graft.binning.{BinAxis, Binning}
    import graft.calibrate.Energy
    import graft.export.CubeIO
    import graft.fit.Fields
    import graft.loader.GenericLoader
    import graft.pipeline.Dedup
    val tmp = java.nio.file.Files.createTempDirectory("contract").toString
    val n = 16
    val detector = ((0.0, n.toDouble), (0.0, n.toDouble))
    val forward = Array.tabulate(n, n)((r, _) => r + 0.5)
    val (ir, ic): (Array[Array[Double]], Array[Array[Double]]) =
      Fields.invertField(forward, forward.transpose, n, n, detector)
    val inverse: Array[Array[Array[Double]]] = Array(ir, ic)

    Seq.tabulate(40)(i => (i * 0.4, (i * 7 % 40) * 0.4, 3000.0 + i, 2000.0 + 400.0 * i))
      .toDF("X", "Y", "t", "ADC").coalesce(1).write.parquet(s"$tmp/events")
    val files: Seq[String] = GenericLoader.gatherFiles(s"$tmp/events", "parquet")
    val events: DataFrame = GenericLoader.read(spark, files)
    val chain: Processor = new Processor(spark, events)
      .addJitter(Seq("X", "Y"), amps = Seq(0.5, 0.5), seed = 7L)
      .applyMomentumCorrection(inverse, detector, "X", "Y", "Xm", "Ym")
      .applyMomentumCalibration("Xm", "Ym", rStart = 0.0, cStart = 0.0,
        rCenter = 8.0, cCenter = 8.0, rConversion = 0.002,
        cConversion = 0.002, rStep = 1.0, cStep = 1.0)
      .applyEnergyCorrection(
        Energy.Correction.spherical(_, _, 8.0, 8.0, 0.05, 4096.0),
        tofColumn = "t", xColumn = "Xm", yColumn = "Ym", correctedTofColumn = "tm")
      .appendEnergyAxis("tm", Left((2.4e11, 100.0, 0.5)), binwidth = 2.0, binning = 0)
      .calibrateDelayAxis("ADC", (2000.0, 20000.0), delayRange = Some((-500.0, 1500.0)))
    val calibrated: DataFrame = chain.dataframe

    val axes: Seq[UniformAxis] = Seq(UniformAxis("kx", 4, -0.05, 0.05),
      UniformAxis("delay", 4, -500.0, 1500.0))
    val idx: Seq[Column] =
      axes.map(ax => Binning.binIndex(ax: BinAxis).as(Binning.idxName(ax): String))
    val hist: DataFrame = Binning.histogram(calibrated, axes)
    CubeIO.writeSparse(hist, axes, s"$tmp/cube"): Unit
    val (cube, axesJson): (DataFrame, String) = CubeIO.readSparse(spark, s"$tmp/cube")
    val inRange = calibrated.select(idx: _*).na.drop().count()
    assert(inRange > 0)
    assert(cube.select(sum("cnt")).first().getLong(0) === inRange)
    assert(axesJson.contains("delay"))

    val corpus = Seq.tabulate(30)(i => (i.toLong, s"the quick brown fox ${i % 10} jumps"))
      .toDF("doc_id", "text")
    val kept: DataFrame = Dedup.dropExactDuplicates(corpus, "text", "doc_id")
    val near: DataFrame = Dedup.minhashNearDuplicatesAuto(kept, "text", "doc_id", threshold = 0.5)
    val sigs: DataFrame = Dedup.minhashSignatures(kept, "text", "doc_id")
    val bands: DataFrame = Dedup.minhashBands(sigs, 32, 8)
    assert(kept.count() === 10L)
    assert(near.select(col("id_a"), col("id_b")).collect()
      .forall(r => r.getLong(0) < r.getLong(1)))
    assert(bands.count() === 10L * 8)
    spark.catalog.clearCache()
  }
}
