package graft.pipeline

import org.apache.spark.sql.functions._
import graft.SparkSpec

class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog", "a"),
    (1L, "the quick brown fox jumps over the lazy dog", "a"), // exact dup of 0
    (2L, "the quick brown fox jumped over the lazy dog", "a"), // near dup
    (3L, "completely different content about spark aggregation engines", "a"),
    (4L, "der schnelle braune fuchs und der faule hund ist nicht da", "b"),
    (5L, "le renard brun rapide est pour les chiens un une des", "b"),
  ).toDF("doc_id", "text", "source")

  test("exactDuplicates keeps lowest id and counts clusters") {
    val out = Dedup.exactDuplicates(docs, "text", "doc_id")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    assert(out(0L) === 2L) // docs 0 and 1 collapse
    assert(out.values.sum === 6L)
    val kept = Dedup.dropExactDuplicates(docs, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq === Seq(0L, 2L, 3L, 4L, 5L))
  }

  test("minhash LSH finds the near-dup pair and skips unrelated docs") {
    val pairs = Dedup.minhashNearDuplicates(docs, "text", "doc_id",
        threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L))) // identical → jaccard 1
    assert(pairs.contains((0L, 2L)) || pairs.contains((1L, 2L))) // near dup
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L)) // unrelated
  }

  test("minhash est_jaccard is exact 1.0 for identical docs") {
    val est = Dedup.minhashNearDuplicates(docs, "text", "doc_id", threshold = 0.5)
      .filter(col("id_a") === 0 && col("id_b") === 1)
      .select("est_jaccard").as[Double].head()
    assert(est === 1.0)
  }

  test("minhash inlineVerify plan: identical pairs, no distinct, no" +
      " pair-keyed attach joins") {
    // a clique-heavy corpus (every base doc in an 8-clique) where the
    // inline plan's output must still match the default plan exactly
    val clique = docs.withColumn("copy",
      explode(sequence(lit(0), lit(7))))
      .select((col("doc_id") * 100 + col("copy")).as("doc_id"),
        concat_ws(" ", col("text"), concat(lit("t"), col("copy"))).as("text"))
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "est_jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val dflt = norm(Dedup.minhashNearDuplicates(clique, "text", "doc_id",
      threshold = 0.5))
    val inline = Dedup.minhashNearDuplicates(clique, "text", "doc_id",
      threshold = 0.5, inlineVerify = true)
    assert(norm(inline) === dflt)
    assert(dflt.size > 40) // the cliques actually produced pair mass
    // each pair appears exactly once (first-matching-band rule)
    val inlineRows = inline.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(inlineRows.length === inlineRows.toSet.size)
    // plan shape: one band-keyed join, no HashAggregate-distinct over
    // pairs, no id-keyed attach joins
    inline.collect()
    val plan = inline.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString
      case other => other.toString
    }
    assert(plan.split("Join").length - 1 === 1, plan) // exactly one join
    assert(!plan.contains("HashAggregate"), plan) // no pair distinct
  }

  test("minhash pair-mass census: exact on cliques, sample-rescaled") {
    // 6 base docs × 8 identical copies: every copy-clique agrees in all
    // bands, so pairMass = bands × Σ 8·7/2 = 8 × 6 × 28
    val clique = docs.withColumn("copy", explode(sequence(lit(0), lit(7))))
      .select((col("doc_id") * 100 + col("copy")).as("doc_id"), col("text"))
    val (d, pm) = Dedup.minhashPairMassCensus(clique, "text", "doc_id")
    assert(d === 48.0)
    // identical copies contribute 8×28 per base doc; the near-dup base
    // pairs (0-1 identical, 0-2/1-2 close) add cross-clique mass on top
    assert(pm >= 8 * 6 * 28.0)
    // sampled census rescales: same corpus, fraction=0.5 → docs estimate
    // within a loose band (deterministic seed, exact equality not owed)
    val (ds, _) = Dedup.minhashPairMassCensus(clique, "text", "doc_id",
      fraction = 0.5)
    assert(ds > 20 && ds < 90, s"sampled docs estimate $ds")
  }

  test("sampled census (the shipped 0.1 default) routes like exact census") {
    // big enough that the 0.1 sample clears the tiny-corpus fallback
    // (sampled docs ≈ 600 ≥ 400): routing decisions must match the exact
    // census on both corpus shapes the rule separates
    val benign = spark.range(6000).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 8).map(j =>
        concat(lit(s"w${j}_"), col("id"))): _*).as("text"))
    val cliques = spark.range(6000).select(col("id").as("doc_id"),
      concat_ws(" ", (0 until 8).map(j =>
        concat(lit(s"w${j}_"), col("id") % 120)): _*).as("text"))
    for ((corpus, expectInline) <- Seq(benign -> false, cliques -> true)) {
      val exact = Dedup.minhashPairMassCensus(corpus, "text", "doc_id")
      val sampled = Dedup.minhashPairMassCensus(corpus, "text", "doc_id",
        fraction = 0.1)
      assert(Dedup.minhashPreferInline(exact._1, exact._2) === expectInline)
      assert(Dedup.minhashPreferInline(sampled._1, sampled._2) === expectInline,
        s"sampled census flipped routing: exact=$exact sampled=$sampled")
    }
  }

  test("minhash auto plan routes a clique corpus to the inline shape," +
      " identical output") {
    val clique = docs.withColumn("copy", explode(sequence(lit(0), lit(7))))
      .select((col("doc_id") * 100 + col("copy")).as("doc_id"),
        concat_ws(" ", col("text"), concat(lit("t"), col("copy"))).as("text"))
    val (d, pm) = Dedup.minhashPairMassCensus(clique, "text", "doc_id")
    assert(Dedup.minhashPreferInline(d, pm)) // ≈186 pre-distinct pairs/doc
    // censusFloorBytes = 0: this spec pins the CENSUS routing, which the
    // toy-scale floor would otherwise bypass on a 48-doc corpus
    val auto = Dedup.minhashNearDuplicatesAuto(clique, "text", "doc_id",
      threshold = 0.5, censusFloorBytes = 0L)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "est_jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(norm(auto) === norm(Dedup.minhashNearDuplicates(clique, "text",
      "doc_id", threshold = 0.5)))
    // plan-pinned: the routed plan is the inline shape — exactly one
    // (band-keyed) join, no pair-distinct HashAggregate
    auto.collect()
    val plan = auto.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString
      case other => other.toString
    }
    assert(plan.split("Join").length - 1 === 1, plan)
    assert(!plan.contains("HashAggregate"), plan)
  }

  test("minhash auto plan keeps a sparse corpus on the default shape") {
    val (d, pm) = Dedup.minhashPairMassCensus(docs, "text", "doc_id")
    assert(!Dedup.minhashPreferInline(d, pm)) // few pairs per doc
    val auto = Dedup.minhashNearDuplicatesAuto(docs, "text", "doc_id",
      threshold = 0.5, censusFloorBytes = 0L)
    auto.collect()
    val plan = auto.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString
      case other => other.toString
    }
    // default shape: candidate distinct (HashAggregate) + two sig-attach
    // joins on top of the band-keyed join
    assert(plan.contains("HashAggregate"), plan)
    assert(plan.split("Join").length - 1 === 3, plan)
  }

  test("hot-key guard: degenerate bucket flips the distinct to pair keying," +
      " pair set unchanged") {
    // one hot band bucket: 8 byte-identical copies per base doc agree in
    // EVERY band (maxBucket = 8), while pairMassPerDoc = 1e18 pins the
    // ROUTE to the default (distinct-carrying) plan — isolating the
    // guard. Cap 10 < bands × (maxBucket − 1) = 56 ⇒ pair-keyed distinct.
    val clique = docs.withColumn("copy", explode(sequence(lit(0), lit(7))))
      .select((col("doc_id") * 100 + col("copy")).as("doc_id"), col("text"))
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "est_jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def finalPlan(df: org.apache.spark.sql.DataFrame): String = {
      df.collect()
      df.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan.toString
        case other => other.toString
      }
    }
    val pairKeyedRe = "hashpartitioning\\(id_a#\\d+L?, id_b#\\d+L?".r
    val want = norm(Dedup.minhashNearDuplicates(clique, "text", "doc_id",
      threshold = 0.5))
    spark.conf.set("spark.graft.minhash.hotKeyRowCap", "10")
    try {
      val guarded = Dedup.minhashNearDuplicatesAuto(clique, "text", "doc_id",
        threshold = 0.5, pairMassPerDoc = 1e18, censusFloorBytes = 0L)
      assert(norm(guarded) === want) // identical distinct pair set
      val plan = finalPlan(guarded)
      // the distinct's exchange carries BOTH pair columns: the hottest
      // id_a's candidate mass now disperses by id_b instead of landing
      // on one partition
      assert(pairKeyedRe.findFirstIn(plan).isDefined, plan)
    } finally spark.conf.unset("spark.graft.minhash.hotKeyRowCap")
    // with the default (high) cap the same corpus keeps the shared
    // id_a-keyed exchange — the guard costs nothing until it triggers
    val unguarded = Dedup.minhashNearDuplicatesAuto(clique, "text", "doc_id",
      threshold = 0.5, pairMassPerDoc = 1e18, censusFloorBytes = 0L)
    assert(norm(unguarded) === want)
    assert(pairKeyedRe.findFirstIn(finalPlan(unguarded)).isEmpty)
  }

  test("auto plan skips the census entirely under the toy-scale floor") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // floored path: constructing the plan fires ZERO Spark jobs (the
      // census is an eager collect; the skip must remove the action, not
      // just ignore its answer)
      org.apache.spark.GraftSparkBridge.drainListeners(spark.sparkContext)
      val before = jobs.get()
      val auto = Dedup.minhashNearDuplicatesAuto(docs, "text", "doc_id",
        threshold = 0.5)
      org.apache.spark.GraftSparkBridge.drainListeners(spark.sparkContext)
      assert(jobs.get() === before,
        "census action ran despite the corpus sitting under the floor")
      // and the result is the default plan's result
      def norm(df: org.apache.spark.sql.DataFrame) =
        df.select("id_a", "id_b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(norm(auto) === norm(Dedup.minhashNearDuplicates(
        docs, "text", "doc_id", threshold = 0.5)))
      // disabling the floor restores the census action
      org.apache.spark.GraftSparkBridge.drainListeners(spark.sparkContext)
      val before2 = jobs.get()
      Dedup.minhashNearDuplicatesAuto(docs, "text", "doc_id",
        threshold = 0.5, censusFloorBytes = 0L)
      org.apache.spark.GraftSparkBridge.drainListeners(spark.sparkContext)
      assert(jobs.get() > before2, "census action missing with floor disabled")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** `n` docs: ids k and k + 550 are byte-identical (exact copies), and
    * 2m, 2m + 1 (mod 550) differ by one trailing word (near copies). */
  private def nearCorpus(n: Int, partitions: Int = 4) = {
    val base = col("id") % 550
    spark.range(0, n, 1, partitions).select(col("id").as("doc_id"),
      concat_ws(" ", ((0 until 8).map(j =>
        concat(lit(s"w${j}_"), (base / 2).cast("long"))) :+
        when(base % 2 === 1, lit("tail"))): _*).as("text"))
  }

  private lazy val nearParquet: org.apache.spark.sql.DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory("near-corpus").toString
    nearCorpus(600).write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  /** Spark jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.GraftSparkBridge.drainListeners(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.GraftSparkBridge.drainListeners(spark.sparkContext)
      jobs.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def withConfs[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("near-dup plans over an input with exchanges start no Spark job") {
    val kept = Dedup.dropExactDuplicates(nearParquet, "text", "doc_id")
    // the parallelism guard must not execute the exact-dedup frame to
    // count its partitions (under AQE `df.rdd` runs its map stages)
    assert(jobsDuring {
      Dedup.minhashSignatures(kept, "text", "doc_id")
      Dedup.minhashNearDuplicates(kept, "text", "doc_id")
      Dedup.simhashNearDuplicates(kept, "text", "doc_id")
    } === 0)
    // nor build a cache that is still unbuilt over such a plan
    val cached = Dedup.dropExactDuplicates(nearParquet, "text", "doc_id").cache()
    try assert(jobsDuring(Dedup.minhashSignatures(cached, "text", "doc_id")) === 0)
    finally cached.unpersist()
  }

  test("a one-partition exchange-free input still fans the signature stage" +
      " out to the shuffle partitions") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def exchangeWidths(df: org.apache.spark.sql.DataFrame): Seq[Int] =
      Dedup.minhashSignatures(df, "text", "doc_id").queryExecution.sparkPlan
        .collect { case e: ShuffleExchangeExec => e.outputPartitioning.numPartitions }
    val p = spark.sessionState.conf.numShufflePartitions
    assert(exchangeWidths(nearCorpus(64, partitions = 1)) === Seq(p))
    assert(exchangeWidths(nearCorpus(64, partitions = p)) === Nil)
  }

  test("auto plan: census and pairs share one signature shuffle, no cache" +
      " entry is left") {
    val kept = Dedup.dropExactDuplicates(nearParquet, "text", "doc_id")
    val docs = kept.count()
    spark.catalog.clearCache()
    // (rdd ids, shuffle records written) of every completed stage
    val written = new java.util.concurrent.ConcurrentLinkedQueue[(Set[Int], Long)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        written.add(s.stageInfo.rddInfos.map(_.id).toSet ->
          s.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    spark.sparkContext.addSparkListener(listener)
    val (auto, pairs) = try {
      val auto = Dedup.minhashNearDuplicatesAuto(kept, "text", "doc_id",
        threshold = 0.5, censusFloorBytes = 0L)
      val pairs = auto.collect()
      org.apache.spark.GraftSparkBridge.drainListeners(spark.sparkContext)
      (auto, pairs)
    } finally spark.sparkContext.removeSparkListener(listener)
    val found = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((0L until 550L by 2).forall(m => found((m, m + 1)))) // near copies
    assert(spark.sharedState.cacheManager.isEmpty)
    // the signature frame's id shuffle: its map stage completed once, over
    // every document, although the census and the pair plan both read it
    // (its map stage is the one stage that computes the map-side RDD)
    def mapSides(rdd: org.apache.spark.rdd.RDD[_]): Seq[Int] =
      rdd.dependencies.flatMap {
        case s: org.apache.spark.ShuffleDependency[_, _, _] => Seq(s.rdd.id)
        case d => mapSides(d.rdd)
      }
    val sigMapSide = auto.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => mapSides(l.rdd).head
    }.distinct
    assert(sigMapSide.length === 1)
    import scala.jdk.CollectionConverters._
    assert(written.asScala.toSeq.filter(_._1.contains(sigMapSide.head))
      .map(_._2) === Seq(docs))
  }

  test("auto plan: the attach joins read the signature shuffle without" +
      " another exchange") {
    import org.apache.spark.sql.execution.{GenerateExec, RDDScanExec}
    import org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val kept = Dedup.dropExactDuplicates(nearParquet, "text", "doc_id")
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val auto = Dedup.minhashNearDuplicatesAuto(kept, "text", "doc_id",
        threshold = 0.5, censusFloorBytes = 0L)
      auto.collect()
      val plan = auto.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case other => other
      }
      // the attach joins are the two whose right side reads the signature
      // frame directly (the band join's sides read it through posexplode)
      // (the helper walks into query stages, which are plan leaves)
      val aqe = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      def has(p: org.apache.spark.sql.execution.SparkPlan)(
          pred: org.apache.spark.sql.execution.SparkPlan => Boolean) =
        aqe.find(p)(pred).isDefined
      val attach = aqe.collect(plan) {
        case j: SortMergeJoinExec if has(j.right)(_.isInstanceOf[RDDScanExec]) &&
            !has(j.right)(_.isInstanceOf[GenerateExec]) => j
      }
      assert(attach.length === 2, plan)
      attach.foreach(j => assert(!has(j.right) {
        case _: Exchange | _: ShuffleQueryStageExec => true
        case _ => false
      }, plan))
    }
  }

  test("auto plan pairs equal minhashNearDuplicates with AQE on and off and" +
      " at 1 and 64 shuffle partitions") {
    val kept = Dedup.dropExactDuplicates(nearParquet, "text", "doc_id")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b", "est_jaccard").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    for ((aqe, parts) <- Seq(("true", "4"), ("false", "4"), ("true", "1"),
        ("true", "64"), ("false", "64")))
      withConfs("spark.sql.adaptive.enabled" -> aqe,
          "spark.sql.shuffle.partitions" -> parts) {
        val want = norm(Dedup.minhashNearDuplicates(kept, "text", "doc_id",
          threshold = 0.5))
        assert(want.size >= 275) // the (2m, 2m + 1) near copies, and more
        assert(norm(Dedup.minhashNearDuplicatesAuto(kept, "text", "doc_id",
          threshold = 0.5, censusFloorBytes = 0L)) === want, s"aqe=$aqe parts=$parts")
      }
  }

  test("TopKAgg == window row_number ranking across partitions, ties and" +
      " duplicates") {
    // 40k candidate rows over 37 queries, 64 partitions, heavy score
    // ties — the mergeable heap must reproduce the window ranking
    // (score desc, id asc) exactly, including at the k boundary
    val cand = spark.range(40000).repartition(64)
      .select((col("id") % 37).as("q_id"),
        (col("id") * 7919 % 100003).as("doc_id"),
        ((col("id") * 31 % 11).cast("double") / 10.0).as("score"))
      .distinct() // duplicate (q, doc) pairs would rank twice in both forms
    val viaAgg = cand.groupBy(col("q_id"))
      .agg(TopKAgg.topK(col("score"), col("doc_id"), 5).as("_top"))
      .select(col("q_id"), explode(col("_top")).as("_e"))
      .select(col("q_id"), col("_e.id").as("doc_id"), col("_e.score").as("score"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val w = org.apache.spark.sql.expressions.Window.partitionBy("q_id")
      .orderBy(col("score").desc, col("doc_id"))
    val viaWindow = cand.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= 5).drop("_rn")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaAgg === viaWindow)
    assert(viaAgg.size === 37 * 5)
  }

  test("rankTopK on STRING ids: heap plan, window parity, binary ties, NaN") {
    // url-style string ids over many partitions with heavy score ties —
    // the string heap must reproduce the window ranking (score desc, id
    // asc in Spark's binary string order) exactly, and PLAN as an
    // ObjectHashAggregate (bounded exchange), not the window fallback
    val cand = spark.range(40000).repartition(64)
      .select((col("id") % 37).as("q_id"),
        concat(lit("https://ex.com/doc/"), col("id") * 7919 % 100003)
          .as("doc_id"),
        when(col("id") % 97 === 0, lit(Double.NaN))
          .otherwise((col("id") * 31 % 11).cast("double") / 10.0).as("score"))
      .distinct()
    val ranked = TopKAgg.rankTopK(cand, "q_id", "doc_id", "score", 5)
    assert(ranked.schema("doc_id").dataType ===
      org.apache.spark.sql.types.StringType)
    val plan = ranked.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"),
      s"string ids must ride the heap aggregate:\n$plan")
    assert(!plan.contains("Window"), s"window fallback leaked back in:\n$plan")
    val viaAgg = ranked.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val w = org.apache.spark.sql.expressions.Window.partitionBy("q_id")
      .orderBy(col("score").desc, col("doc_id"))
    val viaWindow = cand.filter(!isnan(col("score")))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= 5).drop("_rn")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(viaAgg === viaWindow)
    assert(viaAgg.size === 37 * 5)
    assert(!viaAgg.exists(_._3.isNaN))
  }

  test("rankTopK window fallback (non-heap id types): parity, ties, NaN") {
    // decimal ids ride neither heap — the case _ window branch must
    // keep the same contract (score desc, ascending-id ties, NaN
    // excluded); this is the only end-to-end driver of that branch now
    // that string ids moved to the heap
    val cand = spark.range(8000).repartition(16)
      .select((col("id") % 13).as("q_id"),
        (col("id") * 7919 % 10007).cast("decimal(10,0)").as("doc_id"),
        when(col("id") % 53 === 0, lit(Double.NaN))
          .otherwise((col("id") * 31 % 7).cast("double") / 10.0).as("score"))
      .distinct()
    val ranked = TopKAgg.rankTopK(cand, "q_id", "doc_id", "score", 4)
    val plan = ranked.queryExecution.executedPlan.toString
    assert(plan.contains("Window"),
      s"decimal ids must take the window fallback:\n$plan")
    val got = ranked.collect()
      .map(r => (r.getLong(0), r.getDecimal(1).longValue, r.getDouble(2))).toSet
    val w = org.apache.spark.sql.expressions.Window.partitionBy("q_id")
      .orderBy(col("score").desc, col("doc_id"))
    val want = cand.filter(!isnan(col("score")))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= 4).drop("_rn")
      .collect()
      .map(r => (r.getLong(0), r.getDecimal(1).longValue, r.getDouble(2))).toSet
    assert(got === want)
    assert(got.size === 13 * 4)
    assert(!got.exists(_._3.isNaN))
  }

  test("simhash: identical docs distance 0, near dups close, unrelated far") {
    val sigs = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(0L), sigs(1L)) === 0)
    assert(ham(sigs(0L), sigs(2L)) < ham(sigs(0L), sigs(3L)))
    val pairs = Dedup.simhashNearDuplicates(docs, "text", "doc_id", maxDistance = 10)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
  }

  test("ngram Jaccard: dup pair 1.0, near-dup high, respects blocking") {
    val out = Dedup.ngramJaccardPairs(docs, "text", "doc_id", col("source"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(out((0L, 1L)) === 1.0)
    assert(out((0L, 2L)) > 0.7)
    assert(out((0L, 2L)) < 1.0)
    // cross-block pairs never produced
    assert(!out.keySet.exists { case (a, b) => Set(a, b).intersect(Set(4L, 5L)).size == 1 })
    // the PPJoin length prefilter is exact: thresholded results equal
    // post-filtering the unthresholded ones
    val thresholded = Dedup.ngramJaccardPairs(
      docs, "text", "doc_id", col("source"), threshold = 0.6)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(thresholded === out.filter(_._2 >= 0.6))
  }

  test("rollingHashFingerprint: identical docs same fp, overlap for near dups") {
    val fps = docs.select(col("doc_id"),
        TextOps.rollingHashFingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert(fps(0L) === fps(1L))
    val overlap = fps(0L).intersect(fps(2L)).size.toDouble / fps(0L).union(fps(2L)).size
    assert(overlap > 0.4)
    assert(fps(0L).intersect(fps(3L)).size < fps(0L).size / 2)
  }

  test("connectedComponents resolves duplicate clusters to min ids") {
    // components: {1,2,3,4} via chain, {10,11}, singleton edges only
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(1L) === 1L && labels(2L) === 1L && labels(3L) === 1L && labels(4L) === 1L)
    assert(labels(10L) === 10L && labels(11L) === 10L)
  }

  test("dropNearDuplicates keeps one document per near-dup cluster") {
    val out = Dedup.dropNearDuplicates(docs, "text", "doc_id", threshold = 0.5)
      .select("doc_id").as[Long].collect().sorted
    // docs 0,1,2 form one cluster (exact + near dup) → keep 0 only
    assert(out.contains(0L))
    assert(!out.contains(1L))
    assert(!out.contains(2L))
    // unrelated docs survive
    assert(Seq(3L, 4L, 5L).forall(out.contains))
  }

  test("langId picks profiles deterministically") {
    val preds = docs.select(col("doc_id"), TextOps.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(preds(0L) === "en")
    assert(preds(4L) === "de")
    assert(preds(5L) === "fr")
    val zh = Seq((9L, "中文文本")).toDF("doc_id", "text")
      .select(TextOps.langId(col("text"))).as[String].head()
    assert(zh === "zh")
  }

  test("quality columns compute exact ratios") {
    val one = Seq((0L, "the cat, sat!")).toDF("doc_id", "text")
    val r = TextOps.qualityColumns(one, "text").first()
    assert(r.getAs[Int]("n_tokens") === 3)
    assert(r.getAs[Double]("punct_ratio") === 2.0 / 13.0)
    assert(r.getAs[Double]("stopword_ratio") === 1.0 / 3.0)
  }

  test("cosine and brute-force top-k rank by true similarity") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(-1.0f, 0.0f, 0.0f)),
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(vecs, "embedding", "vec_id",
      Array(1.0, 0.0, 0.0), 2).select("vec_id").as[Long].collect()
    assert(top.toSeq === Seq(0L, 1L))
  }

  test("lshTopK equals brute force restricted to the probed buckets") {
    val df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = df.filter(col("vec_id") === 3).select("embedding")
      .first().getSeq[Float](0).map(_.toDouble).toArray
    val planes = Similarity.hyperplanes(64, 4)
    val approx = Similarity.lshTopK(df, "embedding", "vec_id", q, planes, 10)
      .select("vec_id").as[Long].collect()
    // determinism property: identical to exact top-k over the candidate set
    val qBucket = planes.zipWithIndex.map { case (p, b) =>
      if (p.indices.map(i => q(i) * p(i)).sum > 0) 1L << b else 0L
    }.reduce(_ | _)
    val probes = qBucket +: planes.indices.map(b => qBucket ^ (1L << b))
    val candidates = Similarity.lshBuckets(df, "embedding", planes)
      .filter(col("bucket").isin(probes: _*))
    val exactOnCandidates = Similarity
      .bruteForceTopK(candidates, "embedding", "vec_id", q, 10)
      .select("vec_id").as[Long].collect()
    assert(approx.toSeq === exactOnCandidates.toSeq)
    assert(approx.contains(3L)) // the query itself always survives
  }

  test("embeddingNearDuplicatesLsh finds identical vectors without a block column") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.2f, -0.3f, 0.5f)),
      (1L, Array(1.0f, 0.2f, -0.3f, 0.5f)), // exact dup of 0
      (2L, Array(-1.0f, 0.4f, 0.9f, -0.2f)),
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDuplicatesLsh(
        vecs, "embedding", "vec_id", threshold = 0.99, dim = 4, numBits = 2)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq === Seq((0L, 1L)))
  }

  test("bloom fingerprint: no false negatives, bounded false positives") {
    val corpus = (0 until 2000).map(i => (i.toLong, s"corpus doc $i")).toDF("id", "text")
    val fp = Dedup.buildBloomFingerprint(corpus, "text", expectedItems = 2000, fpp = 0.01)
    // every corpus doc must probe as seen (bloom guarantees no FNs)
    val fnCount = corpus.filter(!Dedup.bloomSeen(corpus, "text", fp)).count()
    assert(fnCount === 0)
    // a disjoint batch: only fpp-rate false positives get dropped
    val batch = (0 until 2000).map(i => (i.toLong, s"fresh doc $i")).toDF("id", "text")
    val kept = Dedup.dropBloomSeen(batch, "text", fp).count()
    assert(kept >= 1900, s"kept only $kept of 2000 fresh docs (fpp blowup)")
    // a mixed batch keeps exactly the fresh survivors
    val mixed = corpus.limit(50).unionByName(batch.limit(50))
    assert(Dedup.dropBloomSeen(mixed, "text", fp).count() <= 50)
  }

  test("semDedup keeps one representative per within-cluster dup group") {
    // two well-separated clusters; ids 0/1/2 are near-dups in cluster A,
    // 3/4 near-dups in cluster B, 5 a loner in B
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.99f, 0.01f, 0.0f, 0.0f)),
      (2L, Array(0.98f, -0.01f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f, 0.0f)),
      (4L, Array(0.0f, 0.01f, 0.99f, 0.0f)),
      (5L, Array(0.0f, 0.6f, 0.1f, 0.7f)), // same cluster as 3/4, not a dup
    ).toDF("vec_id", "embedding")
    val centroids = Array(
      Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 0.0, 1.0, 0.0))
    val out = Dedup.semDedup(vecs, "embedding", "vec_id", centroids, 0.95)
      .select("vec_id", "sem_cluster")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out === Map(0L -> 0, 3L -> 1, 5L -> 1))
  }

  test("charEntropy: hand-computed values, unicode, null/empty handling") {
    val df = Seq(
      (1L, Some("aab")),  // H({2/3, 1/3}) = 0.9182958...
      (2L, Some("abcd")), // uniform over 4 -> exactly 2 bits
      (3L, Some("aaaa")), // degenerate -> 0
      (4L, Some("")),     // empty -> 0
      (5L, None),         // null stays null
      (6L, Some("naïve θ naïve θ")), // non-ASCII goes through the spill map
    ).toDF("id", "text")
    val out = df.select(col("id"), TextOps.charEntropy(col("text")).as("h"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(math.abs(out(1L).get - 0.9182958340544896) < 1e-12)
    assert(out(2L).get === 2.0)
    assert(out(3L).get === 0.0)
    assert(out(4L).get === 0.0)
    assert(out(5L) === None)
    // "naïve θ naïve θ": n,a,ï,v,e ×2 each, θ ×2, space ×3 -> 15 chars
    val counts = Seq(2, 2, 2, 2, 2, 2, 3).map(_.toDouble)
    val t = counts.sum
    val expected = (math.log(t) - counts.map(c => c * math.log(c)).sum / t) / math.log(2)
    assert(math.abs(out(6L).get - expected) < 1e-12)
    // registered SQL surface agrees with the column API
    graft.GraftExtensions.register(spark)
    df.createOrReplaceTempView("ce_docs")
    val viaSql = spark.sql(
      "SELECT id, graft_char_entropy(text) AS h FROM ce_docs WHERE id = 2")
      .head().getDouble(1)
    assert(viaSql === 2.0)
  }

  test("compressionRatio separates boilerplate, prose, and noise") {
    val rnd = new scala.util.Random(99)
    val noise = Array.fill(2000)((rnd.nextInt(94) + 33).toChar).mkString
    val boiler = "lorem ipsum dolor sit amet " * 80
    val prose = ("the quick brown fox jumps over the lazy dog while a " +
      "committee of researchers measured compression behavior on " +
      "heterogeneous web corpora with mixed results and open questions ") * 4
    val df = Seq(
      (1L, Some(boiler)), (2L, Some(prose)), (3L, Some(noise)),
      (4L, Some("")), (5L, None),
    ).toDF("id", "text")
    val out = df.select(col("id"), TextOps.compressionRatio(col("text")).as("r"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(out(1L).get < 0.1, s"boilerplate ratio ${out(1L)}")
    assert(out(2L).get > out(1L).get && out(2L).get < 0.7, s"prose ${out(2L)}")
    assert(out(3L).get > 0.8, s"noise ${out(3L)}")
    assert(out(4L).get === 1.0)
    assert(out(5L) === None)
    // deterministic per level; coarser level compresses no better
    val again = df.select(TextOps.compressionRatio(col("text")).as("r"))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    assert(again.toSeq === Seq(out(1L), out(2L), out(3L), out(4L), out(5L)))
    val fast = df.filter(col("id") === 2L)
      .select(TextOps.compressionRatio(col("text"), level = 1)).head().getDouble(0)
    assert(fast >= out(2L).get)
  }

  test("semDedupAuto derives a sqrt-N quantizer and keeps min-id reps") {
    // duplicates are EXACT copies: identical vectors get identical
    // nearest-centroid assignments whatever quantizer training produces,
    // so the toy-scale k = ceil(sqrt(6)) = 3 cannot split a dup group
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f, 0.0f)),
      (4L, Array(0.0f, 0.0f, 1.0f, 0.0f)),
      (5L, Array(0.0f, 0.6f, 0.1f, 0.7f)),
    ).toDF("vec_id", "embedding")
    val out = Dedup.semDedupAuto(vecs, "embedding", "vec_id", threshold = 0.95)
      .select("vec_id").as[Long].collect().toSet
    assert(out === Set(0L, 3L, 5L))
  }

  test("ivfAssign expression matches the driver-side nearest centroid") {
    val df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val centroids = Similarity.kmeansCentroids(df, "embedding", "vec_id", 4, iters = 5)
    val assigned = df.select(col("vec_id"),
        Similarity.ivfAssign(col("embedding"), centroids).as("list"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val expected = df.select("vec_id", "embedding").collect().map { r =>
      val v = r.getSeq[Float](1).map(_.toDouble).toArray
      val dists = centroids.map(c =>
        v.indices.foldLeft(0.0)((acc, i) => acc + (v(i) - c(i)) * (v(i) - c(i))))
      r.getLong(0) -> dists.indexOf(dists.min)
    }.toMap
    assert(assigned === expected)
  }

  test("ivfTopK equals brute force restricted to the probed lists") {
    val df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = df.filter(col("vec_id") === 3).select("embedding")
      .first().getSeq[Float](0).map(_.toDouble).toArray
    val centroids = Similarity.kmeansCentroids(df, "embedding", "vec_id", 8)
    val approx = Similarity.ivfTopK(df, "embedding", "vec_id", q, centroids, 10, nProbe = 2)
      .select("vec_id").as[Long].collect()
    val probes = centroids.indices.sortBy { c =>
      centroids(c).indices.map { i => val d = q(i) - centroids(c)(i); d * d }.sum
    }.take(2)
    val candidates = df.withColumn("_list",
        Similarity.ivfAssign(col("embedding"), centroids))
      .filter(col("_list").isin(probes: _*))
    val exact = Similarity.bruteForceTopK(candidates, "embedding", "vec_id", q, 10)
      .select("vec_id").as[Long].collect()
    assert(approx.toSeq === exact.toSeq)
    assert(approx.contains(3L)) // query's own list is always probed
  }

  test("multimodal decodeMeta: stubbed decode over binary batches") {
    val df = Seq((1L, "abcdef"), (2L, "")).toDF("id", "s")
      .select(col("id"), col("s").cast("binary").as("bin"))
    val out = Multimodal.decodeMeta(df, "bin")
      .select("id", "width", "height", "format", "byte_len")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getString(3), r.getLong(4)))).toMap
    assert(out(1L) === ((6, 0, ('a'.toInt % 3) match {
      case 0 => "png"; case 1 => "jpeg"; case _ => "wav"
    }, 6L)))
    assert(out(2L) === ((0, 0, "empty", 0L)))
  }

  test("decodeStub parses real PNG/JPEG/WAV container headers") {
    // PNG: signature + IHDR length/type + width=640 height=480
    val png = Array[Int](0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a,
      0, 0, 0, 13, 'I', 'H', 'D', 'R',
      0, 0, 0x02, 0x80, 0, 0, 0x01, 0xe0, 8, 6, 0, 0, 0).map(_.toByte)
    assert(Multimodal.decodeStub(png) ===
      Multimodal.MediaMeta(640, 480, "png", png.length.toLong))
    // JPEG: SOI + APP0(len 4) + SOF0 with height=16 width=32
    val jpeg = Array[Int](0xff, 0xd8, 0xff, 0xe0, 0x00, 0x04, 0, 0,
      0xff, 0xc0, 0x00, 0x0b, 8, 0x00, 0x10, 0x00, 0x20, 3, 0, 0, 0).map(_.toByte)
    assert(Multimodal.decodeStub(jpeg) ===
      Multimodal.MediaMeta(32, 16, "jpeg", jpeg.length.toLong))
    // WAV: RIFF/WAVE with channels=2 @ offset 22, rate=44100 @ offset 24
    val wav = new Array[Byte](44)
    "RIFF".getBytes.copyToArray(wav, 0)
    "WAVEfmt ".getBytes.copyToArray(wav, 8)
    wav(22) = 2
    wav(24) = 0x44.toByte; wav(25) = 0xac.toByte // 44100 LE
    assert(Multimodal.decodeStub(wav) ===
      Multimodal.MediaMeta(44100, 2, "wav", 44L))
  }

  test("extractFeatures emits fixed-dim normalized features; resizeStub fixes length") {
    val df = Seq((1L, "abcdefgh"), (2L, ""))
      .toDF("id", "s")
      .select(col("id"), col("s").cast("binary").as("bin"))
    val feats = Multimodal.extractFeatures(df, "bin", dim = 32)
      .select("id", "features").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(feats(1L).length === 32)
    assert(math.abs(feats(1L).take(16).sum - 1.0f) < 1e-6) // histogram normalized
    assert(feats(2L).forall(_ === 0f))
    val resized = Multimodal.resizeStub(df, "bin", targetLen = 4)
      .select("id", "bin", "orig_len").collect()
      .map(r => r.getLong(0) -> ((r.getAs[Array[Byte]](1), r.getLong(2)))).toMap
    assert(resized(1L)._1.toSeq === "aceg".getBytes.toSeq) // nearest-neighbor stride 2
    assert(resized(1L)._2 === 8L)
    assert(resized(2L)._1.length === 4 && resized(2L)._2 === 0L)
  }

  test("sampleFrameOffsets fans out n rows per asset") {
    val df = Seq((1L, "0123456789")).toDF("id", "s")
      .select(col("id"), col("s").cast("binary").as("bin"))
    val offs = Multimodal.sampleFrameOffsets(df, "bin", 4)
      .select("frame_offset").as[Long].collect().sorted
    assert(offs.toSeq === Seq(0L, 2L, 5L, 7L))
  }

  test("saltBlocks splits only oversized blocks, deterministically") {
    val df = (1 to 100).map(i => (i.toLong, if (i <= 90) "hot" else "cold"))
      .toDF("id", "block")
    val salted = Dedup.saltBlocks(df, "block", "id", maxBlockSize = 30L)
    val sizes = salted.groupBy("block").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // cold block (10 rows) untouched but suffixed with salt 0
    assert(sizes("cold#0") === 10L)
    // hot block split into ceil(90/30)=3 salts, each well under the cap ×2
    val hot = sizes.filter(_._1.startsWith("hot#"))
    assert(hot.keySet === Set("hot#0", "hot#1", "hot#2"))
    assert(hot.values.sum === 90L)
    assert(hot.values.forall(_ <= 60L))
    // deterministic: same input → same assignment
    val again = Dedup.saltBlocks(df, "block", "id", maxBlockSize = 30L)
      .groupBy("block").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again === sizes)
  }

  test("maxBlockSize auto-salts a dominant block in the pair joiners") {
    // one dominant block (80 of 90 docs share it) would drive O(80²) pair
    // work onto one key without salting
    val skewed = (1 to 90).map { i =>
      val block = if (i <= 80) "common-crawl" else s"src${i % 5}"
      (i.toLong, s"doc body number $i with shared words " * 2, block)
    }.toDF("doc_id", "text", "source")
    val unsalted = Dedup.ngramJaccardPairs(
      skewed, "text", "doc_id", col("source"), threshold = 0.3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val salted = Dedup.ngramJaccardPairs(
      skewed, "text", "doc_id", col("source"), threshold = 0.3,
      maxBlockSize = Some(20L))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // salting only LOSES cross-salt pairs — never invents or rescores
    assert(salted.subsetOf(unsalted))
    assert(salted.nonEmpty)
    // the dominant block's quadratic work is genuinely capped:
    // ceil(80/20)=4 salts → within-shard pair count ≪ the unsalted 80²/2
    val hotUnsalted = unsalted.count { case (a, b) => a <= 80 && b <= 80 }
    val hotSalted = salted.count { case (a, b) => a <= 80 && b <= 80 }
    assert(hotSalted < hotUnsalted)
    // embeddings path: same salting contract
    val vecs = (1 to 60).map(i =>
      (i.toLong, Array.tabulate(4)(d => (d + 1.0) * (1.0 + (i % 3) * 0.001)), "hot"))
      .toDF("vec_id", "embedding", "bucket")
    val eUnsalted = Dedup.embeddingNearDuplicates(
      vecs, "embedding", "vec_id", col("bucket"), 0.999)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val eSalted = Dedup.embeddingNearDuplicates(
      vecs, "embedding", "vec_id", col("bucket"), 0.999, maxBlockSize = Some(15L))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(eSalted.subsetOf(eUnsalted))
    assert(eSalted.nonEmpty)
  }

  test("dropNearDuplicatesKeepBest keeps the highest-scoring cluster member") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val df = Seq(
      (0L, base, 0.2),
      (1L, base, 0.9), // same cluster, best quality -> the survivor
      (2L, base, 0.5),
      (3L, "totally unrelated content about particle beams and detectors", 0.1),
    ).toDF("doc_id", "text", "quality")
    val kept = Dedup.dropNearDuplicatesKeepBest(
      df, "text", "doc_id", "quality", threshold = 0.8)
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(1L, 3L)) // NOT the min id 0
    // min-id variant on the same corpus keeps 0 — the two policies differ
    val minKept = Dedup.dropNearDuplicates(df, "text", "doc_id", threshold = 0.8)
      .select("doc_id").as[Long].collect().toSet
    assert(minKept === Set(0L, 3L))
  }

  test("incremental minhash dedup equals the full self-join's cross pairs") {
    val mk = (id: Long, t: String) => (id, t)
    val corpus = Seq(
      mk(1L, "the quick brown fox jumps over the lazy dog again and again today"),
      mk(2L, "completely different corpus content about spark physics and beams"),
      mk(3L, "a third document with its own unique words nothing shared here"),
    ).toDF("doc_id", "text")
    val batch = Seq(
      mk(101L, "the quick brown fox jumps over the lazy dog again and again today"), // dup of 1
      mk(102L, "fresh never before seen text that matches nothing in the corpus"),
      mk(103L, "completely different corpus content about spark physics and beams"), // dup of 2
    ).toDF("doc_id", "text")

    val corpusSigs = Dedup.minhashSignatures(corpus, "text", "doc_id")
    val inc = Dedup.minhashNearDuplicatesAgainst(corpusSigs, batch, "text", "doc_id")
      .select("batch_id", "corpus_id", "est_jaccard")
      .as[(Long, Long, Double)].collect().toSet

    // ground truth: full self-join over corpus ∪ batch, restricted to
    // cross (batch, corpus) pairs — identical params on both paths
    val full = Dedup.minhashNearDuplicates(
      corpus.unionByName(batch), "text", "doc_id")
      .as[(Long, Long, Double)].collect()
      .collect { case (a, b, j) if a <= 3 && b >= 101 => (b, a, j) }
      .toSet
    assert(inc === full)
    assert(inc.map(p => (p._1, p._2)) === Set((101L, 1L), (103L, 2L)))

    // the ingestion filter keeps exactly the genuinely-new batch rows
    val kept = Dedup.dropNearSeen(corpusSigs, batch, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept === Set(102L))
  }

  test("lshSubBlocks bounds a skewed cluster without losing near-dup pairs") {
    // one dominant sem-cluster: 100 diverse vectors + 10 near-identical
    // PAIRS (the duplicates the join must find). Random salting with
    // ceil(120/16)=8 shards would keep each pair together with p=1/8;
    // LSH sub-blocking keeps all 10 together by construction.
    val rnd = new scala.util.Random(4242)
    val diverse = (0 until 100).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat), "hot"))
    val dupPairs = (0 until 10).flatMap { p =>
      val base = Array.fill(8)(rnd.nextGaussian().toFloat)
      Seq((1000L + 2 * p, base, "hot"),
        (1000L + 2 * p + 1, base.map(x => x * 1.0001f), "hot"))
    }
    val vecs = (diverse ++ dupPairs).toDF("vec_id", "embedding", "bucket")

    // direct sub-block census: oversized block genuinely splits, bounded
    val sub = Dedup.lshSubBlocks(
      vecs.select(col("vec_id").as("id"), col("bucket").as("block"),
        col("embedding").as("v")),
      maxBlockSize = 16L, dim = 8)
    val sizes = sub.groupBy("block").count().as[(String, Long)].collect().toMap
    assert(sizes.size > 1, "oversized block did not split")
    assert(sizes.values.max <= 45L, s"sub-block still hot: $sizes") // 120/8 ≈ 15 expected
    // every near-identical pair shares a sub-block (recall preserved)
    val blockOf = sub.select("id", "block").as[(Long, String)].collect().toMap
    (0 until 10).foreach { p =>
      assert(blockOf(1000L + 2 * p) === blockOf(1000L + 2 * p + 1),
        s"pair $p split across sub-blocks")
    }
    // end-to-end: the capped pair join still finds ALL 10 duplicate pairs
    val found = Dedup.embeddingNearDuplicates(
      vecs, "embedding", "vec_id", col("bucket"), threshold = 0.999,
      maxBlockSize = Some(16L))
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    (0 until 10).foreach { p =>
      assert(found.contains((1000L + 2 * p, 1000L + 2 * p + 1)),
        s"duplicate pair $p lost by sub-blocking")
    }
  }

  test("dedupSpans removes repeated 3-sentence spans from later occurrences") {
    val shared = "Alpha one two. Beta three four. Gamma five six."
    val docs = Seq(
      (1L, s"Intro line here. $shared Outro unique one."),
      (2L, s"$shared Completely different tail."),
      (3L, "No duplicate content at all. Just this.")).toDF("doc_id", "text")
    val out = Dedup.dedupSpans(docs, "text", "doc_id").orderBy("doc_id")
      .select("cleaned").as[String].collect()
    // doc1 holds the FIRST occurrence of the shared span: untouched
    assert(out(0) === "Intro line here. Alpha one two. Beta three four. " +
      "Gamma five six. Outro unique one")
    // doc2's copy (sentences 0-2) is removed; its unique tail survives
    assert(out(1) === "Completely different tail")
    // doc3 has no duplicated span: only normalization applies
    assert(out(2) === "No duplicate content at all. Just this")
    // word-unit mode: 4-token span repeated across docs
    val w = Seq((1L, "a b c d x"), (2L, "y a b c d"), (3L, "p q r s t"))
      .toDF("doc_id", "text")
    val wOut = Dedup.dedupSpans(w, "text", "doc_id", n = 4, unit = "word")
      .orderBy("doc_id").select("cleaned").as[String].collect()
    assert(wOut.toSeq === Seq("a b c d x", "y", "p q r s t"))
  }

  test("C4 line filter keeps terminal-punct multi-word lines, flags pages") {
    val page1 =
      """This is a proper first sentence.
        |short.
        |This line has no terminal punctuation
        |Please enable JavaScript to view the comments.
        |Another proper sentence appears right here!
        |
        |The "quoted line" ends well."
        |Menu Home About Contact""".stripMargin
    val page2 = "function f() { return 1; }\nLorem ipsum dolor sit amet."
    val df = Seq((1L, page1), (2L, page2), (3L, "")).toDF("doc_id", "text")
    val out = TextOps.c4Columns(df, "text").orderBy("doc_id").collect()

    val r1 = out(0)
    assert(r1.getAs[String]("c4_text") ===
      Seq("This is a proper first sentence.",
        "Another proper sentence appears right here!",
        "The \"quoted line\" ends well.\"").mkString("\n"))
    assert(r1.getAs[Int]("c4_total_lines") === 8)
    assert(r1.getAs[Int]("c4_kept_lines") === 3)
    val ratio = r1.getAs[Double]("c4_kept_ratio")
    assert(ratio > 0.3 && ratio < 0.6)
    assert(!r1.getAs[Boolean]("c4_flag_lorem"))
    assert(!r1.getAs[Boolean]("c4_flag_brace"))
    assert(r1.getAs[Boolean]("c4_flag_short")) // 3 kept sentences < 5

    val r2 = out(1)
    assert(r2.getAs[Boolean]("c4_flag_lorem"))
    assert(r2.getAs[Boolean]("c4_flag_brace"))
    // the code line is dropped (no terminal punct after trim? it ends '}')
    // but the lorem line survives the LINE rules — flags are what kill it
    assert(r2.getAs[String]("c4_text") === "Lorem ipsum dolor sit amet.")

    val r3 = out(2) // empty doc: zero lines kept, ratio defined as 1.0
    assert(r3.getAs[String]("c4_text") === "")
    assert(r3.getAs[Double]("c4_kept_ratio") === 1.0)
  }

  test("polyHashFixed matches the hand-computed polynomial, OOB chars read 0") {
    val out = Seq("abc", "ab", "", "中x").toDF("s")
      .select(TextOps.polyHashFixed(col("s"), 3).as("h")).as[Long].collect()
    val p = TextOps.PolyPrime
    assert(out(0) === ('a' * 31L * 31L + 'b' * 31L + 'c') % p)
    assert(out(1) === ('a' * 31L * 31L + 'b' * 31L) % p)
    assert(out(2) === 0L)
    assert(out(3) === (0x4E2D * 31L * 31L + 'x' * 31L) % p)
  }

  test("portableTokenHash stays within 62 bits and separates lengths") {
    val hs = Seq("spark", "sparks", "a", "").toDF("t")
      .select(TextOps.portableTokenHash(col("t")).as("h")).as[Long].collect()
    assert(hs.forall(h => h >= 0 && h < (1L << 62)))
    assert(hs.distinct.length === 4) // prefix-sharing tokens still split
  }

  test("portable minhash/simhash find the same near-dup structure as xxhash") {
    for (portable <- Seq(false, true)) {
      val mh = Dedup.minhashNearDuplicates(docs, "text", "doc_id",
          threshold = 0.5, portable = portable)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(mh.contains((0L, 1L)), s"portable=$portable")
      assert(!mh.exists { case (a, b) => a == 3L || b == 3L })
      val sh = Dedup.simhashNearDuplicates(docs, "text", "doc_id",
          maxDistance = 10, portable = portable)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(sh.contains((0L, 1L)), s"portable=$portable")
    }
  }

  test("portable rolling fingerprint: equality for dups, empty for short text") {
    val fp = Seq((0L, "the quick brown fox"), (1L, "the quick brown fox"),
        (2L, "short"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TextOps.rollingHashFingerprint(
        col("text"), hasher = TextOps.polyHashFixed(_, 7)).as("fp"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(fp(0L) === fp(1L))
    assert(fp(0L).nonEmpty && fp(0L) === fp(0L).sorted.distinct)
    assert(fp(2L) === Seq.empty)
  }

  test("polyHashFixed matches the BigInt reference beyond k = 9 (no overflow)") {
    // Horner-with-pmod regression: the unreduced sum form overflowed Long
    // for k >= ~10 (non-ASCII input) / k >= ~13 (ASCII).
    val s = "The \u4e2d\u6587 text with wide codepoints \u00e9\u00fc!"
    val p = BigInt(TextOps.PolyPrime)
    for (k <- Seq(3, 8, 13, 20); base <- Seq(31L, 37L)) {
      val expected = s.take(k).padTo(k, '\u0000').codePoints().toArray
        .foldLeft(BigInt(0))((acc, cp) => (acc * base + cp).mod(p))
      val got = Seq(Tuple1(s)).toDF("t")
        .select(TextOps.polyHashFixed(col("t"), k, base).as("h"))
        .as[Long].head()
      assert(got === expected.toLong, s"k=$k base=$base")
    }
  }

  test("connectedComponents frees its iteration caches") {
    spark.catalog.clearCache()
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("id_a", "id_b")
    // force the distributed label-propagation path
    val labels = Dedup.connectedComponents(pairs, driverEdgeLimit = 0L)
    labels.count()
    // only the returned (caller-owned) frame may remain cached
    labels.unpersist(blocking = true)
    assert(spark.sharedState.cacheManager.isEmpty,
      "iteration caches leaked past connectedComponents")
  }

  test("connectedComponents: 300-hop chain converges within default maxIter") {
    // regression for silent non-convergence: plain min-label propagation
    // needs O(diameter) rounds and would split this chain after 10; the
    // pointer-doubling rounds need only O(log diameter) ≈ 9
    val ids = scala.util.Random.javaRandomToRandom(new java.util.Random(42))
      .shuffle((0L to 300L).toVector) // shuffled so min sits mid-chain
    val pairs = ids.sliding(2).map(p => (p(0), p(1))).toSeq.toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(pairs, driverEdgeLimit = 0L)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    labels.unpersist()
    assert(got.size === 301)
    assert(got.values.toSet === Set(0L), "chain split into multiple clusters")
    spark.catalog.clearCache()
  }

  test("connectedComponents driver and distributed paths agree") {
    // chain + clique + singleton pair; also exercises long diameters
    val pairs = (Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (20L, 21L), (21L, 22L), (20L, 22L), (30L, 31L)))
      .toDF("id_a", "id_b")
    def run(limit: Long) = Dedup.connectedComponents(pairs, driverEdgeLimit = limit)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val driver = run(1000000L)
    val dist = run(0L)
    assert(driver === dist)
    assert(driver(6L) === 1L && driver(22L) === 20L && driver(31L) === 30L)
    spark.catalog.clearCache()
  }

  test("multimodal ops treat null binary values as empty assets") {
    val df = Seq((1L, Some("abcdef")), (2L, None))
      .toDF("id", "s")
      .select(col("id"), col("s").cast("binary").as("bin"))
    val meta = Multimodal.decodeMeta(df, "bin")
      .select("id", "format", "byte_len").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(meta(2L) === (("empty", 0L)))
    val feats = Multimodal.extractFeatures(df, "bin", dim = 16)
      .select("id", "features").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(feats(2L).length === 16 && feats(2L).forall(_ === 0f))
    val resized = Multimodal.resizeStub(df, "bin", targetLen = 4)
      .select("id", "bin", "orig_len").collect()
      .map(r => r.getLong(0) -> ((r.getAs[Array[Byte]](1), r.getLong(2)))).toMap
    assert(resized(2L)._1.length === 4 && resized(2L)._2 === 0L)
  }

  test("native cosine kernel matches the declarative composition it replaced") {
    val rows = (0 until 50).map { i =>
      val r = new scala.util.Random(i)
      (i.toLong, Seq.fill(16)(r.nextGaussian().toFloat))
    }
    val df = rows.toDF("id", "a")
      .withColumn("b", reverse(col("a")))
    val both = df.select(
      Dedup.cosine(col("a"), col("b")).as("native"),
      Dedup.cosineDeclarative(col("a"), col("b")).as("decl"))
    // bit-identical (same index-order accumulation)
    assert(both.filter(col("native") =!= col("decl")).count() === 0L)
    // zero-norm -> NULL (the declarative form under ANSI throws
    // DIVIDE_BY_ZERO; NULL is the try_divide semantic and the useful one)
    val zero = Seq((0L, Seq.fill(4)(0.0f), Seq.fill(4)(1.0f))).toDF("id", "a", "b")
    assert(zero.select(Dedup.cosine(col("a"), col("b")).as("c"))
      .filter(col("c").isNull).count() === 1L)
    // interpreted path agrees too
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try assert(both.filter(col("native").isNotNull &&
      col("native") =!= col("decl")).count() === 0L)
    finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    // mixed float/double (literal query side) works
    val q = Array.fill(16)(0.5)
    assert(df.select(Dedup.cosine(col("a"), lit(q)).as("c"))
      .filter(col("c").isNull).count() === 0L)
  }

  test("native lsh bucket matches the per-plane declarative composition") {
    val planes = Similarity.hyperplanes(16, 10)
    val df = (0 until 80).map { i =>
      val r = new scala.util.Random(i + 7)
      (i.toLong, Seq.fill(16)(r.nextGaussian().toFloat))
    }.toDF("id", "v")
    val both = df.select(
      Similarity.lshBucket(col("v"), planes).as("native"),
      Similarity.lshBucketDeclarative(col("v"), planes).as("decl"))
    assert(both.filter(col("native") =!= col("decl")).count() === 0L)
    assert(both.select(countDistinct(col("native"))).first().getLong(0) > 1L)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try assert(both.filter(col("native") =!= col("decl")).count() === 0L)
    finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("imageNearDuplicates: dHash banding finds near pairs, skips far ones") {
    // deterministic pseudo-images: a base byte pattern, an identical copy,
    // a lightly perturbed copy (few grid cells flip), and pure noise
    def img(seed: Int, tweak: Int = 0): Array[Byte] =
      Array.tabulate(720)(i => (((i * 31 + seed * 7) ^ (i >> 3)) +
        (if (tweak > 0 && i % 200 == 0) tweak else 0)).toByte)
    val rows = Seq(
      (1L, img(1)), (2L, img(1)),            // exact dup -> distance 0
      (3L, img(1, tweak = 40)),              // near dup  -> small distance
      (4L, img(99)),                         // unrelated
    )
    val df = rows.toDF("id", "bin")
    val d12 = java.lang.Long.bitCount(
      Multimodal.dHashStub(rows(0)._2) ^ Multimodal.dHashStub(rows(2)._2))
    assert(d12 > 0 && d12 <= 10, s"fixture drifted: near-dup distance $d12")
    val pairs = Multimodal.imageNearDuplicates(df, "bin", "id", maxDistance = 10)
      .as[(Long, Long, Int)].collect().map(p => (p._1, p._2) -> p._3).toMap
    assert(pairs((1L, 2L)) === 0)
    assert(pairs((1L, 3L)) === d12 && pairs((2L, 3L)) === d12)
    assert(!pairs.keySet.exists { case (a, b) => a == 4L || b == 4L })
    // pigeonhole guarantee: every pair within maxDistance is found
    val all = rows.combinations(2).collect {
      case Seq((a, ba), (b, bb)) =>
        (a, b) -> java.lang.Long.bitCount(
          Multimodal.dHashStub(ba) ^ Multimodal.dHashStub(bb))
    }.filter(_._2 <= 10).toMap
    assert(pairs === all)
  }

  test("psiReport: zero on identical populations, grows with shift, finite on one-sided bins") {
    import graft.binning.UniformAxis
    val ax = UniformAxis("v", 10, 0.0, 10.0)
    // axis range is CENTERS (half-bin pre-shift): integer values 0..9
    // land exactly on the 10 bin centers
    val base = (0 until 1000).map(i => (i % 10).toDouble).toDF("v")
    val same = Drift.psiReport(base, base, ax)
    // identical histograms → pa = pb in every bin → psi exactly 0
    assert(same.select("psi").head().getDouble(0) === 0.0)
    assert(same.count() === 10)
    // mild shift vs wholesale shift: PSI must rank them
    val mild = (0 until 1000).map(i => (i % 10) * 0.9).toDF("v")
    val wild = (0 until 1000).map(i => (i % 3).toDouble).toDF("v")
    val psiMild = Drift.psiReport(base, mild, ax).select("psi").head().getDouble(0)
    val psiWild = Drift.psiReport(base, wild, ax).select("psi").head().getDouble(0)
    assert(psiMild > 0.0 && psiWild > psiMild, s"$psiMild vs $psiWild")
    assert(psiWild > 0.25) // classic "shifted" threshold
    // bins occupied on one side only stay finite via the 0.5 smoothing
    val disjoint = (0 until 100).map(_ => 9.0).toDF("v")
    val oneSided = Drift.psiReport((0 until 100).map(_ => 0.0).toDF("v"),
      disjoint, ax)
    assert(oneSided.count() === 2)
    assert(oneSided.collect().forall(r => !r.getDouble(4).isNaN
      && !r.getDouble(4).isInfinite))
  }

  test("cleanLines: C4 rules — punctuation, min words, banned markers," +
      " line dedupe") {
    val doc = Seq(
      "This is a proper sentence.",
      "short",                          // < 3 words
      "Enable JavaScript to continue.", // banned marker
      "Another good sentence stays!",
      "a list item without punctuation", // no terminal punct
      "This is a proper sentence.",     // duplicate of line 1
    ).mkString("\n")
    val df = Seq((1L, doc)).toDF("id", "text")
    val strict = TextOps.cleanLines(df, "text", "id", minWords = 3,
      requirePunct = true, banned = Seq("javascript"), dedupe = true)
      .select("id", "clean_text", "n_lines", "n_kept")
      .as[(Long, String, Long, Long)].head()
    assert(strict._2 ===
      "This is a proper sentence.\nAnother good sentence stays!")
    assert(strict._3 === 6L) // n_lines
    assert(strict._4 === 2L) // n_kept
    // without dedupe the duplicate survives
    val noDedupe = TextOps.cleanLines(df, "text", "id", minWords = 3,
      requirePunct = true, banned = Seq("javascript"))
      .select("id", "clean_text", "n_lines", "n_kept")
      .as[(Long, String, Long, Long)].head()
    assert(noDedupe._4 === 3L)
    assert(noDedupe._2.endsWith("This is a proper sentence."))
    // permissive defaults keep everything
    val all = TextOps.cleanLines(df, "text", "id")
      .select("id", "clean_text", "n_lines", "n_kept")
      .as[(Long, String, Long, Long)].head()
    assert(all._2 === doc)
    assert(all._4 === 6L)
  }

  test("lineSignals: duplicated-line and punctuation-line fractions") {
    val df = Seq(
      (1L, "Nav menu\nNav menu\nNav menu\nReal sentence here."),
      (2L, "All prose lines end well.\nSecond one too!"),
    ).toDF("id", "text")
    val got = TextOps.lineSignals(df, "text", "id")
      .as[(Long, Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) === ((4L, 0.5, 0.25))) // 2 dup copies of 4; 1 punct line
    assert(got(2L) === ((2L, 0.0, 1.0)))
  }

  test("domainDivergence: zero for groups drawn from the corpus blend," +
      " positive and ranked for skewed groups") {
    // two groups with the same text multiset → both distributions equal
    // the corpus distribution → KL exactly 0
    val even = (1 to 100).map(i => (s"g${i % 2}", s"common words here ${i % 5}"))
      .toDF("src", "text")
    val zero = Drift.domainDivergence(even, "text", "src", 64)
      .as[(String, Long, Double)].collect()
    assert(zero.length === 2)
    zero.foreach { case (_, n, kl) => assert(n > 0 && kl === 0.0) }
    // the dominant group defines the blend; "mild" deviates on ~25 % of
    // rows, "alien" uses a disjoint vocabulary — KL must rank them
    val mixed = ((1 to 800).map(i => ("conform", s"shared tokens alpha ${i % 4}")) ++
      (1 to 100).map(i => ("mild", if (i % 4 == 0) "rare drift term"
        else s"shared tokens alpha ${i % 4}")) ++
      (1 to 100).map(i => ("alien", s"utterly disjoint lexicon ${i % 4}")))
      .toDF("src", "text")
    val kl = Drift.domainDivergence(mixed, "text", "src", 64)
      .as[(String, Long, Double)].collect()
      .map(r => r._1 -> r._3).toMap
    assert(kl("conform") < kl("mild"), kl.toString)
    assert(kl("mild") < kl("alien"), kl.toString)
    assert(kl.values.forall(v => v >= 0.0 && !v.isNaN && !v.isInfinite))
  }

  test("corpusDiff: added/removed/changed/unchanged partition the id union") {
    val oldSnap = Seq((1L, "stays"), (2L, "gets edited"), (3L, "goes away"),
      (5L, null), (6L, null))
      .toDF("id", "text")
    val newSnap = Seq((1L, "stays"), (2L, "gets edited v2"), (4L, "brand new"),
      (5L, null), (6L, "text appeared"))
      .toDF("id", "text")
    val got = Curation.corpusDiff(oldSnap, newSnap, "id", "text")
      .as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added",
      // null text is a present row, not an absent one
      5L -> "unchanged", 6L -> "changed"))
  }

  test("distinctSketches: sharded union == monolithic sketch, bounded error") {
    // 30k rows, 10007 distinct keys spread over 3 overlapping shards
    val df = (1 to 30000).map(i => (s"k${i % 10007}", i % 3))
      .toDF("key", "shard").repartition(6)
    val perShard = Dedup.distinctSketches(df, "key", Seq("shard"))
    val shardRows = perShard.select("shard", "distinct_est", "rows")
      .as[(Int, Long, Long)].collect()
    assert(shardRows.length === 3)
    shardRows.foreach { case (_, est, rows) =>
      assert(rows === 10000L)
      // each shard holds 10000 distinct keys; lgK=14 → ~0.8 % σ
      assert(math.abs(est - 10000L) < 300, s"shard est $est")
    }
    val u = Dedup.unionCardinality(perShard).head()
    val (est, rows, dup) = (u.getLong(0), u.getLong(1), u.getDouble(2))
    assert(rows === 30000L)
    assert(math.abs(est - 10007L) < 300, s"union est $est")
    assert(math.abs(dup - (1.0 - est.toDouble / 30000)) < 1e-6)
    // sketching shards independently loses nothing: union of the three
    // == one monolithic global sketch, estimate-for-estimate
    val mono = Dedup.unionCardinality(
      Dedup.distinctSketches(df, "key", Seq.empty)).head().getLong(0)
    assert(est === mono)
  }

  test("dropRepeatedParagraphs removes cross-doc boilerplate, keeps order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "COOKIE BANNER\nunique alpha text\nCOOKIE BANNER\nmore alpha"),
      (2L, "unique beta text\nCOOKIE BANNER"),
      (3L, "repeated within only\nrepeated within only\ngamma tail"),
      (4L, "COOKIE BANNER"), // reduces to nothing -> vanishes
      (5L, "solo\n\ntrailing blank kept"),
    ).toDF("doc_id", "text")
    val out = Dedup.dropRepeatedParagraphs(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // cross-doc banner dropped everywhere, including twice in doc 1
    assert(out(1L) === "unique alpha text\nmore alpha")
    assert(out(2L) === "unique beta text")
    // within-doc repetition is NOT boilerplate
    assert(out(3L) === "repeated within only\nrepeated within only\ngamma tail")
    assert(!out.contains(4L))
    // blank paragraphs pass through (layout, and md5('') would cross-match)
    assert(out(5L) === "solo\n\ntrailing blank kept")
  }

  test("lshPlan: S-curve midpoint tracks the threshold, extremes behave") {
    def midpoint(plan: (Int, Int)): Double =
      math.pow(1.0 / plan._1, 1.0 / plan._2)
    // midpoint near the requested threshold across the range
    Seq(0.3, 0.5, 0.7, 0.9).foreach { t =>
      val plan = Dedup.lshPlan(t, 128)
      assert(math.abs(midpoint(plan) - t) < 0.15,
        s"t=$t plan=$plan mid=${midpoint(plan)}")
    }
    // higher threshold -> longer bands (more rows) -> fewer bands
    val lo = Dedup.lshPlan(0.3, 128)
    val hi = Dedup.lshPlan(0.9, 128)
    assert(hi._2 > lo._2 && hi._1 < lo._1, s"lo=$lo hi=$hi")
    // bands divide the signature exactly
    Seq(16, 32, 64, 128, 256).foreach { n =>
      val (b, r) = Dedup.lshPlan(0.6, n)
      assert(b * r === n)
    }
    // weighting FPs heavily pushes the curve right (stricter probing)
    val fpStrict = Dedup.lshPlan(0.5, 128, fpWeight = 0.95, fnWeight = 0.05)
    val fnStrict = Dedup.lshPlan(0.5, 128, fpWeight = 0.05, fnWeight = 0.95)
    assert(midpoint(fpStrict) >= midpoint(fnStrict))
  }
}
