package graft.binning

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The two-phase count kernel behind [[Binning.histogram]]'s large-cube
  * route: value parity against a plain per-axis `groupBy` reference
  * (including skewed and edge-key inputs), the cube-size routing rule,
  * and the physical plan shapes.
  */
class HistogramKernelSpec extends SparkSpec {
  import spark.implicits._

  private def planOf(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case other                    => other.toString
    }
  }

  private def asMap(df: DataFrame): Map[Seq[Long], Long] =
    df.collect()
      .map(r => Seq.tabulate(r.length - 1)(r.getLong) -> r.getLong(r.length - 1))
      .toMap

  /** The reference cube: a plain per-axis `groupBy` over
    * [[Binning.binIndex]], without the flat key or the kernel. */
  private def reference(df: DataFrame, axes: Seq[BinAxis]): Map[Seq[Long], Long] = {
    val idx = axes.map(ax => Binning.binIndex(ax).as(Binning.idxName(ax)))
    asMap(df.select(idx: _*).na.drop()
      .groupBy(axes.map(ax => col(Binning.idxName(ax))): _*).count())
  }

  // 4 small axes (2·3·5·7 = 210 cells) with NaN / out-of-range rows mixed in
  private val axes = Seq(
    UniformAxis("a", 2, 0.0, 2.0), UniformAxis("b", 3, 0.0, 3.0),
    UniformAxis("c", 5, 0.0, 5.0), UniformAxis("d", 7, 0.0, 7.0))
  // the same ranges at 20·30·50·70 = 2.1e6 cells ≥ kernelCellsFloor, so
  // the histogram takes the kernel route
  private val kernelAxes = Seq(
    UniformAxis("a", 20, 0.0, 2.0), UniformAxis("b", 30, 0.0, 3.0),
    UniformAxis("c", 50, 0.0, 5.0), UniformAxis("d", 70, 0.0, 7.0))
  private lazy val events = {
    val r = new scala.util.Random(7)
    Seq.tabulate(5000) { i =>
      def v(n: Int) = i % 31 match {
        case 29 => Double.NaN
        case 30 => -99.0 // out of range on every axis
        case _  => r.nextDouble() * n
      }
      (v(2), v(3), v(5), v(7))
    }.toDF("a", "b", "c", "d").repartition(7)
  }

  test("kernel matches the per-axis groupBy reference cell-for-cell") {
    val h = Binning.histogram(events, kernelAxes)
    assert(planOf(h).contains("CountByKey"), planOf(h))
    val want = reference(events, kernelAxes)
    assert(want.nonEmpty && want.values.sum > 0)
    assert(asMap(h) === want)
  }

  test("parity holds on a single hot cell (the skew case)") {
    val hot = Seq.fill(3000)((0.4, 0.4, 0.4, 0.4)) ++
      Seq.tabulate(50)(i => (1.0, 2.0, (i % 5).toDouble, (i % 7).toDouble))
    val df = hot.toDF("a", "b", "c", "d").repartition(5)
    val h = Binning.histogram(df, kernelAxes)
    assert(planOf(h).contains("CountByKey"), planOf(h))
    val want = reference(df, kernelAxes)
    assert(asMap(h) === want)
    assert(want(Seq(4L, 4L, 4L, 4L)) === 3000L)
  }

  test("flat key 0 (first cell) survives map growth in both kernel passes") {
    // enough distinct keys to force several LongCountMap growths past the
    // 2^16 initial capacity, with key 0 present — the growth re-find must
    // not lose it (an unused slot has keys(i)==0 too)
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    val n = 200000
    def row(vs: Any*): InternalRow = new GenericInternalRow(vs.toArray)
    // the count pass over 4 chunks, as the partial exec runs per partition
    val partials = (0 until n).grouped(n / 4).flatMap(chunk =>
      HistogramKernel.countInternalRows(
        chunk.iterator.map(i => row((i % (n / 2)).toLong)), -1)).toSeq
    val counted = partials.groupMapReduce(_._1)(_._2)(_ + _)
    assert(counted.size === n / 2)
    assert(counted(0L) === 2L)
    assert(counted.values.sum === n.toLong)
    // the merge pass over the pre-combined rows, as the final exec runs
    val merged = HistogramKernel.countInternalRows(
      partials.iterator.map { case (k, c) => row(k, c) }, 1).toSeq
    assert(merged.map(_._1).distinct.size === merged.size, "dup keys out")
    assert(merged.toMap === counted)
  }

  test("auto routes by cube cardinality at kernelCellsFloor") {
    val small = Binning.histogram(events, axes) // 210 cells → classic
    assert(planOf(small).contains("HashAggregate"))
    assert(!planOf(small).contains("CountByKey"), planOf(small))
    // 60^4 = 1.296e7 cells ≥ 2^17 → the native CountByKey operator
    // (partial exec → packed narrow-wire exchange → final exec; no
    // HashAggregate, no object boundary)
    val huge = Seq.fill(100)((1.0, 2.0, 3.0, 4.0)).toDF("a", "b", "c", "d")
    val hugeAxes = Seq("a", "b", "c", "d").map(UniformAxis(_, 60, 0.0, 60.0))
    val routed = Binning.histogram(huge, hugeAxes)
    val p = planOf(routed)
    assert("CountByKey true".r.findAllIn(p).length === 1, p)
    assert("CountByKey false".r.findAllIn(p).length === 1, p)
    assert(p.contains("PackedCountExchange"), p)
    assert(!p.contains("HashAggregate"), p)
    assert(!p.contains("SerializeFromObject") && !p.contains("DeserializeToObject"), p)
    // the final exec's line ends with the merge width (the form the
    // benchmark's plan reader parses)
    val width = """(?m)CountByKey false,.*, (\d+)\s*$""".r
      .findFirstMatchIn(p).map(_.group(1).toInt)
    assert(width === Some(HistogramKernel.mergePartitions(spark,
      hugeAxes.map(_.nBins.toLong).product)), p)
    assert(asMap(routed) === Map(Seq(1L, 2L, 3L, 4L) -> 100L))
  }

  test("kernel-routed histograms survive cnt-only consumers and self-joins") {
    val huge = Seq.tabulate(120)(i =>
      (i % 2 * 1.0, i % 3 * 1.0, i % 5 * 1.0, i % 7 * 1.0))
      .toDF("a", "b", "c", "d")
    val hugeAxes = Seq("a", "b", "c", "d").map(UniformAxis(_, 60, 0.0, 60.0))
    val h = Binning.histogram(huge, hugeAxes)
    // ColumnPruning: a consumer that references only cnt must not prune
    // the key column out from under the node
    val total = h.agg(sum("cnt")).collect()(0).getLong(0)
    assert(total === 120L)
    assert(h.count() === h.collect().length.toLong)
    // DeduplicateRelations: self-join must not die on the produced attr
    val joined = h.as("l").join(h.as("r"),
      Seq("bin_a", "bin_b", "bin_c", "bin_d"))
    assert(joined.count() === h.count())
  }

  test("kernel plan shuffles exactly once, on the pre-combined rows") {
    val df = Binning.histogram(events, kernelAxes)
    val p = planOf(df)
    // the one exchange is the packed narrow-wire one; no classic
    // UnsafeRow exchange remains in the kernel plan
    assert("PackedCountExchange".r.findAllIn(p).length === 1, p)
    assert("Exchange hashpartitioning".r.findAllIn(p).length === 0, p)
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p)
  }

  test("packed row serializer: zigzag varint roundtrip on edge longs") {
    import graft.plans.PackedCountRowSerializer
    import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
    import org.apache.spark.sql.types.LongType
    val pairs = Seq(0L, 1L, -1L, 63L, 64L, 127L, 128L, -128L, 300L,
      Int.MaxValue.toLong, Int.MinValue.toLong, 1L << 40, -(1L << 40),
      Long.MaxValue, Long.MinValue).map(k => (k, k ^ 0x5DEECE66DL))
    val bos = new java.io.ByteArrayOutputStream()
    val ser = new PackedCountRowSerializer().newInstance()
    val ss = ser.serializeStream(bos)
    val w = new SpecificInternalRow(Seq(LongType, LongType))
    pairs.foreach { case (k, c) =>
      w.setLong(0, k); w.setLong(1, c)
      ss.writeKey(0).writeValue(w)
    }
    ss.close()
    val bytes = bos.toByteArray
    // small magnitudes really are small on the wire (0, 1, -1 → 1 byte)
    assert(bytes.length < pairs.length * 21)
    def readAll(in: java.io.InputStream) =
      ser.deserializeStream(in).asKeyValueIterator.map { case (_, r) =>
        val row = r.asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
        (row.getLong(0), row.getLong(1)) // copy before next() reuses it
      }.toList
    assert(readAll(new java.io.ByteArrayInputStream(bytes)) === pairs)
    // a read of 0 bytes is not end of stream: a source that returns 0
    // before every real read and serves at most 1 byte per read still
    // yields every pair
    val stingy = new java.io.InputStream {
      private val under = new java.io.ByteArrayInputStream(bytes)
      private var zeroNext = true
      override def read(): Int = under.read()
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        zeroNext = !zeroNext
        if (!zeroNext) 0 else under.read(b, off, math.min(len, 1))
      }
    }
    assert(readAll(stingy) === pairs)
  }

  test("row shuffle past the serialized-mode partition cap is rejected") {
    // past 2^24 partitions Spark would pick SortShuffleWriter, which
    // buffers the reused rows the row shuffle hands it
    val e = intercept[IllegalArgumentException] {
      org.apache.spark.sql.GraftShuffleBridge.rowShuffle(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.catalyst.InternalRow],
        (1 << 24) + 1, new graft.plans.PackedCountRowSerializer, _ => 0)
    }
    assert(e.getMessage.contains("spark.sql.shuffle.partitions"), e.getMessage)
  }

  test("partial flush bounds the map and duplicates merge to exact counts") {
    // countInternalRows with a tiny flush bound: output may repeat keys
    // (one per flush epoch) but grouped sums stay exact
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    val rows = Iterator.tabulate(1000)(i =>
      new GenericInternalRow(Array[Any]((i % 10).toLong))
        : org.apache.spark.sql.catalyst.InternalRow)
    val out = HistogramKernel.countInternalRows(rows, -1, flushEntries = 3).toSeq
    assert(out.size > 10, s"flush never triggered: ${out.size}") // epochs > 1
    val summed = out.groupMapReduce(_._1)(_._2)(_ + _)
    assert(summed === (0L until 10L).map(_ -> 100L).toMap)
    // end-to-end through the native operator: one partition of
    // 2^22 + 2^20 rows over 2^22 + 2^19 distinct keys. The partial map
    // reaches the flush bound after the first 2^22 keys, then counts the
    // rest in a second epoch that repeats keys < 2^19; the final merge
    // must still sum each key exactly
    val distinct = (1L << 22) + (1L << 19)
    val df = spark.range(0L, (1L << 22) + (1L << 20), 1L, 1)
      .select((col("id") % distinct).cast("double").as("k"))
    val ax = UniformAxis("k", distinct.toInt, 0.0, distinct.toDouble)
    HistogramKernel.maxMapEntries.set(0L)
    val byGroup = Binning.histogram(df, Seq(ax))
      .groupBy((col("bin_k") < (1L << 19)).as("repeated"))
      .agg(min("cnt"), max("cnt"), count(lit(1)))
      .collect().map(r => r.getBoolean(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    assert(HistogramKernel.maxMapEntries.get ===
      HistogramKernel.partialFlushEntries.toLong)
    assert(byGroup === Map(
      true -> (2L, 2L, 1L << 19),
      false -> (1L, 1L, 1L << 22)))
  }

  test("nullable key columns are rejected (null would count as key 0)") {
    val nullable = Seq[java.lang.Long](1L, null, 2L).toDF("k")
    val e = intercept[IllegalArgumentException] {
      graft.plans.CountByKey(nullable, 4, "cnt").collect()
    }
    assert(e.getMessage.contains("non-nullable"))
  }

  test("stats-less upstream still gets a bounded merge exchange") {
    // an RDD-backed frame has no size stats (sizeInBytes = conf default,
    // effectively infinite) — a sparse GIANT cube over it must clamp the
    // exchange width by childPartitions × flush bound, not spray 4096
    // near-empty tasks
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("a",
        org.apache.spark.sql.types.DoubleType, nullable = false)))
    val rdd = spark.sparkContext.parallelize(
      Seq.tabulate(100)(i => org.apache.spark.sql.Row(i / 100.0)), 4)
    val df = spark.createDataFrame(rdd, schema)
    assert(df.queryExecution.optimizedPlan.stats.sizeInBytes >
      BigInt(Long.MaxValue) / 2) // precondition: stats really are absent
    // 3 giant axes on one column → 1e12-cell cube, kernel-routed
    val giantAxes = Seq("a", "a", "a").map(UniformAxis(_, 10000, 0.0, 1.0))
    val h = Binning.histogram(df.select(col("a"), col("a").as("b"),
      col("a").as("c")),
      Seq(UniformAxis("a", 10000, 0.0, 1.0), UniformAxis("b", 10000, 0.0, 1.0),
        UniformAxis("c", 10000, 0.0, 1.0)))
    val p = planOf(h)
    assert(p.contains("CountByKey"), p)
    // merge width: last arg of the packed exchange node
    val widths = "PackedCountExchange .*, (\\d+)".r
      .findAllMatchIn(p).map(_.group(1).toInt).toSeq
    assert(widths.nonEmpty, p)
    val base = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val bound = math.max(base,
      (4L * HistogramKernel.partialFlushEntries / ((256L << 20) / 17) + 1).toInt)
    assert(widths.forall(_ <= bound), s"exchange widths $widths > bound $bound\n$p")
    assert(giantAxes.map(_.nBins.toLong).product >= HistogramKernel.kernelCellsFloor)
  }

  test("histogramPer folds bounded integral parts into the kernel key") {
    val r = new scala.util.Random(11)
    val df = Seq.tabulate(4000)(i =>
      (i % 7 + 1, r.nextDouble() * 2, r.nextDouble() * 3, r.nextDouble() * 5))
      .toDF("part", "a", "b", "c").repartition(5)
    val smallAxes = axes.take(3) // 2·3·5 = 30 cells × 7 parts < 2^17
    val classic = Binning.histogramPer(df, col("part"), "part", smallAxes)
    val folded = Binning.histogramPer(df, col("part"), "part", smallAxes,
      partBounds = Some((1L, 7L)))
    // value parity, part dtype preserved (int in, int out)
    assert(folded.schema("part").dataType ===
      org.apache.spark.sql.types.IntegerType)
    def toMap(h: DataFrame) = h.collect().map { row =>
      (row.getInt(0), row.getLong(1), row.getLong(2), row.getLong(3)) ->
        row.getLong(4)
    }.toMap
    assert(toMap(folded) === toMap(classic))
    // routing: folded cube ≥ 2^17 cells → CountByKey kernel; the classic
    // (no-bounds) path stays a HashAggregate on the composite key
    val bigAxes = Seq("a", "b", "c").map(UniformAxis(_, 60, 0.0, 60.0))
    val pFold = planOf(Binning.histogramPer(df, col("part"), "part", bigAxes,
      partBounds = Some((1L, 7L)))) // 7 × 216000 = 1.5e6 ≥ 2^17
    assert(pFold.contains("CountByKey"), pFold)
    assert(!pFold.contains("HashAggregate"), pFold)
    val pClassic = planOf(Binning.histogramPer(df, col("part"), "part", bigAxes))
    assert(!pClassic.contains("CountByKey"), pClassic)
    assert(pClassic.contains("HashAggregate"), pClassic)
    // non-integral part: bounds are ignored, classic plan
    val pStr = planOf(Binning.histogramPer(df, col("part").cast("string"),
      "part", bigAxes, partBounds = Some((1L, 7L))))
    assert(!pStr.contains("CountByKey"), pStr)
    // fold contract: parts outside [lo, hi] (and null parts) are dropped,
    // like out-of-range axis values — including hi+1 EXACTLY, which the
    // uniform axis's right-edge fold would otherwise silently count into
    // part hi (self-review round-13 catch)
    val withStray = df.union(
      Seq((99, 0.5, 0.5, 0.5), (8, 0.5, 0.5, 0.5)).toDF("part", "a", "b", "c"))
    val strayFolded = Binning.histogramPer(withStray, col("part"), "part",
      smallAxes, partBounds = Some((1L, 7L)))
    assert(strayFolded.agg(sum("cnt")).collect()(0).getLong(0) ===
      folded.agg(sum("cnt")).collect()(0).getLong(0))
  }

  test("part fold is exact across a 2e9-id span (double-rounding margin)") {
    // integer part values sit at bin CENTERS of the synthetic axis, so
    // the 1e-11 rounding guard has a 0.5 margin — exact while the
    // round-trip error (~v·2.2e-16) stays under 0.5, i.e. to spans
    // ~2e15, far past the Int nBins ceiling. Pin the extreme in-reach
    // span: ids at both ends and mid-span decode bit-exactly.
    val span = 2000000000L // near Int.MaxValue
    val ids = Seq(0L, 1L, 999999999L, 1999999999L)
    val df = ids.map(i => (i, 0.5)).toDF("part", "a")
    val h = Binning.histogramPer(df, col("part"), "part",
      Seq(UniformAxis("a", 2, 0.0, 2.0)), partBounds = Some((0L, span - 1)))
    val rows = h.collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq === ids)
    assert(rows.forall(_.getLong(2) === 1L))
  }

  test("mergePartitions: session floor, 256 MB-target raise, 4096 cap") {
    val base = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(HistogramKernel.mergePartitions(spark, 1000L) === base)
    val perTask = (256L << 20) / 17
    assert(HistogramKernel.mergePartitions(spark, perTask * 50) === 51)
    assert(HistogramKernel.mergePartitions(spark, Long.MaxValue / 4) === 4096)
    // live-cell bound: a sparse giant cube over a small frame must not
    // inflate the exchange — rows cap the raise
    assert(HistogramKernel.mergePartitions(spark, Long.MaxValue / 4,
      liveCellsBound = 1000000L) === base)
    assert(HistogramKernel.mergePartitions(spark, Long.MaxValue / 4,
      liveCellsBound = perTask * 50) === 51)
  }
}
