package graft.binning

import org.apache.spark.sql.functions.{col, sum}

import graft.SparkSpec

/** Property-style randomized tests the reference lacks (SURVEY.md §5 port
  * strategy): seeded random bin specs and data against structural
  * invariants. (Hand-rolled generation: the scalatest/scalacheck bridge
  * artifact is not in the offline cache.)
  */
class BinningProperties extends SparkSpec {
  import spark.implicits._

  private def cases[A](n: Int, seed: Long)(gen: scala.util.Random => A): Seq[A] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(gen(rnd))
  }

  private def randAxis(rnd: scala.util.Random): UniformAxis = {
    val n = 1 + rnd.nextInt(50)
    val lo = -100.0 + rnd.nextDouble() * 200.0
    UniformAxis("x", n, lo, lo + 0.1 + rnd.nextDouble() * 50.0)
  }

  private def randValues(rnd: scala.util.Random, n: Int): Seq[Double] =
    Seq.fill(n)(-150.0 + rnd.nextDouble() * 350.0)

  test("mass conservation: sum(hist) == count of in-range rows (20 cases)") {
    cases(20, 1L)(r => (randAxis(r), randValues(r, 200))).foreach {
      case (ax, values) =>
        val total = Binning.histogram(values.toDF("x"), Seq(ax))
          .agg(sum("cnt")).collect().headOption
          .flatMap(r => Option(r.get(0))).map(_.asInstanceOf[Long]).getOrElse(0L)
        val inRange = values.count { v =>
          val j = BigDecimal((v - ax.edgeLo) * ax.delta)
            .setScale(11, BigDecimal.RoundingMode.HALF_UP).toDouble
          j >= 0 && j <= ax.nBins
        }
        assert(total === inRange.toLong, s"axis $ax")
    }
  }

  test("bin indices are always within [0, nBins) (20 cases)") {
    cases(20, 2L)(r => (randAxis(r), randValues(r, 100))).foreach {
      case (ax, values) =>
        val idx = values.toDF("x")
          .select(Binning.uniformBinIndex(col("x"), ax))
          .collect().flatMap(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
        assert(idx.forall(i => i >= 0 && i < ax.nBins), s"axis $ax")
    }
  }

  test("edges histogram equals uniform histogram when edges are uniform (10 cases)") {
    cases(10, 3L)(r => (2 + r.nextInt(29), randValues(r, 200))).foreach {
      case (n, values) =>
        val uniform = UniformAxis("x", n, 0.0, n.toDouble)
        val edges = EdgesAxis("x",
          Array.tabulate(n + 1)(i => uniform.edgeLo + i * uniform.width))
        val df = values.toDF("x")
        val hU = Binning.histogram(df, Seq(uniform)).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        val hE = Binning.histogram(df, Seq(edges)).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(hU === hE, s"n=$n")
    }
  }

  test("dense aggregate equals sparse path on random axes (8 cases)") {
    cases(8, 4L)(r => (randAxis(r), randValues(r, 300))).foreach {
      case (ax, values) =>
        val df = values.toDF("x").repartition(3)
        val dense = DenseHistogramAgg.denseHistogram(df, Seq(ax))
        val sparse = Binning.densify(Binning.histogram(df, Seq(ax)), Seq(ax))
        assert(dense.data.toSeq === sparse.data.toSeq, s"axis $ax")
    }
  }

  test("flat-key multi-axis histogram equals per-axis-key grouping (10 cases)") {
    cases(10, 7L) { r =>
      val axes = Seq.fill(2 + r.nextInt(2))(randAxis(r)).zipWithIndex
        .map { case (ax, i) => ax.copy(column = s"x$i") }
      val rows = Seq.fill(300)(axes.map(_ => -150.0 + r.nextDouble() * 350.0))
      (axes, rows)
    }.foreach { case (axes, rows) =>
      val df = rows.map {
        case Seq(a, b)    => (a, b, 0.0)
        case Seq(a, b, c) => (a, b, c)
      }.toDF("x0", "x1", "x2")
      val flat = Binning.histogram(df, axes) // multi-axis → flat Long key
      // reference grouping: per-axis keys, no flat packing
      val idx = axes.map(ax => Binning.binIndex(ax).as(s"bin_${ax.column}"))
      val keep = axes.map(ax => col(s"bin_${ax.column}").isNotNull).reduce(_ && _)
      val direct = df.select(idx: _*).filter(keep)
        .groupBy(axes.map(ax => col(s"bin_${ax.column}")): _*)
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("cnt"))
      val key = (r: org.apache.spark.sql.Row) =>
        (0 until r.length).map(r.getLong).toSeq
      assert(flat.collect().map(key).toSet === direct.collect().map(key).toSet,
        s"axes $axes")
    }
  }

  test("NaN events are dropped, not binned at 0 (flat kernel vs declarative)") {
    // centers span [0,10) → kernel edges [-0.5, 9.5] (half-bin shift)
    val ax = UniformAxis("x", 10, 0.0, 10.0)
    val values = Seq(1.5, Double.NaN, 2.5, Double.NaN, 9.5, -1.0, 11.0, 0.2)
    val df = values.toDF("x")
    // flat fused-kernel path (histogram uses FlatBinIndexExpr at all arities)
    val flat = Binning.histogram(df, Seq(ax)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flat.values.sum === 4L) // NaN×2 and the out-of-range pair dropped
    assert(flat.getOrElse(0L, 0L) === 1L) // only 0.2 — NOT the NaNs
    // declarative parity (Spark NaN ordering: needs the explicit isnan guard)
    val direct = df.select(Binning.uniformBinIndex(col("x"), ax).as("b"))
      .filter(col("b").isNotNull).groupBy("b").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flat === direct)
    // dense fast path shares the declarative index — NaN drops there too
    val dense = DenseHistogramAgg.denseHistogram(df, Seq(ax))
    assert(dense.data.sum === 4L)
    assert(dense.data(0) === 1L)
    // multi-axis: NaN on either axis drops the event
    val df2 = Seq((1.0, 1.0), (Double.NaN, 1.0), (1.0, Double.NaN))
      .toDF("x0", "x1")
    val axes = Seq(ax.copy(column = "x0"), ax.copy(column = "x1"))
    assert(Binning.histogram(df2, axes).collect().map(_.getLong(2)).sum === 1L)
    // interpreted eval path of the fused expression agrees with codegen
    val ker = new FlatBinKernel(Array(0), Array(0.0), Array(1.0),
      Array(10), Array(Array.emptyDoubleArray))
    assert(ker.axisIndex(0, Double.NaN) === -1L)
    assert(ker.axisIndex(0, Double.PositiveInfinity) === -1L)
    assert(ker.axisIndex(0, Double.NegativeInfinity) === -1L)
    assert(ker.axisIndex(0, 1e300) === -1L) // past Long range: no saturation wrap
  }

  test("interp output is bounded by the knot value envelope (15 cases)") {
    cases(15, 5L) { r =>
      val xs = Seq.fill(5)(-100.0 + r.nextDouble() * 200.0).distinct.sorted.toArray
      xs
    }.filter(_.length >= 2).foreach { xs =>
      val ys = xs.indices.map(i => math.sin(i.toDouble) * 10).toArray
      val vals = Seq(-1000.0, xs.head, xs.last, 1000.0) ++
        xs.indices.dropRight(1).map(i => (xs(i) + xs(i + 1)) / 2)
      val out = vals.toDF("x")
        .select(graft.dfops.Interp.piecewiseLinear(col("x"), xs, ys))
        .as[Double].collect()
      assert(out.forall(v => v >= ys.min - 1e-9 && v <= ys.max + 1e-9))
    }
  }

  test("LongCountMap: countInternalRows count and merge passes match a " +
      "reference map under adversarial keys (40 cases)") {
    // hand-rolled property test: random key streams with duplicates and
    // the hash's worst friends — 0, ±1, Long.Min/Max, dense sequential
    // runs (clustered under multiply-shift), keys differing only in
    // high bits — sized past the 2^16 initial capacity to force growth
    cases(40, 12L) { r =>
      val style = r.nextInt(4)
      val n = 50000 + r.nextInt(150000)
      val keys: Seq[Long] = style match {
        case 0 => Seq.fill(n)(r.nextLong())
        case 1 => val base = r.nextLong(); Seq.tabulate(n)(i => base + i / 2)
        case 2 => Seq.tabulate(n)(i => (i % 997).toLong << 48) // high bits only
        case 3 => Seq.fill(n)(Seq(0L, -1L, 1L, Long.MinValue,
          Long.MaxValue, r.nextLong() % 100)(r.nextInt(6)))
      }
      keys
    }.foreach { keys =>
      import org.apache.spark.sql.catalyst.InternalRow
      import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
      def row(vs: Any*): InternalRow = new GenericInternalRow(vs.toArray)
      // the count pass (cntOrdinal -1) over bare key rows
      def countPass(ks: Seq[Long]) =
        HistogramKernel.countInternalRows(ks.iterator.map(row(_)), -1).toSeq
      val expect = keys.groupMapReduce(identity)(_ => 1L)(_ + _)
      val counted = countPass(keys)
      assert(counted.map(_._1).distinct.size === counted.size, "dup keys out")
      assert(counted.toMap === expect)
      // split into 7 chunks, count each, merge the pre-combined rows with
      // the merge pass (cntOrdinal 1) — must equal the one-pass count (the
      // kernel's two-phase contract)
      val chunks = keys.grouped(math.max(1, keys.size / 7)).toSeq
      val partials = chunks.flatMap(countPass)
      val merged = HistogramKernel.countInternalRows(
        partials.iterator.map { case (k, c) => row(k, c) }, 1).toMap
      assert(merged === expect)
    }
  }

  test("part fold == classic per-part plan on random bounds/ids (15 cases)") {
    // randomized adversarial check of the histogramPer integral fold:
    // random id offsets (incl. negative and ~2^40-magnitude), random
    // spans, ids sprinkled ON the bounds and just outside them. The
    // folded kernel plan must agree with the classic composite-key plan
    // restricted to in-bounds rows, cell-for-cell.
    import org.apache.spark.sql.functions.col
    val ax = Seq(UniformAxis("x", 5, 0.0, 5.0))
    cases(15, 7L) { r =>
      val lo = Seq(-1L * r.nextInt(1000), 0L, r.nextInt(1000).toLong,
        (1L << 40) + r.nextInt(1000))(r.nextInt(4))
      val span = 1L + r.nextInt(2000)
      val ids = Seq.fill(120)(lo - 2 + (r.nextInt(span.toInt + 4)).toLong)
      val xs = Seq.fill(120)(r.nextDouble() * 5.0)
      (lo, span, ids.zip(xs))
    }.foreach { case (lo, span, rows) =>
      val df = rows.toDF("part", "x")
      val folded = Binning.histogramPer(df, col("part"), "part", ax,
        partBounds = Some((lo, lo + span - 1)))
      val classicInBounds = Binning.histogramPer(
        df.filter(col("part").between(lo, lo + span - 1)),
        col("part"), "part", ax)
      def toMap(h: org.apache.spark.sql.DataFrame) =
        h.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      assert(toMap(folded) === toMap(classicInBounds), s"lo=$lo span=$span")
    }
  }
}
