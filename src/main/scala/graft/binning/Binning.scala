package graft.binning

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The parallelized N-D histogram — the computational heart of the engine
  * (reference: `sed/binning/binning.py`, `sed/binning/numba_bin.py`).
  *
  * Spark-first design: the reference's hand-rolled machinery (per-partition
  * Numba kernels + delayed scheduling rounds + tree-combine,
  * `binning.py:327-407`) collapses into a single declarative plan
  *
  * {{{ df.select(binIndexExprs*).groupBy(idxCols*).count() }}}
  *
  * which Catalyst executes as `Scan(pruned cols) → Project → partial
  * HashAggregate → Exchange(idx) → final HashAggregate`, all inside
  * whole-stage codegen. Partial (map-side) aggregation is the per-partition
  * histogram; the shuffle moves at most `min(rowsPerPartition, nCells)`
  * pre-combined rows per partition, so at 100 TB the shuffle volume is
  * bounded by cube cardinality × partitions, not by event count. The result
  * stays a distributed sparse cube; densification to a driver-side tensor is
  * opt-in and only legal for small cubes ([[densify]]).
  */
object Binning {

  /** Bin index for a uniform axis, reproducing `_hist_from_bin_range`
    * (`sed/binning/numba_bin.py:54-69`) bit-for-bit:
    *
    *  - `j = round((x - edgeLo) * delta, 11)` — the 1e-11 rounding guard
    *    strips FP error so values on an exact edge land deterministically;
    *  - values with `j == nBins` (the right-most edge) fold into the last
    *    bin;
    *  - events outside `0 <= j <= nBins` (on the *rounded* value) are
    *    dropped;
    *  - the index is the truncation of the rounded value (non-negative here,
    *    so `floor` ≡ `int()`).
    *
    * Returns a nullable LongType column: null ⇔ out of range. Pure built-in
    * expressions → fully codegen'd, no UDF.
    */
  def uniformBinIndex(c: Column, ax: UniformAxis): Column = {
    val jf = roundHalfAway((c - lit(ax.edgeLo)) * lit(ax.delta), 11)
    // explicit NaN guard: Spark orders NaN above every value (`NaN >= 0` is
    // TRUE, unlike SQL null semantics) and `floor(NaN)` casts to 0L, so
    // without it NaN events would silently land in bin 0 instead of being
    // dropped like the reference kernel drops them
    when(!isnan(c) && jf >= 0 && jf <= ax.nBins,
      least(floor(jf), lit(ax.nBins - 1L)))
  }

  /** `round(v, digits)` with half-away-from-zero ties — the C
    * `std::round(v·10^d)/10^d` that numpy's kernel guard and DuckDB's
    * `round` both compute. Composed from primitive expressions because
    * Spark's built-in `round` routes doubles through BigDecimal
    * (`Double.toString` + `setScale`), which measured ~7× the cost of the
    * whole remaining bin-index projection.
    */
  def roundHalfAway(v: Column, digits: Int): Column = {
    val p = math.pow(10.0, digits)
    val y = v * lit(p)
    when(v >= 0, floor(y + 0.5)).otherwise(-floor(-y + 0.5)) / lit(p)
  }

  /** Bin index for explicit edges, reproducing `binsearch`
    * (`sed/binning/numba_bin.py:74-105`): below-first / above-last edge →
    * dropped (null); equal to the last edge → last bin; else the unique `k`
    * with `edges(k) <= x < edges(k+1)`.
    *
    * The edges are plan-time literals, so the binary search unrolls into a
    * balanced `CASE WHEN` tree of depth ⌈log₂ n⌉ — still pure codegen'd
    * expressions, no broadcast or UDF needed even for thousands of edges.
    */
  def edgesBinIndex(c: Column, edges: Array[Double]): Column = {
    val n = edges.length - 1
    // balanced search over candidate bins [lo, hi)
    def search(lo: Int, hi: Int): Column =
      if (hi - lo == 1) lit(lo.toLong)
      else {
        val mid = (lo + hi) / 2
        when(c < lit(edges(mid)), search(lo, mid)).otherwise(search(mid, hi))
      }
    when(c === lit(edges(n)), lit((n - 1).toLong))
      .when(c >= lit(edges(0)) && c < lit(edges(n)), search(0, n))
  }

  /** Bin index column for any normalized axis. */
  def binIndex(ax: BinAxis): Column = ax match {
    case u: UniformAxis => uniformBinIndex(col(u.column), u)
    case e: EdgesAxis   => edgesBinIndex(col(e.column), e.edges)
  }

  /** Default name of the index column derived for an axis. */
  def idxName(ax: BinAxis): String = s"bin_${ax.column}"

  /** N-D histogram as a sparse distributed cube:
    * one row per non-empty cell, schema `(bin_<ax0> … bin_<axN>, cnt)`.
    *
    * Equivalent of `bin_dataframe` (`sed/binning/binning.py:204-437`) minus
    * the densification (see [[densify]]). Events falling outside any axis
    * range are excluded (matching the kernel's `is_inside` early-exit).
    * Counts are exact Long — a documented deliberate divergence from the
    * reference's overflow-tolerant uint32 (`numba_bin.py:162-168`).
    *
    * The count path follows from the cube alone: below
    * [[HistogramKernel.kernelCellsFloor]] cells a plain `groupBy` on the
    * flat key; larger cubes the two-phase [[graft.plans.CountByKey]]
    * kernel with its packed exchange (the measurements behind the split
    * are in the floor's scaladoc); cubes whose cell count overflows the
    * Long key a per-axis `groupBy`.
    */
  def histogram(
      df: DataFrame,
      axes: Seq[BinAxis],
      countName: String = "cnt",
  ): DataFrame = {
    require(axes.nonEmpty, "at least one bin axis required")
    flatStrides(axes) match {
      case Some(strides) =>
        // single flat Long group key computed by the fused native kernel
        // ([[FlatBinIndexExpr]]): ONE compact expression per row instead of
        // per-axis guarded trees + a conjunctive null filter, which
        // predicate pushdown would otherwise re-inline — several
        // evaluations of the whole upstream transform chain per row (see
        // the expression's scaladoc). The flat key also shrinks the
        // shuffled key to one word for high-cardinality cubes (e.g. 100⁴
        // cells, where partial aggregation barely combines); decode back
        // to per-axis indices AFTER the aggregation, on ≤|cells| rows.
        val decode = axes.zip(strides).map { case (ax, s) =>
          (expr(s"_flat div ${s}L") % ax.nBins).as(idxName(ax))
        }
        val cells = axes.map(_.nBins.toLong).product
        val flat = df.select(flatBinIndex(axes, strides).as("_flat"))
          .filter(col("_flat") >= 0) // -1 ⇔ out of range / null on any axis
        val counted =
          if (cells < HistogramKernel.kernelCellsFloor)
            flat.groupBy(col("_flat")).agg(count(lit(1)).as(countName))
          else kernelCounts(flat, cells, countName)
        counted.select(decode :+ col(countName): _*)
      case None =>
        val idxCols = axes.map(ax => binIndex(ax).as(idxName(ax)))
        // null index ⇔ out of range on that axis ⇔ drop the event
        val keep = axes.map(ax => col(idxName(ax)).isNotNull).reduce(_ && _)
        df.select(idxCols: _*).filter(keep)
          .groupBy(axes.map(ax => col(idxName(ax))): _*)
          .agg(count(lit(1)).as(countName))
    }
  }

  /** The two-phase kernel count over the flat-key frame: open-hash
    * combine per map task, exchange the pre-combined `(cell, count)`
    * rows, open-hash merge, at a merge width sized from the cube and the
    * frame's row estimate.
    */
  private def kernelCounts(
      flat: DataFrame,
      cells: Long,
      countName: String,
  ): DataFrame = {
    val spark = flat.sparkSession
    // live cells ≤ rows: bound the merge-exchange raise by Catalyst's
    // row estimate (from source file sizes) so a SPARSE giant cube over
    // a small frame doesn't schedule thousands of near-empty tasks; an
    // unknown/garbage estimate degrades to the cells-only bound
    val rowsEst: Long = try {
      val bytes = flat.queryExecution.optimizedPlan.stats.sizeInBytes
      // a stats-less relation (LogicalRDD, some views) reports exactly
      // spark.sql.defaultSizeInBytes (= Long.MaxValue by default) — a
      // sentinel, not an estimate; anything at/above it is "unknown"
      val unknown = BigInt(spark.sessionState.conf.defaultSizeInBytes)
      if (bytes <= 0 || bytes >= unknown || bytes > BigInt(Long.MaxValue))
        Long.MaxValue
      // deliberately OVER-estimate rows (≥4 B/row would be compressed
      // parquet territory): the safe error direction is raising more
      // partitions, never under-sizing the merge maps
      else math.max(1L, (bytes / 4).toLong)
    } catch { case _: Exception => Long.MaxValue }
    // stats-less relation (LocalRelation / RDD-backed: sizeInBytes =
    // defaultSizeInBytes = huge): a genuinely sparse giant cube would
    // re-open the 4096-near-empty-tasks case the cells-only bound was
    // built to close. Clamp by the child's actual partition count × the
    // partial flush bound — a HEURISTIC, not a guarantee: a flushing
    // map task can emit more distinct keys than one flush epoch, so a
    // stats-less child with billions of rows per partition could
    // under-raise here. That corner fails LOUDLY and actionably (the
    // merge map's 2^30 ceiling names spark.sql.shuffle.partitions)
    // rather than silently scheduling 4096 near-empty tasks on the
    // common sparse case. (The rdd probe only plans when the child has
    // no exchange; over a stats-less child WITH exchanges it runs their
    // map stages under AQE, unlike Dedup.ensureParallelism, which skips
    // such inputs. A user-lowered spark.sql.defaultSizeInBytes
    // can only misread a real estimate as "unknown", which raises MORE
    // partitions — the safe direction.)
    val rowsBound: Long =
      if (rowsEst != Long.MaxValue) rowsEst
      else try {
        val parts = flat.rdd.getNumPartitions.toLong
        parts * HistogramKernel.partialFlushEntries
      } catch { case _: Exception => Long.MaxValue }
    val p = HistogramKernel.mergePartitions(spark, cells, rowsBound)
    // the native whole-operator form (graft.plans.CountByKey): counts
    // UnsafeRows directly — no DeserializeToObject/SerializeFromObject
    // boundary on the event-mass passes
    graft.plans.CountByKey(flat, p, countName)
  }

  /** The fused flat-key bin-index column (see [[FlatBinIndexExpr]]). */
  private def flatBinIndex(axes: Seq[BinAxis], strides: Seq[Long]): Column =
    org.apache.spark.sql.GraftBridge.column(FlatBinIndexExpr(
      axes.map(ax => org.apache.spark.sql.GraftBridge.expression(
        col(ax.column).cast("double"))),
      axes, strides))

  /** Row-major strides for a flat bin index, or None for cubes whose cell
    * count would overflow the Long key space (those fall back to per-axis
    * index columns).
    */
  private def flatStrides(axes: Seq[BinAxis]): Option[Seq[Long]] = {
    val cells = axes.map(ax => BigInt(ax.nBins)).product
    if (cells > BigInt(Long.MaxValue) / 2) return None
    val strides = new Array[Long](axes.length)
    var s = 1L
    var i = axes.length - 1
    while (i >= 0) { strides(i) = s; s *= axes(i).nBins; i -= 1 }
    Some(strides.toSeq)
  }

  /** Histogram with an extra leading grouping column (the
    * `return_partitions=True` path, `sed/binning/binning.py:353-356`): per
    * input file / per category cubes in one aggregation. Pass e.g.
    * `input_file_name()` or any categorical column.
    *
    * By default the classic Catalyst plan: the kernel count path needs a
    * single Long key, and the part column is an arbitrary type whose
    * exact value must survive (hashing it to 64 bits could merge two
    * categories). With `partBounds = Some((lo, hi))` and an INTEGRAL part
    * column, the part id is folded into the flat Long key as a synthetic
    * leading axis (`key = (part − lo) · cells + flat` — exact: the uniform
    * axis has delta = 1 and integral inputs sit at bin centers), so a huge
    * per-part cube (per-file × 100³) routes through [[histogram]]'s
    * cube-size routing to the kernel instead of paying the double
    * UnsafeRow hash pass.
    * Folded-path divergences from the classic plan (documented contract):
    * rows whose part id is NULL or outside `[lo, hi]` are DROPPED — the
    * same posture as out-of-range axis values — where the classic plan
    * would keep them as their own groups; the output part column is
    * reconstructed (`bin + lo`) and cast back to the input's dtype.
    * Non-integral part columns, bounds past 2⁵³ (double-exact integer
    * range), or a span × cells product overflowing the Long key space
    * all fall back to the classic plan.
    */
  def histogramPer(
      df: DataFrame,
      partCol: Column,
      partName: String,
      axes: Seq[BinAxis],
      countName: String = "cnt",
      partBounds: Option[(Long, Long)] = None,
  ): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, ShortType, IntegerType, LongType => SqlLongType}
    val doubleExact = 1L << 53
    val fold = partBounds.flatMap { case (lo, hi) =>
      val dtype = df.select(partCol).schema.head.dataType
      val integral = dtype match {
        case ByteType | ShortType | IntegerType | SqlLongType => true
        case _ => false
      }
      val span = hi - lo + 1
      val cellsFit = flatStrides(axes).exists { _ =>
        val total = BigInt(span) * axes.map(ax => BigInt(ax.nBins)).product
        total <= BigInt(Long.MaxValue) / 2
      }
      // direct range comparisons, NOT math.abs: abs(Long.MinValue) is
      // Long.MinValue (negative) and would pass an abs-based guard, letting
      // part ids near -2^63 collapse in the Double-typed bin arithmetic
      if (integral && hi >= lo && span > 0 && span <= Int.MaxValue &&
          lo > -doubleExact && hi < doubleExact - 1 &&
          cellsFit)
        Some((lo, span.toInt, dtype))
      else None
    }
    fold match {
      case Some((lo, span, dtype)) =>
        val tmp = "_graft_part_fold"
        val partAxis = UniformAxis(tmp, span, lo.toDouble, lo.toDouble + span)
        // explicit bounds filter: the uniform axis folds its RIGHT EDGE
        // into the last bin (kernel semantics), so a stray part id of
        // exactly hi+1 would silently count into part hi instead of
        // dropping — enforce the documented drop contract here (null
        // parts fail `between` too)
        val inBounds = df.filter(partCol.between(lo, lo + span - 1))
        val h = histogram(inBounds.withColumn(tmp, partCol), partAxis +: axes,
          countName)
        h.select(
          (col(idxName(partAxis)) + lit(lo)).cast(dtype).as(partName)
            +: axes.map(ax => col(idxName(ax))) :+ col(countName): _*)
      case None => histogramPerClassic(df, partCol, partName, axes, countName)
    }
  }

  /** The classic per-part plan: part value as its own group key (see
    * [[histogramPer]]). */
  private def histogramPerClassic(
      df: DataFrame,
      partCol: Column,
      partName: String,
      axes: Seq[BinAxis],
      countName: String,
  ): DataFrame = {
    flatStrides(axes) match {
      case Some(strides) =>
        // same fused flat-Long-key kernel as [[histogram]], with the
        // partition column as the leading group key
        val decode = axes.zip(strides).map { case (ax, s) =>
          (expr(s"_flat div ${s}L") % ax.nBins).as(idxName(ax))
        }
        df.select(partCol.as(partName), flatBinIndex(axes, strides).as("_flat"))
          .filter(col("_flat") >= 0)
          .groupBy(col(partName), col("_flat"))
          .agg(count(lit(1)).as(countName))
          .select(col(partName) +: decode :+ col(countName): _*)
      case None =>
        val idxCols =
          partCol.as(partName) +: axes.map(ax => binIndex(ax).as(idxName(ax)))
        val keep = axes.map(ax => col(idxName(ax)).isNotNull).reduce(_ && _)
        df.select(idxCols: _*).filter(keep)
          .groupBy((partName +: axes.map(idxName)).map(col): _*)
          .agg(count(lit(1)).as(countName))
    }
  }

  /** Materialized histogram with automatic physical-path selection: cubes
    * up to `denseMaxCells` use [[DenseHistogramAgg]] (per-partition dense
    * buffers, no per-cell shuffle); larger cubes aggregate sparsely
    * (kernel-routed [[histogram]]) and densify, bounded by [[densify]]'s
    * `maxCells` guard.
    *
    * `denseMaxCells` defaults to 2²¹ cells = 16 MB of buffer per partial
    * aggregation, set from the round-14 crossover re-measure (1e8 rows,
    * 16 cores, min-of-3 after warm-up — the pre-kernel 2²⁰ default was
    * re-measured because the CountByKey kernel changed the sparse side's
    * economics):
    * {{{
    * cells      dense   kernel  classic
    * 105 k      0.98    1.21    1.32
    * 234 k      1.04    1.61    2.36
    * 457 k      1.38    2.54    3.02
    * 1.05 M     2.54    3.53    4.14
    * 2.56 M     5.26    4.35    5.76
    * 5.31 M     9.64    5.67    7.10   (sec)
    * }}}
    * Dense wins everywhere below ~2.2 M cells (1.4× at 2²⁰); the kernel
    * takes over above (1.7× at 2²²·³, growing with cells since the dense
    * buffer merge is O(cells) per task while the kernel's exchange
    * carries only filled cells). 2²¹ sits at the measured break-even.
    * The sweep's protocol is NOTES.md's round-14 crossover entry
    * ("Dense-path crossover re-measured").
    */
  def histogramCube(
      df: DataFrame,
      axes: Seq[BinAxis],
      denseMaxCells: Long = 1L << 21,
  ): BinnedCube = {
    val cells = axes.map(_.nBins.toLong).product
    if (cells <= denseMaxCells) DenseHistogramAgg.denseHistogram(df, axes)
    else densify(histogram(df, axes), axes)
  }

  /** Collect a sparse cube into a dense driver-side [[BinnedCube]].
    *
    * Only legal for small cubes (the reference materializes every cube; we
    * cap at `maxCells` to stay scale-safe — at 100 TB the sparse DataFrame
    * is the product, densification is an export step).
    */
  def densify(
      sparse: DataFrame,
      axes: Seq[BinAxis],
      countName: String = "cnt",
      maxCells: Long = 200L * 1000 * 1000,
  ): BinnedCube = {
    val shape = axes.map(_.nBins.toLong)
    val cells = shape.product
    require(
      cells <= maxCells,
      s"cube has $cells cells > maxCells=$maxCells; keep it distributed",
    )
    val strides = new Array[Long](axes.length)
    var s = 1L
    var i = axes.length - 1
    while (i >= 0) { strides(i) = s; s *= shape(i); i -= 1 }
    val data = new Array[Long](cells.toInt)
    val idxNames = axes.map(idxName)
    val rows = sparse
      .select((idxNames :+ countName).map(col): _*)
      .collect()
    rows.foreach { r =>
      var flat = 0L
      var d = 0
      while (d < axes.length) { flat += r.getLong(d) * strides(d); d += 1 }
      data(flat.toInt) = r.getLong(axes.length)
    }
    BinnedCube(
      axes.map(_.column),
      axes.map(_.centers),
      data,
      axes.map(_.nBins),
    )
  }

  /** Acquisition-time normalization histogram from per-event timestamps
    * (`sed/binning/binning.py:440-473`, `normalization_histogram_from_timestamps`):
    * per-event Δts via a lag window over the ingestion order, bucketed by the
    * axis, summed per bucket.
    *
    * `orderCol` must be a stable global ordering (the reference relies on
    * dask partition order; SURVEY.md §7.4 risk 3). At scale the single
    * unpartitioned window is the bottleneck — callers with a per-file order
    * column should pass `partitionCols` so the lag runs per file.
    */
  def normalizationHistogramFromTimestamps(
      df: DataFrame,
      ax: BinAxis,
      tsCol: String,
      orderCol: String,
      partitionCols: Seq[String] = Nil,
      countName: String = "norm",
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w =
      if (partitionCols.isEmpty) Window.orderBy(col(orderCol))
      else Window.partitionBy(partitionCols.map(col): _*).orderBy(col(orderCol))
    df.withColumn("_dts", col(tsCol) - lag(col(tsCol), 1).over(w))
      .select(binIndex(ax).as(idxName(ax)), col("_dts"))
      .filter(col(idxName(ax)).isNotNull && col("_dts").isNotNull)
      .groupBy(col(idxName(ax)))
      .agg(sum(col("_dts")).as(countName))
  }

  /** Acquisition-time normalization from the timed (1 ms sampled) table
    * (`sed/binning/binning.py:476-508`): bucket count × time unit.
    */
  def normalizationHistogramFromTimedDataframe(
      timed: DataFrame,
      ax: BinAxis,
      timeUnit: Double,
      countName: String = "norm",
  ): DataFrame =
    histogram(timed, Seq(ax), "_n")
      .select(col(idxName(ax)), (col("_n") * lit(timeUnit)).as(countName))
}
