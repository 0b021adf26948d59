package graft.binning

/** Primitive long→long open-addressing count maps behind the native
  * count-by-key operator ([[graft.plans.CountByKey]]) that
  * [[Binning.histogram]] routes large cubes through. Fibonacci-multiplier
  * hashing, linear probing, ×2 growth at ¾ load; allocation-free per row.
  */
object HistogramKernel {

  /** [[Binning.histogram]] counts a flattenable cube of at least this many
    * cells with the two-phase kernel (per-map-task open-hash combine, the
    * packed `(cell, count)` exchange, open-hash merge per reduce task);
    * smaller cubes use a plain `groupBy` on the flat key.
    *
    * The decision variable is the map-side combining factor: Catalyst's
    * partial HashAggregate only pays for itself when a map task sees each
    * live cell many times, and a map task's row count is BOUNDED
    * (`spark.sql.files.maxPartitionBytes` ⇒ ~1–4 M rows) no matter how big
    * the corpus is. So for cube cardinalities past ~10⁵ cells the partial
    * aggregate combines almost nothing — every row pays two UnsafeRow hash
    * passes (partial + final) for a ≤ few-% shuffle reduction. Measured at
    * the reference shape (1e8 rows, 80 map tasks, local[20]; min of 3
    * interleaved reps, one JVM per cell count — the full protocol and
    * table are in NOTES.md round-12):
    *
    *   cells      classic   kernel    raw
    *   1e4        0.87 s    0.91 s    2.37 s
    *   1.05e5     2.08 s    1.84 s    2.87 s
    *   1e6        5.04 s    3.86 s    3.28 s
    *   9.8e6      6.57 s    5.19 s    4.11 s
    *   1e8        8.2-10.5  6.32 s    5.45 s
    *
    * `classic` is the `groupBy` plan, `kernel` the two-phase count. The
    * kernel stays exactly as skew-safe as classic — a hot cell still
    * collapses to one row per map task before the exchange — while
    * replacing both UnsafeRow hash aggregations with one primitive pass
    * per side. `raw` (shipping raw keys and counting once after the
    * exchange) was ~25 % faster again but funneled a hot cell's entire
    * event mass through ONE reduce task, so it is not offered. The
    * classic↔kernel crossover sits near 1e5 cells (within ~10 % there;
    * classic clearly wins at 1e4, the kernel from 1e6 up), so 2¹⁷ is a
    * conservative switch point.
    */
  val kernelCellsFloor: Long = 1L << 17

  /** Hard capacity ceiling: past 2³⁰ slots the ×2 growth would overflow
    * Int indexing, so the map stops growing (probe chains lengthen but
    * stay correct) and fails with a clear message as the load nears 1 —
    * ~1e9 live entries ≈ 17 GB, far past any sane per-task budget.
    */
  private val maxCap: Int = 1 << 30

  private final class LongCountMap(initialCap: Int) {
    private var cap = Integer.highestOneBit(math.max(initialCap, 16) * 2 - 1)
    private var mask = cap - 1
    private var keys = new Array[Long](cap)
    private var cnts = new Array[Long](cap)
    private var used = new Array[Boolean](cap)
    private var size = 0

    /** Live entries — the partial pass's flush trigger. */
    def entryCount: Int = size

    private def slotOf(k: Long): Int =
      java.lang.Long.hashCode(k * -7046029254386353131L) & mask

    def add(k: Long, c: Long): Unit = {
      var i = slotOf(k)
      while (used(i) && keys(i) != k) i = (i + 1) & mask
      if (!used(i)) {
        used(i) = true; keys(i) = k; size += 1
        // load check in Long: at cap = 2³⁰ the Int products overflow and
        // read as a negative "never grow" — then add() would spin forever
        // at size == cap
        if (size.toLong * 4 > cap.toLong * 3) {
          if (cap >= maxCap) {
            if (size >= maxCap - (maxCap >> 4)) throw new IllegalStateException(
              s"count map exceeded ~$size live keys in one task; raise " +
                "spark.sql.shuffle.partitions (the merge width)")
            // else: stop growing; linear probing stays correct
          } else {
            grow() // moves every entry, including k (with its count so far)
            i = slotOf(k)
            while (!(used(i) && keys(i) == k)) i = (i + 1) & mask
          }
        }
      }
      cnts(i) += c
    }

    private def grow(): Unit = {
      val ok = keys; val oc = cnts; val ou = used
      cap <<= 1; mask = cap - 1; size = 0
      keys = new Array[Long](cap); cnts = new Array[Long](cap)
      used = new Array[Boolean](cap)
      var i = 0
      while (i < ok.length) {
        if (ou(i)) {
          // direct insert (fresh table can't trigger nested growth at
          // the same load factor)
          var j = java.lang.Long.hashCode(ok(i) * -7046029254386353131L) & mask
          while (used(j)) j = (j + 1) & mask
          used(j) = true; keys(j) = ok(i); cnts(j) = oc(i); size += 1
        }
        i += 1
      }
    }

    def result(): Iterator[(Long, Long)] =
      Iterator.range(0, cap).filter(used(_)).map(i => (keys(i), cnts(i)))
  }

  /** Partial-pass flush bound (live entries per map-task count map). The
    * bounded-rows-per-map-task argument in [[kernelCellsFloor]]'s scaladoc
    * holds for file scans (`maxPartitionBytes` ⇒ ~1–4 M rows/task) but NOT
    * for cached / repartitioned / computed upstreams, whose partitions can
    * be arbitrarily large — without a bound a huge non-scan partition OOMs
    * where the classic HashAggregate would have spilled. 2²² entries ≈
    * 143 MB of map (17 B/slot at ¾ load) per in-flight task; flushing
    * emits the map's contents and resets — DUPLICATE keys across flushes
    * are safe, the final merge sums them. File-scan tasks (≲4 M rows)
    * never trigger it.
    */
  val partialFlushEntries: Int = 1 << 22

  /** High-water mark of live entries in any count map built since the
    * last `set(0)`; HistogramKernelSpec's flush-bound test reads it to
    * check that a partial map never outgrows [[partialFlushEntries]].
    * One atomic update per MAP (not per row) — free on the hot path.
    * In-JVM only: meaningful in local mode, per-executor on a cluster.
    * The round-13 merge-map peaks (NOTES.md, "Round-13 bin64: kernel
    * histogram weak-scaling") were read from it.
    */
  val maxMapEntries = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Count directly over UnsafeRows (the [[graft.plans.CountByKeyExec]]
    * hot path — no object boundary): key at ordinal 0; `cntOrdinal` ≥ 0
    * sums that column (the merge side), −1 counts 1 per row.
    *
    * `flushEntries` bounds the map's live entries: on reaching it the
    * current counts are emitted and the map reset (partial side only —
    * duplicates merge downstream; a FINAL-side caller must leave it at
    * `Int.MaxValue` or it would emit the same key twice in its output).
    */
  def countInternalRows(
      it: Iterator[org.apache.spark.sql.catalyst.InternalRow],
      cntOrdinal: Int,
      flushEntries: Int = Int.MaxValue): Iterator[(Long, Long)] =
    new Iterator[(Long, Long)] {
      private var inner: Iterator[(Long, Long)] = Iterator.empty
      require(flushEntries > 0, s"flushEntries must be positive: $flushEntries")
      private def refill(): Unit = {
        val m = new LongCountMap(1 << 16)
        // consume at least one row per epoch: a bound the guard above
        // missed could otherwise spin hasNext -> refill forever
        if (cntOrdinal < 0)
          do m.add(it.next().getLong(0), 1L)
          while (it.hasNext && m.entryCount < flushEntries)
        else
          do {
            val r = it.next()
            m.add(r.getLong(0), r.getLong(cntOrdinal))
          } while (it.hasNext && m.entryCount < flushEntries)
        maxMapEntries.getAndAccumulate(m.entryCount.toLong, Math.max(_, _))
        inner = m.result()
      }
      override def hasNext: Boolean = {
        while (!inner.hasNext && it.hasNext) refill()
        inner.hasNext
      }
      override def next(): (Long, Long) = {
        if (!hasNext) throw new NoSuchElementException("empty count iterator")
        inner.next()
      }
    }

  /** Reduce-side partition count for the kernel's exchange: the
    * session's `spark.sql.shuffle.partitions`, auto-raised so the merge
    * map stays ≲ 256 MB per task (17 B/entry), capped at 4096 — callers
    * with genuinely larger live-cell counts should size
    * `spark.sql.shuffle.partitions` themselves. Live cells are bounded
    * by min(cells, rows), so the raise is driven by that bound — a
    * sparse giant cube (10¹² cells, 10⁶ rows) must not schedule 4096
    * near-empty tasks. `liveCellsBound` = the caller's row estimate
    * (Catalyst plan stats), or `cells` when unknown.
    */
  def mergePartitions(spark: org.apache.spark.sql.SparkSession,
      cells: Long, liveCellsBound: Long = Long.MaxValue): Int = {
    val base = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val perTask = (256L << 20) / 17 // entries that fit the 256 MB target
    val live = math.min(cells, liveCellsBound)
    math.max(base, math.min(4096L, live / perTask + 1).toInt)
  }
}
