package graft

/** The interleaved, canary-bracketed, self-healing benchmark protocol —
  * extracted from [[Bench]] so a spec can drive it with SCRIPTED canary
  * probes and pin the contamination handling (round-15's driver
  * artifact self-reported `quiet_reps:0` on two queries yet exited 0
  * with a headline total; the protocol now extends until every query
  * has ≥ 2 quiet reps or names itself unusable).
  *
  * Protocol (see Bench's scaladoc for the measurement rationale):
  *
  *  - one untimed warm-up + one shuffle-metered run per workload, then
  *    reps are INTERLEAVED across workloads in rounds — a transient
  *    load spike lands on one rep of several queries instead of every
  *    rep of one query;
  *  - every rep is bracketed by a canary PAIR (single-thread CPU probe
  *    + multi-thread bandwidth probe); a rep is QUIET iff all four
  *    bracket readings sit within 1.3×/1.5× of the suite-wide quiet
  *    minimum of their kind;
  *  - the suite SELF-HEALS: while any query has < 2 quiet reps, up to
  *    `maxExtraRounds` additional full interleaved rounds run;
  *  - a query still under 2 quiet reps after the budget is named in
  *    `unusable` (and, at zero quiet reps, in `contaminated`): the
  *    artifact either carries clean numbers or says exactly which ones
  *    are weather — and [[Bench]] exits NONZERO so the round driver
  *    records the run as contaminated instead of archiving weather as
  *    the number of record.
  */
object BenchProtocol {

  /** One rep's reading: seconds plus the four bracket canaries. */
  final case class Rep(sec: Double, cpuB: Double, bwB: Double,
      cpuA: Double, bwA: Double) {
    // bw threshold looser than cpu: the triad's own scheduling noise is
    // larger than the sqrt loop's, while real bandwidth weather (the
    // round-12 contamination) swings 2-3× — still cleanly past 1.5×
    def quiet(cpuMin: Double, bwMin: Double): Boolean =
      math.max(cpuB, cpuA) <= 1.3 * cpuMin &&
        math.max(bwB, bwA) <= 1.5 * bwMin
  }

  /** Per-query aggregate over quiet reps (or all reps when none quiet).
    * `agreedReps` ≤ `quietReps`: quiet reps whose timing also agrees
    * with the query's quiet minimum (see the floor-reproduction rule in
    * [[runSuite]]); for queries at ≥ 0.5 s the two are equal.
    * `spread` (max÷min) is over ALL quiet reps; `agreedSpread` is the
    * same statistic over the agreed subset — the dispersion the verdict
    * is actually based on (a usable artifact can carry a wide `spread`
    * from in-band weather the agreement rule already discounted, so the
    * honest cross-round statistic is `agreedSpread`).
    */
  final case class QStat(name: String, min: Double, median: Double,
      spread: Double, agreedSpread: Double, cpuCanary: Double,
      bwCanary: Double, shuffleMb: Double, quietReps: Int, agreedReps: Int)

  /** Suite outcome. `contaminated` = zero quiet reps (stats fall back to
    * all reps); `unusable` = fewer than the required 2 quiet reps after
    * the extension budget — the superset the driver must treat as
    * not-a-number-of-record.
    */
  final case class SuiteResult(stats: Seq[QStat], contaminated: Seq[String],
      extraRounds: Int, unusable: Seq[String])

  /** Run the suite. `cpuProbe`/`bwProbe` are injectable for the spec;
    * `shuffleMbOf` maps a workload run to its shuffle-write megabytes
    * (Bench passes the listener delta; the spec passes a constant).
    * `warmups` is the count of untimed warm-up executions per workload
    * BEFORE the shuffle-metered run (so every workload executes
    * `warmups + 1` times untimed): a suite that runs in a fresh JVM can
    * request extra passes to pay the C2/codegen cost a later suite in
    * the same JVM inherits for free — the cross-leg JIT asymmetry that
    * made Bench's ×1 leg read slower than its ×10 leg on sub-second
    * queries (VERDICT r17). `extraWarmups` adds per-workload passes on
    * top of `warmups`: an allocation-heavy workload can have a C2
    * warm-up TAIL much longer than the suite default (dedup_exact's
    * floor descends monotonically over ~17 executions — NOTES.md,
    * "Round-19 candidates / standing cautions" item 2), so its minimum keeps creeping down through the
    * timed rounds and the min-anchored agreement band excludes the
    * earlier reps; paying the tail untimed lets the timed reps start at
    * the plateau the band is anchored to.
    */
  def runSuite(
      ws: Seq[(String, () => Unit)],
      rounds: Int,
      maxExtraRounds: Int,
      cpuProbe: () => Double,
      bwProbe: () => Double,
      shuffleMbOf: (String, () => Unit) => Double,
      warmups: Int = 1,
      extraWarmups: Map[String, Int] = Map.empty,
      selfBracketed: Boolean = false,
  ): SuiteResult = {
    // empty inputs would crash deep inside (quietMins' .min over no
    // reps, secs.head over no rounds) — name the misuse at the boundary
    require(ws.nonEmpty, "bench protocol: no workloads given")
    require(rounds >= 1, s"bench protocol: rounds must be >= 1, got $rounds")
    require(warmups >= 0, s"bench protocol: warmups must be >= 0, got $warmups")
    require(extraWarmups.values.forall(_ >= 0),
      s"bench protocol: extraWarmups must be >= 0, got $extraWarmups")
    def tryRun(name: String, run: () => Unit): Unit =
      try run()
      catch { case e: Throwable => System.err.println(s"[bench] $name failed: $e") }
    // per-workload untimed warm-up(s) (whole-stage-codegen generation +
    // C2 compile happen per distinct plan) and one shuffle-metered run
    val shuffleMb = ws.map { case (name, run) =>
      (1 to (warmups + extraWarmups.getOrElse(name, 0)))
        .foreach(_ => tryRun(name, run))
      name -> shuffleMbOf(name, () => tryRun(name, run))
    }.toMap
    val reps = collection.mutable.Map.empty[String, Vector[Rep]]
      .withDefaultValue(Vector.empty)
    def oneRound(): Unit = {
      var cpuPrev = cpuProbe()
      var bwPrev = bwProbe()
      for ((name, run) <- ws) {
        val t0 = System.nanoTime()
        tryRun(name, run)
        val sec = (System.nanoTime() - t0) / 1e9
        val cpuNext = cpuProbe()
        val bwNext = bwProbe()
        reps(name) = reps(name) :+ Rep(sec, cpuPrev, bwPrev, cpuNext, bwNext)
        cpuPrev = cpuNext; bwPrev = bwNext
      }
    }
    (1 to rounds).foreach(_ => oneRound())
    def quietMins(): (Double, Double) = {
      val all = reps.values.flatten
      (all.flatMap(r => Seq(r.cpuB, r.cpuA)).min,
        all.flatMap(r => Seq(r.bwB, r.bwA)).min)
    }
    // A sub-second timed region can be hit by a spike SHORTER than the
    // canary bracket interval: both brackets read quiet, yet the rep's
    // timing is weather (round 16's ×1 leg carried quiet-rep spreads up
    // to 4.8× this way, with inverted_1x to match). Spikes only ever
    // SLOW a rep, so the defense is floor REPRODUCTION: a quiet rep of a
    // sub-second query counts toward the 2-rep requirement only if its
    // time agrees with the query's quiet minimum — within 1.3× or 50 ms,
    // whichever is wider (the absolute slack keeps microsecond-scale
    // timings, whose relative jitter is huge, from thrashing the band).
    // Queries at ≥ 0.5 s keep the plain quiet criterion: a long region
    // dilutes a short spike, and sustained weather hits the brackets.
    val subSecond = 0.5
    def agreedSubset(name: String, cm: Double, bm: Double): Vector[Rep] = {
      // selfBracketed (the ×100 scale leg): workloads big enough to
      // leave the memory subsystem hot POISON their own brackets — the
      // bw triad read 1.3-1.6× right after the 60 M-row workloads while
      // the ×1 suite in the same process stayed at 1.0× (GC/page-cache
      // residue, not co-tenant weather), so canary gating would burn the
      // whole extension budget on a structural signal. For those suites
      // the AGREEMENT band is the quiet criterion for every rep: a
      // multi-second timed region dilutes bracket-scale spikes, and
      // sustained weather moves the TIMING itself, which the band
      // catches. Canary readings are still recorded (QStat fields and
      // the whole-run `run_quiet` envelope use them).
      val q =
        if (selfBracketed) reps(name)
        else reps(name).filter(_.quiet(cm, bm))
      if (q.isEmpty) Vector.empty
      else {
        val mn = q.map(_.sec).min
        if (!selfBracketed && mn >= subSecond) q
        else q.filter(_.sec <= math.max(1.3 * mn, mn + 0.05))
      }
    }
    def shortOfQuiet(): Boolean = {
      val (cm, bm) = quietMins()
      ws.exists { case (n, _) => agreedSubset(n, cm, bm).size < 2 }
    }
    var extra = 0
    while (extra < maxExtraRounds && shortOfQuiet()) { oneRound(); extra += 1 }
    val (cpuMin, bwMin) = quietMins()
    val stats = ws.map { case (name, _) =>
      val all = reps(name)
      val q =
        if (selfBracketed) agreedSubset(name, cpuMin, bwMin)
        else all.filter(_.quiet(cpuMin, bwMin))
      val use = if (q.nonEmpty) q else all
      val secs = use.map(_.sec).sorted
      val agreed = agreedSubset(name, cpuMin, bwMin)
      // dispersion over the reps the verdict counted; with no agreed
      // reps (contaminated query) fall back to the same reps the other
      // stats fall back to, so the two spread fields stay comparable
      val aSecs = (if (agreed.nonEmpty) agreed else use).map(_.sec).sorted
      QStat(name, secs.head, secs(secs.size / 2),
        if (secs.head > 0) secs.last / secs.head else 1.0,
        if (aSecs.head > 0) aSecs.last / aSecs.head else 1.0,
        use.map(r => math.max(r.cpuB, r.cpuA)).min,
        use.map(r => math.max(r.bwB, r.bwA)).min,
        shuffleMb(name), q.size, agreed.size)
    }
    SuiteResult(stats,
      stats.filter(_.quietReps == 0).map(_.name),
      extra,
      stats.filter(_.agreedReps < 2).map(_.name))
  }

  /** Artifact usability + process exit code roll-up — BOTH weather
    * modes gate `usable` and force a nonzero exit:
    *
    *  - exit 3, noisy box: named queries still lack 2 quiet+agreed reps
    *    after the extension budget (`unusable` nonempty);
    *  - exit 4, uniformly hot box: every rep looks quiet RELATIVE to
    *    the suite's own canary minima, but those minima sit outside the
    *    committed quiet-box envelope (`run_quiet` false) — the
    *    whole-run baseline shift the absolute constants exist for.
    *
    * Distinct codes let the round driver tell "wait out the co-tenant
    * burst and retry" (3) from "the box baseline moved — recalibrate or
    * move" (4). Neither artifact may be archived as a number of record.
    */
  def verdict(unusable: Seq[String], runQuiet: Boolean): (Boolean, Int) =
    if (unusable.nonEmpty) (false, 3)
    else if (!runQuiet) (false, 4)
    else (true, 0)
}
