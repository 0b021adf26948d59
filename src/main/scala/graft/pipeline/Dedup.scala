package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard. Designed shuffle-aware for
  * 100 TB: every variant reduces to (a) per-row signature computation in a
  * single codegen'd projection, then (b) ONE shuffle on a bucket/hash key
  * whose cardinality is bounded, then (c) pair verification restricted to
  * within-bucket candidates — never an all-pairs join.
  */
object Dedup {

  /** Exact dedup: group by the normalized-content fingerprint, keep the
    * lowest id per group. One hash-partitioned aggregation; the winners
    * survive, `dupCount` reports cluster sizes.
    */
  def exactDuplicates(
      df: DataFrame,
      textCol: String,
      idCol: String,
      normalize: Boolean = false,
  ): DataFrame = {
    val fp = if (normalize) TextOps.fingerprint(col(textCol)) else md5(col(textCol))
    df.select(fp.as("h"), col(idCol))
      .groupBy("h")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))
  }

  /** Drop exact duplicates keeping the lowest id — the materializing
    * variant (left-semi join back against the winners, both sides
    * hash-partitioned on the fingerprint: no broadcast of the full corpus).
    */
  def dropExactDuplicates(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val winners = exactDuplicates(df, textCol, idCol)
      .select(col("keep_id").as(idCol))
    df.join(winners, Seq(idCol), "left_semi")
  }

  // ---- Bloom-filter incremental dedup ----

  /** Build a Bloom-filter fingerprint of a corpus's content hashes — the
    * Dolma-style incremental-dedup primitive: one distributed pass
    * (`stat.bloomFilter` runs a treeAggregate; partial filters OR-merge
    * on the way up), returning serialized bytes sized by
    * `expectedItems`/`fpp`, NOT by corpus bytes (1e9 docs at 1% fpp ≈
    * 1.2 GB of bits). New batches then probe it with [[bloomSeen]]
    * without ever joining against the historical corpus.
    *
    * 100 TB sizing: the filter must fit on the driver and each executor
    * once. For corpora beyond a few billion documents, shard the corpus
    * by a stable hash prefix and keep one filter per shard, probing the
    * matching shard's filter only.
    */
  def buildBloomFingerprint(
      df: DataFrame,
      textCol: String,
      expectedItems: Long,
      fpp: Double = 0.01,
  ): Array[Byte] = {
    val filter = df.select(xxhash64(col(textCol)).as("h"))
      .stat.bloomFilter("h", expectedItems, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    filter.writeTo(bos)
    bos.toByteArray
  }

  /** `true` when the text's hash is (probably) in the fingerprint: no
    * false negatives, `fpp` false positives. Codegen'd probe against the
    * broadcast filter ([[BloomMightContain]]) — fuses into the scan.
    */
  def bloomSeen(df: DataFrame, textCol: String, filterBytes: Array[Byte]): Column = {
    val bc = df.sparkSession.sparkContext.broadcast(filterBytes)
    org.apache.spark.sql.GraftBridge.column(BloomMightContain(
      org.apache.spark.sql.GraftBridge.expression(xxhash64(col(textCol))), bc))
  }

  /** Keep only rows of `batch` whose content was NOT seen by the corpus
    * fingerprint (the incremental-ingest filter). A true-positive rate of
    * `fpp` of genuinely-new rows is falsely dropped — acceptable for
    * training-data dedup, where precision of "new" matters more than
    * perfect recall; use [[dropExactDuplicates]] for the exact path.
    */
  def dropBloomSeen(batch: DataFrame, textCol: String, filterBytes: Array[Byte]): DataFrame =
    batch.filter(!bloomSeen(batch, textCol, filterBytes))

  // ---- MinHash + LSH ----

  /** Deterministic per-function affine hash of a shingle:
    * `(a_i * (h(s) mod p) + b_i) mod p` with the Mersenne prime `2^31 − 1`.
    * Both factors stay below 2^31, so the product fits a Long without
    * overflow (Spark 4 runs ANSI arithmetic — a wider prime would throw).
    * The native kernels evaluate the family in [[AffineMinHash]].
    */
  private val MersennePrime = AffineMinHash.P

  /** The seeded affine-hash family coefficients — exposed so an external
    * oracle (SQL generation) can reproduce the exact signature arithmetic.
    */
  def hashCoeffs(numHashes: Int, seed: Long): Array[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(numHashes)((math.abs(rnd.nextLong()) % (MersennePrime - 1) + 1,
      math.abs(rnd.nextLong()) % MersennePrime))
  }

  /** MinHash signature (length `numHashes`) over the distinct char-k-gram
    * shingle set — all higher-order array expressions, computed in one
    * projection with no shuffle:
    * `sig_i = min over shingles of (a_i·h(s) + b_i) mod p`.
    */
  def minhashSignature(
      text: Column,
      k: Int = 5,
      numHashes: Int = 32,
      seed: Long = 42L,
  ): Column =
    // fused text→signature codegen kernel: one in-place pass over the
    // string's bytes — bit-identical to the declarative
    // minhashFromBase(baseShingleHashes(…)) pipeline it replaces
    // (MinHashTextExprSpec pins equality, incl. null/short/unicode)
    org.apache.spark.sql.GraftBridge.column(
      MinHashTextExpr(
        org.apache.spark.sql.GraftBridge.expression(text), k, numHashes, seed))

  /** Reduced shingle hashes `h(s) mod p` — materialize this into its own
    * column before fanning out the hash family: the shingle/hash array is
    * by far the most expensive subtree, and Spark does not share common
    * subexpressions across the `numHashes` sibling expressions, so inlining
    * it N times costs N× (measured 40× on the bench corpus). `portable`
    * swaps xxhash64 for the SQL-expressible polynomial char hash
    * ([[TextOps.polyHashFixed]]) so downstream results are oracle-checkable.
    */
  def baseShingleHashes(text: Column, k: Int, portable: Boolean = false): Column = {
    val hasher: Column => Column =
      if (portable) TextOps.polyHashFixed(_, k)
      else s => pmod(xxhash64(s), lit(MersennePrime))
    transform(TextOps.charShingleSet(text, k), hasher)
  }

  /** Signature from a pre-materialized [[baseShingleHashes]] column —
    * the native one-pass kernel ([[MinHashSignatureExpr]]); bit-identical
    * to the declarative `numHashes × array_min(transform(…))` form it
    * replaced (same seeded affine family, same reduction, all-null
    * signature for an empty shingle set).
    */
  def minhashFromBase(base: Column, numHashes: Int, seed: Long = 42L): Column =
    org.apache.spark.sql.GraftBridge.column(
      MinHashSignatureExpr(
        org.apache.spark.sql.GraftBridge.expression(base), numHashes, seed))

  /** Ensure the expensive per-document signature projection gets at least
    * the session's shuffle parallelism: a scan with fewer splits than
    * cores (e.g. one local single-row-group file) would otherwise pin the
    * whole signature pipeline to one task. No-op — no shuffle inserted —
    * whenever the scan already has enough splits, which at lake scale it
    * always does.
    *
    * The split count is read with `df.rdd.getNumPartitions` only when the
    * executed plan has no exchange, no subquery, no adaptive wrapper and
    * no unbuilt cache over such a plan: only then is that read pure
    * planning. Under AQE, `df.rdd` over an input with exchanges runs the
    * input's map stages, a job whose output is thrown away. Such an input
    * already had its partitioning set by a shuffle or a join, so it is
    * returned unchanged, and this guard never starts a Spark job.
    */
  private def ensureParallelism(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    def runsJobs(plan: SparkPlan): Boolean = plan.exists {
      case _: AdaptiveSparkPlanExec | _: Exchange => true
      case s: InMemoryTableScanExec =>
        !s.relation.cacheBuilder.isCachedColumnBuffersLoaded &&
          runsJobs(s.relation.cachedPlan)
      case p => p.subqueries.nonEmpty
    }
    if (runsJobs(df.queryExecution.executedPlan)) return df
    val p = df.sparkSession.sessionState.conf.numShufflePartitions
    val want = math.min(p, df.sparkSession.sparkContext.defaultParallelism)
    if (df.rdd.getNumPartitions < want) df.repartition(p) else df
  }

  /** MinHash+LSH near-duplicate pairs.
    *
    * Banding: the signature is cut into `bands` slices of `rows` hashes; a
    * pair is a candidate iff some slice hashes equal. The plan is
    * `project(band hashes) → posexplode → shuffle(band_idx, band_hash) →
    * self-join within buckets → distinct candidate pairs → attach full
    * signatures by keyed join → estimate Jaccard`. The band exchange
    * carries ONLY `(id, band_idx, band_hash)` — never the signature
    * array — so shuffle volume is ~24 B × bands per document instead of
    * `bands × numHashes × 8 B`, and a pair matching in several bands is
    * deduplicated BEFORE the (comparatively expensive) signature
    * agreement count instead of recomputing it per matching band. The
    * signature projection runs exactly ONCE: `(id, sig)` is hash-
    * repartitioned by id, and that single exchange is the shared input of
    * the band explode and of both signature-attach joins (identical
    * canonical subtree → ReuseExchange / AQE stage reuse), as well as the
    * partitioning the attach joins need. The only bucket-shuffle key is
    * the band hash, so skew is bounded by bucket size, and the candidate
    * set — not n² — drives the join cost.
    *
    * Returns `(id_a, id_b, est_jaccard)` with `id_a < id_b`, distinct,
    * filtered to `est_jaccard >= threshold`.
    */
  /** MinHash signature table `(id, sig)` — the reusable dedup index: at
    * scale, compute ONCE per corpus and persist (parquet, bucketed by
    * id) so every incremental batch ([[minhashNearDuplicatesAgainst]])
    * reads it instead of re-shingling 100 TB of text.
    */
  def minhashSignatures(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 5,
      numHashes: Int = 32,
      seed: Long = 42L,
      portable: Boolean = false,
  ): DataFrame =
    // the fused text→signature codegen kernel ([[MinHashTextExpr]]) — no
    // shingle/base-array materialization, bit-identical output on BOTH
    // hash families (spec-pinned; the portable polynomial is the form
    // the DuckDB oracle mirrors, and the oracle still passes unchanged)
    ensureParallelism(df)
      .select(col(idCol).as("id"),
        org.apache.spark.sql.GraftBridge.column(
          MinHashTextExpr(
            org.apache.spark.sql.GraftBridge.expression(col(textCol)),
            k, numHashes, seed, portable)).as("sig"))

  /** Banding-parameter planner (the datasketch recipe): choose the
    * `(bands, rowsPerBand)` factorization of `numHashes` minimizing the
    * weighted false-positive/false-negative probability mass around the
    * target Jaccard `threshold` — `P(pair probed) = 1 − (1 − s^r)^b`,
    * FP mass = ∫₀ᵗ P ds, FN mass = ∫ₜ¹ (1−P) ds (numeric midpoint rule).
    * Returns `(bands, rowsPerBand)`; the S-curve midpoint `(1/b)^(1/r)`
    * lands near `threshold`. Driver-side arithmetic only — use it to
    * parameterize [[minhashNearDuplicates]] instead of guessing bands.
    */
  def lshPlan(
      threshold: Double,
      numHashes: Int,
      fpWeight: Double = 0.5,
      fnWeight: Double = 0.5,
  ): (Int, Int) = {
    require(threshold > 0 && threshold < 1, s"threshold=$threshold")
    val candidates = (1 to numHashes).filter(numHashes % _ == 0)
    val steps = 1000
    def probe(s: Double, b: Int, r: Int): Double =
      1.0 - math.pow(1.0 - math.pow(s, r), b)
    val best = candidates.minBy { b =>
      val r = numHashes / b
      var fp = 0.0
      var fn = 0.0
      var i = 0
      while (i < steps) {
        val s = (i + 0.5) / steps
        val p = probe(s, b, r)
        if (s < threshold) fp += p else fn += 1.0 - p
        i += 1
      }
      (fpWeight * fp + fnWeight * fn) / steps
    }
    (best, numHashes / best)
  }

  /** LSH band table `(id, band_idx, band_hash)` of a signature table —
    * ~24 B per (doc, band). At scale, persist it bucketed by
    * `(band_idx, band_hash)` so incremental probes join exchange-free.
    *
    * FORMAT STABILITY: band-hash VALUES changed when [[BandHashesExpr]]
    * replaced the old `xxhash64(concat_ws(...))` form (round 18) —
    * equality semantics are preserved within one version, but a band
    * table persisted by an older build will silently join to ZERO
    * candidates against newly hashed probes. Regenerate any persisted
    * band table when upgrading across that change.
    */
  def minhashBands(sigs: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    // native one-pass band hashing ([[BandHashesExpr]]): the declarative
    // transform/slice/concat_ws form was interpreted (HOFs are
    // CodegenFallback) and built one string per band just to feed a byte
    // hash; consumers key on band-hash EQUALITY only, so swapping the
    // hash function preserves every candidate set (spec + oracle pinned)
    sigs.select(
      col("id"),
      posexplode(org.apache.spark.sql.GraftBridge.column(BandHashesExpr(
        org.apache.spark.sql.GraftBridge.expression(col("sig")), bands, rows))),
    ).withColumnsRenamed(Map("pos" -> "band_idx", "col" -> "band_hash"))
  }

  /** Near-duplicate pairs `(id_a, id_b, est_jaccard ≥ threshold)`,
    * `id_a < id_b`, each pair exactly once. Two physical plans with
    * identical output:
    *
    *  - default (`inlineVerify = false`): the SPARSE-duplicate shape for
    *    realistic web corpora (pairs ≪ docs × bands) — the band exchange
    *    carries `(id, band_idx, band_hash)` only (~24 B/row), candidate
    *    pairs distinct, signatures attach via two reused id-keyed joins.
    *  - `inlineVerify = true`: the CLIQUE-robust shape for
    *    heavy-duplication corpora — signatures ride the band exchange
    *    (~24 B + 8 B·numHashes per row) and pairs verify AT FORMATION,
    *    deduplicated by the first-matching-band rule (a pair is emitted
    *    only from the lowest band index whose rows agree), so no
    *    distinct and no pair-keyed exchanges exist at all. Evidence
    *    (NOTES.md, "Round-9 ×64 pair-mass rehearsal"): on a ×64 near-dup
    *    clique corpus (every doc in a 64-clique, 11.1 M true pairs from
    *    320 k docs) the default plan's pair exchanges blow up to
    *    11.4 GB shuffle / 506 s while the inline plan stays bounded by
    *    docs × bands.
    *
    * Rule of thumb: default for ingest dedup of raw crawls; inline when
    * the corpus is known duplicate-heavy (mirror lakes, version stacks).
    */
  def minhashNearDuplicates(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 5,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5,
      seed: Long = 42L,
      portable: Boolean = false,
      inlineVerify: Boolean = false,
      pairKeyedDistinct: Boolean = false,
  ): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    // hash-repartition by id: this ONE exchange materializes the expensive
    // signature projection and is the shared, reused input of the band
    // explode and both attach joins below (and already satisfies the
    // attach joins' partitioning requirement)
    val sigs = minhashSignatures(df, textCol, idCol, k, numHashes, seed, portable)
      .repartition(col("id"))
    minhashFromSigs(sigs, numHashes, bands, threshold, inlineVerify,
      pairKeyedDistinct)
  }

  /** Both physical near-dup plans over a prepared `(id, sig)` frame (see
    * [[minhashNearDuplicates]] for their semantics) — split out so the
    * auto path can feed BOTH the census and the chosen plan from one
    * signature shuffle instead of shingling the corpus twice.
    */
  private[graft] def minhashFromSigs(
      sigs: DataFrame,
      numHashes: Int,
      bands: Int,
      threshold: Double,
      inlineVerify: Boolean,
      pairKeyedDistinct: Boolean = false,
  ): DataFrame = {
    val rows = numHashes / bands
    if (inlineVerify) {
      // signatures ride the band exchange; both sigs are present at pair
      // formation, so verification is an inline projection and the
      // first-matching-band rule replaces the global distinct
      val bandedS = sigs.select(col("id"), col("sig"),
        posexplode(org.apache.spark.sql.GraftBridge.column(BandHashesExpr(
          org.apache.spark.sql.GraftBridge.expression(col("sig")), bands, rows))))
        .withColumnsRenamed(Map("pos" -> "band_idx", "col" -> "band_hash"))
      // native codegen kernel: a higher-order slice/filter lambda here is
      // interpreted per candidate row and measured 5× slower than the
      // whole default plan (see FirstMatchingBand scaladoc)
      val firstMatch = org.apache.spark.sql.GraftBridge.column(
        FirstMatchingBand(
          org.apache.spark.sql.GraftBridge.expression(col("a.sig")),
          org.apache.spark.sql.GraftBridge.expression(col("b.sig")),
          bands, rows))
      bandedS.as("a")
        .join(bandedS.as("b"),
          col("a.band_idx") === col("b.band_idx")
            && col("a.band_hash") === col("b.band_hash"))
        .filter(col("a.id") < col("b.id") &&
          firstMatch === col("a.band_idx"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          (org.apache.spark.sql.GraftBridge.column(PositionalEqCount(
            org.apache.spark.sql.GraftBridge.expression(col("a.sig")),
            org.apache.spark.sql.GraftBridge.expression(col("b.sig"))))
            .cast("double") / numHashes).as("est_jaccard"))
        .filter(col("est_jaccard") >= threshold)
    } else {
      // band exchange carries (id, band_idx, band_hash) ONLY — no signatures
      val banded = minhashBands(sigs, numHashes, bands)
      val candidates = banded.as("a")
        .join(banded.as("b"),
          col("a.band_idx") === col("b.band_idx")
            && col("a.band_hash") === col("b.band_hash"))
        .filter(col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        // a pair matching in >1 band is verified once, not per band. The
        // dedup is keyed by id_a BEFORE the distinct: HashPartitioning
        // on id_a satisfies the distinct's ClusteredDistribution(id_a,
        // id_b) — a subset of the grouping keys — AND is exactly the
        // partitioning the first signature-attach join needs, so the
        // pair table crosses the network ONCE here instead of twice
        // (distinct exchange + join re-key). Guide §2.4: two operations
        // keyed the same way share one exchange.
        //
        // SKEW GUARD (guide §2.5, VERDICT r18 #1): keying by id_a alone
        // puts EVERY candidate pair of one hot document on one partition
        // — an exchange AQE's skew handling cannot split (it covers
        // joins, not this aggregate's clustering). When the caller knows
        // a hot key is possible (`pairKeyedDistinct` — the auto path
        // gates it on its band census's max bucket size), the distinct
        // keys by the full (id_a, id_b) pair: partition mass is then
        // bounded by hash dispersion, at the cost of the one extra
        // exchange the first attach join re-inserts. Both shapes emit
        // the identical distinct pair set (spec-pinned).
        .repartition(
          (if (pairKeyedDistinct) Seq(col("id_a"), col("id_b"))
           else Seq(col("id_a"))): _*)
        .distinct()
      // attach sides stay alias-identical so their id-hash exchanges
      // canonicalize to the same subtree and ReuseExchange computes the
      // signature projection once for both joins
      candidates
        .join(sigs.as("sa"), col("id_a") === col("sa.id"))
        .join(sigs.as("sb"), col("id_b") === col("sb.id"))
        .select(col("id_a"), col("id_b"),
          // native equal-position count: no per-pair array allocations
          (org.apache.spark.sql.GraftBridge.column(PositionalEqCount(
            org.apache.spark.sql.GraftBridge.expression(col("sa.sig")),
            org.apache.spark.sql.GraftBridge.expression(col("sb.sig"))))
            .cast("double") / numHashes).as("est_jaccard"))
        .filter(col("est_jaccard") >= threshold)
    }
  }

  /** One-agg bucket-size census over the LSH band table: estimated
    * `(docs, pairMass)` where `pairMass = Σ_buckets n·(n−1)/2` counts the
    * PRE-distinct candidate pairs the default [[minhashNearDuplicates]]
    * plan would shuffle — the quantity that cliffs on duplicate-heavy
    * corpora (11.4 GB / 457 s at pairMass ≈ 250× docs, vs 764 MB /
    * 79.7 s for the inline plan; NOTES.md, "Round-9 ×64 pair-mass
    * rehearsal").
    *
    * Cost: one signature map pass + a `(band_idx, band_hash)` partial
    * aggregate whose shuffle is the DISTINCT bucket set only (ids are
    * pruned before the exchange). At 100 TB set `fraction < 1` to census
    * a deterministic doc sample instead: `E[sampled pairs] = fraction² ×
    * pairs`, so both estimates rescale exactly in expectation and the
    * census pass touches `fraction` of the corpus.
    */
  def minhashPairMassCensus(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 5,
      numHashes: Int = 32,
      bands: Int = 8,
      seed: Long = 42L,
      portable: Boolean = false,
      fraction: Double = 1.0,
  ): (Double, Double) = {
    require(fraction > 0.0 && fraction <= 1.0, "fraction must be in (0, 1]")
    val base =
      if (fraction >= 1.0) df
      else df.sample(withReplacement = false, fraction, seed)
    val sigs = minhashSignatures(base, textCol, idCol, k, numHashes, seed,
      portable)
    val (docs, pairMass, _) = censusOfSigs(sigs, numHashes, bands)
    (docs / fraction, pairMass / (fraction * fraction))
  }

  /** The census aggregate over a prepared signature frame: (docs,
    * pre-distinct pair mass, max bucket size). The max rides the same
    * one-row aggregate for free — it bounds the hottest id_a's pair
    * count (≤ bands × (maxBucket − 1)), the skew signal the keyed
    * distinct's guard needs.
    */
  private def censusOfSigs(
      sigs: DataFrame, numHashes: Int, bands: Int): (Double, Double, Long) = {
    val row = minhashBands(sigs, numHashes, bands)
      .groupBy("band_idx", "band_hash").agg(count(lit(1)).as("n"))
      .agg(
        // each doc contributes exactly one row per band
        (sum(col("n")).cast("double") / bands).as("docs"),
        coalesce(sum(col("n").cast("double") * (col("n") - 1) / 2.0),
          lit(0.0)).as("pair_mass"),
        coalesce(max(col("n")), lit(0L)).as("max_bucket"))
      .collect()(0)
    (if (row.isNullAt(0)) 0.0 else row.getDouble(0), row.getDouble(1),
      row.getLong(2))
  }

  /** The plan rule [[minhashNearDuplicatesAuto]] encodes (previously
    * NOTES-file folklore): route to the inline-verify plan when the
    * census's pre-distinct pair mass exceeds `pairMassPerDoc × docs`.
    *
    * Derivation of the default: the default plan's extra cost over inline
    * is the pair-keyed exchanges, ≈ 24 B × pairMass through the distinct
    * plus ~(8·numHashes) B per verified pair through the sig-attach
    * joins; inline's extra cost is signatures riding the band exchange,
    * ≈ 8·numHashes B × bands × docs. With the defaults (32 hashes,
    * 8 bands) the crossover sits near pairMass ≈ 40–70 × docs; the ×16
    * rehearsal point (pairMass ≈ 66 × docs) already measured inline
    * faster (7.0 s vs 11.4 s), so the default threshold is set a notch
    * below at 32 — sparse web corpora (pairMass a small multiple of docs)
    * keep the 24 B/row band exchange, duplicate-heavy lakes route inline
    * well before the cliff.
    */
  def minhashPreferInline(
      docs: Double, pairMass: Double, pairMassPerDoc: Double = 32.0,
  ): Boolean = pairMass > pairMassPerDoc * docs

  /** Row cap for the hottest id_a through the default plan's id_a-keyed
    * distinct before the auto path falls back to (id_a, id_b) keying
    * (`spark.graft.minhash.hotKeyRowCap`). The hottest document's pair
    * count is bounded by `bands × (maxBucket − 1)` from the census; at
    * ~24 B per candidate row the 4 M default caps the hot partition's
    * extra mass near 100 MB — one task's comfortable working set. Only
    * the regime where the default plan is still the right ROUTE but one
    * key is hot trips this: pairMass ≤ 32 × docs with a single bucket of
    * n docs implies n ≤ 8√docs, so the gate engages around 10¹¹ docs —
    * or earlier on corpora whose mass concentrates in one bucket.
    */
  val hotKeyRowCapDefault: Long = 4L << 20

  /** Doc-count floor under which [[minhashNearDuplicatesAuto]] skips the
    * census (when the optimizer KNOWS the row count — CBO stats or a
    * LocalRelation). 50 k docs is two decades under the ×64 routing
    * crossover for corpora with realistic duplication.
    */
  val censusFloorDocs: Long = 50000L

  /** Plan-stats floor test, zero Spark jobs: row count ≤
    * [[censusFloorDocs]] when the optimizer carries one, else a leaf
    * row count for driver-resident inputs (LocalRelation / Range carry
    * exact counts the size-only stats visitor drops above the leaf),
    * else scan-stats bytes ≤ `floorBytes` — and the byte floor applies
    * ONLY when every leaf is a file scan, where `sizeInBytes` is real
    * file bytes. In-memory / RDD-backed plans report schema-default
    * estimates (~20 B per string regardless of content), which would
    * put arbitrarily large corpora under the floor; for those the safe
    * direction is to run the census. (Parquet scans without CBO report
    * compressed file bytes; the 8 MB default covers the bench ×10
    * corpus with margin and ~1e5 docs of web-page shape — see the
    * caller's scaladoc for the dictionary-compression caveat.) Leaf
    * counts are an output bound only for non-multiplying plans, so the
    * leaf path is skipped when the plan contains a Join or Generate.
    */
  private def underCensusFloor(df: DataFrame, floorBytes: Long): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical.{Generate, Join}
    val plan = df.queryExecution.optimizedPlan
    val stats = plan.stats
    stats.rowCount match {
      case Some(n) => n <= BigInt(censusFloorDocs)
      case None =>
        val leaves = plan.collectLeaves()
        val multiplying = plan.exists {
          case _: Join | _: Generate => true
          case _ => false
        }
        val leafRows = leaves.map {
          case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
            Some(BigInt(l.data.length))
          case r: org.apache.spark.sql.catalyst.plans.logical.Range =>
            Some(r.numElements)
          case _ => None
        }
        if (!multiplying && leaves.nonEmpty && leafRows.forall(_.isDefined))
          leafRows.flatten.sum <= BigInt(censusFloorDocs)
        else {
          val allFileScans = leaves.nonEmpty && leaves.forall {
            case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
              l.relation.isInstanceOf[
                org.apache.spark.sql.execution.datasources.HadoopFsRelation]
            case _ => false
          }
          allFileScans && stats.sizeInBytes <= BigInt(floorBytes)
        }
    }
  }

  /** [[minhashNearDuplicates]] with the physical plan chosen from data,
    * not folklore: a one-agg bucket-size census estimates the
    * pre-distinct candidate-pair mass, and the [[minhashPreferInline]]
    * rule routes duplicate-heavy corpora to the clique-robust inline
    * plan before the default plan's pair-keyed exchanges cliff. Output
    * is identical either way (parity is plan-pinned in PipelineSpec).
    *
    * The census premium is paid ONCE, not twice: the signature table is
    * built and id-partitioned by one shuffle, whose map stage runs once
    * in this call (under AQE before the census, else as the census's
    * first stage). The census and the CHOSEN plan both
    * read that shuffle's finished output
    * ([[org.apache.spark.sql.GraftBridge.ofExecutedRdd]]), so auto's
    * total work is one signature pass + one small bucket aggregate on
    * top of the pinned plan, instead of round-12's full second shingling
    * pass (a sampled census was measured first and saves nothing at bench
    * scale: the fixed scan+exchange dominates there, not shingling). No
    * cache entry is made: the shuffle files live as long as the returned
    * frame and go when the ContextCleaner collects it. Corpora whose
    * census should touch only a sample can pass `censusFraction < 1` to
    * take the sampled-census path ([[minhashPairMassCensus]]'s
    * exact-expectation rescale) and let the chosen plan re-shingle.
    *
    * TOY-SCALE FLOOR: the census is a flat ~0.2–0.4 s Spark action, which
    * only matters when the dedup itself is sub-second — exactly the small
    * corpora where routing cannot pay for itself. When the input's
    * plan-stats say the corpus is small (row count ≤ [[censusFloorDocs]]
    * when the optimizer knows it, else scan size ≤ `censusFloorBytes` —
    * parquet scans without CBO stats report only bytes), the census is
    * skipped and the default sparse plan runs directly; pair mass there is
    * bounded by n²/2, far under the measured ×64 crossover for real
    * corpora.
    *
    * Two shapes the floor misjudges, both with the same remedy: (a) a
    * tiny corpus that is ONE giant near-duplicate clique (pair mass
    * ~n²/2 REACHED, not just bounded); (b) a corpus of byte-identical
    * documents, which parquet dictionary-encoding can compress far past
    * the ~60 B/doc the byte floor assumes, so MORE than
    * [[censusFloorDocs]] docs slip under it. Both are exact-duplicate
    * pathologies — run [[exactDuplicates]] first (always the right call
    * there), or pass `censusFloorBytes = 0` to force the census.
    * Near-duplicate-but-not-identical text does not dictionary-compress
    * this way, so the floor holds for it.
    */
  def minhashNearDuplicatesAuto(
      df: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 5,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5,
      seed: Long = 42L,
      portable: Boolean = false,
      pairMassPerDoc: Double = 32.0,
      censusFraction: Double = 1.0,
      censusFloorBytes: Long = 8L << 20,
  ): DataFrame = {
    def log(docs: Double, pairMass: Double, inline: Boolean): Unit =
      org.slf4j.LoggerFactory.getLogger(getClass).info(
        f"minhash auto-plan: docs≈$docs%.0f, pre-distinct pair mass≈" +
          f"$pairMass%.0f (${pairMass / math.max(docs, 1.0)}%.1f per doc) → " +
          (if (inline) "inline-verify plan (duplicate-heavy)"
           else "default sparse plan"))
    if (censusFloorBytes > 0 && underCensusFloor(df, censusFloorBytes)) {
      org.slf4j.LoggerFactory.getLogger(getClass).info(
        "minhash auto-plan: corpus under the census floor — default sparse " +
          "plan without a census (see censusFloorDocs)")
      return minhashNearDuplicates(df, textCol, idCol, k, numHashes, bands,
        threshold, seed, portable, inlineVerify = false)
    }
    if (censusFraction < 1.0) {
      val (docs, pairMass) = minhashPairMassCensus(df, textCol, idCol, k,
        numHashes, bands, seed, portable, censusFraction)
      val inline = minhashPreferInline(docs, pairMass, pairMassPerDoc)
      log(docs, pairMass, inline)
      minhashNearDuplicates(df, textCol, idCol, k, numHashes, bands,
        threshold, seed, portable, inlineVerify = inline)
    } else {
      // the id shuffle runs here, once; census and chosen plan both read
      // its map output. Its width is pinned to the shuffle partitions so
      // AQE keeps the read un-coalesced: the frame is then plainly hash
      // partitioned by id, and the chosen plan's id-keyed exchanges and
      // attach joins reuse that instead of re-shuffling the signatures
      // (a coalesced read matches only itself)
      val sigs = org.apache.spark.sql.GraftBridge.ofExecutedRdd(
        minhashSignatures(df, textCol, idCol, k, numHashes, seed, portable)
          .repartition(df.sparkSession.sessionState.conf.numShufflePartitions,
            col("id")))
      val (docs, pairMass, maxBucket) = censusOfSigs(sigs, numHashes, bands)
      val inline = minhashPreferInline(docs, pairMass, pairMassPerDoc)
      log(docs, pairMass, inline)
      // hot-key guard for the default route (see [[hotKeyRowCapDefault]]):
      // the hottest id_a's candidate mass is ≤ bands × (maxBucket − 1);
      // above the cap, key the distinct by the full pair so no single
      // partition inherits one document's entire candidate set
      val hotCap = df.sparkSession.conf
        .getOption("spark.graft.minhash.hotKeyRowCap")
        .map(_.toLong).getOrElse(hotKeyRowCapDefault)
      val pairKeyed = !inline &&
        bands.toDouble * math.max(maxBucket - 1, 0L) > hotCap.toDouble
      if (pairKeyed)
        org.slf4j.LoggerFactory.getLogger(getClass).info(
          s"minhash auto-plan: hot band bucket (max=$maxBucket docs) — " +
            s"pair-keyed distinct engaged (cap=$hotCap rows)")
      minhashFromSigs(sigs, numHashes, bands, threshold, inline, pairKeyed)
    }
  }

  /** Incremental near-dup matching: candidate pairs between a NEW batch
    * and an EXISTING corpus's precomputed signature table
    * ([[minhashSignatures]]) — the daily-crawl-increment shape, where
    * re-running corpus×corpus dedup per batch would redo 100 TB of
    * shingling for a GB of new text. Corpus-side work per batch is one
    * projection over the stored `(id, sig)` table (persist its
    * [[minhashBands]] bucketed by `(band_idx, band_hash)` to remove even
    * that exchange); batch×batch pairs are NOT emitted — run the
    * self-join variant on the batch separately if needed.
    *
    * Returns `(batch_id, corpus_id, est_jaccard)` with the same
    * candidate-generation and verification semantics as
    * [[minhashNearDuplicates]] (same k/hashes/bands/seed must be used on
    * both sides).
    */
  def minhashNearDuplicatesAgainst(
      corpusSigs: DataFrame, // (id, sig) from minhashSignatures
      batch: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 5,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5,
      seed: Long = 42L,
      portable: Boolean = false,
  ): DataFrame = {
    val batchSigs = minhashSignatures(batch, textCol, idCol, k, numHashes, seed, portable)
      .repartition(col("id"))
    val batchBands = minhashBands(batchSigs, numHashes, bands)
    val corpusBands = minhashBands(corpusSigs, numHashes, bands)
    val candidates = batchBands.as("a")
      .join(corpusBands.as("b"),
        col("a.band_idx") === col("b.band_idx")
          && col("a.band_hash") === col("b.band_hash"))
      .select(col("a.id").as("batch_id"), col("b.id").as("corpus_id"))
      .distinct() // a pair matching in >1 band is verified once, not per band
    candidates
      .join(batchSigs.as("sa"), col("batch_id") === col("sa.id"))
      .join(corpusSigs.as("sb"), col("corpus_id") === col("sb.id"))
      .select(col("batch_id"), col("corpus_id"),
        (org.apache.spark.sql.GraftBridge.column(PositionalEqCount(
          org.apache.spark.sql.GraftBridge.expression(col("sa.sig")),
          org.apache.spark.sql.GraftBridge.expression(col("sb.sig"))))
          .cast("double") / numHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** Keep only batch rows with NO near-duplicate in the corpus — the
    * incremental-ingestion filter (near-dup analog of [[dropBloomSeen]]).
    */
  def dropNearSeen(
      corpusSigs: DataFrame,
      batch: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 5,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5,
      seed: Long = 42L,
      portable: Boolean = false,
  ): DataFrame = {
    val seen = minhashNearDuplicatesAgainst(corpusSigs, batch, textCol, idCol,
      k, numHashes, bands, threshold, seed, portable)
      .select(col("batch_id").as(idCol)).distinct()
    batch.join(seen, Seq(idCol), "left_anti")
  }

  // ---- SimHash ----

  /** 64-bit SimHash over whitespace tokens: per-bit majority vote of token
    * hashes. Expressed as bit-count aggregations over the token array —
    * pure expressions, one projection (no explode, no shuffle).
    *
    * The token-hash array is bound once as a lambda variable so the 64
    * per-bit subtrees reference the evaluated value rather than re-running
    * tokenization+hashing per bit. (For multi-column pipelines, the
    * two-projection form — materialize [[tokenHashes]], then
    * [[simhashFromHashes]] — remains the idiomatic shape.)
    */
  def simhash(text: Column): Column =
    // fused token-array → signature codegen kernel (bit-identical to the
    // declarative transform + 64 × size(filter(...)) form, spec-pinned;
    // tokenization stays Spark's split)
    org.apache.spark.sql.GraftBridge.column(SimHashFromTokensExpr(
      org.apache.spark.sql.GraftBridge.expression(TextOps.tokens(text)),
      bits = 64, portable = false))

  /** Per-token hash array (the expensive subtree — materialize once).
    * `portable` uses the 62-bit SQL-expressible polynomial token hash.
    */
  def tokenHashes(text: Column, portable: Boolean = false): Column =
    if (portable) transform(TextOps.tokens(text), TextOps.portableTokenHash(_))
    else transform(TextOps.tokens(text), t => xxhash64(t))

  /** SimHash from a pre-materialized token-hash column: per-bit majority
    * vote over the low `bits` bits (64 for xxhash64, 62 for the portable
    * hash whose top two bits are always clear).
    */
  def simhashFromHashes(hashes: Column, bits: Int): Column = {
    val n = size(hashes)
    (0 until bits).map { bit =>
      val ones = size(filter(hashes, h => shiftright(h, bit).bitwiseAND(1) === 1))
      // bit set iff strictly more than half the tokens vote 1
      when(ones * 2 > n, lit(1L << bit)).otherwise(lit(0L))
    }.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** SimHash near-duplicate pairs with Hamming distance <= maxDistance.
    *
    * Pigeonhole banding: split the 64-bit signature into `maxDistance + 1`
    * blocks; any pair within distance shares at least one exact block.
    * Same bounded-shuffle shape as MinHash LSH.
    */
  def simhashNearDuplicates(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxDistance: Int = 3,
      portable: Boolean = false,
  ): DataFrame = {
    val bits = if (portable) 62 else 64
    val blocks = maxDistance + 1
    val width = bits / blocks
    require(width >= 1, s"maxDistance $maxDistance too large for $bits-bit simhash")
    val sigs = ensureParallelism(df)
      .select(col(idCol).as("id"),
        org.apache.spark.sql.GraftBridge.column(SimHashFromTokensExpr(
          org.apache.spark.sql.GraftBridge.expression(
            TextOps.tokens(col(textCol))), bits, portable)).as("sig"))
    val banded = sigs.select(
      col("id"), col("sig"),
      posexplode(array((0 until blocks).map { blk =>
        shiftright(col("sig"), blk * width)
          .bitwiseAND(lit((1L << width) - 1))
      }: _*)),
    ).withColumnsRenamed(Map("pos" -> "block_idx", "col" -> "block_val"))
    // identical-plan self-join: in the sort-merge regime both children are
    // the same exchange, so ReuseExchange computes the signature pipeline
    // and its shuffle once instead of twice
    banded.as("a")
      .join(banded.as("b"),
        col("a.block_idx") === col("b.block_idx")
          && col("a.block_val") === col("b.block_val"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hamming(col("a.sig"), col("b.sig")).as("distance"))
      .filter(col("distance") <= maxDistance)
      .distinct()
  }

  // ---- n-gram Jaccard ----

  /** Exact n-gram Jaccard similarity for candidate pairs under a blocking
    * key (e.g. source + length bucket): never all-pairs — the self-join is
    * equi on the block column, then `|A∩B| / |A∪B|` per pair.
    *
    * The shingle set is reduced ONCE per document to a distinct-sorted
    * xxhash64 array in the projection; the per-pair kernel is the native
    * [[SortedLongIntersectCount]] merge (no per-pair set building, no
    * string hashing inside the join — `array_intersect` on string sets
    * measured ~4× slower at bench scale). Jaccard over 64-bit-hashed
    * shingle sets equals string-set Jaccard up to 2⁻⁶⁴ collisions.
    *
    * `maxBlockSize` (recommended at scale) auto-salts oversized blocks
    * via [[saltBlocks]], capping the O(block²) pair work of any hot key;
    * pairs straddling two salt shards of the same block are lost — the
    * documented recall dial of every blocked joiner.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      blockCol: Column,
      n: Int = 3,
      threshold: Double = 0.0,
      maxBlockSize: Option[Long] = None,
  ): DataFrame = {
    val raw = df.select(
      col(idCol).as("id"),
      blockCol.as("block"),
      // fused distinct-sorted shingle-hash kernel — bit-identical to
      // array_sort(array_distinct(transform(charShingles, xxhash64)))
      // (SortedShingleHashesExprSpec), one in-place pass instead of
      // three interpreted higher-order passes per document
      org.apache.spark.sql.GraftBridge.column(SortedShingleHashesExpr(
        org.apache.spark.sql.GraftBridge.expression(col(textCol)), n))
        .as("sh"),
    )
    val sets = maxBlockSize.fold(raw)(m => saltBlocks(raw, "block", "id", m))
    val inter = org.apache.spark.sql.GraftBridge.column(
      SortedLongIntersectCount(
        org.apache.spark.sql.GraftBridge.expression(col("a.sh")),
        org.apache.spark.sql.GraftBridge.expression(col("b.sh")))).cast("double")
    val union = (size(col("a.sh")) + size(col("b.sh"))).cast("double") - inter
    // Repartition by the join key with an explicit partition count (so AQE
    // does not coalesce the tiny-by-bytes but quadratic-by-work shuffle):
    // the pair-merge work is O(block²), so parallelism must follow blocks,
    // not input splits — a single-row-group scan would otherwise leave the
    // whole pair loop on one task. Identical-plan children → the shuffle +
    // shingle projection are computed once and shared via ReuseExchange,
    // and SMJ at scale needs this exchange anyway.
    val p = df.sparkSession.sessionState.conf.numShufflePartitions
    val parts = sets.repartition(p, col("block"))
    val joined = parts.as("a")
      .join(parts.as("b"), col("a.block") === col("b.block"))
      .filter(col("a.id") < col("b.id"))
    // PPJoin-style length filter (exact, never drops a qualifying pair):
    // |A∩B| ≤ min(|A|,|B|) and jaccard ≥ t force min ≥ t·max, so the
    // two int comparisons prune a pair BEFORE the O(|A|+|B|) intersect
    // kernel ever runs on it
    val prefiltered =
      if (threshold <= 0) joined
      else joined.filter(
        size(col("a.sh")).cast("double") >= lit(threshold) * size(col("b.sh")) &&
          size(col("b.sh")).cast("double") >= lit(threshold) * size(col("a.sh")))
    prefiltered
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        (inter / union).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  // ---- C4 corpus-level span dedup ----

  /** C4's corpus-level duplicate-span removal (Raffel et al. 2020 §2.2:
    * "we discarded all but one of any three-sentence span occurring more
    * than once in the data set"): every `n`-unit span that appears more
    * than once ACROSS the corpus is removed from all but its first
    * occurrence (first = lowest `(id, position)`).
    *
    * `unit` is `"sentence"` (C4's choice — text split on `[.!?]`) or
    * `"word"` (whitespace tokens). The returned `cleaned` column is the
    * surviving units re-joined (`". "` / `" "`), i.e. normalized text —
    * the same normalization C4's own pipeline applies. Single pass: spans
    * formed by removal are NOT re-deduplicated (C4 likewise).
    *
    * Plan: span explode → ONE window keyed on the span value (the only
    * wide shuffle; dedup-grade corpora keep span groups tiny so skew is
    * bounded) → covered-unit drop set → anti-join → per-doc rebuild.
    * All shuffles keyed; nothing driver-side.
    */
  def dedupSpans(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
      unit: String = "sentence",
      cleanedCol: String = "cleaned",
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(unit == "sentence" || unit == "word", s"unknown span unit $unit")
    val units =
      if (unit == "sentence")
        filter(transform(split(col(textCol), "[.!?]"), s => trim(s)),
          s => length(s) > 0)
      else
        filter(split(trim(col(textCol)), "\\s+"), t => length(t) > 0)
    val joiner = if (unit == "sentence") ". " else " "
    val withUnits = df.select(col(idCol).as("id"), units.as("u"))
    val spans = withUnits.select(col("id"),
      posexplode(when(size(col("u")) >= n,
        transform(sequence(lit(0), size(col("u")) - n),
          // control-char-joined units as the span key: a plain concat
          // would collide ("ab"+"c" vs "a"+"bc")
          i => concat_ws("\u0001", slice(col("u"), i + 1, lit(n)))))
        .otherwise(array())))
      .withColumnRenamed("col", "span")
    val firstOcc = min(struct(col("id"), col("pos")))
      .over(Window.partitionBy("span"))
    val drops = spans.withColumn("_first", firstOcc)
      .filter(struct(col("id"), col("pos")) =!= col("_first"))
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("uidx"))
      .distinct()
    val exploded = withUnits.select(col("id"), posexplode(col("u")))
      .withColumnsRenamed(Map("pos" -> "uidx", "col" -> "unit"))
    val rebuilt = exploded.join(drops, Seq("id", "uidx"), "left_anti")
      .groupBy("id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("uidx"), col("unit")))),
          s => s.getField("unit")),
        joiner).as("_cleaned"))
    df.join(rebuilt, df(idCol) === rebuilt("id"), "left")
      .withColumn(cleanedCol, coalesce(col("_cleaned"), lit("")))
      .drop("id", "_cleaned")
  }

  // ---- skew mitigation for blocked self-joins ----

  /** Split oversized blocking keys by appending a deterministic salt, so
    * no block exceeds ~`maxBlockSize` expected members — the standard
    * skew fix for near-dup blocking at 100 TB, where one hot key (an
    * empty-text band, a dominant source) would otherwise concentrate a
    * quadratic pair-join on one task.
    *
    * Plan shape: one aggregation counts block sizes; only the oversized
    * keys (a tiny set by construction) are broadcast back; rows in them
    * get `block → (block, salt)` with `salt = xxhash64(id) mod ceil(n /
    * maxBlockSize)`. Documented trade-off: candidate pairs across salts
    * of the same block are lost (recall dial, like LSH banding itself).
    */
  def saltBlocks(
      df: DataFrame,
      blockCol: String,
      idCol: String,
      maxBlockSize: Long,
  ): DataFrame = {
    val oversized = df.groupBy(col(blockCol))
      .agg(count(lit(1)).as("_n"))
      .filter(col("_n") > maxBlockSize)
      .select(col(blockCol),
        ceil(col("_n").cast("double") / maxBlockSize).cast("long").as("_salts"))
    df.join(broadcast(oversized), Seq(blockCol), "left")
      .withColumn("_salt",
        when(col("_salts").isNull, lit(0L))
          .otherwise(pmod(xxhash64(col(idCol)), col("_salts"))))
      .withColumn(blockCol, concat_ws("#", col(blockCol), col("_salt")))
      .drop("_salts", "_salt")
  }

  /** Split oversized blocks of an EMBEDDING self-join by appending sign-
    * LSH bits of the vector itself instead of a random salt: rows that
    * are actually similar share hyperplane signs, so near-dup pairs
    * overwhelmingly stay in the same sub-block (per kept bit, a pair at
    * angle θ splits with probability θ/π — small at high cosine), whereas
    * [[saltBlocks]] scatters them uniformly and silently destroys recall
    * across salt boundaries. Per-block bit count is sized from the same
    * one-pass block census: `bits = ceil(log2(n / maxBlockSize))`, capped
    * at `maxBits`.
    *
    * Irreducible case, by design: a block of near-IDENTICAL vectors keeps
    * identical signs and does not split — those pairs are precisely the
    * duplicates the join exists to find, so splitting them would be
    * wrong; their quadratic cost is inherent to emitting all such pairs.
    */
  def lshSubBlocks(
      df: DataFrame, // columns block, id, v
      maxBlockSize: Long,
      dim: Int,
      maxBits: Int = 16,
      seed: Long = 99L,
  ): DataFrame = {
    val planes = Similarity.hyperplanes(dim, maxBits, seed)
    val oversized = df.groupBy(col("block"))
      .agg(count(lit(1)).as("_n"))
      .filter(col("_n") > maxBlockSize)
      .select(col("block"),
        least(ceil(log(2.0, col("_n").cast("double") / maxBlockSize)),
          lit(maxBits.toDouble)).cast("int").as("_bits"))
    df.join(broadcast(oversized), Seq("block"), "left")
      .withColumn("_sub",
        when(col("_bits").isNull || col("_bits") <= 0, lit(0L))
          .otherwise(pmod(Similarity.lshBucket(col("v"), planes),
            pow(lit(2.0), col("_bits")).cast("long"))))
      .withColumn("block", concat_ws("#", col("block"), col("_sub")))
      .drop("_bits", "_sub")
  }

  // ---- duplicate-cluster resolution ----

  /** Connected components over near-duplicate pairs: assigns every id the
    * minimum id reachable through the pair graph (the canonical document
    * of its duplicate cluster).
    *
    * Hybrid execution: the pair graph of a dedup run is orders of
    * magnitude smaller than the corpus (only documents that near-match
    * something), so when it fits comfortably on the driver
    * (`<= driverEdgeLimit` edges, default 2e6) a single-pass union-find
    * computes exact labels with zero extra Spark jobs — the iterative path
    * costs O(log diameter) full shuffle rounds, each with a fixed
    * scheduling floor that dwarfs sub-second graphs. Edges stream to the
    * driver one
    * partition at a time (typed `toLocalIterator`, no Row array) into a
    * primitive open-addressing map (~17 B per node), so the limit costs
    * ≤ ~150 MB of driver heap even with 2 nodes per edge — not the
    * multi-GB a collected `Array[Row]` + boxed HashMap would.
    * Above the limit: distributed star-merge label propagation
    * (neighborhood min → per-star min → pointer-jump collapse, the
    * alternating-round shape of Kiveris et al.) — O(log n) rounds even
    * on path graphs, so the default `maxIter = 10` is a real budget.
    * Iteration stops early when a round changes nothing; an unconverged
    * exit at `maxIter` logs a loud warning instead of silently splitting
    * clusters.
    *
    * Both paths return the same exact result (columns `id`, `label`);
    * the returned DataFrame of the distributed path is cached — callers
    * may `unpersist()` it when done.
    */
  def connectedComponents(
      pairs: DataFrame, // columns id_a, id_b
      maxIter: Int = 10,
      driverEdgeLimit: Long = 2000000L,
  ): DataFrame = {
    val raw = pairs.select(col("id_a").cast("long"), col("id_b").cast("long"))
      .cache()
    val nEdges = raw.count()
    val out =
      if (nEdges <= driverEdgeLimit) ccOnDriver(raw)
      else ccDistributed(raw, maxIter)
    raw.unpersist()
    out
  }

  /** Primitive open-addressing Long→Long map (linear probing, power-of-two
    * capacity, ≤0.5 load factor): ~17 B per entry in two long arrays + a
    * flag array, vs the ~100+ B per entry of a boxed
    * `java.util.HashMap[Long, Long]` — the difference between ~150 MB and
    * multiple GB of driver heap at [[connectedComponents]]'s edge limit.
    */
  private final class LongLongMap(initialCap: Int = 1 << 16) {
    private var keys = new Array[Long](java.lang.Integer.highestOneBit(
      math.max(16, initialCap) - 1) << 1)
    private var vals = new Array[Long](keys.length)
    private var full = new Array[Boolean](keys.length)
    private var n = 0
    def size: Int = n
    private def slot(k: Long): Int = {
      val mask = keys.length - 1
      // finalizer from splitmix64 — cheap, well-mixed for sequential ids
      var h = k * -7046029254386353131L
      h ^= h >>> 32
      var i = h.toInt & mask
      while (full(i) && keys(i) != k) i = (i + 1) & mask
      i
    }
    def contains(k: Long): Boolean = full(slot(k))
    /** Value for `k`; `k` itself when absent (union-find identity). */
    def get(k: Long): Long = {
      val i = slot(k)
      if (full(i)) vals(i) else k
    }
    def put(k: Long, v: Long): Unit = {
      val i = slot(k)
      if (full(i)) vals(i) = v
      else {
        full(i) = true; keys(i) = k; vals(i) = v; n += 1
        if (n * 2 >= keys.length) grow()
      }
    }
    private def grow(): Unit = {
      val ok = keys; val ov = vals; val of = full
      keys = new Array[Long](ok.length * 2)
      vals = new Array[Long](ok.length * 2)
      full = new Array[Boolean](ok.length * 2)
      n = 0
      var j = 0
      while (j < ok.length) { if (of(j)) put(ok(j), ov(j)); j += 1 }
    }
    /** Iterate keys; value-only `put`s on existing keys are safe mid-walk
      * (no insertion → no rehash).
      */
    def foreachKey(f: Long => Unit): Unit = {
      var j = 0
      while (j < keys.length) { if (full(j)) f(keys(j)); j += 1 }
    }
  }

  /** Exact union-find on the streamed edge list (small-graph fast path
    * of [[connectedComponents]]): path-compressed, roots always the
    * component minimum (union attaches the larger root under the
    * smaller).
    */
  private def ccOnDriver(pairsDf: DataFrame): DataFrame = {
    val spark = pairsDf.sparkSession
    import spark.implicits._
    val parent = new LongLongMap()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    // stream edges one partition at a time — never the whole Row array
    val edgeIt = pairsDf.as[(Long, Long)].toLocalIterator()
    while (edgeIt.hasNext) {
      val (a, b) = edgeIt.next()
      if (!parent.contains(a)) parent.put(a, a)
      if (!parent.contains(b)) parent.put(b, b)
      val ra = find(a); val rb = find(b)
      if (ra < rb) parent.put(rb, ra)
      else if (rb < ra) parent.put(ra, rb)
    }
    val labels = new Array[(Long, Long)](parent.size)
    var i = 0
    parent.foreachKey { k => labels(i) = (k, find(k)); i += 1 }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("label",
        org.apache.spark.sql.types.LongType, nullable = false)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        labels.toIndexedSeq.map(t => org.apache.spark.sql.Row(t._1, t._2)),
        math.max(1, math.min(spark.sparkContext.defaultParallelism,
          labels.length / 100000 + 1))),
      schema)
  }

  /** Distributed star-merge label propagation (at-scale path of
    * [[connectedComponents]]), the alternating-round shape of Kiveris et
    * al.'s MapReduce CC: each round (1) takes the min label over every
    * node's neighborhood, (2) aggregates those mins per STAR (groupBy
    * the old label) so a root learns the best label any member found,
    * (3) pointer-jumps `m ← m∘m` until depth 1 so chained star merges
    * flatten within the round. Empirically O(log n) rounds on path
    * graphs (300-hop: 6, 5000-hop: ~7) vs the O(diameter) of plain
    * min-label propagation — `maxIter = 10` is a real budget, and an
    * unconverged exit emits a LOUD warning instead of silently returning
    * split clusters.
    */
  private def ccDistributed(
      pairs: DataFrame,
      maxIter: Int,
  ): DataFrame = {
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct()
      .cache()
    // The jump self-join references the previous round's plan TWICE, so
    // lineage must be truncated every round or the logical plan doubles
    // per iteration (plain cache() would not shrink the tree). NOT
    // localCheckpoint: its LogicalRDD inherits the checkpointed plan's
    // size ESTIMATE, and the join estimator multiplies child sizes — so
    // the carried BigInt stat squares every round and stats computation
    // itself grinds to a halt on million-digit numbers. Materializing
    // the row RDD and re-wrapping it resets stats to the default each
    // round; the persisted RDD handle doubles as the free-list.
    var prevRdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = null
    def truncate(df: DataFrame): DataFrame = {
      val rdd = df.rdd
      rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      rdd.count() // materialize before freeing the round it derives from
      if (prevRdd != null) prevRdd.unpersist(blocking = false)
      prevRdd = rdd
      df.sparkSession.createDataFrame(rdd, df.schema)
    }
    var labels = truncate(edges.select(col("src").as("id"))
      .distinct()
      .withColumn("label", col("id")))
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // phase 1 — per-node neighborhood min; the node's own previous
      // label rides along in the same aggregation, both for the star
      // key of phase 2 and for the outer convergence check
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "dst"), Seq("dst"))
        .select(col("src").as("id"), col("label"), lit(false).as("_own"))
      // truncated: m1 feeds BOTH starMin and the star join below, and
      // ReuseExchange only shares the shuffle write, not the aggregation
      // — without materialization the edges join + groupBy would run
      // twice per round
      val m1 = truncate(labels.select(col("id"), col("label"), lit(true).as("_own"))
        .union(viaNeighbors)
        .groupBy("id")
        .agg(min("label").as("_nmin"),
          min(when(col("_own"), col("label"))).as("_old")))
      // phase 2 — star min: members report their neighborhood mins UP to
      // their root (groupBy the old label) and the whole star re-points
      // to the star-wide min. Without this, a member bordering a smaller
      // star improves alone and its root never learns — which degrades
      // the round count back to O(diameter).
      val starMin = m1.groupBy(col("_old").as("_root"))
        .agg(min("_nmin").as("_smin"))
      var m = truncate(m1.join(starMin, m1("_old") === starMin("_root"))
        .select(col("id"), col("_smin").as("label"), col("_old")))
      // phase 3 — pointer-doubling collapse: m ← m∘m until stable, so
      // every node points DIRECTLY at its star's root before the next
      // round (chains of same-round star merges flatten here). Each
      // composition halves pointer-chain depth, so this inner loop runs
      // O(log depth) ≈ 1-3 times. Every label value is itself a node id
      // (a min over ids), so the self-join is total; labels only
      // decrease, so _jlabel <= label.
      var collapsed = false
      var inner = 0
      while (!collapsed && inner < 62) {
        val jumped = truncate(m.as("a")
          .join(m.select(col("id").as("_jid"), col("label").as("_jlabel")).as("b"),
            col("a.label") === col("_jid"))
          .select(col("a.id").as("id"), col("_jlabel").as("label"),
            col("_old"), (col("a.label") > col("_jlabel")).as("_moved")))
        collapsed = jumped.filter(col("_moved")).limit(1).count() == 0
        m = jumped.select("id", "label", "_old")
        inner += 1
      }
      val changed = m.filter(col("label") < col("_old")).limit(1).count() > 0
      labels = m.select("id", "label")
      converged = !changed
      iter += 1
    }
    // iter == 0 means the caller ASKED for zero rounds (maxIter = 0,
    // identity labels) — non-convergence is the requested behavior then
    if (!converged && iter > 0)
      org.slf4j.LoggerFactory.getLogger("graft.pipeline.Dedup").warn(
        s"connectedComponents did NOT converge after $maxIter rounds — " +
          "returned labels may split true clusters. Star-merge rounds are " +
          "logarithmic (a 5000-hop path converges in ~7), so hitting this " +
          "bound means a pathological graph: raise maxIter.")
    edges.unpersist()
    // Hand the caller a frame THEY can unpersist; the copy is tiny — two
    // longs per node, read straight from the final checkpoint.
    val out = labels.cache()
    out.count()
    if (prevRdd != null) prevRdd.unpersist(blocking = false)
    out
  }

  /** Snapshot `df` into a lineage-free frame backed by a persisted row
    * RDD, then unpersist `toFree` — so [[connectedComponents]]' cached
    * labels (whose contract says callers should free them) don't leak
    * out of the one-shot drop helpers. The snapshot RDD itself is
    * reclaimed by Spark's ContextCleaner once the returned frame is
    * unreferenced, unlike CacheManager entries which leak until an
    * explicit unpersist().
    */
  private def snapshotAndFree(df: DataFrame, toFree: DataFrame): DataFrame = {
    val rdd = df.rdd
    rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    rdd.count() // materialize before freeing what it derives from
    val out = df.sparkSession.createDataFrame(rdd, df.schema)
    toFree.unpersist()
    out
  }

  /** End-to-end near-duplicate removal: MinHash-LSH candidate pairs →
    * duplicate clusters → keep only each cluster's minimum id (plus all
    * documents that never appeared in a pair). The anti-join keeps the
    * corpus distributed throughout.
    */
  def dropNearDuplicates(
      df: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double = 0.8,
      numHashes: Int = 32,
      bands: Int = 8,
      inlineVerify: Boolean = false,
      plan: String = "",
      censusFraction: Double = 1.0,
      pairMassPerDoc: Double = 32.0,
  ): DataFrame = {
    val pairs = pairsForPlan(df, textCol, idCol, threshold, numHashes, bands,
      if (plan.nonEmpty) plan else if (inlineVerify) "inline" else "default",
      censusFraction, pairMassPerDoc)
    val labels = connectedComponents(pairs)
    val losers = snapshotAndFree(
      labels.filter(col("id") =!= col("label")).select(col("id").as(idCol)),
      labels)
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Pair generation for a named plan: `"default"` (sparse band
    * exchange), `"inline"` (clique-robust inline verification), or
    * `"auto"` (census-routed, [[minhashNearDuplicatesAuto]]).
    */
  private def pairsForPlan(
      df: DataFrame, textCol: String, idCol: String, threshold: Double,
      numHashes: Int, bands: Int, plan: String,
      censusFraction: Double = 1.0, pairMassPerDoc: Double = 32.0,
  ): DataFrame = plan match {
    case "default" => minhashNearDuplicates(df, textCol, idCol,
      numHashes = numHashes, bands = bands, threshold = threshold)
    case "inline" => minhashNearDuplicates(df, textCol, idCol,
      numHashes = numHashes, bands = bands, threshold = threshold,
      inlineVerify = true)
    case "auto" => minhashNearDuplicatesAuto(df, textCol, idCol,
      numHashes = numHashes, bands = bands, threshold = threshold,
      pairMassPerDoc = pairMassPerDoc, censusFraction = censusFraction)
    case other => throw new IllegalArgumentException(
      s"unknown minhash plan '$other' (expected default | inline | auto)")
  }

  /** Near-duplicate removal keeping the BEST-scoring member of each
    * duplicate cluster instead of the minimum id — the shape real
    * pipelines want (rank cluster members by a quality signal such as
    * [[TextOps.gopherColumns]]' composite or a model score; SemDeDup
    * keeps by centroid distance the same way). Ties break on the id for
    * determinism; documents that never paired keep themselves.
    *
    * Plan: the pair graph + components are the same bounded machinery as
    * [[dropNearDuplicates]]; selection adds one window over clusters —
    * partitioned by cluster label, so no global sort.
    */
  def dropNearDuplicatesKeepBest(
      df: DataFrame,
      textCol: String,
      idCol: String,
      scoreCol: String,
      threshold: Double = 0.8,
      numHashes: Int = 32,
      bands: Int = 8,
      inlineVerify: Boolean = false,
      plan: String = "",
      censusFraction: Double = 1.0,
      pairMassPerDoc: Double = 32.0,
  ): DataFrame = {
    val pairs = pairsForPlan(df, textCol, idCol, threshold, numHashes, bands,
      if (plan.nonEmpty) plan else if (inlineVerify) "inline" else "default",
      censusFraction, pairMassPerDoc)
    val clash = df.columns.toSet.intersect(Set("_cluster", "_rk"))
    require(clash.isEmpty,
      s"input already has reserved column(s) ${clash.mkString(", ")} — " +
        "rename them first")
    val cc = connectedComponents(pairs)
    val labels = snapshotAndFree(cc, cc).withColumnRenamed("id", idCol)
    val ranked = df.join(labels, Seq(idCol), "left")
      .withColumn("_cluster", coalesce(col("label"), col(idCol)))
      .withColumn("_rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("_cluster"))
          .orderBy(col(scoreCol).desc_nulls_last, col(idCol))))
    ranked.filter(col("_rk") === 1).drop("_rk", "_cluster", "label")
  }

  // ---- embedding cosine near-dup ----

  /** Cosine similarity of two equal-length float/double vector columns —
    * the native fused-loop kernel ([[CosineSimExpr]]), value-identical
    * to [[cosineDeclarative]] (same index-order accumulation) except
    * that a zero-norm side yields null instead of ANSI's
    * DIVIDE_BY_ZERO error.
    */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftBridge.column(CosineSimExpr(
      org.apache.spark.sql.GraftBridge.expression(a),
      org.apache.spark.sql.GraftBridge.expression(b)))

  /** The higher-order-function composition [[cosine]] replaced; kept as
    * the parity reference (three strict left folds in double).
    */
  def cosineDeclarative(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p.cast("double") * q.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  /** Embedding near-dup pairs blocked by sign-random-projection LSH
    * buckets — the fully self-contained scale path (no external blocking
    * column needed): bucket cardinality 2^numBits bounds every join
    * partition. Recall dial = fewer bits (bigger buckets).
    */
  def embeddingNearDuplicatesLsh(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      threshold: Double,
      dim: Int,
      numBits: Int = 8,
      seed: Long = 7L,
  ): DataFrame =
    embeddingNearDuplicates(
      Similarity.lshBuckets(df, vecCol, Similarity.hyperplanes(dim, numBits, seed)),
      vecCol, idCol, col("bucket"), threshold)

  /** Embedding-cosine near-duplicate pairs within a blocking key (label,
    * LSH bucket, …): `cos(a, b) >= threshold`, `id_a < id_b`.
    *
    * `maxBlockSize` sub-splits oversized blocks by sign LSH over the
    * embeddings ([[lshSubBlocks]]) so a hot bucket cannot concentrate
    * quadratic pair work on one task while near-dup pairs still land in
    * the same sub-block (per-bit split probability θ/π, tiny at high
    * cosine — the recall-aware alternative to random salting).
    */
  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): assign every embedding to its nearest fixed
    * centroid ([[Similarity.ivfAssign]] — pure expressions, the cluster
    * id doubles as the blocking key), find within-cluster cosine
    * near-duplicate pairs above `threshold`, and keep ONE representative
    * per duplicate component (the minimum id — the paper keeps the
    * example farthest from the centroid; min-id is the deterministic,
    * oracle-checkable variant, and which member survives is a recall
    * no-op). Returns the survivors with their `sem_cluster` assignment.
    *
    * 100 TB shape: assignment is a map-only pass; the pair join shuffles
    * once on the cluster id; component labeling runs through
    * [[connectedComponents]] (driver under 2e6 edges, distributed label
    * propagation above). The within-cluster pair join is quadratic in
    * cluster size, so SIZE THE QUANTIZER: the SemDeDup paper's regime is
    * k ≈ √N centroids (clusters of ~√N ⇒ ~N total pairs); with a corpus
    * count n, pass `centroids` of length ≈ ceil(sqrt(n)). `maxBlockSize`
    * is the belt-and-braces cap for residual hot clusters — oversized
    * blocks sub-split by sign LSH over the embeddings themselves
    * ([[lshSubBlocks]]), which keeps genuinely-similar pairs together
    * instead of the recall-destroying random salting. Train centroids
    * offline on a bounded sample ([[Similarity.kmeansCentroids]]) — the
    * corpus never leaves the executors.
    */
  def semDedup(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      centroids: Array[Array[Double]],
      threshold: Double,
      maxBlockSize: Option[Long] = None,
  ): DataFrame = {
    // broadcast nearest-centroid (tie-identical to ivfAssign's literal
    // tree, which stops compiling around k ~ 100 — the sqrt-N regime
    // routinely wants thousands)
    val assigned = df.withColumn(
      "sem_cluster", KMeans.assign(df, vecCol, centroids))
    val pairs = embeddingNearDuplicates(
      assigned, vecCol, idCol, col("sem_cluster"), threshold, maxBlockSize)
    val losers = connectedComponents(pairs.select("id_a", "id_b"))
      .filter(col("id") =!= col("label"))
      .select(col("id").as(idCol))
    assigned.join(losers, Seq(idCol), "left_anti")
  }

  /** [[semDedup]] with the paper's k ≈ √N quantizer regime ENFORCED
    * rather than documented: counts the corpus, seeds a
    * `ceil(sqrt(n))`-centroid coarse quantizer from a bounded sample,
    * refines it over the FULL corpus with `refineIters` distributed
    * Lloyd rounds ([[KMeans.fit]] — one map pass + one k-buffer shuffle
    * per round), and caps residual hot clusters at
    * `hotClusterFactor × √n` via the recall-aware [[lshSubBlocks]].
    * Expected cluster size is then ~√n, so the within-cluster pair join
    * does ~n total work instead of n²/k. `k` tops out at
    * `min(sampleN, maxK)` — the init needs one seed vector per
    * centroid; past that, train offline ([[KMeans.fitAuto]] with a
    * bigger sample) and call [[semDedup]] directly.
    */
  def semDedupAuto(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      threshold: Double,
      sampleN: Int = 10000,
      hotClusterFactor: Long = 4L,
      maxK: Int = 4096,
      refineIters: Int = 3,
  ): DataFrame = {
    val n = df.count()
    if (n == 0) return df.withColumn("sem_cluster", lit(0))
    // k follows sqrt(n) up to maxK (bounded by the init sample size);
    // assignment is the broadcast expression, so large k costs only the
    // k × dim distance loop per row
    val k = math.max(1L, math.min(math.ceil(math.sqrt(n.toDouble)).toLong,
      math.min(sampleN, maxK).toLong)).toInt
    // init from the bounded driver sample: full driver Lloyd while its
    // k × sampleN × dim per-iteration cost is trivial, evenly-spaced
    // sample picks past that — distributed refinement does the placing
    val init = Similarity.kmeansCentroids(df, vecCol, idCol, k,
      iters = if (k <= 512) 10 else 0, sampleN = sampleN)
    val centroids =
      if (refineIters > 0)
        KMeans.fit(df, vecCol, init, maxIter = refineIters, tol = 1e-4)._1
      else init
    val cap = hotClusterFactor * math.max(1L, math.ceil(math.sqrt(n.toDouble)).toLong)
    semDedup(df, vecCol, idCol, centroids, threshold, maxBlockSize = Some(cap))
  }

  def embeddingNearDuplicates(
      df: DataFrame,
      vecCol: String,
      idCol: String,
      blockCol: Column,
      threshold: Double,
      maxBlockSize: Option[Long] = None,
  ): DataFrame = {
    val raw = df.select(col(idCol).as("id"), blockCol.as("block"), col(vecCol).as("v"))
    // oversized blocks sub-split by sign LSH over the vectors themselves
    // (recall-aware), NOT by random salting (recall-destroying)
    val v = maxBlockSize.fold(raw) { m =>
      // dimension probe: one tiny job, only on the capped path; null
      // vectors are skipped so the probe cannot NPE on a null first row
      val first = df.filter(col(vecCol).isNotNull)
        .select(size(col(vecCol))).limit(1).collect()
      if (first.isEmpty) raw else lshSubBlocks(raw, m, first(0).getInt(0))
    }
    // identical-plan self-join (see minhashNearDuplicates)
    v.as("a")
      .join(v.as("b"), col("a.block") === col("b.block"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(cosine(col("a.v"), col("b.v")), 6).as("cos"))
      .filter(col("cos") >= threshold)
  }

  // --- distinct-cardinality sketches (dedup-rate planning) -------------

  /** Per-group HLL distinct sketches (Apache DataSketches HllSketch via
    * Spark's `hll_sketch_agg`): one mergeable binary sketch per group —
    * the planning primitive for dedup at 100 TB, where "how many
    * distinct fingerprints does each shard/day/source hold, and what
    * does their union look like" must be answerable WITHOUT a global
    * `countDistinct` shuffle of the keys themselves. Sketches are
    * `O(2^lgK)` bytes each regardless of corpus size and union losslessly
    * ([[unionCardinality]]); standard error ≈ 1.04/√2^lgK (~0.8 % at the
    * default lgK = 14).
    */
  def distinctSketches(
      df: DataFrame,
      keyCol: String,
      groupCols: Seq[String],
      lgK: Int = 14,
  ): DataFrame =
    df.groupBy(groupCols.map(col): _*)
      .agg(hll_sketch_agg(col(keyCol), lit(lgK)).as("sketch"),
        count(lit(1)).as("rows"))
      .withColumn("distinct_est",
        hll_sketch_estimate(col("sketch")).cast("long"))

  /** Union the per-group sketches of [[distinctSketches]] down to the
    * global distinct estimate — with total rows alongside, the corpus
    * duplicate fraction (`1 − distinct/rows`) drops out of sketch-sized
    * state. Crucially `estimate(union(sketches)) ==
    * estimate(sketch(all))`: sketching shards independently (per
    * ingestion day, per source) loses nothing vs one monolithic pass.
    */
  def unionCardinality(sketches: DataFrame): DataFrame =
    sketches
      .agg(hll_union_agg(col("sketch")).as("sketch"),
        sum(col("rows")).as("rows"))
      .select(
        hll_sketch_estimate(col("sketch")).cast("long").as("distinct_est"),
        col("rows"),
        round(lit(1.0) -
          hll_sketch_estimate(col("sketch")) / col("rows").cast("double"), 6)
          .as("dup_frac_est"))

  // --- cross-document duplicated passages ------------------------------

  /** Passages repeated ACROSS documents (the sub-document dedup signal of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better": boilerplate, licenses, templates that whole-doc dedup never
    * sees). A passage is represented by a winnowing fingerprint hash
    * ([[TextOps.winnowingFingerprintPortable]] — robust to passage
    * position); a fingerprint appearing in ≥ `minDocs` distinct documents
    * is reported with its document frequency.
    *
    * Plan shape at scale: per-doc fingerprints are already distinct, so
    * `count(*)` per hash IS the document frequency — one partial-agg
    * shuffle keyed on the 62-bit hash (near-uniform, no skew salt
    * needed), carrying (hash) pairs only, never text. The `minDocs`
    * cut applies in the final aggregate, so the result is bounded by the
    * number of genuinely repeated passages.
    */
  def duplicatePassages(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 7,
      window: Int = 4,
      minDocs: Int = 2,
  ): DataFrame = {
    require(minDocs >= 1, s"minDocs=$minDocs")
    df.select(col(idCol),
      explode(TextOps.winnowingFingerprintPortable(col(textCol), k, window))
        .as("fp"))
      .groupBy(col("fp"))
      .agg(count(lit(1)).as("ndocs"))
      .filter(col("ndocs") >= minDocs)
  }

  /** Per-document duplicated-passage exposure: the fraction of a
    * document's fingerprints that are shared with ≥ `minDocs − 1` other
    * documents — the per-row score used to DROP heavily boilerplate
    * documents (or route them to passage-level cleaning).
    *
    * Plan shape at scale: ONE fingerprint explode feeds a left join
    * against the [[duplicatePassages]] census (NO broadcast hint — on a
    * clean corpus the repeated set is tiny and AQE broadcasts it, but a
    * boilerplate-heavy corpus can repeat most of its passages, where a
    * forced broadcast would OOM the driver; the join key is the
    * near-uniform 62-bit hash either way), then a single id-keyed
    * aggregate computes shared and total counts together. Documents too
    * short to fingerprint (< k chars) are absent from the result.
    */
  def duplicatePassageExposure(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 7,
      window: Int = 4,
      minDocs: Int = 2,
  ): DataFrame = {
    val repeated = duplicatePassages(df, idCol, textCol, k, window, minDocs)
      .select(col("fp"), lit(1).as("_rep"))
    df.select(col(idCol),
      explode(TextOps.winnowingFingerprintPortable(col(textCol), k, window))
        .as("fp"))
      .join(repeated, Seq("fp"), "left")
      .groupBy(col(idCol))
      .agg(count(col("_rep")).as("shared_fps"),
        count(lit(1)).as("total_fps"))
      .select(col(idCol), col("shared_fps"), col("total_fps"),
        round(col("shared_fps").cast("double") /
          col("total_fps").cast("double"), 6).as("shared_frac"))
  }

  /** Cross-document paragraph dedup (the Dolma/CCNet boilerplate pass):
    * drop every paragraph whose content appears in MORE THAN ONE
    * document (nav bars, cookie banners, newsletter footers), keep each
    * doc's remaining paragraphs in original order. Returns
    * `(idCol, text)` with the reassembled body; a doc whose EVERY
    * paragraph drops vanishes from the output (rejoin on the id table
    * if empty-doc retention is needed).
    *
    * Plan: posexplode → one md5-keyed census exchange (count DISTINCT
    * docs per paragraph — a paragraph repeated within one doc is NOT
    * boilerplate) → broadcast/shuffle anti-join → per-doc rebuild via
    * `array_sort(collect_list(struct(pos, para)))` — collect_list order
    * is nondeterministic, the struct sort restores it. Blank paragraphs
    * pass through (they carry layout, and md5('') would cross-match
    * every doc).
    */
  /** [[dropRepeatedParagraphs]] at SENTENCE granularity: sentences
    * (per [[TextOps.sentences]]' boundary rules) whose exact content
    * appears in more than `maxDocs` distinct documents drop; survivors
    * rejoin with single spaces. Catches share-prompts/cookie-banner
    * sentences embedded inside otherwise-unique paragraphs, one level
    * below the paragraph censor. Same scale shape: one hash-keyed
    * partial-agg exchange for the census, one id-keyed rebuild.
    */
  def dropRepeatedSentences(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxDocs: Int = 1,
  ): DataFrame = {
    val sents = df.select(col(idCol),
      posexplode(TextOps.sentences(col(textCol))).as(Seq("sidx", "sent")))
    val repeated = sents
      .groupBy(md5(col("sent")).as("h"))
      .agg(count_distinct(col(idCol)).as("nd"))
      .filter(col("nd") > maxDocs)
      .select("h")
    sents
      .join(repeated, md5(col("sent")) === col("h"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("sidx"), col("sent")))),
        x => x.getField("sent")), " ").as("text"))
  }

  def dropRepeatedParagraphs(df: DataFrame, textCol: String, idCol: String,
      sep: String = "\n"): DataFrame = {
    val paras = df.select(col(idCol), posexplode(split(col(textCol), sep))
      .as(Seq("pidx", "para")))
    val repeated = paras
      .filter(trim(col("para")) =!= "")
      .groupBy(md5(col("para")).as("h"))
      .agg(count_distinct(col(idCol)).as("nd"))
      .filter(col("nd") > 1)
      .select("h")
    paras
      .join(repeated, md5(col("para")) === col("h"), "left_anti")
      .groupBy(col(idCol))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("pidx"), col("para")))),
        x => x.getField("para")), sep).as("text"))
  }
}
