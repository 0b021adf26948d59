package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Composed corpus curation: one call chains the standard cleaning
  * stages the individual operators implement, in the canonical order —
  * cheap row-local filters first (shrink the corpus before anything
  * shuffles), fingerprint machinery next, sizing last:
  *
  *  1. language filter (map-only predicate on the lang column)
  *  1b. line-level cleaning (optional; [[TextOps.cleanLines]] C4 rules —
  *     runs BEFORE document-level heuristics so they judge the cleaned
  *     text; docs whose lines all fail drop out)
  *  1c. encoding-health gate (optional; [[TextOps.encodingColumns]] —
  *     replacement chars / control bytes / mojibake reject)
  *  2. Gopher quality rules ([[TextOps.gopherColumns]] composite; the
  *     keep-set semi-joins back by id — at the 100 TB design point the
  *     signal aggregation is one pass and the join keys are ids only)
  *  3. exact dedup on normalized text ([[Dedup.dropExactDuplicates]])
  *  4. near-dup cluster drop (optional; MinHash+LSH banding →
  *     connected components, [[Dedup.dropNearDuplicates]])
  *  4b. sentence censor (optional; [[Dedup.dropRepeatedSentences]] —
  *     cross-doc boilerplate sentences rewritten out, no doc drops)
  *  5. DSIR target-distribution selection (optional;
  *     [[Dsir.select]] on the cleaned corpus — λ estimated after
  *     dedup so boilerplate repeats don't skew the raw distribution)
  *  6. mixture sizing: explicit target shares
  *     ([[Sampling.resampleToMixture]]) OR temperature rebalancing
  *     ([[Sampling.resampleByTemperature]]) — alternatives, pick one
  *  7. train/val/test split labels ([[Sampling.assignSplit]], map-only)
  *
  * This is the LLM-data counterpart of [[graft.Processor]]'s
  * load→transform→bin orchestration: each stage stays an independently
  * tested operator; `curate` only fixes the composition order and
  * threads the id/text/lang/domain columns through.
  *
  * Every stage is deterministic (content hashing throughout), so the
  * curated corpus — including its split labels — is a pure function of
  * the input corpus and the config.
  */
object Curation {

  /** Knobs for the optional line-cleaning stage (C4 defaults). */
  final case class LineCleanConfig(
      minWords: Int = 3,
      requirePunct: Boolean = true,
      banned: Seq[String] = Nil,
      dedupe: Boolean = true,
  )

  /** Gopher-rule thresholds (Rae et al. 2021 defaults — "tune per
    * corpus" is the published guidance, so curate() exposes them;
    * mirrors [[TextOps.gopherColumns]]'s parameters).
    */
  final case class GopherConfig(
      minTokens: Int = 50,
      maxTokens: Int = 100000,
      minAvgLen: Double = 3.0,
      maxAvgLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1,
      minAlphaRatio: Double = 0.8,
      minRequiredHits: Int = 2,
      maxDupWord: Double = 0.3,
      maxDup2gram: Double = 0.2,
  )

  /** Which stages run and with what knobs. Defaults: quality + exact
    * dedup on, everything else opt-in.
    *
    * @param keepLanguages  empty = keep all languages
    * @param lineClean      C4 line-level cleaning before doc heuristics
    *                       (None = skip)
    * @param gopher         apply [[TextOps.gopherColumns]]' composite flag
    * @param dropExact      exact dedup on normalized text
    * @param nearDupThreshold Jaccard threshold for MinHash cluster drop
    *                         (None = skip the near-dup stage); the LSH
    *                         plan is census-routed, see
    *                         [[Dedup.minhashNearDuplicatesAuto]]
    * @param dsirTargetExpr SQL predicate naming the target slice for
    *                       DSIR selection (None = skip; set with dsirKeepN)
    * @param dsirKeepN      DSIR resample size (rows kept)
    * @param dsirBuckets    DSIR hashed-feature bucket count
    * @param resampleTo     target domain shares (empty = skip)
    * @param splits         per-mille split ranges (empty = no split column)
    */
  final case class CurationConfig(
      keepLanguages: Set[String] = Set.empty,
      lineClean: Option[LineCleanConfig] = None,
      requireCleanEncoding: Boolean = false,
      gopher: Boolean = true,
      gopherConfig: GopherConfig = GopherConfig(),
      dropExact: Boolean = true,
      nearDupThreshold: Option[Double] = None,
      sentenceCensor: Boolean = false,
      dsirTargetExpr: Option[String] = None,
      dsirKeepN: Option[Int] = None,
      dsirBuckets: Int = 1 << 13,
      resampleTo: Map[String, Double] = Map.empty,
      temperatureAlpha: Option[Double] = None,
      splits: Seq[(String, Int)] = Nil,
  ) {
    require(dsirTargetExpr.isDefined == dsirKeepN.isDefined,
      "dsirTargetExpr and dsirKeepN must be set together")
    require(resampleTo.isEmpty || temperatureAlpha.isEmpty,
      "resampleTo and temperatureAlpha are alternative mixing stages — set one")
  }

  /** Run the configured stages over `df`. Returns the curated corpus
    * (original columns, plus a split column when `splits` is set) and,
    * when `report = true`, the per-stage surviving row counts — each
    * count is a separate action, so reporting mode trades extra jobs
    * for the funnel diagnostic (leave it off in production and read
    * counts from the final materialization instead).
    */
  def curate(
      df: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      domainCol: String,
      cfg: CurationConfig,
      report: Boolean = false,
  ): (DataFrame, Seq[(String, Long)]) = {
    val funnel = Seq.newBuilder[(String, Long)]
    def step(name: String, d: DataFrame): DataFrame = {
      if (report) funnel += name -> d.count()
      d
    }
    var cur = step("input", df)
    if (cfg.keepLanguages.nonEmpty)
      cur = step("language",
        cur.filter(col(langCol).isin(cfg.keepLanguages.toSeq: _*)))
    cfg.lineClean.foreach { lc =>
      cur = step("line_clean",
        TextOps.cleanLines(cur, textCol, idCol,
          lc.minWords, lc.requirePunct, lc.banned, lc.dedupe)
          .filter(col("n_kept") > 0)
          .withColumn(textCol, col("clean_text"))
          .drop("clean_text", "n_lines", "n_kept"))
    }
    if (cfg.requireCleanEncoding)
      cur = step("encoding",
        TextOps.encodingColumns(cur, textCol)
          .filter(col("encoding_clean") === 1)
          .drop("n_replacement", "n_control", "n_mojibake", "encoding_clean"))
    if (cfg.gopher) {
      val g = cfg.gopherConfig
      val keep = TextOps.gopherColumns(cur, textCol, idCol,
        g.minTokens, g.maxTokens, g.minAvgLen, g.maxAvgLen,
        g.maxSymbolRatio, g.minAlphaRatio, g.minRequiredHits,
        g.maxDupWord, g.maxDup2gram)
        .filter(col("gopher_keep") === 1).select(col(idCol))
      cur = step("gopher", cur.join(keep, Seq(idCol), "left_semi"))
    }
    if (cfg.dropExact)
      cur = step("exact_dedup", Dedup.dropExactDuplicates(cur, textCol, idCol))
    cfg.nearDupThreshold.foreach { th =>
      cur = step("near_dedup",
        Dedup.dropNearDuplicates(cur, textCol, idCol, threshold = th))
    }
    if (cfg.sentenceCensor) {
      // cross-doc boilerplate sentences drop; rebuilt text replaces the
      // original column, other columns rejoin by id. LEFT join + coalesce:
      // dropRepeatedSentences emits no row for a doc whose every sentence
      // was boilerplate (or whose text was empty) — those docs stay in the
      // corpus with '' text rather than silently vanishing
      val rebuilt = Dedup.dropRepeatedSentences(cur, textCol, idCol)
        .withColumnRenamed("text", "_censored")
      cur = step("sentence_censor",
        cur.drop(textCol).join(rebuilt, Seq(idCol), "left")
          .withColumn(textCol, coalesce(col("_censored"), lit("")))
          .drop("_censored"))
    }
    // DSIR runs on the CLEANED corpus (λ estimated after dedup/quality,
    // so boilerplate repeats don't dominate the raw distribution) and
    // before mixture sizing; the kept rows carry their dsir_logw
    for { t <- cfg.dsirTargetExpr; n <- cfg.dsirKeepN } cur = step("dsir",
      Dsir.select(cur, idCol, textCol, expr(t), n, cfg.dsirBuckets))
    if (cfg.resampleTo.nonEmpty)
      cur = step("resample",
        Sampling.resampleToMixture(cur, idCol, domainCol, cfg.resampleTo))
    cfg.temperatureAlpha.foreach { a =>
      cur = step("temperature",
        Sampling.resampleByTemperature(cur, idCol, domainCol, a))
    }
    if (cfg.splits.nonEmpty)
      cur = step("split", Sampling.assignSplit(cur, idCol, cfg.splits))
    (cur, funnel.result())
  }

  /** Crawl-ingestion front door: binary WARC blobs in, a curate()-ready
    * text corpus out — the composition of [[Warc.responses]] (record +
    * HTTP split), an HTTP 200 / text-html gate, optional robots.txt
    * filtering, [[Html]] extraction (plain text or Markdown), and the
    * cheap per-document columns downstream stages key on (`url`,
    * `domain`, `path`, `title`, `text`, `lang`).
    *
    * Robots filtering runs BEFORE extraction and on DISTINCT
    * `(domain, path)` pairs only — URL-structure cardinality is tiny
    * next to page bodies, so the verdict table stays broadcast-sized
    * and the corpus pays one semi-join instead of grouping page text
    * through the rule aggregate.
    */
  def ingestCrawl(
      warcs: DataFrame,
      binCol: String,
      robotsRules: Option[DataFrame] = None,
      agent: String = "*",
      markdown: Boolean = false,
  ): DataFrame =
    ingestResponses(Warc.responses(warcs, binCol), robotsRules, agent, markdown)

  /** [[ingestCrawl]] from a column of FILE PATHS — the 100-TB front door:
    * each task streams its `.warc(.gz)` segment off the Hadoop
    * `FileSystem` via [[Warc.recordsFromPaths]] (memory bounded by ONE
    * record), so multi-GB Common Crawl segments never hit the 2 GB
    * JVM-array ceiling of the `binaryFile` blob route. Same output schema
    * and row set as the blob route on the same bytes (WarcSpec pins the
    * parity). Repartition the path frame across the cluster first —
    * parallelism is per FILE on this route ([[Warc.filesAt]] lists, the
    * caller spreads).
    */
  def ingestCrawlFromPaths(
      paths: DataFrame,
      pathCol: String = "path",
      robotsRules: Option[DataFrame] = None,
      agent: String = "*",
      markdown: Boolean = false,
  ): DataFrame =
    ingestResponses(
      Warc.responsesFromRecords(Warc.recordsFromPaths(paths, pathCol))
        // the record frame's provenance path would collide with the URL
        // `path` column the robots stage derives — drop it here (the blob
        // route never had it, and parity means same columns out)
        .drop(pathCol),
      robotsRules, agent, markdown)

  /** Shared back half of both front doors: HTTP 200 / text-html gate,
    * URL columns, optional robots filter, HTML extraction, language id.
    */
  private def ingestResponses(
      responses: DataFrame,
      robotsRules: Option[DataFrame],
      agent: String,
      markdown: Boolean,
  ): DataFrame = {
    var resp = responses
      .filter(col("http_status") === 200 && col("mime") === "text/html")
      .withColumn("url", col("target_uri"))
      .withColumn("domain", UrlOps.hostOf(col("url")))
      // pathOf yields '' (not NULL) for a bare-domain URL — normalize to
      // '/' so a `Disallow: /` rule still matches the root
      .withColumn("path",
        when(UrlOps.pathOf(col("url")) === "", lit("/"))
          .otherwise(UrlOps.pathOf(col("url"))))
    robotsRules.foreach { rt =>
      val pairs = resp.select("domain", "path").distinct()
      val ok = Robots.filterAllowed(pairs, "domain", "path", rt, agent)
        .filter(col("allowed") === 1).select("domain", "path")
      resp = resp.join(ok, Seq("domain", "path"), "left_semi")
    }
    val text =
      if (markdown) Html.toMarkdown(col("body")) else Html.extractText(col("body"))
    resp.select(col("url"), col("domain"), col("path"),
      Html.title(col("body")).as("title"), text.as("text"))
      .withColumn("lang", TextOps.langId(col("text")))
  }

  /** Content-level diff between two corpus snapshots keyed by `idCol`:
    * one row per id present on either side, labelled `added` /
    * `removed` / `changed` / `unchanged` — the dataset-versioning
    * primitive behind "what actually moved between crawl N and crawl
    * N+1" (reviewing a 100 TB refresh by eye is not a thing).
    *
    * Plan shape at scale: each side projects down to
    * `(id, md5(text))` BEFORE the full-outer equi-join, so the shuffle
    * carries 16-byte digests instead of document bodies; the join is
    * hash-partitioned on the id (bucket both snapshots on `idCol` at
    * rest and it collapses to a zero-exchange zipper).
    */
  def corpusDiff(
      oldDf: DataFrame,
      newDf: DataFrame,
      idCol: String,
      textCol: String,
  ): DataFrame = {
    // presence flags, not digest nullity: a null text must not
    // masquerade as an absent row (null-safe digest compare below)
    val o = oldDf.select(col(idCol),
      md5(col(textCol).cast("binary")).as("_old_h"), lit(1).as("_old_p"))
    val n = newDf.select(col(idCol),
      md5(col(textCol).cast("binary")).as("_new_h"), lit(1).as("_new_p"))
    o.join(n, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("_old_p").isNull, lit("added"))
          .when(col("_new_p").isNull, lit("removed"))
          .when(col("_old_h") <=> col("_new_h"), lit("unchanged"))
          .otherwise(lit("changed")).as("diff_status"))
  }

  /** Incremental snapshot maintenance (the MERGE counterpart of
    * [[corpusDiff]]): rows in `upserts` replace same-id base rows or
    * insert, ids in `deletes` drop — the next corpus version without
    * rewriting the unchanged bulk through any wide transform.
    *
    * Plan shape: two id-keyed anti-joins + one union. Change batches are
    * normally tiny next to the base, so AQE broadcasts their id sides
    * and the base is never shuffled; for repeated merges at 100 TB keep
    * the base bucketed by id ([[graft.loader.Lake.writeBucketed]]) and
    * even a shuffle-planned merge stays exchange-free on the base side.
    * Schemas must match by name (`unionByName`).
    */
  def mergeSnapshot(
      base: DataFrame,
      upserts: DataFrame,
      deletes: DataFrame,
      idCol: String,
  ): DataFrame =
    base.join(upserts.select(col(idCol)), Seq(idCol), "left_anti")
      .unionByName(upserts)
      .join(deletes.select(col(idCol)), Seq(idCol), "left_anti")
}
