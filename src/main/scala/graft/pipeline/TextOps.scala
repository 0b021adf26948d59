package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language ID, fingerprinting. All pure
  * built-in expressions (split / higher-order array functions / regex), so
  * every operator stays inside whole-stage codegen and scales linearly —
  * no UDFs, no shuffles except where an aggregation is the semantics.
  */
object TextOps {

  /** Whitespace tokenization (the `\s+` convention; leading/trailing
    * whitespace trimmed so no empty edge tokens).
    */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: word-piece regex splitting on letter/digit
    * boundaries and punctuation (a cheap proxy for tokenizer cost
    * estimation: contiguous letter runs, digit runs, or single symbols).
    */
  val BpeishPattern = "[A-Za-z0-9]+|[^A-Za-z0-9\\s]"

  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeishPattern), lit(0)))

  /** Default English stopword list used by quality scoring. */
  val EnStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "at", "by", "this", "be", "are",
  )

  /** Number of tokens that are stopwords. */
  def stopwordCount(text: Column, stopwords: Seq[String] = EnStopwords): Column =
    size(filter(tokens(text), t => t.isin(stopwords: _*)))

  /** L2-normalized hashed bag-of-features document embedding: the
    * [[Dsir.featureBuckets]] unigram+bigram bucket stream (native
    * one-pass kernel) counted into a dense `array<double>` of length
    * `dim`. Bridges the text and embedding operator families with no
    * external model: semantic dedup, ANN search, k-means clustering,
    * PCA, and drift monitors all run directly on raw text through this
    * column. Map-only, one codegen'd projection — the bucket array is
    * bound once as a lambda variable (the O(len²) HOF trap), the
    * O(dim²) normalization is over the tiny counts vector only.
    *
    * All-zero vectors can't occur (even empty text yields one empty
    * token), but the zero-norm guard keeps the divide total anyway.
    */
  def hashedEmbedding(text: Column, dim: Int): Column = {
    require(dim > 0, s"dim=$dim")
    transform(array(Dsir.featureBuckets(text, dim)), bks => {
      val counts = transform(sequence(lit(0), lit(dim - 1)),
        i => size(filter(bks, b => b === i)).cast("double"))
      transform(array(counts), cs => {
        val norm = sqrt(aggregate(cs, lit(0.0), (a, v) => a + v * v))
        when(norm === 0.0, cs).otherwise(transform(cs, x => x / norm))
      }).getItem(0)
    }).getItem(0)
  }

  /** Corpus TF-IDF: one row per (doc, distinct token) with the raw term
    * frequency and `tf · idf`, `idf = ln((N + 1) / (df + 1)) + 1` (the
    * smoothed scikit-learn convention). The classic relevance-scoring /
    * keyword-extraction primitive for a training-data pipeline.
    *
    * Plan shape at scale: explode → one `(doc, token)` count aggregation;
    * document frequency is a SECOND aggregation of those per-doc rows (never
    * re-reads the corpus) and comes back via a broadcast-friendly join keyed
    * on token. N rides along as a literal-free scalar via a cross join of a
    * 1-row aggregate (broadcast, no shuffle).
    */
  def tfidf(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = df.select(col(idCol),
      explode(tokens(col(textCol))).as("token"))
    val tf = toks.groupBy(col(idCol), col("token"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("token"))
      .agg(count(lit(1)).as("_df"))
    val n = df.agg(count(lit(1)).as("_n"))
    tf.join(dfreq, Seq("token"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        col("tf").cast("double") *
          (log((col("_n") + 1).cast("double") / (col("_df") + 1)) + 1.0))
      .select(col(idCol), col("token"), col("tf"), col("tfidf"))
  }

  /** Okapi BM25 relevance of every document against a literal query-term
    * set (Robertson & Zaragoza 2009) — the standard retrieval scorer
    * behind contamination sweeps and quality-targeted sampling. Uses the
    * Lucene-style positive idf `ln(1 + (N − df + 0.5)/(df + 0.5))`.
    *
    * Plan: tokens are FILTERED to the query terms before the (doc,
    * term) aggregation, so the full term dictionary never materializes;
    * document lengths ride a second small agg; corpus N and average
    * length attach as a broadcast 1-row scalar. Returns `(idCol, bm25)`
    * for documents containing ≥ 1 query term.
    */
  def bm25(
      df: DataFrame,
      textCol: String,
      idCol: String,
      queryTerms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75,
  ): DataFrame = {
    require(queryTerms.nonEmpty, "empty BM25 query")
    val lens = df.select(col(idCol), tokenCount(col(textCol)).as("_len"))
    val scalars = lens.agg(count(lit(1)).as("_n"), avg(col("_len")).as("_avg"))
    val tf = df.select(col(idCol), explode(tokens(col(textCol))).as("_t"))
      .filter(col("_t").isin(queryTerms: _*))
      .groupBy(col(idCol), col("_t")).agg(count(lit(1)).as("_tf"))
    val dfreq = tf.groupBy(col("_t")).agg(count(lit(1)).as("_df"))
    tf.join(dfreq, Seq("_t"))
      .join(lens, Seq(idCol))
      .crossJoin(broadcast(scalars))
      .withColumn("_idf", log(lit(1.0) +
        (col("_n").cast("double") - col("_df") + 0.5) / (col("_df") + 0.5)))
      .withColumn("_s", col("_idf") *
        (col("_tf").cast("double") * (lit(k1) + 1.0)) /
        (col("_tf").cast("double") +
          lit(k1) * (lit(1.0 - b) + lit(b) * col("_len") / col("_avg"))))
      .groupBy(col(idCol)).agg(sum(col("_s")).as("bm25"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): split the
    * corpus into `n` LM-perplexity bands (head/middle/tail for n = 3 —
    * the standard quality-tiering step before mixing). NOT a keyless
    * NTILE window (that single-partitions the corpus): thresholds come
    * from one exact `percentile` aggregation (n−1 doubles to the
    * driver), assignment is a map-only comparison chain. At 100 TB swap
    * the threshold agg for `percentile_approx` — assignment is
    * unchanged.
    */
  def perplexityBuckets(
      df: DataFrame,
      textCol: String,
      idCol: String,
      n: Int = 3,
  ): DataFrame = {
    require(n >= 2, "need at least 2 buckets")
    val ppl = unigramLogPerplexity(df, textCol, idCol)
    val thresholds = ppl.agg(
      percentile(col("logppl"),
        lit((1 until n).map(_.toDouble / n).toArray)).as("t"))
      .head().getSeq[Double](0)
    val bucket = thresholds.foldLeft(lit(1))((acc, t) =>
      acc + when(col("logppl") > t, 1).otherwise(0))
    ppl.withColumn("ppl_bucket", bucket)
  }

  /** Punctuation character count. */
  def punctCount(text: Column): Column =
    length(text) - length(regexp_replace(text, "[.,!?;:'\"()\\[\\]{}-]", ""))

  /** Composite quality signals (length / punctuation / stopword ratios —
    * the heuristics used to filter training corpora). Returns a struct-free
    * set of columns via `withColumns` for schema transparency.
    */
  def qualityColumns(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    // one tokenization per row, as a native one-pass kernel: the old
    // struct form bound the token array once but still ran the stopword
    // `filter` as an interpreted higher-order function (~20 isin
    // comparisons per boxed token) — the last CodegenFallback node in
    // this projection. TokenStopStatsExpr packs (n_tokens, n_stop) into
    // one long with bit-identical split/trim/isin edge semantics
    // (TokenStatsExprSpec pins it against the declarative form).
    val packed = org.apache.spark.sql.GraftBridge.column(TokenStopStatsExpr(
      org.apache.spark.sql.GraftBridge.expression(t), EnStopwords))
    val nTokens = shiftright(col("_q"), 32).cast("int")
    val nStop = col("_q").bitwiseAND(lit(0xFFFFFFFFL)).cast("int")
    df.withColumn("_q", packed)
      .withColumns(Map(
        "n_tokens" -> nTokens,
        "n_chars_m" -> length(t),
        "avg_token_len" ->
          (length(regexp_replace(t, "\\s+", "")).cast("double") / nTokens),
        // null on "" like DuckDB's x / 0 (ANSI division would throw)
        "punct_ratio" ->
          when(length(t) =!= 0, punctCount(t).cast("double") / length(t)),
        "stopword_ratio" -> (nStop.cast("double") / nTokens),
      ))
      .drop("_q")
  }

  /** Per-line structural signals (Dolma/C4 line statistics): line count,
    * duplicated-line fraction (1 − distinct/total — boilerplate menus
    * and nav bars repeat lines), and terminal-punctuation line fraction
    * (prose lines end in `.!?"`; listings and markup don't). Map-only;
    * the line array is bound once per row.
    */
  def lineSignals(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val sig = transform(array(split(col(textCol), "\n")), ls => struct(
      size(ls).cast("long").as("n_lines"),
      round(lit(1.0) -
        size(array_distinct(ls)).cast("double") / size(ls).cast("double"), 6)
        .as("dup_line_frac"),
      round(size(filter(ls, l =>
        substring(rtrim(l), -1, 1).isin(".", "!", "?", "\"")))
        .cast("double") / size(ls).cast("double"), 6)
        .as("punct_line_frac"),
    )).getItem(0)
    df.select(col(idCol), sig.as("_l"))
      .select(col(idCol), col("_l.n_lines"), col("_l.dup_line_frac"),
        col("_l.punct_line_frac"))
  }

  /** C4/Dolma-style per-line cleaning: keep lines with ≥ `minWords`
    * words, optionally require terminal punctuation (the C4 rule),
    * drop lines containing any lowercase `banned` marker ("javascript",
    * "cookie policy", …), optionally dedupe surviving lines (first
    * occurrence wins — nav/menu boilerplate), and reassemble the
    * document. Appends `clean_text`, `n_lines`, `n_kept` to the input
    * columns (composable: swap `clean_text` in for the text column and
    * drop `n_kept == 0` docs). A pure map-only projection — per-line
    * work happens inside one bound lambda, nothing shuffles.
    */
  def cleanLines(
      df: DataFrame,
      textCol: String,
      idCol: String,
      minWords: Int = 1,
      requirePunct: Boolean = false,
      banned: Seq[String] = Nil,
      dedupe: Boolean = false,
  ): DataFrame = {
    require(minWords >= 0, s"minWords=$minWords")
    def pred(l: Column): Column = {
      val words = size(split(trim(l), "\\s+")) >= minWords
      val punct =
        if (requirePunct)
          substring(rtrim(l), -1, 1).isin(".", "!", "?", "\"")
        else lit(true)
      banned.foldLeft(words && punct) { (acc, b) =>
        // Locale.ROOT keeps the driver-side literal in parity with
        // Spark's locale-independent lower() on every JVM locale
        acc && !lower(l).contains(b.toLowerCase(java.util.Locale.ROOT))
      }
    }
    val out = transform(array(split(col(textCol), "\n")), ls => {
      val kept0 = filter(ls, l => pred(l))
      val kept = if (dedupe) array_distinct(kept0) else kept0
      struct(
        concat_ws("\n", kept).as("clean_text"),
        size(ls).cast("long").as("n_lines"),
        size(kept).cast("long").as("n_kept"))
    }).getItem(0)
    df.withColumn("_c", out)
      .withColumns(Map(
        "clean_text" -> col("_c.clean_text"),
        "n_lines" -> col("_c.n_lines"),
        "n_kept" -> col("_c.n_kept")))
      .drop("_c")
  }

  /** Tiny per-language stopword profiles for the n-gram/stopword language
    * heuristic. Order matters: it is the deterministic tie-break priority.
    */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "you", "that", "it", "for"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ich", "nicht", "mit", "ein", "auf"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une", "est", "pour", "que"),
    "es" -> Seq("el", "de", "que", "los", "en", "un", "por", "con", "una", "se"),
  )

  /** Language-ID heuristic: CJK script detection by codepoint range, else
    * argmax of per-language stopword hits (ties broken by profile order,
    * "und" meaning undetermined when no profile scores).
    */
  def langId(text: Column): Column = {
    // bind the token array once; each profile score, the running max, and
    // the tie-break chain all reference it (inlined, that's ~3 regex
    // splits per profile per row)
    val pick = transform(array(tokens(lower(text))), toks => {
      val scores = LangProfiles.map { case (lang, words) =>
        lang -> size(filter(toks, t => t.isin(words: _*)))
      }
      val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
      scores.reverse.foldLeft(lit("und")) { case (acc, (lang, s)) =>
        when(s === best && best > 0, lit(lang)).otherwise(acc)
      }
    }).getItem(0)
    when(text.rlike("[\\x{4E00}-\\x{9FFF}]"), lit("zh")).otherwise(pick)
  }

  /** Canonical document fingerprint: md5 of the lowercased,
    * whitespace-collapsed text — the normalization used before exact dedup.
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  // ---- portable polynomial hashes ----
  //
  // Deterministic char-polynomial hashes whose arithmetic is expressible
  // identically in plain SQL (codepoint × power-of-base sums mod a Mersenne
  // prime), so operators built on them are verifiable bit-for-bit against
  // an independent SQL engine. The default operators use `xxhash64` (faster,
  // 64-bit); the portable family trades hash width for auditability.

  /** Mersenne prime 2^31 − 1: hash values and affine coefficients stay
    * below 2^31 and every multiply is reduced mod p before the next one,
    * so intermediates fit a Long without overflow (ANSI-safe).
    */
  val PolyPrime: Long = (1L << 31) - 1

  /** Polynomial hash of the first `k` chars: `Σ cp(s,j)·base^(k−j) mod p`,
    * evaluated in Horner form with a mod reduction per step (unrolled — no
    * lambda fold, stays a flat codegen'd expression). Intermediates stay
    * below `p·base + maxCodepoint < 2^37`, so the arithmetic never
    * overflows a Long for ANY `k` (ANSI-safe); the per-step form is
    * mirrored verbatim by the SQL renderers ([[graft.OracleSql]]).
    * Codepoints beyond the string's end read as 0, so strings shorter than
    * `k` are well-defined; intended for fixed-length shingles or rpad'd
    * prefixes.
    */
  def polyHashFixed(s: Column, k: Int, base: Long = 31L): Column =
    (1 to k).foldLeft(lit(0L)) { (acc, j) =>
      pmod(acc * lit(base) + ascii(substring(s, j, 1)).cast("long"),
        lit(PolyPrime))
    }

  /** Portable 62-bit token hash: two base-31/base-37 polynomials over the
    * first 8 chars (out-of-range codepoints read as 0), length-mixed,
    * packed as `h1 + h2*2^31` (bits 0..61; bits 62/63 always clear).
    */
  def portableTokenHash(t: Column): Column = {
    val h1 = pmod(polyHashFixed(t, 8, 31L) + length(t), lit(PolyPrime))
    val h2 = pmod(polyHashFixed(t, 8, 37L) + length(t) * 7, lit(PolyPrime))
    h1 + h2 * lit(1L << 31)
  }

  /** Winnowing-style rolling-hash fingerprint (Schleimer et al.): k-gram
    * hashes, windowed minima, distinct-sorted. Used for robust near-dup
    * detection; implemented as a deterministic expression chain over char
    * shingles. `hasher` maps a k-char shingle to a non-negative Long
    * (default `abs(xxhash64)`; pass `polyHashFixed(_, k)` for the
    * SQL-portable variant). Texts shorter than `k` yield an empty array.
    */
  def rollingHashFingerprint(
      text: Column,
      k: Int = 7,
      window: Int = 4,
      hasher: Column => Column = c => abs(xxhash64(c)),
  ): Column = {
    val hashes = transform(charShingles(text, k), hasher)
    // Bind the hash array ONCE as a lambda variable: referencing the raw
    // `hashes` subtree inside the per-window lambda would inline it and
    // re-evaluate the whole shingle/hash pipeline per window position —
    // O(len²) per document (measured 20 min vs 30 s at bench scale).
    val winnowed = transform(array(hashes), hs =>
      array_sort(array_distinct(transform(
        sequence(lit(0), greatest(size(hs) - window, lit(0))),
        i => array_min(slice(hs, i + 1, lit(window)))))))
    when(length(text) >= k, winnowed.getItem(0))
      .otherwise(array().cast("array<long>"))
  }

  /** Portable winnowing fingerprint via the native one-pass kernel
    * ([[WinnowingFingerprintExpr]]) — bit-identical to
    * `rollingHashFingerprint(text, k, window, polyHashFixed(_, k, base))`
    * (property-tested) but without the five intermediate arrays per
    * document. Null text yields an empty array like the composed form.
    */
  def winnowingFingerprintPortable(
      text: Column,
      k: Int = 7,
      window: Int = 4,
      base: Long = 31L,
  ): Column =
    coalesce(
      org.apache.spark.sql.GraftBridge.column(WinnowingFingerprintExpr(
        org.apache.spark.sql.GraftBridge.expression(text), k, window, base)),
      array().cast("array<long>"))

  /** Gopher-style repetition signals: the fraction of duplicated words
    * and duplicated word 2-grams per document (`1 − distinct/total`, 0
    * for empty/too-short docs). High values flag boilerplate and
    * degenerate generations in corpus filtering. Pure per-row array
    * expressions — no shuffle, whole-stage codegen'd.
    */
  def repetitionColumns(df: DataFrame, textCol: String): DataFrame = {
    def dupRatio(arr: Column): Column = {
      // bind the derived array once (NOTES.md lambda-binding rule)
      transform(array(arr), a =>
        when(size(a) > 0,
          round(lit(1.0) -
            size(array_distinct(a)).cast("double") / size(a).cast("double"),
            6))
          .otherwise(lit(0.0))).getItem(0)
    }
    df.withColumns(Map(
      "dup_word_ratio" -> dupRatio(tokens(col(textCol))),
      "dup_2gram_ratio" -> dupRatio(wordShingles(col(textCol), 2)),
    ))
  }

  /** Unigram log-perplexity quality score: per document, the mean negative
    * log corpus-frequency of its tokens — the cheapest "model-based"
    * quality filter (high = rare/garbled vocabulary, low = common
    * language). Two aggregations + a token-keyed join that Spark
    * broadcasts when the vocabulary is small; corpus size joins in as a
    * 1-row broadcast like [[tfidf]].
    */
  def unigramLogPerplexity(
      df: DataFrame,
      textCol: String,
      idCol: String,
  ): DataFrame = {
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("token"))
    val vocab = toks.groupBy("token").agg(count(lit(1)).as("_cnt"))
    val total = toks.agg(count(lit(1)).as("_tot"))
    toks.join(vocab, Seq("token"))
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(round(avg(-log(col("_cnt").cast("double") /
        col("_tot").cast("double"))), 6).as("logppl"))
  }

  /** Required "common English words" for the Gopher document filter
    * (Rae et al. 2021, appendix A1.1).
    */
  val GopherRequiredWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style composite document-quality filter (Rae et al. 2021,
    * appendix A1.1): per-document signal columns — token count, mean
    * token length, symbol-to-token ratio (`#`/`...`), alphabetic-token
    * ratio, required-word hits, duplicate word/2-gram ratios — plus the
    * composite `gopher_keep` flag evaluated on the ROUNDED signals (so
    * the decision is reproducible across engines to 1e-6). Thresholds
    * default to the published rules; tune per corpus.
    *
    * One tokenization bound per row, pure codegen expressions, no
    * shuffle — at 100 TB this is a map-only pass like [[qualityColumns]].
    */
  def gopherColumns(
      df: DataFrame,
      textCol: String,
      idCol: String,
      minTokens: Int = 50,
      maxTokens: Int = 100000,
      minAvgLen: Double = 3.0,
      maxAvgLen: Double = 10.0,
      maxSymbolRatio: Double = 0.1,
      minAlphaRatio: Double = 0.8,
      minRequiredHits: Int = 2,
      maxDupWord: Double = 0.3,
      maxDup2gram: Double = 0.2,
  ): DataFrame = {
    val t = col(textCol)
    val sig = transform(array(tokens(t)), toks => {
      val n = size(toks)
      val sh2 = when(n >= 2, transform(sequence(lit(1), n - 1), i =>
        concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))))
        .otherwise(array().cast("array<string>"))
      struct(
        n.cast("long").as("n"),
        size(filter(toks, w => w.rlike("[A-Za-z]"))).as("nalpha"),
        size(array_intersect(toks,
          lit(GopherRequiredWords.toArray))).as("req"),
        size(array_distinct(toks)).as("ndw"),
        size(sh2).as("n2"),
        size(array_distinct(sh2)).as("nd2"),
      )
    }).getItem(0)
    val out = df.withColumn("_g", sig)
      .select(col(idCol),
        col("_g.n").as("n_tokens"),
        round(length(regexp_replace(t, "\\s+", "")).cast("double") /
          col("_g.n"), 6).as("avg_token_len"),
        round(size(regexp_extract_all(t, lit("#|\\.\\.\\."), lit(0)))
          .cast("double") / col("_g.n"), 6).as("symbol_ratio"),
        round(col("_g.nalpha").cast("double") / col("_g.n"), 6)
          .as("alpha_ratio"),
        col("_g.req").cast("long").as("required_hits"),
        round(lit(1.0) - col("_g.ndw").cast("double") / col("_g.n"), 6)
          .as("dup_word_ratio"),
        when(col("_g.n2") > 0,
          round(lit(1.0) - col("_g.nd2").cast("double") / col("_g.n2"), 6))
          .otherwise(lit(0.0)).as("dup_2gram_ratio"))
    // coalesce pins NULL-text rows to 0 (reject), matching the oracle's
    // CASE semantics — a bare cast would propagate NULL
    out.withColumn("gopher_keep",
      coalesce((col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens &&
        col("avg_token_len") >= minAvgLen && col("avg_token_len") <= maxAvgLen &&
        col("symbol_ratio") <= maxSymbolRatio &&
        col("alpha_ratio") >= minAlphaRatio &&
        col("required_hits") >= minRequiredHits &&
        col("dup_word_ratio") <= maxDupWord &&
        col("dup_2gram_ratio") <= maxDup2gram).cast("int"), lit(0)))
  }

  /** Bigram-LM log-perplexity quality score: per document, the mean
    * negative log of the add-one-smoothed conditional bigram probability
    * `p(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V)` with counts and vocabulary
    * size `V` taken from the corpus itself — the classic self-scored
    * fluency signal one notch above [[unigramLogPerplexity]] (it catches
    * shuffled-word salad that unigram statistics cannot). Documents with
    * fewer than 2 tokens report 0 bigrams and score 0.
    *
    * Plan shape at scale: bigrams explode once; their corpus counts come
    * back through a join keyed on the bigram (degrades gracefully to a
    * sort-merge join at open-vocabulary scale, same story as the unigram
    * scorer); unigram context counts join on the first word (vocab-sized,
    * broadcast-friendly); `V` rides along as a broadcast 1-row aggregate.
    */
  def bigramLogPerplexity(
      df: DataFrame,
      textCol: String,
      idCol: String,
  ): DataFrame = {
    val bg = df.select(col(idCol),
      explode(transform(array(tokens(col(textCol))), tks =>
        when(size(tks) >= 2,
          transform(sequence(lit(1), size(tks) - 1), i =>
            struct(concat_ws(" ", element_at(tks, i), element_at(tks, i + 1))
              .as("b"), element_at(tks, i).as("w1"))))
          .otherwise(array().cast("array<struct<b:string,w1:string>>")))
        .getItem(0)).as("_s"))
      .select(col(idCol), col("_s.b").as("_bg"), col("_s.w1").as("_w1"))
    val uni = df.select(explode(tokens(col(textCol))).as("_w1"))
      .groupBy("_w1").agg(count(lit(1)).as("_c1"))
    val vocab = uni.agg(count(lit(1)).as("_v"))
    val bgc = bg.groupBy("_bg").agg(count(lit(1)).as("_c2"))
    val scored = bg.join(bgc, Seq("_bg"))
      .join(uni, Seq("_w1"))
      .crossJoin(broadcast(vocab))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(-log((col("_c2").cast("double") + 1.0) /
          (col("_c1").cast("double") + col("_v").cast("double")))), 6)
          .as("bigram_logppl"))
    df.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("bigram_logppl"), lit(0.0)).as("bigram_logppl"))
  }

  /** Zipf profile of the corpus vocabulary: OLS slope of
    * `ln(freq) ~ ln(rank)` (natural English sits near −1; flatter means
    * templated/duplicated text, steeper means heavy boilerplate head),
    * plus type/token totals. One corpus token shuffle into the vocab
    * table; ranks attach via range-repartition + zipWithIndex
    * ([[Sampling.withSequentialIds]]) — NEVER a keyless window, because
    * "bounded by the vocab" is no bound at corpus scale (Heap's law puts
    * web-corpus vocabularies at 10⁸–10⁹ types, far too many for the one
    * task an empty-PARTITION-BY window collapses to). The OLS moments
    * then fold in a single aggregate.
    */
  def zipfProfile(df: DataFrame, textCol: String): DataFrame = {
    val vocab = df.select(explode(tokens(col(textCol))).as("_w"))
      .groupBy("_w").agg(count(lit(1)).as("_f"))
    // rank 1..V by (freq desc, word asc) — negate the count so the
    // ascending range partitioner yields the descending-frequency order
    val ranked = Sampling.withSequentialIds(
      vocab.withColumn("_negf", -col("_f")), Seq("_negf", "_w"), "_r0")
      .withColumn("_r", col("_r0") + lit(1L))
    val xy = ranked.select(log(col("_r").cast("double")).as("_x"),
      log(col("_f").cast("double")).as("_y"), col("_f"))
    xy.agg(count(lit(1)).as("_n"), sum(col("_x")).as("_sx"),
      sum(col("_y")).as("_sy"), sum(col("_x") * col("_x")).as("_sxx"),
      sum(col("_x") * col("_y")).as("_sxy"), sum(col("_f")).as("_tok"))
      .select(
        round((col("_n").cast("double") * col("_sxy") - col("_sx") * col("_sy")) /
          (col("_n").cast("double") * col("_sxx") - col("_sx") * col("_sx")), 6)
          .as("zipf_slope"),
        col("_n").cast("long").as("n_types"),
        col("_tok").cast("long").as("n_tokens"))
  }

  /** Sentence segmentation (see [[SentenceSplitExpr]] for the exact
    * boundary rules); map-only codegen, `array<string>` out.
    */
  def sentences(text: Column): Column =
    org.apache.spark.sql.GraftBridge.column(SentenceSplitExpr(
      org.apache.spark.sql.GraftBridge.resolvedExpression(text)))

  /** Heuristic English syllable count of one token: vowel groups
    * (`[aeiouy]+`), minus one for a silent final `e` (ends `e` but not
    * `le`), floored at 1. The standard readability-formula estimator —
    * exactly specified so both engines compute it identically.
    */
  def syllables(word: Column): Column = {
    val w = lower(word)
    val groups = size(regexp_extract_all(w, lit("[aeiouy]+"), lit(0)))
    greatest(
      groups - when(w.rlike("e$") && !w.rlike("le$"), 1).otherwise(0),
      lit(1))
  }

  /** Flesch reading-ease profile: words, sentences, syllables and
    * `206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)` —
    * the classic grade-level quality signal (very low or negative
    * scores flag dense boilerplate/legalese; implausibly high ones flag
    * word salad). Map-only: the sentence kernel plus higher-order
    * folds over one bound token array.
    */
  def readabilityColumns(df: DataFrame, textCol: String): DataFrame = {
    val stats = transform(array(tokens(col(textCol))), tks =>
      struct(
        size(tks).cast("long").as("w"),
        aggregate(tks, lit(0L), (acc, t) => acc + syllables(t).cast("long"))
          .as("sy"))).getItem(0)
    df.withColumn("_st", stats)
      .withColumn("n_sentences",
        size(sentences(col(textCol))).cast("long"))
      .withColumn("n_words", col("_st.w"))
      .withColumn("n_syllables", col("_st.sy"))
      .withColumn("flesch",
        when(col("n_sentences") > 0 && col("n_words") > 0,
          round(lit(206.835) -
            lit(1.015) * (col("n_words").cast("double") /
              col("n_sentences").cast("double")) -
            lit(84.6) * (col("n_syllables").cast("double") /
              col("n_words").cast("double")), 6)))
      .drop("_st")
  }

  /** Porter stem of a single word (see [[PorterStemExpr]]); map-only
    * codegen. For whole documents, compose with [[tokens]]:
    * `transform(tokens(c), w => porterStem(w))`.
    */
  def porterStem(word: Column): Column =
    org.apache.spark.sql.GraftBridge.column(PorterStemExpr(
      org.apache.spark.sql.GraftBridge.resolvedExpression(word)))

  /** Unicode normalization (NFC / NFKC) — the canonicalization step that
    * makes `é` (precomposed U+00E9) and `e`+U+0301 (combining acute)
    * hash/dedup/tokenize identically; NFKC additionally folds
    * compatibility forms (ﬁ ligature → `fi`, fullwidth `Ａ` → `A`,
    * ² → `2`), the usual pretraining choice. Codegen kernel over
    * `java.text.Normalizer` (already-normalized text short-circuits via
    * `isNormalized`, the common fast path); map-only.
    */
  def normalizeUnicode(text: Column, form: String = "NFKC"): Column = {
    val f = java.text.Normalizer.Form.valueOf(
      form.toUpperCase(java.util.Locale.ROOT))
    org.apache.spark.sql.GraftBridge.column(
      UnicodeNormalizeExpr(
        org.apache.spark.sql.GraftBridge.resolvedExpression(text), f.name))
  }

  /** Encoding-health signals — the mojibake/transcoding-damage filter a
    * web corpus needs before any text model sees it:
    *
    *  - `n_replacement`: U+FFFD replacement characters (a decoder already
    *    gave up somewhere upstream);
    *  - `n_control`: C0 controls except tab/newline/CR, plus DEL and the
    *    C1 range — binary junk that survived as "text";
    *  - `n_mojibake`: double-encoded UTF-8 witnesses — `Â`/`Ã` followed
    *    by a continuation-range codepoint (U+0080–U+00BF), the signature
    *    of UTF-8 bytes re-decoded as Latin-1 (`é` → `Ã©`);
    *  - `encoding_clean`: 1 when all three are zero.
    *
    * Pure regexp-count projections (codegen, map-only, portable regex —
    * identical match semantics in Java and RE2), so the oracle mirrors
    * with `len(regexp_extract_all(...))`.
    */
  def encodingColumns(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val out = df.withColumns(Map(
      "n_replacement" -> regexp_count(t, lit("�")).cast("long"),
      "n_control" ->
        regexp_count(t, lit("[\\x{00}-\\x{08}\\x{0B}\\x{0C}\\x{0E}-\\x{1F}\\x{7F}-\\x{9F}]"))
          .cast("long"),
      "n_mojibake" -> regexp_count(t, lit("[ÂÃ][\\x{80}-\\x{BF}]")).cast("long"),
    ))
    out.withColumn("encoding_clean",
      (col("n_replacement") === 0 && col("n_control") === 0 &&
        col("n_mojibake") === 0).cast("int"))
  }

  /** Trigram "stupid backoff" log-perplexity (Brants et al. 2007,
    * "Large Language Models in Machine Translation") scored against a
    * reference LM subset of the corpus (`lmFilter` rows): per trigram
    * `w1 w2 w3`,
    * {{{
    *   s = c(w1 w2 w3) / c(w1 w2)                          if seen,
    *     = α · c(w2 w3) / c(w2)                            else if bigram seen,
    *     = α² · (c(w3) + 1) / (T + V)                      otherwise
    * }}}
    * with counts from the LM subset only, `T` its token total, `V` its
    * vocabulary, α = 0.4 (the published constant). The final tier is
    * add-one smoothed so out-of-vocabulary words score finitely. Scoring
    * a corpus against ITSELF makes the backoff vacuous (every trigram
    * contributes its own count) — pass a held-in subset (e.g. one trusted
    * source) as `lmFilter` so unseen n-grams actually back off; that's
    * also the production shape (LM counts from a clean reference corpus,
    * scores over the whole crawl).
    *
    * Documents with fewer than 3 tokens report 0 trigrams and score 0.
    *
    * Plan shape at scale: one explode of the corpus trigrams; count
    * tables come back through equi-joins keyed on the n-gram (trigram
    * table is open-vocabulary → sort-merge; bigram/unigram tables are
    * vocab-bound → AQE broadcasts them); `T`/`V` ride as a 1-row
    * broadcast. No driver-side state, no cross join beyond the scalar.
    */
  /** Frozen stupid-backoff LM count tables built from `lmDf` — the
    * train-offline artifact for [[scoreTrigram]]. Persist the four
    * frames to a lake and reload to score later corpora (or streams —
    * every scoring join is stream-static-compatible; wrap the per-doc
    * aggregation in `foreachBatch`, see StreamingSpec).
    */
  final case class TrigramLm(
      uni: DataFrame, // (_w, _c)
      bi: DataFrame, // (_g, _c)
      tri: DataFrame, // (_g, _c)
      totals: DataFrame, // 1 row: (_t tokens, _v vocab)
  ) {
    /** Persist the four tables as a parquet LM artifact (counts are
      * integer-exact, so save→load→score is bit-identical to in-flight
      * scoring). The n-gram tables hash-partition on their key so later
      * scoring joins can bucket against them.
      */
    def save(dir: String): Unit = {
      uni.write.mode("overwrite").parquet(s"$dir/uni")
      bi.write.mode("overwrite").parquet(s"$dir/bi")
      tri.write.mode("overwrite").parquet(s"$dir/tri")
      totals.write.mode("overwrite").parquet(s"$dir/totals")
    }
  }

  /** Reload a [[TrigramLm.save]] artifact. */
  def loadTrigramLm(spark: org.apache.spark.sql.SparkSession,
      dir: String): TrigramLm =
    TrigramLm(
      uni = spark.read.parquet(s"$dir/uni"),
      bi = spark.read.parquet(s"$dir/bi"),
      tri = spark.read.parquet(s"$dir/tri"),
      totals = spark.read.parquet(s"$dir/totals"))

  /** Build [[TrigramLm]] tables from a reference corpus. */
  def trigramLm(lmDf: DataFrame, textCol: String): TrigramLm = {
    val lm = lmDf.select(tokens(col(textCol)).as("_toks"))
    val lmTok = lm.select(explode(col("_toks")).as("_w"))
    def grams(width: Int) = lm.select(explode(transform(array(col("_toks")),
      tks => when(size(tks) >= width,
        transform(sequence(lit(1), size(tks) - (width - 1)), i =>
          concat_ws(" ", (0 until width).map(o => element_at(tks, i + o)): _*)))
        .otherwise(array().cast("array<string>"))).getItem(0)).as("_g"))
      .groupBy("_g").agg(count(lit(1)).as("_c"))
    TrigramLm(
      uni = lmTok.groupBy("_w").agg(count(lit(1)).as("_c")),
      bi = grams(2),
      tri = grams(3),
      totals = lmTok.agg(count(lit(1)).as("_t"),
        countDistinct(col("_w")).as("_v")))
  }

  /** Score `df` against a FROZEN [[TrigramLm]] (see
    * [[trigramLogPerplexity]] for the formula). All LM-side joins are
    * equi-joins against static tables, so this composes with streaming
    * micro-batches unchanged.
    */
  def scoreTrigram(
      df: DataFrame,
      textCol: String,
      idCol: String,
      lm: TrigramLm,
      alpha: Double = 0.4,
  ): DataFrame = {
    // per-document trigrams with every key the backoff chain needs
    val tg = df.select(col(idCol),
      explode(transform(array(tokens(col(textCol))), tks =>
        when(size(tks) >= 3,
          transform(sequence(lit(1), size(tks) - 2), i =>
            struct(
              concat_ws(" ", element_at(tks, i), element_at(tks, i + 1),
                element_at(tks, i + 2)).as("t3"),
              concat_ws(" ", element_at(tks, i), element_at(tks, i + 1))
                .as("ctx2"),
              concat_ws(" ", element_at(tks, i + 1), element_at(tks, i + 2))
                .as("b23"),
              element_at(tks, i + 1).as("w2"),
              element_at(tks, i + 2).as("w3"))))
          .otherwise(array().cast(
            "array<struct<t3:string,ctx2:string,b23:string,w2:string,w3:string>>"))
      ).getItem(0)).as("_s"))
      .select(col(idCol), col("_s.t3").as("_t3"), col("_s.ctx2").as("_ctx2"),
        col("_s.b23").as("_b23"), col("_s.w2").as("_w2"), col("_s.w3").as("_w3"))
    val uni = lm.uni
    val scal = lm.totals
    val bg = lm.bi
    val tg3 = lm.tri
    val joined = tg
      .join(tg3.withColumnRenamed("_g", "_t3").withColumnRenamed("_c", "_c3"),
        Seq("_t3"), "left")
      .join(bg.withColumnRenamed("_g", "_ctx2").withColumnRenamed("_c", "_c2ctx"),
        Seq("_ctx2"), "left")
      .join(bg.withColumnRenamed("_g", "_b23").withColumnRenamed("_c", "_c2"),
        Seq("_b23"), "left")
      .join(uni.withColumnRenamed("_w", "_w2").withColumnRenamed("_c", "_c1ctx"),
        Seq("_w2"), "left")
      .join(uni.withColumnRenamed("_w", "_w3").withColumnRenamed("_c", "_c1"),
        Seq("_w3"), "left")
      .crossJoin(broadcast(scal))
    // c3 > 0 implies c2ctx > 0, and c2 > 0 implies c1ctx > 0, so every
    // division is guarded by its own branch (when() evaluates lazily —
    // ANSI mode never sees a zero divisor)
    val score =
      when(coalesce(col("_c3"), lit(0L)) > 0,
        col("_c3").cast("double") / col("_c2ctx").cast("double"))
        .otherwise(lit(alpha) *
          when(coalesce(col("_c2"), lit(0L)) > 0,
            col("_c2").cast("double") / col("_c1ctx").cast("double"))
            .otherwise(lit(alpha) *
              (coalesce(col("_c1"), lit(0L)).cast("double") + 1.0) /
              (col("_t").cast("double") + col("_v").cast("double"))))
    val scored = joined
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_trigrams"),
        round(avg(-log(score)), 6).as("trigram_logppl"))
    df.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        coalesce(col("trigram_logppl"), lit(0.0)).as("trigram_logppl"))
  }

  /** One-call form: build the LM from the `lmFilter` subset of `df`,
    * then score all of `df` against it ([[trigramLm]] + [[scoreTrigram]]).
    */
  def trigramLogPerplexity(
      df: DataFrame,
      textCol: String,
      idCol: String,
      lmFilter: Column,
      alpha: Double = 0.4,
  ): DataFrame =
    scoreTrigram(df, textCol, idCol,
      trigramLm(df.filter(lmFilter), textCol), alpha)

  /** Interpolated Kneser–Ney bigram log-perplexity (Kneser & Ney 1995;
    * the strongest classical n-gram smoothing) against a reference LM
    * subset:
    * {{{
    *   P(w2|w1) = max(c(w1 w2) − d, 0)/c(w1)
    *            + (d/c(w1)) · N1+(w1 •) · Pcont(w2)        c(w1) > 0
    *          = Pcont(w2)                                   c(w1) = 0
    *   Pcont(w2) = (N1+(• w2) + 1) / (B + V)
    * }}}
    * where `d` is the absolute discount (0.75, the textbook default),
    * `N1+(w1 •)` counts distinct continuations of `w1`, `N1+(• w2)`
    * distinct left-contexts of `w2`, `B` the number of distinct bigram
    * types, `V` the vocabulary. The continuation distribution is add-one
    * smoothed (a deviation from the textbook, documented) so
    * out-of-vocabulary words score finitely without a separate unknown
    * symbol. Documents with < 2 tokens score 0 over 0 bigrams.
    *
    * Plan shape: one corpus bigram explode; count/type tables come back
    * through equi-joins (context tables are vocab-bound → broadcast
    * under AQE); `B`/`V` ride as a 1-row broadcast. Like
    * [[trigramLogPerplexity]], score against a held-in subset — the
    * discount only bites when the scored text leaves the LM support.
    */
  /** Frozen Kneser–Ney tables (same train-offline/score-on-stream split
    * as [[TrigramLm]]): unigram counts, bigram counts, forward/backward
    * continuation-type censuses and the (B, V) scalar.
    */
  final case class KneserNeyLm(
      uni: DataFrame, // (_w, _c1)
      bg: DataFrame, // (_b, _c2)
      cont: DataFrame, // (_w1, _n1fwd)
      ctx: DataFrame, // (_w2, _n1bwd)
      totals: DataFrame, // 1 row: (_bt bigram types, _v vocab)
  )

  /** Build [[KneserNeyLm]] tables from a reference corpus. */
  def kneserNeyLm(lmDf: DataFrame, textCol: String): KneserNeyLm = {
    val lm = lmDf.select(tokens(col(textCol)).as("_toks"))
    val lmTok = lm.select(explode(col("_toks")).as("_w"))
    val uni = lmTok.groupBy("_w").agg(count(lit(1)).as("_c1"))
    val lmBg = lm.select(explode(transform(array(col("_toks")), tks =>
      when(size(tks) >= 2,
        transform(sequence(lit(1), size(tks) - 1), i =>
          struct(concat_ws(" ", element_at(tks, i), element_at(tks, i + 1))
            .as("b"), element_at(tks, i).as("w1"),
            element_at(tks, i + 1).as("w2"))))
        .otherwise(array().cast(
          "array<struct<b:string,w1:string,w2:string>>"))).getItem(0)).as("_s"))
      .select(col("_s.b").as("_b"), col("_s.w1").as("_w1"),
        col("_s.w2").as("_w2"))
    val types = lmBg.select("_b", "_w1", "_w2").distinct()
    KneserNeyLm(
      uni = uni,
      bg = lmBg.groupBy("_b").agg(count(lit(1)).as("_c2")),
      cont = types.groupBy("_w1").agg(count(lit(1)).as("_n1fwd")),
      ctx = types.groupBy("_w2").agg(count(lit(1)).as("_n1bwd")),
      totals = types.agg(count(lit(1)).as("_bt"))
        .crossJoin(uni.agg(count(lit(1)).as("_v"))))
  }

  /** Score `df` against FROZEN [[KneserNeyLm]] tables — every LM join
    * is a stream-static equi-join (wrap the per-doc aggregation in
    * `foreachBatch` for streams, exactly like [[scoreTrigram]]).
    */
  def scoreKneserNey(
      df: DataFrame,
      textCol: String,
      idCol: String,
      lm: KneserNeyLm,
      discount: Double = 0.75,
  ): DataFrame = {
    val bg = df.select(col(idCol),
      explode(transform(array(tokens(col(textCol))), tks =>
        when(size(tks) >= 2,
          transform(sequence(lit(1), size(tks) - 1), i =>
            struct(
              concat_ws(" ", element_at(tks, i), element_at(tks, i + 1))
                .as("b"),
              element_at(tks, i).as("w1"),
              element_at(tks, i + 1).as("w2"))))
          .otherwise(array().cast(
            "array<struct<b:string,w1:string,w2:string>>"))
      ).getItem(0)).as("_s"))
      .select(col(idCol), col("_s.b").as("_b"), col("_s.w1").as("_w1"),
        col("_s.w2").as("_w2"))
    val uni = lm.uni
    val bgCounts = lm.bg
    val contOf = lm.cont
    val ctxOf = lm.ctx
    val scal = lm.totals
    val joined = bg
      .join(bgCounts, Seq("_b"), "left")
      .join(uni.withColumnRenamed("_w", "_w1"), Seq("_w1"), "left")
      .join(contOf, Seq("_w1"), "left")
      .join(ctxOf, Seq("_w2"), "left")
      .crossJoin(broadcast(scal))
    val pcont = (coalesce(col("_n1bwd"), lit(0L)).cast("double") + 1.0) /
      (col("_bt").cast("double") + col("_v").cast("double"))
    // a context with no observed continuation (w1 only corpus-final in
    // the LM subset) would zero the backoff mass — fall through to the
    // continuation distribution outright, like an unseen context
    val p =
      when(coalesce(col("_c1"), lit(0L)) > 0 &&
        coalesce(col("_n1fwd"), lit(0L)) > 0,
        greatest(coalesce(col("_c2"), lit(0L)).cast("double") - discount,
          lit(0.0)) / col("_c1").cast("double") +
          lit(discount) / col("_c1").cast("double") *
          col("_n1fwd").cast("double") * pcont)
        .otherwise(pcont)
    val scored = joined.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(-log(p)), 6).as("kn_logppl"))
    df.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("kn_logppl"), lit(0.0)).as("kn_logppl"))
  }

  /** One-call form: build [[KneserNeyLm]] from the `lmFilter` subset of
    * `df`, then score all of `df` against it.
    */
  def kneserNeyLogPerplexity(
      df: DataFrame,
      textCol: String,
      idCol: String,
      lmFilter: Column,
      discount: Double = 0.75,
  ): DataFrame =
    scoreKneserNey(df, textCol, idCol,
      kneserNeyLm(df.filter(lmFilter), textCol), discount)

  /** Contamination fraction against a benchmark subset: per document, the
    * share of its distinct word `n`-grams that also occur anywhere in the
    * benchmark rows (`benchmarkFilter`) — the train/test-overlap
    * decontamination check. The benchmark shingle set is DISTINCT and
    * typically tiny relative to the corpus → Spark broadcasts it; the
    * per-doc side never shuffles more than its own exploded shingles.
    * Documents with fewer than `n` tokens report 0 over 0 shingles.
    */
  def contaminationFraction(
      df: DataFrame,
      textCol: String,
      idCol: String,
      benchmarkFilter: Column,
      n: Int = 3,
  ): DataFrame = {
    val sh = df.select(col(idCol),
      explode(array_distinct(wordShingles(col(textCol), n))).as("_s"))
    val bench = df.filter(benchmarkFilter)
      .select(explode(wordShingles(col(textCol), n)).as("_s"))
      .distinct()
      .withColumn("_hit", lit(1L))
    val agg = sh.join(broadcast(bench), Seq("_s"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"), count(col("_hit")).as("n_matched"))
    df.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        round(when(coalesce(col("n_shingles"), lit(0L)) > 0,
          col("n_matched").cast("double") / col("n_shingles").cast("double"))
          .otherwise(lit(0.0)), 6).as("contamination"))
  }

  /** Corpus vocabulary head: the `k` most frequent whitespace tokens with
    * a deterministic dense ordering (count desc, then token). The plan is
    * explode → one count aggregation → `TakeOrderedAndProject` (per-
    * partition top-k, no global sort) + a k-row window for the rank.
    */
  def topTokens(df: DataFrame, textCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("cnt").desc, col("token"))))
  }

  // ---- C4-style line-level filtering ----

  /** Keep only the document lines that pass the C4 line rules (Raffel et
    * al. 2020, "Exploring the Limits of Transfer Learning", §2.2): a kept
    * line ends in terminal punctuation, has at least `minWords` words,
    * and contains none of the `banned` lowercase markers (C4 drops lines
    * with the word "javascript"). Pure higher-order expressions — the
    * line array is filtered and re-joined with no UDF, so the whole
    * cleanup runs inside codegen at scan parallelism.
    */
  def c4FilterLines(
      text: Column,
      minWords: Int = 3,
      banned: Seq[String] = Seq("javascript"),
  ): Column = {
    val kept = filter(split(text, "\n"), line => c4LineKeep(line, minWords, banned))
    array_join(kept, "\n")
  }

  /** The C4 keep-predicate for one line. */
  private def c4LineKeep(line: Column, minWords: Int, banned: Seq[String]): Column = {
    val t = trim(line)
    val terminal = t.rlike("[.!?\"']$")
    val words = size(split(t, "\\s+")) >= minWords
    val clean = banned.map(b => !contains(lower(t), lit(b)))
      .foldLeft(lit(true))(_ && _)
    terminal && words && clean
  }

  /** Document-level C4 signals next to the filtered text:
    * `c4_text` (kept lines re-joined), `c4_kept_lines` / `c4_total_lines`,
    * `c4_kept_ratio` (char survival fraction, 1.0 for empty docs), and
    * the page-level drop flags C4 applies after line filtering —
    * `c4_flag_lorem` (placeholder text), `c4_flag_brace` (code, any `{`),
    * `c4_flag_short` (fewer than `minSentences` kept sentences).
    */
  def c4Columns(
      df: DataFrame,
      textCol: String,
      minWords: Int = 3,
      minSentences: Int = 5,
      banned: Seq[String] = Seq("javascript"),
  ): DataFrame = {
    val lines = split(col(textCol), "\n")
    val filtered = c4FilterLines(col(textCol), minWords, banned)
    df.withColumn("c4_text", filtered)
      .withColumn("c4_total_lines", size(lines))
      .withColumn("c4_kept_lines",
        size(filter(lines, l => c4LineKeep(l, minWords, banned))))
      .withColumn("c4_kept_ratio",
        when(length(col(textCol)) === 0, 1.0)
          .otherwise(length(col("c4_text")).cast("double") /
            length(col(textCol)).cast("double")))
      .withColumn("c4_flag_lorem", contains(lower(col(textCol)), lit("lorem ipsum")))
      .withColumn("c4_flag_brace", contains(col(textCol), lit("{")))
      .withColumn("c4_flag_short",
        size(filter(split(col("c4_text"), "[.!?]"),
          s => length(trim(s)) > 0)) < minSentences)
  }

  /** Character k-gram shingles of a string column (positions 1-based,
    * `length - k + 1` shingles; empty array when the text is shorter
    * than `k`).
    */
  def charShingles(text: Column, k: Int): Column =
    when(length(text) >= k,
      transform(
        sequence(lit(1), length(text) - (k - 1)),
        i => text.substr(i, lit(k)),
      )).otherwise(array())

  /** Distinct character shingles (the set used for Jaccard similarity). */
  def charShingleSet(text: Column, k: Int): Column =
    array_distinct(charShingles(text, k))

  /** Word n-gram shingles (space-joined). The token array is bound once
    * as a lambda variable — inlining it into the per-shingle lambda would
    * re-split the text per position (O(tokens²)).
    */
  def wordShingles(text: Column, n: Int): Column =
    transform(array(tokens(text)), toks =>
      when(size(toks) >= n,
        transform(
          sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n))),
        )).otherwise(array())).getItem(0)

  /** PII classes scrubbed by [[piiColumns]], in priority order: each class
    * is counted and redacted on text where the EARLIER classes are already
    * replaced, so a digit run inside a URL is a `<URL>`, not an `<ID>`,
    * and an SSN is never double-counted as a phone number. Patterns stay
    * in the syntax subset Java regex and RE2-style engines agree on
    * (no lookarounds, no backrefs) so results are portable.
    */
  val PiiClasses: Seq[(String, String, String)] = Seq(
    ("email", raw"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("url", raw"https?://[^\s]+", "<URL>"),
    ("ipv4", raw"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("ssn", raw"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", raw"\b\d{3}[-.]\d{3}[-.]\d{4}\b|\b\d{3}[-.]\d{4}\b", "<PHONE>"),
    ("idnum", raw"\b\d{6,}\b", "<ID>"),
  )

  /** PII detection + redaction (the scrub step every training-data
    * pipeline runs before anything else): appends one `pii_<class>` count
    * per [[PiiClasses]] entry plus `pii_redacted`, the text with each
    * match replaced by its placeholder. Pure chained
    * `regexp_extract_all`/`regexp_replace` — codegen'd, per-row, no
    * shuffle; at 100 TB this is a map-only pass that fuses into whatever
    * scan feeds it.
    */
  def piiColumns(df: DataFrame, textCol: String): DataFrame = {
    val (out, redacted) = PiiClasses.foldLeft((df, col(textCol))) {
      case ((acc, text), (name, pattern, tag)) =>
        val counted = acc.withColumn(
          s"pii_$name", size(regexp_extract_all(text, lit(pattern), lit(0))))
        (counted, regexp_replace(text, pattern, tag))
    }
    out.withColumn("pii_redacted", redacted)
  }

  /** ASCII dedup-key normalization: lowercase, collapse every
    * non-alphanumeric run (punctuation, whitespace, unicode) to a single
    * space, trim. The canonical form exact dedup should key on so that
    * `"Hello,  World!"` and `"hello world"` collapse — raw-text exact
    * dedup misses most boilerplate duplicates in web corpora. Kept to an
    * ASCII character class so Java regex and RE2-style engines agree.
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(lower(text), "[^a-z0-9]+", " "))

  /** Per-document character Shannon entropy (bits) — gibberish / binary-
    * noise / repeated-filler quality signal. Native one-pass codegen
    * kernel ([[CharEntropyExpr]]): map-only, no explode/groupBy shuffle.
    * Null text stays null; empty text is 0.0.
    */
  def charEntropy(text: Column): Column =
    org.apache.spark.sql.GraftBridge.column(CharEntropyExpr(
      org.apache.spark.sql.GraftBridge.expression(text)))

  /** zlib compression ratio (compressed/raw bytes) — boilerplate ≲ 0.3,
    * natural prose ~0.3-0.6, random noise ≳ 0.9. Catches the long-range
    * repetition that [[charEntropy]]'s unigram view misses. Native
    * map-only kernel ([[CompressionRatioExpr]]), deterministic per level.
    */
  def compressionRatio(text: Column, level: Int = 6): Column =
    org.apache.spark.sql.GraftBridge.column(CompressionRatioExpr(
      org.apache.spark.sql.GraftBridge.expression(text), level))

  /** Fixed-size token windows with stride (context-window chunking): one
    * output row per (doc, window start) with the chunk index, its token
    * count (the last chunk may be short), and the space-rejoined chunk
    * text. The standard pre-training step that turns documents into
    * model-context-sized examples; `stride < window` yields overlapping
    * windows for long-range-context training.
    *
    * Plan shape at scale: tokenize once (bound as a column before the
    * explode, never re-split per window), explode the start sequence,
    * slice — a map-only row amplification with no shuffle; fuses into the
    * scan it reads from.
    */
  def chunkTokens(
      df: DataFrame,
      textCol: String,
      idCol: String,
      window: Int,
      stride: Int,
  ): DataFrame = {
    require(window > 0, s"window=$window")
    require(stride > 0, s"stride=$stride")
    df.select(col(idCol), tokens(col(textCol)).as("_toks"))
      .select(col(idCol), col("_toks"),
        explode(sequence(lit(0),
          floor((size(col("_toks")) - 1) / stride).cast("int")))
          .as("chunk_idx"))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        slice(col("_toks"), col("chunk_idx") * stride + 1, lit(window))
          .as("_chunk"))
      .select(col(idCol), col("chunk_idx"),
        size(col("_chunk")).cast("long").as("chunk_len"),
        array_join(col("_chunk"), " ").as("chunk_text"))
  }

  /** Concat-then-chunk sequence packing: assign every document the pack
    * (fixed `budget`-token training window) in which its first token
    * lands when documents are concatenated in id order. Documents are
    * first split into `numGroups` deterministic hash groups so the
    * running sum is a KEYED window — each group packs independently in
    * parallel (the global-concat order the single-threaded formulation
    * implies is an arbitrary convention; any fixed order works, and the
    * grouped one is the only shape that scales).
    *
    * Output per doc: `pack_group`, `n_tokens`, `pack_id` (which window in
    * the group's concat stream the doc starts in) and `pack_offset` (token
    * offset inside that window). Docs straddle pack boundaries exactly as
    * GPT-style concat-and-chunk packing does — no padding waste.
    *
    * Plan shape at scale: one shuffle on `pack_group` + a per-group sort;
    * size `numGroups` ≳ cluster parallelism so no reducer sees more than
    * ~1/numGroups of the corpus.
    */
  def packSequences(
      df: DataFrame,
      textCol: String,
      idCol: String,
      budget: Long,
      numGroups: Int,
      carryCols: Seq[String] = Nil,
      countTokens: Column => Column = tokenCount,
  ): DataFrame = {
    require(budget > 0, s"budget=$budget")
    require(numGroups > 0, s"numGroups=$numGroups")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("pack_group").orderBy(col(idCol))
    // carryCols ride the single window exchange so a downstream
    // materialization (e.g. TrainingExport) never joins the corpus back;
    // countTokens defaults to whitespace tokens — pass
    // `size(Bpe.bpeTokens(df, textCol, merges))`-style counters for
    // budget-true subword packing under a trained tokenizer
    df.select(col(idCol) +:
      pmod(portableTokenHash(col(idCol).cast("string")), lit(numGroups.toLong))
        .as("pack_group") +:
      countTokens(col(textCol)).cast("long").as("n_tokens") +:
      carryCols.map(col): _*)
      .withColumn("_start", sum(col("n_tokens")).over(w) - col("n_tokens"))
      // integral division (SQL DIV), not floor-of-double: a group's
      // running token sum can exceed 2^53 at the 100 TB design point,
      // where double division would mis-bucket
      .select(col(idCol) +: col("pack_group") +: col("n_tokens") +:
        expr(s"_start DIV CAST($budget AS BIGINT)").as("pack_id") +:
        (col("_start") % budget).as("pack_offset") +:
        carryCols.map(col): _*)
  }

}
