package graft.llmdata

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import LlmDataParams._

/** Text-analysis operators over a document corpus: quality scoring,
  * language-ID, token statistics, and document fingerprinting (builder
  * brief; no counterpart in the reference).
  *
  * All per-document work is a single projection of higher-order-
  * function expressions (codegen'd, no UDFs, no shuffle); the only
  * shuffles are the explicit corpus-level aggregations (token
  * frequency), which do map-side partial aggregation. Everything
  * scales linearly with the corpus and is embarrassingly partitioned.
  */
object TextAnalysis {

  /** Per-document quality metrics + composite score. Output columns:
    * doc_id, n_tokens, n_distinct, ttr, avg_token_len, stop_ratio,
    * quality (type-token ratio favors lexical diversity; stopword
    * ratio penalizes boilerplate; length term saturates at 50 tokens).
    * All counts come from [[TokenProfileExpression]] — one JIT'd byte
    * scan per document, value-identical to the split/distinct/
    * aggregate/filter spelling it replaces.
    */
  def qualityScore(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame =
    withQualityColumns(docs, textCol)
      .select(col(idCol), col("n_tokens"), col("n_distinct"), col("ttr"),
        col("avg_token_len"), col("stop_ratio"), col("quality"))

  /** The [[qualityScore]] columns ADDED to the input frame (input
    * columns kept) — the chainable spelling [[qualityEnsemble]] fuses
    * with the other scan-level signals into one projection.
    */
  private[llmdata] def withQualityColumns(docs: DataFrame,
                                          textCol: String): DataFrame =
    docs
      .withColumn("_tp",
        TokenProfileExpression.tokenProfile(col(textCol), stopwords, Nil))
      .withColumn("n_tokens", col("_tp").getItem(0))
      .withColumn("n_distinct", col("_tp").getItem(1))
      .withColumn("ttr", col("n_distinct") / col("n_tokens"))
      .withColumn("avg_token_len", col("_tp").getItem(2) / col("n_tokens"))
      .withColumn("stop_ratio", col("_tp").getItem(3) / col("n_tokens"))
      .withColumn("quality",
        lit(0.4) * col("ttr") + lit(0.3) * (lit(1.0) - col("stop_ratio"))
          + lit(0.3) * least(lit(1.0), col("n_tokens") / lit(50.0)))

  /** Gopher-style document quality RULES (Rae et al. 2021, App. A1.1)
    * as a composite rule filter — the rule-based sibling of the scored
    * [[qualityScore]]: each document gets a pass/fail flag per rule
    * plus the failure count and the keep verdict.
    *
    * Rules (paper defaults, exposed as parameters):
    *  1. word count in [minWords, maxWords]        (50 .. 100 000)
    *  2. mean word length in [minAvgLen, maxAvgLen] (3 .. 10 chars)
    *  3. symbol-to-word ratio ('#' chars + '...' runs) < 0.1
    *  4. fraction of bullet-led lines ('-', '*', '•') < 0.9
    *  5. fraction of '...'-terminated lines < 0.3
    *  6. fraction of words with an alphabetic char >= 0.8
    *  7. at least 2 DISTINCT stop words from the paper's 8-word list
    *
    * Every ratio test is spelled as an exact INTEGER cross-product
    * (e.g. `10 * n_symbols < n_words` instead of a float divide), so
    * flags hash-replay engine-identically — the same determinism rule
    * the rest of the catalog follows. All nine counters come from
    * [[GopherSignalsExpression]] — one JIT'd byte scan per document,
    * value-identical to the HOF spelling (two splits + aggregate +
    * three filters + replace-length deltas + array_intersect) it
    * replaces, parity-pinned in `TextAnalysisSpec`; no shuffle, no
    * UDF — scales as a bare projection. Output: (doc_id, n_words,
    * flags r1..r7 as 0/1 BIGINT, n_failed, keep).
    */
  def gopherRules(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text",
                  minWords: Int = 50, maxWords: Int = 100000,
                  minAvgLen: Int = 3, maxAvgLen: Int = 10): DataFrame = {
    val rules = Seq("r1_word_count", "r2_mean_word_len", "r3_symbol_ratio",
      "r4_bullet_lines", "r5_ellipsis_lines", "r6_alpha_words", "r7_stop_words")
    withGopherColumns(docs, textCol, minWords, maxWords, minAvgLen, maxAvgLen)
      .select((col(idCol) +: col("n_words") +: rules.map(col)) :+
        col("n_failed") :+ col("keep"): _*)
  }

  /** The [[gopherRules]] flags/verdict ADDED to the input frame (input
    * columns kept) — the chainable spelling for [[qualityEnsemble]].
    */
  private[llmdata] def withGopherColumns(docs: DataFrame, textCol: String,
                                         minWords: Int = 50,
                                         maxWords: Int = 100000,
                                         minAvgLen: Int = 3,
                                         maxAvgLen: Int = 10): DataFrame = {
    val flag = (c: org.apache.spark.sql.Column) => when(c, 1L).otherwise(0L)
    val out = docs
      .withColumn("_g", GopherSignalsExpression.signals(col(textCol), gopherStops))
      .withColumn("n_words", col("_g").getItem(0))
      .withColumn("__chars", col("_g").getItem(1))
      .withColumn("__alpha", col("_g").getItem(2))
      .withColumn("__hash", col("_g").getItem(3))
      .withColumn("__ell", col("_g").getItem(4))
      .withColumn("__nl", col("_g").getItem(5))
      .withColumn("__bul", col("_g").getItem(6))
      .withColumn("__elll", col("_g").getItem(7))
      .withColumn("__stop", col("_g").getItem(8))
      .withColumn("r1_word_count",
        flag(col("n_words") >= minWords && col("n_words") <= maxWords))
      .withColumn("r2_mean_word_len",
        flag(col("__chars") >= lit(minAvgLen) * col("n_words") &&
          col("__chars") <= lit(maxAvgLen) * col("n_words")))
      .withColumn("r3_symbol_ratio",
        flag((col("__hash") + col("__ell")) * 10 < col("n_words")))
      .withColumn("r4_bullet_lines", flag(col("__bul") * 10 < col("__nl") * 9))
      .withColumn("r5_ellipsis_lines", flag(col("__elll") * 10 < col("__nl") * 3))
      .withColumn("r6_alpha_words", flag(col("__alpha") * 5 >= col("n_words") * 4))
      .withColumn("r7_stop_words", flag(col("__stop") >= 2))
    val rules = Seq("r1_word_count", "r2_mean_word_len", "r3_symbol_ratio",
      "r4_bullet_lines", "r5_ellipsis_lines", "r6_alpha_words", "r7_stop_words")
    out
      .withColumn("n_failed",
        rules.map(r => lit(1L) - col(r)).reduce(_ + _))
      .withColumn("keep", flag(col("n_failed") === 0))
  }

  /** The Gopher stop list (Rae et al. 2021 A1.1: "the, be, to, of,
    * and, that, have, with").
    */
  val gopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Marker-token language-ID heuristic: per-language stopword-hit
    * scores + deterministic argmax (fixed precedence on ties, 'und'
    * when no marker hits). One [[TokenProfileExpression]] scan scores
    * every marker set at once. Output: doc_id, s_<lang>...,
    * predicted_lang.
    */
  def languageId(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    val langs = langMarkers.map(_._1)
    val scored = langs.zipWithIndex.foldLeft(
      docs.withColumn("_tp", TokenProfileExpression.tokenProfile(
        col(textCol), Nil, langMarkers.map(_._2)))) {
      case (df, (lang, i)) =>
        df.withColumn(s"s_$lang", col("_tp").getItem(4 + i))
    }
    val allZero = langs.map(l => s"s_$l = 0").mkString(" AND ")
    // first language whose score >= all later languages' scores wins
    val branches = langs.zipWithIndex.dropRight(1).map { case (l, i) =>
      val geRest = langs.drop(i + 1).map(r => s"s_$l >= s_$r").mkString(" AND ")
      s"WHEN $geRest THEN '$l'"
    }.mkString(" ")
    scored
      .withColumn("predicted_lang", expr(
        s"CASE WHEN $allZero THEN 'und' $branches ELSE '${langs.last}' END"))
      .select(col(idCol) +: langs.map(l => col(s"s_$l")) :+ col("predicted_lang"): _*)
  }

  /** Character-distribution entropy — the gibberish/encoding-junk
    * screen: natural prose sits in a characteristic per-char entropy
    * band, while base64 blobs, minified code, and repeated-char
    * padding fall far outside it (high and low respectively). Entropy
    * is `H = sum_c (c_i/n) ln(n/c_i)` in micro-nats per character,
    * with EVERY term `c_i * ln(n/c_i)` quantized to integer micros
    * before the sum (the surprisal/BM25 ln-on-rationals scheme), so
    * the result replays engine-identically and is order-free.
    *
    * 100 TB plan: one char explode into a map-side-combined
    * (doc, char) aggregate — bounded by |docs| x |alphabet| — then a
    * doc-keyed rollup; no join, no window. Output: (doc_id, n_chars,
    * n_distinct_chars, entropy_micro).
    */
  def charEntropy(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val counts = docs
      .select(col(idCol), explode(split(col(textCol), "")).as("__ch"))
      .filter(col("__ch") =!= "")
      .groupBy(col(idCol), col("__ch"))
      .agg(count(lit(1)).as("__c"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(idCol)
    counts
      .withColumn("__n", sum("__c").over(w))
      .withColumn("__t", expr(
        "cast(floor(__c * ln(cast(__n as double) / __c) * 1000000 + 0.5) " +
          "as bigint)"))
      .groupBy(col(idCol))
      .agg(max("__n").as("n_chars"),
        count(lit(1)).as("n_distinct_chars"),
        sum("__t").as("__h"))
      .withColumn("entropy_micro", expr("__h div n_chars"))
      .select(col(idCol), col("n_chars"), col("n_distinct_chars"),
        col("entropy_micro"))
  }

  /** Per-LINE language mix report — the curation signal [[languageId]]
    * cannot see: a document whose lines alternate languages (scraped
    * boilerplate chrome around content, parallel-corpus pages, code
    * with prose comments) gets one confident whole-doc label while
    * being exactly what a monolingual training mix must not ingest.
    * Each line runs the same marker-token scorer; the per-doc rollup
    * reports the dominant line language (most lines, ties to the
    * lexicographically smallest label), how many lines it covers, the
    * count of distinct non-'und' line languages, and the mixed flag
    * (>= 2 of them).
    *
    * 100 TB plan: the line explode is shuffle-free; the scorer is the
    * same single-scan kernel; the rollup is one doc-keyed aggregate +
    * one doc-keyed rank window over the (doc, lang)-count frame —
    * bounded by |langs| rows per document. Output: (doc_id, n_lines,
    * n_langs, dominant_lang, dominant_lines, mixed).
    */
  def languageMix(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val lines = docs
      .select(col(idCol), explode(split(col(textCol), "\n")).as("__line"))
    val perLine = languageId(lines, idCol, "__line")
      .select(col(idCol), col("predicted_lang"))
    val counts = perLine.groupBy(col(idCol), col("predicted_lang"))
      .agg(count(lit(1)).as("__n"))
    val rank = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol)
      .orderBy(col("__n").desc, col("predicted_lang").asc)
    counts
      .withColumn("__rk", row_number().over(rank))
      .groupBy(col(idCol))
      .agg(sum("__n").as("n_lines"),
        sum(when(col("predicted_lang") =!= "und", 1L).otherwise(0L))
          .as("n_langs"),
        max(when(col("__rk") === 1, col("predicted_lang")))
          .as("dominant_lang"),
        max(when(col("__rk") === 1, col("__n"))).as("dominant_lines"))
      .withColumn("mixed", col("n_langs") >= 2L)
  }

  /** Rolling-hash document fingerprint: char `fingerprintGram`-gram
    * md5s sampled at `fingerprintStride` offsets (the winnowing
    * stride — overlapping grams at every offset add cost, not recall),
    * sorted distinct, the `fingerprintK` smallest digested into one id
    * (a min-k sketch; robust to reordering at the gram level, cheap to
    * compare). Output: doc_id, n_grams, fingerprint.
    */
  def fingerprint(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val g = fingerprintGram
    val st = fingerprintStride
    docs
      // sampled offsets 1, 1+st, ... <= len-g+1: arithmetic count, no
      // gram array — `sequence(1, len - (g-1), st)` has
      // floor((len-g)/st) + 1 elements whenever len >= g
      .withColumn("n_grams",
        when(length(col(textCol)) >= g,
          floor((length(col(textCol)) - g) / st) + 1).otherwise(0).cast("long"))
      // one JIT'd min-k pass instead of transform/md5/distinct/sort
      // HOFs — byte-identical output (see MinKGramHashExpression)
      .withColumn("fingerprint",
        MinKGramHashExpression.fingerprint(col(textCol), g, st, fingerprintK))
      .select(col(idCol), col("n_grams"), col("fingerprint"))
  }

  /** The composed curation pass a training-data pipeline runs over a
    * raw corpus: quality metrics + language-ID + near-dup cluster
    * roots, then one filter keeping high-quality, language-matched,
    * cluster-root documents. Each input is a single scan; the joins
    * are on the doc id (broadcast-sized mapping for the cluster
    * roots). Output: surviving (doc_id, predicted_lang, quality).
    */
  def curate(docs: DataFrame, minQuality: Double, langs: Seq[String],
             idCol: String = "doc_id"): DataFrame = {
    // quality + language-ID fused over ONE kernel scan (a single
    // projection pass — see TokenProfileExpression); only the cluster
    // roots need a second input (the LSH pipeline), joined on the id
    val langNames = langMarkers.map(_._1)
    val scored = langNames.zipWithIndex.foldLeft(
      docs
        .withColumn("_tp", TokenProfileExpression.tokenProfile(
          col("text"), stopwords, langMarkers.map(_._2)))
        .withColumn("__nt", col("_tp").getItem(0))
        .withColumn("__nd", col("_tp").getItem(1))
        .withColumn("__ns", col("_tp").getItem(3))) {
      case (df, (lang, i)) =>
        df.withColumn(s"__s_$lang", col("_tp").getItem(4 + i))
    }
    val allZero = langNames.map(l => s"__s_$l = 0").mkString(" AND ")
    val branches = langNames.zipWithIndex.dropRight(1).map { case (l, i) =>
      val geRest = langNames.drop(i + 1).map(r => s"__s_$l >= __s_$r").mkString(" AND ")
      s"WHEN $geRest THEN '$l'"
    }.mkString(" ")
    val metrics = scored
      .withColumn("quality",
        lit(0.4) * (col("__nd") / col("__nt"))
          + lit(0.3) * (lit(1.0) - col("__ns") / col("__nt"))
          + lit(0.3) * least(lit(1.0), col("__nt") / lit(50.0)))
      .withColumn("predicted_lang", expr(
        s"CASE WHEN $allZero THEN 'und' $branches ELSE '${langNames.last}' END"))
    val roots = Dedup.nearDupClusters(docs, idCol)
    metrics.join(roots, idCol)
      .filter(col("quality") >= minQuality)
      .filter(col("predicted_lang").isin(langs: _*))
      .filter(col(idCol) === col("root_id")) // near-dup losers drop
      .select(col(idCol), col("predicted_lang"), col("quality"))
  }

  /** Gopher-style repetition signals (Rae et al. 2021, §A1.1): the
    * duplicate-word fraction and the token coverage of the single most
    * frequent word 2-/3-gram, plus the composite flag a curation pass
    * filters on. One projection per document — the per-doc top-gram
    * count sorts the gram array and folds the longest equal run, so it
    * is O(n log n) per row (never the O(distinct x grams) all-pairs
    * scan, which is a per-row compute bomb on a pathological long
    * document that no partitioning can split). Never a shuffle, so
    * the operator stays embarrassingly partitioned at corpus scale.
    * Output: doc_id, n_tokens, dup_word_frac, top_2gram_frac,
    * top_3gram_frac, rep_flagged.
    */
  def repetitionSignals(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    docs
      .withColumn("__w", split(col(textCol), " "))
      .withColumn("n_tokens", size(col("__w")).cast("long"))
      .withColumn("dup_word_frac",
        lit(1.0) - size(array_distinct(col("__w"))) * lit(1.0) / col("n_tokens"))
      // one hash-count pass per gram width instead of the interpreted
      // array_sort + run-length aggregate — max frequency == longest
      // sorted run, value-identical (see MaxGramFreqExpression)
      .withColumn("top_2gram_frac",
        MaxGramFreqExpression.maxFreq(col("__w"), 2) * lit(2.0) / col("n_tokens"))
      .withColumn("top_3gram_frac",
        MaxGramFreqExpression.maxFreq(col("__w"), 3) * lit(3.0) / col("n_tokens"))
      .withColumn("rep_flagged",
        col("dup_word_frac") > repDupWordMax || col("top_2gram_frac") > repTop2GramMax)
      .select(col(idCol), col("n_tokens"), col("dup_word_frac"),
        col("top_2gram_frac"), col("top_3gram_frac"), col("rep_flagged"))
  }

  /** PII scrub: count and redact email / phone matches
    * ([[LlmDataParams.emailPattern]] / [[LlmDataParams.phonePattern]] —
    * engine-portable, backslash-free spellings). One JIT'd byte scan
    * per document ([[PiiScanExpression]], no regex engine, no match
    * arrays, no shuffle), value-identical to the 4-regex-pass
    * spelling it replaces. Output: doc_id, n_emails, n_phones,
    * redacted.
    */
  def redactPii(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame =
    docs
      .withColumn("_pii", PiiScanExpression.piiScan(col(textCol)))
      .select(col(idCol),
        col("_pii.n_emails").as("n_emails"),
        col("_pii.n_phones").as("n_phones"),
        col("_pii.redacted").as("redacted"))

  /** Per-source PII DENSITY rollup — the governance table over
    * [[redactPii]]'s doc-grain counts: which sources leak contact
    * data, at what rate, and how concentrated it is (a source where
    * 2% of docs carry 90% of the emails is a scrape of a contact
    * directory; a uniform trickle is boilerplate footers). Rates are
    * exact integers: `pii_per_mtoken = (emails+phones)·1e6 div
    * tokens` — matches per MILLION tokens, the unit PII audits quote.
    *
    * 100 TB plan: the scan kernel runs once per doc (no regex
    * engine), the rollup is one source-grain map-side-combined
    * aggregate. Output: (source, n_docs, n_docs_with_pii, n_emails,
    * n_phones, n_tokens, pii_per_mtoken).
    */
  def piiDensity(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text",
                 sourceCol: String = "source"): DataFrame = {
    val p = redactPii(docs, idCol, textCol)
      .select(col(idCol), col("n_emails"), col("n_phones"))
    docs
      .select(col(idCol), col(sourceCol),
        size(split(col(textCol), " ")).cast("long").as("__t"))
      .join(p, idCol)
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_emails") + col("n_phones") > 0L, 1L).otherwise(0L))
          .as("n_docs_with_pii"),
        sum("n_emails").as("n_emails"),
        sum("n_phones").as("n_phones"),
        sum("__t").as("n_tokens"))
      .withColumn("pii_per_mtoken", expr(
        "(n_emails + n_phones) * 1000000 div greatest(n_tokens, 1)"))
  }

  /** Token counting under two tokenizers: whitespace split and a
    * BPE-ish regex (letter runs / digit runs / single punctuation —
    * the pre-tokenization shape BPE vocabularies segment further).
    * Character classes only, so Java and RE2 regex semantics agree;
    * both counts come from [[TokenStatsExpression]], one JIT'd byte
    * scan per document instead of regex match materialization.
    * Output: doc_id, n_ws_tokens, n_bpe_tokens, tokens_per_100_chars.
    */
  val bpePattern = "[a-z]+|[0-9]+|[^a-z0-9 ]"

  def tokenCounts(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame =
    docs
      .withColumn("_tc", TokenStatsExpression.tokenStats(col(textCol)))
      .withColumn("n_ws_tokens", col("_tc").getItem(0))
      .withColumn("n_bpe_tokens", col("_tc").getItem(1))
      .withColumn("tokens_per_100_chars",
        col("n_bpe_tokens") * lit(100.0) / length(col(textCol)))
      .select(col(idCol), col("n_ws_tokens"), col("n_bpe_tokens"),
        col("tokens_per_100_chars"))

  /** Corpus token frequency (the distributed wordcount shape:
    * explode -> hash-agg with map-side combine -> global top-n).
    * Output: (token, cnt), top `n` by count desc then token.
    */
  def tokenFrequency(docs: DataFrame, textCol: String = "text",
                     n: Int = 50): DataFrame =
    docs.select(explode(split(col(textCol), " ")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token"))
      .limit(n)

  /** Tokenizer-vocabulary coverage audit: build the top-`vocabSize`
    * corpus vocabulary (count desc, token tie-break — deterministic),
    * then report per document its token count, out-of-vocabulary token
    * count, and OOV rate. The vocabulary is tiny by construction, so
    * the per-doc pass is one explode + broadcast join + re-agg; the
    * corpus shuffles only for the wordcount. Output: (doc_id,
    * n_tokens, n_oov, oov_rate).
    */
  def vocabCoverage(docs: DataFrame, vocabSize: Int, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val vocab = tokenFrequency(docs, textCol, vocabSize)
      .select(col("token"), lit(1).as("__inv"))
    docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("token"))
      .join(broadcast(vocab), Seq("token"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("__inv").isNull.cast("long")).as("n_oov"))
      .withColumn("oov_rate", col("n_oov").cast("double") / col("n_tokens"))
  }

  /** Per-stratum corpus summary: doc/token counts, char-length
    * min/max, and EXACT p50/p95 char lengths picked by deterministic
    * rank (`rn == ceil(p * n)` under `(n_chars, doc_id)` order) — an
    * element of the data, engine-independent, unlike interpolating
    * percentile variants whose tie handling differs across engines.
    * One window pass + one aggregate, both on the stratum key, so the
    * stratum shuffle happens once and the quantile pick needs no
    * second sort.
    */
  def corpusStats(docs: DataFrame, stratumCol: String = "lang",
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(stratumCol).orderBy(col("n_chars"), col(idCol))
    val cw = org.apache.spark.sql.expressions.Window.partitionBy(stratumCol)
    // derive n_chars from the text when the caller's table doesn't
    // carry one, so the operator only requires (id, stratum, text)
    // like the rest of this file
    val withChars =
      if (docs.columns.contains("n_chars")) docs
      else docs.withColumn("n_chars", length(col(textCol)).cast("long"))
    withChars
      .select(col(idCol), col(stratumCol), col("n_chars"),
        size(split(col(textCol), " ")).cast("long").as("n_tokens"))
      .withColumn("__rn", row_number().over(w).cast("long"))
      .withColumn("__n", count(lit(1)).over(cw))
      .groupBy(stratumCol)
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        min("n_chars").as("min_chars"),
        max("n_chars").as("max_chars"),
        max(when(col("__rn") === ceil(col("__n") * 0.5), col("n_chars"))).as("p50_chars"),
        max(when(col("__rn") === ceil(col("__n") * 0.95), col("n_chars"))).as("p95_chars"))
  }

  /** Per-document top-`k` TF-IDF terms (keyword extraction / topic
    * signals for corpus audits): `tfidf = tf * ln(n_docs / df)`.
    *
    * Engine parity: JVM `Math.log` and DuckDB `ln` are bit-identical
    * on these rationals (verified empirically over the count domain),
    * and `tf * ln(...)` multiplies exactly-equal doubles, so ranking
    * and (r6-rounded) scores replay exactly; score ties break on the
    * term itself.
    *
    * 100 TB plan: the token explode is map-side; `tf` is one
    * map-side-combined (doc, term) shuffle; `df` re-aggregates the tf
    * frame on the term key (vocabulary-sized output); `n_docs` is a
    * one-row broadcast; the final per-doc rank window is pruned to k
    * rows per doc by WindowGroupLimit below the exchange. No step
    * materializes more than the (doc, term) pair frame, which is the
    * operator's own output domain.
    */
  def tfidfTopTerms(docs: DataFrame, k: Int, idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("tfidf").desc, col("term"))
    val tokens = docs.select(col(idCol), explode(split(col(textCol), " ")).as("term"))
    val tf = tokens.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(countDistinct(col(idCol)).as("n_docs"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        col("tf").cast("double") * log(col("n_docs").cast("double") / col("df").cast("double")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"), col("rnk"), col("tfidf"))
  }

  /** The winnowing selection itself: (id, n_grams, __sel) where
    * `__sel` is the sorted distinct window-minima set. Shared by the
    * digest projection ([[winnowFingerprint]]) and the candidate join
    * ([[winnowCandidates]]). The hash/minima kernel is a codegen'd
    * Catalyst expression ([[WinnowSelectExpression]]) — the former
    * nested-HOF spelling evaluated interpreted and measured ~2.5x its
    * family's peers at sf0.1 (VERDICT r8 §next-2); values are
    * bit-identical, so the DuckDB oracles are unchanged.
    */
  def winnowSelected(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text", gram: Int = 3,
                     window: Int = 4): DataFrame =
    docs
      .withColumn("__w", split(col(textCol), " "))
      .withColumn("__sel", WinnowSelectExpression.select(col("__w"), gram, window))
      .withColumn("n_grams",
        when(size(col("__w")) >= gram,
          (size(col("__w")) - (gram - 1)).cast("long")).otherwise(lit(0L)))

  /** Winnowing fingerprints (Schleimer et al. 2003, the MOSS scheme)
    * over word `gram`-shingles: hash every shingle (16-bit md5-prefix,
    * the portable positional decode), slide a `window`-hash window and
    * keep each window's MINIMUM hash value; the distinct selected
    * values are the document's local fingerprints. Winnowing
    * guarantees any shared run of >= gram + window - 1 consecutive
    * tokens contributes at least one common fingerprint —
    * position-robust passage-level matching, where [[fingerprint]]'s
    * global min-k sketch only answers whole-document similarity.
    * Density is bounded: ~2/(window+1) of shingles get selected
    * regardless of content. (Word shingles, not char grams: one hash
    * per token keeps per-row cost linear in tokens with a small
    * constant — the char-offset spelling was 7x the hashes for the
    * same matching granularity class.)
    *
    * 100 TB plan: a single shuffle-free projection (arrays + HOF
    * folds, no UDF, no explode); the downstream join on fingerprint
    * values is the same band-bucket equi-join shape as MinHash LSH.
    * A document shorter than one window keeps its global minimum (one
    * fingerprint), so every non-empty doc is joinable. Output:
    * (doc_id, n_grams, n_selected, winnow_digest).
    */
  def winnowFingerprint(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text", gram: Int = 3,
                        window: Int = 4): DataFrame =
    winnowSelected(docs, idCol, textCol, gram, window)
      .withColumn("n_selected",
        when(col("n_grams") === 0, lit(0L)).otherwise(size(col("__sel")).cast("long")))
      .withColumn("winnow_digest",
        when(col("n_grams") === 0, lit(null).cast("string"))
          .otherwise(expr(
            "md5(array_join(transform(__sel, x -> cast(x as string)), ','))")))
      .select(col(idCol), col("n_grams"), col("n_selected"), col("winnow_digest"))

  /** Near-dup candidate pairs from shared winnowing fingerprints: the
    * downstream half of [[winnowFingerprint]] — explode the selected
    * sets, equi-self-join on the fingerprint VALUE, keep pairs sharing
    * at least `minShared` fingerprints. The MOSS matching step as a
    * relational plan.
    *
    * 100 TB plan: the only join is fingerprint-keyed (the MinHash
    * band-bucket shape — pair cost is per-fingerprint-bucket, never
    * n^2), with map-side-combined pair counting after it. A
    * boilerplate fingerprint shared by everything is the LSH
    * hot-bucket problem: values held by more than `maxBucket` docs are
    * dropped from pairing (Gopher-style boilerplate exclusion — at 16
    * bits chance collisions also pool, so production widens the hash;
    * the cap keeps the worst bucket's fan-out bounded either way).
    * Output: (doc_a, doc_b, n_shared).
    */
  def winnowCandidates(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text", minShared: Int = 2,
                       maxBucket: Int = 1000, gram: Int = 3,
                       window: Int = 4): DataFrame = {
    // Materialize (id, selected-set) ONCE, ABOVE the explode: the
    // selection chain feeds three consumers (bucket stats + both
    // self-join sides), and evaluated underneath the Generate it also
    // drops out of whole-stage codegen — together a measured ~40x
    // cliff at sf0.1 (80s vs the 2s the same selection costs in the
    // digest query's plain Project). Checkpointing the pre-explode
    // frame keeps the selection in the codegen'd Project shape and
    // leaves only a trivial explode lineage to re-run. Swap for
    // reliable checkpoint/a staging table on a real cluster;
    // eager-execution contract as in selectByTokenBudget.
    // Small-input guard: a sub-row-group corpus file scans as ONE
    // partition, serializing the compute-bound selection; spread it
    // across the cluster first. At scale the scan is already
    // many-split (>= parallelism) and this is a no-op — never a
    // corpus-wide shuffle. Shares Dedup.spread but with the volume
    // gate off (minBytes = 0): the winnow selection is compute-bound
    // enough per byte that spreading pays even at sub-MiB corpora —
    // the r8/r9 benches measured the guard as a win at sf0.1, unlike
    // the dedup sketch/passage sites. The shared probe still avoids a
    // second physical-plan conversion.
    val input = Dedup.spread(docs, minBytes = 0L)
    val sel = winnowSelected(input, idCol, textCol, gram, window)
      .filter(col("n_grams") > 0)
      .select(col(idCol), col("__sel"))
      .localCheckpoint(true)
    sharedFingerprints(sel.select(col(idCol), explode(col("__sel")).as("fp")),
      idCol, maxBucket, minShared)
  }

  /** The winnow operators' candidate step over `(idCol, fp)` rows: the
    * fingerprint-keyed self-join, with every fingerprint held by more
    * than `maxBucket` rows capped out of pairing, keeping the pairs
    * that share at least `minShared`. Output: (doc_a, doc_b, n_shared).
    */
  private def sharedFingerprints(f: DataFrame, idCol: String,
                                 maxBucket: Int, minShared: Int): DataFrame = {
    val stats = f.groupBy("fp").agg(count(lit(1)).as("__n"))
    val fk = f.join(stats, "fp").filter(col("__n") <= maxBucket)
    fk.select(col("fp"), col(idCol).as("doc_a"))
      .join(fk.select(col("fp"), col(idCol).as("doc_b")), "fp")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Fingerprint CONTAINMENT — the asymmetric sibling of
    * [[winnowCandidates]], for the case symmetric Jaccard misses: a
    * short document quoted wholesale inside a long one (aggregators,
    * quote-reply chains, boilerplate wrappers) shares nearly ALL of
    * its own fingerprints while the long side shares few of its. Per
    * candidate pair: the DISTINCT shared fingerprint count and each
    * side's containment fraction `shared * 1e6 div n_fp_side` in
    * exact integer micro-units — `containment_a` near 1e6 reads "doc
    * a is (winnow-approximately) inside doc b".
    *
    * Same 100 TB plan as the candidate step (fingerprint-keyed
    * self-join, hot values over `maxBucket` capped out of pairing on
    * both sides identically); sets are deduplicated BEFORE the
    * explode so `count(*)` after the join IS the distinct shared
    * count. SCALING CONTRACT (the finding-2 / exact-LSH class,
    * measured on the Zipf-reuse fixture): candidate enumeration costs
    * the sum of per-fingerprint occupancy SQUARED, and on a
    * boilerplate-heavy corpus occupancies grow with corpus size — 10x
    * documents measured 7x output pairs but ~15x runtime at the
    * default knobs. The knobs ARE the scale path: production lowers
    * `maxBucket` (per-bucket cost is capped at maxBucket²) and raises
    * `minShared` as the corpus grows, exactly as LSH scales bits with
    * n — the catalog oracles a tightened variant next to the default
    * one. The cap caveat is inherited and one-sided: capped
    * boilerplate values drop out of `n_shared` but stay in each
    * side's `n_fp`, so containment UNDER-estimates on
    * boilerplate-heavy documents — both engines replay the same cap,
    * and an audit wanting exact containment on a flagged pair
    * re-checks with the exact n-gram Jaccard operator. Output:
    * (doc_a, doc_b, n_shared, n_fp_a, n_fp_b, containment_a_micro,
    * containment_b_micro).
    */
  def winnowContainment(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text", minShared: Int = 2,
                        maxBucket: Int = 1000, gram: Int = 3,
                        window: Int = 4): DataFrame = {
    val input = Dedup.spread(docs, minBytes = 0L)
    // same pre-explode materialization rationale as winnowCandidates
    val sel = winnowSelected(input, idCol, textCol, gram, window)
      .filter(col("n_grams") > 0)
      .select(col(idCol), array_distinct(col("__sel")).as("__set"))
      .localCheckpoint(true)
    val sizes = sel.select(col(idCol),
      size(col("__set")).cast("long").as("n_fp"))
    sharedFingerprints(sel.select(col(idCol), explode(col("__set")).as("fp")),
        idCol, maxBucket, minShared)
      .join(sizes.select(col(idCol).as("doc_a"), col("n_fp").as("n_fp_a")), "doc_a")
      .join(sizes.select(col(idCol).as("doc_b"), col("n_fp").as("n_fp_b")), "doc_b")
      .withColumn("containment_a_micro", expr("n_shared * 1000000 div n_fp_a"))
      .withColumn("containment_b_micro", expr("n_shared * 1000000 div n_fp_b"))
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("n_fp_a"),
        col("n_fp_b"), col("containment_a_micro"), col("containment_b_micro"))
  }

  /** Hashed bag-of-n-grams linear classifier (the fastText shape,
    * Joulin et al. 2016): features are unigrams + word bigrams, hashed
    * into 16-bit buckets (first 4 hex chars of md5 — the same portable
    * positional decode the SimHash oracle uses), each bucket carrying
    * a weight from a fixed table; the document score is the weight
    * sum and `keep` its sign. Weights here are derived from the bucket
    * id (`bucket % mod - shift`, zero-centered) so the oracle replays
    * them; a production model broadcasts its learned weight array into
    * the same expression — constants change, the plan doesn't.
    *
    * 100 TB plan: a single projection — tokenize, hash, fold — with no
    * shuffle, no UDF, and no per-doc state; the score arithmetic is
    * exact BIGINT, so the filter decision is engine- and
    * partition-independent. This is the shape of every cheap learned
    * quality/toxicity/language filter in a pretraining pipeline.
    * Output: (doc_id, n_feats, score, keep, avg_weight).
    */
  def hashClassifier(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text", mod: Int = 21,
                     shift: Int = 10): DataFrame =
    withClassifierColumns(docs, textCol, mod, shift)
      .select(col(idCol), col("n_feats"), col("score"), col("keep"), col("avg_weight"))

  /** The [[hashClassifier]] columns ADDED to the input frame (input
    * columns kept) — the chainable spelling for [[qualityEnsemble]].
    */
  private[llmdata] def withClassifierColumns(docs: DataFrame, textCol: String,
                                             mod: Int = 21,
                                             shift: Int = 10): DataFrame =
    docs
      .withColumn("__w", split(col(textCol), " "))
      // tokens + adjacent bigrams: 2n-1 features for n >= 1 tokens
      .withColumn("n_feats",
        when(size(col("__w")) >= 2, size(col("__w")) * 2 - 1)
          .otherwise(size(col("__w"))).cast("long"))
      // one JIT'd kernel instead of the three-lambda interpreted HOF
      // chain — value-identical sums (see HashedNgramScoreExpression)
      .withColumn("score",
        HashedNgramScoreExpression.score(col("__w"), mod, shift))
      .withColumn("keep", col("score") >= 0)
      .withColumn("avg_weight", col("score").cast("double") / col("n_feats"))

  /** Per-source corpus health report — the daily operational query of
    * a pretraining pipeline: for every ingestion source, document and
    * token counts, the exact-duplicate fraction (by content digest),
    * mean document length, and the language-mix entropy. Entropy
    * terms `p*ln(p)` are quantized to integer micro-nats PER
    * (source, language) cell, so the per-source sum is exact BIGINT —
    * order- and partition-free — with only fixed-order divisions
    * producing the reported doubles.
    *
    * 100 TB plan: two keyed aggregations (per-source, per-
    * source-language), both map-side combined, output rows = number
    * of sources; the digest-distinct count shuffles digests once. No
    * windows, no joins against the corpus — the (sources x langs)
    * entropy frame is tiny and broadcast-joins back to the per-source
    * frame. Output: (source, n_docs, n_tokens, n_distinct_texts,
    * dup_frac, mean_chars, entropy_unats, lang_entropy).
    */
  def sourceReport(docs: DataFrame, sourceCol: String = "source",
                   langCol: String = "lang",
                   textCol: String = "text"): DataFrame = {
    val perSource = docs.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col(textCol), " ")).cast("long")).as("n_tokens"),
        countDistinct(md5(col(textCol))).as("n_distinct_texts"),
        sum(length(col(textCol)).cast("long")).as("__chars"))
    val langTerms = docs.groupBy(col(sourceCol), col(langCol))
      .agg(count(lit(1)).as("__c"))
      .join(perSource.select(col(sourceCol), col("n_docs")), sourceCol)
      .withColumn("__p", col("__c").cast("double") / col("n_docs").cast("double"))
      .withColumn("__t",
        floor(col("__p") * log(col("__p")) * lit(1000000.0) + lit(0.5)).cast("long"))
      .groupBy(col(sourceCol))
      .agg((-sum(col("__t"))).as("entropy_unats"))
    perSource.join(langTerms, sourceCol)
      .withColumn("dup_frac",
        (col("n_docs") - col("n_distinct_texts")).cast("double") / col("n_docs"))
      .withColumn("mean_chars", col("__chars").cast("double") / col("n_docs"))
      .withColumn("lang_entropy",
        col("entropy_unats").cast("double") / lit(1000000.0))
      .select(col(sourceCol), col("n_docs"), col("n_tokens"),
        col("n_distinct_texts"), col("dup_frac"), col("mean_chars"),
        col("entropy_unats"), col("lang_entropy"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.3): rank
    * documents WITHIN their language by unigram-LM surprisal per token
    * and split each language into head / middle / tail thirds (head =
    * lowest surprisal = most fluent; CCNet trains on head+middle and
    * drops tail). The sort key is `surprisal_unats * 1000 div
    * n_tokens` — an exact BIGINT floor-division (milli-micro-nats per
    * token), so ordering, ranks, and bucket labels replay
    * engine-identically; rank thirds are pure integer arithmetic
    * (`(rnk-1)*3 div n_lang`), never a float quantile.
    *
    * 100 TB plan: the surprisal pass (one explode + vocab shuffle +
    * lookup join) feeds ONE window partitioned by language. A dominant
    * language makes that partition hot, and 4.4x at the 10x rehearsal
    * was the worst non-contract ratio in the r11 sweep — so ABOVE
    * ~10M docs per language the documented default is
    * [[surprisalBucketsSampled]] (sampled exact thresholds, cataloged
    * and hash-checked as `text_surprisal_buckets_scaled`), with
    * [[surprisalBucketsApprox]] the sketch alternative when a
    * non-deterministic rank error is acceptable. The bucket CONTRACT
    * (thirds by munats) is shared by all three. Output:
    * (doc_id, lang, munats_per_token, rnk, n_lang, bucket).
    */
  def surprisalBuckets(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text",
                       langCol: String = "lang"): DataFrame = {
    val s = unigramSurprisal(docs, idCol, textCol)
      .select(col(idCol), col("n_tokens"), col("surprisal_unats"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(langCol)
    docs.select(col(idCol), col(langCol))
      .join(s, idCol)
      .withColumn("munats_per_token",
        expr("surprisal_unats * 1000 div n_tokens"))
      .withColumn("rnk", row_number().over(
        w.orderBy(col("munats_per_token"), col(idCol))))
      .withColumn("n_lang", count(lit(1)).over(w))
      .withColumn("bucket", expr(
        "element_at(array('head', 'middle', 'tail'), cast((rnk - 1) * 3 div n_lang as int) + 1)"))
      .select(col(idCol), col(langCol), col("munats_per_token"), col("rnk"),
        col("n_lang"), col("bucket"))
  }

  /** The hot-language scale spelling of [[surprisalBuckets]] (VERDICT
    * r10 §next-8): per-language bucket thresholds from a
    * `percentile_approx` sketch — a map-side-combinable aggregate, so
    * the plan is two scans plus one tiny per-language threshold frame
    * broadcast back, with NO per-language sort window. A dominant
    * language costs only its share of the sketch merge instead of one
    * hot sorted partition.
    *
    * Same bucket CONTRACT (thirds by `munats_per_token`, head = most
    * fluent); labels may differ from the exact window near the two
    * thresholds by the sketch's rank error (bounded by 1/accuracy) and
    * by ties sitting ON a threshold — always to an ADJACENT bucket,
    * never head<->tail, which `TextAnalysisSpec` asserts along with an
    * agreement floor. The exact spelling stays the oracle. Output:
    * (doc_id, lang, munats_per_token, bucket).
    */
  def surprisalBucketsApprox(docs: DataFrame, idCol: String = "doc_id",
                             textCol: String = "text",
                             langCol: String = "lang",
                             accuracy: Int = 10000): DataFrame = {
    val s = unigramSurprisal(docs, idCol, textCol)
      .select(col(idCol), col("n_tokens"), col("surprisal_unats"))
    val keyed = docs.select(col(idCol), col(langCol))
      .join(s, idCol)
      .withColumn("munats_per_token",
        expr("surprisal_unats * 1000 div n_tokens"))
    val thresholds = keyed.groupBy(langCol)
      .agg(percentile_approx(col("munats_per_token"),
        array(lit(1.0 / 3), lit(2.0 / 3)), lit(accuracy)).as("__t"))
    keyed.join(broadcast(thresholds), langCol)
      .withColumn("bucket",
        when(col("munats_per_token") <= col("__t").getItem(0), lit("head"))
          .when(col("munats_per_token") <= col("__t").getItem(1), lit("middle"))
          .otherwise(lit("tail")))
      .select(col(idCol), col(langCol), col("munats_per_token"), col("bucket"))
  }

  /** The DETERMINISTIC scale spelling of [[surprisalBuckets]], and the
    * documented default above ~10M docs per language: per-language
    * bucket thresholds come from an exact rank over the `doc_id % mod
    * == 0` SAMPLE, broadcast back — so the only sort window runs over
    * 1/mod of the corpus (raise `mod` until the hot language's sample
    * fits one comfortable partition) and every other stage is a scan
    * or a map-side-combinable aggregate.
    *
    * Unlike [[surprisalBucketsApprox]] (sketch-based, rank error
    * bounded but engine-specific), every step here is exact integer /
    * modulus arithmetic, so the output replays engine-identically and
    * is hash-checked against the DuckDB oracle like the exact window.
    * Divergence from the exact thirds is the sampling error of the
    * threshold VALUES — documents land in an ADJACENT bucket near a
    * threshold, never head<->tail (thresholds are ordered), which the
    * spec asserts along with an agreement floor vs the exact window.
    * Threshold ranks are `ceil(k*ns/3)` in floor-div spelling; a
    * language with no sampled docs buckets everything 'head' (the
    * keep-everything default — never drop data on a missing sample).
    * Output: (doc_id, lang, munats_per_token, bucket).
    */
  def surprisalBucketsSampled(docs: DataFrame, idCol: String = "doc_id",
                              textCol: String = "text",
                              langCol: String = "lang",
                              mod: Int = 4): DataFrame = {
    val s = unigramSurprisal(docs, idCol, textCol)
      .select(col(idCol), col("n_tokens"), col("surprisal_unats"))
    val keyed = docs.select(col(idCol), col(langCol))
      .join(s, idCol)
      .withColumn("munats_per_token",
        expr("surprisal_unats * 1000 div n_tokens"))
      .select(col(idCol), col(langCol), col("munats_per_token"))
      // consumed TWICE (threshold pass + assignment pass): without
      // this persist the whole surprisal pipeline — token explode,
      // vocab shuffle, lookup join — runs twice and eats the window
      // saving (measured: unpersisted sampled == exact at the 10x
      // rehearsal; persisted it beats it). Three narrow columns per
      // doc, far smaller than the token explode it spares; released
      // by the session cache clear between queries.
      .persist()
    val w = org.apache.spark.sql.expressions.Window.partitionBy(langCol)
    val thresholds = keyed
      .filter(col(idCol) % mod === 0)
      .withColumn("rnk", row_number().over(
        w.orderBy(col("munats_per_token"), col(idCol))))
      .withColumn("ns", count(lit(1)).over(w))
      .groupBy(langCol)
      .agg(
        max(when(expr("rnk = (ns + 2) div 3"), col("munats_per_token")))
          .as("__t1"),
        max(when(expr("rnk = (2 * ns + 2) div 3"), col("munats_per_token")))
          .as("__t2"))
    keyed.join(broadcast(thresholds), Seq(langCol), "left")
      .withColumn("bucket",
        when(col("__t1").isNull, lit("head"))
          .when(col("munats_per_token") <= col("__t1"), lit("head"))
          .when(col("munats_per_token") <= col("__t2"), lit("middle"))
          .otherwise(lit("tail")))
      .select(col(idCol), col(langCol), col("munats_per_token"), col("bucket"))
  }

  /** Composed quality gate — the verdict a curation pipeline actually
    * applies: Gopher rules AND the hashed-n-gram classifier AND the
    * heuristic quality floor AND not-in-the-perplexity-tail, in one
    * row per document. The three scan-level signals are FUSED into a
    * single projection by chaining their column-builders
    * ([[withGopherColumns]] / [[withQualityColumns]] /
    * [[withClassifierColumns]] — value-identical to the standalone
    * operators by construction: same kernels, same arithmetic,
    * parity-pinned in `TextAnalysisSpec`), so the corpus is scanned
    * once for all of them; the only shuffles are the ones the sampled
    * surprisal buckets already need ([[surprisalBucketsSampled]] — the
    * scale spelling, not the per-language sort window).
    *
    * `quality_micro` is the heuristic score in the catalog's integer
    * micro-unit convention (`floor(q * 1e6 + 0.5)`), so the floor
    * comparison is exact on both engines. Documents that tokenize to
    * nothing (null text) have no surprisal row and are dropped — a
    * gate has nothing to score. Output: (doc_id, quality_micro,
    * gopher_n_failed, gopher_keep, cls_score, bucket, keep).
    */
  def qualityEnsemble(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text", langCol: String = "lang",
                      minQualityMicro: Long = 300000L,
                      mod: Int = 4): DataFrame = {
    val signals = withClassifierColumns(
        withQualityColumns(
          withGopherColumns(docs, textCol)
            .withColumnRenamed("keep", "gopher_keep")
            .withColumnRenamed("n_failed", "gopher_n_failed"),
          textCol),
        textCol)
      .select(col(idCol),
        floor(col("quality") * lit(1000000.0) + lit(0.5)).cast("long")
          .as("quality_micro"),
        col("gopher_n_failed"), col("gopher_keep"),
        col("score").as("cls_score"))
    val buckets = surprisalBucketsSampled(docs, idCol, textCol, langCol, mod)
      .select(col(idCol), col("bucket"))
    signals.join(buckets, idCol)
      .withColumn("keep",
        col("gopher_keep") === 1L && col("cls_score") >= 0L &&
          col("bucket") =!= "tail" && col("quality_micro") >= minQualityMicro)
  }

  /** Unigram-LM surprisal scoring (the CCNet-style quality signal: a
    * document is "easy" under a language model trained on the corpus
    * itself when its tokens are common): per-token surprisal is
    * `ln(total_tokens / cnt(token))` nats, quantized ONCE PER
    * VOCABULARY ENTRY to integer micro-nats (`floor(x * 1e6 + 0.5)`),
    * so the per-document total is an exact BIGINT sum — order- and
    * partition-independent, no float accumulation anywhere. The only
    * float ops are the per-vocab `ln` (bit-identical across engines on
    * these rationals, verified) and the final fixed-order divisions.
    * `exp` is deliberately NOT applied (JVM/DuckDB `exp` differ by
    * 1 ulp on ~0.2% of inputs); callers wanting perplexity exponentiate
    * the nats themselves.
    *
    * 100 TB plan: one token explode feeding (a) the vocabulary count
    * shuffle (vocab-sized output, map-side combined) and (b) the
    * term-keyed lookup join, then one per-doc aggregate. The unigram
    * table is vocabulary-sized — broadcastable in practice, left to
    * AQE here. Output: (doc_id, n_tokens, surprisal_unats, avg_nats,
    * bits_per_token).
    */
  def unigramSurprisal(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    val tokens = docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("term"))
      .persist() // shared by the count pass and the lookup join;
                 // released by the session cache clear between queries
    val counts = tokens.groupBy("term").agg(count(lit(1)).as("cnt"))
    val tot = tokens.agg(count(lit(1)).as("total"))
    val lm = counts.crossJoin(broadcast(tot))
      .withColumn("s_unat",
        floor(log(col("total").cast("double") / col("cnt").cast("double"))
          * lit(1000000.0) + lit(0.5)).cast("long"))
    tokens.join(lm.select("term", "s_unat"), "term")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"), sum("s_unat").as("surprisal_unats"))
      .withColumn("avg_nats",
        col("surprisal_unats").cast("double") / lit(1000000.0) / col("n_tokens"))
      .withColumn("bits_per_token", col("avg_nats") / log(lit(2.0)))
  }

  /** Bigram-LM surprisal scoring — the conditional tightening of
    * [[unigramSurprisal]] (CCNet-style filters in practice use an
    * n-gram LM, not a unigram one): per-bigram surprisal is
    * `ln(cnt(w1 ·) / cnt(w1 w2))` nats — the MLE conditional
    * `-ln P(w2|w1)` with `cnt(w1 ·)` the count of w1 as a bigram
    * PREFIX (doc-final occurrences excluded, so the denominators sum
    * correctly). The same replay discipline as the unigram scorer:
    * quantize once per bigram-vocabulary entry to integer micro-nats,
    * exact BIGINT per-doc sums, `exp` never applied. Documents with
    * fewer than two tokens have no bigrams and no output row.
    *
    * 100 TB plan: the bigram explode is shuffle-free (one transform
    * over the token array); it feeds the bigram-count shuffle, the
    * prefix-count shuffle (both map-side combined, vocabulary-sized
    * outputs), and the bg-keyed lookup join, then one per-doc
    * aggregate — the unigram plan with one extra vocabulary-sized
    * aggregate. Bigram vocabulary is larger than unigram but still
    * sublinear in tokens on real corpora. Output: (doc_id, n_bigrams,
    * surprisal_unats, avg_nats, bits_per_bigram).
    */
  def bigramSurprisal(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text"): DataFrame = {
    val bi = docBigrams(docs, idCol, textCol)
      // deliberately NOT persisted: the three consumers re-run the
      // scan+explode (cheap codegen'd projections, no shuffle), and a
      // corpus-sized cache of two strings per bigram is exactly the
      // memory footprint a 100 TB run cannot afford — measured a wash
      // at the 10x rehearsal (6.9 s unpersisted vs 7.5 s persisted),
      // so the cache buys nothing even single-node
    val cnts = bi.groupBy("bg", "w1").agg(count(lit(1)).as("cnt"))
    val pref = bi.groupBy("w1").agg(count(lit(1)).as("pcnt"))
    val lm = cnts.join(pref, "w1")
      .withColumn("s_unat",
        floor(log(col("pcnt").cast("double") / col("cnt").cast("double"))
          * lit(1000000.0) + lit(0.5)).cast("long"))
    bi.join(lm.select("bg", "s_unat"), "bg")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"), sum("s_unat").as("surprisal_unats"))
      .withColumn("avg_nats",
        col("surprisal_unats").cast("double") / lit(1000000.0) / col("n_bigrams"))
      .withColumn("bits_per_bigram", col("avg_nats") / log(lit(2.0)))
  }

  /** The bigram surprisal scorers' words window: one `(idCol, bg, w1)`
    * row per adjacent word pair of each non-null text with at least two
    * words (`bg` = "w1 w2", `w1` its prefix word).
    */
  private def docBigrams(docs: DataFrame, idCol: String, textCol: String): DataFrame = docs
    .filter(col(textCol).isNotNull)
    .withColumn("__w", split(col(textCol), " "))
    .filter(org.apache.spark.sql.functions.size(col("__w")) >= 2)
    .select(col(idCol), explode(expr(
      "transform(sequence(1, size(__w) - 1), i -> " +
        "struct(concat(element_at(__w, i), ' ', element_at(__w, i + 1)) AS bg, " +
        "element_at(__w, i) AS w1))")).as("__b"))
    .select(col(idCol), col("__b.bg").as("bg"), col("__b.w1").as("w1"))

  /** HELD-OUT bigram surprisal — the generalization twin of
    * [[bigramSurprisal]] (which scores the corpus under a model of
    * itself and so rewards memorized boilerplate): the bigram LM is
    * fit on the TRAIN slice (`id % holdoutMod ≠ 0`) with add-one
    * smoothing over the train unigram vocabulary,
    * `s(w₁w₂) = ln((c_{w₁} + V) / (c_{w₁w₂} + 1))` nats, and only the
    * HELD-OUT slice is scored. A document cheap under self-surprisal
    * but expensive here is duplicated boilerplate, not fluent text —
    * the CCNet-style quality signal with the memorization leak
    * closed. Smoothing makes unseen test bigrams finite (the whole
    * point of a holdout), including unseen contexts (c = 0 →
    * ln((0+V)/(0+1)) = ln V).
    *
    * Replay contract: the per-bigram value is one fixed-shape double
    * over exact train-count integers (`ln` on rationals), quantized
    * ONCE to micro-nats; per-doc totals are exact BIGINT sums.
    *
    * 100 TB plan: one bigram explode per slice; train counts collapse
    * to vocabulary-grain frames (map-side combined) and the test
    * lookup is a bigram-keyed then context-keyed equi-join of
    * vocabulary-sized tables — the corpora never shuffle. Output per
    * held-out doc: (doc_id, n_bigrams, n_unseen, surprisal_munats,
    * munats_per_bigram).
    */
  def bigramHoldoutSurprisal(docs: DataFrame, holdoutMod: Int = 5,
                             idCol: String = "doc_id",
                             textCol: String = "text"): DataFrame = {
    require(holdoutMod > 1, s"holdoutMod must be > 1: $holdoutMod")
    val train = docs.filter(col(idCol) % holdoutMod =!= 0)
    val test = docs.filter(col(idCol) % holdoutMod === 0)
    val tb = docBigrams(train, idCol, textCol)
    val c12 = tb.groupBy("bg").agg(count(lit(1)).as("c12"))
    val c1 = tb.groupBy("w1").agg(count(lit(1)).as("c1"))
    val vocab = train
      .select(explode(split(col(textCol), " ")).as("__t"))
      .agg(count_distinct(col("__t")).as("v"))
    docBigrams(test, idCol, textCol)
      .join(c12, Seq("bg"), "left")
      .join(c1, Seq("w1"), "left")
      .na.fill(0L, Seq("c12", "c1"))
      .crossJoin(broadcast(vocab))
      .withColumn("__s", floor(log(
        (col("c1").cast("double") + col("v").cast("double"))
          / (col("c12").cast("double") + lit(1.0)))
        * lit(1000000.0) + lit(0.5)).cast("long"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("c12") === 0L, 1L).otherwise(0L)).as("n_unseen"),
        sum("__s").as("surprisal_munats"))
      .withColumn("munats_per_bigram",
        expr("surprisal_munats div greatest(n_bigrams, 1)"))
  }

  /** Per-SOURCE rollup of [[bigramHoldoutSurprisal]] — the number a
    * mixture owner reads: which source's held-out text the corpus LM
    * generalizes to worst (high munats/bigram = out-of-distribution
    * or noise; high unseen share = vocabulary the train slice never
    * covers). Exact BIGINT sums of the per-doc frame; ppm/munats
    * floor-divs. Output per source: (source, n_docs, n_bigrams,
    * n_unseen, surprisal_munats, munats_per_bigram, unseen_ppm).
    */
  def bigramHoldoutBySource(docs: DataFrame, holdoutMod: Int = 5,
                            idCol: String = "doc_id",
                            textCol: String = "text",
                            sourceCol: String = "source"): DataFrame =
    bigramHoldoutSurprisal(docs, holdoutMod, idCol, textCol)
      .join(docs.select(col(idCol), col(sourceCol)), idCol)
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        sum("n_bigrams").as("n_bigrams"),
        sum("n_unseen").as("n_unseen"),
        sum("surprisal_munats").as("surprisal_munats"))
      .withColumn("munats_per_bigram",
        expr("surprisal_munats div greatest(n_bigrams, 1)"))
      .withColumn("unseen_ppm",
        expr("n_unseen * 1000000 div greatest(n_bigrams, 1)"))

  /** Per-source distribution drift: KL divergence of each source's
    * unigram distribution from the whole-corpus distribution —
    * `KL(p_s || q) = sum_t p(t|s) * ln(p(t|s) / q(t))` — the corpus
    * monitor that flags a source whose language shifted (scraper
    * broke, spam flood, domain drift) before it pollutes a training
    * mix. Zero-count terms never appear on the p side (p ln p -> 0),
    * and q covers every term p does by construction (q is the
    * corpus), so the sum is finite without smoothing.
    *
    * Replay contract: each (source, term) contribution is a product
    * of corpus rationals evaluated in doubles (deterministic IEEE
    * ops + the bit-identical rational `ln`) quantized ONCE to integer
    * PICO-nats — micro would round individual `~p * ln-ratio`
    * contributions (each O(1/vocab)) to nothing — then an exact
    * BIGINT per-source sum.
    *
    * 100 TB plan: one token explode feeding one (source, term)
    * aggregate (map-side combined, vocab x sources output); corpus
    * totals derive from THAT aggregate, not a second corpus pass; the
    * contribution join is term-keyed on vocabulary-sized frames.
    * Output: (source, n_terms, tot_tokens, kl_pnats, kl_nats).
    */
  def sourceKlDrift(docs: DataFrame, sourceCol: String = "source",
                    textCol: String = "text"): DataFrame = {
    val ts = docs
      .select(col(sourceCol).as("source"),
        explode(split(col(textCol), " ")).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("cnt"))
      .persist() // vocab x sources rows; all three totals derive from
                 // it; released by the session cache clear
    val bySource = ts.groupBy("source").agg(sum("cnt").as("tot_s"))
    val byTerm = ts.groupBy("term").agg(sum("cnt").as("cnt_t"))
    val tot = ts.agg(sum("cnt").as("tot"))
    ts.join(byTerm, "term")
      .join(broadcast(bySource), "source")
      .crossJoin(broadcast(tot))
      .withColumn("c", floor(
        (col("cnt").cast("double") / col("tot_s").cast("double"))
          * log((col("cnt").cast("double") * col("tot").cast("double"))
            / (col("tot_s").cast("double") * col("cnt_t").cast("double")))
          * lit(1.0e12) + lit(0.5)).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_terms"), max("tot_s").as("tot_tokens"),
        sum("c").as("kl_pnats"))
      .withColumn("kl_nats", col("kl_pnats").cast("double") / lit(1.0e12))
  }

  /** Pairwise Jensen-Shannon divergence between per-source unigram
    * distributions — the SYMMETRIC sibling of [[sourceKlDrift]] (KL
    * ranks sources against the corpus; JS compares sources to EACH
    * OTHER, is finite even on disjoint vocabularies, and its sqrt is
    * a metric — the right input for source-similarity clustering and
    * "which two scrapes are secretly the same site" audits).
    *
    * Identity that kills the zero-count terms: with p = c_a/N_a,
    * q = c_b/N_b, `JSD = ln2 − ½Σ_{p>0} p·ln(1 + q/p)
    * − ½Σ_{q>0} q·ln(1 + p/q)`, and every term with the OTHER side
    * zero contributes ln(1) = 0 — so only the shared-vocabulary
    * INNER join ever evaluates, and a fully disjoint pair is exactly
    * ln2 with no terms at all. Per-term count-scaled contributions
    * quantize ONCE to micro-nats (exact BIGINT sums, the entropy-cell
    * scheme); the two ½/N divisions are truncating integer division,
    * identical on both engines.
    *
    * 100 TB plan: ONE token scan feeds the (source, term) aggregate;
    * the pair terms ride a term-keyed self-join of that
    * vocabulary-sized frame (never the corpus); source totals and the
    * |S|² pair spine attach by broadcast, so pairs with zero shared
    * vocabulary still report ln2. Output per pair (src_a < src_b):
    * (src_a, src_b, n_tokens_a, n_tokens_b, n_shared_terms,
    * jsd_micro_nats, jsd_nats).
    */
  def sourceJsDivergence(docs: DataFrame, sourceCol: String = "source",
                         textCol: String = "text"): DataFrame = {
    val ts = docs
      .select(col(sourceCol).as("source"),
        explode(split(col(textCol), " ")).as("term"))
      .groupBy("source", "term").agg(count(lit(1)).as("cnt"))
      .persist() // vocab x sources rows (the sourceKlDrift class);
                 // released by the session cache clear
    val tot = ts.groupBy("source").agg(sum("cnt").as("n_tok"))
    val a = ts.select(col("source").as("src_a"), col("term"),
      col("cnt").as("ca"))
    val b = ts.select(col("source").as("src_b"), col("term"),
      col("cnt").as("cb"))
    val terms = a.join(b, Seq("term"))
      .filter(col("src_a") < col("src_b"))
      .join(broadcast(tot.select(col("source").as("src_a"),
        col("n_tok").as("na"))), "src_a")
      .join(broadcast(tot.select(col("source").as("src_b"),
        col("n_tok").as("nb"))), "src_b")
      .withColumn("ta", expr(
        "cast(floor(ca * ln(1.0 + (cast(cb as double) * cast(na as double)) " +
          "/ (cast(ca as double) * cast(nb as double))) " +
          "* 1000000.0 + 0.5) as bigint)"))
      .withColumn("tb", expr(
        "cast(floor(cb * ln(1.0 + (cast(ca as double) * cast(nb as double)) " +
          "/ (cast(cb as double) * cast(na as double))) " +
          "* 1000000.0 + 0.5) as bigint)"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_shared_terms"),
        sum("ta").as("__sa"), sum("tb").as("__sb"))
    val spine = tot.select(col("source").as("src_a"), col("n_tok").as("n_tokens_a"))
      .crossJoin(tot.select(col("source").as("src_b"), col("n_tok").as("n_tokens_b")))
      .filter(col("src_a") < col("src_b"))
    spine
      .join(terms, Seq("src_a", "src_b"), "left")
      .na.fill(0L, Seq("n_shared_terms", "__sa", "__sb"))
      .withColumn("jsd_micro_nats", expr(
        "693147 - __sa div (2 * n_tokens_a) - __sb div (2 * n_tokens_b)"))
      .withColumn("jsd_nats",
        col("jsd_micro_nats").cast("double") / lit(1000000.0))
      .select(col("src_a"), col("src_b"), col("n_tokens_a"),
        col("n_tokens_b"), col("n_shared_terms"), col("jsd_micro_nats"),
        col("jsd_nats"))
  }

  /** BM25 top-k retrieval over the corpus for one query-term set (the
    * lexical half of a retrieval stack, next to the `ann_*` dense
    * half): Robertson/Okapi scoring with the Lucene-style non-negative
    * idf, `sum_t idf(t) * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl))`.
    *
    * Replay contract (same scheme as [[unigramSurprisal]]): each
    * (doc, term) contribution is computed in doubles from exact
    * corpus rationals — `ln` on rationals is bit-identical across
    * engines, products/quotients are IEEE-fixed — then quantized ONCE
    * to integer micro-units, so the per-doc score is an exact BIGINT
    * sum, order- and partition-independent.
    *
    * 100 TB plan: the query-term frame is tiny and BROADCAST to both
    * the df count and the tf join — the corpus is scanned once
    * (token explode), df is a map-side-combined aggregate over the
    * hit subset, and top-k is `orderBy.limit` (TakeOrdered: per-
    * partition heaps + driver merge of k rows, never a global sort).
    * Only docs containing >= 1 query term survive the tf join, so the
    * rank window after the limit touches k rows. Output: (rank,
    * doc_id, n_hit_terms, bm25_micro).
    */
  /** Dirichlet-smoothed QUERY-LIKELIHOOD retrieval (Zhai & Lafferty
    * 2001) — the language-model ranking family next to [[bm25TopK]]'s
    * probabilistic one, and the second classic lexical ranker a
    * retrieval stack A/Bs against:
    * `score(q,d) = Σ_t∈q ln((tf_td + μ·cf_t/|C|) / (dl_d + μ))`,
    * μ the Dirichlet pseudo-count. Unlike BM25, ABSENT query terms
    * contribute (the smoothed background mass), so every candidate
    * document scores against the FULL query: the per-candidate frame
    * is candidates × |q|, built by a broadcast cross of the (tiny)
    * term list, with tf left-joined and nulls as 0.
    *
    * Contract (standard inverted-index practice, stated explicitly):
    * the candidate set is documents containing ≥ 1 query term — a
    * zero-hit document can in principle outscore a long candidate
    * under pure QL (background mass shrinks with dl), but ranking
    * the full corpus for every query is not a retrieval plan at any
    * scale; `n_hit_terms` reports the matched-term count. Query
    * terms with zero corpus frequency are dropped on BOTH engines
    * (their smoothed probability is 0 — a −∞ constant for every
    * document, rank-neutral).
    *
    * Exactness: each per-(doc, term) contribution is one fixed-shape
    * double expression over exact corpus integers (`ln` on rationals
    * is bit-identical across engines), quantized ONCE to micro-nats;
    * the per-doc score is an exact BIGINT sum (all contributions
    * negative — log-probabilities).
    *
    * 100 TB plan: ONE corpus tokenization (size-gate persisted)
    * feeds dl, |C|, cf, and tf; cf/corpus attach by broadcast; the
    * candidate × |q| expansion is |q|-linear in candidates; top-k is
    * `orderBy.limit` (TakeOrdered), never a global sort. Output:
    * (rank, doc_id, n_hit_terms, ql_micro).
    */
  def queryLikelihoodTopK(docs: DataFrame, queryTerms: Seq[String],
                          k: Int = 10, mu: Int = 2000,
                          idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val qt = broadcast(queryTerms.distinct.toDF("term"))
    val tokens = PersistPolicy.persistGated(docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("term")),
      docs)
    val stats = tokens.groupBy(idCol).agg(count(lit(1)).as("dl"))
    val corpus = stats.agg(sum("dl").as("tot_tokens"))
    val cf = tokens.join(qt, "term")
      .groupBy("term").agg(count(lit(1)).as("cf")) // query-vocab-sized
    val tf = tokens.join(qt, "term")
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val scored = tf.select(col(idCol)).distinct()
      .crossJoin(broadcast(cf.filter(col("cf") > 0L)))
      .join(tf, Seq(idCol, "term"), "left")
      .na.fill(0L, Seq("tf"))
      .join(stats, idCol)
      .crossJoin(broadcast(corpus))
      .withColumn("contrib_micro", floor(log(
        (col("tf").cast("double")
          + lit(mu.toDouble) * col("cf").cast("double")
            / col("tot_tokens").cast("double"))
          / (col("dl").cast("double") + lit(mu.toDouble)))
        * lit(1000000.0) + lit(0.5)).cast("long"))
      .groupBy(idCol)
      .agg(sum(when(col("tf") > 0L, 1L).otherwise(0L)).as("n_hit_terms"),
        sum("contrib_micro").as("ql_micro"))
    scored
      .orderBy(col("ql_micro").desc, col(idCol))
      .limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("ql_micro").desc, col(idCol))))
      .select(col("rank"), col(idCol), col("n_hit_terms"), col("ql_micro"))
  }

  /** BATCH query-likelihood retrieval — [[queryLikelihoodTopK]] for a
    * whole query frame in ONE corpus pass (the [[bm25TopKBatch]]
    * shape): scores are term-for-term identical to the single-query
    * operator — same Dirichlet smoothing, same candidate contract
    * (docs hitting ≥ 1 of THEIR query's terms), same per-(doc, term)
    * micro-nat quantization before the exact per-(query, doc) BIGINT
    * sum.
    *
    * 100 TB plan: one tokenization (size-gate persisted) feeds dl,
    * |C|, cf, and tf, all restricted to the UNION query vocabulary
    * (broadcast semi-join); the candidate × per-query-terms expansion
    * is |q|-linear per candidate (query frames broadcast); the
    * per-query cut is a rank window over the candidate frame with
    * WindowGroupLimit pushing `rank <= k` below the exchange. Output:
    * (query_id, rank, doc_id, n_hit_terms, ql_micro).
    */
  def queryLikelihoodTopKBatch(docs: DataFrame, queries: DataFrame,
                               k: Int = 10, mu: Int = 2000,
                               idCol: String = "doc_id",
                               textCol: String = "text",
                               queryIdCol: String = "query_id",
                               queryTermsCol: String = "query_terms"): DataFrame = {
    val qt = queries.select(col(queryIdCol),
      explode(array_distinct(col(queryTermsCol))).as("term"))
    val tokens = PersistPolicy.persistGated(docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("term")),
      docs)
    val stats = tokens.groupBy(idCol).agg(count(lit(1)).as("dl"))
    val corpus = stats.agg(sum("dl").as("tot_tokens"))
    val vocab = qt.select("term").distinct()
    val cf = tokens.join(broadcast(vocab), "term")
      .groupBy("term").agg(count(lit(1)).as("cf"))
    val tf = tokens.join(broadcast(vocab), "term")
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val cand = tf.join(broadcast(qt), "term")
      .select(col(queryIdCol), col(idCol)).distinct()
    val scored = cand
      .join(broadcast(qt), queryIdCol)
      .join(broadcast(cf), "term") // corpus-absent terms drop (cf ≥ 1)
      .join(tf, Seq(idCol, "term"), "left")
      .na.fill(0L, Seq("tf"))
      .join(stats, idCol)
      .crossJoin(broadcast(corpus))
      .withColumn("__c", floor(log(
        (col("tf").cast("double")
          + lit(mu.toDouble) * col("cf").cast("double")
            / col("tot_tokens").cast("double"))
          / (col("dl").cast("double") + lit(mu.toDouble)))
        * lit(1000000.0) + lit(0.5)).cast("long"))
      .groupBy(col(queryIdCol), col(idCol))
      .agg(sum(when(col("tf") > 0L, 1L).otherwise(0L)).as("n_hit_terms"),
        sum("__c").as("ql_micro"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(queryIdCol)
      .orderBy(col("ql_micro").desc, col(idCol))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryIdCol), col("rank"), col(idCol),
        col("n_hit_terms"), col("ql_micro"))
  }

  def bm25TopK(docs: DataFrame, queryTerms: Seq[String], k: Int = 10,
               k1: Double = 1.2, b: Double = 0.75,
               idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val tokens = docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("term"))
      .persist() // shared by the corpus stats pass and the tf join
    val stats = tokens.groupBy(idCol).agg(count(lit(1)).as("dl"))
    val corpus = stats.agg(count(lit(1)).as("n_docs"),
      sum("dl").cast("double").as("tot_tokens"))
    val scored = bm25Contrib(tokens, stats, corpus,
        queryTerms.distinct.toDF("term"), k1, b, idCol)
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_hit_terms"),
        sum("contrib_micro").as("bm25_micro"))
    scored
      .orderBy(col("bm25_micro").desc, col(idCol))
      .limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("bm25_micro").desc, col(idCol))))
      .select(col("rank"), col(idCol), col("n_hit_terms"), col("bm25_micro"))
  }

  /** BATCH BM25 retrieval — [[bm25TopK]] for a whole query FRAME in
    * ONE corpus pass (VERDICT r12 next-3): a real retrieval eval
    * scores thousands of queries per corpus scan; rerunning the
    * single-query operator per query would scan the corpus per query.
    * Scores are term-for-term identical to [[bm25TopK]] (same
    * Lucene-style idf, same floor(x*1e6+0.5) per-(doc, term)
    * quantization before the exact BIGINT per-(query, doc) sum —
    * spec-pinned equal to the single-query operator on each query).
    *
    * 100 TB plan, and the difference from broadcast-per-query: the
    * corpus is tokenized ONCE; document lengths, corpus totals, df,
    * and tf all derive from that one pass, restricted to the UNION
    * term vocabulary of all queries (one broadcast semi-join — the
    * union vocabulary is queries-sized, megabytes for thousands of
    * queries, never corpus-sized). Per-query term lists then join the
    * per-(doc, term) contributions TERM-KEYED (broadcast while the
    * query frame is driver-small; Spark falls back to a term-keyed
    * shuffle join beyond the broadcast threshold — never a cartesian,
    * never a per-query scan). Top-k per query is one ranked window
    * with `rank <= k`, which the WindowGroupLimit rule turns into
    * per-partition top-k heaps before the exchange. Output:
    * (query_id, rank, doc_id, n_hit_terms, bm25_micro), k rows max
    * per query.
    */
  def bm25TopKBatch(docs: DataFrame, queries: DataFrame, k: Int = 10,
                    k1: Double = 1.2, b: Double = 0.75,
                    idCol: String = "doc_id", textCol: String = "text",
                    queryIdCol: String = "query_id",
                    queryTermsCol: String = "query_terms"): DataFrame = {
    val qt = queries
      .select(col(queryIdCol),
        explode(array_distinct(col(queryTermsCol))).as("term"))
    val tokens = PersistPolicy.persistGated(docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("term")),
      docs) // token stream > the corpus: size-gated; stats + tf share
            // one tokenization below the gate, rescan above it
    val stats = tokens.groupBy(idCol).agg(count(lit(1)).as("dl"))
    val corpus = stats.agg(count(lit(1)).as("n_docs"),
      sum("dl").cast("double").as("tot_tokens"))
    bm25ScoreRanked(tokens, stats, corpus, qt, k, k1, b, idCol, queryIdCol)
      .select(col(queryIdCol), col("rank"), col(idCol),
        col("n_hit_terms"), col("bm25_micro"))
  }

  /** The batch scoring chain shared by [[bm25TopKBatch]] and
    * [[bm25PrfExpand]]: per-(doc, term) contributions restricted to
    * `qt`'s union vocabulary, per-(query, doc) exact BIGINT sums, and
    * the per-query ranked cut (WindowGroupLimit top-k). Callers own
    * the tokens/stats/corpus frames so one tokenization can feed
    * multiple scoring passes. */
  private def bm25ScoreRanked(tokens: DataFrame, stats: DataFrame,
                              corpus: DataFrame, qt: DataFrame, k: Int,
                              k1: Double, b: Double, idCol: String,
                              queryIdCol: String): DataFrame =
    bm25RankFromContrib(
      bm25Contrib(tokens, stats, corpus, qt.select("term").distinct(),
        k1, b, idCol),
      qt, k, idCol, queryIdCol)

  /** Per-(doc, term) once-quantized BM25 contributions ("posting
    * scores") restricted to `vocab`. */
  private def bm25Contrib(tokens: DataFrame, stats: DataFrame,
                          corpus: DataFrame, vocab: DataFrame,
                          k1: Double, b: Double, idCol: String): DataFrame = {
    val hitTokens = tokens.join(broadcast(vocab), "term")
    val df = hitTokens.groupBy("term").agg(count_distinct(col(idCol)).as("df"))
    val tf = hitTokens.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    tf
      .join(broadcast(df), "term")
      .join(stats, idCol)
      .crossJoin(broadcast(corpus))
      .withColumn("idf", log(
        (col("n_docs").cast("double") - col("df") + lit(0.5))
          / (col("df").cast("double") + lit(0.5)) + lit(1.0)))
      .withColumn("avgdl", col("tot_tokens") / col("n_docs"))
      .withColumn("contrib_micro", floor(
        col("idf") * (col("tf").cast("double") * lit(k1 + 1.0))
          / (col("tf").cast("double")
            + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
          * lit(1000000.0) + lit(0.5)).cast("long"))
      .select(col(idCol), col("term"), col("contrib_micro"))
  }

  /** Per-(query, doc) exact BIGINT sums over the contributions + the
    * per-query ranked cut (WindowGroupLimit top-k). */
  private def bm25RankFromContrib(contrib: DataFrame, qt: DataFrame, k: Int,
                                  idCol: String,
                                  queryIdCol: String): DataFrame =
    contrib.join(qt, "term")
      .groupBy(col(queryIdCol), col(idCol))
      .agg(count(lit(1)).as("n_hit_terms"),
        sum("contrib_micro").as("bm25_micro"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(queryIdCol)
          .orderBy(col("bm25_micro").desc, col(idCol))))
      .filter(col("rank") <= k)

  /** Pseudo-relevance-feedback query expansion (RM3-lite, Lavrenko &
    * Croft 2001 / Abdul-Jaleel et al. 2004): retrieve, mine the top
    * `fbDocs` documents per query for their most discriminative terms
    * (feedback tf x the same Lucene idf, micro-quantized), append the
    * top `fbTerms` NEW terms to the query, retrieve again — the
    * classic recall lever a lexical retrieval stack adds first.
    *
    * Replay contract: both passes are the [[bm25TopKBatch]] scoring
    * chain (integer sums of once-quantized contributions); feedback
    * term selection ranks a once-quantized integer score with ties on
    * the term — every step replays engine-identically.
    *
    * 100 TB plan: the corpus is tokenized ONCE and all three
    * vocabulary-restricted passes (first retrieval, feedback-term df,
    * expanded retrieval) ride it; every frame that crosses a join is
    * queries-sized (feedback docs: fbDocs x |queries| rows; candidate
    * vocabulary: bounded by the feedback docs' token count), never
    * corpus-sized. Output: (query_id, rank, doc_id, n_hit_terms,
    * bm25_micro, n_expansion_terms), k rows max per query.
    */
  def bm25PrfExpand(docs: DataFrame, queries: DataFrame, k: Int = 10,
                    fbDocs: Int = prfFbDocs, fbTerms: Int = prfFbTerms,
                    k1: Double = 1.2, b: Double = 0.75,
                    idCol: String = "doc_id", textCol: String = "text",
                    queryIdCol: String = "query_id",
                    queryTermsCol: String = "query_terms"): DataFrame = {
    val qt = queries
      .select(col(queryIdCol),
        explode(array_distinct(col(queryTermsCol))).as("term"))
      .persist() // original terms: pass-1 scoring, exclusion, union
    val tokens = PersistPolicy.persistGated(docs
      .select(col(idCol), explode(split(col(textCol), " ")).as("term")),
      docs) // token stream > the corpus: size-gated; both retrieval
            // passes share one tokenization below the gate
    val stats = tokens.groupBy(idCol).agg(count(lit(1)).as("dl"))
    val corpus = stats.agg(count(lit(1)).as("n_docs"),
      sum("dl").cast("double").as("tot_tokens"))
    // pass-1 posting scores are kept: the expanded pass reuses them
    // and computes postings ONLY for the new expansion vocabulary
    val contrib1 = bm25Contrib(tokens, stats, corpus,
        qt.select("term").distinct(), k1, b, idCol)
      .persist()
    val fb = bm25RankFromContrib(contrib1, qt, fbDocs, idCol, queryIdCol)
      .select(col(queryIdCol), col(idCol))
    // feedback term mining: tf within each query's feedback docs x
    // corpus idf, quantized once; original query terms excluded
    val fbTf = tokens
      .join(broadcast(fb), idCol)
      .groupBy(col(queryIdCol), col("term")).agg(count(lit(1)).as("__fbtf"))
    val fbVocab = fbTf.select("term").distinct()
    val fbDf = tokens.join(broadcast(fbVocab), "term")
      .groupBy("term").agg(count_distinct(col(idCol)).as("df"))
    val fbScored = fbTf
      .join(broadcast(fbDf), "term")
      .crossJoin(broadcast(corpus))
      .withColumn("__s", floor(log(
        (col("n_docs").cast("double") - col("df") + lit(0.5))
          / (col("df").cast("double") + lit(0.5)) + lit(1.0))
        * col("__fbtf") * lit(1000000.0) + lit(0.5)).cast("long"))
      .join(qt, Seq(queryIdCol, "term"), "left_anti")
    val fbSel = fbScored
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(queryIdCol)
          .orderBy(col("__s").desc, col("term"))))
      .filter(col("__rn") <= fbTerms)
      .select(col(queryIdCol), col("term"))
      .persist() // expansion set: the union pass and the count column
    val qtExp = qt.select(col(queryIdCol), col("term"))
      .union(fbSel).distinct()
    val nExp = fbSel.groupBy(queryIdCol)
      .agg(count(lit(1)).as("n_expansion_terms"))
    // postings for the strictly-new terms only (an expansion term in
    // ANY query's original vocabulary is already in contrib1)
    val newVocab = fbSel.select("term")
      .join(qt.select("term"), Seq("term"), "left_anti").distinct()
    val contrib2 = contrib1.union(
      bm25Contrib(tokens, stats, corpus, newVocab, k1, b, idCol))
    bm25RankFromContrib(contrib2, qtExp, k, idCol, queryIdCol)
      .join(broadcast(nExp), Seq(queryIdCol), "left")
      .na.fill(0L, Seq("n_expansion_terms"))
      .select(col(queryIdCol), col("rank"), col(idCol),
        col("n_hit_terms"), col("bm25_micro"), col("n_expansion_terms"))
  }

  /** Zipf-law fit of the corpus unigram distribution — the one-number
    * health check of a text corpus (natural language sits near alpha
    * ~1; a flood of templated/generated text or a broken tokenizer
    * shows up as a visibly different exponent before any downstream
    * metric moves): least-squares slope of ln(count) on ln(rank) over
    * the TOP-`topN` types, reported as `alpha = -slope`.
    *
    * Fitting on the head is both the standard practice (the tail
    * departs from the power law) and the scale design: the top-N
    * frequency cut is a TakeOrdered (per-partition heaps, k rows to
    * the driver side of the plan, never a vocabulary-wide sort
    * window), so the global rank window that follows touches `topN`
    * rows. Replay contract: ranks and counts are integers; each
    * term's ln-products quantize ONCE to integer micro-units and sum
    * as exact BIGINTs; the closed-form slope is then ONE fixed-shape
    * double expression over those five exact integers — bit-identical
    * across engines, r6-rounded on output. Output: one row
    * (n_types_fit, n_types_total, n_tokens, alpha).
    */
  def zipfFit(docs: DataFrame, topN: Int = 1000,
              textCol: String = "text"): DataFrame = {
    val counts = docs
      .select(explode(split(col(textCol), " ")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c"))
      .persist() // totals + the head cut share one aggregation
    val totals = counts.agg(count(lit(1)).as("n_types_total"),
      sum("c").as("n_tokens"))
    val head = counts
      .orderBy(col("c").desc, col("term")).limit(topN)
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("c").desc, col("term"))).cast("long"))
      .withColumn("__x", log(col("r").cast("double")))
      .withColumn("__y", log(col("c").cast("double")))
    logLogMoments(head).crossJoin(totals)
      .select(col("n").as("n_types_fit"), col("n_types_total"),
        col("n_tokens"),
        (-logLogSlope).as("alpha"))
  }

  /** The log-log least-squares fits' exact moments: each row's `__x`,
    * `__y`, their product and `__x`² quantized once to micro-units,
    * summed as (n, sx, sy, sxy, sxx).
    */
  private def logLogMoments(df: DataFrame): DataFrame = df
    .select(
      floor(col("__x") * 1000000.0 + 0.5).cast("long").as("qx"),
      floor(col("__y") * 1000000.0 + 0.5).cast("long").as("qy"),
      floor(col("__x") * col("__y") * 1000000.0 + 0.5).cast("long").as("qxy"),
      floor(col("__x") * col("__x") * 1000000.0 + 0.5).cast("long").as("qxx"))
    .agg(count(lit(1)).as("n"), sum("qx").as("sx"), sum("qy").as("sy"),
      sum("qxy").as("sxy"), sum("qxx").as("sxx"))

  /** The slope over [[logLogMoments]], one fixed-shape double expression
    * over exact integers: (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2). Scale care:
    * qxy/qxx carry ONE 1e6 factor while qx*qy / qx^2 carry two, so the
    * n* terms rescale by 1e6 to match.
    */
  private def logLogSlope: Column =
    (col("n").cast("double") * col("sxy").cast("double") * lit(1000000.0)
      - col("sx").cast("double") * col("sy").cast("double")) /
      (col("n").cast("double") * col("sxx").cast("double") * lit(1000000.0)
        - col("sx").cast("double") * col("sx").cast("double"))

  /** Top-k vocabulary TOKEN COVERAGE — the tokenizer-sizing dual of
    * [[zipfFit]]/[[heapsFit]]: for each cutoff k, what share of all
    * corpus tokens the k most frequent types cover (the number that
    * says whether a 32k vocabulary is enough, where the OOV tail
    * starts, and how head-heavy a crawl is).
    *
    * Exactness under ties WITHOUT ranking terms: the top-k cut is by
    * (count desc, term asc), but every term inside a tied frequency
    * group contributes the SAME count — so coverage depends only on
    * HOW MANY tied terms the cutoff takes, never which. Coverage is
    * therefore computed from the count-of-counts frame alone:
    * per frequency c, `min(n_terms, max(k − cum_terms_before, 0)) · c`
    * — exact BIGINTs, no per-term rank.
    *
    * 100 TB plan: one token scan → vocabulary aggregate
    * (Heaps-sublinear) → count-of-counts rollup, whose size is
    * bounded by ~sqrt(2N) DISTINCT frequencies (frequencies ≥
    * 1+2+…+m must fit in N tokens) — the only window runs over THAT
    * bounded frame; the vocabulary itself is never sorted or
    * windowed. Output: one row per cutoff — (top_k, n_types_used,
    * covered_tokens, total_tokens, n_types, coverage_ppm).
    */
  def vocabHeadCoverage(docs: DataFrame,
                        cutoffs: Seq[Long] = Seq(100L, 1000L, 10000L),
                        textCol: String = "text"): DataFrame = {
    require(cutoffs.nonEmpty && cutoffs.forall(_ > 0),
      s"cutoffs must be positive: $cutoffs")
    val vocab = docs
      .select(explode(split(col(textCol), " ")).as("term"))
      .groupBy("term").agg(count(lit(1)).as("c"))
      .persist() // bounded (Heaps): totals + count-of-counts share it
    val tot = vocab.agg(sum("c").as("total_tokens"),
      count(lit(1)).as("n_types"))
    val cum = vocab.groupBy("c").agg(count(lit(1)).as("n_terms"))
      .withColumn("cum_before", coalesce(
        sum("n_terms").over(org.apache.spark.sql.expressions.Window
          .orderBy(col("c").desc)
          .rowsBetween(org.apache.spark.sql.expressions.Window
            .unboundedPreceding, -1)), lit(0L)))
    cum
      .select(col("c"), col("n_terms"), col("cum_before"),
        explode(array(cutoffs.map(lit(_)): _*)).as("top_k"))
      .withColumn("__take", least(col("n_terms"),
        greatest(col("top_k") - col("cum_before"), lit(0L))))
      .groupBy("top_k")
      .agg(sum("__take").as("n_types_used"),
        sum(col("__take") * col("c")).as("covered_tokens"))
      .crossJoin(broadcast(tot))
      .withColumn("coverage_ppm",
        expr("covered_tokens * 1000000 div greatest(total_tokens, 1)"))
      .select(col("top_k"), col("n_types_used"), col("covered_tokens"),
        col("total_tokens"), col("n_types"), col("coverage_ppm"))
  }

  /** Heaps'-law vocabulary-growth fit `V = K * n^beta` (Heaps 1978) —
    * the [[zipfFit]] dual: how fast VOCABULARY grows with document
    * size, the signal behind tokenizer sizing, dedup-fixture design
    * (the round-13 Zipf-reuse lesson was exactly a Heaps-law
    * artifact), and gibberish screening at corpus grain (natural text
    * sits near beta ~ 0.5-0.7; random token soup pushes 1). Fit is
    * log-log least squares over the per-document (n_tokens,
    * n_distinct) points; like the Zipf fit, each point's log terms
    * integer-quantize to micro BEFORE the order-free sums, and the
    * slope/intercept are ONE fixed-shape double expression over those
    * exact sums — engine- and partition-exact. Every document
    * contributes a point (split-on-space never yields zero tokens;
    * an empty text is the legitimate (n=1, V=1) point); the >= 1
    * filter is a defensive guard for null-token edge cases only.
    *
    * 100 TB plan: one scan projection (token/distinct counts per doc,
    * the quality-kernel counts) into five scalar sums — no shuffle of
    * anything but 5 partials. Output, one row: (n_docs_fit, beta, k).
    */
  /** Per-source LEXICAL-DIVERSITY profile — the corpus-mix report
    * next to the global Zipf/Heaps fits: for each source, exact token
    * and type counts, hapax / dis legomena counts (types occurring
    * once / twice — Baayen's LNRE head, the standard
    * vocabulary-richness signals), the type-token ratio, and the
    * hapax share of types. A source whose hapax share collapses is
    * template-generated or heavily duplicated; one whose TTR spikes
    * is noise/code. All columns exact BIGINT or exact ppm floor-divs.
    *
    * 100 TB plan: ONE token explode into a map-side-combined
    * (source, term) count aggregate — the only shuffle is
    * vocabulary×sources-grain; the per-source rollup rides that
    * bounded frame. Output one row per source: (source, n_tokens,
    * n_types, n_hapax, n_dis, ttr_ppm, hapax_type_ppm).
    */
  def sourceLexicalStats(docs: DataFrame, sourceCol: String = "source",
                         textCol: String = "text"): DataFrame =
    docs
      .select(col(sourceCol), explode(split(col(textCol), " ")).as("__t"))
      .groupBy(col(sourceCol), col("__t"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col(sourceCol))
      .agg(sum("__c").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("__c") === 1L, 1L).otherwise(0L)).as("n_hapax"),
        sum(when(col("__c") === 2L, 1L).otherwise(0L)).as("n_dis"))
      .withColumn("ttr_ppm",
        expr("n_types * 1000000 div greatest(n_tokens, 1)"))
      .withColumn("hapax_type_ppm",
        expr("n_hapax * 1000000 div greatest(n_types, 1)"))

  /** Per-source MSTTR (mean segmental type-token ratio, Johnson 1944):
    * each document's token stream is cut into consecutive `segLen`-token
    * segments, partial tails dropped, and the source's score is the
    * mean distinct-fraction over its FULL segments. The raw TTR that
    * [[sourceLexicalStats]] reports collapses with corpus size (Herdan:
    * types grow sublinearly in tokens), so two sources of different
    * volume can't be compared on it; MSTTR measures diversity at a
    * FIXED window, which is length-invariant — the number a corpus-mix
    * report actually compares across sources. Exact integer spelling:
    * per-doc sum of per-segment distinct counts, source mean as one
    * ppm floor-div of two exact sums.
    *
    * 100 TB plan: segmenting and the per-segment distinct counts are
    * ROW-LOCAL higher-order-function arithmetic on the split array
    * (`aggregate(sequence(...))` over `array_distinct(slice(...))`) —
    * no token-grain explode, no (doc, segment) shuffle; the only
    * exchange is the |sources|-grain rollup of two longs. Output per
    * source: (source, n_docs_used, n_segments, n_distinct_sum,
    * msttr_ppm).
    */
  def sourceMsttr(docs: DataFrame, segLen: Int = 25,
                  sourceCol: String = "source",
                  textCol: String = "text"): DataFrame = {
    require(segLen >= 1, s"segLen must be positive: $segLen")
    docs
      .select(col(sourceCol), split(col(textCol), " ").as("__w"))
      .withColumn("__n_full", expr(s"size(__w) div $segLen").cast("long"))
      .filter(col("__n_full") >= 1L)
      .withColumn("__dsum", expr(
        s"""aggregate(sequence(0L, __n_full - 1L), 0L, (acc, i) ->
           |  acc + size(array_distinct(slice(__w, cast(i * $segLen + 1 as int), $segLen))))""".stripMargin))
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs_used"),
        sum("__n_full").as("n_segments"),
        sum("__dsum").as("n_distinct_sum"))
      .withColumn("msttr_ppm",
        expr(s"n_distinct_sum * 1000000 div ($segLen * n_segments)"))
  }

  def heapsFit(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val sums = logLogMoments(docs
      .withColumn("__w", split(col(textCol), " "))
      .select(size(col("__w")).cast("long").as("nt"),
        size(array_distinct(col("__w"))).cast("long").as("nd"))
      .filter(col("nt") >= 1L && col("nd") >= 1L)
      .withColumn("__x", log(col("nt").cast("double")))
      .withColumn("__y", log(col("nd").cast("double"))))
    val beta = logLogSlope
    sums.select(col("n").as("n_docs_fit"), beta.as("beta"),
      // intercept ln K = (Sy - beta * Sx) / (n * 1e6); K = exp(ln K)
      exp((col("sy").cast("double") - beta * col("sx").cast("double"))
        / (col("n").cast("double") * lit(1000000.0))).as("k"))
  }

  /** Retrieval evaluation over ANY ranked result frame — the metric
    * layer a retrieval stack ([[bm25TopKBatch]], the `ann_*` dense
    * side, or their RRF fusion) is judged by: per query, against a
    * (query_id, doc_id) relevance frame, the best rank any relevant
    * document achieved, its reciprocal rank, and hit@1 / hit@`k`. All
    * metrics are exact integers (`rr_micro = 1e6 div first_rank`) so
    * the report hash-replays; queries whose relevant docs were all
    * missed score rr 0 with first_rank null (miss ≠ absent row — an
    * eval that silently drops missed queries overstates itself).
    *
    * 100 TB plan: one left equi-join of the relevance frame (eval-
    * sized) against the result frame on (query, doc) — both frames
    * are top-k-sized, never corpus-sized — then one per-query rollup.
    * Output: (query_id, n_relevant, n_found, first_rank, rr_micro,
    * hit1, hit_at_k).
    */
  def retrievalEval(results: DataFrame, relevance: DataFrame, k: Int = 5,
                    queryIdCol: String = "query_id",
                    docIdCol: String = "doc_id",
                    rankCol: String = "rank"): DataFrame = {
    val res = results.select(col(queryIdCol), col(docIdCol),
      col(rankCol).cast("long").as("__rk"))
    relevance.select(col(queryIdCol), col(docIdCol))
      .join(res, Seq(queryIdCol, docIdCol), "left")
      .groupBy(queryIdCol)
      .agg(count(lit(1)).as("n_relevant"),
        count(col("__rk")).as("n_found"),
        min(col("__rk")).as("first_rank"))
      .withColumn("rr_micro", when(col("first_rank").isNotNull,
        expr("1000000 div first_rank")).otherwise(lit(0L)))
      .withColumn("hit1", coalesce(col("first_rank") === 1L, lit(false)))
      .withColumn("hit_at_k", coalesce(col("first_rank") <= k, lit(false)))
  }

  /** The corpus-level rollup of [[retrievalEval]]: MRR and hit rates
    * in exact integer micro-units (`mrr_micro = sum(rr) div n` — the
    * order-free BIGINT sum then ONE division, so the macro replays
    * exactly). One aggregate over the per-query frame (queries-sized).
    * Output: one row (n_queries, mrr_micro, hit1_micro, hit_at_k_micro,
    * found_micro).
    */
  def retrievalEvalMacro(perQuery: DataFrame,
                         queryIdCol: String = "query_id"): DataFrame =
    perQuery.agg(
        count(lit(1)).as("n_queries"),
        sum("rr_micro").as("__srr"),
        sum(when(col("hit1"), 1L).otherwise(0L)).as("__h1"),
        sum(when(col("hit_at_k"), 1L).otherwise(0L)).as("__hk"),
        sum(when(col("n_found") > 0L, 1L).otherwise(0L)).as("__f"))
      .select(col("n_queries"),
        expr("__srr div n_queries").as("mrr_micro"),
        expr("__h1 * 1000000 div n_queries").as("hit1_micro"),
        expr("__hk * 1000000 div n_queries").as("hit_at_k_micro"),
        expr("__f * 1000000 div n_queries").as("found_micro"))

  /** Recall@k CURVE over the per-query eval frame — hit rate at each
    * of the configured rank cutoffs from ONE ranking pass (the
    * ann_recall_curve / dedup_threshold_sweep sweep discipline: the
    * serving knob table, not one blessed k). Cutoffs are broadcast
    * literals; counts are exact and monotone non-decreasing in k by
    * construction (spec-pinned). Output: (k, n_queries, n_hit,
    * hit_rate_micro), ordered by k.
    */
  def retrievalRecallCurve(perQuery: DataFrame,
                           ks: Seq[Long]): DataFrame = {
    val spark = perQuery.sparkSession
    import spark.implicits._
    require(ks.nonEmpty, "recall curve needs >= 1 cutoff")
    perQuery.crossJoin(broadcast(ks.toDF("k")))
      .groupBy("k")
      .agg(count(lit(1)).as("n_queries"),
        sum(when(col("first_rank").isNotNull &&
          col("first_rank") <= col("k"), 1L).otherwise(0L)).as("n_hit"))
      .withColumn("hit_rate_micro",
        expr("n_hit * 1000000 div greatest(n_queries, 1)"))
      .orderBy("k")
  }

  /** Corpus bigram conditional entropy rate H(w₂|w₁) = H(W₁,W₂) −
    * H(W₁) — the language-complexity number behind the surprisal
    * family (how predictable is the next token given one token of
    * context; collapsing it under dedup/filtering is the classic sign
    * of boilerplate domination). Both entropies share the SAME pair
    * denominator and the charEntropy quantization (per type
    * `⌊c·ln(N/c)·1e6 + ½⌋` — count-scaled micro-nats, exact BIGINT
    * sums), so the difference is exact and the final per-pair rate is
    * one fixed division.
    *
    * 100 TB plan: one positional pair explode into the
    * Heaps-sublinear bigram-vocabulary aggregate (the collocations
    * frame class); the first-word marginal derives from THAT frame
    * (never a second corpus scan); scalar totals attach by broadcast.
    * Output: one row — (n_pairs, n_bigram_types, n_first_types,
    * h_joint_unats, h_first_unats, h_cond_unats, cond_entropy_micro).
    *
    * Exactness bound: the count-scaled micro-nat terms sum to
    * ~N·H·1e6, which stays inside int64 up to ~1e12 bigram pairs
    * (N·H ≲ 9.2e18/1e6) — beyond that, shard the corpus, compute
    * per-shard (sum, count) pairs at this precision, and combine the
    * shard sums before the single final division (the
    * sourceGini/blockingAudit convention), or pre-divide to
    * milli-nats to buy another 1000x of headroom at 1000x coarser
    * quantization.
    */
  def entropyRate(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val pairs = docs
      .select(split(col(textCol), " ").as("__w"))
      .filter(size(col("__w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(__w) - 1), " +
          "i -> struct(__w[i - 1] AS w1, __w[i] AS w2))")).as("__p"))
      .groupBy(col("__p.w1"), col("__p.w2"))
      .agg(count(lit(1)).as("__c"))
    val first = pairs.groupBy("w1").agg(sum("__c").as("__c1"))
    val tot = pairs.agg(sum("__c").as("__n"),
      count(lit(1)).as("n_bigram_types"))
    val joint = pairs.crossJoin(broadcast(tot))
      .select(expr(
        "cast(floor(__c * ln(cast(__n as double) / __c) * 1000000 + 0.5) " +
          "as bigint)").as("__t"))
      .agg(coalesce(sum("__t"), lit(0L)).as("h_joint_unats"))
    val marg = first.crossJoin(broadcast(tot))
      .select(expr(
        "cast(floor(__c1 * ln(cast(__n as double) / __c1) * 1000000 + 0.5) " +
          "as bigint)").as("__t"))
      .agg(count(lit(1)).as("n_first_types"),
        coalesce(sum("__t"), lit(0L)).as("h_first_unats"))
    tot.crossJoin(broadcast(joint)).crossJoin(broadcast(marg))
      .withColumn("h_cond_unats", expr("h_joint_unats - h_first_unats"))
      .select(col("__n").as("n_pairs"), col("n_bigram_types"),
        col("n_first_types"), col("h_joint_unats"), col("h_first_unats"),
        col("h_cond_unats"),
        expr("h_cond_unats div greatest(__n, 1)").as("cond_entropy_micro"))
  }

  /** nDCG@k over a judged run (Järvelin & Kekäläinen 2002) — the
    * GRADED companion to the binary known-item metrics: per rank the
    * gain is discounted by `log2(rank + 1)`, the ideal ordering
    * re-ranks the SAME run's gains descending (run-local ideal — the
    * standard choice when judgments beyond the run are unknown,
    * stated contract), and nDCG = DCG/IDCG.
    *
    * Replay: each discounted term quantizes to micro ONCE
    * (`⌊g·1e6·ln 2 / ln(rank+1) + ½⌋` — one fixed-association double
    * chain, the BM25 ln precedent), so DCG and IDCG are exact BIGINT
    * sums and the final ratio is integer division. 100 TB plan: the
    * run is already (queries × k)-bounded; the ideal re-rank is a
    * per-query window over ≤ k rows (WindowGroupLimit). Output:
    * (query_id, n_rel_in_run, dcg_micro, idcg_micro, ndcg_micro).
    */
  def ndcgAtK(run: DataFrame, gain: org.apache.spark.sql.Column, k: Int = 10,
              queryIdCol: String = "query_id"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(queryIdCol).orderBy(col("__g").desc, col("rank").asc)
    run.filter(col("rank") <= k)
      .withColumn("__g", gain.cast("long"))
      .withColumn("__dt", expr(
        "cast(floor(__g * 1000000.0 * ln(2.0) / ln(rank + 1.0) + 0.5) as bigint)"))
      .withColumn("__irnk", row_number().over(w))
      .withColumn("__it", expr(
        "cast(floor(__g * 1000000.0 * ln(2.0) / ln(__irnk + 1.0) + 0.5) as bigint)"))
      .groupBy(col(queryIdCol))
      .agg(sum(when(col("__g") > 0L, 1L).otherwise(0L)).as("n_rel_in_run"),
        sum("__dt").as("dcg_micro"), sum("__it").as("idcg_micro"))
      .withColumn("ndcg_micro", expr(
        "CASE WHEN idcg_micro > 0 THEN dcg_micro * 1000000 div idcg_micro " +
          "ELSE 0 END"))
  }

  /** Average precision at k over a judged run — the ranked-list dual
    * of [[ndcgAtK]] for BINARY relevance: AP = mean over relevant
    * hits of precision@rank, with the run-local relevant count as the
    * denominator (judged-pool contract, like the nDCG ideal). All
    * integer: P@r quantizes as `cum_rel·1e6 div r` per hit, the sum
    * divides by n_rel — both truncating divisions spelled identically
    * in both engines. 100 TB plan: one per-query running-sum window
    * over ≤ k rows. Output: (query_id, n_rel_in_run, ap_micro).
    */
  def mapAtK(run: DataFrame, rel: org.apache.spark.sql.Column, k: Int = 10,
             queryIdCol: String = "query_id"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(queryIdCol).orderBy(col("rank").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    run.filter(col("rank") <= k)
      .withColumn("__rel", rel)
      .withColumn("__cum",
        sum(when(col("__rel"), 1L).otherwise(0L)).over(w))
      .groupBy(col(queryIdCol))
      .agg(sum(when(col("__rel"), 1L).otherwise(0L)).as("n_rel_in_run"),
        coalesce(sum(when(col("__rel"),
          expr("__cum * 1000000 div rank"))), lit(0L)).as("__s"))
      .withColumn("ap_micro", expr("__s div greatest(n_rel_in_run, 1)"))
      .select(col(queryIdCol), col("n_rel_in_run"), col("ap_micro"))
  }

  /** Hard-negative mining (the DPR recipe, Karpukhin et al. 2020
    * §5.2): for every query, the top-ranked retrieval results that
    * are NOT in the relevance set — the near-miss documents a
    * dense-retriever trainer wants as contrastive negatives, because
    * random negatives are trivially separable and teach nothing.
    * Generic over any ranked `results` frame (BM25, dense, fused).
    *
    * 100 TB plan: one left anti-join of the top-k-bounded results
    * frame against the (broadcastable or id-keyed) relevance frame,
    * then a per-query re-rank window over at most k rows
    * (WindowGroupLimit). No corpus-sized anything — both inputs are
    * already query-grain. Output: (query_id, neg_rank, doc_id,
    * orig_rank) — `orig_rank` preserves the retriever's own ordering
    * for curriculum-style negative schedules.
    */
  def hardNegatives(results: DataFrame, relevance: DataFrame, k: Int = 5,
                    queryIdCol: String = "query_id",
                    docIdCol: String = "doc_id",
                    rankCol: String = "rank"): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val neg = results.join(
      relevance.select(col(queryIdCol), col(docIdCol)),
      Seq(queryIdCol, docIdCol), "left_anti")
    neg
      .withColumn("neg_rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(queryIdCol)
          .orderBy(col(rankCol).asc)).cast("long"))
      .filter(col("neg_rank") <= k)
      .select(col(queryIdCol), col("neg_rank"), col(docIdCol),
        col(rankCol).cast("long").as("orig_rank"))
  }

  /** Reliability-diagram bins for the hashed classifier against the
    * heuristic quality gate (the calibration audit of Guo et al.
    * 2017): documents bin by the classifier's mean feature weight,
    * and each bin reports how often the independent quality heuristic
    * agrees — the table that says WHERE the cheap filter's confidence
    * is honest and where it isn't.
    *
    * Exactness: the bin id is exact integer floor-division
    * `score // (binWidth · n_feats)` (floor, not truncate — negative
    * mean weights bin consistently on both engines); per-bin sums of
    * score/n_feats/labels are exact BIGINTs, so only the final
    * reported ratios divide in float. The label is the
    * micro-quantized quality score gated at `labelGateMicro`.
    *
    * 100 TB plan: two scan-level projections (classifier kernel +
    * quality kernel — both codegen'd, no shuffle) joined id-keyed,
    * then ONE map-side-combined aggregate to bins-count grain
    * (≤ 21 rows at binWidth 2). Output: (bin, n_docs, n_pos,
    * sum_score, sum_feats, mean_weight, pos_rate, confidence, gap).
    */
  def calibrationBins(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text", binWidth: Int = 2,
                      labelGateMicro: Long = calibGateMicro): DataFrame = {
    require(binWidth > 0, s"binWidth must be positive: $binWidth")
    val scored = withClassifierColumns(docs, textCol)
      .select(col(idCol), col("n_feats"), col("score"))
    val labeled = withQualityColumns(docs, textCol)
      .select(col(idCol),
        (expr(s"cast(floor(quality * 1000000 + 0.5) as bigint)")
          >= labelGateMicro).as("__label"))
    scored.join(labeled, idCol)
      // floor division with a COLUMN divisor: BOTH engines truncate
      // toward zero (Spark `div`, and DuckDB 1.0.0 `//`: -7 // 2 =
      // -3) — the positive-mod rewrite makes the dividend a
      // non-negative exact multiple first, so truncation IS floor
      // identically on both sides.
      .withColumn("bin", expr(
        s"(score - (((score % ($binWidth * n_feats)) + $binWidth * n_feats) " +
          s"% ($binWidth * n_feats))) div ($binWidth * n_feats)"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("__label"), 1L).otherwise(0L)).as("n_pos"),
        sum("score").as("sum_score"),
        sum("n_feats").as("sum_feats"))
      .withColumn("mean_weight",
        col("sum_score").cast("double") / col("sum_feats"))
      .withColumn("pos_rate", col("n_pos").cast("double") / col("n_docs"))
      // affine map of the [-shift, shift] weight axis onto [0, 1]:
      // the "confidence" a downstream keep-threshold consumer reads
      .withColumn("confidence",
        (col("mean_weight") + lit(10.0)) / lit(20.0))
      .withColumn("gap", abs(col("pos_rate") - col("confidence")))
  }

  /** Flesch reading-ease readability (Flesch 1948) — the classic
    * document-difficulty signal quality pipelines gate on: syllables
    * approximated as vowel GROUPS per word (a vowel char whose
    * predecessor is not a vowel starts a group — the standard
    * dictionary-free heuristic), sentences as `.!?` terminator
    * counts (min 1). Counts are exact integers; only the final fixed
    * Flesch formula runs in double (its decimal constants are typed
    * double literals on both engines — never bare decimals inside a
    * Spark expr(), the DECIMAL-literal trap).
    *
    * 100 TB plan: a pure scan projection — no shuffle, no state. The
    * three counts come from [[ReadabilityStatsExpression]], ONE JIT'd
    * byte pass per document (the HOF spelling ran an interpreted
    * lambda per character and measured 7.8x for 10x data in the sf1
    * rehearsal; the kernel is spec-pinned value-identical to it).
    * Output: (doc_id, n_tokens, n_sentences, n_syllables,
    * words_per_sentence, syllables_per_word, flesch).
    */
  def readability(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    docs
      .withColumn("__rs", ReadabilityStatsExpression.stats(col(textCol)))
      .withColumn("n_tokens", element_at(col("__rs"), 1))
      .withColumn("n_sentences", element_at(col("__rs"), 2))
      .withColumn("n_syllables", element_at(col("__rs"), 3))
      .withColumn("words_per_sentence",
        col("n_tokens").cast("double") / col("n_sentences"))
      .withColumn("syllables_per_word",
        col("n_syllables").cast("double") / col("n_tokens"))
      .withColumn("flesch",
        lit(206.835) - lit(1.015) * col("words_per_sentence")
          - lit(84.6) * col("syllables_per_word"))
      .select(col(idCol), col("n_tokens"), col("n_sentences"),
        col("n_syllables"), col("words_per_sentence"),
        col("syllables_per_word"), col("flesch"))
  }

  /** Language-ID confusion matrix — the multi-class eval of the
    * marker-based [[languageId]] against the corpus's declared
    * language labels: per (true, predicted) cell counts plus each
    * cell's share of its true-language row (micro units, exact
    * integer division). The production question it answers: which
    * languages does the cheap router misroute, and where do those
    * documents go — the prerequisite for setting per-language
    * routing thresholds.
    *
    * 100 TB plan: the langid scorer is one codegen'd scan kernel; the
    * join is id-keyed; both aggregates land on (langs × langs)-grain
    * frames. Output: (true_lang, predicted_lang, n_docs,
    * row_share_micro).
    */
  def langidConfusion(docs: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text",
                      langCol: String = "lang"): DataFrame = {
    val pred = languageId(docs, idCol, textCol)
      .select(col(idCol), col("predicted_lang"))
    val conf = docs.select(col(idCol), col(langCol).as("true_lang"))
      .join(pred, idCol)
      .groupBy("true_lang", "predicted_lang")
      .agg(count(lit(1)).as("n_docs"))
    val tot = conf.groupBy("true_lang").agg(sum("n_docs").as("__t"))
    conf.join(tot, "true_lang")
      .withColumn("row_share_micro", expr("n_docs * 1000000 div __t"))
      .select(col("true_lang"), col("predicted_lang"), col("n_docs"),
        col("row_share_micro"))
  }

  /** Cohen's kappa between the hashed classifier's keep verdict and
    * the heuristic quality gate — chance-corrected agreement (Cohen
    * 1960), the one-number answer to "do my two cheap filters measure
    * the same thing, or is their overlap luck?". Confusion counts are
    * exact BIGINTs from ONE aggregate; `p_o`/`p_e`/kappa compute in
    * double FROM those counts (marginal products at corpus scale
    * overflow int64, IEEE doubles don't — same rationale as the DSIR
    * model ratios). Degenerate case: both raters constant and equal
    * gives p_e = 1; kappa reports 0 there (agreement carries no
    * information beyond chance).
    *
    * 100 TB plan: two codegen'd scan kernels, one id-keyed join, one
    * single-row aggregate. Output: (n, n11, n10, n01, n00, po, pe,
    * kappa).
    */
  def agreementKappa(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text",
                     labelGateMicro: Long = calibGateMicro): DataFrame = {
    val a = withClassifierColumns(docs, textCol)
      .select(col(idCol), col("keep").as("__a"))
    val b = withQualityColumns(docs, textCol)
      .select(col(idCol),
        (expr("cast(floor(quality * 1000000 + 0.5) as bigint)")
          >= labelGateMicro).as("__b"))
    a.join(b, idCol)
      .agg(count(lit(1)).as("n"),
        sum(when(col("__a") && col("__b"), 1L).otherwise(0L)).as("n11"),
        sum(when(col("__a") && !col("__b"), 1L).otherwise(0L)).as("n10"),
        sum(when(!col("__a") && col("__b"), 1L).otherwise(0L)).as("n01"),
        sum(when(!col("__a") && !col("__b"), 1L).otherwise(0L)).as("n00"))
      .withColumn("po",
        (col("n11") + col("n00")).cast("double") / col("n"))
      .withColumn("pe", expr(
        "(cast(n11 + n10 as double) * (n11 + n01) " +
          "+ cast(n01 + n00 as double) * (n10 + n00)) " +
          "/ (cast(n as double) * n)"))
      .withColumn("kappa",
        when(col("pe") < 1.0, (col("po") - col("pe")) / (lit(1.0) - col("pe")))
          .otherwise(lit(0.0)))
  }

  /** Source-concentration Gini over per-source token mass — the
    * Lorenz-curve number for "is this corpus a few giant crawls with
    * garnish, or genuinely mixed?" that mixture planners gate on
    * before setting per-source temperatures. Exact integer form of
    * the sorted-array identity `G = sum_i (2i - n - 1) x_i / (n sum
    * x)` with ascending (tokens, source) order.
    *
    * 100 TB plan: the corpus collapses to a source-count-sized frame
    * in ONE map-side-combined aggregate before anything else; the
    * rank window orders that frame only (bounded by source
    * cardinality — thousands, not rows), and the numerator is an
    * exact BIGINT sum. The micro divide runs as two-step integer
    * Horner (×1000 twice) so every intermediate stays ≤ 1000·n·T:
    * a single ×1e6 multiply overflows int64 once n_sources ×
    * total_tokens > ~9.2e12 (a trillion-token corpus with a handful
    * of sources trips it — r14 advice #2); the split form is exact
    * to n·T ~ 9.2e15. Output: one row (n_sources, total_tokens,
    * gini_micro).
    */
  /** Empirical vocabulary-growth curve — the measured points behind
    * the Heaps FIT (heapsFit gives the power law; this gives the raw
    * curve a tokenizer owner eyeballs): at id-range checkpoints
    * (25/50/75/100% of the doc-id span — RANGE checkpoints by
    * contract, not rank, so no corpus-sized window is ever needed),
    * the prefix's doc count, token count, and DISTINCT-type count.
    *
    * The one-pass trick: a type is in the prefix vocabulary iff its
    * FIRST document is — so one vocabulary aggregate carrying
    * `min(doc_id)` per term answers every checkpoint with conditional
    * sums; the corpus is scanned once, the vocabulary never twice.
    *
    * 100 TB plan: one token explode → (term, min_doc) vocabulary
    * aggregate (map-side combined, Heaps-sublinear output) + one
    * doc-grain aggregate for the doc/token prefix counts; checkpoint
    * cuts are scalar broadcast literals derived from the id span.
    * Output: one row per checkpoint — (pct, id_cut, n_docs,
    * n_tokens, vocab_size).
    */
  def vocabGrowthCurve(docs: DataFrame, idCol: String = "doc_id",
                       textCol: String = "text"): DataFrame = {
    val terms = docs
      .select(col(idCol).as("__id"),
        explode(split(col(textCol), " ")).as("term"))
    val vocab = terms.groupBy("term").agg(min("__id").as("__first"))
    val span = docs.agg(min(col(idCol)).as("__lo"), max(col(idCol)).as("__hi"))
    val cuts = span.select(explode(expr(
        "transform(array(25, 50, 75, 100), " +
          "p -> struct(cast(p as bigint) AS pct, " +
          "__lo + (__hi - __lo) * p div 100 AS id_cut))")).as("c"))
      .select(col("c.pct"), col("c.id_cut"))
    val perDoc = docs.select(col(idCol).as("__id"),
      size(split(col(textCol), " ")).cast("long").as("__t"))
    val dstats = cuts.join(perDoc, perDoc("__id") <= cuts("id_cut"))
      .groupBy("pct", "id_cut")
      .agg(count(lit(1)).as("n_docs"), sum("__t").as("n_tokens"))
    val vstats = cuts.join(vocab, vocab("__first") <= cuts("id_cut"))
      .groupBy(col("pct").as("__p"))
      .agg(count(lit(1)).as("vocab_size"))
    dstats.join(vstats, col("pct") === col("__p"))
      .select(col("pct"), col("id_cut"), col("n_docs"), col("n_tokens"),
        col("vocab_size"))
  }

  /** Lognormal fit of the document-length distribution — the third
    * corpus-shape law next to the Zipf and Heaps fits: natural text
    * lengths are approximately lognormal, so (μ, σ) of ln(tokens)
    * summarize the whole shape in two numbers, and the predicted
    * median `e^μ` against the OBSERVED median is the one-glance
    * goodness check (a crawler emitting truncated pages bends it
    * immediately).
    *
    * Exactness: per doc, ln(tokens) quantizes ONCE to integer
    * MILLI-nats (the coarser grain keeps the squared sum inside
    * int64 to ~2e10 docs — bound documented, shard-and-add escape);
    * μ/σ derive from three exact BIGINT moments with one fixed IEEE
    * sequence; the observed median is an exact `cum·2 ≥ n` rank pick
    * over the count-of-counts length histogram (bounded, Heaps-ish
    * distinct lengths).
    *
    * 100 TB plan: ONE scan to per-doc token counts; the moments are
    * one map-side-combined aggregate and the median rides the
    * bounded length histogram. Output: one row — (n_docs, mu_milli,
    * sigma_milli, median_obs, median_pred).
    */
  def lengthLognormalFit(docs: DataFrame,
                         textCol: String = "text"): DataFrame = {
    val lens = docs
      .select(size(split(col(textCol), " ")).cast("long").as("__t"))
      .filter(col("__t") >= 1L)
      .withColumn("__l", expr(
        "cast(floor(ln(cast(__t as double)) * 1000.0 + 0.5) as bigint)"))
    val hist = lens.groupBy("__t").agg(count(lit(1)).as("__m"),
      max("__l").as("__l1"))
    val wspec = org.apache.spark.sql.expressions.Window
    val w = wspec.orderBy(col("__t").asc)
      .rowsBetween(wspec.unboundedPreceding, wspec.currentRow)
    val med = hist
      .withColumn("__cum", sum("__m").over(w))
      .withColumn("__n", sum("__m").over(
        wspec.rowsBetween(wspec.unboundedPreceding,
          wspec.unboundedFollowing)))
      .filter(expr("__cum * 2 >= __n"))
      .agg(min("__t").as("median_obs"))
    hist
      .groupBy()
      .agg(sum("__m").as("n_docs"),
        sum(expr("__l1 * __m")).as("__sl"),
        sum(expr("__l1 * __l1 * __m")).as("__sl2"))
      .withColumn("mu_milli", expr("__sl div n_docs"))
      .withColumn("sigma_milli", expr(
        "cast(floor(sqrt((cast(n_docs as double) * cast(__sl2 as double) " +
          "- cast(__sl as double) * cast(__sl as double)) " +
          "/ (cast(n_docs as double) * cast(n_docs as double))) + 0.5) " +
          "as bigint)"))
      .crossJoin(broadcast(med))
      .withColumn("median_pred", expr(
        "cast(floor(exp(cast(mu_milli as double) / 1000.0) + 0.5) as bigint)"))
      .select(col("n_docs"), col("mu_milli"), col("sigma_milli"),
        col("median_obs"), col("median_pred"))
  }

  /** Gini concentration of per-entity activity — [[sourceGini]]'s
    * formula lifted from the |sources|-bounded frame to an UNBOUNDED
    * entity population WITHOUT sorting it: users with equal activity
    * c form a run in the sorted order, and the run's rank-weighted
    * contribution collapses to the closed form `c·m·(2s + m)` (m =
    * run size, s = users before the run), so the whole statistic
    * rides the count-of-counts histogram — bounded by DISTINCT
    * activity levels, never |users|. Same two-step integer Horner to
    * exact micro as sourceGini (identical int64 bound:
    * n_users·total_events ≲ 9.2e15; shard beyond).
    *
    * 100 TB plan: one shuffle to entity grain, one map-side-combined
    * count-of-counts aggregate, windows only on THAT bounded frame.
    * Output: one row — (n_users, total_events, gini_micro).
    */
  def activityGini(events: DataFrame, keyCol: String): DataFrame = {
    val per = events.groupBy(col(keyCol)).agg(count(lit(1)).as("__c"))
    val coc = per.groupBy("__c").agg(count(lit(1)).as("__m"))
    val wg = org.apache.spark.sql.expressions.Window
    val cum = coc.withColumn("__s",
      coalesce(sum("__m").over(wg.orderBy(col("__c").asc)
        .rowsBetween(wg.unboundedPreceding, -1)), lit(0L)))
    cum
      .agg(sum("__m").as("n_users"),
        sum(expr("__c * __m")).as("total_events"),
        sum(expr("__c * __m * (2 * __s + __m)")).as("__wsum"))
      .withColumn("__num", expr("__wsum - n_users * total_events"))
      .withColumn("__den", expr("n_users * total_events"))
      .withColumn("__mm", expr("__num * 1000 div __den"))
      .select(col("n_users"), col("total_events"),
        expr("__mm * 1000 + (__num * 1000 - __mm * __den) * 1000 div __den")
          .as("gini_micro"))
  }

  /** Lorenz-curve decile table — [[activityGini]]'s one-number
    * concentration unpacked into the 10 points an allocation review
    * actually reads ("the bottom 50% of users produce X% of events"):
    * entities sorted by ascending activity, the cumulative event
    * share at each population-decile boundary. Same plan class as
    * the gini: the unbounded entity population is NEVER sorted —
    * equal-activity runs collapse to the count-of-counts histogram,
    * cumulative users/events are windows on THAT bounded frame, and
    * decile d reports the smallest run prefix covering d/10 of
    * entities (ties land whole runs, stated: a decile boundary
    * inside a run takes the run's full cumulative — exact under the
    * ≥-boundary rule, no interpolation). All columns exact BIGINT;
    * the share is an exact floor quotient in ppm.
    *
    * 100 TB plan: one shuffle to entity grain, one map-side-combined
    * count-of-counts aggregate, windows + the 10-literal boundary
    * join on the distinct-activity frame. Output: 10 rows —
    * (decile, cum_users, cum_events, cum_events_ppm).
    */
  def lorenzDeciles(events: DataFrame, keyCol: String): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val per = events.groupBy(col(keyCol)).agg(count(lit(1)).as("__c"))
    val coc = per.groupBy("__c").agg(count(lit(1)).as("__m"))
    val wg = org.apache.spark.sql.expressions.Window
      .orderBy(col("__c").asc)
      .rowsBetween(wgUnbounded, 0)
    val cum = coc
      .withColumn("__su", sum("__m").over(wg))
      .withColumn("__se", sum(expr("__c * __m")).over(wg))
    val tot = cum.agg(max("__su").as("__nu"), max("__se").as("__ne"))
    val deciles = (1L to 10L).toDF("decile")
    cum.crossJoin(broadcast(tot))
      .crossJoin(broadcast(deciles))
      .filter(col("__su") * 10L >= col("__nu") * col("decile"))
      .groupBy("decile")
      .agg(min(struct(col("__su"), col("__se"), col("__ne"))).as("__b"))
      .select(col("decile"), col("__b.__su").as("cum_users"),
        col("__b.__se").as("cum_events"),
        expr("__b.__se * 1000000 div __b.__ne").as("cum_events_ppm"))
      .orderBy("decile")
  }

  private def wgUnbounded: Long =
    org.apache.spark.sql.expressions.Window.unboundedPreceding

  def sourceGini(docs: DataFrame, sourceCol: String = "source",
                 textCol: String = "text"): DataFrame = {
    val per = docs
      .select(col(sourceCol),
        size(split(col(textCol), " ")).cast("long").as("__t"))
      .groupBy(sourceCol).agg(sum("__t").as("n_tokens"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_tokens").asc, col(sourceCol).asc)
    per.withColumn("__i", row_number().over(w).cast("long"))
      .agg(count(lit(1)).as("n_sources"),
        sum("n_tokens").as("total_tokens"),
        sum(expr("(2 * __i - 1) * n_tokens")).as("__wsum"))
      // Σ(2i-n-1)x = Σ(2i-1)x - n·Σx, so the window needs no n;
      // Horner: milli first, then the milli remainder to micro —
      // exact (floor((w-D)·1e6/D) = m·1000 + floor(rem·1000/D)).
      .withColumn("__num", expr("__wsum - n_sources * total_tokens"))
      .withColumn("__den", expr("n_sources * total_tokens"))
      .withColumn("__m", expr("__num * 1000 div __den"))
      .select(col("n_sources"), col("total_tokens"),
        expr("__m * 1000 + (__num * 1000 - __m * __den) * 1000 div __den")
          .as("gini_micro"))
  }

  /** L2-normalized hashed-TF document vectors — the feature-hashing
    * trick (Weinberger et al. 2009) that turns TEXT into a
    * fixed-width dense vector with no vocabulary table: token counts
    * fold into `dim` md5 buckets, then normalize so clustering sees
    * topic shape, not document length. The bridge from the text layer
    * to every embedding-side operator (k-means, prototypes,
    * outliers) when no learned embeddings exist yet.
    *
    * 100 TB plan: token explode -> ONE (doc × dim)-grain map-side-
    * combined count -> per-doc assembly of a `dim`-element array (the
    * per-doc HOFs run over `dim` elements, not tokens — bounded work
    * per row). No vocabulary-sized state anywhere. Output: (vec_id,
    * embedding) — named for direct composition with the AnnSearch
    * family.
    */
  def docTfVectors(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text",
                   dim: Int = docTfDim): DataFrame = {
    require(dim > 0 && dim <= embDim,
      s"dim must be in (0, $embDim]: $dim (centroid init strides the lattice)")
    val toks = docs
      .select(col(idCol).as("vec_id"),
        explode(split(col(textCol), " ")).as("__t"))
      .withColumn("__d", expr(s"(${hexDecode4("md5(__t)")}) % $dim"))
    toks.groupBy("vec_id", "__d").agg(count(lit(1)).as("__c"))
      .groupBy("vec_id")
      .agg(collect_list(struct(col("__d").cast("int").as("k"),
        col("__c").as("v"))).as("__m"))
      .withColumn("__raw", expr(
        s"transform(sequence(0, ${dim - 1}), d -> " +
          "cast(coalesce(element_at(map_from_entries(__m), d), 0) as double))"))
      .withColumn("__nn", sqrt(expr(
        "aggregate(__raw, cast(0 as double), (a, x) -> a + x * x)")))
      .filter(col("__nn") > 0)
      .withColumn("embedding", expr("transform(__raw, x -> x / __nn)"))
      .select(col("vec_id"), col("embedding"))
  }

  /** Document TOPIC clustering: Lloyd k-means over [[docTfVectors]] —
    * unsupervised corpus structure with zero model dependencies, the
    * poor-man's topic model a curation pipeline uses for
    * cluster-balanced sampling and SemDeDup-style pruning when no
    * encoder has run yet. Inherits [[AnnSearch.kmeansAssign]]'s exact
    * integer-fold scoring (assignments replay engine-identically in
    * any partition order). Output: (doc_id, bucket).
    */
  def docClusters(docs: DataFrame, k: Int = docClusterK, iters: Int = 2,
                  idCol: String = "doc_id", textCol: String = "text",
                  dim: Int = docTfDim): DataFrame =
    AnnSearch.kmeansAssign(docTfVectors(docs, idCol, textCol, dim),
        k = k, iters = iters, dim = dim)
      .select(col("vec_id").as(idCol), col("bucket"))

  /** Per-source topic diversity over the [[docClusters]] assignment —
    * the mixture-health report behind "is this source one big
    * boilerplate topic or a broad slice": Shannon entropy of each
    * source's cluster distribution in exact micro-nats (the
    * [[charEntropy]] per-term quantization — each (source, cluster)
    * term integer-quantizes BEFORE the order-free sum, so the result
    * is partition- and engine-exact), plus the effective cluster
    * count `exp(H)` (Hill number of order 1 — "this source behaves
    * like N equally-sized topics"). Documents whose TF vector is
    * zero-norm (empty text) carry no cluster and are excluded, same
    * as the assignment itself.
    *
    * 100 TB plan: the clustering is the shared bounded-driver Lloyd
    * path; the diversity rollup touches only the (source x k)-row
    * count frame — one map-side-combined aggregate, a window over
    * <= k rows per source, one k-row-per-source reduce. Output: one
    * row per source — (source, n_docs, n_clusters, entropy_micro,
    * effective_clusters_micro).
    */
  def clusterDiversity(docs: DataFrame, k: Int = docClusterK,
                       iters: Int = 2, idCol: String = "doc_id",
                       textCol: String = "text",
                       sourceCol: String = "source",
                       dim: Int = docTfDim): DataFrame = {
    val assign = docClusters(docs, k, iters, idCol, textCol, dim)
    val counts = docs.select(col(idCol), col(sourceCol))
      .join(assign, idCol)
      .groupBy(col(sourceCol), col("bucket"))
      .agg(count(lit(1)).as("__c"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(sourceCol)
    counts
      .withColumn("__n", sum("__c").over(w))
      .withColumn("__t", expr(
        "cast(floor(__c * ln(cast(__n as double) / __c) * 1000000 + 0.5) " +
          "as bigint)"))
      .groupBy(col(sourceCol))
      .agg(max("__n").as("n_docs"),
        count(lit(1)).as("n_clusters"),
        sum("__t").as("__h"))
      .withColumn("entropy_micro", expr("__h div n_docs"))
      .withColumn("effective_clusters_micro", expr(
        "cast(floor(exp(cast(entropy_micro as double) / 1000000) " +
          "* 1000000 + 0.5) as bigint)"))
      .select(col(sourceCol), col("n_docs"), col("n_clusters"),
        col("entropy_micro"), col("effective_clusters_micro"))
  }

  /** Per-source quality PERCENTILE normalization — the cross-source
    * score calibration every mixed-corpus curation needs: a 0.7
    * quality from a boilerplate-heavy crawl and a 0.7 from a curated
    * source mean different things, so thresholds are set per source
    * in percentile space (`pct_micro = #(docs in source with score <=
    * mine) · 1e6 / n_source` — the standard CDF value-rank, ties
    * share a percentile).
    *
    * 100 TB plan: deliberately NO doc-grain window — a per-source
    * `row_number` would serialize the hottest source into one sort
    * partition. Instead the CDF computes at (source × distinct
    * micro-score) grain: one map-side-combined count aggregate, a
    * cumulative window over score-grain rows (bounded by the 1e6+1
    * micro domain per source BY QUANTIZATION, not by data), and a
    * (source, score)-keyed join back. All sums exact BIGINTs. Output:
    * (doc_id, source, q_micro, cum_le, n_source, pct_micro).
    */
  def qualityPercentileBySource(docs: DataFrame, idCol: String = "doc_id",
                                textCol: String = "text",
                                sourceCol: String = "source"): DataFrame = {
    val scored = withQualityColumns(docs, textCol)
      .select(col(idCol), col(sourceCol),
        expr("cast(floor(quality * 1000000 + 0.5) as bigint)").as("q_micro"))
      .persist() // distribution, totals, and join-back share it
    val dist = scored.groupBy(sourceCol, "q_micro")
      .agg(count(lit(1)).as("__c"))
    val cumW = org.apache.spark.sql.expressions.Window
      .partitionBy(sourceCol).orderBy(col("q_micro").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cum = dist.withColumn("cum_le", sum("__c").over(cumW))
      .select(col(sourceCol), col("q_micro"), col("cum_le"))
    val totals = scored.groupBy(sourceCol).agg(count(lit(1)).as("n_source"))
    scored.join(cum, Seq(sourceCol, "q_micro"))
      .join(totals, sourceCol)
      .withColumn("pct_micro", expr("cum_le * 1000000 div n_source"))
      .select(col(idCol), col(sourceCol), col("q_micro"), col("cum_le"),
        col("n_source"), col("pct_micro"))
  }

  /** Overlapping token-window chunking — the retrieval-side splitter
    * (RAG indexing, long-document truncation): windows of `size`
    * whitespace tokens advancing by `stride` (stride < size =
    * overlap), one row per chunk, chunk 0 always present (empty-text
    * docs yield one empty chunk; null text yields none, like every
    * split-based operator here). Start offsets are `0, stride,
    * 2*stride, ...` strictly below the token count, so the final
    * window may be short but never empty.
    *
    * 100 TB plan: one projection + one explode of builtin expressions
    * (sequence/slice/array_join — all codegen'd, no UDF), zero
    * shuffles; output size is `ceil(n/stride)` rows per doc, linear in
    * the corpus. Pairs with [[Sampling.packSequences]] downstream:
    * chunk here, pack the chunks to the training context length
    * there. Output: (doc_id, chunk_idx, start_token, n_chunk_tokens,
    * chunk_text).
    */
  def chunkTokens(docs: DataFrame, size: Int = 32, stride: Int = 24,
                  idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    require(size > 0 && stride > 0, s"size/stride must be positive")
    docs
      // null text chunks to nothing — made explicit here because the
      // start-offset arithmetic below (greatest with a null size)
      // would otherwise fabricate a chunk 0 for it
      .filter(col(textCol).isNotNull)
      .withColumn("__w", split(col(textCol), " "))
      .withColumn("__n", org.apache.spark.sql.functions.size(col("__w")))
      .withColumn("start_token",
        explode(sequence(lit(0), greatest(col("__n") - 1, lit(0)), lit(stride))))
      .withColumn("chunk_idx", (col("start_token") / stride).cast("long"))
      .withColumn("n_chunk_tokens",
        least(lit(size), col("__n") - col("start_token")).cast("long"))
      .withColumn("chunk_text",
        array_join(slice(col("__w"), col("start_token") + 1, lit(size)), " "))
      .select(col(idCol), col("chunk_idx"),
        col("start_token").cast("long").as("start_token"),
        col("n_chunk_tokens"), col("chunk_text"))
  }

  /** The first BPE merge-candidate count (Sennrich et al. 2016): the
    * top-k adjacent CHARACTER pairs by corpus frequency — iteration
    * zero of byte-pair-encoding tokenizer training, and the
    * vocabulary-health probe ("which merges would a tokenizer learn
    * from THIS corpus first").
    *
    * The classic BPE trick is the scale story: pair counting runs
    * over the word VOCABULARY weighted by word counts — the corpus
    * collapses to (word, freq) first (map-side-combined,
    * Heaps-sublinear), and the char-pair explode touches each
    * DISTINCT word once regardless of how often it occurs. TakeOrdered
    * cuts k. Output: (ch_a, ch_b, n_pairs, rank).
    */
  def bpeFirstMerges(docs: DataFrame, k: Int = 50,
                     textCol: String = "text"): DataFrame = {
    val vocab = docs
      .select(explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("__f"))
    vocab
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), " +
          "i -> struct(substring(w, i, 1) AS ch_a, " +
          "substring(w, i + 1, 1) AS ch_b))")).as("__p"), col("__f"))
      .groupBy(col("__p.ch_a"), col("__p.ch_b"))
      .agg(sum("__f").as("n_pairs"))
      .orderBy(col("n_pairs").desc, col("ch_a").asc, col("ch_b").asc)
      .limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("n_pairs").desc, col("ch_a").asc, col("ch_b").asc))
        .cast("long"))
  }

  /** ITERATIVE BPE training (Sennrich et al. 2016) — the full merge
    * loop [[bpeFirstMerges]] is iteration zero of: each step counts
    * adjacent SYMBOL pairs over the (word, freq) vocabulary, merges
    * the most frequent pair (ties by (pair) ascending) in every
    * word's spelling, and repeats. The merge application is the
    * textbook greedy leftmost-non-overlapping fold ("a a a a" with
    * merge (a,a) becomes "aa aa"), spelled as an `aggregate` HOF so
    * it runs as one codegen'd projection over the vocabulary.
    *
    * 100 TB plan: the corpus is scanned ONCE (the word-count
    * aggregate); every iteration after that touches only the
    * Heaps-bounded vocabulary — pair counts map-side combine, the
    * argmax is a 1-row TakeOrdered probe (the bounded-collect class),
    * and the re-spelling is a row-local projection. Each iteration's
    * vocabulary is persisted and the previous one released, so
    * lineage stays one step deep. Not SQL-expressible as one query
    * (data-dependent literals drive each iteration), so this is a
    * spec surface — parity is pinned against an in-memory textbook
    * implementation, not a DuckDB oracle. Output: one row per merge —
    * (step, sym_a, sym_b, merged, n_pairs).
    */
  def bpeTrain(docs: DataFrame, nMerges: Int = 10,
               textCol: String = "text"): DataFrame = {
    require(nMerges > 0, s"nMerges must be positive: $nMerges")
    val spark = docs.sparkSession
    import spark.implicits._
    def esc(s: String) = s.replace("\\", "\\\\").replace("'", "\\'")
    var vocab = docs
      .select(explode(split(col(textCol), " ")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("__f"))
      .withColumn("__syms", expr(
        "transform(sequence(1, length(w)), i -> substring(w, i, 1))"))
      .persist()
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, String, Long)]
    var step = 1
    var done = false
    while (step <= nMerges && !done) {
      // guard: a fully-merged (single-symbol) word has no pairs —
      // sequence(1, 0) would run BACKWARDS and index __syms[-1]
      val top = vocab
        .filter(size(col("__syms")) >= 2)
        .select(col("__f"), explode(expr(
          "transform(sequence(1, size(__syms) - 1), " +
            "i -> struct(__syms[i - 1] AS a, __syms[i] AS b))")).as("__p"))
        .groupBy(col("__p.a"), col("__p.b"))
        .agg(sum("__f").as("n"))
        .orderBy(col("n").desc, col("a").asc, col("b").asc)
        .limit(1) // 1-row bounded probe, the greedy-assignment class
        .collect()
      if (top.isEmpty) done = true
      else {
        val (a, b, n) = (top.head.getString(0), top.head.getString(1),
          top.head.getLong(2))
        val ab = a + b
        merges += ((step.toLong, a, b, ab, n))
        // textbook greedy leftmost-non-overlapping merge as a fold:
        // append, or fuse with the accumulator's tail when it is `a`
        // and the incoming symbol is `b`
        val next = vocab.withColumn("__syms", expr(
          s"""aggregate(__syms, cast(array() as array<string>),
             |  (acc, x) -> CASE WHEN size(acc) > 0
             |      AND element_at(acc, -1) = '${esc(a)}' AND x = '${esc(b)}'
             |    THEN concat(slice(acc, 1, size(acc) - 1), array('${esc(ab)}'))
             |    ELSE concat(acc, array(x)) END)""".stripMargin))
          .persist()
        next.count() // materialize before releasing the parent
        vocab.unpersist()
        vocab = next
        step += 1
      }
    }
    vocab.unpersist()
    merges.toSeq.toDF("step", "sym_a", "sym_b", "merged", "n_pairs")
  }

  /** Tokenizer APPLICATION + fertility report — the consumer side of
    * [[bpeTrain]]: encode the corpus with a learned merge list and
    * report tokens-per-word fertility per group (per language is the
    * classic use: fertility imbalance is THE tokenizer-equity metric).
    * Encoding semantics are the training replay BY DEFINITION: each
    * ranked merge is applied once, in rank order, as the same greedy
    * leftmost-non-overlapping fold training used — so re-encoding the
    * training corpus reproduces training's final vocabulary spellings
    * exactly (spec-pinned against the in-memory textbook reference;
    * this differs from encoders that re-scan for the lowest-rank
    * applicable pair until fixpoint, and is stated contract).
    *
    * 100 TB plan: the same BPE trick as training — the corpus
    * collapses to the (group, word, freq) vocabulary first
    * (map-side-combined, Heaps-sublinear), each distinct word is
    * encoded ONCE regardless of its count, and all `merges.size`
    * folds compose into one codegen'd projection (no action, no
    * persist between steps, lineage depth one). Not one-query-SQL
    * (the merge list is data-dependent literals), so this is a spec
    * surface like [[bpeTrain]]. Output: one row per group —
    * (group, n_words, n_tokens, fertility_micro).
    */
  def bpeEncodeStats(docs: DataFrame, merges: Seq[(String, String)],
                     groupCol: String = "lang",
                     textCol: String = "text"): DataFrame = {
    // one JIT'd kernel applying the WHOLE merge list per distinct
    // word, replacing merges.size nested interpreted aggregate()
    // lambdas (the WordShinglesExpression lesson; fold-identical —
    // see BpeEncodeExpression)
    val enc = docs
      .select(col(groupCol).as("group"),
        explode(split(col(textCol), " ")).as("w"))
      .groupBy("group", "w").agg(count(lit(1)).as("__f"))
      .withColumn("__syms", BpeEncodeExpression.encode(col("w"), merges))
    enc.groupBy("group")
      .agg(sum(col("__f")).as("n_words"),
        sum(col("__f") * size(col("__syms"))).as("n_tokens"))
      .withColumn("fertility_micro", expr("n_tokens * 1000000 div n_words"))
      .select(col("group").as(groupCol), col("n_words"), col("n_tokens"),
        col("fertility_micro"))
  }

  /** Top-k collocations by pointwise mutual information (Church &
    * Hanks 1990) — the corpus-analytics dual of [[tokenFrequency]]:
    * adjacent token pairs ranked by how much more often they co-occur
    * than their unigram frequencies predict,
    * `pmi = ln(P(xy) / (P(x) P(y)))` with `P(xy) = c_xy / N_pairs`
    * and `P(x) = c_x / N_tokens`. The `minCount` floor drops the
    * unstable singleton-pair tail (classic PMI failure mode: a pair
    * seen once between two rare words maxes the score).
    *
    * Replay: the PMI argument is one rational
    * (`c_xy * N * N / (c_x * c_y * N_p)`) evaluated in a fixed
    * association, `ln` on rationals is bit-identical cross-engine
    * (the BM25/surprisal precedent), and the score quantizes to
    * micro-nats per pair before ranking.
    *
    * 100 TB plan: one positional pair explode into a map-side-
    * combined bigram-vocabulary aggregate (the same Heaps-law-
    * sublinear frame class as [[tokenFrequency]]'s unigrams), two
    * term-keyed joins of the unigram counts, scalar totals attached
    * by broadcast, TakeOrdered k. No window touches more than k rows.
    * Output: (tok_a, tok_b, n_pair, n_a, n_b, pmi_micro, rank).
    */
  def collocationsTopK(docs: DataFrame, k: Int = 50, minCount: Int = 5,
                       textCol: String = "text"): DataFrame = {
    val toks = docs.select(split(col(textCol), " ").as("__w"))
    val uni = toks.select(explode(col("__w")).as("token"))
      .groupBy("token").agg(count(lit(1)).as("__c"))
    val pairs = toks
      .filter(size(col("__w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, size(__w) - 1), " +
          "i -> struct(__w[i - 1] AS tok_a, __w[i] AS tok_b))")).as("__p"))
      .select(col("__p.tok_a"), col("__p.tok_b"))
      .groupBy("tok_a", "tok_b").agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= minCount)
    val totals = uni.agg(sum("__c").as("__n")).crossJoin(
      pairs.agg(sum("n_pair").as("__np")))
    pairs
      .join(uni.select(col("token").as("tok_a"), col("__c").as("n_a")), "tok_a")
      .join(uni.select(col("token").as("tok_b"), col("__c").as("n_b")), "tok_b")
      .crossJoin(broadcast(totals))
      .withColumn("pmi_micro", expr(
        "cast(floor(ln((cast(n_pair as double) * __n * __n) " +
          "/ (cast(n_a as double) * n_b * __np)) * 1000000 + 0.5) as bigint)"))
      .orderBy(col("pmi_micro").desc, col("tok_a").asc, col("tok_b").asc)
      .limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("pmi_micro").desc, col("tok_a").asc, col("tok_b").asc))
        .cast("long"))
      .select("tok_a", "tok_b", "n_pair", "n_a", "n_b", "pmi_micro", "rank")
  }

  /** Deterministic HyperLogLog vocabulary estimate WITH its exactness
    * audit (Flajolet et al. 2007) — the distinct-count answer that
    * needs NO vocabulary shuffle: the sketch is a 64-bucket max-rank
    * aggregate (map-side combined, 64 rows cross the wire regardless
    * of corpus size), where a naive `count(distinct token)` exchanges
    * the whole vocabulary. The audit column computes the exact
    * distinct count next to the estimate at test SF; at 100 TB you
    * keep the sketch and drop the audit pass — this entry exists to
    * MEASURE the estimator, like `dedup_minhash_audit` does for
    * MinHash.
    *
    * Replayability: everything derives from `md5(token)` — bucket =
    * top 16 bits mod 64, rank = leading-zero count of the next 112
    * bits (capped at 30) computed with hex-digit string arithmetic,
    * the register combine is an integer `max`, and the raw estimate
    * `alpha_64 * 64^2 / Z` is evaluated as ONE integer division with
    * `Z` pre-scaled by 2^30 — no float ever enters an aggregation, so
    * the result is independent of partitioning AND engine. The RAW
    * estimator is emitted (no small-range linear-counting correction
    * — documented; the audit's error column is the point). Output,
    * one row: (m, n_buckets_seen, z_scaled, est_distinct,
    * exact_distinct, abs_err_micro).
    */
  private val hllM = 64
  private val hllCap = 30
  // alpha_64 = 0.7213 / (1 + 1.079/64) = 461632/650790 exactly
  // (both sides scaled by 1e4 * 64); est = alpha * m^2 * 2^cap / z
  private val hllNum = 461632L * 4096L // * 2^30 applied in-SQL

  /** (bucket, capped leading-zero rank) per token — the HLL register
    * update stream, pure md5 hex-digit arithmetic. `keep` = columns
    * carried through (e.g. the source for the per-source sketch). */
  private def hllSketchRows(tok: DataFrame, keep: Seq[String]): DataFrame = {
    val d = s"(instr('0123456789abcdef', substring(__s, 1, 1)) - 1)"
    tok
      .withColumn("__h", md5(col("token")))
      .withColumn("__b", expr(s"(${hexDecode4("__h")}) % $hllM"))
      .withColumn("__s", expr("trim(LEADING '0' FROM substring(__h, 5, 28))"))
      .withColumn("__rho", expr(
        s"""CASE WHEN __s = '' THEN $hllCap
           |ELSE least($hllCap, (28 - length(__s)) * 4 +
           |  (CASE WHEN $d >= 8 THEN 0 WHEN $d >= 4 THEN 1
           |        WHEN $d >= 2 THEN 2 ELSE 3 END) + 1)
           |END""".stripMargin))
      .select((keep.map(col) :+ col("__b") :+ col("__rho")): _*)
  }

  /** Registers (groupCols + __b -> max rho) rolled into one estimate
    * row per group: (groupCols..., n_buckets_seen, z_scaled,
    * est_distinct). */
  private def hllEstimate(registers: DataFrame,
                          groupCols: Seq[String]): DataFrame = {
    val grouped =
      if (groupCols.isEmpty) registers.groupBy()
      else registers.groupBy(groupCols.map(col): _*)
    grouped
      .agg(count(lit(1)).as("n_buckets_seen"),
        sum(expr(s"shiftleft(cast(1 as bigint), cast($hllCap - __M as int))"))
          .as("__zp"))
      .withColumn("z_scaled",
        coalesce(col("__zp"), lit(0L)) +
          (lit(hllM.toLong) - col("n_buckets_seen"))
            * expr(s"shiftleft(cast(1 as bigint), $hllCap)"))
      .withColumn("est_distinct",
        expr(s"(cast($hllNum as bigint) * shiftleft(cast(1 as bigint), $hllCap))" +
          s" div (650790 * z_scaled)"))
      .select((groupCols.map(col) :+ col("n_buckets_seen")
        :+ col("z_scaled") :+ col("est_distinct")): _*)
  }

  def vocabHllAudit(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val tok = docs.select(explode(split(col(textCol), " ")).as("token"))
    val registers = hllSketchRows(tok, Seq.empty)
      .groupBy("__b").agg(max("__rho").as("__M"))
    val est = hllEstimate(registers, Seq.empty)
      .select(lit(hllM.toLong).as("m"), col("n_buckets_seen"),
        col("z_scaled"), col("est_distinct"))
    val exact = tok.agg(countDistinct(col("token")).as("exact_distinct"))
    est.crossJoin(broadcast(exact))
      .withColumn("abs_err_micro",
        expr("abs(est_distinct - exact_distinct) * 1000000 div " +
          "greatest(exact_distinct, 1)"))
  }

  /** Grouped HLL distinct-count with exactness audit — the
    * [[vocabHllAudit]] machinery pointed at ANY (group, value) pair:
    * "distinct users per day", "distinct documents per shard" —
    * the classic DAU-class question whose naive answer
    * (`count(distinct)` per group) shuffles every distinct value.
    * Here each group keeps 64 integer max-registers (map-side
    * combined, 64 x |groups| rows cross the wire) and the exact
    * column is the AUDIT, dropped at production scale. Same
    * digit-exact md5 derivation as the vocabulary sketch. Output:
    * one row per group — (group, n_buckets_seen, z_scaled,
    * est_distinct, exact_distinct, abs_err_micro).
    */
  def hllDistinctByGroup(df: DataFrame, groupCol: String,
                         valueCol: String): DataFrame = {
    val tok = df.select(col(groupCol).as("group"),
      col(valueCol).cast("string").as("token"))
    val registers = hllSketchRows(tok, Seq("group"))
      .groupBy("group", "__b").agg(max("__rho").as("__M"))
    val est = hllEstimate(registers, Seq("group"))
    val exact = tok.groupBy("group")
      .agg(countDistinct(col("token")).as("exact_distinct"))
    est.join(exact, "group")
      .withColumn("abs_err_micro",
        expr("abs(est_distinct - exact_distinct) * 1000000 div " +
          "greatest(exact_distinct, 1)"))
  }

  /** Poisson-bootstrap replicate means for a per-document metric —
    * the distributed answer to "what is the sampling error on this
    * corpus statistic": classical bootstrap resampling (n draws with
    * replacement, B times) cannot run on a distributed corpus without
    * B shuffled resamples, but Poissonization (online bagging, Oza &
    * Russell 2001; the production pattern for bootstrap at scale)
    * replaces the multinomial with independent per-row
    * Poisson(1) weights — every replicate becomes a WEIGHTED SUM, and
    * all B replicates ride ONE corpus scan as 2B map-side-combined
    * aggregate expressions. No shuffle of data rows at all: the only
    * exchange carries 2B+2 partial sums.
    *
    * Replay contract: the replicate-b weight of a document is
    * deterministic — a 32-bit md5 draw (`boot<b>:<id>`, the
    * [[Sampling]] draw discipline) mapped to micro-uniform, then the
    * count of [[LlmDataParams.poissonCumMicro]] thresholds it
    * reaches; exact integer arithmetic on both engines. Replicate 0
    * is the unweighted point estimate. Means are exact integer
    * micro-units. Percentile CI = rank picks over the B replicate
    * mean rows (min/max at B=20 ≈ a 90% interval) — consumer-side,
    * the rows carry everything. Long-sum headroom: `sum_wx` is exact
    * while `n_docs * max_weight * max(x) * 1e6 < 2^63`; weights cap
    * at 9, so a corpus pushing the bound pre-scales the metric (the
    * [[AnnSearch.topComponent]] quantum discipline). Per-row compute
    * is B md5 digests (replay portability buys them); a production
    * corpus that finds the scan compute-bound drops B or swaps the
    * draw to `xxhash64` — losing oracle replay, keeping determinism.
    * Output: B+1 rows — (rep, sum_w, sum_wx, mean_micro), rep 0
    * first.
    */
  def bootstrapMeans(docs: DataFrame, idCol: String = "doc_id",
                     valueCol: String = "n_tokens",
                     reps: Int = bootstrapReps): DataFrame = {
    require(reps >= 1, s"reps must be >= 1, got $reps")
    poissonReplicates(docs.select(col(idCol).cast("string").as("__id"),
      col(valueCol).cast("long").as("__x")), Nil, reps)
  }

  /** The bootstrap operators' replicates over `d` (`__id`, `__x` and the
    * `keys`): replicate b weighs each row by its md5 Poisson draw, and
    * one aggregate per key takes rep 0's unweighted (count, sum) and each
    * replicate's weighted pair, stacked to (B+1) rows per key —
    * (keys, rep, sum_w, sum_wx, mean_micro).
    */
  private def poissonReplicates(d: DataFrame, keys: Seq[String], reps: Int): DataFrame = {
    val weighted = (1 to reps).foldLeft(d) { (acc, b) =>
      // conv()->bigint, NOT the 16-bit hexDecode4 pair: the int
      // `hi * 65536` product would wrap 32-bit Spark arithmetic that
      // DuckDB silently promotes (the sampleWeightedTopK spelling)
      val u32 = s"cast(conv(substring(md5(concat('boot$b:', __id)), " +
        "1, 8), 16, 10) as bigint)"
      acc
        .withColumn(s"__u$b", expr(s"(($u32) * 1000000) div 4294967296"))
        .withColumn(s"__w$b", poissonCumMicro
          .map(t => when(col(s"__u$b") >= t, 1L).otherwise(0L))
          .reduce(_ + _))
    }
    val aggs =
      Seq(count(lit(1)).as("__sw0"), sum(col("__x")).as("__sx0")) ++
        (1 to reps).flatMap(b => Seq(
          sum(col(s"__w$b")).as(s"__sw$b"),
          sum(col(s"__w$b") * col("__x")).as(s"__sx$b")))
    val wide = weighted.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val stacked = (0 to reps)
      .map(b => s"$b, __sw$b, __sx$b").mkString(", ")
    wide
      .select(keys.map(col) :+
        expr(s"stack(${reps + 1}, $stacked) AS (rep, sum_w, sum_wx)"): _*)
      .withColumn("rep", col("rep").cast("long"))
      .withColumn("mean_micro",
        expr("sum_wx * 1000000 div greatest(sum_w, 1)"))
  }

  /** Per-group [[bootstrapMeans]] — the same one-scan Poisson
    * replicates, grouped (per source, per language): each group gets
    * its own B replicate means, so a curator reads "source X's mean
    * quality is 0.61 ± 0.03, source Y's ± 0.15 — X's gate threshold
    * is trustworthy, Y needs more data" from one pass. Weights are
    * the identical md5 draws (group membership does not perturb a
    * document's weight), so a group's replicate sums are EXACTLY the
    * restriction of the corpus-wide pass — sub-corpus results compose
    * (spec-pinned). Scale shape: one map-side-combined groupBy
    * carrying 2B+2 sums per group. Output: (B+1) rows per group —
    * (group, rep, sum_w, sum_wx, mean_micro).
    */
  def bootstrapMeansByGroup(docs: DataFrame, groupCol: String,
                            idCol: String = "doc_id",
                            valueCol: String = "n_tokens",
                            reps: Int = bootstrapReps): DataFrame = {
    require(reps >= 1, s"reps must be >= 1, got $reps")
    poissonReplicates(docs.select(col(groupCol).as("group"),
      col(idCol).cast("string").as("__id"),
      col(valueCol).cast("long").as("__x")), Seq("group"), reps)
  }

  /** Rolling-window grouped HLL distinct-count — the WAU/MAU-class
    * question ("distinct users over the trailing 7 days, per day")
    * that exact SQL cannot answer without re-scanning every window:
    * `count(distinct)` is not window-mergeable, so the naive plan
    * replicates each event into every window it falls in (7x the
    * corpus) and shuffles distinct values per window. Sketches ARE
    * mergeable (Agarwal et al. 2013): each group keeps its 64
    * max-registers ONCE, and a trailing window is just the
    * register-wise max over the window's groups — merging touches
    * 64 x |groups| rows, never the corpus.
    *
    * 100 TB plan: one map-side-combined register aggregate over the
    * events (the [[hllDistinctByGroup]] scan), then every window
    * merge happens on the register frame (64 rows per group) joined
    * against the broadcast distinct-group dimension — replication is
    * bounded by windowSize x 64 x |groups|, calendar-sized, not
    * data-sized. The exact rolling column IS the audit: it replays
    * the replicate-and-distinct plan the sketch avoids, restricted
    * to distinct (group, value) pairs first; it is dropped at
    * production scale. `groupCol` must be numeric (a day index);
    * windows are value-ranges `[g - windowSize + 1, g]` over it.
    * Output: one row per observed group — (group, n_buckets_seen,
    * z_scaled, est_distinct, exact_distinct, abs_err_micro).
    */
  def hllDistinctRolling(df: DataFrame, groupCol: String,
                         valueCol: String, windowSize: Int = 7): DataFrame = {
    require(windowSize >= 1, s"windowSize must be >= 1, got $windowSize")
    val tok = df.select(col(groupCol).cast("long").as("group"),
      col(valueCol).cast("string").as("token"))
    val registers = hllSketchRows(tok, Seq("group"))
      .groupBy("group", "__b").agg(max("__rho").as("__M"))
      .withColumnRenamed("group", "__rg")
    val days = tok.select(col("group").as("__d")).distinct()
    val merged = registers
      .join(broadcast(days),
        col("__rg").between(col("__d") - (windowSize - 1), col("__d")))
      .groupBy("__d", "__b").agg(max("__M").as("__M"))
      .withColumnRenamed("__d", "group")
    val est = hllEstimate(merged, Seq("group"))
    val exact = tok.distinct().withColumnRenamed("group", "__ug")
      .join(broadcast(days),
        col("__ug").between(col("__d") - (windowSize - 1), col("__d")))
      .groupBy("__d").agg(countDistinct(col("token")).as("exact_distinct"))
      .withColumnRenamed("__d", "group")
    est.join(exact, "group")
      .withColumn("abs_err_micro",
        expr("abs(est_distinct - exact_distinct) * 1000000 div " +
          "greatest(exact_distinct, 1)"))
  }

  /** Per-source HLL vocabulary estimates PLUS their union — the
    * mergeable-summaries property (Agarwal et al. 2013) that makes
    * sketches the scale answer: each source keeps its own 64
    * registers, and the CORPUS estimate is just the register-wise max
    * of the per-source registers — no second corpus scan, no
    * vocabulary shuffle, sketches combine across sources / days /
    * shards associatively. The union row (source = '__union') is
    * BY CONSTRUCTION identical to running [[vocabHllAudit]] on the
    * whole corpus (spec-pinned), which is exactly the property a
    * per-shard 100 TB rollup relies on. Output: one row per source +
    * the union row — (source, n_buckets_seen, z_scaled,
    * est_distinct).
    */
  def vocabHllBySource(docs: DataFrame, sourceCol: String = "source",
                       textCol: String = "text"): DataFrame = {
    val tok = docs.select(col(sourceCol).as("source"),
      explode(split(col(textCol), " ")).as("token"))
    val perSource = hllSketchRows(tok, Seq("source"))
      .groupBy("source", "__b").agg(max("__rho").as("__M"))
      .persist() // shared by the per-source rollup and the union merge
    val bySource = hllEstimate(perSource, Seq("source"))
    val union = hllEstimate(
      perSource.groupBy("__b").agg(max("__M").as("__M")), Seq.empty)
      .select(lit("__union").as("source"), col("n_buckets_seen"),
        col("z_scaled"), col("est_distinct"))
    bySource.unionByName(union)
  }

  /** [[vocabHllBySource]] computed the way a 100 TB pipeline actually
    * runs it — per-SHARD sketches merged by register max: each of
    * `shards` disjoint doc_id slices sketches independently (the
    * per-day / per-partition ingest shape; no shard ever sees another
    * shard's tokens), then `max` over shards per (source, bucket)
    * merges them. Register max-merge is EXACT with respect to the
    * union (max of maxes = global max), so the output is
    * row-identical to the direct whole-corpus pass — which is exactly
    * what the catalog entry proves: its DuckDB oracle is the direct
    * chain, verbatim, and the driver's hash gate checks the
    * mergeability equation itself. Output: [[vocabHllBySource]]'s
    * schema.
    */
  def vocabHllShardMerge(docs: DataFrame, sourceCol: String = "source",
                         textCol: String = "text", shards: Int = 4,
                         idCol: String = "doc_id"): DataFrame = {
    require(shards > 0, s"shards must be positive: $shards")
    val tok = docs.select((col(idCol) % shards).as("__shard"),
      col(sourceCol).as("source"),
      explode(split(col(textCol), " ")).as("token"))
    val perShard = hllSketchRows(tok, Seq("__shard", "source"))
      .groupBy("__shard", "source", "__b").agg(max("__rho").as("__M"))
    // the merge: max over shards per (source, bucket) — associative,
    // commutative, exact wrt the union
    val merged = perShard.groupBy("source", "__b")
      .agg(max("__M").as("__M"))
      .persist() // shared by the per-source rollup and the union merge
    val bySource = hllEstimate(merged, Seq("source"))
    val union = hllEstimate(
      merged.groupBy("__b").agg(max("__M").as("__M")), Seq.empty)
      .select(lit("__union").as("source"), col("n_buckets_seen"),
        col("z_scaled"), col("est_distinct"))
    bySource.unionByName(union)
  }

  /** Cross-source vocabulary overlap from KMV sketches (bottom-k
    * minimum values, Beyer et al. 2007) — "which sources share
    * vocabulary with which", the pairwise dual of the per-source HLL
    * rollup [[vocabHllBySource]]: every source keeps only its k
    * SMALLEST distinct shingle hashes, and each pair's Jaccard is
    * estimated from the two sketches alone — the fraction of the
    * union's bottom-k that lands in both. KMV sketches are mergeable
    * (bottom-k of a union = bottom-k of the concatenated sketches),
    * so per-shard sketches combine associatively like the HLL
    * registers do.
    *
    * 100 TB plan: the corpus collapses to distinct (source, hash)
    * rows in one map-side-combined pass; after the per-source bottom-k
    * cut, EVERYTHING downstream touches k x |sources| rows — the
    * pairwise estimate never rescans data, which is the entire point
    * (a 20-source corpus compares 190 pairs over 64-row sketches).
    * The exact-Jaccard columns are the AUDIT, dropped at production
    * scale; overlap is measured at the shared 16-bit hash grain
    * ([[LlmDataParams.hexDecode4]] — widening the hash means widening
    * it there), so both engines and both estimator/audit sides see
    * the same collision-folded universe, and the per-source rank
    * window is bounded by the hash domain, never the corpus. Output:
    * one row per unordered source pair — (source_a, source_b, k_eff,
    * n_common_in_k, jaccard_est_micro, n_intersect, n_union,
    * exact_jaccard_micro, abs_err_micro).
    */
  def vocabKmvOverlap(docs: DataFrame, sourceCol: String = "source",
                      textCol: String = "text", k: Int = kmvK): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    // compute-bound per byte (an md5 + 16-bit decode per shingle
    // OCCURRENCE): spread with the volume gate off, the winnowing
    // precedent — at scale the scan is already many-split, no-op
    val grams = Dedup.shingled(Dedup.spread(docs, minBytes = 0L), textCol)
      .select(col(sourceCol).as("source"), explode(col("__sh")).as("__g"))
    val hashes = grams
      .withColumn("__hh", md5(col("__g")))
      .select(col("source"),
        expr(s"cast((${hexDecode4("__hh")}) as bigint)").as("__h"))
      .distinct() // the hash-grain vocabulary: distinct (source, hash)
      .persist()  // shared by the sketch cut, the sizes, and the audit
    val sk = hashes
      .withColumn("__rn",
        row_number().over(w.partitionBy("source").orderBy(col("__h"))))
      .filter(col("__rn") <= k)
      .select("source", "__h")
      .persist() // k rows per source; both pair sides scan it
    val srcs = sk.select("source").distinct()
    val pairs = srcs.select(col("source").as("source_a"))
      .crossJoin(srcs.select(col("source").as("source_b")))
      .filter(col("source_a") < col("source_b"))
    val aRows = pairs
      .join(sk.withColumnRenamed("source", "source_a"), Seq("source_a"))
      .select(col("source_a"), col("source_b"), col("__h"),
        lit(1).as("__ina"), lit(0).as("__inb"))
    val bRows = pairs
      .join(sk.withColumnRenamed("source", "source_b"), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("__h"),
        lit(0).as("__ina"), lit(1).as("__inb"))
    val est = aRows.union(bRows)
      .groupBy("source_a", "source_b", "__h")
      .agg(max("__ina").as("__ina"), max("__inb").as("__inb"))
      .withColumn("__rn", row_number().over(
        w.partitionBy("source_a", "source_b").orderBy(col("__h"))))
      .filter(col("__rn") <= k) // the union's bottom-k (<= 2k rows in)
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("k_eff"),
        sum((col("__ina") * col("__inb")).cast("long")).as("n_common_in_k"))
      .withColumn("jaccard_est_micro",
        expr("n_common_in_k * 1000000 div k_eff"))
    val sizes = hashes.groupBy("source").agg(count(lit(1)).as("__n"))
    val inter = hashes.select(col("source").as("source_a"), col("__h"))
      .join(hashes.select(col("source").as("source_b"), col("__h")), Seq("__h"))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_intersect"))
    est
      .join(inter, Seq("source_a", "source_b"), "left")
      .na.fill(0L, Seq("n_intersect"))
      .join(sizes.select(col("source").as("source_a"), col("__n").as("__na")),
        "source_a")
      .join(sizes.select(col("source").as("source_b"), col("__n").as("__nb")),
        "source_b")
      .withColumn("n_union", col("__na") + col("__nb") - col("n_intersect"))
      .withColumn("exact_jaccard_micro",
        expr("n_intersect * 1000000 div n_union"))
      .withColumn("abs_err_micro",
        abs(col("jaccard_est_micro") - col("exact_jaccard_micro")))
      .select("source_a", "source_b", "k_eff", "n_common_in_k",
        "jaccard_est_micro", "n_intersect", "n_union",
        "exact_jaccard_micro", "abs_err_micro")
  }

  /** Count-Min sketch frequency audit (Cormode & Muthukrishnan 2005)
    * — the point-query counterpart of the HLL cardinality sketch:
    * `cmsDepth` independent hash rows of `cmsWidth` counters absorb
    * the whole token stream, and any token's count is READ BACK as
    * the min over its `cmsDepth` cells — always an OVERestimate
    * (collisions only add), bounded by N/width per row w.h.p.
    * Increments commute, so unlike Misra-Gries the sketch is
    * arrival-order- and partitioning-independent, and cells SUM
    * across shards/days (mergeable) — the streaming/rollup-friendly
    * member of the sketch family.
    *
    * 100 TB plan: building the sketch is ONE map-side-combined
    * aggregate into depth x width = 256 cells (a config constant —
    * the sketch frame is broadcastable at any corpus size); the audit
    * joins each distinct token's cells against it and compares the
    * exact count. The exact column is the AUDIT, dropped at scale;
    * the est >= exact inequality is structural (spec-pinned). Hashes
    * are the shared md5 16-bit decode, row-salted by 'cms{j}:', so
    * DuckDB replays cell-for-cell. Output: one row per distinct token
    * — (token, n_exact, n_cms_est, overest_micro).
    */
  def cmsAudit(docs: DataFrame, textCol: String = "text",
               depth: Int = cmsDepth, width: Int = cmsWidth): DataFrame = {
    // depth md5s per token OCCURRENCE: compute-bound, spread ungated
    val tok = PersistPolicy.persistGated(Dedup.spread(docs, minBytes = 0L)
      .select(explode(split(col(textCol), " ")).as("token")),
      docs) // token stream > the corpus: size-gated; scanned by the
            // sketch build and the exact audit
    // an explicit array of md5 terms, NOT transform(sequence(...)) —
    // the HOF lambda would evaluate interpreted; this stays codegen'd
    def cells(df: DataFrame): DataFrame = df
      .withColumn("__hs", array((0 until depth).map(j =>
        md5(concat(lit(s"cms$j:"), col("token")))): _*))
      .select(col("token"), posexplode(col("__hs")).as(Seq("j", "__hh")))
      .withColumn("cell", expr(s"(${hexDecode4("__hh")}) % $width"))
      .select("token", "j", "cell")
    val counts = cells(tok)
      .groupBy("j", "cell").agg(count(lit(1)).as("__n"))
    val exact = tok.groupBy("token").agg(count(lit(1)).as("n_exact"))
    val estimates = cells(exact.select("token"))
      .join(counts, Seq("j", "cell"))
      .groupBy("token").agg(min("__n").as("n_cms_est"))
    exact.join(estimates, "token")
      .withColumn("overest_micro",
        expr("(n_cms_est - n_exact) * 1000000 div greatest(n_exact, 1)"))
      .select("token", "n_exact", "n_cms_est", "overest_micro")
  }

  /** PROVABLY-exact corpus top-k tokens under bounded memory — the
    * two-pass Misra-Gries heavy-hitter design (Misra & Gries 1982;
    * the summary-merge bound is Agarwal et al. 2013, "Mergeable
    * Summaries"). The naive spelling (global token groupBy) shuffles
    * the ENTIRE vocabulary; at 100 TB that exchange is the job. Here
    * the vocabulary never shuffles:
    *
    *  - pass 1: each partition folds its token stream through a
    *    capacity-`capacity` Misra-Gries summary (`mapPartitions`,
    *    O(capacity) state) — any token the summary evicts everywhere
    *    has true count <= N/capacity (per-partition error N_p/capacity,
    *    errors additive under summary union);
    *  - the candidate union (<= capacity x partitions rows, a design
    *    constant independent of data size) is collected, de-duped, and
    *    BROADCAST back;
    *  - pass 2: one more corpus scan recounts ONLY candidate tokens
    *    exactly (map-side-combined agg over the filtered stream), and
    *    TakeOrdered cuts the top k.
    *
    * Exactness guard, two cases: (a) k candidates survive — the k-th
    * recounted count must be strictly greater than N/capacity (the
    * max possible count of a missed token); (b) FEWER than k survive —
    * that is exact only if the candidates ARE the whole vocabulary,
    * proven (without shuffling the vocabulary) by their recounted
    * occurrence sum equaling N. Either proof failing makes the
    * operator FAIL LOUDLY (raise `capacity`) instead of returning a
    * silently approximate — or silently short — answer. The output is therefore deterministic and
    * partitioning-independent whenever it returns at all. Output:
    * (token, n_occurrences, rank), rank 1..k by (count desc, token).
    */
  def heavyHittersExact(docs: DataFrame, k: Int = 50,
                        capacity: Int = 4096,
                        textCol: String = "text"): DataFrame = {
    require(k > 0 && capacity > k, s"need capacity > k, got $capacity <= $k")
    val spark = docs.sparkSession
    import spark.implicits._
    val tokens = docs.select(split(col(textCol), " ").as("__w")).as[Seq[String]]
    val candRows = tokens.mapPartitions { it =>
      val m = scala.collection.mutable.HashMap.empty[String, Long]
      for (ws <- it; t <- ws) {
        m.get(t) match {
          case Some(v) => m(t) = v + 1
          case None if m.size < capacity => m(t) = 1L
          case None =>
            val dead = List.newBuilder[String]
            for ((key, v) <- m) if (v == 1L) dead += key else m(key) = v - 1
            dead.result().foreach(m.remove)
        }
      }
      m.keysIterator
    }
    // bounded by capacity x partitions — a config constant, not a
    // function of corpus size — and BROADCAST, so the recount's only
    // exchange is the map-side-combined candidate aggregate
    val candidates = broadcast(candRows.distinct().toDF("token"))
    val recount = docs
      .select(explode(split(col(textCol), " ")).as("token"))
      .join(candidates, "token")
      .groupBy("token").agg(count(lit(1)).as("n_occurrences"))
    val counted = recount
      .orderBy(col("n_occurrences").desc, col("token").asc)
      .limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("n_occurrences").desc, col("token").asc)).cast("long"))
    val totalTokens = docs
      .select(size(split(col(textCol), " ")).cast("long").as("n"))
      .agg(sum("n")).as[Long].head()
    val bound = totalTokens / capacity
    // (n candidates surviving the cut, count of the LAST surviving rank)
    val (nRanks, lastCount) = counted
      .agg(count(lit(1)), min("n_occurrences"))
      .as[(Long, Option[Long])].head() match {
        case (c, lo) => (c, lo.getOrElse(0L))
      }
    if (nRanks < k) {
      val coveredOcc = recount.agg(sum("n_occurrences"))
        .as[Option[Long]].head().getOrElse(0L)
      // Fewer candidates than k survive. That is still EXACT iff the
      // candidate set is the entire vocabulary (then the corpus simply
      // has < k distinct tokens) — provable without shuffling the
      // vocabulary: candidates cover every token occurrence exactly
      // when their recounted occurrence sum equals N. Otherwise a
      // non-candidate token (true count <= N/capacity) could
      // legitimately hold a missing rank, so the short answer is NOT
      // the top-k and the operator fails loudly (ADVICE r13 #1: the
      // old guard read only the last row's count, which under extreme
      // skew could pass while silently returning < k ranks).
      if (coveredOcc != totalTokens)
        throw new IllegalStateException(
          s"heavyHittersExact: only $nRanks candidate ranks but corpus " +
            s"vocabulary exceeds them (candidates cover $coveredOcc of " +
            s"$totalTokens occurrences) — top-$k not provable, raise " +
            s"capacity ($capacity)")
    } else if (lastCount <= bound)
      throw new IllegalStateException(
        s"heavyHittersExact: k-th count $lastCount <= miss bound $bound " +
          s"(N=$totalTokens, capacity=$capacity) — top-$k not provable, " +
          "raise capacity")
    counted
  }
}
