package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TokenGrams.{tokenGrams, tokenGramStructs, tokenGramXx64, tokenGramHash60, tokenGramRepStats}
import graft.operators.Materialize.MatOps
import graft.EntryMath.{r => r4}

/** Text-analysis operators for the large-scale training-data pipeline:
  * language ID, quality scoring, token counting, fingerprinting.
  *
  * Everything is pure Column expressions (whole-stage codegen; no UDFs):
  * at 100 TB these are embarrassingly parallel scans whose cost is the
  * parquet read, so the only design rule that matters is "stay in codegen
  * and never shuffle", which all of these satisfy.
  *
  * Determinism note: all hashes derive from md5 (stable across engines);
  * the 60-bit variant keeps integer arithmetic inside int64 for oracle
  * parity (DuckDB errors on int64 overflow; Spark wraps silently).
  */
object TextAnalysis {

  /** Deterministic language-marker stopwords per language — the n-gram/
    * stopword heuristic table for langId. Tiny fixed tables like this are
    * broadcast-free literals in the plan. */
  val Stopwords: Seq[String] =
    Seq("the", "a", "of", "to", "in", "and", "is", "on", "for", "with")

  /** Whitespace tokens (documents are single-space separated). */
  def tokens(text: Column): Column = split(text, " ")

  /** Stable 60-bit non-negative hash: first 15 hex digits of md5.
    * Mirrors DuckDB `CAST('0x' || substr(md5(x),1,15) AS BIGINT)`. */
  def hash60(c: Column): Column = conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Word n-gram shingles (default 3) as space-joined strings; empty array
    * when the document has fewer than n tokens. */
  def shingles(text: Column, n: Int = 3): Column = shinglesFromTokens(tokens(text), n)

  /** Shingles over a pre-materialized token-array COLUMN. Callers on a hot
    * path must pass a real column (`.select(tokens(text).as("toks"))`
    * first): if `toks` is an inline `split(...)` expression, Catalyst
    * re-evaluates the split inside every lambda element access —
    * O(doc_len) per shingle instead of per document. */
  def shinglesFromTokens(toks: Column, n: Int = 3): Column = {
    // Spark's sequence(0, -1) yields a DESCENDING sequence, not empty —
    // guard short documents explicitly.
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", (0 until n).map(k => element_at(toks, i + k + 1)): _*)))
  }

  /** Per-document stats: token counts, distinct ratio, mean token length,
    * stopword ratio, and a composite quality score in [0,1]. */
  def stats(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val nTok = size(toks)
    val nDistinct = size(array_distinct(toks))
    val meanLen = (length(col("text")) - (nTok - 1)).cast("double") / nTok
    val stopArr = array(Stopwords.map(lit): _*)
    val nStop = size(filter(toks, t => array_contains(stopArr, t)))
    val stopRatio = nStop.cast("double") / nTok
    val distinctRatio = nDistinct.cast("double") / nTok
    // quality: long enough, lexically diverse, some-but-not-all stopwords
    val lenScore = least(nTok.cast("double") / lit(50.0), lit(1.0))
    val score = lit(0.4) * lenScore + lit(0.4) * distinctRatio +
      lit(0.2) * (lit(1.0) - abs(stopRatio - lit(0.1)))
    docs.select(
      col("doc_id"), nTok.as("n_tokens"), nDistinct.as("n_distinct"),
      meanLen.as("mean_token_len"), stopRatio.as("stopword_ratio"),
      distinctRatio.as("distinct_ratio"), score.as("quality_score"))
  }

  /** Token counting three ways: whitespace, alphabetic-regex, and a
    * BPE-style estimate (Σ ceil(len/4) — ~4 chars per subword token). */
  def tokenCounts(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val nWs = size(toks)
    val nAlpha = size(expr("filter(split(text, ' '), t -> t rlike '^[a-z]+$')"))
    // `/` is double division in Spark SQL — use DIV for the integer estimate
    val bpe = expr(
      "aggregate(split(text, ' '), CAST(0 AS BIGINT), (acc, t) -> acc + (length(t) + 3) DIV 4)")
    docs.select(col("doc_id"), nWs.as("n_ws_tokens"), nAlpha.as("n_alpha_tokens"),
      bpe.as("n_bpe_est"))
  }

  /** Stopword-profile language ID: English-stopword hit ratio with a
    * deterministic threshold ladder. (On synthetic data this is a plumbing
    * check; the operator shape — fixed marker table, ratio, CASE ladder —
    * is the real-world one.) */
  def langId(docs: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    val stopArr = array(Stopwords.map(lit): _*)
    val ratio = size(filter(toks, t => array_contains(stopArr, t))).cast("double") / size(toks)
    val pred = when(ratio >= 0.10, lit("en"))
      .when(ratio >= 0.05, lit("mixed"))
      .otherwise(lit("other"))
    docs.select(col("doc_id"), col("lang").as("lang_label"),
      ratio.as("en_stopword_ratio"), pred.as("lang_pred"))
  }

  /** Corpus vocabulary: token frequency + document frequency, top `k` by
    * frequency (token tiebreak). One explode + one keyed aggregate — the
    * canonical map-side-combinable word count; the final top-k is a
    * single-partition window over an already-tiny aggregate. */
  /** Per-document Shannon entropy of the character distribution (nats) —
    * the gibberish/binary detector: natural prose sits in a narrow
    * entropy band, base64/hex blobs run high, repeated-filler junk runs
    * low. Two keyed aggregates over the exploded characters (rows ∝ total
    * characters, the same linear explode budget as q_substring_dup);
    * each −p·ln p term is quantized to a 1e12 integer before the per-doc
    * sum so the cross-partition aggregation is order-independent. */
  def charEntropy(docs: DataFrame): DataFrame = {
    val chars = docs
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .filter(length(col("ch")) === 1)
    val counts = chars.groupBy(col("doc_id"), col("ch"))
      .agg(count(lit(1)).as("c"))
    val totals = counts.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_chars_total"),
        count(lit(1)).as("n_distinct_chars"))
    val p = col("c") / col("n_chars_total")
    counts.join(totals, "doc_id")
      .groupBy(col("doc_id"), col("n_chars_total"), col("n_distinct_chars"))
      .agg((sum(floor(-p * log(p) * lit(1e12) + lit(0.5)).cast("long")) /
        lit(1e12)).as("raw"))
      .select(col("doc_id"), col("n_chars_total"), col("n_distinct_chars"),
        r4(col("raw")).as("char_entropy"))
  }

  def vocab(docs: DataFrame, k: Int): DataFrame = {
    // orderBy+limit plans as TakeOrderedAndProject (per-partition top-k,
    // then k·partitions rows to one task) — the global-window equivalent
    // would sort the whole vocabulary in a single partition
    val top = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("freq"), countDistinct(col("doc_id")).as("df"))
      .orderBy(col("freq").desc, col("token"))
      .limit(k)
    // rank window sees only the k post-limit rows; the constant-valued but
    // non-foldable partition key keeps them in one task without the
    // empty-partition-spec degradation path (and its runtime warning)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(pmod(length(col("token")), lit(1)))
      .orderBy(col("freq").desc, col("token"))
    top.withColumn("rk", row_number().over(w))
  }

  /** Top `k` TF-IDF terms per document: tf·ln(N/df), ranked by the
    * 4dp-rounded score (token tiebreak) so float noise cannot flip ranks.
    * Two keyed aggregates + a broadcast of the corpus size. */
  def tfidfTop(docs: DataFrame, k: Int): DataFrame = {
    val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val total = docs.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("token"))
    tf.join(dfreq, "token")
      .crossJoin(broadcast(total))
      .withColumn("tfidf",
        r4(col("tf") * log(col("n_docs").cast("double") / col("df"))))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("doc_id"), col("rk"), col("token"), col("tf"), col("df"),
        col("tfidf"))
  }

  /** BM25 parameters (Robertson-Sparck Jones defaults), shared by the
    * shipped query and its oracle. */
  val Bm25K1 = 1.2
  val Bm25B = 0.75

  /** BM25 ranking of the corpus against a fixed query-term set: per
    * matched (doc, term), idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    * with idf = ln(1 + (N−df+0.5)/(df+0.5)); per-doc score is the
    * token-ordered left-to-right sum of the term contributions (summation
    * order pinned so float addition cannot drift between engines), ranked
    * globally top-`k` (4dp-rounded score, doc_id tiebreak).
    *
    * Scale shape: tokens are filtered to the query terms BEFORE the tf
    * aggregate (the explode never leaves the scan stage for non-query
    * tokens), df/N/avgdl are tiny aggregates broadcast to the scorer, and
    * the global top-k plans as TakeOrderedAndProject — no full sort. */
  def bm25(docs: DataFrame, terms: Seq[String], k: Int): DataFrame = {
    val termArr = array(terms.map(lit): _*)
    val lens = docs.select(col("doc_id"), size(tokens(col("text"))).as("dl"))
    val corpus = lens.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("tot_dl"))
    val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("token"))
      .filter(array_contains(termArr, col("token")))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    val contrib = tf.join(broadcast(dfreq), "token")
      .join(lens, "doc_id")
      .crossJoin(broadcast(corpus))
      .withColumn("avgdl", col("tot_dl").cast("double") / col("n_docs"))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("c",
        col("idf") * (col("tf") * lit(Bm25K1 + 1.0)) /
          (col("tf") + lit(Bm25K1) *
            (lit(1.0) - lit(Bm25B) + lit(Bm25B) * col("dl") / col("avgdl"))))
    val scored = contrib.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        array_sort(collect_list(struct(col("token"), col("c")))).as("tc"))
      .select(col("doc_id"), col("n_terms"),
        r4(expr("aggregate(tc, CAST(0.0 AS DOUBLE), (a, e) -> a + e.c)")).as("score"))
    // orderBy+limit plans as TakeOrderedAndProject (per-partition top-k);
    // the rank window then sees only the k surviving rows (same pattern as
    // vocab: constant-valued non-foldable partition key, one tiny task)
    val top = scored.orderBy(col("score").desc, col("doc_id")).limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(pmod(col("doc_id"), lit(1)))
      .orderBy(col("score").desc, col("doc_id"))
    top.withColumn("rk", row_number().over(w))
  }

  /** Corpus bigram language-model table: bigram count, prefix-continuation
    * count (Σ bigram counts sharing the first token — the LM denominator,
    * not the raw unigram count, so final-position tokens don't skew the
    * estimate), and the 4-dp conditional probability P(w2 | w1). Bigrams
    * under `minCount` are pruned AFTER the prefix sums are taken, so rare
    * continuations still weigh in the denominator — the standard count-
    * cutoff construction.
    *
    * Scale: two map-side-combinable word-count aggregates; the prefix table
    * is vocabulary-sized, so AQE broadcasts the join at any corpus size. */
  def bigramLm(docs: DataFrame, minCount: Long): DataFrame = {
    // the count table feeds both the cutoff filter and the prefix sums;
    // materialize it once (vocabulary-sized) so the corpus-wide explode +
    // aggregate isn't recomputed per consumer — broadcast conversion of
    // downstream joins otherwise defeats ReuseExchange (same rule as the
    // dedup family's shingle index)
    val bi = docs
      .select(explode(tokenGrams(col("text"), 2)).as("bigram"))
      .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .materialize
    val prefix = bi.groupBy(col("w1")).agg(sum(col("n")).as("n_prefix"))
    bi.filter(col("n") >= minCount)
      .join(prefix, "w1")
      .select(col("bigram"), col("n"), col("n_prefix"),
        r4(col("n").cast("double") / col("n_prefix")).as("cond_p"))
  }

  /** Email/phone regexes kept RE2-simple (char classes + bounded repeats)
    * so Java and RE2-based engines agree on every match. */
  val EmailRe = "[a-z0-9._-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhoneRe = "[0-9]{3}-[0-9]{4}"

  /** PII scrub: count and redact email/phone patterns. A pure codegen
    * scan — the shape used to scrub a 100 TB crawl in one pass. (The
    * synthetic corpus contains no organic PII, so the test harness feeds
    * this an augmented column with deterministic synthetic PII — the
    * operator itself is input-agnostic.) */
  def piiRedact(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"),
      regexp_count(col(textCol), lit(EmailRe)).cast("long").as("n_emails"),
      regexp_count(col(textCol), lit(PhoneRe)).cast("long").as("n_phones"),
      regexp_replace(regexp_replace(col(textCol), EmailRe, "[EMAIL]"),
        PhoneRe, "[PHONE]").as("redacted"))

  /** Gopher-style repetition metrics per document: the fraction of token
    * occurrences that are repeats (1 − distinct/total), the fraction of
    * bigram occurrences belonging to a repeated bigram, and the share of
    * the single most frequent bigram — the standard signals for detecting
    * boilerplate / degenerate generation loops in crawl data.
    *
    * Shape at scale (optimization r19, guide §2.4): every metric is
    * PER-DOCUMENT, so the whole gate is ONE pure-codegen scan — the
    * native [[graft.functions.TokenGramRepStats]] kernel computes the
    * bigram counts inside the scan task and the former explode → two
    * keyed shuffles → join-back collapse to zero exchanges. A document is
    * kept when every metric is under its threshold. Fractions are 4-dp
    * rounded so the flags are float-noise-stable across engines.
    *
    * APPROXIMATION NOTE (hashed gram keys, r19): bigrams are counted by
    * their xxhash64 key, not their text. A 64-bit collision between two
    * DISTINCT bigrams of one document (~n²/2⁶⁵ per doc, below 10⁻¹⁶ at
    * realistic doc lengths) would merge their counts, inflating
    * dup_bigram_frac or top_bigram_frac and possibly flipping `keep`.
    * The oracle gate pins the shipped corpora bit-identical at
    * sf0.001/0.01/0.1; [[repetitionNgrams]] makes the same trade. */
  def repetition(docs: DataFrame, maxTokenDup: Double = 0.30,
      maxDupBigram: Double = 0.10, maxTopBigram: Double = 0.10): DataFrame = {
    val toks = tokens(col("text"))
    val st = element_at(tokenGramRepStats(col("text"), Seq(2)), 1)
    // docs with < 2 tokens have no bigrams: dup fractions are 0 by
    // definition (the pre-r19 left join yielded NULL → coalesce 0)
    val total = col("_st").getField("total")
    docs.select(col("doc_id"), size(toks).cast("long").as("n_tokens"),
        r4(lit(1.0) - size(array_distinct(toks)).cast("double") / size(toks))
          .as("token_dup_frac"),
        st.as("_st"))
      .select(col("doc_id"), col("n_tokens"), col("token_dup_frac"),
        when(total > 0L, r4(col("_st").getField("dup_occ").cast("double") /
          total)).otherwise(lit(0.0)).as("dup_bigram_frac"),
        when(total > 0L, r4(col("_st").getField("top_c").cast("double") /
          total)).otherwise(lit(0.0)).as("top_bigram_frac"))
      .withColumn("keep",
        col("token_dup_frac") <= maxTokenDup &&
          col("dup_bigram_frac") <= maxDupBigram &&
          col("top_bigram_frac") <= maxTopBigram)
  }

  /** Gopher's FULL published repetition rule set (Rae et al. 2021, Table
    * A1) — the [[repetition]] gate stops at bigrams; this completes the
    * family: per document, the coverage fraction of the single most
    * frequent n-gram for n ∈ {2,3,4} (occurrences × n / tokens — Gopher's
    * count×length rule, which may double-count overlaps BY DESIGN) and
    * the duplicated-n-gram coverage for n ∈ {5..10} (fraction of token
    * positions inside at least one n-gram that occurs ≥2 times in the
    * doc — union-of-spans, Gopher's "take care not to count characters
    * multiple times"). Fractions are in TOKEN space rather than Gopher's
    * characters (the synthetic corpus has near-uniform token lengths;
    * the signal and the thresholds' meaning are unchanged, and token
    * positions mirror exactly across engines). `keep` applies the paper's
    * per-n thresholds, each relaxable.
    *
    * Shape at scale (optimization r19): ONE scan, zero exchanges. Every
    * metric is per-document, so the native
    * [[graft.functions.TokenGramRepStats]] kernel computes all nine per-n
    * statistics inside the scan task: it finds the token starts once per
    * document, then for each n counts the xxhash64 keys of its windows in
    * a per-document hash map — the max count gives top_c, and an
    * interval-union fold over the duplicated grams' start positions
    * (already sorted, in scan order) gives the covered-position count.
    * The plan is scan → project.
    *
    * APPROXIMATION NOTE (hashed gram keys, r18): grams are counted by
    * their xxhash64 key — the gram text is only an intra-
    * document grouping key (outputs carry counts and fractions, never
    * grams), so top_c / dup coverage are probabilistically exact: a
    * 64-bit collision between two DISTINCT grams of one document
    * (~n²/2⁶⁵ per doc, below 10⁻¹⁶ at realistic doc lengths) would
    * inflate top_c or fabricate a duplicated span. The oracle gate pins
    * the shipped corpora bit-identical at sf0.001/0.01/0.1.
    * Strictly linear; no pair space anywhere. */
  def repetitionNgrams(docs: DataFrame,
      maxTopFrac: Map[Int, Double] = Map(2 -> 0.20, 3 -> 0.18, 4 -> 0.16),
      maxDupFrac: Map[Int, Double] = Map(5 -> 0.15, 6 -> 0.14, 7 -> 0.13,
        8 -> 0.12, 9 -> 0.11, 10 -> 0.10)): DataFrame = {
    val topNs = maxTopFrac.keys.toSeq.sorted
    val dupNs = maxDupFrac.keys.toSeq.sorted
    // ONE native linear pass per document computes every per-n statistic
    // (optimization r19, guide §2.4 — remove shuffles outright): all nine
    // metrics are PER-DOCUMENT, so the former (doc, n, gram) count
    // aggregates, position collects, union and pivot existed only to
    // express intra-document grouping through DataFrame operators.
    // TokenGramRepStats runs that grouping inside the scan task over the
    // same xxhash64 gram keys (identical values, counts and interval
    // fold — OptEquivalenceSpec pins the whole operator against the
    // shuffle-shaped reference) and the query plans as a pure map:
    // scan → project, zero exchanges.
    val allNs = topNs ++ dupNs
    val st = docs.select(col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_tokens"),
      tokenGramRepStats(col("text"), allNs).as("st"))
    val topCols = topNs.zipWithIndex.map { case (n, i) =>
      r4(element_at(col("st"), i + 1).getField("top_c").cast("double") *
        lit(n) / col("n_tokens")).as(s"top_${n}gram_frac") }
    val dupCols = dupNs.zipWithIndex.map { case (n, i) =>
      r4(element_at(col("st"), topNs.size + i + 1).getField("covered")
        .cast("double") / col("n_tokens")).as(s"dup_${n}gram_frac") }
    val withFracs = st.select(
      (Seq(col("doc_id"), col("n_tokens")) ++ topCols ++ dupCols): _*)
    val keep = (topNs.map(n =>
        col(s"top_${n}gram_frac") <= maxTopFrac(n)) ++
      dupNs.map(n => col(s"dup_${n}gram_frac") <= maxDupFrac(n)))
      .reduce(_ && _)
    withFracs.withColumn("keep", keep)
  }

  /** Gopher/C4-style rule-based quality gate: per-document structural
    * metrics, one boolean flag per rule, a combined `keep`, and the first
    * failing rule's name as `fail_reason` (null when kept). Defaults are
    * the real-corpus values from the Gopher filtering rules (Rae et al.
    * 2021, table A1 lineage); tests instantiate tighter thresholds so the
    * synthetic corpus splits on every flag.
    *
    * Shape at scale: pure Column expressions over one corpus scan — no
    * shuffle, no UDF, fully inside whole-stage codegen; the 100 TB cost is
    * the parquet read. Fractions are 4-dp rounded so flags are
    * float-noise-stable across engines. */
  def qualityRules(docs: DataFrame,
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      maxWordLen: Int = 20, minStopDistinct: Int = 2,
      maxShortFrac: Double = 0.30): DataFrame = {
    val toks = tokens(col("text"))
    val nW = size(toks)
    val stopArr = array(Stopwords.map(lit): _*)
    val metrics = docs.select(
      col("doc_id"),
      nW.cast("long").as("n_words"),
      // text is single-space joined: chars = Σ len + (n-1) separators
      r4((length(col("text")) - (nW - 1)).cast("double") / nW).as("mean_word_len"),
      array_max(transform(toks, t => length(t))).as("max_word_len"),
      size(array_intersect(array_distinct(toks), stopArr)).as("n_stop_distinct"),
      r4(size(filter(toks, t => length(t) <= 2)).cast("double") / nW)
        .as("short_word_frac"))
    val flags = metrics
      .withColumn("ok_words",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("ok_mean_len",
        col("mean_word_len") >= minMeanLen && col("mean_word_len") <= maxMeanLen)
      .withColumn("ok_word_len", col("max_word_len") <= maxWordLen)
      .withColumn("ok_stopwords", col("n_stop_distinct") >= minStopDistinct)
      .withColumn("ok_short", col("short_word_frac") <= maxShortFrac)
    flags
      .withColumn("keep",
        col("ok_words") && col("ok_mean_len") && col("ok_word_len") &&
          col("ok_stopwords") && col("ok_short"))
      .withColumn("fail_reason",
        when(!col("ok_words"), lit("n_words"))
          .when(!col("ok_mean_len"), lit("mean_word_len"))
          .when(!col("ok_word_len"), lit("max_word_len"))
          .when(!col("ok_stopwords"), lit("stopwords"))
          .when(!col("ok_short"), lit("short_words"))
          .otherwise(lit(null).cast("string")))
  }

  /** Rule ABLATION report over [[qualityRules]] — the threshold-tuning
    * view: per rule, how many documents fail it at all (`n_fail`) and
    * how many ONLY it fails (`n_unique_fail` — the docs that rule alone
    * removes from the corpus; every other rule passes them). A rule with
    * high n_fail but near-zero unique kills is redundant with its
    * neighbors and can be relaxed for free; a rule with high unique
    * kills is load-bearing and its threshold deserves scrutiny. The
    * exact composition question every gate-tuning pass asks, answered
    * from ONE corpus scan: the flags frame aggregates to a single row of
    * exact counts, then unpivots to one row per rule — no per-rule
    * rescans, no shuffle beyond the one aggregate. */
  def rulesAblation(docs: DataFrame,
      minWords: Int = 50, maxWords: Int = 100000,
      minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
      maxWordLen: Int = 20, minStopDistinct: Int = 2,
      maxShortFrac: Double = 0.30): DataFrame = {
    val flags = qualityRules(docs, minWords, maxWords, minMeanLen,
      maxMeanLen, maxWordLen, minStopDistinct, maxShortFrac)
    val rules = Seq("n_words" -> "ok_words", "mean_word_len" -> "ok_mean_len",
      "max_word_len" -> "ok_word_len", "stopwords" -> "ok_stopwords",
      "short_words" -> "ok_short")
    val aggCols = rules.flatMap { case (nm, okc) =>
      val othersOk = rules.collect { case (_, o) if o != okc => col(o) }
        .reduce(_ && _)
      Seq(sum(when(!col(okc), 1L).otherwise(0L)).as(s"f_$nm"),
        sum(when(!col(okc) && othersOk, 1L).otherwise(0L)).as(s"u_$nm"))
    } :+ count(lit(1)).as("n_docs")
    flags.agg(aggCols.head, aggCols.tail: _*)
      .select(explode(array(rules.map { case (nm, _) =>
        struct(lit(nm).as("rule"), col(s"f_$nm").as("n_fail"),
          col(s"u_$nm").as("n_unique_fail"),
          r4(col(s"f_$nm").cast("double") / col("n_docs")).as("fail_rate"),
          r4(col(s"u_$nm").cast("double") / col("n_docs")).as("unique_rate"))
      }: _*)).as("x"))
      .select(col("x.rule").as("rule"), col("x.n_fail").as("n_fail"),
        col("x.n_unique_fail").as("n_unique_fail"),
        col("x.fail_rate").as("fail_rate"),
        col("x.unique_rate").as("unique_rate"))
  }

  /** Per-document bigram-LM score against a [[bigramLm]] table: mean
    * negative log-likelihood over the document's bigrams (unseen bigrams
    * get the fixed floor probability `unseenP`) plus the implied
    * perplexity. The LM side is vocabulary-sized after the count cutoff, so
    * it broadcasts at any corpus size; the document side is one explode +
    * one keyed aggregate.
    *
    * Determinism: each bigram's NLL is quantized to 1e-4 and summed as
    * int64 ("NLL micros"), so the per-document mean is exact integer
    * arithmetic — no float-summation order sensitivity between engines. */
  def lmScore(docs: DataFrame, lm: DataFrame,
      unseenP: Double = 0.0001): DataFrame = {
    val grams = docs
      .select(col("doc_id"), explode(tokenGrams(col("text"), 2)).as("bigram"))
    val p = coalesce(col("cond_p"), lit(unseenP))
    val nll4 = floor(-log(p) * lit(10000) + lit(0.5)).cast("long")
    val perDoc = grams
      .join(broadcast(lm.select(col("bigram"), col("cond_p"))), Seq("bigram"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("cond_p").isNull, 1L).otherwise(0L)).as("n_unseen"),
        sum(nll4).as("nll_sum4"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_unseen"), lit(0L)).as("n_unseen"),
        r4(col("nll_sum4").cast("double") / lit(10000.0) / col("n_bigrams"))
          .as("avg_nll"),
        r4(exp(col("nll_sum4").cast("double") / lit(10000.0) / col("n_bigrams")))
          .as("perplexity"))
  }

  /** Trigram language model with STUPID BACKOFF (Brants et al. 2007,
    * "Large Language Models in Machine Translation"): score each document
    * in `score` by the mean negative log of
    *
    *   S(w3 | w1 w2) = c3(w1w2w3)/c2(w1w2)          if the trigram was seen
    *                 | α · c2(w2w3)/c1(w2)          else if the bigram was
    *                 | α² · c1(w3)/N                else if the unigram was
    *                 | α² · unseenP                 else
    *
    * with counts from `train` — the web-scale backoff that skips
    * discounting entirely (the score is not a normalized probability,
    * which is exactly why it shards trivially). Trigram counts below
    * `minCount` are pruned from the model — the standard size/quality
    * trade; pruned trigrams fall through to the bigram estimate.
    *
    * Shape at scale: three keyed count aggregates over the training
    * corpus (map-side partial), then the scored trigrams resolve all
    * five lookups with equi-joins on the gram string. The gram tables
    * are NOT unconditionally broadcast: on a web-scale training corpus
    * the bigram/trigram tables are billions of rows, and a hard
    * `broadcast()` hint would OOM every executor instead of degrading.
    * They stay keyed equi-joins, and AQE's runtime size check converts
    * each join to broadcast when the actual gram table is small. N is a
    * one-row aggregate read (bounded scalar probe, same pattern as the
    * PageRank convergence probe). Arithmetic is mirrored op-for-op in
    * the DuckDB oracle with explicit DOUBLE casts; per-gram NLLs are
    * 4dp-quantized to integers BEFORE the per-doc sum so the aggregation
    * order can't move the result. */
  def backoffLm(train: DataFrame, score: DataFrame, minCount: Long = 1L,
      alpha: Double = 0.4, unseenP: Double = 0.0001): DataFrame = {
    import graft.operators.Materialize.MatOps
    // ONE fused unigram+bigram+trigram count pass (optimization r18,
    // guide §1.2 step 1 / §2.3): the three model tables previously each
    // paid a full corpus scan, gram explode, gram-keyed exchange and an
    // eager materialize job; tagging each gram with its order and
    // aggregating (order, gram) once cuts three corpus scans to one —
    // at 100 TB the corpus scan dominates model estimation. A 1-gram
    // shingle IS the token, so the unigram slice is count-identical to
    // the former explode(toks).
    // native tagged generator (r19, see kneserNey3Lm) — a 1-gram "slice"
    // IS the token, so the unigram order rides the same linear byte scan
    val nG = train.select(explode(tokenGramStructs(col("text"), Seq(1, 2, 3))).as("x"))
      .groupBy(col("x.ng").as("ng"), col("x.g").as("g"))
      .agg(count(lit(1)).as("c"))
      .materialize
    val uni = nG.filter(col("ng") === 1).select(col("g").as("w"), col("c").as("n1"))
    // sum over an EMPTY slice is SQL NULL — degrade to 0 so an empty
    // training corpus scores every trigram at the unseen floor (the
    // unigram arm can never fire then: n1w3 is always null). The total
    // rides as a one-row broadcast scalar instead of a blocking driver
    // head() (r18, guide §5), so model estimation never serializes on
    // the driver.
    val nTotalRow = uni.agg(coalesce(sum(col("n1")), lit(0L)).as("_ntotal"))
    val bi = nG.filter(col("ng") === 2).select(col("g"), col("c").as("n2"))
    val tri = nG.filter(col("ng") === 3).select(col("g"), col("c").as("n3"))
      .filter(col("n3") >= minCount)
    val tris = score
      .select(col("doc_id"), explode(tokenGrams(col("text"), 3)).as("g3"))
      .withColumn("parts", split(col("g3"), " "))
      .select(col("doc_id"), col("g3"),
        concat_ws(" ", element_at(col("parts"), 1), element_at(col("parts"), 2)).as("ctx2"),
        concat_ws(" ", element_at(col("parts"), 2), element_at(col("parts"), 3)).as("g2"),
        element_at(col("parts"), 2).as("w2"),
        element_at(col("parts"), 3).as("w3"))
    val joined = tris
      .join(tri.select(col("g").as("g3"), col("n3")), Seq("g3"), "left")
      .join(bi.select(col("g").as("ctx2"), col("n2").as("nctx")), Seq("ctx2"), "left")
      .join(bi.select(col("g").as("g2"), col("n2").as("n2g")), Seq("g2"), "left")
      .join(uni.select(col("w").as("w2"), col("n1").as("n1w2")), Seq("w2"), "left")
      .join(uni.select(col("w").as("w3"), col("n1").as("n1w3")), Seq("w3"), "left")
      .crossJoin(broadcast(nTotalRow))
    // a seen trigram implies its context bigram was seen (same corpus),
    // and a seen bigram implies its first word was — the CASE arms only
    // need the head condition, mirrored exactly in the oracle
    val p =
      when(col("n3").isNotNull,
        col("n3").cast("double") / col("nctx").cast("double"))
      .when(col("n2g").isNotNull,
        lit(alpha) * col("n2g").cast("double") / col("n1w2").cast("double"))
      .when(col("n1w3").isNotNull,
        lit(alpha) * lit(alpha) * col("n1w3").cast("double") /
          col("_ntotal").cast("double"))
      .otherwise(lit(alpha) * lit(alpha) * lit(unseenP))
    val level =
      when(col("n3").isNotNull, lit(3))
      .when(col("n2g").isNotNull, lit(2))
      .when(col("n1w3").isNotNull, lit(1)).otherwise(lit(0))
    val nll4 = floor(-log(p) * lit(10000) + lit(0.5)).cast("long")
    val perDoc = joined.select(col("doc_id"), level.as("lvl"), nll4.as("nll4"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trigrams"),
        sum(when(col("lvl") === 3, 1L).otherwise(0L)).as("n_tri_hit"),
        sum(when(col("lvl") === 2, 1L).otherwise(0L)).as("n_bi_backoff"),
        sum(when(col("lvl") === 1, 1L).otherwise(0L)).as("n_uni_backoff"),
        sum(when(col("lvl") === 0, 1L).otherwise(0L)).as("n_unseen"),
        sum(col("nll4")).as("s4"))
    score.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        coalesce(col("n_tri_hit"), lit(0L)).as("n_tri_hit"),
        coalesce(col("n_bi_backoff"), lit(0L)).as("n_bi_backoff"),
        coalesce(col("n_uni_backoff"), lit(0L)).as("n_uni_backoff"),
        coalesce(col("n_unseen"), lit(0L)).as("n_unseen"),
        r4(col("s4").cast("double") / lit(10000.0) / col("n_trigrams"))
          .as("avg_nll"))
  }

  /** Order-sensitive rolling document fingerprint: position-weighted sum of
    * token hashes mod 1e9+7 (plus the unordered xor-style component).
    * Pure int64 arithmetic ⇒ bit-exact across engines. */
  def fingerprint(docs: DataFrame): DataFrame = {
    val P = 1000000007L
    val toks = tokens(col("text"))
    val fp = expr(
      s"""aggregate(
         |  zip_with(split(text, ' '), sequence(1, size(split(text, ' '))),
         |           (t, i) -> (CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT) % $P)
         |                     * ((i % 97) + 1)),
         |  CAST(0 AS BIGINT), (acc, x) -> (acc + x) % $P)""".stripMargin)
    docs.select(col("doc_id"), size(toks).as("n_tokens"), fp.as("fingerprint"))
  }

  /** PMI collocations: pointwise mutual information of adjacent token
    * bigrams, `pmi = ln((c_ab/B) / ((c_a/N)·(c_b/N)))` — the classic
    * collocation-extraction statistic (Church & Hanks 1990); high-PMI
    * pairs are multi-word expressions ("new york"), near-zero pairs are
    * independent co-occurrences. Distinct from [[bigramLm]]: PMI compares
    * against the independence baseline, an LM estimates sequence
    * probability. Shape: two explode→count aggregates (both
    * partial-aggregate map-side), two keyed joins of the bigram table
    * against the vocabulary-sized unigram table, totals ride along as a
    * one-row broadcast. `minCount` prunes noise bigrams BEFORE the joins,
    * which is also what keeps the join input near-linear in vocabulary at
    * corpus scale. */
  def pmiCollocations(docs: DataFrame, minCount: Long = 5): DataFrame = {
    val txt = docs.select(col("text"))
    val uni = txt.select(explode(tokenGrams(col("text"), 1)).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val bi = txt.select(explode(tokenGrams(col("text"), 2)).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= minCount)
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .withColumn("w2", split(col("bigram"), " ").getItem(1))
    val totals = uni.agg(sum(col("cnt")).as("n_uni"))
      .crossJoin(txt.select(explode(tokenGrams(col("text"), 2)).as("bg"))
        .agg(count(lit(1)).as("n_bi")))
    bi.join(uni.select(col("token").as("w1"), col("cnt").as("ca")), "w1")
      .join(uni.select(col("token").as("w2"), col("cnt").as("cb")), "w2")
      .crossJoin(broadcast(totals))
      .select(col("bigram"), col("n_ab"), col("ca"), col("cb"),
        r4(log((col("n_ab").cast("double") / col("n_bi")) /
          ((col("ca").cast("double") / col("n_uni")) *
            (col("cb").cast("double") / col("n_uni"))))).as("pmi"))
  }

  /** DSIR importance weighting (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every document
    * by how much more likely its hashed-n-gram features are under a
    * TARGET distribution than under the raw corpus —
    * log w(doc) = Σ_grams [log p_target(bucket) − log p_raw(bucket)],
    * with unigram+bigram features hashed into `nBuckets` buckets and
    * both bag-of-buckets models Laplace-smoothed. Positive weight =
    * more target-like than raw-like, which is the principled
    * deterministic selection cut (the paper's Gumbel resampling is the
    * stochastic layer ON TOP of these weights; weights are the
    * artifact).
    *
    * Determinism (mirrored in the DuckDB oracle): buckets are
    * hash60(gram) mod nBuckets; p(b) = (count_b + 1)/(total + nBuckets)
    * with counts as exact integers; per-bucket log-probs quantized to
    * int64 at 4dp (the ln-at-4dp idiom of q_lm_score), so the per-doc
    * sum is order-free integer math.
    *
    * Scale shape: one gram explode + bucket aggregate (the only
    * corpus-sized pass), two nBuckets-row LM tables (broadcast — a
    * bucketed LM is bounded by construction), one broadcast join back,
    * one keyed per-doc aggregate. Docs with no grams surface with
    * weight 0 / selected false rather than vanishing. */
  def dsirWeights(docs: DataFrame, targetPred: Column,
      nBuckets: Int = 1024): DataFrame = {
    // corpus-sized frame (one row per gram occurrence): disk-streamed
    // materialization — the in-memory unroll of the standard strategy
    // OOMed at 1000×-sf0.1 (SCALE.md r15 three-decade point)
    val grams = dsirBuckets(docs, nBuckets).materializeHuge
    val tgt = dsirModel(grams.join(
      docs.filter(targetPred).select("doc_id"), "doc_id"), nBuckets)
    val raw = dsirModel(grams, nBuckets)
    dsirScore(docs, grams, tgt, raw)
  }

  /** The ingest-time form of [[dsirWeights]]: a [[graft.streaming
    * .StreamGate]] gate scoring each micro-batch against the two bucket
    * LMs, estimated ONCE here from `refDocs` (target = the slice matching
    * `targetPred`, raw = all of it). Each LM is exactly nBuckets rows, so
    * both broadcast into every batch; the per-batch pass shares
    * [[dsirBuckets]]/[[dsirScore]] with the batch operator, so stream ==
    * batch at any slicing by construction, with zero streaming state. */
  def dsirGate(refDocs: DataFrame, targetPred: Column,
      nBuckets: Int): (DataFrame, Long) => DataFrame = {
    // one feature-extraction pass over the reference corpus, reused by
    // both LM estimates
    val refGrams = dsirBuckets(refDocs, nBuckets).materialize
    val tgt = dsirModel(refGrams.join(
      refDocs.filter(targetPred).select("doc_id"), "doc_id"), nBuckets).materialize
    val raw = dsirModel(refGrams, nBuckets).materialize
    (mb, _) => dsirScore(mb, dsirBuckets(mb, nBuckets), tgt, raw)
  }

  /** DSIR selection layer — the paper's importance RESAMPLING on top of
    * [[dsirWeights]] (Xie et al. 2023 select the corpus subset by
    * Gumbel-top-k over the log importance weights; the hard `selected`
    * cut in [[dsirWeights]] is the deterministic floor under it): a
    * deterministic weighted sample-without-replacement of `n` documents
    * with P(select) ∝ w(doc), via exponential jitter (A-ES / Gumbel
    * top-k): ranking key = 10⁴·(ln w − ln u) = logw_q − lnu_q, where u
    * is the salted 16-bit hash uniform ((bucket + 0.5)/65536 — never 0
    * or 1, the [[Sampling.prioritySample]] construction) and BOTH logs
    * are 4dp-int64-quantized (the repo's ln idiom), so the ranking is
    * exact integer order either engine replays; ties break to the
    * smaller doc_id.
    *
    * Scale shape: [[dsirWeights]]'s one corpus-sized gram pass, then
    * orderBy+limit plans as TakeOrderedAndProject — per-partition top-n
    * heaps merged over n·#partitions rows, never a global sort. Output:
    * the n selected rows (doc_id, n_grams, logw_q, key_q). */
  def dsirResample(docs: DataFrame, targetPred: Column, n: Int,
      nBuckets: Int = 1024, salt: String = "dsir:"): DataFrame = {
    require(n > 0, "n must be positive")
    val u = (Sampling.hashBucket(col("doc_id"), salt).cast("double") +
      lit(0.5)) / lit(65536.0)
    val lnuQ = floor(log(u) * lit(10000) + lit(0.5)).cast("long")
    dsirWeights(docs, targetPred, nBuckets)
      .select(col("doc_id"), col("n_grams"), col("logw_q"),
        (col("logw_q") - lnuQ).as("key_q"))
      .orderBy(col("key_q").desc, col("doc_id"))
      .limit(n)
  }

  /** DSIR feature extraction: one (doc_id, bucket) row per gram
    * occurrence — unigrams + adjacent bigrams, hash60-bucketed mod
    * `nBuckets`. Shared by [[dsirWeights]] and the streaming gate
    * ([[dsirGate]]) so batch and stream score the
    * exact same features by construction. */
  private[graft] def dsirBuckets(docs: DataFrame, nBuckets: Int): DataFrame =
    // native generator (r19): hash60 % nBuckets computed in the same
    // linear byte scan that finds the grams (unigrams then bigrams,
    // matching the former concat order — order is immaterial post-
    // explode); pmod == % here because hash60 is non-negative
    docs.select(col("doc_id"),
      explode(tokenGramHash60(col("text"), Seq(1, 2), nBuckets.toLong)).as("b"))

  /** Laplace-smoothed bucket LM over gram-bucket rows: exactly `nBuckets`
    * rows of (b, lq) with lq = the 4dp-quantized int64 log of
    * (count_b + 1)/(total + nBuckets) — bounded by construction, so the
    * result always broadcasts. */
  private[graft] def dsirModel(src: DataFrame, nBuckets: Int): DataFrame = {
    val lq = (c: Column, total: Column) =>
      floor(log((c + lit(1)).cast("double") /
        (total + lit(nBuckets)).cast("double")) * lit(10000) + lit(0.5))
        .cast("long")
    val allB = src.sparkSession.range(nBuckets).select(col("id").as("b"))
    val counts = src.groupBy(col("b")).agg(count(lit(1)).as("c"))
    allB.join(counts, Seq("b"), "left")
      .select(col("b"), coalesce(col("c"), lit(0L)).as("c"))
      .crossJoin(broadcast(
        src.agg(count(lit(1)).as("tot"))))
      .select(col("b"), lq(col("c"), col("tot")).as("lq"))
  }

  /** Score gram-bucket rows against FIXED target/raw bucket LMs; `docs`
    * supplies the doc universe so gram-less docs surface with weight 0 /
    * selected false rather than vanishing. The LM joins broadcast
    * (nBuckets rows each); the only shuffle is the per-doc aggregate. */
  private[graft] def dsirScore(docs: DataFrame, buckets: DataFrame,
      tgt: DataFrame, raw: DataFrame): DataFrame = {
    val perDoc = buckets
      .join(broadcast(tgt.select(col("b"), col("lq").as("lqt"))), "b")
      .join(broadcast(raw.select(col("b"), col("lq").as("lqr"))), "b")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(col("lqt") - col("lqr")).as("logw_q"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("logw_q"), lit(0L)).as("logw_q"),
        (coalesce(col("logw_q"), lit(0L)) > 0L).as("selected"))
  }

  /** Multinomial Naive Bayes document classifier with Laplace (+1)
    * smoothing — the counts-only stand-in for the fasttext-style quality/
    * domain classifiers real curation pipelines train (GPT-3's WebText
    * quality filter, CCNet's lang/domain routing): per-class token counts
    * from `train`, then every `score` document gets
    *
    *   NLL(c | d) = −ln P(c) + Σ_w k(w,d) · −ln (n(w,c)+1)/(N_c + V)
    *
    * and the predicted class is the NLL argmin (ties broken by label asc).
    *
    * Shape at scale: the model is two keyed count aggregates (map-side
    * partial) — per-class priors (C rows) and per-(class, token) counts
    * (≤ C·V rows). Scoring explodes each doc ONCE into (doc, token, k)
    * token types, widens by the C-row class table (a bounded broadcast —
    * the one BNLJ in the plan, allowlisted like the centroid tables), and
    * resolves counts with a (label, w)-keyed equi-join that AQE broadcasts
    * when the model fits. The argmin is a per-doc min over C rows —
    * C·|docs| intermediate rows total, never vocab × docs.
    *
    * Determinism: per-token NLLs and the prior are 4dp-quantized to int64
    * micros BEFORE the weighted sum (the lmScore idiom), so aggregation
    * order cannot move the result and the argmin compares exact integers. */
  def nbClassify(train: DataFrame, score: DataFrame,
      labelCol: String = "lang"): DataFrame =
    nbScore(score, nbModel(train, labelCol), labelCol)

  /** The trained NB model: the C-row class table (priors + per-class
    * token totals), the ≤C·V-row per-(class, token) count table, and the
    * two scalars the smoothing needs. Train once, score any number of
    * frames/micro-batches (q_stream_nb through [[graft.streaming
    * .StreamGate]]). */
  final case class NbModel(classes: DataFrame, wc: DataFrame,
      nTrainDocs: Long, vocab: Long)

  /** Estimate the [[NbModel]] from labeled documents: two keyed count
    * aggregates (map-side partial), both materialized — the model tables
    * are read by every scoring pass. */
  def nbModel(train: DataFrame, labelCol: String = "lang"): NbModel = {
    val lbl = col(labelCol)
    // class priors: docs per class + the one-row corpus total
    val cls = train.groupBy(lbl.as("label"))
      .agg(count(lit(1)).as("n_docs")).materialize
    val nTrainDocs = cls.agg(sum(col("n_docs"))).head().getLong(0)
    // per-(class, token) occurrence counts and per-class token totals
    val wc = train.select(lbl.as("label"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("label"), col("w")).agg(count(lit(1)).as("n_wc"))
      .materialize
    val vocabV = wc.select(col("w")).distinct().count()
    val totc = wc.groupBy(col("label")).agg(sum(col("n_wc")).as("n_c"))
    val classes = cls.join(totc, "label")
      .select(col("label"), col("n_docs"), col("n_c")).materialize
    NbModel(classes, wc, nTrainDocs, vocabV)
  }

  /** The per-(doc, class) NLL candidate table under a trained model —
    * (doc_id, label, nll4, n_unseen), C rows per document, exact int64
    * NLL micros. [[nbScore]] argmins it; [[nbRiskCoverage]] reads the
    * best-vs-runner-up margin off it. */
  def nbPerClass(score: DataFrame, m: NbModel): DataFrame = {
    // score side: one explode per doc, collapsed to (doc, token-type, k)
    val st = score
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("k"))
    val prior4 = floor(-log(col("n_docs").cast("double") / lit(m.nTrainDocs.toDouble))
      * lit(10000) + lit(0.5)).cast("long")
    val condP = (coalesce(col("n_wc"), lit(0L)).cast("double") + lit(1.0)) /
      (col("n_c").cast("double") + lit(m.vocab.toDouble))
    val tokNll4 = floor(-log(condP) * lit(10000) + lit(0.5)).cast("long")
    st
      .join(broadcast(m.classes), trueLit) // C-row class table: bounded BNLJ
      .join(m.wc, Seq("label", "w"), "left")
      .groupBy(col("doc_id"), col("label"), prior4.as("prior4"))
      .agg(sum(col("k") * tokNll4).as("tok4"),
        sum(when(col("n_wc").isNull, col("k")).otherwise(0L)).as("n_unseen"))
      .select(col("doc_id"), col("label"),
        (col("prior4") + col("tok4")).as("nll4"), col("n_unseen"))
  }

  /** Score documents under a trained [[NbModel]] (see [[nbClassify]] for
    * the formula and the determinism contract). */
  def nbScore(score: DataFrame, m: NbModel,
      labelCol: String = "lang"): DataFrame = {
    val perDocClass = nbPerClass(score, m)
    // argmin over the C candidate rows per doc; label asc breaks exact ties
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("nll4"), col("label"))
    val winner = perDocClass.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
    score.select(col("doc_id"), col(labelCol).as("actual"))
      .join(winner, Seq("doc_id"))
      .select(col("doc_id"), col("actual"), col("label").as("pred"),
        (col("actual") === col("label")).as("correct"),
        r4(col("nll4").cast("double") / lit(10000.0)).as("nll"),
        col("n_unseen"))
  }

  /** Selective-classification risk–coverage report over the NB decision
    * MARGIN — the confidence audit a pipeline runs before trusting a
    * routing classifier's most-confident slice (Geifman & El-Yaniv 2017's
    * risk–coverage view, with the margin as the confidence score): per
    * margin band (best-vs-runner-up NLL gap, `bandMicros` wide, top band
    * open), document count and accuracy, plus the CUMULATIVE
    * selective accuracy and coverage reading bands from most- to
    * least-confident. A well-calibrated router shows selective_acc
    * falling monotonically as coverage grows — the curve that picks the
    * "auto-route above this margin, human-review below" operating point.
    *
    * Determinism: the margin is a difference of the exact int64 NLL
    * micros [[nbPerClass]] guarantees — banding cannot disagree across
    * engines. Shape at scale: nbScore's plan plus one band aggregate
    * (≤ nBands rows) and one bounded global window over it. Documents
    * with a single candidate class (margin undefined) land in the open
    * top band — a one-class router is maximally "confident". */
  def nbRiskCoverage(train: DataFrame, score: DataFrame,
      labelCol: String = "lang", bandMicros: Long = 2500L,
      nBands: Int = 10): DataFrame = {
    require(bandMicros >= 1 && nBands >= 2,
      s"nbRiskCoverage params out of range: bandMicros=$bandMicros nBands=$nBands")
    val pdc = nbPerClass(score, nbModel(train, labelCol))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("nll4"), col("label"))
    val ranked = pdc.select(col("doc_id"), col("label"), col("nll4"))
      .withColumn("rk", row_number().over(w))
      .withColumn("next4", lead(col("nll4"), 1).over(w))
      .filter(col("rk") === 1)
    val banded = score.select(col("doc_id"), col(labelCol).as("actual"))
      .join(ranked, "doc_id")
      .select((col("actual") === col("label")).as("correct"),
        least(expr(s"coalesce(next4 - nll4, ${bandMicros * nBands}L) div ${bandMicros}L"),
          lit((nBands - 1).toLong)).as("band"))
    val perBand = banded.groupBy(col("band"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("correct"), 1L).otherwise(0L)).as("n_correct"))
    val tot = perBand.agg(sum(col("n_docs")).as("total_docs"))
    // cumulative from the MOST confident band down: ≤ nBands rows, so the
    // single-partition global window is provably bounded
    val wb = org.apache.spark.sql.expressions.Window.orderBy(col("band").desc)
    perBand.crossJoin(broadcast(tot))
      .withColumn("cum_docs", sum(col("n_docs")).over(wb))
      .withColumn("cum_correct", sum(col("n_correct")).over(wb))
      .select(col("band"), col("n_docs"), col("n_correct"),
        r4(col("n_correct").cast("double") / col("n_docs")).as("acc"),
        col("cum_docs"),
        r4(col("cum_correct").cast("double") / col("cum_docs")).as("selective_acc"),
        r4(col("cum_docs").cast("double") / col("total_docs")).as("coverage"))
  }

  /** `lit(true)` as a join condition (crossJoin rejects a condition arg;
    * join(df, lit(true)) is the idiomatic bounded-broadcast widen). */
  private def trueLit: Column = lit(true)

  /** Class confusion matrix over [[nbClassify]] predictions: one row per
    * (actual, predicted) pair with counts — the per-class quality report a
    * curation pipeline reads before trusting the classifier's routing.
    * Same plan as nbClassify plus one C²-bounded aggregate. */
  def nbConfusion(train: DataFrame, score: DataFrame,
      labelCol: String = "lang"): DataFrame =
    nbClassify(train, score, labelCol)
      .groupBy(col("actual"), col("pred"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("correct"), 1L).otherwise(0L)).as("n_correct"))

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): every scored
    * document labeled head / middle / tail by the TERCILES of its LM
    * score under the Kneser–Ney model trained on `train` — the standard
    * "keep the head, inspect the middle, drop the tail" quality routing
    * for crawl data, here driven by the real smoothed LM rather than a
    * rule score (contrast qualityRules/qualityDeciles). Docs too short to
    * have a bigram are labeled `unscored` (CCNet routes those manually).
    *
    * Shape at scale: kneserNeyLm's gram-keyed equi-joins plus ONE
    * one-row tercile-threshold broadcast (the qualityDeciles idiom —
    * bounded, PlanAudit-allowlisted). Terciles interpolate over
    * 4dp-rounded scores with 16-digit third literals mirrored in the
    * oracle, so the bucket boundaries are bit-identical across engines. */
  def ccnetBuckets(train: DataFrame, score: DataFrame, d: Double = 0.75,
      unseenP: Double = 0.0001): DataFrame = {
    // thresholds re-quantized to 4dp BEFORE the <= (ADVICE r16): boundary
    // membership is decided on exact 4dp values on both engines, never on
    // the last ulp of each engine's lo+(hi-lo)·frac interpolation
    val scored = kneserNeyLm(train, score, d, unseenP)
      .select(col("doc_id"), col("avg_nll"))
    val th = scored.filter(col("avg_nll").isNotNull)
      .agg(expr(s"percentile(avg_nll, array($CcnetOneThird, $CcnetTwoThirds))")
        .as("th"))
    scored.crossJoin(broadcast(th))
      .select(col("doc_id"), col("avg_nll"),
        when(col("avg_nll").isNull, lit("unscored"))
          .when(col("avg_nll") <= r4(element_at(col("th"), 1)), lit("head"))
          .when(col("avg_nll") <= r4(element_at(col("th"), 2)), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** Tercile fractions as 16-digit literals — the SAME strings are
    * interpolated into the Spark percentile call and the DuckDB
    * quantile_cont, so both engines parse the identical double. */
  val CcnetOneThird = "0.3333333333333333"
  val CcnetTwoThirds = "0.6666666666666666"

  /** Fixed CCNet routing thresholds: head ≤ headMax < middle ≤ middleMax
    * < tail, both 4dp-quantized (boundary membership decided on exact
    * values on every engine — the ccnetBuckets rule). */
  final case class CcnetThresholds(headMax: Double, middleMax: Double)

  /** Calibrate routing thresholds = terciles of a CALIBRATION corpus's
    * scores under a prebuilt [[KnModel]] — CCNet's actual operating
    * shape (Wenzek et al. 2020 §3.3: the LM is trained on the target
    * domain, the perplexity cut-points come from a SCORED SAMPLE of the
    * data being routed, and routing then applies those fixed points).
    * Contrast [[ccnetBuckets]], whose terciles are over the score side
    * itself — correct for a one-shot batch audit, but not streamable: a
    * micro-batch cannot know the full corpus's terciles. Two doubles via
    * a one-row aggregate — a bounded driver probe, not a data collect. */
  def ccnetThresholds(m: KnModel, calib: DataFrame,
      unseenP: Double = 0.0001): CcnetThresholds = {
    val rows = knScore(calib, m, unseenP).filter(col("avg_nll").isNotNull)
      .agg(expr(
        s"percentile(avg_nll, array($CcnetOneThird, $CcnetTwoThirds))")
        .as("th"))
      .head()
    require(!rows.isNullAt(0),
      "ccnetThresholds: calibration corpus has no scorable document " +
        "(every doc too short for a bigram) — routing thresholds would " +
        "be undefined; calibrate on a corpus with real text")
    val th = rows.getSeq[Double](0)
    CcnetThresholds(r4(th.head), r4(th(1)))
  }

  /** Route `score` docs head/middle/tail against FIXED thresholds under a
    * prebuilt model — stateless per document, the form the streaming
    * perplexity gate replays per micro-batch. */
  def ccnetRoute(score: DataFrame, m: KnModel, th: CcnetThresholds,
      unseenP: Double = 0.0001): DataFrame =
    knScore(score, m, unseenP)
      .select(col("doc_id"), col("avg_nll"),
        when(col("avg_nll").isNull, lit("unscored"))
          .when(col("avg_nll") <= th.headMax, lit("head"))
          .when(col("avg_nll") <= th.middleMax, lit("middle"))
          .otherwise(lit("tail")).as("bucket"))

  /** Fixed-threshold CCNet bucketing end-to-end: model on `train`,
    * thresholds calibrated on `calib`, routing applied to `score`. */
  def ccnetBucketsFixed(train: DataFrame, calib: DataFrame,
      score: DataFrame, d: Double = 0.75,
      unseenP: Double = 0.0001): DataFrame = {
    val m = knModel(train, d)
    ccnetRoute(score, m, ccnetThresholds(m, calib, unseenP), unseenP)
  }

  /** C4-style blocklist gate (Raffel et al. 2020 §2.2 lineage: the
    * "bad words" filter every web-corpus recipe runs): per-document
    * occurrence count and fraction of tokens that hit the blocklist,
    * plus the keep decision (`blockedFrac` strictly above `maxFrac`
    * drops the doc; the default 0.0 means ANY hit drops it — C4's rule).
    *
    * Shape at scale: a pure Column scan — the blocklist is a literal
    * array in the plan (real lists are a few thousand terms; past the
    * literal-comfort size, swap the array for a broadcast join on the
    * token — same output contract). No shuffle, no UDF, fully inside
    * whole-stage codegen; the 100 TB cost is the parquet read. */
  def blocklist(docs: DataFrame, terms: Seq[String],
      maxFrac: Double = 0.0): DataFrame = {
    require(terms.nonEmpty, "blocklist terms must be non-empty")
    val blockArr = array(terms.map(lit): _*)
    val toks = tokens(col("text"))
    val nTok = size(toks).cast("long")
    val nBlocked = size(filter(toks, t => array_contains(blockArr, t))).cast("long")
    // keep is decided on the EXACT counts (n_blocked <= maxFrac·n_tokens),
    // never the 4dp-rounded report fraction: a >=20001-token doc with one
    // hit rounds to 0.0000, and a rounded comparison would KEEP it in
    // violation of the any-hit-drops contract at maxFrac=0 (ADVICE r16).
    // blocked_frac stays as the 4dp report-only column.
    docs.select(col("doc_id"), nTok.as("n_tokens"), nBlocked.as("n_blocked"),
        r4(nBlocked.cast("double") / nTok).as("blocked_frac"),
        (nBlocked.cast("double") <= lit(maxFrac) * nTok.cast("double"))
          .as("keep"))
  }

  /** Interpolated Kneser–Ney bigram language model (Kneser & Ney 1995;
    * Chen & Goodman 1999 empirical study) scored over `score` docs:
    *
    *   P_KN(w2|w1) = max(c(w1w2) − D, 0)/c(w1·)
    *                 + D · N1+(w1,·)/c(w1·) · N1+(·,w2)/N1+(··)
    *
    * with absolute discount `d` (default 0.75) and continuation counts
    * N1+ = distinct-bigram-type counts. A context never seen in training
    * backs off to the continuation probability alone; the whole estimate
    * floors at `unseenP` so fully-novel bigrams stay finite. This is the
    * standard n-gram smoothing (KenLM's default) — the discounted mass is
    * redistributed by how PROMISCUOUS a continuation is, not how frequent,
    * which is what separates KN from the stupid-backoff family above.
    *
    * Shape at scale: one bigram count aggregate feeds all four model
    * tables (bigram counts, prefix totals, prefix fanouts, continuation
    * counts) — each vocabulary-bounded, resolved on the scoring side by
    * gram-keyed equi-joins (AQE broadcasts when small; no unconditional
    * broadcast hints, same policy as backoffLm). Per-gram NLLs are
    * 4dp-quantized to int64 before the per-doc sum. */
  /** The four vocabulary-bounded Kneser–Ney model tables plus the
    * bigram-type total — built ONCE from the training corpus and reusable
    * across scoring passes (the batch entry, the fixed-threshold router,
    * and the streaming perplexity gate all score against the same
    * object). `bi` is materialized; the derived tables are lazy
    * vocab-bounded aggregates over it. */
  final case class KnModel(bi: DataFrame, pfx: DataFrame, cont: DataFrame,
      nTypes: Long, d: Double)

  /** Estimate [[KnModel]] from `train` (see [[kneserNeyLm]] for the
    * formulation and the scale shape). */
  def knModel(train: DataFrame, d: Double = 0.75): KnModel = {
    // one corpus-wide bigram count; every model table derives from it
    val bi = train.select(explode(tokenGrams(col("text"), 2)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("n2"))
      .withColumn("parts", split(col("g"), " "))
      .select(col("g"), col("n2"),
        element_at(col("parts"), 1).as("w1"),
        element_at(col("parts"), 2).as("w2"))
      .materialize
    val pfx = bi.groupBy(col("w1")).agg(
      sum(col("n2")).as("c1"),          // c(w1·): prefix occurrence total
      count(lit(1)).as("fanout"))       // N1+(w1,·): distinct continuations
    val cont = bi.groupBy(col("w2")).agg(count(lit(1)).as("n_cont")) // N1+(·,w2)
    KnModel(bi, pfx, cont, bi.count(), d) // count = N1+(··)
  }

  def kneserNeyLm(train: DataFrame, score: DataFrame, d: Double = 0.75,
      unseenP: Double = 0.0001): DataFrame =
    knScore(score, knModel(train, d), unseenP)

  /** Score `score` docs against a prebuilt [[KnModel]] — the per-batch
    * half of the split (stateless per document, so the streaming gate
    * replays it micro-batch by micro-batch unchanged). */
  def knScore(score: DataFrame, m: KnModel, unseenP: Double = 0.0001)
      : DataFrame = {
    val (bi, pfx, cont, nTypes, d) = (m.bi, m.pfx, m.cont, m.nTypes, m.d)
    val grams = score
      .select(col("doc_id"), explode(tokenGrams(col("text"), 2)).as("g"))
      .withColumn("parts", split(col("g"), " "))
      .select(col("doc_id"), col("g"),
        element_at(col("parts"), 1).as("w1"),
        element_at(col("parts"), 2).as("w2"))
    val joined = grams
      .join(bi.select(col("g"), col("n2")), Seq("g"), "left")
      .join(pfx, Seq("w1"), "left")
      .join(cont, Seq("w2"), "left")
    val pcont = coalesce(col("n_cont"), lit(0L)).cast("double") /
      lit(nTypes.toDouble)
    // mirrored op-for-op in the oracle (same parenthesization, DOUBLE all
    // the way) and floored at unseenP so a zero estimate can't reach ln
    // n2 coalesced BEFORE the discount: greatest(NULL − d, 0) is engine-
    // dependent NULL semantics; max(0 − d, 0) = 0 is the same number with
    // no NULL in sight on either side
    val pSeen =
      greatest(coalesce(col("n2"), lit(0L)).cast("double") - lit(d), lit(0.0)) /
        col("c1").cast("double") +
      lit(d) * col("fanout").cast("double") / col("c1").cast("double") * pcont
    val p = when(col("c1").isNotNull, greatest(pSeen, lit(unseenP)))
      .otherwise(greatest(pcont, lit(unseenP)))
    val lvl = when(col("c1").isNotNull && col("n2").isNotNull, lit(2))
      .when(col("c1").isNotNull, lit(1)).otherwise(lit(0))
    val nll4 = floor(-log(p) * lit(10000) + lit(0.5)).cast("long")
    val perDoc = joined
      .select(col("doc_id"), lvl.as("lvl"), nll4.as("nll4"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("lvl") === 2, 1L).otherwise(0L)).as("n_hit"),
        sum(when(col("lvl") === 1, 1L).otherwise(0L)).as("n_cont_backoff"),
        sum(when(col("lvl") === 0, 1L).otherwise(0L)).as("n_ctx_unseen"),
        sum(col("nll4")).as("s4"))
    score.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        coalesce(col("n_cont_backoff"), lit(0L)).as("n_cont_backoff"),
        coalesce(col("n_ctx_unseen"), lit(0L)).as("n_ctx_unseen"),
        r4(col("s4").cast("double") / lit(10000.0) / col("n_bigrams"))
          .as("avg_nll"))
  }

  /** Interpolated TRIGRAM Kneser–Ney (Chen & Goodman 1999 §3, the
    * operating order KenLM actually ships at) scored over `score` docs —
    * the bigram [[kneserNeyLm]] lifted one order, with the lower orders
    * estimated from CONTINUATION (type) counts as the formulation
    * prescribes:
    *
    *   P3(w3|w1w2) = max(c(w1w2w3) − D, 0)/c(w1w2·)
    *                 + D · N1+(w1w2,·)/c(w1w2·) · P2(w3|w2)
    *   P2(w3|w2)   = max(N1+(·w2w3) − D, 0)/N1+(·w2·)
    *                 + D · N1+(w2,·)/N1+(·w2·) · P1(w3)
    *   P1(w3)      = N1+(·,w3) / N1+(·,·)
    *
    * where the middle order's counts are distinct-PREDECESSOR counts from
    * the trigram type table (N1+(·w2w3) = |{w1 : c(w1w2w3)>0}|, its
    * normalizer the trigram-type count with middle w2, its fanout the
    * distinct continuations of w2 in trigram types) and the unigram order
    * is the bigram-type continuation distribution (identical to the
    * bigram model's lowest level, so the two models share their floor).
    * An unseen (w1,w2) context backs off to P2; an unseen w2 middle backs
    * off to P1; every arm floors at `unseenP`.
    *
    * Shape at scale: ONE trigram count aggregate feeds the trigram table
    * and, via type-level re-aggregation, all three middle-order tables;
    * one bigram-type aggregate feeds the unigram order — each table
    * vocabulary-bounded, resolved on the scoring side by gram-keyed
    * equi-joins (AQE broadcasts when small; no unconditional hints, the
    * backoffLm/kneserNeyLm policy). Per-gram NLLs are 4dp-quantized to
    * int64 before the per-doc sum. Level accounting per doc: `n_hit`
    * (trigram seen), `n_disc_backoff` (context seen, trigram not — the
    * discounted-interpolation arm carries the mass), `n_bigram_backoff`
    * (context unseen, middle seen), `n_ctx_unseen` (both unseen). */
  def kneserNey3Lm(train: DataFrame, score: DataFrame, d: Double = 0.75,
      unseenP: Double = 0.0001): DataFrame = {
    // ONE fused bigram+trigram count pass (optimization r18, guide §1.2
    // step 1 / §2.3): the bigram and trigram tables previously each paid a
    // full corpus scan, gram explode, gram-keyed exchange and an eager
    // materialize job; tagging each gram with its order and aggregating
    // (order, gram) in one pass halves the corpus scans and gram shuffles
    // — at 100 TB the corpus scan is the dominant cost of model
    // estimation. Counts are identical by construction (same shingle
    // generators, same grouping).
    // the tagged generator is the native TokenGramStructs expression
    // (optimization r19, guide §1.2 step 2): one linear byte scan per
    // document emits zero-copy (order, gram-slice) rows for both orders,
    // replacing the interpreted transform lambdas that concatenated a
    // fresh gram string per element. Gram strings are byte-identical
    // (TokenGramSpec), so counts and every derived table are unchanged.
    val nG = train.select(explode(tokenGramStructs(col("text"), Seq(2, 3))).as("x"))
      .groupBy(col("x.ng").as("ng"), col("x.g").as("g"))
      .agg(count(lit(1)).as("c"))
      .materialize
    // every order-3 and order-2 table derives from the trigram slice
    // (counts for the top order, TYPES for the middle)
    val tri = nG.filter(col("ng") === 3)
      .withColumn("parts", split(col("g"), " "))
      .select(col("g"), col("c").as("n3"),
        element_at(col("parts"), 1).as("w1"),
        element_at(col("parts"), 2).as("w2"),
        element_at(col("parts"), 3).as("w3"))
    val ctx = tri.groupBy(col("w1"), col("w2")).agg(
      sum(col("n3")).as("c12"),         // c(w1w2·): context occurrence total
      count(lit(1)).as("fan12"))        // N1+(w1w2,·): distinct continuations
    val mid = tri.groupBy(col("w2"), col("w3"))
      .agg(count(lit(1)).as("m23"))     // N1+(·w2w3): distinct predecessors
    // (r18) mid is no longer eagerly materialized: both consumers (the
    // scoring join and midctx) re-derive it from the ALREADY-CHECKPOINTED
    // fused gram table — one vocab-bounded aggregate recomputed vs one
    // blocking materialize job saved; lineage stays truncated at nG
    // derived from `mid`, not from a second trigram scan: Σm23 per w2 is
    // N1+(·w2·) and mid's row count per w2 is the distinct-w3 fanout, so
    // the countDistinct expand over the full trigram table is unnecessary
    val midctx = mid.groupBy(col("w2")).agg(
      sum(col("m23")).as("m2"),         // N1+(·w2·): trigram types through w2
      count(lit(1)).as("fan2"))         // N1+(w2,·): distinct w3 after w2
    // unigram order = the bigram-type continuation distribution (shared
    // with kneserNeyLm's lowest level), off the SAME fused gram table
    val bi = nG.filter(col("ng") === 2)
      .select(col("g"), col("c").as("n2"),
        element_at(split(col("g"), " "), 2).as("w3"))
    val cont = bi.groupBy(col("w3")).agg(count(lit(1)).as("n_cont"))
    // N1+(··) rides as a one-row broadcast scalar instead of a blocking
    // driver count() (r18, guide §5: the driver does no data work; the
    // count becomes part of the scoring job instead of serializing it)
    val nTypesRow = bi.agg(count(lit(1)).as("_ntypes"))
    val grams = score
      .select(col("doc_id"), explode(tokenGrams(col("text"), 3)).as("g"))
      .withColumn("parts", split(col("g"), " "))
      .select(col("doc_id"), col("g"),
        element_at(col("parts"), 1).as("w1"),
        element_at(col("parts"), 2).as("w2"),
        element_at(col("parts"), 3).as("w3"))
    val joined = grams
      .join(tri.select(col("g"), col("n3")), Seq("g"), "left")
      .join(ctx, Seq("w1", "w2"), "left")
      .join(mid, Seq("w2", "w3"), "left")
      .join(midctx, Seq("w2"), "left")
      .join(cont, Seq("w3"), "left")
      .crossJoin(broadcast(nTypesRow))
    // mirrored op-for-op in the oracle: same parenthesization, DOUBLE all
    // the way, counts coalesced BEFORE the discount (the kneserNeyLm NULL
    // rule), each arm floored at unseenP so zero never reaches ln
    val p1 = coalesce(col("n_cont"), lit(0L)).cast("double") /
      col("_ntypes").cast("double")
    val p2 =
      greatest(coalesce(col("m23"), lit(0L)).cast("double") - lit(d), lit(0.0)) /
        col("m2").cast("double") +
      lit(d) * col("fan2").cast("double") / col("m2").cast("double") * p1
    val p3 =
      greatest(coalesce(col("n3"), lit(0L)).cast("double") - lit(d), lit(0.0)) /
        col("c12").cast("double") +
      lit(d) * col("fan12").cast("double") / col("c12").cast("double") * p2
    val p = when(col("c12").isNotNull, greatest(p3, lit(unseenP)))
      .when(col("m2").isNotNull, greatest(p2, lit(unseenP)))
      .otherwise(greatest(p1, lit(unseenP)))
    val lvl = when(col("c12").isNotNull && col("n3").isNotNull, lit(3))
      .when(col("c12").isNotNull, lit(2))
      .when(col("m2").isNotNull, lit(1)).otherwise(lit(0))
    val nll4 = floor(-log(p) * lit(10000) + lit(0.5)).cast("long")
    val perDoc = joined
      .select(col("doc_id"), lvl.as("lvl"), nll4.as("nll4"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trigrams"),
        sum(when(col("lvl") === 3, 1L).otherwise(0L)).as("n_hit"),
        sum(when(col("lvl") === 2, 1L).otherwise(0L)).as("n_disc_backoff"),
        sum(when(col("lvl") === 1, 1L).otherwise(0L)).as("n_bigram_backoff"),
        sum(when(col("lvl") === 0, 1L).otherwise(0L)).as("n_ctx_unseen"),
        sum(col("nll4")).as("s4"))
    score.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        coalesce(col("n_disc_backoff"), lit(0L)).as("n_disc_backoff"),
        coalesce(col("n_bigram_backoff"), lit(0L)).as("n_bigram_backoff"),
        coalesce(col("n_ctx_unseen"), lit(0L)).as("n_ctx_unseen"),
        r4(col("s4").cast("double") / lit(10000.0) / col("n_trigrams"))
          .as("avg_nll"))
  }
}
