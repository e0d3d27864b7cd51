package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Chunking, CorpusStats, Decontamination, Dedup, Drift, Layout, Packing, Sampling, TextAnalysis}
import graft.sources.{Jsonl, Tables}
import graft.EntryMath.r4

/** Corpus-curation operators (sampling / vocabulary / TF-IDF / PII /
  * chunking / passage dedup), each with its DuckDB oracle — the
  * document→training-example half of an LLM data pipeline, alongside the
  * dedup/similarity family in [[TextDedupEntries]]. */
object CorpusEntries {

  /** Shared sampling parameters (query and oracle read the same values). */
  private val SampleSalt = "s1:"
  private val UniformRate = 0.125
  private val StratRates = Map("en" -> 0.25, "de" -> 0.5)
  private val StratDefault = 0.0625

  /** Oracle-side threshold literal — same source of truth as the query
    * side ([[Sampling.thresholdHex]]). */
  private def hex4(rate: Double): String = Sampling.thresholdHex(rate)

  // --------------------------------------------------------------- queries

  /** Deterministic uniform + stratified-by-lang sampling flags; rows kept
    * by either sample survive. */
  private def qSampleHash(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val key = col("doc_id")
    val uni = Sampling.sampledBy(key, SampleSalt, UniformRate)
    val strat = Sampling.stratifiedBy(key, col("lang"), SampleSalt,
      StratRates, StratDefault)
    docs.select(col("doc_id"), col("lang"),
        Sampling.hashBucket(key, SampleSalt).as("bucket"),
        uni.as("in_uniform"), strat.as("in_stratified"))
      .filter(col("in_uniform") || col("in_stratified"))
  }

  private def qVocab(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.vocab(Tables.documents(s, dir), 50)

  private def qTfidf(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.tfidfTop(Tables.documents(s, dir), 3)

  /** Weighted (TF-IDF cosine) near-dup pairs — see
    * [[graft.operators.Dedup.tfidfCosinePairs]]. */
  private def qTfidfPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.tfidfCosinePairs(Tables.documents(s, dir), tau = 0.6)

  private def qCharEntropy(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.charEntropy(Tables.documents(s, dir))

  /** PII scrub over text augmented with deterministic synthetic PII (the
    * synthetic corpus has no organic emails/phones; both engines build the
    * same augmented column, so the regex machinery is what's tested). */
  private def qPiiRedact(s: SparkSession, dir: String): DataFrame = {
    val aug = concat(col("text"),
      lit(" contact "), col("source"), lit("@example.com or call 555-"),
      lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"))
    TextAnalysis.piiRedact(
      Tables.documents(s, dir).withColumn("aug", aug), "aug")
  }

  private def qChunks(s: SparkSession, dir: String): DataFrame =
    Chunking.chunk(Tables.documents(s, dir), chunkSize = 40, stride = 30)

  private def qPassageDedup(s: SparkSession, dir: String): DataFrame =
    Chunking.passageDedup(
      Chunking.chunk(Tables.documents(s, dir), chunkSize = 40, stride = 30))

  /** Shared decontamination parameters (eval set = doc_id ≡ 0 mod 10). */
  private val DecontamN = 5
  private val DecontamMinHits = 1

  /** Shared repetition thresholds, tuned so the synthetic corpus splits on
    * every flag (operator defaults are the real-corpus values). */
  private[graft] val MaxTokenDup = 0.55
  private[graft] val MaxDupBigram = 0.06
  private[graft] val MaxTopBigram = 0.05

  /** Temperature for the source-mix resampling weights. */
  private val MixAlpha = 0.7
  // mix-plan knobs: α=0.5 upsamples rare strata hard enough that small
  // strata overshoot the 2-epoch cap on the synthetic corpus, so the
  // water-filling actually redistributes (some capped, some not)
  private val MixPlanAlpha = 0.5
  private val MixPlanEpochs = 2
  private val MixPlanBudgetPct = 150

  /** Incremental-dedup split (batch = odd ids) and Jaccard threshold. */
  private val IncrTau = 0.7

  /** Bigram-LM count cutoff. */
  private val LmMinCount = 5L

  /** Unseen-bigram probability floor for the LM document score. */
  private val LmUnseenP = 0.0001

  /** Stupid-backoff trigram LM: backoff discount and the trigram-table
    * prune threshold (2 keeps singleton trigrams OUT of the model, so
    * the bigram arm carries real traffic at every SF). */
  private val BackoffAlpha = 0.4
  private val BackoffMinCount = 2L

  /** Quality-rule thresholds, tightened from the operator's real-corpus
    * defaults so the synthetic corpus splits on every flag (profiled:
    * 10-99 words, mean word length 3.7-5.3, max word length 5-8,
    * short-word fraction 0-0.064, distinct stopwords 1-2). */
  private[graft] val RuleMinWords = 30
  private[graft] val RuleMaxWords = 90
  private[graft] val RuleMinMeanLen = 3.0
  private[graft] val RuleMaxMeanLen = 5.0
  private[graft] val RuleMaxWordLen = 7
  private[graft] val RuleMinStop = 2
  private[graft] val RuleMaxShortFrac = 0.05

  /** Sequence-packing parameters: training-sequence length and the
    * prefix-sum bucket size (small here so multiple buckets exist even at
    * sf0.001 — the production default is 1024). */
  private val PackSeqLen = 512
  private val PackDocsPerBucket = 64

  /** Exact-N stratified sample size per lang. */
  private val ExactNPerLang = 40

  /** Cross-doc duplicated-span n-gram width. */
  private val SubstrN = 5

  /** Exact-substring (suffix-window) scrub span: minimum duplicated run
    * length in CHARACTERS (Lee et al. use 50 BPE tokens on real corpora;
    * the synthetic documents share shorter verbatim spans, so the
    * threshold sits where the corpus actually exercises both arms —
    * spans found AND spans rejected — at every SF). */
  private val SubstrSpanLen = 30

  private def qDecontaminate(s: SparkSession, dir: String): DataFrame =
    Decontamination.screen(Tables.documents(s, dir),
      pmod(col("doc_id"), lit(10)) === 0, n = DecontamN, minHits = DecontamMinHits)

  private val DecontamSweepNs = Seq(3, 4, 5, 7, 9)

  /** n-length sensitivity sweep for the decontamination screen (same
    * train/eval split as q_decontaminate, every n in one fused pass). */
  private def qDecontamNsweep(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Decontamination.screenNSweep(
      docs.filter(pmod(col("doc_id"), lit(10)) =!= 0),
      docs.filter(pmod(col("doc_id"), lit(10)) === 0),
      DecontamSweepNs, DecontamMinHits)
  }

  /** Bloom-prescreened decontamination: same parameters and BIT-EXACT
    * same output as [[qDecontaminate]] (it shares that oracle SQL — the
    * strongest possible check that the bloom pass loses nothing), but
    * the broadcast is an m-bit filter instead of the eval-gram set. */
  private def qDecontaminateBloom(s: SparkSession, dir: String): DataFrame =
    Decontamination.screenBloom(Tables.documents(s, dir),
      pmod(col("doc_id"), lit(10)) === 0, n = DecontamN, minHits = DecontamMinHits)

  private def qRepetition(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetition(Tables.documents(s, dir),
      maxTokenDup = MaxTokenDup, maxDupBigram = MaxDupBigram,
      maxTopBigram = MaxTopBigram)

  private def qSourceMix(s: SparkSession, dir: String): DataFrame =
    CorpusStats.sourceMix(Tables.documents(s, dir), alpha = MixAlpha)

  /** Token-budget mixture plan: water-filling quotas under α-temperature
    * weights and the per-stratum epoch cap (exact-integer allocation). */
  private def qMixPlan(s: SparkSession, dir: String): DataFrame =
    CorpusStats.mixPlan(Tables.documents(s, dir), alpha = MixPlanAlpha,
      maxEpochs = MixPlanEpochs, budgetPct = MixPlanBudgetPct)

  private def qDedupIncremental(s: SparkSession, dir: String): DataFrame =
    Dedup.incremental(Tables.documents(s, dir),
      pmod(col("doc_id"), lit(2)) === 1, tau = IncrTau)

  private def qBigramLm(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bigramLm(Tables.documents(s, dir), LmMinCount)

  private def qQualityDeciles(s: SparkSession, dir: String): DataFrame =
    CorpusStats.qualityDeciles(Tables.documents(s, dir))

  private def qQualityRules(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.qualityRules(Tables.documents(s, dir),
      minWords = RuleMinWords, maxWords = RuleMaxWords,
      minMeanLen = RuleMinMeanLen, maxMeanLen = RuleMaxMeanLen,
      maxWordLen = RuleMaxWordLen, minStopDistinct = RuleMinStop,
      maxShortFrac = RuleMaxShortFrac)

  /** Per-rule ablation (n_fail / n_unique_fail) over the same rule
    * thresholds as q_quality_rules — the threshold-tuning report. */
  private def qRulesAblation(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.rulesAblation(Tables.documents(s, dir),
      minWords = RuleMinWords, maxWords = RuleMaxWords,
      minMeanLen = RuleMinMeanLen, maxMeanLen = RuleMaxMeanLen,
      maxWordLen = RuleMaxWordLen, minStopDistinct = RuleMinStop,
      maxShortFrac = RuleMaxShortFrac)

  private def qLmScore(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    TextAnalysis.lmScore(docs, TextAnalysis.bigramLm(docs, LmMinCount), LmUnseenP)
  }

  /** Trigram stupid-backoff LM: train on even doc_ids, score the odd —
    * a held-out split, so every backoff arm (trigram hit, bigram,
    * unigram, unseen) carries real traffic instead of the degenerate
    * all-trigrams-seen self-scoring case. */
  private def qBackoffLm(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    TextAnalysis.backoffLm(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1),
      BackoffMinCount, BackoffAlpha, LmUnseenP)
  }

  /** Kneser–Ney discount shared by q_kn_lm's query and oracle. */
  private val KnDiscount = 0.75

  /** Blocklist terms shared by q_blocklist's query and oracle (drawn from
    * the synthetic vocabulary so the gate actually splits the corpus). */
  private[graft] val BlockTerms = Seq("slow", "dup")

  /** Novelty n-gram width (5, the decontamination screens' width). */
  private val NoveltyN = 5

  /** Tercile literals shared by q_ccnet_buckets' query and oracle. */
  private val OneThird = TextAnalysis.CcnetOneThird
  private val TwoThirds = TextAnalysis.CcnetTwoThirds

  /** CCNet perplexity terciles over the KN LM (train even / score odd). */
  private def qCcnetBuckets(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    TextAnalysis.ccnetBuckets(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1),
      KnDiscount, LmUnseenP)
  }

  /** Gopher's full repetition rule set (top-{2,3,4}-gram coverage,
    * duplicated-{5..10}-gram union coverage) at the paper thresholds. */
  private def qRepetitionNgrams(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionNgrams(Tables.documents(s, dir))

  /** Fixed-threshold CCNet routing: model on doc_id%4==0, thresholds
    * calibrated on doc_id%4==2 (the other even slice — CCNet calibrates
    * on a scored sample, never on the model's own training text), odd
    * docs routed against the fixed cut-points. */
  private def qCcnetFixed(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    TextAnalysis.ccnetBucketsFixed(
      docs.filter(col("doc_id") % 4 === 0),
      docs.filter(col("doc_id") % 4 === 2),
      docs.filter(col("doc_id") % 2 === 1),
      KnDiscount, LmUnseenP)
  }

  /** Cross-corpus n-gram novelty: reference = even half, score = odd. */
  private def qNovelty(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Decontamination.noveltyScore(
      docs.filter(col("doc_id") % 2 === 1),
      docs.filter(col("doc_id") % 2 === 0), NoveltyN)
  }

  /** Bloom-prescreened novelty — bit-exact vs [[qNovelty]] by contract
    * (bloom-negative grams are provably novel; positives are re-checked
    * exactly), so it shares q_novelty's oracle unchanged. */
  private def qNoveltyBloom(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Decontamination.noveltyScoreBloom(
      docs.filter(col("doc_id") % 2 === 1),
      docs.filter(col("doc_id") % 2 === 0), NoveltyN)
  }

  /** C4-style blocklist gate: ANY blocklist hit drops the doc. */
  private def qBlocklist(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.blocklist(Tables.documents(s, dir), BlockTerms)

  /** Per-(source, lang) data-card manifest. */
  private def qDataCard(s: SparkSession, dir: String): DataFrame =
    CorpusStats.dataCard(Tables.documents(s, dir))

  /** Interpolated Kneser–Ney bigram LM: train on even doc_ids, score the
    * odd (the backoffLm held-out split, so the discounted-hit,
    * continuation-backoff and unseen-context arms all carry traffic). */
  private def qKnLm(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    TextAnalysis.kneserNeyLm(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1),
      KnDiscount, LmUnseenP)
  }

  /** Interpolated TRIGRAM Kneser–Ney on the same held-out split — the
    * KenLM operating order, exercising all four arms (trigram hit,
    * discounted interpolation, bigram-continuation backoff, unseen). */
  private def qKn3Lm(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    TextAnalysis.kneserNey3Lm(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1),
      KnDiscount, LmUnseenP)
  }

  /** Multinomial Naive Bayes lang classifier: train on even doc_ids,
    * classify the odd — the counts-only quality/domain-router stand-in
    * (GPT-3 quality filter / CCNet routing shape). */
  private def qNbClassify(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    TextAnalysis.nbClassify(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1))
  }

  /** Risk–coverage over the NB decision margin (same split as
    * q_nb_classify): selective accuracy vs coverage from the most- to
    * least-confident margin band. */
  private def qNbMargin(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    TextAnalysis.nbRiskCoverage(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1),
      bandMicros = NbBandMicros, nBands = NbBands)
  }

  private val NbBandMicros = 2500L
  private val NbBands = 10

  /** Confusion matrix over the q_nb_classify predictions (C²-bounded). */
  private def qNbConfusion(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    TextAnalysis.nbConfusion(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1))
  }

  private def qPack(s: SparkSession, dir: String): DataFrame =
    Packing.pack(Chunking.chunk(Tables.documents(s, dir), 40, 30),
      seqLen = PackSeqLen, docsPerBucket = PackDocsPerBucket)

  /** Per-sequence packing-efficiency report over the same chunk stream. */
  private def qPackStats(s: SparkSession, dir: String): DataFrame =
    Packing.packStats(Chunking.chunk(Tables.documents(s, dir), 40, 30),
      seqLen = PackSeqLen, docsPerBucket = PackDocsPerBucket)

  private def qSubstringDup(s: SparkSession, dir: String): DataFrame =
    Dedup.substringDup(Tables.documents(s, dir), SubstrN)

  /** DSIR bucket count shared by q_dsir's query and oracle — and by the
    * streaming gate (StreamEntries.qStreamDsir), which is hash-gated
    * against the SAME oracle. */
  private[graft] val DsirBuckets = 1024

  /** DSIR importance weights ([[TextAnalysis.dsirWeights]]): target
    * distribution = the English half of the corpus — the paper's shape
    * (select raw web data resembling a target domain), with lang as the
    * stand-in domain label. */
  private def qDsir(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.dsirWeights(Tables.documents(s, dir),
      col("lang") === "en", DsirBuckets)

  /** DSIR resample parameters shared by q_dsir_resample's query and
    * oracle: row budget and the jitter-hash salt. */
  private val DsirResampleN = 120
  private val DsirSalt = "dsir:"

  /** DSIR importance resampling ([[TextAnalysis.dsirResample]]): the
    * paper's Gumbel-top-k selection layer over the q_dsir weights — a
    * deterministic exponential-jitter weighted sample of
    * [[DsirResampleN]] docs, P(select) ∝ w(doc). TakeOrdered plan. */
  private def qDsirResample(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.dsirResample(Tables.documents(s, dir),
      col("lang") === "en", DsirResampleN, DsirBuckets, DsirSalt)

  private def qSubstringSa(s: SparkSession, dir: String): DataFrame =
    Dedup.substringSpans(Tables.documents(s, dir), SubstrSpanLen)

  private def qSampleTemperature(s: SparkSession, dir: String): DataFrame =
    CorpusStats.temperatureSample(Tables.documents(s, dir), MixAlpha, SampleSalt)

  private def qSampleExactN(s: SparkSession, dir: String): DataFrame =
    Sampling.stratifiedExactN(
      Tables.documents(s, dir).select(col("doc_id"), col("lang")),
      col("doc_id"), col("lang"), SampleSalt, ExactNPerLang)

  /** Shard-shuffle parameters (query and oracle read the same values). */
  private val ShardSalt = "sh1:"
  private val ShardSize = 64

  /** Seeded deterministic global shuffle into exact [[ShardSize]]-row
    * training shards ([[Layout.shuffleShards]]): bucket-offset global
    * rank over the salted content hash — no single-partition sort. */
  private def qShuffleShards(s: SparkSession, dir: String): DataFrame =
    Layout.shuffleShards(
      Tables.documents(s, dir).select(col("doc_id")),
      col("doc_id"), ShardSalt, ShardSize)
      .withColumnRenamed("k", "doc_id")

  /** Stratified-shard parameters (query and oracle read the same values). */
  private val StratShardSalt = "shs:"
  private val StratShardSize = 50

  /** Mixture-preserving shard shuffle ([[Layout.stratifiedShards]]):
    * deterministic stride interleave by language, so every 50-doc shard
    * carries the corpus's global lang proportions to within rounding. */
  private def qShardsStratified(s: SparkSession, dir: String): DataFrame =
    Layout.stratifiedShards(
      Tables.documents(s, dir).select(col("doc_id"), col("lang")),
      col("doc_id"), col("lang"), StratShardSalt, StratShardSize)
      .select(col("k").as("doc_id"), col("s").as("lang"),
        col("shard"), col("pos"))

  /** JSONL round trip ([[sources.Jsonl]]): export the corpus as
    * .jsonl.gz shards, re-read schema-pinned/FAILFAST, and aggregate
    * per (source, lang) with a content-hash checksum over `text`. The
    * oracle computes the SAME aggregate from the parquet originals, so a
    * hash-green result proves the export→import path is lossless down to
    * every text byte — the actual contract a corpus interchange format
    * must honor. Write lands in a scratch dir deleted at JVM exit. */
  private def qJsonlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val path = SessionScoped.scratchDir("graft_jsonl_") + "/documents"
    Jsonl.write(docs, path)
    Jsonl.read(s, path, docs.schema)
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum(pmod(TextAnalysis.hash60(col("text")), lit(1000003L)))
          .as("text_hash_sum"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))
  }

  /** Export-shard parameters (query and oracle read the same values). */
  private val ExportSalt = "ex1:"
  private val ExportShardSize = 100

  /** Sharded training-data export END-TO-END ([[Layout.exportShards]]):
    * seeded shuffle → one .jsonl.gz file per shard + checksummed manifest
    * → schema-pinned read-back → per-shard aggregate joined to the
    * manifest. The oracle recomputes everything from the parquet
    * originals, so a hash-green result proves (a) the export lossless
    * down to every text byte AND its in-shard position (the checksum is
    * position-weighted), (b) shard sizes exact, and (c) the manifest in
    * agreement with the shards it describes. */
  private def qExportShards(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val out = SessionScoped.scratchDir("graft_export_") + "/export"
    Layout.exportShards(docs, col("doc_id"), ExportSalt, ExportShardSize,
      col("text"), out)
    val back = Jsonl.read(s, s"$out/shards",
      docs.schema.add("pos", org.apache.spark.sql.types.LongType))
    back
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        sum((col("pos") + 1) *
          pmod(TextAnalysis.hash60(col("text")), lit(1000003L)))
          .as("pos_checksum"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .join(s.read.parquet(s"$out/manifest"), "shard")
  }

  /** BM25 query-term set + result size (query and oracle share these). */
  private val Bm25Terms = Seq("hash", "join", "vector")
  private val Bm25TopK = 20

  private def qBm25(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.bm25(Tables.documents(s, dir), Bm25Terms, Bm25TopK)

  /** Shared priority-sample parameters. */
  private val WeightSalt = "pw:"
  private val WeightedN = 150

  /** Exact-N weighted sample without replacement (priority sampling;
    * weight = document length). */
  private def qSampleWeighted(s: SparkSession, dir: String): DataFrame =
    Sampling.prioritySample(Tables.documents(s, dir), col("doc_id"),
      col("n_chars"), WeightSalt, WeightedN)
      .select(col("doc_id"), col("n_chars"),
        (floor(col("priority") * lit(10000) + lit(0.5)) / lit(10000)).as("priority"))

  /** Shared split parameters (query and oracle read the same values). */
  private[graft] val SplitSalt = "sp1:"
  private[graft] val SplitCuts = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)

  /** Deterministic disjoint train/val/test assignment per document. */
  private def qSplit(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"), col("source"),
      Sampling.splitBy(col("doc_id"), SplitSalt, SplitCuts).as("split"))

  /** Distribution drift between two corpus snapshots (even vs odd doc_id
    * stands in for crawl N vs crawl N+1): per-bin PSI + JS divergence over
    * the n_chars histogram. */
  private def qDrift(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    Drift.drift(
      docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1),
      "n_chars", binWidth = 100.0, maxBin = 14)
  }

  /** Merge count shared by the q_bpe pair's queries and oracles. The
    * oracle CTE chain scales mechanically (one MATERIALIZED layer per
    * merge; without MATERIALIZED, DuckDB inlines each doubly-referenced
    * layer and the chain is exponential). */
  private val BpeIters = 64

  /** Tokenizer learning ([[operators.Bpe]]): the 64 highest-count BPE
    * merges over the corpus — one distributed word count, then an
    * in-process merge loop; the learned merge table is the artifact a
    * tokenizer ships. */
  private def qBpeTrain(s: SparkSession, dir: String): DataFrame =
    operators.Bpe.fit(Tables.documents(s, dir), BpeIters).table

  /** The corpus tokenized with the learned merges: exact per-subword
    * counts (the subword-vocabulary view). */
  private def qBpeEncode(s: SparkSession, dir: String): DataFrame =
    operators.Bpe.fit(Tables.documents(s, dir), BpeIters).encode

  /** Tokenizer fertility report per (source, lang) under the trained
    * merge table — measures ENCODING-side tokenizer quality. */
  private def qBpeFertility(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    operators.Bpe.fit(docs, BpeIters).fertility(docs)
  }

  /** Unigram-LM parameters shared by the q_unigram pair's queries and
    * oracles: seed 96 multi-char pieces, two hard-EM rounds pruning to
    * 64 then 48 — past one round so the oracle's per-round CTE blocks
    * prove the LOOP, not a single pass. */
  private val UnigramSeedMulti = 96
  private val UnigramKeep = Seq(64, 48)

  /** Unigram-LM tokenizer training ([[operators.Unigram]]): seed + two
    * hard-EM Viterbi/prune rounds. */
  private def qUnigramTrain(s: SparkSession, dir: String): DataFrame =
    operators.Unigram.fit(Tables.documents(s, dir), UnigramSeedMulti, UnigramKeep).table

  /** The corpus Viterbi-tokenized with the learned unigram table: exact
    * per-piece counts (the subword-vocabulary view, like q_bpe_encode). */
  private def qUnigramEncode(s: SparkSession, dir: String): DataFrame =
    operators.Unigram.fit(Tables.documents(s, dir), UnigramSeedMulti, UnigramKeep).encode

  /** Unigram-tokenizer fertility per (source, lang) — the q_bpe_fertility
    * disparity report over the Viterbi segmentation. */
  private def qUnigramFertility(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    operators.Unigram.fit(docs, UnigramSeedMulti, UnigramKeep).fertility(docs)
  }

  // ---------------------------------------------------------------- oracle

  /** Chunk CTE shared by q_chunks and q_passage_dedup (mirrors
    * Chunking.chunk at size 40 / stride 30). */
  private val oChunks: String =
    """tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |st AS (
      |  SELECT doc_id, toks, unnest(range(1, len(toks) + 1, 30)) AS start
      |  FROM tk
      |),
      |ch AS (
      |  SELECT doc_id,
      |    CAST((start - 1) // 30 AS BIGINT) AS chunk_id,
      |    CAST(start AS BIGINT) AS start_token,
      |    toks[start:least(start + 39, len(toks))] AS ctoks
      |  FROM st
      |),
      |chunks AS (
      |  SELECT doc_id, chunk_id, start_token,
      |    CAST(len(ctoks) AS BIGINT) AS n_chunk_tokens,
      |    md5(array_to_string(ctoks, ' ')) AS chunk_md5
      |  FROM ch
      |)""".stripMargin

  /** Distinct (doc_id, 31-bit hash) shingle index at width `n` (mirrors
    * Dedup.shingleIndex; the 3-gram variant in TextDedupEntries is a fixed
    * specialization of this). */
  private def oShingleIdx(n: Int): String = {
    val grams = (0 until n).map(k => s"toks[i+$k]").mkString(", ")
    s"""tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |sh0 AS (
       |  SELECT doc_id, unnest(list_distinct(
       |    CASE WHEN len(toks) < $n THEN CAST([] AS VARCHAR[])
       |         ELSE list_transform(range(1, len(toks) - ${n - 2}),
       |                i -> concat_ws(' ', $grams)) END)) AS sh
       |  FROM tk
       |),
       |shidx AS (SELECT DISTINCT doc_id,
       |  CAST(concat('0x', substr(md5(sh), 1, 15)) AS BIGINT) % 2147483647 AS h
       |  FROM sh0),
       |shsz AS (SELECT doc_id, count(*) AS sz FROM shidx GROUP BY doc_id)""".stripMargin
  }

  /** DuckDB literal for the langId/quality stopword marker list. */
  private val oStopList: String =
    graft.operators.TextAnalysis.Stopwords.map(s => s"'$s'").mkString("[", ",", "]")

  /** Shared by q_decontaminate AND q_decontaminate_bloom: the bloom
    * variant's strongest check is hashing against the exact screen's
    * oracle unchanged. */
  /** Shared rule-flags CTE chain (mirrors TextAnalysis.qualityRules up
    * to the ok_* flags) — feeds q_quality_rules and q_rules_ablation. */
  private def oRulesChain: String =
    s"""t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks, length(text) AS lc
       |  FROM documents
       |), m AS (
       |  SELECT doc_id,
       |    CAST(len(toks) AS BIGINT) AS n_words,
       |    ${r4("(lc - (len(toks) - 1)) * 1.0 / len(toks)")} AS mean_word_len,
       |    list_max(list_transform(toks, x -> length(x))) AS max_word_len,
       |    len(list_filter($oStopList, s -> list_contains(toks, s)))
       |      AS n_stop_distinct,
       |    ${r4("len(list_filter(toks, x -> length(x) <= 2)) * 1.0 / len(toks)")}
       |      AS short_word_frac
       |  FROM t
       |), f AS (
       |  SELECT *,
       |    (n_words >= $RuleMinWords AND n_words <= $RuleMaxWords) AS ok_words,
       |    (mean_word_len >= $RuleMinMeanLen AND mean_word_len <= $RuleMaxMeanLen)
       |      AS ok_mean_len,
       |    max_word_len <= $RuleMaxWordLen AS ok_word_len,
       |    n_stop_distinct >= $RuleMinStop AS ok_stopwords,
       |    short_word_frac <= $RuleMaxShortFrac AS ok_short
       |  FROM m
       |)""".stripMargin

  private def decontamOracleSql: String =
    s"""WITH ${oShingleIdx(DecontamN)},
       |ev AS (SELECT DISTINCT h FROM shidx WHERE doc_id % 10 = 0),
       |tr AS (SELECT * FROM shidx WHERE doc_id % 10 != 0),
       |sz AS (SELECT doc_id, count(*) AS n_shingles FROM tr GROUP BY 1),
       |hits AS (
       |  SELECT tr.doc_id, count(*) AS n_eval_hits
       |  FROM tr JOIN ev ON tr.h = ev.h GROUP BY 1
       |)
       |SELECT sz.doc_id, sz.n_shingles,
       |  coalesce(n_eval_hits, 0) AS n_eval_hits,
       |  ${r4("coalesce(n_eval_hits, 0) * 1.0 / sz.n_shingles")}
       |    AS contamination_frac,
       |  coalesce(n_eval_hits, 0) >= $DecontamMinHits AS contaminated
       |FROM sz LEFT JOIN hits ON hits.doc_id = sz.doc_id""".stripMargin

  /** BPE oracle CTE chain (mirrors Bpe.fit exactly): bracketed
    * symbol strings, greedy merge via plain `replace`, best pair by
    * (count DESC, left, right). `d$i` is the dictionary after merge i —
    * declared AS MATERIALIZED because each d is referenced twice (next
    * layer's pair count + next dict); DuckDB 1.0 inlines CTEs per
    * reference, so without the keyword the chain re-opens the parquet
    * 2^iters times (measured: dead at 16 layers; 0.8 s at 64 with it). */
  private def oBpeChain: String = {
    def ext(src: String) =
      s"regexp_extract_all($src, chr(1) || '([^' || chr(2) || ']+)' || chr(2), 1)"
    def layer(i: Int): String =
      s"""p$i AS (
         |  SELECT p.l AS left_sym, p.r AS right_sym,
         |    CAST(sum(cnt) AS BIGINT) AS pair_count
         |  FROM (
         |    SELECT cnt, unnest(list_transform(range(1, len(syms)),
         |      k -> {'l': syms[k], 'r': syms[k + 1]})) AS p
         |    FROM (SELECT cnt, ${ext("seq")} AS syms FROM d${i - 1})
         |  ) GROUP BY 1, 2
         |), b$i AS (
         |  SELECT left_sym, right_sym, pair_count FROM p$i
         |  ORDER BY pair_count DESC, left_sym, right_sym LIMIT 1
         |), d$i AS MATERIALIZED (
         |  SELECT cnt, replace(seq,
         |    chr(1) || left_sym || chr(2) || chr(1) || right_sym || chr(2),
         |    chr(1) || left_sym || right_sym || chr(2)) AS seq
         |  FROM d${i - 1}, b$i
         |)""".stripMargin
    s"""wc AS (
       |  SELECT word, count(*) AS cnt FROM (
       |    SELECT unnest(string_split(text, ' ')) AS word FROM documents
       |  ) WHERE length(word) > 0
       |    AND strpos(word, chr(1)) = 0 AND strpos(word, chr(2)) = 0
       |  GROUP BY 1
       |), d0 AS MATERIALIZED (
       |  SELECT cnt, array_to_string(list_transform(range(1, length(word) + 1),
       |    i -> chr(1) || substr(word, i, 1) || chr(2)), '') AS seq
       |  FROM wc
       |),
       |${(1 to BpeIters).map(layer).mkString(",\n")}""".stripMargin
  }

  /** Unigram-LM oracle CTE chain (mirrors Unigram.fit step for step):
    * word dict with the MaxWordLen filter, substring-seeded vocabulary,
    * then per EM round one UNROLLED Viterbi DP (one cumulative layer per
    * word position, ≤ MaxWordLen of them; ties broken (score DESC, split
    * pos ASC) exactly like the Scala DP's ascending-i strict-> loop),
    * usage counts from the bracketed segmentation strings, and the
    * chars + top-k prune with Laplace +1 counts. Every layer is AS
    * MATERIALIZED — the cumulative union is referenced by the next layer
    * AND the final cut, and DuckDB inlines per reference (the oBpeChain
    * lesson). `dpChain(pfx, vq)` ends in `fin$pfx(cnt, seg)`. */
  private def oUnigramChain(withEncodeChain: Boolean): String = {
    val W = operators.Unigram.MaxWordLen
    val P = operators.Unigram.MaxPiece
    def lqCte(name: String, src: String) =
      s"""$name AS MATERIALIZED (
         |  SELECT piece,
         |    CAST(floor(ln(CAST(c AS DOUBLE) / t.tot) * 10000 + 0.5) AS BIGINT)
         |      AS lq
         |  FROM $src, (SELECT CAST(sum(c) AS DOUBLE) AS tot FROM $src) t
         |)""".stripMargin
    def dpChain(pfx: String, vq: String): String = {
      val layers = (1 to W).map { j =>
        s"""dp$pfx$j AS (
           |  SELECT word, cnt, $j AS pos, sc, seg FROM (
           |    SELECT d.word, d.cnt, d.sc + v.lq AS sc,
           |      d.seg || chr(1) || v.piece || chr(2) AS seg,
           |      row_number() OVER (PARTITION BY d.word
           |        ORDER BY d.sc + v.lq DESC, d.pos ASC) AS rn
           |    FROM dpc$pfx${j - 1} d
           |    JOIN $vq v ON v.piece = substr(d.word, d.pos + 1, $j - d.pos)
           |    WHERE d.pos >= $j - $P AND length(d.word) >= $j
           |  ) WHERE rn = 1
           |), dpc$pfx$j AS MATERIALIZED (
           |  SELECT * FROM dpc$pfx${j - 1} UNION ALL SELECT * FROM dp$pfx$j
           |)""".stripMargin
      }
      s"""dpc${pfx}0 AS MATERIALIZED (
         |  SELECT word, cnt, 0 AS pos, CAST(0 AS BIGINT) AS sc, '' AS seg
         |  FROM wc
         |),
         |${layers.mkString(",\n")},
         |fin$pfx AS MATERIALIZED (
         |  SELECT cnt, seg FROM dpc$pfx$W WHERE pos = length(word)
         |)""".stripMargin
    }
    def usageCte(t: Int, finPfx: String) =
      s"""u$t AS MATERIALIZED (
         |  SELECT piece, CAST(sum(cnt) AS BIGINT) AS u FROM (
         |    SELECT cnt, unnest(regexp_extract_all(seg,
         |      chr(1) || '([^' || chr(2) || ']+)' || chr(2), 1)) AS piece
         |    FROM fin$finPfx
         |  ) GROUP BY 1
         |)""".stripMargin
    def vocabCte(t: Int, k: Int) =
      s"""v$t AS MATERIALIZED (
         |  SELECT piece, CAST(u + 1 AS BIGINT) AS c, u FROM (
         |    SELECT ch.piece, coalesce(uu.u, 0) AS u
         |    FROM chars ch LEFT JOIN u$t uu USING (piece)
         |    UNION ALL
         |    SELECT piece, u FROM (
         |      SELECT piece, u, row_number() OVER (ORDER BY u DESC, piece) AS rn
         |      FROM u$t WHERE length(piece) > 1
         |    ) WHERE rn <= $k
         |  )
         |)""".stripMargin
    val base =
      s"""wc AS MATERIALIZED (
         |  SELECT word, count(*) AS cnt FROM (
         |    SELECT unnest(string_split(text, ' ')) AS word FROM documents
         |  ) WHERE length(word) > 0 AND length(word) <= $W
         |    AND strpos(word, chr(1)) = 0 AND strpos(word, chr(2)) = 0
         |  GROUP BY 1
         |), s0 AS MATERIALIZED (
         |  SELECT substr(word, i.i, l.l) AS piece, CAST(sum(cnt) AS BIGINT) AS u
         |  FROM wc, range(1, ${W + 1}) i(i), range(1, ${P + 1}) l(l)
         |  WHERE i.i + l.l - 1 <= length(word)
         |  GROUP BY 1
         |), chars AS MATERIALIZED (
         |  SELECT piece, u FROM s0 WHERE length(piece) = 1
         |), v0 AS MATERIALIZED (
         |  SELECT piece, u AS c FROM chars
         |  UNION ALL
         |  SELECT piece, u AS c FROM (
         |    SELECT piece, u, row_number() OVER (ORDER BY u DESC, piece) AS rn
         |    FROM s0 WHERE length(piece) > 1
         |  ) WHERE rn <= $UnigramSeedMulti
         |),
         |${lqCte("vq0", "v0")},
         |${dpChain("a", "vq0")},
         |${usageCte(1, "a")},
         |${vocabCte(1, UnigramKeep(0))},
         |${lqCte("vq1", "v1")},
         |${dpChain("b", "vq1")},
         |${usageCte(2, "b")},
         |${vocabCte(2, UnigramKeep(1))},
         |${lqCte("vq2", "v2")}""".stripMargin
    if (withEncodeChain) base + ",\n" + dpChain("c", "vq2") else base
  }

  /** DSIR mirror chain shared by q_dsir and q_dsir_resample:
    * unigram+bigram grams with multiplicity, hash60-bucketed mod
    * DsirBuckets, Laplace bucket LMs for target (lang='en') and raw,
    * per-bucket log-probs quantized at 4dp (ln idiom), per-doc integer
    * sum of (lqt - lqr) as CTE `per`. */
  private def oDsirChain: String =
    s"""tk AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
       |), g0 AS (
       |  SELECT doc_id, unnest(toks) AS g FROM tk
       |  UNION ALL
       |  SELECT doc_id, unnest(CASE WHEN len(toks) < 2
       |      THEN CAST([] AS VARCHAR[])
       |      ELSE list_transform(range(1, len(toks)),
       |             i -> concat_ws(' ', toks[i], toks[i+1])) END) AS g
       |  FROM tk
       |), gb AS MATERIALIZED (
       |  SELECT doc_id,
       |    CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT) % $DsirBuckets
       |      AS b
       |  FROM g0
       |), tc AS (
       |  SELECT gb.b, count(*) AS c FROM gb
       |  JOIN documents d ON d.doc_id = gb.doc_id AND d.lang = 'en'
       |  GROUP BY gb.b
       |), rc AS (SELECT b, count(*) AS c FROM gb GROUP BY b
       |), tt AS (
       |  SELECT (SELECT count(*) FROM gb
       |          JOIN documents d ON d.doc_id = gb.doc_id AND d.lang = 'en')
       |    AS tot_t,
       |    (SELECT count(*) FROM gb) AS tot_r
       |), lqs AS MATERIALIZED (
       |  SELECT r.range AS b,
       |    CAST(floor(ln((coalesce(tc.c, 0) + 1) /
       |      CAST(tt.tot_t + $DsirBuckets AS DOUBLE)) * 10000 + 0.5)
       |      AS BIGINT) AS lqt,
       |    CAST(floor(ln((coalesce(rc.c, 0) + 1) /
       |      CAST(tt.tot_r + $DsirBuckets AS DOUBLE)) * 10000 + 0.5)
       |      AS BIGINT) AS lqr
       |  FROM range($DsirBuckets) r
       |  LEFT JOIN tc ON tc.b = r.range
       |  LEFT JOIN rc ON rc.b = r.range, tt
       |), per AS (
       |  SELECT gb.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
       |    CAST(sum(lqs.lqt - lqs.lqr) AS BIGINT) AS logw_q
       |  FROM gb JOIN lqs ON lqs.b = gb.b
       |  GROUP BY gb.doc_id
       |)""".stripMargin

  /** Naive-Bayes prediction chain shared by q_nb_classify and
    * q_nb_confusion (mirrors TextAnalysis.nbClassify: Laplace +1, per-token
    * NLL micros, argmin with label-asc tiebreak). */
  private val oNbChain: String =
    s"""tr AS (SELECT lang, string_split(text, ' ') AS toks FROM documents
       |  WHERE doc_id % 2 = 0),
       |sc AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
       |  WHERE doc_id % 2 = 1),
       |cls AS (SELECT lang AS label, CAST(count(*) AS BIGINT) AS n_docs
       |  FROM tr GROUP BY 1),
       |ntd AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n FROM cls),
       |wc AS (SELECT label, w, CAST(count(*) AS BIGINT) AS n_wc
       |  FROM (SELECT lang AS label, unnest(toks) AS w FROM tr) GROUP BY 1, 2),
       |vv AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM wc),
       |totc AS (SELECT label, CAST(sum(n_wc) AS BIGINT) AS n_c FROM wc GROUP BY 1),
       |st AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS k
       |  FROM (SELECT doc_id, unnest(toks) AS w FROM sc) GROUP BY 1, 2),
       |pdc AS (
       |  SELECT st.doc_id, c.label,
       |    CAST(floor(-ln(CAST(c.n_docs AS DOUBLE) / CAST(ntd.n AS DOUBLE))
       |        * 10000 + 0.5) AS BIGINT)
       |      + CAST(sum(st.k * CAST(floor(-ln(
       |            (CAST(coalesce(wc.n_wc, 0) AS DOUBLE) + 1.0)
       |            / (CAST(t.n_c AS DOUBLE) + CAST(vv.v AS DOUBLE)))
       |          * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS nll4,
       |    CAST(sum(CASE WHEN wc.n_wc IS NULL THEN st.k ELSE 0 END) AS BIGINT)
       |      AS n_unseen
       |  FROM st
       |  CROSS JOIN cls c
       |  JOIN totc t ON t.label = c.label
       |  CROSS JOIN ntd
       |  CROSS JOIN vv
       |  LEFT JOIN wc ON wc.label = c.label AND wc.w = st.w
       |  GROUP BY st.doc_id, c.label, c.n_docs, ntd.n
       |),
       |win AS (
       |  SELECT doc_id, label, nll4, n_unseen,
       |    row_number() OVER (PARTITION BY doc_id ORDER BY nll4, label) AS rk
       |  FROM pdc
       |),
       |nbp AS (
       |  SELECT s.doc_id, s.lang AS actual, w.label AS pred,
       |    (s.lang = w.label) AS correct,
       |    ${r4("CAST(w.nll4 AS DOUBLE) / 10000.0")} AS nll,
       |    w.n_unseen AS n_unseen
       |  FROM sc s JOIN win w ON w.doc_id = s.doc_id AND w.rk = 1
       |)""".stripMargin

  /** Kneser–Ney oracle chain shared by q_kn_lm and q_ccnet_buckets:
    * mirrors TextAnalysis.kneserNeyLm op-for-op (see q_kn_lm's comment)
    * and ends in `knl(doc_id, n_bigrams, n_hit, n_cont_backoff,
    * n_ctx_unseen, avg_nll)`. */
  private def oKnChain: String =
    oKnChainFor("doc_id % 2 = 0", "doc_id % 2 = 1")

  /** [[oKnChain]] generalized over the train/score split predicates —
    * q_ccnet_fixed scores the calibration slice AND the routed corpus in
    * one chain, so its score side is a disjunction. */
  private def oKnChainFor(trainWhere: String, scoreWhere: String): String =
    s"""tr AS (SELECT string_split(text, ' ') AS toks FROM documents
         |  WHERE $trainWhere),
         |sc AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
         |  WHERE $scoreWhere),
         |bi AS (SELECT g, CAST(count(*) AS BIGINT) AS n2,
         |    string_split(g, ' ')[1] AS w1, string_split(g, ' ')[2] AS w2
         |  FROM (SELECT unnest(CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
         |      ELSE list_transform(range(1, len(toks)),
         |             i -> concat_ws(' ', toks[i], toks[i+1])) END) AS g
         |    FROM tr) GROUP BY g),
         |pfx AS (SELECT w1, CAST(sum(n2) AS BIGINT) AS c1,
         |    CAST(count(*) AS BIGINT) AS fanout FROM bi GROUP BY w1),
         |cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS n_cont FROM bi GROUP BY w2),
         |nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM bi),
         |grams AS (SELECT doc_id, g,
         |    string_split(g, ' ')[1] AS w1, string_split(g, ' ')[2] AS w2
         |  FROM (SELECT doc_id,
         |      unnest(CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
         |        ELSE list_transform(range(1, len(toks)),
         |               i -> concat_ws(' ', toks[i], toks[i+1])) END) AS g
         |    FROM sc)),
         |j AS (
         |  SELECT gr.doc_id,
         |    CASE WHEN p.c1 IS NOT NULL AND b.n2 IS NOT NULL THEN 2
         |         WHEN p.c1 IS NOT NULL THEN 1 ELSE 0 END AS lvl,
         |    CASE WHEN p.c1 IS NOT NULL THEN greatest(
         |        greatest(CAST(coalesce(b.n2, 0) AS DOUBLE)
         |            - CAST($KnDiscount AS DOUBLE), 0.0)
         |          / CAST(p.c1 AS DOUBLE)
         |        + CAST($KnDiscount AS DOUBLE) * CAST(p.fanout AS DOUBLE)
         |          / CAST(p.c1 AS DOUBLE)
         |          * (CAST(coalesce(ct.n_cont, 0) AS DOUBLE) / CAST(nt.n AS DOUBLE)),
         |        CAST($LmUnseenP AS DOUBLE))
         |      ELSE greatest(
         |        CAST(coalesce(ct.n_cont, 0) AS DOUBLE) / CAST(nt.n AS DOUBLE),
         |        CAST($LmUnseenP AS DOUBLE)) END AS p
         |  FROM grams gr
         |  LEFT JOIN bi b ON b.g = gr.g
         |  LEFT JOIN pfx p ON p.w1 = gr.w1
         |  LEFT JOIN cont ct ON ct.w2 = gr.w2
         |  CROSS JOIN nt
         |),
         |a AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         |    CAST(sum(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         |    CAST(sum(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cont_backoff,
         |    CAST(sum(CASE WHEN lvl = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ctx_unseen,
         |    CAST(sum(CAST(floor(-ln(p) * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS s4
         |  FROM j GROUP BY doc_id
         |),
       |knl AS (
|SELECT d.doc_id,
         |  CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
         |  CAST(coalesce(a.n_hit, 0) AS BIGINT) AS n_hit,
         |  CAST(coalesce(a.n_cont_backoff, 0) AS BIGINT) AS n_cont_backoff,
         |  CAST(coalesce(a.n_ctx_unseen, 0) AS BIGINT) AS n_ctx_unseen,
         |  ${r4("a.s4 / 10000.0 / a.n_bigrams")} AS avg_nll
         |FROM documents d LEFT JOIN a USING (doc_id)
         |WHERE $scoreWhere
       |)""".stripMargin

  /** Novelty oracle shared VERBATIM by q_novelty and q_novelty_bloom —
    * the bloom prescreen is bit-exact by contract (no false negatives on
    * "novel"; positives re-checked exactly), so both queries gate on the
    * same SQL. */
  private val oNovelty: String =
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks
         |  FROM documents WHERE doc_id % 2 = 1),
         |sh0 AS (
         |  SELECT doc_id, unnest(list_distinct(
         |    CASE WHEN len(toks) < $NoveltyN THEN CAST([] AS VARCHAR[])
         |         ELSE list_transform(range(1, len(toks) - ${NoveltyN - 2}),
         |                i -> concat_ws(' ', ${(0 until NoveltyN).map(k => s"toks[i+$k]").mkString(", ")})) END)) AS sh
         |  FROM tk
         |),
         |shidx AS (SELECT DISTINCT doc_id,
         |  CAST(concat('0x', substr(md5(sh), 1, 15)) AS BIGINT) % 2147483647 AS h
         |  FROM sh0),
         |refg AS (SELECT DISTINCT
         |    CAST(concat('0x', substr(md5(sh), 1, 15)) AS BIGINT) % 2147483647 AS h
         |  FROM (
         |    SELECT unnest(list_distinct(
         |      CASE WHEN len(toks) < $NoveltyN THEN CAST([] AS VARCHAR[])
         |           ELSE list_transform(range(1, len(toks) - ${NoveltyN - 2}),
         |                  i -> concat_ws(' ', ${(0 until NoveltyN).map(k => s"toks[i+$k]").mkString(", ")})) END)) AS sh
         |    FROM (SELECT string_split(text, ' ') AS toks FROM documents
         |          WHERE doc_id % 2 = 0)
         |  )),
         |per AS (
         |  SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
         |    CAST(count(refg.h) AS BIGINT) AS n_seen
         |  FROM shidx s LEFT JOIN refg ON refg.h = s.h
         |  GROUP BY 1
         |)
         |SELECT d.doc_id,
         |  CAST(coalesce(per.n_grams, 0) AS BIGINT) AS n_grams,
         |  CAST(coalesce(per.n_seen, 0) AS BIGINT) AS n_seen,
         |  CASE WHEN coalesce(per.n_grams, 0) > 0 THEN
         |    ${r4("1.0 - CAST(per.n_seen AS DOUBLE) / CAST(per.n_grams AS DOUBLE)")}
         |  ELSE NULL END AS novel_frac
         |FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
         |WHERE d.doc_id % 2 = 1""".stripMargin

  /** Shared verbatim with q_stream_dsir ([[StreamEntries]]). */
  private[graft] val dsirOracleSql: String =
    s"""WITH $oDsirChain
       |SELECT d.doc_id,
       |  coalesce(per.n_grams, 0) AS n_grams,
       |  coalesce(per.logw_q, 0) AS logw_q,
       |  coalesce(per.logw_q, 0) > 0 AS selected
       |FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id""".stripMargin

  /** Shared verbatim with q_stream_nb ([[StreamEntries]]). */
  private[graft] val nbClassifyOracleSql: String =
    s"""WITH $oNbChain
       |SELECT doc_id, actual, pred, correct, nll, n_unseen FROM nbp""".stripMargin

  /** Shared verbatim with q_stream_ccnet ([[StreamEntries]]). */
  private[graft] val ccnetFixedOracleSql: String =
    s"""WITH ${oKnChainFor("doc_id % 4 = 0",
           "doc_id % 4 = 2 OR doc_id % 2 = 1")},
       |thf AS (
       |  SELECT quantile_cont(avg_nll, [$OneThird, $TwoThirds]) AS th
       |  FROM knl WHERE avg_nll IS NOT NULL AND doc_id % 4 = 2
       |)
       |SELECT k.doc_id, k.avg_nll,
       |  CASE WHEN k.avg_nll IS NULL THEN 'unscored'
       |       WHEN k.avg_nll <= ${r4("thf.th[1]")} THEN 'head'
       |       WHEN k.avg_nll <= ${r4("thf.th[2]")} THEN 'middle'
       |       ELSE 'tail' END AS bucket
       |FROM knl k, thf WHERE k.doc_id % 2 = 1""".stripMargin

  /** Shared verbatim with q_stream_blocklist ([[StreamEntries]]). */
  private[graft] val blocklistOracleSql: String = {
    val terms = BlockTerms.map(t => s"'$t'").mkString("[", ",", "]")
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |b AS (
       |  SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
       |    CAST(len(list_filter(toks, t -> list_contains($terms, t))) AS BIGINT)
       |      AS n_blocked
       |  FROM tk
       |)
       |SELECT doc_id, n_tokens, n_blocked,
       |  ${r4("CAST(n_blocked AS DOUBLE) / CAST(n_tokens AS DOUBLE)")}
       |    AS blocked_frac,
       |  (CAST(n_blocked AS DOUBLE) <= 0.0 * CAST(n_tokens AS DOUBLE))
       |    AS keep
       |FROM b""".stripMargin
  }

  /** Shared verbatim with q_stream_repetition ([[StreamEntries]]). */
  private[graft] val repetitionOracleSql: String =
    s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |base AS (
       |  SELECT doc_id, len(toks) AS n_tokens,
       |    ${r4("1.0 - len(list_distinct(toks)) * 1.0 / len(toks)")}
       |      AS token_dup_frac
       |  FROM tk
       |),
       |bg AS (
       |  SELECT doc_id, unnest(
       |    CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
       |         ELSE list_transform(range(1, len(toks)),
       |                i -> concat_ws(' ', toks[i], toks[i+1])) END) AS g
       |  FROM tk
       |),
       |c AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
       |a AS (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n2,
       |    CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_occ,
       |    max(c) AS top_c
       |  FROM c GROUP BY 1
       |)
       |SELECT b.doc_id, b.n_tokens, b.token_dup_frac,
       |  coalesce(${r4("dup_occ * 1.0 / n2")}, 0.0) AS dup_bigram_frac,
       |  coalesce(${r4("top_c * 1.0 / n2")}, 0.0) AS top_bigram_frac,
       |  (b.token_dup_frac <= $MaxTokenDup
       |   AND coalesce(${r4("dup_occ * 1.0 / n2")}, 0.0) <= $MaxDupBigram
       |   AND coalesce(${r4("top_c * 1.0 / n2")}, 0.0) <= $MaxTopBigram) AS keep
       |FROM base b LEFT JOIN a ON a.doc_id = b.doc_id""".stripMargin

  /** Shared verbatim with q_stream_rules ([[StreamEntries]]). */
  private[graft] val qualityRulesOracleSql: String =
    s"""WITH $oRulesChain
       |SELECT *,
       |  (ok_words AND ok_mean_len AND ok_word_len AND ok_stopwords AND ok_short)
       |    AS keep,
       |  CASE WHEN NOT ok_words THEN 'n_words'
       |       WHEN NOT ok_mean_len THEN 'mean_word_len'
       |       WHEN NOT ok_word_len THEN 'max_word_len'
       |       WHEN NOT ok_stopwords THEN 'stopwords'
       |       WHEN NOT ok_short THEN 'short_words'
       |       ELSE NULL END AS fail_reason
       |FROM f""".stripMargin

  val entries: Seq[Query] = Seq(
    Query("q_blocklist", qBlocklist, Some(blocklistOracleSql)),

    Query("q_data_card", qDataCard, Some(
      s"""WITH ${OracleSql.qualityScoreCte},
         |base AS (
         |  SELECT d.source, d.lang, d.text, d.n_chars,
         |    len(string_split(d.text, ' ')) AS n_tokens, s.quality_score
         |  FROM documents d JOIN qscore s USING (doc_id)
         |),
         |g AS (
         |  SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(count(DISTINCT text) AS BIGINT) AS n_distinct_texts,
         |    CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |    CAST(sum(n_chars) AS BIGINT) AS n_chars,
         |    CAST(sum(CAST(floor(quality_score * 10000 + 0.5) AS BIGINT))
         |      AS BIGINT) AS q4_sum
         |  FROM base GROUP BY source, lang
         |),
         |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM g)
         |SELECT source, lang, n_docs,
         |  n_docs - n_distinct_texts AS n_exact_dups,
         |  ${r4("CAST(n_docs - n_distinct_texts AS DOUBLE) / CAST(n_docs AS DOUBLE)")}
         |    AS dup_frac,
         |  n_tokens, n_chars,
         |  ${r4("CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE)")} AS mean_doc_tokens,
         |  ${r4("CAST(q4_sum AS DOUBLE) / 10000.0 / CAST(n_docs AS DOUBLE)")}
         |    AS mean_quality,
         |  ${r4("CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE)")} AS share_pct
         |FROM g CROSS JOIN tot""".stripMargin)),

    Query("q_nb_classify", qNbClassify, Some(nbClassifyOracleSql)),

    Query("q_nb_confusion", qNbConfusion, Some(
      s"""WITH $oNbChain
         |SELECT actual, pred, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(CASE WHEN correct THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
         |FROM nbp GROUP BY actual, pred""".stripMargin)),

    // margin = runner-up minus best nll4 (exact int64 micros off the
    // shared win CTE); docs with no runner-up land in the open top band
    Query("q_nb_margin", qNbMargin, Some(
      s"""WITH $oNbChain,
         |sec AS (
         |  SELECT a.doc_id, a.label, a.nll4, b.nll4 AS nll4b
         |  FROM win a LEFT JOIN win b ON b.doc_id = a.doc_id AND b.rk = 2
         |  WHERE a.rk = 1
         |),
         |bd AS (
         |  SELECT (s.lang = x.label) AS correct,
         |    least(coalesce(x.nll4b - x.nll4, ${NbBandMicros * NbBands})
         |      // $NbBandMicros, ${NbBands - 1}) AS band
         |  FROM sc s JOIN sec x ON x.doc_id = s.doc_id
         |),
         |pb AS (
         |  SELECT band, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(CASE WHEN correct THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_correct
         |  FROM bd GROUP BY band
         |),
         |tt AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total_docs FROM pb)
         |SELECT band, n_docs, n_correct,
         |  ${r4("CAST(n_correct AS DOUBLE) / n_docs")} AS acc,
         |  CAST(sum(n_docs) OVER wb AS BIGINT) AS cum_docs,
         |  ${r4("CAST(sum(n_correct) OVER wb AS DOUBLE) / CAST(sum(n_docs) OVER wb AS DOUBLE)")}
         |    AS selective_acc,
         |  ${r4("CAST(sum(n_docs) OVER wb AS DOUBLE) / total_docs")} AS coverage
         |FROM pb CROSS JOIN tt
         |WINDOW wb AS (ORDER BY band DESC
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin)),

    // arithmetic mirrored op-for-op with explicit DOUBLE casts and the
    // same parenthesization as TextAnalysis.kneserNeyLm; per-gram NLLs
    // 4dp-quantized before the per-doc sum (the backoff_lm idiom)
    Query("q_kn_lm", qKnLm, Some(
      s"""WITH $oKnChain
         |SELECT * FROM knl""".stripMargin)),

    // trigram interpolated KN mirrored op-for-op: counts coalesced before
    // the discount, the same left-assoc parenthesization as kneserNey3Lm,
    // DOUBLE all the way, 4dp-int64 NLL sums (the q_kn_lm idiom one
    // order up)
    Query("q_kn3_lm", qKn3Lm, Some(
      s"""WITH tr AS (SELECT string_split(text, ' ') AS toks FROM documents
         |  WHERE doc_id % 2 = 0),
         |sc AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
         |  WHERE doc_id % 2 = 1),
         |tri AS (SELECT g, CAST(count(*) AS BIGINT) AS n3,
         |    string_split(g, ' ')[1] AS w1, string_split(g, ' ')[2] AS w2,
         |    string_split(g, ' ')[3] AS w3
         |  FROM (SELECT unnest(CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
         |      ELSE list_transform(range(1, len(toks) - 1),
         |             i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) END) AS g
         |    FROM tr) GROUP BY g),
         |ctx AS (SELECT w1, w2, CAST(sum(n3) AS BIGINT) AS c12,
         |    CAST(count(*) AS BIGINT) AS fan12 FROM tri GROUP BY w1, w2),
         |mid AS (SELECT w2, w3, CAST(count(*) AS BIGINT) AS m23
         |  FROM tri GROUP BY w2, w3),
         |midctx AS (SELECT w2, CAST(count(*) AS BIGINT) AS m2,
         |    CAST(count(DISTINCT w3) AS BIGINT) AS fan2 FROM tri GROUP BY w2),
         |bi3 AS (SELECT g, string_split(g, ' ')[2] AS w3
         |  FROM (SELECT unnest(CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
         |      ELSE list_transform(range(1, len(toks)),
         |             i -> concat_ws(' ', toks[i], toks[i+1])) END) AS g
         |    FROM tr) GROUP BY g),
         |cont3 AS (SELECT w3, CAST(count(*) AS BIGINT) AS n_cont
         |  FROM bi3 GROUP BY w3),
         |nt3 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM bi3),
         |grams AS (SELECT doc_id, g,
         |    string_split(g, ' ')[1] AS w1, string_split(g, ' ')[2] AS w2,
         |    string_split(g, ' ')[3] AS w3
         |  FROM (SELECT doc_id,
         |      unnest(CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
         |        ELSE list_transform(range(1, len(toks) - 1),
         |               i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) END) AS g
         |    FROM sc)),
         |j AS (
         |  SELECT gr.doc_id,
         |    CASE WHEN c.c12 IS NOT NULL AND t.n3 IS NOT NULL THEN 3
         |         WHEN c.c12 IS NOT NULL THEN 2
         |         WHEN mc.m2 IS NOT NULL THEN 1 ELSE 0 END AS lvl,
         |    CASE WHEN c.c12 IS NOT NULL THEN greatest(
         |        greatest(CAST(coalesce(t.n3, 0) AS DOUBLE)
         |            - CAST($KnDiscount AS DOUBLE), 0.0)
         |          / CAST(c.c12 AS DOUBLE)
         |        + CAST($KnDiscount AS DOUBLE) * CAST(c.fan12 AS DOUBLE)
         |          / CAST(c.c12 AS DOUBLE)
         |          * (greatest(CAST(coalesce(m.m23, 0) AS DOUBLE)
         |              - CAST($KnDiscount AS DOUBLE), 0.0)
         |            / CAST(mc.m2 AS DOUBLE)
         |          + CAST($KnDiscount AS DOUBLE) * CAST(mc.fan2 AS DOUBLE)
         |            / CAST(mc.m2 AS DOUBLE)
         |            * (CAST(coalesce(ct.n_cont, 0) AS DOUBLE) / CAST(nt3.n AS DOUBLE))),
         |        CAST($LmUnseenP AS DOUBLE))
         |      WHEN mc.m2 IS NOT NULL THEN greatest(
         |        greatest(CAST(coalesce(m.m23, 0) AS DOUBLE)
         |            - CAST($KnDiscount AS DOUBLE), 0.0)
         |          / CAST(mc.m2 AS DOUBLE)
         |        + CAST($KnDiscount AS DOUBLE) * CAST(mc.fan2 AS DOUBLE)
         |          / CAST(mc.m2 AS DOUBLE)
         |          * (CAST(coalesce(ct.n_cont, 0) AS DOUBLE) / CAST(nt3.n AS DOUBLE)),
         |        CAST($LmUnseenP AS DOUBLE))
         |      ELSE greatest(
         |        CAST(coalesce(ct.n_cont, 0) AS DOUBLE) / CAST(nt3.n AS DOUBLE),
         |        CAST($LmUnseenP AS DOUBLE)) END AS p
         |  FROM grams gr
         |  LEFT JOIN tri t ON t.g = gr.g
         |  LEFT JOIN ctx c ON c.w1 = gr.w1 AND c.w2 = gr.w2
         |  LEFT JOIN mid m ON m.w2 = gr.w2 AND m.w3 = gr.w3
         |  LEFT JOIN midctx mc ON mc.w2 = gr.w2
         |  LEFT JOIN cont3 ct ON ct.w3 = gr.w3
         |  CROSS JOIN nt3
         |),
         |a3 AS (
         |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_trigrams,
         |    CAST(sum(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
         |    CAST(sum(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_disc_backoff,
         |    CAST(sum(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bigram_backoff,
         |    CAST(sum(CASE WHEN lvl = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ctx_unseen,
         |    CAST(sum(CAST(floor(-ln(p) * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS s4
         |  FROM j GROUP BY doc_id
         |)
         |SELECT d.doc_id,
         |  CAST(coalesce(a3.n_trigrams, 0) AS BIGINT) AS n_trigrams,
         |  CAST(coalesce(a3.n_hit, 0) AS BIGINT) AS n_hit,
         |  CAST(coalesce(a3.n_disc_backoff, 0) AS BIGINT) AS n_disc_backoff,
         |  CAST(coalesce(a3.n_bigram_backoff, 0) AS BIGINT) AS n_bigram_backoff,
         |  CAST(coalesce(a3.n_ctx_unseen, 0) AS BIGINT) AS n_ctx_unseen,
         |  ${r4("a3.s4 / 10000.0 / a3.n_trigrams")} AS avg_nll
         |FROM documents d LEFT JOIN a3 USING (doc_id)
         |WHERE d.doc_id % 2 = 1""".stripMargin)),

    // fixed-threshold routing: the KN chain scores BOTH the calibration
    // slice (%4=2) and the routed corpus (odd) in one pass; thresholds =
    // r4-quantized terciles over the calibration rows only; the output
    // is the odd docs' buckets against those fixed cut-points
    Query("q_ccnet_fixed", qCcnetFixed, Some(ccnetFixedOracleSql)),

    // terciles over the KN scores; quantile_cont mirrors Spark's
    // interpolating percentile (the q_quality_deciles precedent), with
    // the same 16-digit third literals on both sides
    Query("q_ccnet_buckets", qCcnetBuckets, Some(
      s"""WITH $oKnChain,
         |th AS (
         |  SELECT quantile_cont(avg_nll, [$OneThird, $TwoThirds]) AS th
         |  FROM knl WHERE avg_nll IS NOT NULL
         |)
         |SELECT k.doc_id, k.avg_nll,
         |  CASE WHEN k.avg_nll IS NULL THEN 'unscored'
         |       WHEN k.avg_nll <= ${r4("th.th[1]")} THEN 'head'
         |       WHEN k.avg_nll <= ${r4("th.th[2]")} THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM knl k, th""".stripMargin)),

    // score side = odd half's distinct-shingle index (the shingleIndex
    // mirror restricted to the split); reference side = even half's
    // distinct gram-hash set
    Query("q_novelty", qNovelty, Some(oNovelty)),
    // bit-exact by the bloom no-false-negative contract: same oracle
    Query("q_novelty_bloom", qNoveltyBloom, Some(oNovelty)),


    // gramless docs surface at weight 0, not absent (see oDsirChain)
    Query("q_dsir", qDsir, Some(dsirOracleSql)),
    // exponential-jitter weighted top-n: key_q = logw_q - lnu_q with u
    // the salted 16-bit md5 bucket uniform (the Sampling.hashBucket
    // mirror), ln quantized at 4dp; ties to the smaller doc_id
    Query("q_dsir_resample", qDsirResample, Some(
      s"""WITH $oDsirChain,
         |base AS (
         |  SELECT d.doc_id,
         |    coalesce(per.n_grams, 0) AS n_grams,
         |    coalesce(per.logw_q, 0) AS logw_q
         |  FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
         |)
         |SELECT doc_id, n_grams, logw_q,
         |  logw_q - CAST(floor(ln(
         |      (CAST(concat('0x', substr(md5(concat('$DsirSalt',
         |        CAST(doc_id AS VARCHAR))), 1, 4)) AS BIGINT) + 0.5)
         |      / 65536.0) * 10000 + 0.5) AS BIGINT) AS key_q
         |FROM base
         |ORDER BY key_q DESC, doc_id
         |LIMIT $DsirResampleN""".stripMargin)),
    Query("q_unigram_train", qUnigramTrain, Some(
      s"""WITH ${oUnigramChain(withEncodeChain = false)}
         |SELECT v2.piece, CAST(v2.u AS BIGINT) AS n_uses, vq2.lq AS logp_q
         |FROM v2 JOIN vq2 USING (piece)""".stripMargin)),
    Query("q_unigram_encode", qUnigramEncode, Some(
      s"""WITH ${oUnigramChain(withEncodeChain = true)}
         |SELECT token, CAST(sum(cnt) AS BIGINT) AS n FROM (
         |  SELECT cnt, unnest(regexp_extract_all(seg,
         |    chr(1) || '([^' || chr(2) || ']+)' || chr(2), 1)) AS token
         |  FROM finc
         |) GROUP BY 1""".stripMargin)),

    // the q_bpe_fertility report over the Viterbi segmentation: per-word
    // piece counts from the encode chain's final DP layer, corpus side
    // identical to the BPE mirror (words over MaxWordLen drop via the
    // inner join — the dictionary contract excludes them from training
    // and encoding on both engines)
    Query("q_unigram_fertility", qUnigramFertility, Some(
      s"""WITH ${oUnigramChain(withEncodeChain = true)},
         |wpu AS (
         |  SELECT word, CAST(len(regexp_extract_all(seg,
         |    chr(1) || '([^' || chr(2) || ']+)' || chr(2), 1)) AS BIGINT)
         |      AS n_pieces
         |  FROM dpcc${operators.Unigram.MaxWordLen}
         |  WHERE pos = length(word)
         |),
         |dwu AS (
         |  SELECT source, lang, word, CAST(count(*) AS BIGINT) AS k FROM (
         |    SELECT source, lang, unnest(string_split(text, ' ')) AS word
         |    FROM documents
         |  ) WHERE length(word) > 0
         |      AND strpos(word, chr(1)) = 0 AND strpos(word, chr(2)) = 0
         |  GROUP BY 1, 2, 3
         |),
         |au AS (
         |  SELECT source, lang,
         |    CAST(sum(k) AS BIGINT) AS n_words,
         |    CAST(sum(k * wpu.n_pieces) AS BIGINT) AS n_pieces,
         |    CAST(sum(k * length(dwu.word)) AS BIGINT) AS n_word_chars
         |  FROM dwu JOIN wpu ON wpu.word = dwu.word
         |  GROUP BY 1, 2
         |)
         |SELECT source, lang, n_words, n_pieces, n_word_chars,
         |  ${r4("CAST(n_pieces AS DOUBLE) / CAST(n_words AS DOUBLE)")} AS fertility,
         |  ${r4("CAST(n_word_chars AS DOUBLE) / CAST(n_pieces AS DOUBLE)")}
         |    AS chars_per_piece
         |FROM au""".stripMargin)),
    Query("q_bpe_train", qBpeTrain, Some(
      s"""WITH $oBpeChain
         |${(1 to BpeIters).map(i =>
               s"SELECT CAST($i AS BIGINT) AS iter, left_sym, right_sym, " +
                 s"left_sym || right_sym AS merged, pair_count FROM b$i")
             .mkString("\nUNION ALL\n")}""".stripMargin)),
    Query("q_bpe_encode", qBpeEncode, Some(
      s"""WITH $oBpeChain
         |SELECT token, CAST(sum(cnt) AS BIGINT) AS n FROM (
         |  SELECT cnt, unnest(regexp_extract_all(seq,
         |    chr(1) || '([^' || chr(2) || ']+)' || chr(2), 1)) AS token
         |  FROM d$BpeIters
         |) GROUP BY 1""".stripMargin)),

    // the word is recovered from the final bracketed seq by stripping the
    // marker chars; per-word piece count = bracketed symbol count
    Query("q_bpe_fertility", qBpeFertility, Some(
      s"""WITH $oBpeChain,
         |wp AS (
         |  SELECT replace(replace(seq, chr(1), ''), chr(2), '') AS word,
         |    CAST(len(regexp_extract_all(seq,
         |      chr(1) || '([^' || chr(2) || ']+)' || chr(2), 1)) AS BIGINT)
         |      AS n_pieces
         |  FROM d$BpeIters
         |),
         |dw AS (
         |  SELECT source, lang, word, CAST(count(*) AS BIGINT) AS k FROM (
         |    SELECT source, lang, unnest(string_split(text, ' ')) AS word
         |    FROM documents
         |  ) WHERE length(word) > 0
         |      AND strpos(word, chr(1)) = 0 AND strpos(word, chr(2)) = 0
         |  GROUP BY 1, 2, 3
         |),
         |a AS (
         |  SELECT source, lang,
         |    CAST(sum(k) AS BIGINT) AS n_words,
         |    CAST(sum(k * wp.n_pieces) AS BIGINT) AS n_pieces,
         |    CAST(sum(k * length(dw.word)) AS BIGINT) AS n_word_chars
         |  FROM dw JOIN wp ON wp.word = dw.word
         |  GROUP BY 1, 2
         |)
         |SELECT source, lang, n_words, n_pieces, n_word_chars,
         |  ${r4("CAST(n_pieces AS DOUBLE) / CAST(n_words AS DOUBLE)")} AS fertility,
         |  ${r4("CAST(n_word_chars AS DOUBLE) / CAST(n_pieces AS DOUBLE)")}
         |    AS chars_per_piece
         |FROM a""".stripMargin)),
    Query("q_sample_weighted", qSampleWeighted, Some(
      s"""WITH pr AS (
         |  SELECT doc_id, n_chars,
         |    CAST(n_chars AS DOUBLE) /
         |      ((CAST(CAST(concat('0x', substr(md5(concat('$WeightSalt',
         |          CAST(doc_id AS VARCHAR))), 1, 4)) AS BIGINT) AS DOUBLE) + 0.5)
         |        / 65536.0) AS priority
         |  FROM documents
         |)
         |SELECT doc_id, n_chars,
         |  floor(priority * 10000 + 0.5) / 10000 AS priority
         |FROM pr ORDER BY pr.priority DESC, doc_id LIMIT $WeightedN""".stripMargin)),

    Query("q_split", qSplit, Some(
      s"""SELECT doc_id, source,
         |  CASE
         |    WHEN substr(md5('$SplitSalt' || CAST(doc_id AS VARCHAR)), 1, 4)
         |      < '${hex4(0.9)}' THEN 'train'
         |    WHEN substr(md5('$SplitSalt' || CAST(doc_id AS VARCHAR)), 1, 4)
         |      < '${hex4(0.95)}' THEN 'val'
         |    ELSE 'test'
         |  END AS split
         |FROM documents""".stripMargin)),

    // global rank over (salted hash, doc_id) — the oracle's single-node
    // row_number IS the spec the bucket-offset construction must equal
    Query("q_shuffle_shards", qShuffleShards, Some(
      s"""WITH h AS (
         |  SELECT doc_id,
         |    ${EntryMath.oHash60(s"concat('$ShardSalt', CAST(doc_id AS VARCHAR))")} AS h
         |  FROM documents
         |),
         |r AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY h, doc_id) - 1 AS rk FROM h
         |)
         |SELECT doc_id, rk // $ShardSize AS shard, rk % $ShardSize AS pos
         |FROM r""".stripMargin)),

    // the stride-interleave spec: in-stratum seeded rank → evenly-spaced
    // frac = (2r+1)/(2·n_s) → one global order over (frac, lang, doc_id);
    // the single-node row_number IS what the bucketed construction equals
    Query("q_shards_stratified", qShardsStratified, Some(
      s"""WITH h AS (
         |  SELECT doc_id, lang,
         |    ${EntryMath.oHash60(s"concat('$StratShardSalt', CAST(doc_id AS VARCHAR))")} AS h
         |  FROM documents
         |),
         |r AS (
         |  SELECT doc_id, lang,
         |    row_number() OVER (PARTITION BY lang ORDER BY h, doc_id) - 1 AS r,
         |    count(*) OVER (PARTITION BY lang) AS ns
         |  FROM h
         |),
         |f AS (
         |  SELECT doc_id, lang,
         |    CAST(2 * r + 1 AS DOUBLE) / CAST(2 * ns AS DOUBLE) AS frac
         |  FROM r
         |),
         |g AS (
         |  SELECT doc_id, lang,
         |    row_number() OVER (ORDER BY frac, lang, doc_id) - 1 AS rk
         |  FROM f
         |)
         |SELECT doc_id, lang, rk // $StratShardSize AS shard,
         |  rk % $StratShardSize AS pos
         |FROM g""".stripMargin)),

    // the oracle recomputes shard assignment AND both checksum copies from
    // the parquet originals: matching the Spark side's jsonl re-read ⊕
    // manifest join proves export losslessness, exact shard sizes, and
    // manifest agreement in one hash compare
    Query("q_export_shards", qExportShards, Some(
      s"""WITH h AS (
         |  SELECT doc_id, n_chars, text,
         |    ${EntryMath.oHash60(s"concat('$ExportSalt', CAST(doc_id AS VARCHAR))")} AS h
         |  FROM documents
         |),
         |r AS (
         |  SELECT doc_id, n_chars, text,
         |    row_number() OVER (ORDER BY h, doc_id) - 1 AS rk
         |  FROM h
         |),
         |a AS (
         |  SELECT doc_id, n_chars, text, rk // $ExportShardSize AS shard,
         |    rk % $ExportShardSize AS pos
         |  FROM r
         |)
         |SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  CAST(sum((pos + 1) * (${EntryMath.oHash60("text")} % 1000003)) AS BIGINT)
         |    AS pos_checksum,
         |  min(doc_id) AS min_id, max(doc_id) AS max_id,
         |  CAST(count(*) AS BIGINT) AS m_n_rows,
         |  CAST(sum((pos + 1) * (${EntryMath.oHash60("text")} % 1000003)) AS BIGINT)
         |    AS m_checksum
         |FROM a GROUP BY shard""".stripMargin)),

    // the oracle reads the PARQUET originals: matching the Spark side's
    // jsonl re-read proves the export→import path lossless
    Query("q_jsonl_roundtrip", qJsonlRoundtrip, Some(
      s"""SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  CAST(sum(${EntryMath.oHash60("text")} % 1000003) AS BIGINT)
         |    AS text_hash_sum,
         |  min(doc_id) AS min_id, max(doc_id) AS max_id
         |FROM documents GROUP BY 1, 2""".stripMargin)),

    Query("q_drift", qDrift, Some(
      """WITH hr AS (
        |  SELECT CAST(least(floor(CAST(n_chars AS DOUBLE) / 100), 14) AS INTEGER) AS bin,
        |    count(*) AS cnt_ref
        |  FROM documents WHERE doc_id % 2 = 0 GROUP BY 1
        |), hc AS (
        |  SELECT CAST(least(floor(CAST(n_chars AS DOUBLE) / 100), 14) AS INTEGER) AS bin,
        |    count(*) AS cnt_cur
        |  FROM documents WHERE doc_id % 2 = 1 GROUP BY 1
        |), j AS (
        |  SELECT coalesce(hr.bin, hc.bin) AS bin,
        |    coalesce(cnt_ref, 0) AS cnt_ref, coalesce(cnt_cur, 0) AS cnt_cur
        |  FROM hr FULL OUTER JOIN hc ON hr.bin = hc.bin
        |), t AS (
        |  SELECT CAST(sum(cnt_ref) AS BIGINT) AS tot_ref,
        |    CAST(sum(cnt_cur) AS BIGINT) AS tot_cur FROM j
        |), pq AS (
        |  SELECT bin, cnt_ref, cnt_cur,
        |    CAST(cnt_ref AS DOUBLE) / CAST(tot_ref AS DOUBLE) AS p_ref,
        |    CAST(cnt_cur AS DOUBLE) / CAST(tot_cur AS DOUBLE) AS p_cur
        |  FROM j, t
        |), terms AS (
        |  SELECT *,
        |    floor(((p_cur - p_ref) * ln(
        |      (CASE WHEN p_cur = 0 THEN 1e-6 ELSE p_cur END) /
        |      (CASE WHEN p_ref = 0 THEN 1e-6 ELSE p_ref END))) * 10000 + 0.5) / 10000
        |      AS psi_term,
        |    floor((0.5 * (CASE WHEN p_ref > 0
        |        THEN p_ref * ln(p_ref / ((p_ref + p_cur) / CAST(2 AS DOUBLE))) ELSE 0 END)
        |      + 0.5 * (CASE WHEN p_cur > 0
        |        THEN p_cur * ln(p_cur / ((p_ref + p_cur) / CAST(2 AS DOUBLE))) ELSE 0 END))
        |      * 10000 + 0.5) / 10000 AS js_term
        |  FROM pq
        |), g AS (SELECT sum(psi_term) AS psi, sum(js_term) AS js FROM terms)
        |SELECT bin, cnt_ref, cnt_cur,
        |  floor(p_ref * 10000 + 0.5) / 10000 AS p_ref,
        |  floor(p_cur * 10000 + 0.5) / 10000 AS p_cur,
        |  psi_term, js_term,
        |  floor(psi * 10000 + 0.5) / 10000 AS psi,
        |  floor(js * 10000 + 0.5) / 10000 AS js
        |FROM terms, g""".stripMargin)),
    Query("q_pack", qPack, Some(
      s"""WITH $oChunks,
         |o AS (
         |  SELECT doc_id, chunk_id, start_token, n_chunk_tokens, chunk_md5,
         |    CAST(coalesce(sum(n_chunk_tokens) OVER (
         |      ORDER BY doc_id, chunk_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS global_offset
         |  FROM chunks
         |)
         |SELECT *,
         |  global_offset // $PackSeqLen AS seq_id,
         |  global_offset % $PackSeqLen AS seq_offset,
         |  (global_offset % $PackSeqLen) + n_chunk_tokens > $PackSeqLen AS spans_seq
         |FROM o""".stripMargin)),

    // the q_pack chain aggregated per sequence; fill_drop_frac = tokens of
    // NON-spanning chunks / seqLen (the drop-at-boundary survival rate)
    Query("q_pack_stats", qPackStats, Some(
      s"""WITH $oChunks,
         |o AS (
         |  SELECT doc_id, chunk_id, n_chunk_tokens,
         |    CAST(coalesce(sum(n_chunk_tokens) OVER (
         |      ORDER BY doc_id, chunk_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |      AS global_offset
         |  FROM chunks
         |),
         |p AS (
         |  SELECT global_offset // $PackSeqLen AS seq_id, n_chunk_tokens,
         |    (global_offset % $PackSeqLen) + n_chunk_tokens > $PackSeqLen
         |      AS spans_seq
         |  FROM o
         |)
         |SELECT seq_id,
         |  CAST(count(*) AS BIGINT) AS n_chunks,
         |  CAST(sum(n_chunk_tokens) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN spans_seq THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_spanning,
         |  ${r4(s"CAST(sum(CASE WHEN spans_seq THEN 0 ELSE n_chunk_tokens END) AS DOUBLE) / $PackSeqLen.0")}
         |    AS fill_drop_frac
         |FROM p GROUP BY seq_id""".stripMargin)),

    Query("q_substring_dup", qSubstringDup, Some {
      val grams = (0 until SubstrN).map(k => s"toks[i+$k]").mkString(", ")
      s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |g AS (
         |  SELECT doc_id, unnest(
         |    CASE WHEN len(toks) < $SubstrN THEN CAST([] AS VARCHAR[])
         |         ELSE list_transform(range(1, len(toks) - ${SubstrN - 2}),
         |                i -> concat_ws(' ', $grams)) END) AS g
         |  FROM tk
         |),
         |hh AS (
         |  SELECT doc_id, CAST(concat('0x', substr(md5(g), 1, 15)) AS BIGINT) AS h
         |  FROM g
         |),
         |per AS (SELECT h, doc_id, count(*) AS c FROM hh GROUP BY 1, 2),
         |nd AS (SELECT h, count(*) AS nd FROM per GROUP BY 1),
         |a AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
         |    CAST(sum(CASE WHEN nd > 1 THEN c ELSE 0 END) AS BIGINT) AS n_dup_grams
         |  FROM per JOIN nd USING (h) GROUP BY 1
         |)
         |SELECT d.doc_id,
         |  CAST(coalesce(a.n_grams, 0) AS BIGINT) AS n_grams,
         |  CAST(coalesce(a.n_dup_grams, 0) AS BIGINT) AS n_dup_grams,
         |  coalesce(${r4("a.n_dup_grams * 1.0 / a.n_grams")}, 0.0) AS dup_frac
         |FROM documents d LEFT JOIN a USING (doc_id)""".stripMargin
    }),

    // suffix-window scrub spans: the same window→hash→distinct-doc→
    // run-merge pipeline, with DuckDB's lag/sum window pair doing the
    // maximal-run merge the Spark side does
    Query("q_substring_sa", qSubstringSa, Some(
      s"""WITH pos AS (
         |  SELECT doc_id, text,
         |    unnest(range(1, length(text) - ${SubstrSpanLen - 1} + 1)) AS p
         |  FROM documents WHERE length(text) >= $SubstrSpanLen
         |),
         |hh AS (
         |  SELECT doc_id, p,
         |    CAST(concat('0x', substr(md5(
         |      substr(text, CAST(p AS INTEGER), $SubstrSpanLen)), 1, 15))
         |      AS BIGINT) AS h
         |  FROM pos
         |),
         |nd AS (
         |  SELECT h FROM (
         |    SELECT h, count(DISTINCT doc_id) AS nd FROM hh GROUP BY 1
         |  ) WHERE nd > 1
         |),
         |dup AS (SELECT doc_id, p FROM hh JOIN nd USING (h)),
         |runs AS (
         |  SELECT doc_id, p,
         |    CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p) = 1
         |         THEN 0 ELSE 1 END AS gap
         |  FROM dup
         |),
         |grp AS (
         |  SELECT doc_id, p, sum(gap) OVER (PARTITION BY doc_id ORDER BY p
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
         |  FROM runs
         |)
         |SELECT doc_id, CAST(min(p) AS BIGINT) AS span_start,
         |  CAST(max(p) - min(p) + $SubstrSpanLen AS BIGINT) AS span_len
         |FROM grp GROUP BY doc_id, g""".stripMargin)),

    Query("q_sample_temperature", qSampleTemperature, Some(
      s"""WITH g AS (
         |  SELECT source, lang, count(*) AS n_docs FROM documents GROUP BY 1, 2
         |), w AS (
         |  SELECT source, lang, n_docs,
         |    ${r4(s"pow(n_docs, $MixAlpha) / sum(pow(n_docs, $MixAlpha)) OVER ()")}
         |      AS mw
         |  FROM g
         |), t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total FROM g),
         |th AS (
         |  SELECT source, lang,
         |    least((t.total // 2) * CAST(floor(mw * 10000 + 0.5) AS BIGINT) * 65536
         |      // (10000 * n_docs), 65536) AS threshold
         |  FROM w, t
         |), b AS (
         |  SELECT d.doc_id, d.source, d.lang,
         |    CAST(concat('0x', substr(md5(concat('$SampleSalt',
         |      CAST(d.doc_id AS VARCHAR))), 1, 4)) AS BIGINT) AS bucket,
         |    CAST(th.threshold AS BIGINT) AS threshold
         |  FROM documents d JOIN th USING (source, lang)
         |)
         |SELECT * FROM b WHERE bucket < threshold""".stripMargin)),

    Query("q_sample_exact_n", qSampleExactN, Some(
      s"""WITH r AS (
         |  SELECT doc_id, lang,
         |    CAST(row_number() OVER (PARTITION BY lang
         |      ORDER BY md5(concat('$SampleSalt', CAST(doc_id AS VARCHAR))), doc_id)
         |      AS BIGINT) AS sample_rank
         |  FROM documents
         |)
         |SELECT * FROM r WHERE sample_rank <= $ExactNPerLang""".stripMargin)),

    Query("q_quality_rules", qQualityRules, Some(qualityRulesOracleSql)),

    // per-rule ablation off the same flags CTE: one aggregate row of
    // exact counts, unpivoted to one row per rule
    Query("q_rules_ablation", qRulesAblation, Some {
      val rules = Seq("n_words" -> "ok_words",
        "mean_word_len" -> "ok_mean_len", "max_word_len" -> "ok_word_len",
        "stopwords" -> "ok_stopwords", "short_words" -> "ok_short")
      val aggCols = rules.map { case (nm, okc) =>
        val others = rules.collect { case (_, o) if o != okc => o }
          .mkString(" AND ")
        s"""    CAST(sum(CASE WHEN NOT $okc THEN 1 ELSE 0 END) AS BIGINT)
           |      AS "f_$nm",
           |    CAST(sum(CASE WHEN NOT $okc AND $others THEN 1 ELSE 0 END)
           |      AS BIGINT) AS "u_$nm"""".stripMargin
      }.mkString(",\n")
      val rows = rules.map { case (nm, _) =>
        s"""SELECT '$nm' AS rule, "f_$nm" AS n_fail, "u_$nm" AS n_unique_fail,
           |  ${r4(s""""f_$nm" * 1.0 / n_docs""")} AS fail_rate,
           |  ${r4(s""""u_$nm" * 1.0 / n_docs""")} AS unique_rate
           |FROM agg""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH $oRulesChain,
         |agg AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |$aggCols
         |  FROM f
         |)
         |$rows""".stripMargin
    }),

    Query("q_lm_score", qLmScore, Some(
      s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |bg AS (
         |  SELECT doc_id, unnest(
         |    CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
         |         ELSE list_transform(range(1, len(toks)),
         |                i -> concat_ws(' ', toks[i], toks[i+1])) END) AS bigram
         |  FROM tk
         |),
         |bi AS (
         |  SELECT bigram, count(*) AS n, string_split(bigram, ' ')[1] AS w1
         |  FROM bg GROUP BY bigram
         |),
         |pfx AS (SELECT w1, CAST(sum(n) AS BIGINT) AS n_prefix FROM bi GROUP BY w1),
         |lm AS (
         |  SELECT bigram, ${r4("n * 1.0 / n_prefix")} AS cond_p
         |  FROM bi JOIN pfx USING (w1) WHERE n >= $LmMinCount
         |),
         |a AS (
         |  SELECT bg.doc_id, count(*) AS n_bigrams,
         |    CAST(sum(CASE WHEN lm.cond_p IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_unseen,
         |    CAST(sum(CAST(floor(-ln(coalesce(lm.cond_p, $LmUnseenP)) * 10000 + 0.5)
         |      AS BIGINT)) AS BIGINT) AS s4
         |  FROM bg LEFT JOIN lm USING (bigram) GROUP BY bg.doc_id
         |)
         |SELECT d.doc_id,
         |  CAST(coalesce(a.n_bigrams, 0) AS BIGINT) AS n_bigrams,
         |  CAST(coalesce(a.n_unseen, 0) AS BIGINT) AS n_unseen,
         |  ${r4("a.s4 / 10000.0 / a.n_bigrams")} AS avg_nll,
         |  ${r4("exp(a.s4 / 10000.0 / a.n_bigrams)")} AS perplexity
         |FROM documents d LEFT JOIN a USING (doc_id)""".stripMargin)),

    // arithmetic mirrored op-for-op with explicit DOUBLE casts (DuckDB
    // would otherwise run 0.4 * n as DECIMAL math and diverge from
    // Spark's double); per-gram NLLs 4dp-quantized before the sum
    Query("q_backoff_lm", qBackoffLm, Some(
      s"""WITH tr AS (SELECT string_split(text, ' ') AS toks FROM documents
         |  WHERE doc_id % 2 = 0),
         |sc AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
         |  WHERE doc_id % 2 = 1),
         |u AS (SELECT w, count(*) AS n1
         |  FROM (SELECT unnest(toks) AS w FROM tr) GROUP BY w),
         |nt AS (SELECT CAST(sum(n1) AS BIGINT) AS n FROM u),
         |b AS (SELECT g, count(*) AS n2 FROM (
         |  SELECT unnest(CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
         |    ELSE list_transform(range(1, len(toks)),
         |           i -> concat_ws(' ', toks[i], toks[i+1])) END) AS g
         |  FROM tr) GROUP BY g),
         |t AS (SELECT g, count(*) AS n3 FROM (
         |  SELECT unnest(CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
         |    ELSE list_transform(range(1, len(toks) - 1),
         |           i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) END) AS g
         |  FROM tr) GROUP BY g HAVING count(*) >= $BackoffMinCount),
         |stri AS (SELECT doc_id, unnest(
         |    CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
         |    ELSE list_transform(range(1, len(toks) - 1),
         |           i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2])) END) AS g3
         |  FROM sc),
         |parts AS (SELECT doc_id, g3,
         |    concat_ws(' ', string_split(g3, ' ')[1], string_split(g3, ' ')[2]) AS ctx2,
         |    concat_ws(' ', string_split(g3, ' ')[2], string_split(g3, ' ')[3]) AS g2,
         |    string_split(g3, ' ')[2] AS w2, string_split(g3, ' ')[3] AS w3
         |  FROM stri),
         |j AS (
         |  SELECT p.doc_id,
         |    CASE WHEN t.n3 IS NOT NULL THEN 3
         |         WHEN b2.n2 IS NOT NULL THEN 2
         |         WHEN u3.n1 IS NOT NULL THEN 1 ELSE 0 END AS lvl,
         |    CASE WHEN t.n3 IS NOT NULL
         |           THEN CAST(t.n3 AS DOUBLE) / CAST(bc.n2 AS DOUBLE)
         |         WHEN b2.n2 IS NOT NULL
         |           THEN CAST($BackoffAlpha AS DOUBLE) * CAST(b2.n2 AS DOUBLE)
         |                / CAST(u2.n1 AS DOUBLE)
         |         WHEN u3.n1 IS NOT NULL
         |           THEN CAST($BackoffAlpha AS DOUBLE) * CAST($BackoffAlpha AS DOUBLE)
         |                * CAST(u3.n1 AS DOUBLE) / CAST(nt.n AS DOUBLE)
         |         ELSE CAST($BackoffAlpha AS DOUBLE) * CAST($BackoffAlpha AS DOUBLE)
         |              * CAST($LmUnseenP AS DOUBLE) END AS p
         |  FROM parts p
         |  LEFT JOIN t ON t.g = p.g3
         |  LEFT JOIN b bc ON bc.g = p.ctx2
         |  LEFT JOIN b b2 ON b2.g = p.g2
         |  LEFT JOIN u u2 ON u2.w = p.w2
         |  LEFT JOIN u u3 ON u3.w = p.w3
         |  CROSS JOIN nt
         |),
         |a AS (
         |  SELECT doc_id, count(*) AS n_trigrams,
         |    CAST(sum(CASE WHEN lvl = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_tri_hit,
         |    CAST(sum(CASE WHEN lvl = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_bi_backoff,
         |    CAST(sum(CASE WHEN lvl = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_uni_backoff,
         |    CAST(sum(CASE WHEN lvl = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_unseen,
         |    CAST(sum(CAST(floor(-ln(p) * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS s4
         |  FROM j GROUP BY doc_id
         |)
         |SELECT d.doc_id,
         |  CAST(coalesce(a.n_trigrams, 0) AS BIGINT) AS n_trigrams,
         |  CAST(coalesce(a.n_tri_hit, 0) AS BIGINT) AS n_tri_hit,
         |  CAST(coalesce(a.n_bi_backoff, 0) AS BIGINT) AS n_bi_backoff,
         |  CAST(coalesce(a.n_uni_backoff, 0) AS BIGINT) AS n_uni_backoff,
         |  CAST(coalesce(a.n_unseen, 0) AS BIGINT) AS n_unseen,
         |  ${r4("a.s4 / 10000.0 / a.n_trigrams")} AS avg_nll
         |FROM documents d LEFT JOIN a USING (doc_id)
         |WHERE d.doc_id % 2 = 1""".stripMargin)),

    Query("q_bigram_lm", qBigramLm, Some(
      s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
         |bg AS (
         |  SELECT unnest(
         |    CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
         |         ELSE list_transform(range(1, len(toks)),
         |                i -> concat_ws(' ', toks[i], toks[i+1])) END) AS bigram
         |  FROM tk
         |),
         |bi AS (
         |  SELECT bigram, count(*) AS n, string_split(bigram, ' ')[1] AS w1
         |  FROM bg GROUP BY bigram
         |),
         |pfx AS (SELECT w1, CAST(sum(n) AS BIGINT) AS n_prefix FROM bi GROUP BY w1)
         |SELECT bigram, n, n_prefix, ${r4("n * 1.0 / n_prefix")} AS cond_p
         |FROM bi JOIN pfx USING (w1)
         |WHERE n >= $LmMinCount""".stripMargin)),

    Query("q_quality_deciles", qQualityDeciles, Some(
      s"""WITH ${OracleSql.qualityScoreCte},
         |th AS (
         |  SELECT quantile_cont(quality_score,
         |    [${(1 to 9).map(_ / 10.0).mkString(", ")}]) AS th
         |  FROM qscore
         |)
         |SELECT s.doc_id, s.quality_score,
         |  CAST(1 + len(list_filter(th.th, t -> s.quality_score >= t)) AS INTEGER)
         |    AS decile
         |FROM qscore s, th""".stripMargin)),

    Query("q_decontaminate", qDecontaminate, Some(decontamOracleSql)),
    // one idx block per n, unioned with an n tag; rates are ratios of
    // exact count sums (single division), mirroring screenNSweep
    Query("q_decontam_nsweep", qDecontamNsweep, Some {
      def idxBlock(n: Int): String = {
        val grams = (0 until n).map(k => s"toks[i+$k]").mkString(", ")
        s"""sh$n AS (
           |  SELECT doc_id, unnest(list_distinct(
           |    CASE WHEN len(toks) < $n THEN CAST([] AS VARCHAR[])
           |         ELSE list_transform(range(1, len(toks) - ${n - 2}),
           |                i -> concat_ws(' ', $grams)) END)) AS sh
           |  FROM tk
           |),
           |ix$n AS (SELECT DISTINCT doc_id, $n AS n,
           |  CAST(concat('0x', substr(md5(sh), 1, 15)) AS BIGINT)
           |    % 2147483647 AS h
           |  FROM sh$n)""".stripMargin
      }
      val blocks = DecontamSweepNs.map(idxBlock).mkString(",\n")
      val unioned = DecontamSweepNs.map(n => s"SELECT * FROM ix$n")
        .mkString("\n  UNION ALL ")
      s"""WITH tk AS (SELECT doc_id, string_split(text, ' ') AS toks
         |  FROM documents),
         |$blocks,
         |ix AS (
         |  $unioned
         |),
         |ev AS (SELECT DISTINCT n, h FROM ix WHERE doc_id % 10 = 0),
         |trn AS (SELECT * FROM ix WHERE doc_id % 10 != 0),
         |pd AS (
         |  SELECT trn.n, trn.doc_id, count(*) AS n_shingles,
         |    count(ev.h) AS n_hits
         |  FROM trn LEFT JOIN ev ON ev.n = trn.n AND ev.h = trn.h
         |  GROUP BY 1, 2
         |)
         |SELECT n, CAST(count(*) AS BIGINT) AS n_docs_scored,
         |  CAST(sum(CASE WHEN n_hits >= $DecontamMinHits THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_contaminated,
         |  ${r4(s"CAST(sum(CASE WHEN n_hits >= $DecontamMinHits THEN 1 ELSE 0 END) AS DOUBLE) / count(*)")}
         |    AS contaminated_rate,
         |  CAST(sum(n_hits) AS BIGINT) AS total_hits,
         |  ${r4("CAST(sum(n_hits) AS DOUBLE) / CAST(sum(n_shingles) AS DOUBLE)")}
         |    AS pooled_hit_frac
         |FROM pd GROUP BY n""".stripMargin
    }),
    // the bloom-prescreened variant must lose NOTHING: it is hash-checked
    // against the exact screen's own oracle, bit for bit
    Query("q_decontaminate_bloom", qDecontaminateBloom, Some(decontamOracleSql)),

    Query("q_repetition", qRepetition, Some(repetitionOracleSql)),

    // one CTE block per n (DuckDB range(1, stop) is empty when stop <= 1,
    // so short docs just produce no grams); positions are 1-based here vs
    // Spark's 0-based — only their DISTINCT count enters the fractions
    Query("q_repetition_ngrams", qRepetitionNgrams, Some {
      def block(n: Int): String =
        s"""g$n AS (
           |  SELECT doc_id, st,
           |    concat_ws(' ', ${(0 until n).map(k => s"toks[st+$k]").mkString(", ")}) AS g
           |  FROM (SELECT doc_id, toks,
           |    unnest(range(1, len(toks) - ${n - 2})) AS st FROM tkr)
           |),
           |c$n AS (SELECT doc_id, g, count(*) AS c FROM g$n GROUP BY 1, 2),
           |t$n AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS top_c
           |  FROM c$n GROUP BY 1),
           |d$n AS (
           |  SELECT doc_id, CAST(count(DISTINCT pos) AS BIGINT) AS covered
           |  FROM (
           |    SELECT g$n.doc_id, unnest(range(g$n.st, g$n.st + $n)) AS pos
           |    FROM g$n JOIN c$n ON c$n.doc_id = g$n.doc_id
           |      AND c$n.g = g$n.g AND c$n.c > 1
           |  ) GROUP BY 1
           |)""".stripMargin
      val topNs = Seq(2, 3, 4)
      val dupNs = Seq(5, 6, 7, 8, 9, 10)
      val maxTop = Map(2 -> "0.20", 3 -> "0.18", 4 -> "0.16")
      val maxDup = Map(5 -> "0.15", 6 -> "0.14", 7 -> "0.13",
        8 -> "0.12", 9 -> "0.11", 10 -> "0.10")
      val fracCols =
        topNs.map(n =>
          s"""  ${r4(s"CAST(coalesce(t$n.top_c, 0) AS DOUBLE) * $n / b.n_tokens")}
             |    AS top_${n}gram_frac""".stripMargin) ++
        dupNs.map(n =>
          s"""  ${r4(s"CAST(coalesce(d$n.covered, 0) AS DOUBLE) / b.n_tokens")}
             |    AS dup_${n}gram_frac""".stripMargin)
      val joins =
        topNs.map(n => s"LEFT JOIN t$n ON t$n.doc_id = b.doc_id") ++
        dupNs.map(n => s"LEFT JOIN d$n ON d$n.doc_id = b.doc_id")
      val keep =
        (topNs.map(n => s"top_${n}gram_frac <= ${maxTop(n)}") ++
          dupNs.map(n => s"dup_${n}gram_frac <= ${maxDup(n)}"))
          .mkString(" AND ")
      s"""WITH tkr AS (SELECT doc_id, string_split(text, ' ') AS toks
         |  FROM documents),
         |${(topNs ++ dupNs).map(block).mkString(",\n")},
         |baser AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens
         |  FROM tkr),
         |fr AS (
         |  SELECT b.doc_id, b.n_tokens,
         |${fracCols.mkString(",\n")}
         |  FROM baser b
         |  ${joins.mkString("\n  ")}
         |)
         |SELECT *, ($keep) AS keep FROM fr""".stripMargin
    }),

    Query("q_source_mix", qSourceMix, Some(
      s"""WITH g AS (
         |  SELECT source, lang, count(*) AS n_docs,
         |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
         |    CAST(sum(n_chars) AS BIGINT) AS n_chars
         |  FROM documents GROUP BY 1, 2
         |)
         |SELECT source, lang, n_docs, n_tokens, n_chars,
         |  ${r4("n_tokens * 1.0 / n_docs")} AS mean_doc_tokens,
         |  ${r4(s"pow(n_docs, $MixAlpha) / sum(pow(n_docs, $MixAlpha)) OVER ()")}
         |    AS mix_weight
         |FROM g""".stripMargin)),

    // water-filling mirror: weight quantized ONCE (int64), then the
    // rounds unroll as CTE pairs (pool aggregate, cap step) in pure
    // integer arithmetic — `//` floors exactly like Spark's `div` on the
    // non-negative operands the plan guarantees
    Query("q_mix_plan", qMixPlan, Some {
      def tblock(k: Int): String =
        s"""t$k AS (
           |  SELECT CAST(sum(CASE WHEN NOT capped THEN w ELSE 0 END) AS BIGINT) AS wsum,
           |    CAST(sum(CASE WHEN capped THEN quota ELSE 0 END) AS BIGINT) AS used
           |  FROM it$k
           |)""".stripMargin
      def iblock(k: Int): String =
        s"""it${k + 1} AS (
           |  SELECT source, lang, n_docs, n_tokens, budget, w, cap_tok,
           |    CASE WHEN capped THEN quota
           |         WHEN (budget - used) * w // greatest(wsum, 1) >= cap_tok
           |           THEN cap_tok ELSE 0 END AS quota,
           |    capped OR ((budget - used) * w // greatest(wsum, 1) >= cap_tok)
           |      AS capped
           |  FROM it$k, t$k
           |)""".stripMargin
      val rounds = 4
      val loop = (0 until rounds).map(k => s"${tblock(k)},\n${iblock(k)}")
        .mkString(",\n")
      s"""WITH st AS (
         |  SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY 1, 2
         |),
         |tt AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot_tok,
         |  max(n_tokens) AS max_tok FROM st),
         |it0 AS (
         |  SELECT source, lang, n_docs, n_tokens,
         |    tot_tok * $MixPlanBudgetPct // 100 AS budget,
         |    greatest(CAST(floor(pow(CAST(n_tokens AS DOUBLE) / max_tok,
         |      $MixPlanAlpha) * 100000) AS BIGINT), 1) AS w,
         |    n_tokens * $MixPlanEpochs AS cap_tok,
         |    FALSE AS capped, CAST(0 AS BIGINT) AS quota
         |  FROM st, tt
         |),
         |$loop,
         |${tblock(rounds)},
         |fin AS (
         |  SELECT source, lang, n_docs, n_tokens, w,
         |    CASE WHEN capped THEN quota
         |         ELSE (budget - used) * w // greatest(wsum, 1) END
         |      AS quota_tokens,
         |    capped
         |  FROM it$rounds, t$rounds
         |)
         |SELECT source, lang, n_docs, n_tokens, w, quota_tokens,
         |  ${r4("CAST(quota_tokens AS DOUBLE) / n_tokens")} AS epochs,
         |  capped
         |FROM fin""".stripMargin
    }),

    Query("q_dedup_incremental", qDedupIncremental, Some {
      val sig = (0 until Dedup.MinHashK)
        .map(j => s"min((h * ${Dedup.mhA(j)} + ${Dedup.mhB(j)}) % ${Dedup.MinHashP}) AS mh$j")
        .mkString(", ")
      val bands = (0 until Dedup.MinHashK / 2)
        .map(bd => s"SELECT doc_id, $bd AS band, mh${2 * bd} AS x, mh${2 * bd + 1} AS y FROM sig")
        .mkString("\n  UNION ALL ")
      s"""WITH ${oShingleIdx(3)},
         |flag AS (SELECT doc_id, doc_id % 2 = 1 AS is_batch FROM documents),
         |sig AS (SELECT doc_id, $sig FROM shidx GROUP BY doc_id),
         |bands AS (
         |  $bands
         |),
         |fb AS (SELECT bands.*, flag.is_batch FROM bands JOIN flag USING (doc_id)),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM fb a JOIN fb b
         |    ON a.band = b.band AND a.x = b.x AND a.y = b.y
         |   AND a.doc_id != b.doc_id AND a.is_batch
         |   AND ((NOT b.is_batch) OR b.doc_id < a.doc_id)
         |),
         |inter AS (
         |  SELECT doc_a, doc_b, count(*) AS i
         |  FROM cand
         |  JOIN shidx ia ON ia.doc_id = doc_a
         |  JOIN shidx ib ON ib.doc_id = doc_b AND ia.h = ib.h
         |  GROUP BY 1, 2
         |),
         |ver AS (
         |  SELECT doc_a, doc_b
         |  FROM inter
         |  JOIN shsz sa ON sa.doc_id = doc_a
         |  JOIN shsz sb ON sb.doc_id = doc_b
         |  WHERE i * 1.0 / (sa.sz + sb.sz - i) >= $IncrTau
         |),
         |vb AS (SELECT ver.*, f.is_batch AS b_batch
         |       FROM ver JOIN flag f ON f.doc_id = ver.doc_b),
         |perdoc AS (
         |  SELECT doc_a AS doc_id,
         |    min(CASE WHEN NOT b_batch THEN doc_b END) AS corpus_match,
         |    min(CASE WHEN b_batch THEN doc_b END) AS batch_match,
         |    count(CASE WHEN NOT b_batch THEN 1 END) AS n_corpus_matches,
         |    count(CASE WHEN b_batch THEN 1 END) AS n_batch_matches
         |  FROM vb GROUP BY 1
         |),
         |pop AS (
         |  SELECT DISTINCT shidx.doc_id FROM shidx
         |  JOIN flag USING (doc_id) WHERE is_batch
         |)
         |SELECT pop.doc_id,
         |  CASE WHEN corpus_match IS NOT NULL THEN 'dup_of_corpus'
         |       WHEN batch_match IS NOT NULL THEN 'dup_in_batch'
         |       ELSE 'kept' END AS status,
         |  coalesce(corpus_match, batch_match) AS match_id,
         |  coalesce(n_corpus_matches, 0) AS n_corpus_matches,
         |  coalesce(n_batch_matches, 0) AS n_batch_matches
         |FROM pop LEFT JOIN perdoc ON perdoc.doc_id = pop.doc_id""".stripMargin
    }),

    Query("q_sample_hash", qSampleHash, Some(
      s"""WITH b AS (
         |  SELECT doc_id, lang,
         |    substr(md5(concat('$SampleSalt', CAST(doc_id AS VARCHAR))), 1, 4)
         |      AS bh
         |  FROM documents
         |)
         |SELECT doc_id, lang,
         |  CAST(concat('0x', bh) AS BIGINT) AS bucket,
         |  bh < '${hex4(UniformRate)}' AS in_uniform,
         |  bh < (CASE lang WHEN 'en' THEN '${hex4(StratRates("en"))}'
         |                  WHEN 'de' THEN '${hex4(StratRates("de"))}'
         |                  ELSE '${hex4(StratDefault)}' END) AS in_stratified
         |FROM b
         |WHERE bh < '${hex4(UniformRate)}'
         |   OR bh < (CASE lang WHEN 'en' THEN '${hex4(StratRates("en"))}'
         |                      WHEN 'de' THEN '${hex4(StratRates("de"))}'
         |                      ELSE '${hex4(StratDefault)}' END)""".stripMargin)),

    Query("q_vocab", qVocab, Some(
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
        |), g AS (
        |  SELECT token, count(*) AS freq, count(DISTINCT doc_id) AS df
        |  FROM tok GROUP BY token
        |), rk AS (
        |  SELECT token, freq, df,
        |    CAST(row_number() OVER (ORDER BY freq DESC, token) AS INTEGER) AS rk
        |  FROM g
        |)
        |SELECT token, freq, df, rk FROM rk WHERE rk <= 50""".stripMargin)),

    Query("q_tfidf", qTfidf, Some(
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
         |), tf AS (
         |  SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2
         |), dfreq AS (
         |  SELECT token, count(*) AS df FROM tf GROUP BY token
         |), n AS (SELECT count(*) AS n_docs FROM documents),
         |s AS (
         |  SELECT tf.doc_id, tf.token, tf.tf, dfreq.df,
         |    ${r4("tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df)")} AS tfidf
         |  FROM tf JOIN dfreq ON tf.token = dfreq.token, n
         |), rk AS (
         |  SELECT doc_id, token, tf, df, tfidf,
         |    CAST(row_number() OVER (PARTITION BY doc_id
         |      ORDER BY tfidf DESC, token) AS INTEGER) AS rk
         |  FROM s
         |)
         |SELECT doc_id, rk, token, tf, df, tfidf FROM rk WHERE rk <= 3""".stripMargin)),

    // mirrors TextAnalysis.charEntropy: per-position substr explode, each
    // −p·ln p term quantized at 1e12 before the per-doc sum
    Query("q_char_entropy", qCharEntropy, Some(
      """WITH chars AS (
        |  SELECT doc_id, substr(text, CAST(i.i AS INTEGER), 1) AS ch
        |  FROM documents, unnest(range(1, length(text) + 1)) AS i(i)
        |), counts AS (
        |  SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY 1, 2
        |), totals AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars_total,
        |    count(*) AS n_distinct_chars
        |  FROM counts GROUP BY doc_id
        |)
        |SELECT c.doc_id, t.n_chars_total, t.n_distinct_chars,
        |  floor((CAST(sum(CAST(floor(
        |      -(c.c / t.n_chars_total) * ln(c.c / t.n_chars_total) * 1e12 + 0.5
        |    ) AS BIGINT)) AS BIGINT) / 1e12) * 10000 + 0.5) / 10000 AS char_entropy
        |FROM counts c JOIN totals t USING (doc_id)
        |GROUP BY 1, 2, 3""".stripMargin)),

    // mirrors Dedup.tfidfCosinePairs: df cap 100, w² quantized at 1e6 for
    // the norm, normalized products quantized at 1e12 for the similarity —
    // integer sums, so no float-order drift between engines
    Query("q_tfidf_pairs", qTfidfPairs, Some(
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
         |), tf AS (
         |  SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2
         |), dfreq AS (
         |  SELECT token, count(*) AS df FROM tf GROUP BY token HAVING count(*) <= 100
         |), n AS (SELECT count(*) AS n_docs FROM documents),
         |w AS (
         |  SELECT tf.doc_id, tf.token,
         |    tf.tf * ln(CAST(n.n_docs AS DOUBLE) / dfreq.df) AS w
         |  FROM tf JOIN dfreq ON tf.token = dfreq.token, n
         |), norms AS (
         |  SELECT doc_id,
         |    sqrt(CAST(sum(CAST(floor(w * w * 1e6 + 0.5) AS BIGINT)) AS BIGINT) / 1e6) AS nrm
         |  FROM w GROUP BY doc_id
         |), v AS (
         |  SELECT w.token, w.doc_id, w.w / nullif(norms.nrm, 0) AS wn
         |  FROM w JOIN norms ON w.doc_id = norms.doc_id
         |), p AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    CAST(sum(CAST(floor(a.wn * b.wn * 1e12 + 0.5) AS BIGINT)) AS BIGINT) / 1e12 AS sim
         |  FROM v a JOIN v b ON a.token = b.token AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |)
         |SELECT doc_a, doc_b, floor(sim * 10000 + 0.5) / 10000 AS cosine
         |FROM p WHERE sim >= 0.6""".stripMargin)),

    // mirrors TextAnalysis.bm25: same k1/b constants (interpolated from the
    // Scala values — Double.toString round-trips, so both engines parse the
    // identical double), token-ordered left-to-right per-doc sum
    Query("q_bm25", qBm25, Some(
      s"""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
         |), lens AS (
         |  SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
         |), corpus AS (
         |  SELECT count(*) AS n_docs, sum(dl) AS tot_dl FROM lens
         |), tf AS (
         |  SELECT doc_id, token, count(*) AS tf FROM tok
         |  WHERE token IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")})
         |  GROUP BY 1, 2
         |), dfreq AS (
         |  SELECT token, count(*) AS df FROM tf GROUP BY token
         |), c AS (
         |  SELECT tf.doc_id, tf.token,
         |    ln(1.0 + (corpus.n_docs - dfreq.df + 0.5) / (dfreq.df + 0.5))
         |      * (tf.tf * ${TextAnalysis.Bm25K1 + 1.0})
         |      / (tf.tf + ${TextAnalysis.Bm25K1} * (1.0 - ${TextAnalysis.Bm25B}
         |         + ${TextAnalysis.Bm25B} * lens.dl
         |           / (CAST(corpus.tot_dl AS DOUBLE) / corpus.n_docs))) AS c
         |  FROM tf JOIN dfreq ON tf.token = dfreq.token
         |          JOIN lens ON lens.doc_id = tf.doc_id, corpus
         |), s AS (
         |  SELECT doc_id, count(*) AS n_terms,
         |    ${r4("list_reduce(list(c ORDER BY token), (x, y) -> x + y)")} AS score
         |  FROM c GROUP BY doc_id
         |), rk AS (
         |  SELECT doc_id, n_terms, score,
         |    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INTEGER) AS rk
         |  FROM s
         |)
         |SELECT doc_id, n_terms, score, rk FROM rk WHERE rk <= $Bm25TopK""".stripMargin)),

    Query("q_pii_redact", qPiiRedact, Some(
      s"""WITH a AS (
         |  SELECT doc_id,
         |    concat(text, ' contact ', source, '@example.com or call 555-',
         |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')) AS aug
         |  FROM documents
         |)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(aug, '${TextAnalysis.EmailRe}')) AS BIGINT)
         |    AS n_emails,
         |  CAST(len(regexp_extract_all(aug, '${TextAnalysis.PhoneRe}')) AS BIGINT)
         |    AS n_phones,
         |  regexp_replace(regexp_replace(aug, '${TextAnalysis.EmailRe}',
         |    '[EMAIL]', 'g'), '${TextAnalysis.PhoneRe}', '[PHONE]', 'g') AS redacted
         |FROM a""".stripMargin)),

    Query("q_chunks", qChunks, Some(
      s"""WITH $oChunks
         |SELECT doc_id, chunk_id, start_token, n_chunk_tokens, chunk_md5
         |FROM chunks""".stripMargin)),

    Query("q_passage_dedup", qPassageDedup, Some(
      s"""WITH $oChunks
         |SELECT doc_id, chunk_id, chunk_md5,
         |  first_value(doc_id) OVER w AS canonical_doc_id,
         |  first_value(chunk_id) OVER w AS canonical_chunk_id,
         |  (doc_id != first_value(doc_id) OVER w
         |   OR chunk_id != first_value(chunk_id) OVER w) AS is_duplicate
         |FROM chunks
         |WINDOW w AS (PARTITION BY chunk_md5 ORDER BY doc_id, chunk_id
         |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""".stripMargin)),
  )
}
