package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Bpe, Chunking, Decontamination, Dedup, Layout, Packing, Sampling, Similarity, TextAnalysis}
import graft.operators.Materialize.MatOps
import graft.sources.{Tables, TextIngest}

/** End-to-end corpus curation pipeline — the composed "raw documents →
  * training sequences" flow a real pre-training data run executes, built
  * entirely from the library's operators:
  *
  *   C4 blocklist gate → quality-score filter → structural rule gate →
  *   repetition filter → near-dup corpus dedup → SemDeDup semantic
  *   pruning → benchmark decontamination (exact n-gram + fuzzy near-dup)
  *   → DSIR importance-weight selection → CCNet perplexity tail-drop →
  *   deterministic sample → chunk → sequence-pack → partitioned parquet
  *   write → BPE tokenizer artifact (merge table + subword vocabulary)
  *   trained on exactly the surviving corpus → seeded shard shuffle of
  *   the packed sequences
  *
  * Stage order follows the published recipes: lexical near-dup dedup
  * first, then SemDeDup over what survives (Abbas et al. 2023 run
  * semantic pruning after exact/near dedup — semantic clusters over a
  * lexically-deduped corpus, so the embedding pass never re-finds what
  * string hashing already caught), then decontamination, then the DSIR
  * target-likeness cut (Xie et al. 2023 — selection is the LAST content
  * gate, so its importance model is estimated over already-cleaned text).
  *
  * Every stage is a DataFrame→DataFrame function, so the whole pipeline
  * is ONE lazy plan per materialization and inherits each operator's
  * scale shape (no collects, keyed shuffles only, broadcast where the
  * small side is bounded; the one count() action that sizes SemDeDup's
  * cluster count is parameter-sizing, not a data collect). Run:
  * `graft.Curate <sfDir> <outDir>`; prints one JSON line of per-stage
  * survivor counts.
  */
object Curate {

  /** Stage survivors, in order (`chunks`/`seqs` count training rows, not
    * documents; `merges`/`vocab` describe the tokenizer artifact). */
  final case class Funnel(input: Long, blocklist: Long, quality: Long,
      rules: Long, repetition: Long, dedup: Long, semdedup: Long,
      decontaminated: Long, fuzzyClean: Long, dsir: Long, ccnet: Long,
      sampled: Long, chunks: Long, seqs: Long, merges: Long, vocab: Long,
      shards: Long) {
    /** One JSON object, fields in order, keys in snake_case. */
    def json: String = productElementNames.zip(productIterator).map {
      case (k, v) => s""""${k.replaceAll("([A-Z])", "_$1").toLowerCase}":$v"""
    }.mkString("{", ",", "}")
  }

  /** C4-style blocklist for the synthetic corpus — a term the generator
    * plants in ~5% of documents, so the gate demonstrably gates without
    * emptying the funnel. */
  private val BlockTerms = Seq("dup")

  /** Near-dup corpus dedup Jaccard threshold (stage 4). */
  private val Tau = 0.7

  /** SemDeDup cosine threshold (stage 5). */
  private val SemTau = 0.4

  /** Deterministic sample rate (stage 8). */
  private val SampleRate = 0.5

  /** Runs the pipeline, writes its outputs under `outDir`, and returns the
    * funnel plus per-stage wall times (stage label → seconds). Stages are
    * timed at their ACTIONS — the funnel counts and the writes — so each
    * entry is the cumulative cost of computing through that stage from the
    * scan (the pipeline is one lazy plan; stages don't cache each other).
    * Per-stage MARGINAL cost at a given SF is the delta between adjacent
    * count entries; per-stage scaling is the ratio of those deltas across
    * SFs (both sides carry the same recompute prefix, so it cancels from
    * the ratio). [[CurateTrend]] reads the times for the 10× composition
    * check. */
  def run(spark: SparkSession, sfDir: String, outDir: String)
      : (Funnel, Vector[(String, Double)]) = {
    val times = Vector.newBuilder[(String, Double)]
    def t[A](label: String)(a: => A): A = {
      val s = System.nanoTime()
      val r = a
      times += ((label, (System.nanoTime() - s) / 1e9))
      r
    }
    val docs = Tables.documents(spark, sfDir)

    // 0. C4-style blocklist gate — FIRST, before anything pays a shuffle:
    // it is a pure codegen scan (zero exchanges, PlanAudit-pinned for
    // q_blocklist), and C4 runs its bad-words filter before every other
    // gate (Raffel et al. 2020 §2.2). Any hit drops the doc (maxFrac=0,
    // decided on exact counts).
    val keepBlock = TextAnalysis.blocklist(docs, BlockTerms)
      .filter(col("keep")).select("doc_id")
    val unblocked = docs.join(keepBlock, "doc_id")

    // 1. quality gate: score floor (composite length/diversity/stopword)
    val scored = unblocked.join(
      TextAnalysis.stats(unblocked).select(col("doc_id"), col("quality_score")),
      "doc_id")
    val quality = scored.filter(col("quality_score") >= 0.5).drop("quality_score")

    // 2. structural rule gate (word-count / word-length / stopword rules,
    // thresholds tuned so the synthetic corpus splits without emptying)
    val keepRules = TextAnalysis.qualityRules(quality,
      minWords = 20, maxWords = 100000, minMeanLen = 3.0, maxMeanLen = 10.0,
      maxWordLen = 10, minStopDistinct = 1, maxShortFrac = 0.1)
      .filter(col("keep")).select("doc_id")
    val ruled = quality.join(keepRules, "doc_id")

    // 3. repetition gate (Gopher-style thresholds tuned for the corpus)
    val keepRep = TextAnalysis.repetition(ruled,
      maxTokenDup = 0.65, maxDupBigram = 0.10, maxTopBigram = 0.08)
      .filter(col("keep")).select("doc_id")
    val repetition = ruled.join(keepRep, "doc_id")

    // 4. near-dup corpus dedup: keep each cluster's canonical doc
    val dupDocs = Dedup.dedupCorpus(repetition, Tau)
      .filter(col("is_duplicate")).select(col("doc_id"))
    val deduped = repetition.join(dupDocs, Seq("doc_id"), "left_anti")

    // 5. SemDeDup semantic pruning over the lexical survivors: embeddings
    // restricted to surviving doc_ids (vec_id ≡ doc_id in the star schema),
    // IVF-cluster-blocked cosine classes at SemTau, keep each class's
    // farthest-from-centroid member. The cluster count is sized from the
    // SURVIVOR count, so the Σ|cluster|² pair space stays linear however
    // much the earlier gates removed. Coverage policy: a doc with NO
    // embedding row cannot be semantically deduped and PASSES THROUGH —
    // the prune is an anti-join against the docs SemDeDup explicitly
    // dropped, never an inner join against the kept set (which would
    // silently discard every unembedded doc; at sf0.1 the embeddings
    // table covers 2,000 of 5,000 docs, so the difference is most of the
    // corpus).
    val survEmb = Tables.embeddings(spark, sfDir)
      .join(deduped.select(col("doc_id").as("vec_id")), "vec_id")
    val dropSem = Similarity.semDedup(survEmb, SemTau,
        Similarity.clustersFor(survEmb.count()))
      .filter(!col("keep")).select(col("vec_id").as("doc_id"))
    val pruned = deduped.join(dropSem, Seq("doc_id"), "left_anti")

    // 6. decontamination against the eval split (doc_id ≡ 0 mod 10).
    // BOTH screens take the eval side from the RAW corpus, not from
    // `pruned`: the near-dup pass at stage 4 is eval-blind, so when it
    // collapses a training doc with its eval near-copy and drops the eval
    // doc, a pruned-only screen would never see the eval twin and the
    // surviving near-copy would sail through — exactly the most-verbatim
    // contamination the screen exists to catch (ADVICE r15). Gates/dedup
    // may shrink the TRAINING side; they must never shrink the eval side.
    val evalPred = pmod(col("doc_id"), lit(10)) === 0
    val evalDocs = docs.filter(evalPred)
    val trainSide = pruned.filter(!evalPred)
    val contaminated = Decontamination
      .screenDocs(trainSide, evalDocs, n = 5, minHits = 1)
      .filter(col("contaminated")).select("doc_id")
    val train = trainSide.join(contaminated, Seq("doc_id"), "left_anti")

    // 6b. fuzzy decontamination: near-COPIES of eval docs (reworded,
    // truncated, boilerplate-shifted) that the exact gram screen misses —
    // the cross-set MinHash screen at a lower tau than the dedup pass
    // (contamination flags partial copies, not just mirrors). Same raw
    // eval side as stage 6; eval bands are the broadcast-sized side and
    // the corpus is never self-joined.
    val fuzzyHits = Dedup.fuzzyDecontaminateDocs(trainSide, evalDocs, tau = 0.6)
      .select("doc_id")
    val fuzzyClean = train.join(fuzzyHits, Seq("doc_id"), "left_anti")

    // 7. DSIR importance-weight selection cut: hashed-n-gram bucket LMs
    // estimated over the CLEANED corpus (target = its English slice, the
    // q_dsir domain stand-in), keep docs whose target-vs-raw log weight is
    // positive. Estimating the LMs post-decontamination means eval-set
    // n-grams can't inflate the target model.
    val keepDsir = TextAnalysis.dsirWeights(fuzzyClean, col("lang") === "en")
      .filter(col("selected")).select("doc_id")
    // materialized: the CCNet stage consumes this frame three ways (LM
    // train side, scoring side, and the bigram-type count action) — left
    // lazy, each consumer re-derives the ENTIRE upstream pipeline and the
    // fused stages over-subscribe the execution-memory pool (measured as
    // UNABLE_TO_ACQUIRE_MEMORY in the suite JVM, the data-card lesson)
    val weighted = fuzzyClean.join(keepDsir, "doc_id").materialize

    // 7b. CCNet perplexity tail-drop (Wenzek et al. 2020): Kneser–Ney LM
    // trained on the DSIR-selected corpus's target slice (the same
    // lang='en' target DSIR cut toward — CCNet trains its LM on clean
    // target text, never on the crawl it routes), every survivor bucketed
    // by score terciles, the tail tercile dropped. Docs too short to
    // score ('unscored') pass — CCNet routes those manually, and a silent
    // short-doc drop here would double-count the length gates upstream.
    val tailDrop = TextAnalysis
      .ccnetBuckets(weighted.filter(col("lang") === "en"), weighted)
      .filter(col("bucket") === "tail").select("doc_id")
    val routed = weighted.join(tailDrop, Seq("doc_id"), "left_anti")

    // 8. deterministic sample (reproducible across reruns)
    val sampled = Sampling.sample(routed, col("doc_id"), "curate:", SampleRate)

    // 9. chunk into training windows, pack into fixed-length sequences,
    // write the partitioned corpus
    val packed = Packing.pack(
      Chunking.chunk(sampled, chunkSize = 40, stride = 30), seqLen = 512)
    val out = sampled.select(col("doc_id"), col("lang"), col("source"))
      .join(packed, "doc_id")
    t("write_chunks")(TextIngest.writePartitioned(out, s"$outDir/chunks",
      partitionCols = Seq("lang"), sortCols = Seq("doc_id", "chunk_id")))

    // 10. tokenizer artifact: BPE merge table learned on EXACTLY the
    // surviving corpus (training the tokenizer on pre-curation text
    // would bake duplicated/contaminated n-grams into the vocabulary),
    // plus the exact subword vocabulary with corpus counts
    val merges = t("bpe_train")(Bpe.trainMerges(sampled, iters = 32))
    t("write_merges")(
      merges.write.mode("overwrite").parquet(s"$outDir/tokenizer/merges"))
    val vocab = Bpe.encode(sampled, merges)
    t("write_vocab")(
      vocab.write.mode("overwrite").parquet(s"$outDir/tokenizer/vocab"))

    // 11. shard layout: seeded global shuffle of the PACKED SEQUENCES into
    // fixed-size shards — the training-loader handoff (reproducible random
    // order, equal shards, loaders stride without coordination). Written
    // partitioned by shard so a loader reads exactly its slice.
    val written = spark.read.parquet(s"$outDir/chunks")
    val shardOf = Layout.shuffleShards(
        written.select(col("seq_id")).distinct(),
        col("seq_id"), "curate-sh:", shardSize = 16)
      .select(col("k").as("seq_id"), col("shard"))
    t("write_shards")(written.join(shardOf, "seq_id")
      .write.mode("overwrite").partitionBy("shard").parquet(s"$outDir/shards"))

    // 12. data card: the per-(source, lang) manifest over the FINAL
    // sampled corpus — the datasheet handed to the training team next to
    // the shards (volumes, exact-dup rate, mean quality, mixture shares).
    // The survivor doc set comes from the chunks ALREADY ON DISK (lineage
    // truncated), not from `sampled`'s lazy plan: re-deriving the whole
    // pipeline a fourth time fuses dozens of operators into one stage and
    // over-subscribes the execution-memory pool (measured as
    // UNABLE_TO_ACQUIRE_MEMORY in the suite JVM); this way the card is a
    // raw-scan join against a doc_id list.
    val survivorDocs = docs.join(
      written.select(col("doc_id")).distinct(), "doc_id")
    t("write_datacard")(graft.operators.CorpusStats.dataCard(survivorDocs)
      .write.mode("overwrite").parquet(s"$outDir/data_card"))

    val funnel = Funnel(
      t("count_input")(docs.count()),
      t("count_blocklist")(unblocked.count()),
      t("count_quality")(quality.count()),
      t("count_rules")(ruled.count()),
      t("count_repetition")(repetition.count()),
      t("count_dedup")(deduped.count()),
      t("count_semdedup")(pruned.count()),
      t("count_decontaminated")(train.count()),
      t("count_fuzzy_clean")(fuzzyClean.count()),
      t("count_dsir")(weighted.count()),
      t("count_ccnet")(routed.count()),
      t("count_sampled")(sampled.count()),
      written.count(),
      written.select(col("seq_id")).distinct().count(),
      spark.read.parquet(s"$outDir/tokenizer/merges").count(),
      spark.read.parquet(s"$outDir/tokenizer/vocab").count(),
      spark.read.parquet(s"$outDir/shards").select("shard").distinct().count())
    (funnel, times.result())
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_curate"
    val spark = GraftSession.local(GraftSession.cpus)
    println(run(spark, sfDir, outDir)._1.json)
    spark.stop()
  }
}
