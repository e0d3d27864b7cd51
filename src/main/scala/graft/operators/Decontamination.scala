package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Materialize.MatOps
import graft.EntryMath.{r => r4}

/** Benchmark decontamination: flag training documents that share word
  * n-grams with a held-out evaluation set — the standard pre-training
  * hygiene pass (n-gram overlap against eval benchmarks).
  *
  * Scale design (100 TB): the eval set is benchmarks — thousands of
  * documents, not billions — so its distinct n-gram hash set is tiny and is
  * BROADCAST to the training-side scan. The whole operator is then one
  * linear pass over the corpus (explode shingles → broadcast semi-join →
  * per-doc count): no corpus-side shuffle on the n-gram key, no pairwise
  * join. A doc counts as contaminated when it shares at least `minHits`
  * distinct n-grams with ANY eval document.
  */
object Decontamination {

  /** Per-training-doc contamination report.
    *
    * @param evalPred  rows satisfying this predicate form the eval set;
    *                  everything else is the training side being screened.
    * @param n         shingle width (real pipelines use 8-13; the synthetic
    *                  corpus is short-doc so tests use 5).
    * @param minHits   distinct shared n-grams required to flag.
    * Output: one row per training doc that has ≥ 1 n-gram (shorter docs have
    * nothing to match on): doc_id, n_shingles, n_eval_hits, contamination
    * fraction (4 dp) and the contaminated flag.
    */
  def screen(docs: DataFrame, evalPred: Column, n: Int, minHits: Int): DataFrame = {
    // two consumers (eval-gram set, training scan) — tokenize→md5 once
    val idx = Dedup.shingleIndex(docs, n).materialize
    val evalIds = docs.filter(evalPred).select(col("doc_id"))
    // distinct eval n-gram hashes: small by construction — broadcast
    val evalGrams = idx.join(evalIds, "doc_id").select(col("h")).distinct()
    screenAgainst(idx.join(evalIds, Seq("doc_id"), "left_anti"),
      evalGrams, minHits)
  }

  /** Two-frame variant of [[screen]] for COMPOSED pipelines: the eval set
    * arrives as its own frame, independent of whatever gates/dedup the
    * training side has been through. The single-frame form is eval-blind
    * under composition — if an upstream dedup collapsed a training doc
    * with its eval near-copy and dropped the EVAL doc, screening the
    * surviving frame against its own eval slice misses exactly the
    * most-verbatim contamination (ADVICE r15). Callers pass the RAW eval
    * docs here; `trainDocs` must not contain eval doc_ids. */
  def screenDocs(trainDocs: DataFrame, evalDocs: DataFrame, n: Int,
      minHits: Int): DataFrame =
    screenAgainst(Dedup.shingleIndex(trainDocs, n),
      Dedup.shingleIndex(evalDocs, n).select(col("h")).distinct(), minHits)

  /** Bloom-prescreened variant of [[screen]]: identical output (bit-exact
    * — it shares q_decontaminate's oracle), different scale envelope. The
    * exact path broadcasts the full distinct eval-gram set; real
    * benchmark suites grow that to tens of millions of longs (hundreds
    * of MB on every executor). Here the eval grams are reduced to an
    * m-bit bloom filter ([[graft.functions.BloomSet]]) — a few KB-MB
    * broadcast regardless of gram count — the corpus scan keeps only
    * bloom-POSITIVE shingle rows (k bit probes, pure codegen), and only
    * that tiny candidate set meets the exact gram set in a keyed join
    * (no broadcast needed — at fpp≈1% the candidates are ~the true hits,
    * so AQE usually broadcasts the survivors on its own). Bloom false
    * positives are killed by the exact join; false negatives are
    * impossible (BloomSetSpec), so contamination counts cannot drift. */
  def screenBloom(docs: DataFrame, evalPred: Column, n: Int, minHits: Int,
      numBits: Int = 1 << 20, k: Int = 5): DataFrame = {
    val idx = Dedup.shingleIndex(docs, n).materialize
    val evalIds = docs.filter(evalPred).select(col("doc_id"))
    val evalGrams = idx.join(evalIds, "doc_id").select(col("h")).distinct()
      .materialize // two consumers: bloom build + exact recheck
    val trainIdx = idx.join(evalIds, Seq("doc_id"), "left_anti")
    screenBloomAgainst(trainIdx, evalGrams, minHits, numBits, k)
  }

  /** Two-frame variant of [[screenBloom]] — same composed-pipeline
    * rationale as [[screenDocs]], same bit-exactness contract vs the
    * exact screen (CurateSpec pins the funnel unchanged under it). */
  def screenBloomDocs(trainDocs: DataFrame, evalDocs: DataFrame, n: Int,
      minHits: Int, numBits: Int = 1 << 20, k: Int = 5): DataFrame =
    screenBloomAgainst(Dedup.shingleIndex(trainDocs, n),
      Dedup.shingleIndex(evalDocs, n).select(col("h")).distinct()
        .materialize, // two consumers: bloom build + exact recheck
      minHits, numBits, k)

  private def screenBloomAgainst(trainIdx: DataFrame, evalGrams: DataFrame,
      minHits: Int, numBits: Int, k: Int): DataFrame = {
    val bf = evalGrams.agg(graft.functions.BloomSet
      .bloomAgg(col("h"), numBits, k).as("bf"))
    val candidates = trainIdx.crossJoin(broadcast(bf))
      .filter(graft.functions.BloomSet.mightContain(col("bf"), col("h"), numBits, k))
      .select(col("doc_id"), col("h"))
    val hits = candidates.join(evalGrams, Seq("h"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_eval_hits"))
    trainIdx.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("n_eval_hits"), lit(0L)).as("n_eval_hits"))
      .withColumn("contamination_frac",
        r4(col("n_eval_hits").cast("double") / col("n_shingles")))
      .withColumn("contaminated", col("n_eval_hits") >= minHits)
  }

  /** Cross-corpus n-gram NOVELTY score — the memorization-risk audit
    * (what fraction of a document's n-grams are NOT already present in a
    * reference corpus): the lens run over model-generated or newly-crawled
    * data before admitting it next to an existing training set. The
    * complement of the decontamination screens in both direction and
    * scale shape: the reference side is a CORPUS-sized distinct gram set,
    * so it is resolved with a keyed equi-join (AQE may broadcast a small
    * reference; a hard broadcast hint here would OOM at real sizes —
    * contrast [[screenAgainst]], whose eval side is benchmark-sized by
    * construction).
    *
    * Per doc: distinct n-grams, how many exist in the reference, and the
    * 4dp novel fraction (NULL for docs too short to have an n-gram). */
  def noveltyScore(docs: DataFrame, refDocs: DataFrame, n: Int): DataFrame = {
    val refGrams = Dedup.shingleIndex(refDocs, n).select(col("h")).distinct()
    val perDoc = Dedup.shingleIndex(docs, n)
      .join(refGrams.withColumn("_hit", lit(1)), Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"), count(col("_hit")).as("n_seen"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_seen"), lit(0L)).as("n_seen"),
        when(coalesce(col("n_grams"), lit(0L)) > 0L,
          r4(lit(1.0) - col("n_seen").cast("double") / col("n_grams").cast("double")))
          .otherwise(lit(null).cast("double")).as("novel_frac"))
  }

  /** Bloom-prescreened [[noveltyScore]]: identical output (bit-exact — it
    * shares q_novelty's oracle), different scale envelope. The exact path
    * shuffles BOTH corpus-scale gram tables through the keyed join (~5×
    * corpus bytes each at n=5 — the family's first wall, SCALE.md). Here
    * the reference gram set is reduced to an m-bit bloom filter: a
    * bloom-NEGATIVE gram is PROVABLY absent from the reference (no false
    * negatives, BloomSetSpec), i.e. provably novel — it never enters the
    * join and is counted only by the local per-doc total aggregate. Only
    * bloom-positive grams (≈ true overlaps + fpp·novel) meet the exact
    * reference set, so the join's score side shrinks from "all grams" to
    * "overlapping grams"; false positives are killed by the exact join,
    * so `n_seen` cannot drift in either direction.
    *
    * Sizing (`numBits`): the prescreen only pays for itself while fpp
    * stays low — at ~10 bits per reference gram (k=5) fpp is under ~1%;
    * an undersized filter degrades SILENTLY (still bit-exact, but every
    * gram goes bloom-positive and the pass becomes pure overhead). The
    * default `numBits = 0` therefore AUTO-SIZES from the actual distinct
    * reference-gram count (≥10 bits/gram, rounded up to a power of two,
    * floor 1 Mbit) — the count is one cheap job over the already-
    * materialized gram set. The auto-size caps at 2^30 bits (128 MiB
    * broadcast); past ~10^8 reference grams a single filter saturates,
    * so at that scale shard the reference (one filter per shard) or pass
    * `numBits` explicitly. */
  def noveltyScoreBloom(docs: DataFrame, refDocs: DataFrame, n: Int,
      numBits: Int = 0, k: Int = 5): DataFrame = {
    val refGrams = Dedup.shingleIndex(refDocs, n).select(col("h")).distinct()
      .materializeHuge // three consumers: sizing count + bloom build + recheck
    val m =
      if (numBits > 0) numBits
      else {
        val want = 10L * refGrams.count()
        var bits = 1 << 20
        while (bits < want && bits < (1 << 30)) bits <<= 1
        bits
      }
    val bf = refGrams.agg(graft.functions.BloomSet
      .bloomAgg(col("h"), m, k).as("bf"))
    val idx = Dedup.shingleIndex(docs, n).materializeHuge // totals + join
    val totals = idx.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val seen = idx.crossJoin(broadcast(bf))
      .filter(graft.functions.BloomSet
        .mightContain(col("bf"), col("h"), m, k))
      .select(col("doc_id"), col("h"))
      .join(refGrams, Seq("h"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_seen"))
    // n_seen coalesced BEFORE the fraction: unlike the exact path, a
    // doc with grams but zero overlaps has NO row in `seen` (the bloom
    // path's seen aggregate only holds overlapping docs), and an
    // un-coalesced NULL would poison the division
    docs.select(col("doc_id"))
      .join(totals, Seq("doc_id"), "left")
      .join(seen, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_seen"), lit(0L)).as("n_seen"))
      .select(col("doc_id"), col("n_grams"), col("n_seen"),
        when(col("n_grams") > 0L,
          r4(lit(1.0) - col("n_seen").cast("double") / col("n_grams").cast("double")))
          .otherwise(lit(null).cast("double")).as("novel_frac"))
  }

  /** Decontamination n-LENGTH sensitivity sweep — the audit that picks n
    * before a production screen: the same eval-overlap screen run at
    * every candidate n-gram length in ONE pass, reported per n (docs
    * scored, docs contaminated, the contaminated rate, total hits, and
    * the pooled hit fraction Σhits/Σshingles). Short n over-flags
    * (common phrases collide), long n under-flags (one edit breaks the
    * gram) — the sweep shows the knee where the flag rate stabilizes,
    * which is how the 13-gram-style conventions (GPT-3 appendix C) are
    * justified rather than assumed.
    *
    * Shape at scale: the fused-generator idiom (one explode emitting
    * (n, hash) for every n — NOT one corpus pass per n), one distinct,
    * one broadcast of the (n-tagged) eval gram set, one keyed per-doc
    * aggregate, and a final ≤|ns|-row rollup. Fractions are ratios of
    * EXACT count sums (one division at the end), so no float-summation
    * order can move them. */
  def screenNSweep(trainDocs: DataFrame, evalDocs: DataFrame,
      ns: Seq[Int] = Seq(5, 7, 9, 11, 13), minHits: Int = 1): DataFrame = {
    require(ns.nonEmpty && ns.forall(_ >= 2), s"bad ns: $ns")
    // native generator (r19): one linear byte scan per document emits the
    // per-n md5-distinct (n, hash60 % m) rows for EVERY n — replacing the
    // 5-way interpreted array_distinct + transform-lambda chain that built
    // and md5'd a gram string per element. The (doc, n, h) row set is
    // identical (hash of a distinct-gram set = distinct-hash set; both
    // sides meet in per-(doc,n,h) / per-(n,h) set aggregates downstream).
    def multiRows(docs: DataFrame): DataFrame = docs
      .select(col("doc_id"), explode(graft.functions.TokenGrams
        .tokenGramHash60Structs(col("text"), ns, 2147483647L)).as("x"))
      .select(col("doc_id"), col("x.n").as("n"), col("x.h").as("h"))
    // eval side: only the (n, h) SET matters, and the per-doc
    // array_distinct already dedups within a doc — one global distinct,
    // not a per-doc distinct followed by a second one (r18, guide §2.4)
    val evalGrams = multiRows(evalDocs).select(col("n"), col("h")).distinct()
    // train side: ONE exchange for both aggregations (r18, guide §2.4) —
    // hash-partitioning on (n, doc_id) satisfies the clustering
    // requirement of BOTH the exact (doc, n, h) dedup (its keys are a
    // superset) and the per-(n, doc) rollup, so the former
    // distinct → regroup pair of corpus-sized shuffles collapses to one.
    // Rows are near-unique after array_distinct (only cross-gram hash
    // collisions repeat), so the lost map-side partial dedup combined
    // nothing anyway.
    val perDoc = multiRows(trainDocs)
      .repartition(col("n"), col("doc_id"))
      .groupBy(col("doc_id"), col("n"), col("h")).agg(count(lit(1)).as("_one"))
      .join(broadcast(evalGrams.withColumn("_hit", lit(1))), Seq("n", "h"), "left")
      .groupBy(col("n"), col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"), count(col("_hit")).as("n_hits"))
    perDoc.groupBy(col("n")).agg(
        count(lit(1)).as("n_docs_scored"),
        sum(when(col("n_hits") >= minHits, 1L).otherwise(0L)).as("n_contaminated"),
        sum(col("n_hits")).as("total_hits"),
        sum(col("n_shingles")).as("total_shingles"))
      .select(col("n"), col("n_docs_scored"), col("n_contaminated"),
        r4(col("n_contaminated").cast("double") / col("n_docs_scored"))
          .as("contaminated_rate"),
        col("total_hits"),
        r4(col("total_hits").cast("double") / col("total_shingles"))
          .as("pooled_hit_frac"))
  }

  /** The screening pass against a PREBUILT eval-gram set — shared by the
    * one-shot path above and the streaming ingest screen (a
    * [[graft.streaming.StreamGate]] gate, pinned in StreamDedupSpec), which
    * builds the distinct eval grams once at stream start and reuses them
    * every micro-batch: contamination is membership in a FIXED set, so
    * micro-batch boundaries cannot matter. Stateless per training
    * shingle-index row: one broadcast mark + one per-doc aggregate. */
  def screenAgainst(trainIdx: DataFrame, evalGrams: DataFrame,
      minHits: Int): DataFrame =
    trainIdx
      .join(broadcast(evalGrams.withColumn("_hit", lit(1))), Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"), count(col("_hit")).as("n_eval_hits"))
      .withColumn("contamination_frac",
        r4(col("n_eval_hits").cast("double") / col("n_shingles")))
      .withColumn("contaminated", col("n_eval_hits") >= minHits)
}
