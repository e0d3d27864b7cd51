package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Materialize.MatOps
import graft.EntryMath.{r => r4}

/** Deduplication family for the training-data pipeline: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design (100 TB): never all-pairs. Every near-dup variant generates
  * candidates through an equi-join key — shingle inverted index, LSH band
  * bucket, or (for SimHash at extreme scale) the multi-index Hamming-probe
  * form [[simhashPairsMp]] — so the shuffle is keyed and the pair space
  * stays near-linear in the number of true duplicates. Verification (exact Jaccard / Hamming) runs only on
  * candidates. All hashes are md5-derived 60-bit ints reduced mod 2^31-1
  * so products stay inside int64 (DuckDB errors on overflow; Spark wraps).
  */
object Dedup {

  /** Exact dedup by content hash: canonical id = smallest doc_id.
    * One hash-aggregate shuffle; at scale this is the cheapest pass and
    * runs first to shrink the near-dup input. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("text_md5"))
      .agg(min(col("doc_id")).as("canonical_id"),
        count(lit(1)).as("n_docs"))

  /** (doc_id, shingle-hash) distinct pairs — the inverted-index relation
    * shared by Jaccard and MinHash. Hashes reduced mod 2^31−1.
    *
    * Generator (r19): the native [[graft.functions.TokenGramHash60s]]
    * expression — one linear byte scan per document computing md5 over
    * each gram's byte slice in place (no gram strings, no interpreted
    * array lambdas), deduped per doc on the full 128-bit md5. The
    * resulting (doc, h) SET is identical to the former
    * `array_distinct(grams) → hash60 % m` (hash of a set = set of
    * hashes; the trailing `.distinct()` defines the relation either
    * way). */
  def shingleIndex(docs: DataFrame, n: Int = 3): DataFrame =
    docs.select(col("doc_id"),
        explode(graft.functions.TokenGrams.tokenGramHash60(
          col("text"), Seq(n), 2147483647L, distinct = true)).as("h"))
      .distinct()
    // no checkpoint here on purpose: the self-joins downstream reuse the
    // distinct's shuffle via ReuseExchange; an eager localCheckpoint
    // measured strictly slower

  /** Per-document cross-corpus duplicated-span metric (the
    * exact-substring-duplication signal of Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better", at n-gram rather than
    * suffix-array granularity): for every stride-1 n-gram position, is
    * that n-gram present in ANY other document? Reports per doc the total
    * positions, the cross-doc duplicated positions, and their fraction —
    * the "how much of this document exists elsewhere" score a span-level
    * scrubber thresholds on.
    *
    * Shape at scale: explode → one aggregate keyed (hash, doc) → a
    * hash-keyed count + join back → per-doc aggregate. The (hash, doc)
    * relation feeds both sides, so it is materialized once
    * (position-scale rows — at 100 TB this is the persisted intermediate
    * a multi-stage scrub job writes between passes anyway). No pairwise
    * join anywhere: cost is linear in corpus positions. */
  def substringDup(docs: DataFrame, n: Int = 5): DataFrame = {
    // native generator (r19): hash60 per gram byte-slice in one linear
    // pass — values bit-equal to hash60(gram string) (TokenGramSpec)
    val grams = docs.select(col("doc_id"),
      explode(graft.functions.TokenGrams.tokenGramHash60(
        col("text"), Seq(n))).as("h"))
    val per = grams.groupBy(col("h"), col("doc_id"))
      .agg(count(lit(1)).as("c")).materializeHuge // position-scale rows
    val nDocs = per.groupBy(col("h")).agg(count(lit(1)).as("nd"))
    val agg = per.join(nDocs, "h")
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_grams"),
        sum(when(col("nd") > 1, col("c")).otherwise(0L)).as("n_dup_grams"))
    docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_dup_grams"), lit(0L)).as("n_dup_grams"),
        coalesce(r4(col("n_dup_grams").cast("double") / col("n_grams")), lit(0.0))
          .as("dup_frac"))
  }

  /** Maximal cross-document duplicated character spans — the
    * exact-substring scrub set of Lee et al. 2022 ("Deduplicating
    * Training Data Makes Language Models Better") at its own character
    * granularity, completing what [[substringDup]] approximates at
    * token-n-gram granularity. The suffix-array step of the paper is
    * re-expressed as a distributed prefix-group sort: every stride-1
    * `minLen`-char window is keyed by its hash (the "prefix group" — two
    * suffixes sharing a ≥ minLen prefix land in the same group by
    * construction, which is the only adjacency the ≥ minLen cut ever
    * inspects, so the global suffix order the single-node paper builds
    * is unnecessary); groups seen in more than one document mark their
    * window positions duplicated, and per-document runs of consecutive
    * duplicated positions merge into maximal spans [start, start+len).
    * A position is inside some cross-doc repeated substring of length
    * ≥ minLen iff a duplicated window covers it, so the merged spans are
    * EXACTLY the paper's scrub set (union over partner documents).
    *
    * Output: one row per maximal span (doc_id, span_start 1-based,
    * span_len ≥ minLen); documents with no duplicated span emit nothing
    * (the scrubber's work list).
    *
    * Shape at scale: positions-scale rows (as [[substringDup]] — the
    * persisted intermediate of a multi-pass scrub job), ONE shuffle by
    * window hash where a min/max-doc window marks cross-doc groups
    * (min(doc) ≠ max(doc) ⟺ ≥ 2 distinct docs — exact, and it needs no
    * second pass, no doc-count aggregate, and no join back over the
    * position rows), then one shuffle by doc for the run-merge window.
    * No pairwise join, no global sort: cost linear in corpus positions.
    * Windows are keyed by [[TextAnalysis.hash60]] (a 60-bit space —
    * corpus-scale collision odds are the same accepted trade as every
    * shingle index here); keys are hashes, never the 50-char windows,
    * so the shuffle moves 8-byte keys.
    *
    * Giant-document skew: the stride-1 explode turns one row of length L
    * into L window rows inside the SOURCE task — one 100 MB outlier
    * document would become a 100 M-row straggler before any exchange —
    * and, worse, `substr(p, minLen)` on a UTF8String counts characters
    * byte-wise from position 0 on EVERY call, so the unsharded window
    * pass is O(L²) CPU in the document length, not O(L).
    * Documents longer than `shardChars` are therefore pre-split into
    * segments of `shardChars` window starts each, overlapped by
    * minLen−1 chars so every stride-1 window of the original text is
    * generated in EXACTLY ONE segment (segment i carries original chars
    * [i·S+1, i·S+S+minLen−1] and emits window starts i·S+1 … i·S+S), and
    * the bounded-size segments are hash-repartitioned on (doc, offset)
    * (every segment its own key — deterministic under retry) before the
    * window explode. Global positions are reconstructed from the segment
    * offset, so the per-doc run-merge window sees the identical position
    * set and spans crossing segment seams merge exactly as before — the
    * output is byte-identical to the unsharded plan (spec-pinned). Short
    * documents keep the direct shuffle-free path, so at uniform doc
    * sizes the plan (and its cost) is unchanged. `shardChars` therefore
    * bounds BOTH the per-task row amplification AND the per-window
    * substr scan (a window never walks past its own segment), restoring
    * the linear total cost the scale story claims. */
  def substringSpans(docs: DataFrame, minLen: Int = 50,
      shardChars: Int = 8192): DataFrame = {
    val wins = substringWindows(docs, minLen, shardChars)
    val wh = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    val dup = wins
      .withColumn("mn", min(col("doc_id")).over(wh))
      .withColumn("mx", max(col("doc_id")).over(wh))
      .filter(col("mn") =!= col("mx"))
      .select(col("doc_id"), col("p"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("p"))
    dup
      .withColumn("gap",
        when(col("p") - lag(col("p"), 1).over(w) === 1, 0).otherwise(1))
      .withColumn("g", sum(col("gap"))
        .over(w.rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("g"))
      .agg(min(col("p")).as("span_start"),
        (max(col("p")) - min(col("p")) + lit(minLen.toLong)).as("span_len"))
      .select(col("doc_id"), col("span_start").cast("long").as("span_start"),
        col("span_len").cast("long").as("span_len"))
  }

  /** The (doc_id, position, window-hash) relation behind
    * [[substringSpans]] — exposed for the planted-skew spec, which pins
    * both the exactly-once window coverage and the segment spread (no
    * single source partition holds a giant document's full window set). */
  private[graft] def substringWindows(docs: DataFrame, minLen: Int,
      shardChars: Int): DataFrame = {
    // both arms hash through WindowHashes — ONE linear pass per segment
    // (byte-sliced md5) instead of the composed hash60(substr(seg, lp,
    // minLen)), whose per-window from-byte-0 codepoint walk made the
    // window stage O(S²) CPU per segment: the r17 profile measured the
    // walk as 7.6× of wall at shardChars=8192 on a 16 KB-doc corpus
    // (substr_profile, SCALE.md). Values are bit-identical by the
    // expression's contract (WindowHashSpec), so the oracles and the
    // shard-invariance pin are untouched.
    val winHash = (seg: org.apache.spark.sql.Column) =>
      graft.functions.WindowHash.windowHashes(seg, minLen)
    val eligible = docs.filter(length(col("text")) >= minLen)
    val shortWins = eligible
      .filter(length(col("text")) < lit(shardChars + minLen))
      .select(col("doc_id"), posexplode(winHash(col("text"))).as(Seq("i", "h")))
      .select(col("doc_id"), (col("i") + 1).cast("long").as("p"), col("h"))
    val longWins = eligible
      .filter(length(col("text")) >= lit(shardChars + minLen))
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0),
          floor((length(col("text")) - lit(minLen)).cast("double") /
            lit(shardChars)).cast("int"))).as("i"))
      .select(col("doc_id"),
        (col("i").cast("long") * lit(shardChars.toLong)).as("off"),
        col("text").substr(col("i") * lit(shardChars) + lit(1),
          lit(shardChars + minLen - 1)).as("seg"))
      // spread bounded segments across all tasks (deterministic — safe
      // under task retry); this is the exchange that breaks the straggler.
      // The partition count MUST be pinned: AQE sizes coalescing by map
      // output bytes, and segments are tiny relative to the ~shardChars×
      // row amplification of the explode that follows — left adaptive,
      // AQE folds them back into one task and reintroduces the straggler.
      .repartition(docs.sparkSession.conf
        .get("spark.sql.shuffle.partitions").toInt,
        col("doc_id"), col("off"))
      .select(col("doc_id"), col("off"),
        posexplode(winHash(col("seg"))).as(Seq("lp0", "h")))
      .select(col("doc_id"), (col("off") + col("lp0") + 1).as("p"), col("h"))
    shortWins.unionByName(longWins)
  }

  /** Exact-Jaccard verification of candidate pairs against the full shingle
    * index: work ∝ candidates × shingles-per-doc — only sound when the
    * candidate set is already small (the MinHash LSH blocker). */
  private[operators] def verifyJaccard(cand: DataFrame, idx: DataFrame,
      tau: Double): DataFrame = {
    val sizes = idx.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = cand
      .join(idx.as("ia"), col("doc_a") === col("ia.doc_id"))
      .join(idx.as("ib"), col("doc_b") === col("ib.doc_id") && col("ia.h") === col("ib.h"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnsRenamed(Map("doc_id" -> "doc_a", "sz" -> "sza")), "doc_a")
      .join(sizes.withColumnsRenamed(Map("doc_id" -> "doc_b", "sz" -> "szb")), "doc_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sza") + col("szb") - col("inter")))
      .filter(col("jaccard") >= tau)
      .select(col("doc_a"), col("doc_b"),
        r4(col("jaccard")).as("jaccard"))
  }

  /** Pairwise n-gram Jaccard ≥ tau over the df-capped shingle index:
    * shingles with document frequency > maxDf (boilerplate/stop-shingles)
    * are removed before the self-join — a shingle shared by d documents
    * alone contributes d² join rows, the one spot where a shingle inverted
    * index goes quadratic at corpus scale. Jaccard is computed on the
    * capped sets (sizes AND intersections), i.e. stop-shingle removal, so
    * the whole query is one keyed self-join + aggregate with a bounded
    * per-key blowup of maxDf². The df count is a window over h, so the
    * self-join reuses the same hash partitioning (one shuffle of the index,
    * not two). */
  def jaccardPairs(docs: DataFrame, tau: Double, n: Int = 3,
      maxDf: Int = 100): DataFrame = {
    // multi-consumer like minhashLshPairs' idx: block-local measured faster
    // than disk-streamed (containment A/B 2.3s vs 3.5s at sf0.1)
    val capped = cappedIndex(shingleIndex(docs, n), maxDf).materialize
    val sizes = capped.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = capped.as("a")
      .join(capped.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnsRenamed(Map("doc_id" -> "doc_a", "sz" -> "sza")), "doc_a")
      .join(sizes.withColumnsRenamed(Map("doc_id" -> "doc_b", "sz" -> "szb")), "doc_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sza") + col("szb") - col("inter")))
      .filter(col("jaccard") >= tau)
      .select(col("doc_a"), col("doc_b"),
        r4(col("jaccard")).as("jaccard"))
  }

  /** Directional containment pairs over the df-capped shingle index:
    * containment(a in b) = |Sa∩Sb| / |Sa| — the asymmetric near-dup signal
    * that catches a short document quoted inside a longer one, which
    * symmetric Jaccard misses (the union denominator washes out size
    * asymmetry). Same single keyed self-join + aggregate as
    * [[jaccardPairs]]; each unordered intersection row fans out to its two
    * directions only at the end (2 rows per surviving pair, not 2× the
    * join). */
  def containmentPairs(docs: DataFrame, theta: Double, n: Int = 3,
      maxDf: Int = 100): DataFrame = {
    // multi-consumer like minhashLshPairs' idx: block-local measured faster
    // than disk-streamed (containment A/B 2.3s vs 3.5s at sf0.1)
    val capped = cappedIndex(shingleIndex(docs, n), maxDf).materialize
    val sizes = capped.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = capped.as("a")
      .join(capped.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.withColumnsRenamed(Map("doc_id" -> "doc_a", "sz" -> "sza")), "doc_a")
      .join(sizes.withColumnsRenamed(Map("doc_id" -> "doc_b", "sz" -> "szb")), "doc_b")
    val ab = inter.select(col("doc_a").as("contained_id"),
      col("doc_b").as("container_id"),
      (col("inter").cast("double") / col("sza")).as("craw"))
    val ba = inter.select(col("doc_b").as("contained_id"),
      col("doc_a").as("container_id"),
      (col("inter").cast("double") / col("szb")).as("craw"))
    ab.unionByName(ba)
      .filter(col("craw") >= theta)
      .select(col("contained_id"), col("container_id"),
        r4(col("craw")).as("containment"))
  }

  /** Quantization scales shared with the DuckDB oracle: squared weights at
    * 1e6 (norm accumulation), normalized products at 1e12 (similarity
    * accumulation). Summing the quantized integers instead of raw doubles
    * makes both aggregates order-independent, so the result is bit-stable
    * across partitionings and engines (the repo's integer-cents rule
    * applied to dot products). */
  val CosW2Scale: Double = 1e6
  val CosProdScale: Double = 1e12

  /** Weighted near-dup pairs: TF-IDF cosine over the token inverted index —
    * the weighted sibling of [[jaccardPairs]] (set overlap) for corpora
    * where rare-term agreement should count more than boilerplate overlap.
    *
    * Per doc: w(t) = tf·ln(N/df), L2-normalized; similarity = Σ wn_a·wn_b
    * over shared tokens, which is exactly cosine. Tokens with df > maxDf
    * are dropped BEFORE the self-join (the same hot-key cap as Jaccard —
    * stopword-ish tokens would otherwise make the candidate space
    * quadratic; with IDF weighting they contribute least similarity, so
    * the cap costs little recall). Join is keyed on token — never
    * all-pairs. */
  def tfidfCosinePairs(docs: DataFrame, tau: Double, maxDf: Int = 100): DataFrame = {
    val tf = docs
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    val total = docs.agg(count(lit(1)).as("n_docs"))
    val w = tf.join(dfreq, "token").crossJoin(broadcast(total))
      .withColumn("w", col("tf") * log(col("n_docs").cast("double") / col("df")))
    val norms = w.groupBy(col("doc_id"))
      .agg(sqrt(sum(floor(col("w") * col("w") * lit(CosW2Scale) + 0.5).cast("long")) /
        lit(CosW2Scale)).as("nrm"))
    // nullif: a doc whose every surviving token has df = N gets w ≡ 0 and
    // a zero norm — ANSI mode would turn the division into a runtime error
    val v = w.join(norms, "doc_id")
      .select(col("token"), col("doc_id"),
        (col("w") / nullif(col("nrm"), lit(0.0))).as("wn"))
      .materializeHuge // token-scale rows
    v.as("a").join(v.as("b"),
        col("a.token") === col("b.token") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        floor(col("a.wn") * col("b.wn") * lit(CosProdScale) + 0.5).cast("long").as("pq"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg((sum(col("pq")) / lit(CosProdScale)).as("sim"))
      .filter(col("sim") >= tau)
      .select(col("doc_a"), col("doc_b"),
        r4(col("sim")).as("cosine"))
  }

  /** Drop shingles with document frequency > maxDf. */
  private def cappedIndex(idx: DataFrame, maxDf: Int): DataFrame = {
    val byH = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    idx.withColumn("df", count(lit(1)).over(byH))
      .filter(col("df") <= maxDf).drop("df")
  }

  /** MinHash parameters: k hashes h_j(x) = (A_j·x + B_j) mod P over the
    * 31-bit shingle hashes; bands of r=2 rows. */
  val MinHashP = 2147483647L
  val MinHashK = 16
  def mhA(j: Int): Long = 37L * j + 11
  def mhB(j: Int): Long = 101L * j + 7

  /** Per-doc MinHash signature (k columns mh0..mh{k-1}). */
  def minhashSignatures(docs: DataFrame, n: Int = 3): DataFrame =
    minhashSignaturesFromIndex(shingleIndex(docs, n))

  /** Signature aggregate over a pre-built (and possibly materialized)
    * shingle index — callers that also verify against the index pass the
    * same frame so tokenize→md5 runs once, not once per consumer. */
  def minhashSignaturesFromIndex(idx: DataFrame): DataFrame = {
    val aggs = (0 until MinHashK).map { j =>
      min((col("h") * mhA(j) + mhB(j)) % MinHashP).as(s"mh$j")
    }
    idx.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
  }

  /** Explode a MinHash signature frame into one row per LSH band:
    * (doc_id [, extra passthrough cols], band, x, y) — the shared band
    * generator behind every banded candidate join (self-join, cross-set
    * incremental, decontamination, streaming screens). */
  private[graft] def bandsOf(sig: DataFrame, extra: Seq[String] = Nil): DataFrame = {
    val keep = "doc_id" +: extra
    sig.select(keep.map(col) :+
        explode(expr(
          (0 until MinHashK / 2)
            .map(bd => s"struct(${bd} AS band, mh${2 * bd} AS x, mh${2 * bd + 1} AS y)")
            .mkString("array(", ", ", ")"))).as("bb"): _*)
      .select(keep.map(col) ++ Seq(col("bb.band"), col("bb.x"), col("bb.y")): _*)
  }

  /** MinHash+LSH near-dup pairs: band-bucket join → candidates → exact
    * Jaccard verification ≥ tau. The LSH bands are the only join keys, so
    * candidate generation is an equi-join, not a cross product. */
  def minhashLshPairs(docs: DataFrame, tau: Double, n: Int = 3): DataFrame = {
    // materialize the shingle index once: signatures AND the Jaccard verify
    // read it, and their subplans diverge enough (AQE broadcast conversion)
    // that ReuseExchange cannot dedupe the tokenize→md5 pipeline
    // token-scale frame, but consumed 3-4x inside one query (signature
    // agg + both verify sides): block-local materialization measured
    // 25-50% faster than disk-streamed here; the huge() strategy is the
    // single-consumer grams/per/v sites' trade, not this one
    val idx = shingleIndex(docs, n).materialize
    // signatures are one narrow row per doc — materialize them too so the
    // band self-join reads a cached frame instead of re-running the 16-agg
    // pipeline per side
    val sig = minhashSignaturesFromIndex(idx).materialize
    val bands = bandsOf(sig)
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.x") === col("b.x") &&
          col("a.y") === col("b.y") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // verify ONLY the candidates: start from the candidate pairs and join
    // the shingle index to each side — work ∝ candidates × shingles, which
    // is the point of LSH (running full jaccardPairs here would redo the
    // near-quadratic shingle-sharing join and make the bands pure overhead)
    verifyJaccard(cand, idx, tau)
  }

  /** Empirical LSH recall audit — the measurement that justifies trusting
    * [[minhashLshPairs]]'s banding before a corpus-scale dedup run: per
    * exact-Jaccard band (1/20 wide, from `minB20`/20 up, top band = exact
    * dups), how many TRUE pairs exist (the df-capped exact self-join,
    * [[jaccardPairs]]'s ground truth), how many the band collision
    * CAUGHT, the empirical recall, and the theoretical banding S-curve
    * 1−(1−s^r)^b at the band midpoint for comparison (r = rows/band = 2,
    * b = [[MinHashK]]/2 bands). A healthy index shows empirical ≥
    * theoretical (signatures correlate positively within near-dup pairs);
    * a broken hash family shows up as a band whose empirical recall
    * undershoots the curve.
    *
    * Engine parity: bands are EXACT integer arithmetic off the
    * intersection counts — b20 = ⌊20·|∩| / |∪|⌋ — so binning cannot
    * ulp-flip at a boundary; the theoretical curve is computed ONCE here
    * (4dp literals) and inlined into both engines.
    *
    * Shape at scale: the truth side is the same bounded self-join as
    * [[jaccardPairs]] (maxDf² per shingle cap); the candidate side the
    * same banding as [[minhashLshPairs]]; the audit joins them pair-keyed
    * and aggregates to ≤16 rows. Run it on a SAMPLE at 100 TB — recall
    * is a property of the hash family and tau, not of corpus size. */
  def lshRecallAudit(docs: DataFrame, n: Int = 3, maxDf: Int = 100,
      minB20: Int = 5): DataFrame = {
    val idx = shingleIndex(docs, n).materialize // sigs + capped truth
    val capped = cappedIndex(idx, maxDf).materialize
    val sizes = capped.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val truth = capped.as("a")
      .join(capped.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.withColumnsRenamed(Map("doc_id" -> "doc_a", "sz" -> "sza")), "doc_a")
      .join(sizes.withColumnsRenamed(Map("doc_id" -> "doc_b", "sz" -> "szb")), "doc_b")
      .withColumn("b20", expr("20 * inter div (sza + szb - inter)"))
      .filter(col("b20") >= minB20)
      .select(col("doc_a"), col("doc_b"), col("b20"))
    val bands = bandsOf(minhashSignaturesFromIndex(idx).materialize)
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.x") === col("b.x") &&
          col("a.y") === col("b.y") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val per = truth
      .join(cand.withColumn("_hit", lit(1)), Seq("doc_a", "doc_b"), "left")
      .groupBy(col("b20"))
      .agg(count(lit(1)).as("n_true"), count(col("_hit")).as("n_caught"))
    val expected = lshExpectedRecall(minB20).foldLeft(lit(null).cast("double")) {
      case (acc, (b, p)) => when(col("b20") === b, lit(p)).otherwise(acc)
    }
    per.select(col("b20"), r4(col("b20").cast("double") / lit(20.0)).as("j_lo"),
      col("n_true"), col("n_caught"),
      r4(col("n_caught").cast("double") / col("n_true")).as("recall"),
      expected.as("expected_recall"))
  }

  /** The banding S-curve 1−(1−s²)^(K/2) at each band midpoint, 4dp — the
    * ONE place the theoretical literals are computed; both the Spark
    * expression and the DuckDB oracle inline these values. */
  private[graft] def lshExpectedRecall(minB20: Int): Seq[(Int, Double)] =
    (minB20 to 20).map { b =>
      val s = if (b == 20) 1.0 else b / 20.0 + 0.025
      val p = 1.0 - math.pow(1.0 - s * s, MinHashK / 2)
      b -> r4(p)
    }

  /** Connected components over an undirected near-dup pair graph by
    * iterative min-label propagation (the standard Spark CC shape: joins,
    * no driver-side graph). Converges in O(log(largest component)) rounds;
    * near-dup graphs are forests of small cliques, so the loop exits after
    * 2-3 rounds via the fixpoint check. Returns (doc_id, canonical_id =
    * component minimum). */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    // materialize the edge list once: the loop joins it every round, and
    // without this the whole upstream pair pipeline (LSH + verify) would
    // re-execute per iteration
    val und = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      .materialize
    // seed labels with the first neighbor-min hop fused into initialization
    // (label₀ = min(self, neighbors)) — for the dominant case of small
    // cliques this IS the fixpoint, so the loop runs exactly one
    // verification round instead of one compute + one verification round
    var labels = und.groupBy(col("src"))
      .agg(min(col("dst")).as("m"))
      .select(col("src").as("doc_id"), least(col("src"), col("m")).as("label"))
    var converged = false
    var rounds = 0
    val maxRounds = 30 // pointer jumping ⇒ O(log diameter); 2^30 ≫ any graph
    var prevMat: Option[DataFrame] = None
    while (!converged && rounds < maxRounds) {
      // neighbor-min step (one hop); _prev carries the round's starting
      // label so convergence is a filter over the checkpointed partitions
      // instead of a shuffle join back against the previous frame
      val msgs = und
        .join(labels, col("src") === col("doc_id"))
        .groupBy(col("dst").as("doc_id")).agg(min(col("label")).as("nlabel"))
      val hop = labels.join(msgs, Seq("doc_id"), "left")
        .select(col("doc_id"), col("label").as("_prev"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
      // pointer-jumping step: label ← label(label), doubling the distance a
      // minimum travels per round (plain hop propagation is one edge/round)
      val ptr = hop.as("h")
        .join(hop.select(col("doc_id").as("label"), col("label").as("ll")).as("p"),
          Seq("label"), "left")
        .select(col("doc_id"), col("_prev"),
          least(col("label"), coalesce(col("ll"), col("label"))).as("label"))
        .materializeLoop(rounds + 1) // truncate the iterative lineage
      // count() (not isEmpty) so the convergence probe fully materializes
      // EVERY partition of this round under the lazy `persist` strategy —
      // isEmpty's limit-1 short-circuit could leave the round half-cached.
      // Once the round is fully resident, the SUPERSEDED round's blocks are
      // released so cache residency stays bounded at 2 frames instead of
      // growing linearly with rounds (ADVICE r5: MEMORY_AND_DISK spill
      // pressure at deep iteration). Safe for all three strategies: persist
      // keeps lineage for recompute, localCheckpoint/checkpoint rounds are
      // already fully materialized and self-contained.
      converged = ptr.filter(col("label") =!= col("_prev")).count() == 0L
      prevMat.foreach(_.unpersist(false))
      prevMat = Some(ptr)
      labels = ptr.select(col("doc_id"), col("label"))
      rounds += 1
    }
    require(converged,
      s"connectedComponents did not converge in $maxRounds rounds — pathological graph")
    labels.select(col("doc_id"), col("label").as("canonical_id"))
  }

  /** End-to-end near-dup corpus dedup: MinHash+LSH candidate pairs →
    * verified Jaccard ≥ tau → connected components → keep-list decision
    * per affected doc (canonical survives, the rest drop). */
  def dedupCorpus(docs: DataFrame, tau: Double): DataFrame =
    connectedComponents(minhashLshPairs(docs, tau))
      .select(col("doc_id"), col("canonical_id"),
        (col("doc_id") =!= col("canonical_id")).as("is_duplicate"))

  /** Quality-aware canonical selection: within each near-dup cluster keep
    * the HIGHEST-quality document instead of the lowest id — standard
    * curation practice (duplicates often differ in boilerplate/truncation;
    * min-id keeps an arbitrary one, this keeps the best). Clusters come
    * from the same LSH→connected-components pass as [[dedupCorpus]]; the
    * winner is row_number 1 over (4dp quality desc, doc_id) per cluster —
    * a window portable verbatim to the oracle, unlike engine-specific
    * arg-max-by-struct. Adds one keyed join + one window over the
    * clustered docs only (tiny relative to the corpus). */
  def dedupCorpusKeepBest(docs: DataFrame, tau: Double): DataFrame = {
    val cc = connectedComponents(minhashLshPairs(docs, tau))
      .select(col("doc_id"), col("canonical_id").as("cluster_id"))
    val q = TextAnalysis.stats(docs).select(col("doc_id"),
      r4(col("quality_score")).as("quality_score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("quality_score").desc, col("doc_id"))
    cc.join(q, "doc_id")
      .withColumn("rn", row_number().over(w))
      .select(col("doc_id"), col("cluster_id"), col("quality_score"),
        (col("rn") === 1).as("keep"))
  }

  /** Leakage-safe train/val/test split: assign each document to a split by
    * the salted hash of its near-dup CLUSTER id, not its own id, so every
    * member of a cluster lands in the SAME split. A per-doc split (
    * [[graft.operators.Sampling.splitBy]] on doc_id) leaks near-duplicates
    * of training docs into eval — the contamination mode cluster-aware
    * splitting exists to prevent. Clusters come from the same
    * LSH→connected-components pass as [[dedupCorpus]]; singletons (docs in
    * no cluster) fall back to their own id via coalesce, preserving
    * splitBy's disjoint+exhaustive cuts. Plan: one keyed left join of the
    * corpus against the (≤ corpus-sized, usually far smaller) cluster
    * membership, then pure-codegen split assignment — no new shuffle shape
    * beyond the dedup pass itself. */
  def leakageSafeSplit(docs: DataFrame, tau: Double, salt: String,
      cuts: Seq[(String, Double)]): DataFrame = {
    val cc = connectedComponents(minhashLshPairs(docs, tau))
      .select(col("doc_id"), col("canonical_id").as("cluster_id"))
    docs.select(col("doc_id"))
      .join(cc, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .select(col("doc_id"), col("cluster_id"),
        Sampling.splitBy(col("cluster_id"), salt, cuts).as("split"))
  }

  /** Duplicate-discounted sampling: keep each document with probability
    * `rate / |cluster|`, so every near-dup cluster contributes ~`rate`
    * expected documents regardless of how many times its content was
    * crawled — the soft alternative to hard dedup (hard dedup keeps
    * exactly one member and loses natural duplication signal; plain
    * sampling over-represents heavily-duplicated boilerplate by its copy
    * count). Deterministic: the per-doc decision is the salted 16-bit
    * bucket of doc_id against `floor(round(rate·65536) / |cluster|)` —
    * pure integer math, reproducible across engines and runs, and
    * singletons degrade exactly to [[Sampling.sampledBy]] at `rate`.
    * Plan: the LSH→CC pass, a cluster-size count over the (small) cluster
    * membership, two keyed joins back to the corpus, codegen filter. */
  def dedupWeightedSample(docs: DataFrame, tau: Double, salt: String,
      rate: Double): DataFrame = {
    require(rate > 0 && rate <= 1, "rate must be in (0, 1]")
    val t0 = math.round(rate * 65536).toDouble
    val cc = connectedComponents(minhashLshPairs(docs, tau))
      .select(col("doc_id"), col("canonical_id").as("cluster_id"))
    val sizes = cc.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    docs.select(col("doc_id"))
      .join(cc, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      .join(sizes, Seq("cluster_id"), "left")
      .withColumn("cluster_size", coalesce(col("cluster_size"), lit(1L)))
      .filter(Sampling.hashBucket(col("doc_id"), salt) <
        floor(lit(t0) / col("cluster_size")))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"))
  }

  /** Cross-source duplication matrix: how many near-dup pairs exist
    * between each unordered pair of sources, and how similar they are on
    * average — the corpus diagnostic that shows WHICH feeds copy from
    * which (mirror sites, syndication, self-duplication within a crawl).
    * Pairs come from the same LSH pass as [[dedupCorpus]]; two keyed
    * joins attach each side's source, and the matrix aggregate is
    * O(|sources|²). The mean similarity is computed over integer
    * 4-dp-quantized jaccards (floor(j·10⁴+0.5)), so the sum is
    * order-independent and engine-stable. */
  def dupSourceMatrix(docs: DataFrame, tau: Double): DataFrame = {
    val pairs = minhashLshPairs(docs, tau)
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .join(src.withColumnsRenamed(Map("doc_id" -> "doc_a", "source" -> "source_a")), "doc_a")
      .join(src.withColumnsRenamed(Map("doc_id" -> "doc_b", "source" -> "source_b")), "doc_b")
      .select(least(col("source_a"), col("source_b")).as("source_x"),
        greatest(col("source_a"), col("source_b")).as("source_y"),
        floor(col("jaccard") * 10000 + lit(0.5)).cast("long").as("j4"))
      .groupBy("source_x", "source_y")
      .agg(count(lit(1)).as("n_pairs"),
        (floor(sum(col("j4")) / count(lit(1)).cast("double") + lit(0.5)) / 10000)
          .as("avg_jaccard"))
  }

  /** Incremental near-dup dedup: screen an incoming BATCH of documents
    * against the EXISTING corpus (and against itself) — the shape every
    * continuously-ingesting training pipeline runs per crawl snapshot,
    * rather than re-deduping the whole corpus.
    *
    * Candidates come from the same MinHash band buckets as
    * [[minhashLshPairs]], but the join is CROSS-SET: batch bands against
    * (corpus ∪ earlier-batch) bands, so the corpus side is never self-joined
    * — at 100 TB the corpus signature table is the big side and stays
    * partitioned by band key while the batch is the small probe. Matches are
    * verified with exact Jaccard ≥ tau on candidates only.
    *
    * Decision per batch doc (deterministic, first-wins by id — NOT
    * transitive closure, same contract as the reference's ON CONFLICT DO
    * NOTHING): `dup_of_corpus` if any corpus doc matches (match_id = lowest
    * such corpus id), else `dup_in_batch` if a lower-id batch doc matches,
    * else `kept`. */
  def incremental(docs: DataFrame, batchPred: org.apache.spark.sql.Column,
      tau: Double, n: Int = 3): DataFrame = {
    val flagged = docs.withColumn("_is_batch", batchPred)
    // one tokenize→md5 pass feeds signatures, verification, and the report
    val idx = shingleIndex(flagged, n).materialize // multi-consumer: see minhashLshPairs
    val sig = minhashSignaturesFromIndex(idx)
      .join(flagged.select(col("doc_id"), col("_is_batch")), "doc_id")
      .materialize // narrow per-doc row; reused by both join sides
    val bands = bandsOf(sig, extra = Seq("_is_batch"))
    val probe = bands.filter(col("_is_batch"))
    // other side: corpus docs always; batch docs only with a smaller id
    val cand = probe.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.x") === col("b.x") &&
          col("a.y") === col("b.y") && col("a.doc_id") =!= col("b.doc_id") &&
          (!col("b._is_batch") || col("b.doc_id") < col("a.doc_id")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val verified = verifyJaccard(cand, idx, tau) // doc_a = batch doc
      .join(flagged.select(col("doc_id").as("doc_b"), col("_is_batch").as("b_batch")),
        "doc_b")
    val perDoc = verified.groupBy(col("doc_a").as("doc_id")).agg(
      min(when(!col("b_batch"), col("doc_b"))).as("corpus_match"),
      min(when(col("b_batch"), col("doc_b"))).as("batch_match"),
      count(when(!col("b_batch"), lit(1))).as("n_corpus_matches"),
      count(when(col("b_batch"), lit(1))).as("n_batch_matches"))
    // report every batch doc with ≥ 1 shingle (the screenable population)
    val batchDocs = idx.join(flagged.filter(col("_is_batch")).select("doc_id"), "doc_id")
      .select("doc_id").distinct()
    batchDocs.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("corpus_match").isNotNull, lit("dup_of_corpus"))
          .when(col("batch_match").isNotNull, lit("dup_in_batch"))
          .otherwise(lit("kept")).as("status"),
        coalesce(col("corpus_match"), col("batch_match")).as("match_id"),
        coalesce(col("n_corpus_matches"), lit(0L)).as("n_corpus_matches"),
        coalesce(col("n_batch_matches"), lit(0L)).as("n_batch_matches"))
  }

  /** Near-duplicate DECONTAMINATION: flag training documents that are a
    * near-copy of an eval/benchmark document. The exact n-gram screen
    * ([[Decontamination]]) catches verbatim inclusion; this catches the
    * reworded/truncated/boilerplate-shifted contamination mode that exact
    * grams miss — whole-document shingle-set Jaccard ≥ tau against the
    * eval set, the document-level analog of published LM contamination
    * analyses.
    *
    * Same MinHash band machinery as [[minhashLshPairs]] but the candidate
    * join is CROSS-SET (training bands probe eval bands), so the corpus is
    * never self-joined: at 100 TB the eval side is a benchmark suite —
    * thousands of documents, a broadcast-sized band table — and candidate
    * generation is a broadcast semi-probe over one corpus scan. Candidates
    * are verified with exact Jaccard on the shingle index (work ∝
    * candidates × shingles, bounded by the tiny eval side).
    *
    * Output: one row per CONTAMINATED training doc — (doc_id, eval_match =
    * the eval doc with the highest 4dp Jaccard, ties to the lowest eval
    * id; max_jaccard; n_eval_matches). Clean docs are absent (the keep
    * list is an anti-join away), eval docs are never reported. */
  def fuzzyDecontaminate(docs: DataFrame, evalPred: Column, tau: Double,
      n: Int = 3): DataFrame = {
    val flagged = docs.withColumn("_is_eval", evalPred)
    // one tokenize→md5 pass feeds signatures and verification
    val idx = shingleIndex(flagged, n).materialize // multi-consumer: see minhashLshPairs
    val sig = minhashSignaturesFromIndex(idx)
      .join(flagged.select(col("doc_id"), col("_is_eval")), "doc_id")
      .materialize
    val bands = bandsOf(sig, extra = Seq("_is_eval"))
    fuzzyScreenBands(bands.filter(!col("_is_eval")),
      bands.filter(col("_is_eval")), idx, tau)
  }

  /** Two-frame variant of [[fuzzyDecontaminate]] for COMPOSED pipelines:
    * the eval set arrives as its own frame, independent of whatever
    * gates/dedup the training side has been through. The single-frame
    * form is eval-blind under composition — an upstream near-dup pass
    * that collapsed a training doc with its eval near-copy and dropped
    * the EVAL doc leaves the surviving near-copy invisible to a screen
    * over the surviving frame alone (ADVICE r15: the effective window
    * collapses to tau_screen ≤ J < tau_dedup, missing the most-verbatim
    * contamination). Callers pass the RAW eval docs; doc_ids must be
    * DISJOINT between the two frames (asserted — a shared id would
    * silently merge both sides' shingle sets in the verify index). */
  def fuzzyDecontaminateDocs(trainDocs: DataFrame, evalDocs: DataFrame,
      tau: Double, n: Int = 3): DataFrame = {
    val tIdx = shingleIndex(trainDocs, n).materialize
    val eIdx = shingleIndex(evalDocs, n).materialize
    val tBands = bandsOf(minhashSignaturesFromIndex(tIdx))
    val eBands = bandsOf(minhashSignaturesFromIndex(eIdx))
    require(tIdx.select(col("doc_id")).distinct()
        .join(eIdx.select(col("doc_id")).distinct(), "doc_id").isEmpty,
      "fuzzyDecontaminateDocs: train and eval doc_ids must be disjoint")
    fuzzyScreenBands(tBands, eBands, tIdx.unionByName(eIdx), tau)
  }

  /** The ingest-time form of [[fuzzyDecontaminateDocs]]: a
    * [[graft.streaming.StreamGate]] gate screening each micro-batch
    * against the FIXED eval set, whose shingle index and band table are
    * built once here (a benchmark suite is thousands of docs; both
    * broadcast). Each batch is one cross-set band probe + candidate
    * verify, and a doc's report depends only on (doc, eval set), so
    * stream == batch regardless of micro-batch boundaries.
    *
    * CONTRACT: stream doc_ids must be DISJOINT from eval doc_ids — the
    * verify step unions both sides' shingle indexes, so a shared id would
    * silently merge the two documents' shingle sets and corrupt every
    * Jaccard it participates in. Asserted per batch (one broadcast
    * semi-probe against the benchmark-sized eval id set; limit-1 action). */
  def fuzzyDecontamGate(evalDocs: DataFrame,
      tau: Double): (DataFrame, Long) => DataFrame = {
    val evalIdx = shingleIndex(evalDocs).materialize
    val evalIds = evalIdx.select(col("doc_id")).distinct().materialize
    val evalBands = bandsOf(minhashSignaturesFromIndex(evalIdx)).materialize
    (mb, batchId) => {
      val batchIdx = shingleIndex(mb).materialize
      require(batchIdx.select(col("doc_id")).distinct()
          .join(broadcast(evalIds), "doc_id").isEmpty,
        s"batch $batchId carries doc_ids that collide with the eval set " +
          "— stream and eval ids must be disjoint")
      fuzzyScreenBands(bandsOf(minhashSignaturesFromIndex(batchIdx)),
        evalBands, batchIdx.unionByName(evalIdx), tau)
    }
  }

  /** Core of the fuzzy screen, shared with the streaming gate: candidate
    * cross-set band join (probe docs × eval docs — never a self-join) →
    * exact-Jaccard verify on `idx` (which must cover BOTH sides' doc_ids)
    * → per-probe-doc best-match report. jaccard is 4dp-floored by
    * verifyJaccard, so the arg-max ordering (and its ties) is identical
    * in any engine computing the same quantized value. */
  private[graft] def fuzzyScreenBands(probeBands: DataFrame,
      evalBands: DataFrame, idx: DataFrame, tau: Double): DataFrame = {
    val cand = probeBands.as("a")
      .join(evalBands.as("b"),
        col("a.band") === col("b.band") && col("a.x") === col("b.x") &&
          col("a.y") === col("b.y"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val verified = verifyJaccard(cand, idx, tau)
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_a"))
    val best = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_a"))
      .orderBy(col("jaccard").desc, col("doc_b"))
    verified
      .withColumn("rn", row_number().over(best))
      .withColumn("n_eval_matches", count(lit(1)).over(byDoc))
      .filter(col("rn") === 1)
      .select(col("doc_a").as("doc_id"), col("doc_b").as("eval_match"),
        col("jaccard").as("max_jaccard"), col("n_eval_matches"))
  }

  /** One micro-batch step of CONTINUOUS near-dup screening — the streaming
    * decomposition of [[incremental]]: screen a batch's shingle index
    * against a flagged reference index (corpus docs + stream docs admitted
    * in earlier micro-batches) plus the batch's own smaller ids.
    *
    * `refIdx` carries (doc_id, h, is_corpus): is_corpus=true rows produce
    * `dup_of_corpus` decisions, is_corpus=false rows (earlier stream docs)
    * produce `dup_in_batch` — exactly how [[incremental]] classifies them
    * when the whole stream is screened as one batch, so feeding id-ordered
    * micro-batches through this step reproduces the batch report
    * bit-for-bit (StreamDedupSpec pins it). Decision contract is
    * arrival-order first-wins, the streaming analog of incremental's
    * id-order (an online screener never re-opens the past — late
    * out-of-order ids get the batch detector, like CusumMonitor).
    *
    * Scale shape: the reference index is the big side and stays
    * partitioned by its keys; the batch is the small probe. Nothing here
    * is ever self-joined corpus×corpus. */
  def screenBatch(refIdx: DataFrame, batchIdx: DataFrame, tau: Double): DataFrame = {
    val idx = refIdx
      .select(col("doc_id"), col("h"), col("is_corpus"), lit(false).as("_is_batch"))
      .unionByName(batchIdx.select(col("doc_id"), col("h"),
        lit(false).as("is_corpus"), lit(true).as("_is_batch")))
      .materialize
    val flags = idx.select(col("doc_id"), col("is_corpus"), col("_is_batch")).distinct()
    val sig = minhashSignaturesFromIndex(idx.select(col("doc_id"), col("h")))
      .join(flags, "doc_id")
      .materialize
    val bands = sig.select(col("doc_id"), col("is_corpus"), col("_is_batch"),
      explode(expr(
        (0 until MinHashK / 2)
          .map(bd => s"struct(${bd} AS band, mh${2 * bd} AS x, mh${2 * bd + 1} AS y)")
          .mkString("array(", ", ", ")"))).as("bb"))
      .select(col("doc_id"), col("is_corpus"), col("_is_batch"),
        col("bb.band"), col("bb.x"), col("bb.y"))
    val probe = bands.filter(col("_is_batch"))
    // reference docs always eligible; same-batch docs only with smaller id
    val cand = probe.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.x") === col("b.x") &&
          col("a.y") === col("b.y") && col("a.doc_id") =!= col("b.doc_id") &&
          (!col("b._is_batch") || col("b.doc_id") < col("a.doc_id")))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val verified = verifyJaccard(cand, idx.select(col("doc_id"), col("h")), tau)
      .join(flags.select(col("doc_id").as("doc_b"), col("is_corpus").as("b_corpus")),
        "doc_b")
    val perDoc = verified.groupBy(col("doc_a").as("doc_id")).agg(
      min(when(col("b_corpus"), col("doc_b"))).as("corpus_match"),
      min(when(!col("b_corpus"), col("doc_b"))).as("batch_match"),
      count(when(col("b_corpus"), lit(1))).as("n_corpus_matches"),
      count(when(!col("b_corpus"), lit(1))).as("n_batch_matches"))
    val batchDocs = batchIdx.select(col("doc_id")).distinct()
    batchDocs.join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("corpus_match").isNotNull, lit("dup_of_corpus"))
          .when(col("batch_match").isNotNull, lit("dup_in_batch"))
          .otherwise(lit("kept")).as("status"),
        coalesce(col("corpus_match"), col("batch_match")).as("match_id"),
        coalesce(col("n_corpus_matches"), lit(0L)).as("n_corpus_matches"),
        coalesce(col("n_batch_matches"), lit(0L)).as("n_batch_matches"))
  }

  /** 60-bit SimHash over distinct 3-gram shingles (majority vote per bit).
    * Shingles, not unigrams: with a small vocabulary every document shares
    * most unigrams, collapsing unigram SimHashes together; word 3-grams
    * keep near-dups at Hamming ≤ ~10 while unrelated docs sit ≥ ~13. */
  def simhash(docs: DataFrame): DataFrame = {
    // native generator (r19): per-doc md5-distinct 3-gram hash60s in one
    // linear pass. The per-bit vote counts one row per DISTINCT gram —
    // the md5-keyed dedup equals the former array_distinct-on-strings
    // unless two distinct grams of one doc collide in full md5 (strictly
    // finer than the 60-bit space the vote itself lives in; oracle-pinned
    // at all three SFs).
    val tokHash = docs.select(col("doc_id"),
      explode(graft.functions.TokenGrams.tokenGramHash60(
        col("text"), Seq(3), distinct = true)).as("h"))
    // 60 per-bit ±1 sums as ONE aggregation (partial/map-side combinable):
    // the naive shape — explode 60 bit indices per hash then groupBy
    // (doc_id, bit) — shuffles 60× the index; this shuffles it once with a
    // 60-column payload
    val bitAggs = (0 until 60).map { i =>
      sum(when(expr(s"shiftright(h, $i) & 1") === 1, 1).otherwise(-1)).as(s"b$i")
    }
    val majority = (0 until 60)
      .map(i => when(col(s"b$i") >= 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)
    tokHash.groupBy("doc_id")
      .agg(bitAggs.head, bitAggs.tail: _*)
      .select(col("doc_id"), majority.cast("long").as("simhash"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxHam, blocked by a
    * prefix multi-index (the HmSearch / Manku-multi-index pigeonhole): the
    * 60-bit signature is split into B disjoint bands with B > maxHam, so a
    * pair within Hamming maxHam differs in at most maxHam bands and MUST
    * share at least one band verbatim. Candidates come from an equi-join on
    * (band_index, band_value) — a keyed shuffle, never a cartesian — and
    * the exact Hamming check runs only on candidates, so recall is 100%
    * (not probabilistic like MinHash bands). B = smallest divisor of 60
    * that exceeds maxHam. */
  def simhashPairs(docs: DataFrame, maxHam: Int): DataFrame = {
    val nBands = (1 to 60).find(b => 60 % b == 0 && b > maxHam)
      .getOrElse(throw new IllegalArgumentException(s"maxHam=$maxHam out of range"))
    val width = 60 / nBands
    val mask = (1L << width) - 1
    // one row per doc (doc_id, long) — materialize once; see minhashLshPairs
    val sh = simhash(docs).materialize
    val bands = sh.select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(nBands - 1))).as("band"))
      .select(col("doc_id"), col("simhash"), col("band"),
        expr(s"shiftright(simhash, CAST($width * band AS INT)) & ${mask}L").as("bkey"))
    bands.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxHam)
      .distinct()
  }

  /** Multi-index SimHash pairs — [[simhashPairs]]'s scale form, and still
    * EXACTLY complete. [[simhashPairs]] needs nBands > maxHam for its
    * pigeonhole (some band must be flip-free), which caps the per-band
    * key width at 60/(maxHam+1) bits — 2^15 buckets at maxHam = 3, so
    * past ~10⁶ docs bucket occupancy grows linearly and the verbatim
    * band join trends quadratic (the residual 1.1× per-SF entry in the
    * r10/r11 trend sweeps). Probing each band key's Hamming-≤1 ball
    * relaxes the pigeonhole to nBands ≥ ⌈(maxHam+1)/2⌉ — some band then
    * carries ≤ ⌊maxHam/nBands⌋ ≤ 1 flips and is found by a 1-bit probe —
    * so maxHam = 3 runs 2 bands of 30 bits: 2³⁰ buckets/band (occupancy
    * flat past 10¹⁰ docs) for a bounded 31-way probe explode on one join
    * side. Same mechanism as Similarity.dedupPairsLshMp, but here the
    * guarantee stays exact, so the emitted pair set is IDENTICAL to
    * [[simhashPairs]] and the two share one oracle. */
  def simhashPairsMp(docs: DataFrame, maxHam: Int): DataFrame = {
    val nBands = (1 to 60).find(b => 60 % b == 0 && 2 * b > maxHam)
      .getOrElse(throw new IllegalArgumentException(s"maxHam=$maxHam out of range"))
    val width = 60 / nBands
    val mask = (1L << width) - 1
    val sh = simhash(docs).materialize
    val bands = sh.select(col("doc_id"), col("simhash"),
        explode(sequence(lit(0), lit(nBands - 1))).as("band"))
      .select(col("doc_id"), col("simhash"), col("band"),
        expr(s"shiftright(simhash, CAST($width * band AS INT)) & ${mask}L").as("bkey"))
    // j = -1 probes the exact key; j in [0, width) flips bit j
    val probes = bands
      .withColumn("j", explode(sequence(lit(-1), lit(width - 1))))
      .withColumn("pkey", when(col("j") < 0, col("bkey"))
        .otherwise(expr("bkey ^ shiftleft(1L, j)")))
    probes.as("a")
      .join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.pkey") === col("b.bkey") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxHam)
      .distinct()
  }

  /** Linear-OUTPUT SimHash near-dup reporting: one row per duplicate
    * CLASS instead of Θ(k²) rows per width-k class. Pair enumeration's
    * wall time tracks emitted pairs (the r15 trend adjudication of the
    * q_simhash 30× flag: the plan added no candidate outside colliding
    * buckets — the OUTPUT SPEC was quadratic in class width), so at class
    * widths a crawl corpus actually produces (mirror farms, boilerplate
    * families with thousands of members) pair reporting is unshippable
    * while class reporting stays linear in corpus size. Candidates come
    * from the same exact multi-index banding as [[simhashPairsMp]] (100%
    * recall at Hamming ≤ maxHam — pigeonhole, not probabilistic), classes
    * from [[connectedComponents]] min-label propagation; the per-class
    * aggregate is one keyed shuffle over class MEMBERS (≤ corpus rows),
    * never over pairs. Output: one row per class with ≥ 2 members —
    * (class_id = member minimum, n_members, n_sources = distinct `source`
    * values among members, the mirror-farm signal). */
  def simhashClasses(docs: DataFrame, maxHam: Int): DataFrame =
    connectedComponents(simhashPairsMp(docs, maxHam))
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("canonical_id").as("class_id"))
      .agg(count(lit(1)).as("n_members"),
        countDistinct(col("source")).as("n_sources"))
}
