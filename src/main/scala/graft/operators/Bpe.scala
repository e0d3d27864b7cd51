package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Materialize.MatOps

/** Byte-pair-encoding merge training — tokenizer learning, the one
  * training-data-pipeline stage between curation and packing: learn the
  * `iters` highest-count symbol merges from the corpus (Sennrich et al.
  * 2016, "Neural Machine Translation of Rare Words with Subword Units").
  *
  * Scale shape (what makes this a Spark job at 100 TB): BPE trains on
  * the WORD-FREQUENCY DICTIONARY, not the raw corpus — the only
  * corpus-sized pass is one distributed word count; every merge
  * iteration then runs on the vocabulary-sized dict. The per-iteration
  * best-pair fetch is a one-row driver read of an aggregate over that
  * tiny dict — the same bounded-scalar pattern as the PageRank/CC
  * convergence probes, not a data collect.
  *
  * Determinism contract (mirrored in the DuckDB oracle):
  *  - symbol sequences are encoded as \u0001 sym \u0002 bracketed strings,
  *    so the greedy leftmost-non-overlapping merge is a plain string
  *    `replace` with IDENTICAL semantics in both engines: brackets make
  *    "a b a b" merge to "[ab][ab]" (consecutive pairs both merge) and
  *    "a a a" to "[aa][a]" (overlap resolved leftmost), exactly like
  *    the reference token-list fold;
  *  - best pair per iteration by (count DESC, left ASC, right ASC);
  *  - counts are exact integer sums of word frequencies.
  */
object Bpe {

  // symbol brackets: control chars that cannot occur in corpus text
  // (written as escapes so the source stays clean text for git/grep)
  private val L = "\u0001"
  private val R = "\u0002"

  private def bracketed(word: Column): Column =
    concat_ws("", transform(
      sequence(lit(1), length(word)),
      i => concat(lit(L), word.substr(i, lit(1)), lit(R))))

  private def symbols(seq: Column): Column =
    regexp_extract_all(seq, lit(s"$L([^$R]+)$R"), lit(1))

  private def wordDict(docs: DataFrame): DataFrame =
    docs.select(explode(TextAnalysis.tokens(col("text"))).as("word"))
      // drop empty words AND any word carrying the reserved bracket
      // control chars — unguarded, such a word would corrupt symbol
      // parsing for every merge (mirrored in the oracle's wc filter)
      .filter(length(col("word")) > 0 &&
        !col("word").contains(L) && !col("word").contains(R))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .withColumn("seq", bracketed(col("word")))

  private def mergeSeq(seq: Column, a: String, b: String): Column =
    call_function("replace", seq, lit(L + a + R + L + b + R), lit(L + a + b + R))

  /** Candidates fetched per pair-count refresh (driver rows; tiny). */
  private val BatchFetch = 256

  /** Vocabulary-sized parallelism for the iterative dict: one partition
    * per 10k dictionary words (min 1). The refresh loop runs O(vocab)
    * work per round but ~iters rounds — with the session's 32 shuffle
    * partitions a 50k-word dict pays 32 task launches × ~60 refreshes of
    * pure scheduling overhead, while ONE partition serializes the
    * per-refresh symbol-split CPU; 10k words/partition keeps both small
    * (measured on sf0.1: 32→5 partitions ≈ −20% train time, 1 partition
    * gives half of that back). Applied with coalesce on the already-
    * materialized dict (narrow, no shuffle), and localCheckpoint
    * preserves the partition count across rounds. */
  private def dictParts(vocab: Long): Int = (vocab / 10000L + 1L).toInt

  /** Materialize the freshly-built word dict once, then size its
    * parallelism to its measured row count (count on a materialized
    * frame is a cheap single-stage job, not a second corpus pass). */
  private def sizedDict(docs: DataFrame): DataFrame = {
    val d = wordDict(docs).materialize
    d.coalesce(dictParts(d.count()))
  }

  /** Accept a prefix of the count-ordered candidates that SEQUENTIAL
    * greedy BPE would provably pick in the same order, so multiple
    * merges ride one pair-count refresh. Rules (exactness argument in
    * [[trainMerges]]'s scaladoc): a candidate is accepted while it is
    * symbol-disjoint from everything accepted so far — including every
    * accepted MERGED symbol — AND its count is strictly above the stop
    * threshold: the first conflicting candidate's count (or, when the
    * fetch was truncated with no conflict, the last fetched count,
    * since unseen pairs can be anywhere at or below it). The head
    * candidate is always safe: it IS the greedy choice.
    *
    * Three acceptance rules exist because the plain-disjointness
    * argument has holes the 512-merge plateau A/B (SCALE.md, "BPE at
    * ≥512 merges") caught live, plus one it could not have (the vocab-collision close, found
    * by review — BpeSpec pins a constructed corpus for it):
    *  - a SELF-merge (a,a) creates the brand-new pair (aa,aa), whose
    *    count is bounded only by the self-merge's OWN count — far above
    *    the conflict bound — so sequential greedy can pick it next,
    *    ahead of anything else in the batch (observed: (a,a,15079)
    *    then batched (α,z,1731) vs sequential (aa,aa,6002)). A
    *    self-merge therefore CLOSES the batch at its own count;
    *  - the merged symbol a+b can COLLIDE with an existing symbol, and
    *    merging then GROWS existing (x,ab)-shaped pair counts past
    *    their ranked values — so accepted merged symbols join the
    *    disjointness set like lefts and rights;
    *  - the same collision against a symbol z = a+b that PRE-DATES the
    *    batch (an earlier refresh's merge) is worse: an unscanned
    *    pre-existing pair (w,z) with count ≤ bound can GROW by up to
    *    bound (each new (w,z) adjacency was a (w,a) adjacency), so its
    *    post-merge count can reach 2·bound — above a mid-batch accepted
    *    candidate in (bound, 2·bound], which sequential greedy would
    *    then defer. When an accepted candidate's a+b is already in the
    *    vocabulary, CLOSE the batch at that candidate's own count (the
    *    candidate itself is still safe: within its batch nothing after
    *    it is accepted, and the next refresh recounts).
    *
    * Reachability of the third rule: for non-self-overlapping symbols
    * it is provably dead code — two FREE occurrences of the same char
    * span segment identically at every point in training (induction
    * over the global merge order; a boundary-crossing outside merge
    * makes a span permanently non-free and non-exactly-coverable), so
    * an [a][b] segmentation cannot coexist with a span already fused to
    * [a+b]; and the self-overlapping run cases ((aa,aa) etc.) collapse
    * into the self-merge close. It is kept as insurance because the
    * bit-exactness contract is load-bearing and the check is O(1) per
    * accepted candidate; BpeSpec pins the mechanism at the unit level. */
  private[graft] def acceptBatch(top: Seq[(String, String, Long)],
      maxN: Int, vocab: String => Boolean = _ => false): Seq[(String, String, Long)] = {
    val used = scala.collection.mutable.Set.empty[String]
    val prefix = Seq.newBuilder[(String, String, Long)]
    var conflictCount = Option.empty[Long]
    var n = 0
    val it = top.iterator
    while (conflictCount.isEmpty && n < maxN && it.hasNext) {
      val c @ (a, b, cnt) = it.next()
      if (used(a) || used(b) || used(a + b)) conflictCount = Some(cnt)
      else {
        prefix += c; used += a; used += b; used += a + b; n += 1
        // a self-merge's (aa,aa) twin is bounded only by cnt itself,
        // and a merged symbol colliding with the EXISTING vocabulary
        // can grow unscanned (w,a+b) pairs past the conflict bound:
        // nothing after either can be proven safe — close the batch
        // (the head survives the strict cut via the take(1) exemption;
        // a mid-batch closer is cut and re-picked next refresh)
        if (a == b || vocab(a + b)) conflictCount = Some(cnt)
      }
    }
    // every pair whose count the accepted merges can change (or create)
    // is bounded by the first conflicting candidate — or, when the scan
    // stopped at maxN with candidates left, by the next unscanned count
    // (an unscanned conflict's MERGED symbol can outsort a later
    // accepted pair at a tied count: head (a,z) + accepted (c,d,9) +
    // unscanned (z,x,9) makes sequential greedy pick (az,x) over (c,d)
    // because "az" < "c") — or, with no conflict but a truncated fetch,
    // by the last fetched count
    val bound = conflictCount.getOrElse(
      if (it.hasNext) it.next()._3
      else if (top.size >= BatchFetch) top.last._3 else Long.MinValue)
    val all = prefix.result()
    // counts are descending, so the strict-threshold cut is a prefix;
    // the head is exempt — it IS the sequential greedy choice
    all.take(1) ++ all.drop(1).takeWhile(_._3 > bound)
  }

  /** Learned merge table: (iter 1.., left_sym, right_sym, merged,
    * pair_count) — up to `iters` rows, the artifact a tokenizer ships.
    * Stops early (returning the merges learned so far) if the dictionary
    * runs out of mergeable pairs — a tiny corpus can reduce every word
    * to a single symbol before `iters` is reached.
    *
    * BIT-EXACT batched refresh: each Spark round computes one
    * pair-count aggregate and may commit SEVERAL merges from it, yet
    * the produced merge table is identical to one-merge-per-round
    * greedy (property-pinned in BpeSpec against the sequential
    * reference, and by the unchanged one-layer-per-merge DuckDB
    * oracle). Why it is exact: merging (a,b) only changes counts of
    * pairs sharing a or b, and any pair it CREATES — (x,ab), (ab,y),
    * (ab,cd) — is count-bounded by a pre-existing pair involving a or
    * b. Scanning candidates in (count desc, left, right) order and
    * stopping at the first candidate that touches an accepted symbol
    * therefore guarantees: counts of accepted candidates are invariant
    * under the accepted merges (mutual disjointness), and every
    * not-yet-visible pair is bounded by the stop candidate's count, so
    * demanding accepted counts STRICTLY above it (ties could reorder
    * under the lexicographic tie-break) means sequential greedy would
    * pick exactly this prefix in exactly this order. Driver rounds
    * drop from `iters` to the refresh count. Measured honestly: the
    * synthetic corpus's greedy sequence is CASCADE-dominated (each best
    * pair extends the symbol the previous merge built, so consecutive
    * candidates share a symbol) — 61 refreshes for 64 merges, batches
    * of 1–3, and A/B timing vs the sequential loop is identical within
    * host noise. The win case is flat plateaus of symbol-DISJOINT
    * near-tie pairs (the shape of a real Zipfian vocabulary's early
    * merge rounds); the mechanism costs one take(256) instead of
    * take(1) per refresh, i.e. nothing. */
  def trainMerges(docs: DataFrame, iters: Int): DataFrame =
    trainMergesStats(docs, iters)._1

  /** [[trainMerges]] plus its refresh count (Spark rounds actually run),
    * and a `batched = false` mode forcing one merge per refresh — the
    * sequential-greedy reference the batched mode must match bit for bit
    * (BpeSpec) and the A/B baseline for the ≥512-merge amortization
    * measurement (SCALE.md, "BPE at ≥512 merges"). */
  private[graft] def trainMergesStats(docs: DataFrame, iters: Int,
      batched: Boolean = true): (DataFrame, Int) = {
    require(iters >= 1, "iters must be >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    var dict = sizedDict(docs).select("cnt", "seq")
    val rows = Seq.newBuilder[(Long, String, String, String, Long)]
    // merged symbols committed by EARLIER refreshes — the existing
    // vocabulary acceptBatch's collision close checks against. Initial
    // symbols are single characters, and a candidate's a+b is always
    // ≥ 2 chars, so prior merge outputs are the only possible collisions.
    val vocab = scala.collection.mutable.Set.empty[String]
    var it = 1
    var exhausted = false
    var sinceMat = 0 // merges since the last lineage truncation
    var refreshes = 0
    while (it <= iters && !exhausted) {
      val top = dict
        .withColumn("syms", symbols(col("seq")))
        .select(col("cnt"), explode(expr(
          // the size<2 guard matters: sequence(1, 0) is DESCENDING in
          // Spark, so a single-symbol word would index syms[2] (ANSI
          // error) instead of producing no pairs
          """CASE WHEN size(syms) < 2 THEN array()
            |ELSE transform(sequence(1, size(syms) - 1),
            |  i -> struct(element_at(syms, CAST(i AS INT)) AS l,
            |              element_at(syms, CAST(i + 1 AS INT)) AS r)) END""".stripMargin))
          .as("p"))
        .groupBy(col("p.l").as("left_sym"), col("p.r").as("right_sym"))
        .agg(sum(col("cnt")).as("pair_count"))
        .orderBy(col("pair_count").desc, col("left_sym"), col("right_sym"))
        .take(BatchFetch)
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      refreshes += 1
      if (top.isEmpty) exhausted = true // every word is one symbol
      else {
        val batch = acceptBatch(top, maxN = if (batched) iters - it + 1 else 1,
          vocab = vocab)
        val merged = batch.foldLeft(col("seq")) { case (seqCol, (a, b, _)) =>
          mergeSeq(seqCol, a, b)
        }
        dict = dict.withColumn("seq", merged)
        batch.foreach { case (a, b, pc) =>
          rows += ((it.toLong, a, b, a + b, pc)); it += 1; vocab += (a + b)
        }
        // truncate the iterative lineage every EncodeMaterializeEvery
        // merges (same cadence as encode), not every refresh: between
        // boundaries each refresh recomputes ≤ K chained replaces over
        // the vocabulary-sized dict — trivial CPU — while HALVING the
        // driver-bound job count (the refresh loop's real cost: ~60
        // sequential rounds of fixed job-launch latency)
        sinceMat += batch.size
        if (sinceMat >= EncodeMaterializeEvery) {
          dict = dict.materialize
          sinceMat = 0
        }
      }
    }
    (rows.result().toDF("iter", "left_sym", "right_sym", "merged", "pair_count"),
      refreshes)
  }

  /** How many chained `replace` merges [[encode]] stacks into one plan
    * before forcing a materialization. Without the cadence, a real 32k-
    * merge vocabulary would nest 32k replace calls into ONE expression
    * tree and die in analysis/codegen long before any data moves; with
    * it, plan depth is bounded by the constant while the dictionary
    * (vocabulary-sized, not corpus-sized) is re-materialized every
    * `EncodeMaterializeEvery` merges — the same cadence trainMerges
    * uses for its own iterative lineage. Pinned in BpeSpec. */
  val EncodeMaterializeEvery = 16

  /** Tokenize with a learned merge table: apply the merges in training
    * order to each DISTINCT word (dictionary-sized work, like training),
    * then report exact per-token corpus counts — the "how would the
    * corpus tokenize" view, and the subword-vocabulary artifact. */
  def encode(docs: DataFrame, merges: DataFrame): DataFrame =
    applyMerges(docs, merges)
      .withColumn("token", explode(symbols(col("seq"))))
      .groupBy("token").agg(sum(col("cnt")).as("n"))

  /** The docs' word dictionary with every merge applied, in training
    * order: (word, cnt, seq) — shared by [[encode]] (corpus subword
    * counts) and [[wordPieces]] (per-word piece counts). */
  private def applyMerges(docs: DataFrame, merges: DataFrame): DataFrame = {
    val ms = merges.orderBy("iter").collect() // merge-table rows: tiny
    ms.zipWithIndex.foldLeft(sizedDict(docs)) {
      case (d, (m, i)) =>
        val next = d.withColumn("seq",
          mergeSeq(col("seq"), m.getString(1), m.getString(2)))
        if ((i + 1) % EncodeMaterializeEvery == 0 && i + 1 < ms.length)
          next.materialize
        else next
    }
  }

  /** Per-word subword piece counts under a trained merge table:
    * (word, n_pieces). Dictionary-sized output. */
  def wordPieces(docs: DataFrame, merges: DataFrame): DataFrame =
    applyMerges(docs, merges)
      .select(col("word"), size(symbols(col("seq"))).cast("long").as("n_pieces"))

  /** Tokenizer FERTILITY report per (source, lang) stratum — the standard
    * post-training eval of a subword tokenizer (how many pieces a word
    * costs, and how many characters a piece buys, per language/domain):
    * multilingual corpora surface fertility DISPARITY here (strata the
    * merges under-served tokenize long), which is exactly what this
    * report exists to catch before a tokenizer ships.
    *
    * Shape at scale: the per-word piece table is dictionary-sized; the
    * corpus side is one explode collapsed to (stratum, word, k) and a
    * word-keyed equi-join (AQE broadcasts the dictionary when it fits).
    * Ratios are exact integer sums divided once, 4dp-rounded. */
  def fertility(docs: DataFrame, merges: DataFrame): DataFrame =
    fertilityReport(docs, wordPieces(docs, merges))

  /** The stratified fertility aggregation over ANY tokenizer's per-word
    * piece table — shared by the BPE and Unigram reports (same corpus
    * side, same ratios; only `wp` differs). */
  private[operators] def fertilityReport(docs: DataFrame,
      wp: DataFrame): DataFrame = {
    val r4 = (c: Column) => floor(c * lit(10000) + lit(0.5)) / lit(10000)
    val dw = docs
      .select(col("source"), col("lang"),
        explode(TextAnalysis.tokens(col("text"))).as("word"))
      .filter(length(col("word")) > 0 &&
        !col("word").contains(L) && !col("word").contains(R))
      .groupBy(col("source"), col("lang"), col("word"))
      .agg(count(lit(1)).as("k"))
    dw.join(wp, "word")
      .groupBy(col("source"), col("lang"))
      .agg(sum(col("k")).as("n_words"),
        sum(col("k") * col("n_pieces")).as("n_pieces"),
        sum(col("k") * length(col("word")).cast("long")).as("n_word_chars"))
      .select(col("source"), col("lang"), col("n_words"), col("n_pieces"),
        col("n_word_chars"),
        r4(col("n_pieces").cast("double") / col("n_words")).as("fertility"),
        r4(col("n_word_chars").cast("double") / col("n_pieces"))
          .as("chars_per_piece"))
  }
}
