package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer training (the SentencePiece family: Kudo 2018,
  * "Subword Regularization") — the second trainable tokenizer next to
  * [[Bpe]], here in its deterministic hard-EM form: seed a substring
  * vocabulary from the corpus, then alternate Viterbi segmentation
  * (E-step over the BEST segmentation only) with count re-estimation and
  * size-targeted pruning (M-step). Hard EM makes every step an exact
  * integer/4dp-quantized computation both engines reproduce bit-for-bit,
  * which is what lets the DuckDB oracle mirror the whole loop as
  * materialized CTE layers (the BPE precedent).
  *
  * Scale shape (the same as [[Bpe]]'s, see [[Subword]]): the ONLY
  * corpus-sized pass is the distributed word count, collected once;
  * seeding and every EM round run in-process on that dictionary (a
  * tokenizer vocabulary is driver-sized by definition, 32k pieces at
  * deployment), and encoding Viterbi-segments the same held dictionary.
  *
  * Determinism contract (mirrored in the oracle):
  *  - words: whitespace tokens, 0 < length ≤ [[MaxWordLen]], bracket
  *    control chars excluded (as [[Bpe]]);
  *  - seed: all substrings of length 1..[[MaxPiece]] weighted by word
  *    count × multiplicity; vocab = ALL single chars + top `seedMulti`
  *    multi-char pieces by (weight DESC, piece ASC);
  *  - scores: lq(piece) = floor(ln(c/Σc) · 10⁴ + 0.5) as int64 — the
  *    repo's ln-at-4dp idiom (q_lm_score precedent), so Viterbi sums are
  *    exact integer arithmetic;
  *  - Viterbi: dp[j] = best over i ∈ [j−MaxPiece, j) with word[i,j) in
  *    vocab of dp[i] + lq; ties broken by SMALLEST i (longest final
  *    piece). Single-char coverage guarantees reachability;
  *  - M-step t: usage u = Σ word-count × piece uses; next vocab = all
  *    chars + top keep(t) multi-char pieces by (u DESC, piece ASC);
  *    next counts c = u + 1 (Laplace, so an unused char keeps a finite
  *    score).
  */
object Unigram {

  /** Longest seed piece (chars). */
  val MaxPiece = 4

  /** Words longer than this are excluded from training and encoding on
    * BOTH engines (bounds every Viterbi unroll, incl. the oracle's). */
  val MaxWordLen = 20

  /** The learned artifact: piece, its final-E-step usage, and its
    * quantized log-probability. */
  final case class Piece(piece: String, n_uses: Long, logp_q: Long)

  /** floor(ln(c / Σc) · 10⁴ + 0.5) per piece — exact int64 scores. */
  private def logq(vocab: Seq[(String, Long)]): Map[String, Long] = {
    val total = vocab.map(_._2).sum.toDouble
    vocab.map { case (p, c) =>
      p -> math.floor(math.log(c.toDouble / total) * 10000.0 + 0.5).toLong
    }.toMap
  }

  /** Exact Viterbi over one word's code points: max Σ lq, ties →
    * smallest split i (iterating i ascending with a strict `>` keeps the
    * first winner). Reachability is guaranteed by single-char coverage; a
    * char outside the vocabulary (impossible in a fit, which segments
    * only its own dictionary) fails loudly rather than silently skipping
    * the word. */
  private[graft] def viterbiPieces(word: String,
      lq: collection.Map[String, Long]): Seq[String] = {
    val cps = Subword.codePoints(word)
    val n = cps.length
    def piece(i: Int, j: Int): String = cps.slice(i, j).mkString
    val sc = Array.fill(n + 1)(Long.MinValue)
    val back = Array.fill(n + 1)(-1)
    sc(0) = 0L
    var j = 1
    while (j <= n) {
      var i = math.max(0, j - MaxPiece)
      while (i < j) {
        if (sc(i) != Long.MinValue) {
          lq.get(piece(i, j)) match {
            case Some(s) =>
              val cand = sc(i) + s
              if (cand > sc(j)) { sc(j) = cand; back(j) = i }
            case None =>
          }
        }
        i += 1
      }
      j += 1
    }
    require(sc(n) != Long.MinValue,
      s"Unigram.viterbi: word '$word' not coverable — a character is " +
        "missing from the vocabulary (single-char pieces are never pruned, " +
        "so these scores were fitted on another corpus)")
    val rev = collection.mutable.ArrayBuffer.empty[String]
    var p = n
    while (p > 0) { rev += piece(back(p), p); p = back(p) }
    rev.reverse.toList
  }

  private def isChar(p: String): Boolean = p.codePointCount(0, p.length) == 1

  /** The top `k` multi-char pieces by (weight DESC, piece ASC). */
  private def topMulti(w: Map[String, Long], k: Int): Seq[(String, Long)] =
    w.toSeq.filterNot(pu => isChar(pu._1))
      .sorted(Ordering.Tuple2(Ordering.Long, Subword.codePointOrder)
        .on[(String, Long)] { case (p, u) => (-u, p) })
      .take(k)

  /** Fit: seed → `keep.size` hard-EM iterations, pruning the multi-char
    * vocabulary to keep(t) pieces each round. The fitted table has one
    * row per final piece: (piece, n_uses, logp_q); a word's pieces are its
    * [[viterbiPieces]] under those scores. Words over [[MaxWordLen]] are
    * excluded by the dictionary contract, so the tokenizer has no defined
    * segmentation for them. Work shape: 1 corpus pass, collected once;
    * the seed weights and every EM round run in-process on that
    * dictionary. */
  def fit(docs: DataFrame, seedMulti: Int, keep: Seq[Int]): Subword.Tokenizer = {
    // zero EM rounds would leave lastUsage empty and die at lastUsage(p)
    // with an opaque NoSuchElementException — fail like the other
    // misconfigurations do (empty corpus, uncoverable word): loudly
    require(keep.nonEmpty,
      "Unigram.fit: keep must name at least one EM round " +
        "(each entry is that round's multi-char vocabulary size)")
    val spark = docs.sparkSession
    import spark.implicits._
    val wd = Subword.collectDict(docs, w => Subword.isWord(w) && length(w) <= MaxWordLen)
    // seed weights: every substring of length 1..MaxPiece, Σ cnt × multiplicity
    val seed = Subword.sumBy(wd.iterator.flatMap { case (w, c) =>
      val cps = Subword.codePoints(w)
      for (i <- cps.indices.iterator; l <- 1 to math.min(MaxPiece, cps.length - i))
        yield (cps.slice(i, i + l).mkString, c)
    })
    val chars: Seq[String] = seed.keys.filter(isChar).toSeq.sorted(Subword.codePointOrder)
    // an empty char set means NO word survived the wordDict filters — a
    // tokenizer trained on nothing is always a configuration error
    // (wrong column, over-aggressive MaxWordLen); fail loudly rather
    // than shipping an empty vocabulary that encode would then apply
    require(chars.nonEmpty,
      "Unigram.fit: no words survive the dictionary filters " +
        s"(0 < length <= $MaxWordLen, no bracket control chars) — " +
        "empty corpus or misconfigured input column")

    var vocab: Seq[(String, Long)] = chars.map(c => (c, seed(c))) ++ topMulti(seed, seedMulti)
    var lastUsage: Map[String, Long] = Map.empty
    keep.foreach { k =>
      val lq = logq(vocab)
      val usage = Subword.sumBy(wd.iterator.flatMap { case (w, c) =>
        viterbiPieces(w, lq).map(p => (p, c)) })
      val multiKept = topMulti(usage, k)
      lastUsage = chars.map(c => c -> usage(c)).toMap ++ multiKept
      vocab = chars.map(c => (c, usage(c) + 1L)) ++
        multiKept.map { case (p, u) => (p, u + 1L) }
    }
    val lqF = logq(vocab)
    val table = vocab.map { case (p, _) => Piece(p, lastUsage(p), lqF(p)) }
      .toDF("piece", "n_uses", "logp_q")
    Subword.Tokenizer(table, wd, viterbiPieces(_, lqF))
  }
}
