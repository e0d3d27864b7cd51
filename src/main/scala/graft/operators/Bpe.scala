package graft.operators

import org.apache.spark.sql.DataFrame

/** Byte-pair-encoding merge training — tokenizer learning, the one
  * training-data-pipeline stage between curation and packing: learn the
  * `iters` highest-count symbol merges from the corpus (Sennrich et al.
  * 2016, "Neural Machine Translation of Rare Words with Subword Units").
  *
  * Scale shape (see [[Subword]]): BPE trains on the WORD-FREQUENCY
  * DICTIONARY, not the raw corpus — the only corpus-sized pass is one
  * distributed word count, collected once; the merge loop then runs
  * in-process on that vocabulary-sized dictionary, with no Spark job per
  * merge, and encoding applies the merges to the same held dictionary.
  *
  * Determinism contract (mirrored in the DuckDB oracle):
  *  - a word starts as its code points;
  *  - best pair per iteration by (count DESC, left ASC, right ASC),
  *    strings in code-point order;
  *  - a merge rewrites each word leftmost-greedy and non-overlapping:
  *    "a b a b" merges to [ab][ab] (consecutive pairs both merge) and
  *    "a a a" to [aa][a] (overlap resolved leftmost) — the semantics of
  *    the oracle's `replace` over bracketed symbol strings;
  *  - counts are exact integer sums of word frequencies.
  */
object Bpe {

  /** Every adjacent (a, b) in `syms`, leftmost first, fused to a+b. */
  private def mergePair(syms: Array[String], a: String, b: String): Array[String] = {
    val out = Array.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += a + b; i += 2
      } else {
        out += syms(i); i += 1
      }
    }
    out.result()
  }

  private val pairOrder: Ordering[((String, String), Long)] =
    Ordering.Tuple3(Ordering.Long, Subword.codePointOrder, Subword.codePointOrder)
      .on[((String, String), Long)] { case ((a, b), n) => (-n, a, b) }

  /** Sequential greedy BPE over a collected (word, cnt) dictionary:
    * (left, right, pair_count) per merge, in merge order. */
  private def greedy(dict: Seq[(String, Long)], iters: Int): Seq[(String, String, Long)] = {
    var words = dict.map { case (w, c) => (Subword.codePoints(w), c) }
    val out = Seq.newBuilder[(String, String, Long)]
    var n = 0
    var exhausted = false
    while (n < iters && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((syms, c) <- words; i <- 0 until syms.length - 1) {
        val p = (syms(i), syms(i + 1))
        counts(p) = counts.getOrElse(p, 0L) + c
      }
      if (counts.isEmpty) exhausted = true // every word is one symbol
      else {
        val ((a, b), pc) = counts.min(pairOrder)
        out += ((a, b, pc))
        words = words.map { case (syms, c) => (mergePair(syms, a, b), c) }
        n += 1
      }
    }
    out.result()
  }

  /** Fit `iters` merges. The fitted table is the learned merge table:
    * (iter 1.., left_sym, right_sym, merged, pair_count) — up to `iters`
    * rows, the artifact a tokenizer ships. Stops early (returning the
    * merges learned so far) if the dictionary runs out of mergeable pairs
    * — a tiny corpus can reduce every word to a single symbol before
    * `iters` is reached. A word's pieces are its code points with the
    * merges applied in training order. */
  def fit(docs: DataFrame, iters: Int): Subword.Tokenizer = {
    require(iters >= 1, "iters must be >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    val dict = Subword.collectDict(docs, Subword.isWord)
    val merges = greedy(dict, iters)
    val table = merges.zipWithIndex
      .map { case ((a, b, pc), i) => (i + 1L, a, b, a + b, pc) }
      .toDF("iter", "left_sym", "right_sym", "merged", "pair_count")
    Subword.Tokenizer(table, dict, w =>
      merges.foldLeft(Subword.codePoints(w)) { case (s, (a, b, _)) => mergePair(s, a, b) }
        .toSeq)
  }
}
