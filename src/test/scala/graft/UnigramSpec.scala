package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Unigram

/** Invariants of the unigram-LM tokenizer the oracle gate can't express
  * as directly: Viterbi optimality and its exact tie-break, single-char
  * coverage after pruning, encode/train consistency, and cross-run
  * determinism. The full numeric contract (seed weights, EM usage
  * counts, quantized log-probs) is hash-gated by the q_unigram_train /
  * q_unigram_encode DuckDB oracles. */
class UnigramSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("viterbi picks the max-score segmentation; ties prefer the longer piece") {
    // tie: a+b and ab both score -20 — the smallest-split rule keeps "ab"
    val tie = Map("a" -> -10L, "b" -> -10L, "ab" -> -20L)
    assert(Unigram.viterbiPieces("ab", tie) == Seq("ab"))
    // optimality: the one-piece path dominates every split
    val opt = Map("a" -> -1L, "b" -> -100L, "ab" -> -50L, "abb" -> -2L,
      "bb" -> -90L)
    assert(Unigram.viterbiPieces("abb", opt) == Seq("abb"))
    // and when splits win, it finds the best one (a+bb = -91 beats
    // ab+b = -150 and abb = absent)
    val split = Map("a" -> -1L, "b" -> -100L, "ab" -> -50L, "bb" -> -90L)
    assert(Unigram.viterbiPieces("abb", split) == Seq("a", "bb"))
    // an uncoverable word fails loudly, never silently skips
    val e = intercept[IllegalArgumentException] {
      Unigram.viterbiPieces("ax", Map("a" -> -1L))
    }
    assert(e.getMessage.contains("not coverable"))
  }

  test("train keeps full char coverage, bounds the vocab, and encode is consistent") {
    val docs = Seq(
      (1L, "alpha beta alpha gamma"),
      (2L, "beta beta alpha delta"),
      (3L, "gamma alpha beta beta"),
      (4L, "delta gamma alpha beta")).toDF("doc_id", "text")
    val unigram = Unigram.fit(docs, seedMulti = 16, keep = Seq(8, 6))
    val rows = unigram.table.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val pieces = rows.map(_._1).toSet
    // every character of the corpus survives pruning
    val chars = "alphbetgmd".toSet
    chars.foreach(c => assert(pieces.contains(c.toString), s"char $c pruned"))
    // multi-char vocab bounded by the final keep count
    assert(rows.count(_._1.length > 1) <= 6)
    // log-probs are valid quantized negatives
    rows.foreach { case (p, _, lq) => assert(lq < 0L, s"$p lq=$lq") }

    // encode: every emitted token is a trained piece, and total token
    // mass equals the sum of per-word Viterbi piece counts
    val enc = unigram.encode.collect()
      .map(r => (r.getString(0), r.getLong(1)))
    enc.foreach { case (t, _) => assert(pieces.contains(t), s"token $t") }
    val lq = rows.map(r => r._1 -> r._3).toMap
    val words = docs.as[(Long, String)].collect()
      .flatMap(_._2.split(" ")).filter(_.nonEmpty)
    val expected = words.flatMap(w => Unigram.viterbiPieces(w, lq))
      .groupBy(identity).map { case (t, a) => (t, a.length.toLong) }
    assert(enc.toMap == expected)

    // determinism: an independent retrain reproduces the table exactly
    val again = Unigram.fit(docs, seedMulti = 16, keep = Seq(8, 6))
      .table.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(again.sortBy(_._1).toSeq == rows.sortBy(_._1).toSeq)

    // zero EM rounds is a configuration error and fails loudly, like the
    // empty-corpus and uncoverable-word cases
    val e = intercept[IllegalArgumentException] {
      Unigram.fit(docs, seedMulti = 16, keep = Seq.empty)
    }
    assert(e.getMessage.contains("at least one EM round"))
  }

  test("a supplementary-plane character is one single-char piece") {
    // U+1F600 is one code point (one Spark/DuckDB char) but two UTF-16
    // units: it must be listed once, as a single-char piece, never also
    // take a multi-char slot
    val e = new String(Character.toChars(0x1F600))
    val docs = Seq((1L, s"a$e a$e a$e b$e b"), (2L, s"ab ab $e$e")).toDF("doc_id", "text")
    val unigram = Unigram.fit(docs, seedMulti = 4, keep = Seq(2))
    val pieces = unigram.table.collect().map(_.getString(0)).toSeq
    assert(pieces.count(_ == e) == 1, pieces)
    assert(pieces.count(p => p.codePointCount(0, p.length) > 1) <= 2, pieces)
    // encode covers every word: token mass in code points = the corpus's
    val enc = unigram.encode.collect()
      .map(r => (r.getString(0), r.getLong(1)))
    enc.foreach { case (t, _) => assert(pieces.contains(t), s"token $t") }
    val words = Seq(s"a$e a$e a$e b$e b", s"ab ab $e$e").flatMap(_.split(" "))
    assert(enc.map { case (t, n) => t.codePointCount(0, t.length) * n }.sum ==
      words.map(w => w.codePointCount(0, w.length)).sum)
  }

  test("training fires the same Spark jobs for one EM round as for many") {
    val docs = Seq((1L, "alpha beta alpha gamma"), (2L, "beta beta alpha delta"))
      .toDF("doc_id", "text")
    val one = SparkJobs.count(spark)(Unigram.fit(docs, seedMulti = 16, keep = Seq(8)))
    val many = SparkJobs.count(spark)(
      Unigram.fit(docs, seedMulti = 16, keep = Seq(12, 10, 8, 6, 4)))
    assert(one == many, s"1 round fired $one jobs, 5 rounds $many")
  }

  test("fertility: viterbi piece counts per stratum, BPE corpus-side parity") {
    import org.apache.spark.sql.functions._
    import graft.operators.Bpe
    val docs = Seq(
      (1L, "abab abab abab ab ab", "en", "s1"),
      (2L, "cd cd", "de", "s2"))
      .toDF("doc_id", "text", "lang", "source")
    val unigram = Unigram.fit(docs, seedMulti = 8, keep = Seq(6))
    // "abab" is a frequent <=MaxPiece substring, so it survives pruning
    // as its own piece and Viterbi takes it whole (a single piece always
    // beats any split: ln p > ln p1 + ln p2 for probabilities < 1)
    val wp = unigram.wordPieces.collect()
      .map(r => r.getAs[String]("word") -> r.getAs[Long]("n_pieces")).toMap
    assert(wp("abab") == 1L)
    assert(wp("ab") == 1L)
    val uf = unigram.fertility(docs).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("lang")) -> r).toMap
    val en = uf(("s1", "en"))
    assert(en.getAs[Long]("n_words") == 5L)
    assert(en.getAs[Long]("n_pieces") == 5L) // every word one piece
    assert(en.getAs[Double]("fertility") == 1.0)
    // the disparity row vs BPE on the SAME corpus: the corpus-side
    // accounting (words, chars) must agree stratum-by-stratum; only the
    // segmentation (n_pieces, ratios) may differ between tokenizers
    val bf = Bpe.fit(docs, 2).fertility(docs).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("lang")) -> r).toMap
    assert(uf.keySet == bf.keySet)
    uf.keySet.foreach { k =>
      assert(uf(k).getAs[Long]("n_words") == bf(k).getAs[Long]("n_words"))
      assert(uf(k).getAs[Long]("n_word_chars") == bf(k).getAs[Long]("n_word_chars"))
      // pieces are non-empty substrings: count bounded by chars
      assert(uf(k).getAs[Long]("n_pieces") <= uf(k).getAs[Long]("n_word_chars"))
    }
    // on this corpus the unigram tokenizer is strictly more economical
    // than 2-merge BPE on the en stratum ("abab" whole vs [aa? ab] splits)
    assert(uf(("s1", "en")).getAs[Double]("fertility") <=
      bf(("s1", "en")).getAs[Double]("fertility"))
  }

  private val strata = Seq(
      (1L, "abab abab abab ab ab", "en", "s1"),
      (2L, "cd cd", "de", "s2"))
    .toDF("doc_id", "text", "lang", "source")

  test("encode and wordPieces fire no Spark job beyond the fit") {
    val fit = SparkJobs.count(spark)(
      Unigram.fit(strata, seedMulti = 8, keep = Seq(6)).table.collect())
    val all = SparkJobs.count(spark) {
      val unigram = Unigram.fit(strata, seedMulti = 8, keep = Seq(6))
      unigram.table.collect(); unigram.encode.collect(); unigram.wordPieces.collect()
    }
    assert(all == fit, s"fit + encode + wordPieces fired $all jobs, the fit $fit")
  }

  test("fertility adds exactly one corpus pass to the fit") {
    val (docs, reads) = SparkJobs.scanCounted(strata)
    val unigram = Unigram.fit(docs, seedMulti = 8, keep = Seq(6))
    assert(reads.value == 2L, "the fit reads the corpus once")
    unigram.encode.collect(); unigram.wordPieces.collect()
    assert(reads.value == 2L, "encode and wordPieces read no corpus")
    unigram.fertility(docs).collect()
    assert(reads.value == 4L, "fertility reads the corpus once more")
  }
}
