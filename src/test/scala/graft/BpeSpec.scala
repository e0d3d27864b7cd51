package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Bpe

/** BPE merge semantics on controlled corpora — the cases the corpus
  * oracle can't isolate: exact pair counting, deterministic tie-breaks,
  * leftmost-greedy overlap resolution, consecutive-pair merging, and
  * encode/train consistency. */
class BpeSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def docsOf(texts: String*) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  test("highest-count pair wins; merged symbol feeds the next round") {
    // aaab x3, ab x2: round 1 pairs (a,a)=6 vs (a,b)=5 -> merge aa;
    // round 2: (aa,a)=3, (a,b)=5 -> merge ab
    val docs = docsOf("aaab aaab aaab ab ab")
    val m = Bpe.fit(docs, 2).table.orderBy("iter").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(m(0) == (1L, "a", "a", "aa", 6L))
    assert(m(1) == (2L, "a", "b", "ab", 5L))
  }

  test("consecutive pairs both merge in one round") {
    // abab x2: (a,b) count 4 beats (b,a)=2 and aaa's (a,a)=2; the merge
    // turns EVERY abab into [ab][ab] (both occurrences, one pass)
    val docs = docsOf("abab abab aaa")
    val enc = Bpe.fit(docs, 1).encode
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(enc("ab") == 4L)
    assert(enc("a") == 3L) // aaa untouched by the (a,b) merge
    assert(!enc.contains("aa"))
  }

  test("overlapping runs resolve leftmost-greedy") {
    // aaa alone: merge (a,a) -> [aa][a], never [a][aa]
    val docs = docsOf("aaa")
    val enc = Bpe.fit(docs, 1).encode
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(enc == Map("aa" -> 1L, "a" -> 1L))
  }

  test("encode with zero-effect merges preserves character counts") {
    val docs = docsOf("abc abc xyz")
    val enc = Bpe.fit(docs, 1).encode
      .agg(sum(col("n") * length(col("token")))).head().getLong(0)
    // total characters are invariant under merging
    assert(enc == 3 + 3 + 3)
  }

  /** Pure-Scala one-merge-at-a-time greedy BPE — an independent
    * reference the trainer must match bit for bit (same tokenization rule
    * as Bpe.wordDict / the oracle: split on single spaces, drop empties). */
  private def sequentialMerges(text: String, iters: Int): Seq[(String, String, Long)] = {
    def mergeList(syms: List[String], a: String, b: String): List[String] =
      syms match { // leftmost-greedy, consecutive pairs both merge
        case x :: y :: rest if x == a && y == b => (a + b) :: mergeList(rest, a, b)
        case x :: rest => x :: mergeList(rest, a, b)
        case Nil => Nil
      }
    var dict: Seq[(List[String], Long)] = text.split(" ").filter(_.nonEmpty)
      .groupBy(identity).toSeq
      .map { case (w, ws) => (w.map(_.toString).toList, ws.length.toLong) }
    val out = Seq.newBuilder[(String, String, Long)]
    var it = 0
    var done = false
    while (it < iters && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        .withDefaultValue(0L)
      for ((syms, cnt) <- dict; Seq(a, b) <- syms.sliding(2) if syms.size >= 2)
        counts((a, b)) += cnt
      if (counts.isEmpty) done = true
      else {
        val ((a, b), c) = counts.minBy { case ((l, r), n) => (-n, l, r) }
        out += ((a, b, c))
        dict = dict.map { case (syms, cnt) => (mergeList(syms, a, b), cnt) }
        it += 1
      }
    }
    out.result()
  }

  test("batched refresh training is bit-identical to sequential greedy") {
    // corpora chosen to stress greedy order: long disjoint tie runs,
    // overlapping ties, merge cascades that create new high-count pairs,
    // and a plain-text mix
    val corpora = Seq(
      "the quick brown fox jumps over the lazy dog the quick brown fox",
      "aaa aab abab bab baba abc bca cab aaa aaa bb",
      "xy xy xy ab ab ab cd cd cd",
      "ab ab ba ba aa bb ab",
      "abcdefgh abcdefgh abcd efgh abcdefgh",
      (1 to 60).map(i => s"w${i % 7}x${i % 5}").mkString(" "),
      // head (a,z,10), disjoint (c,d,9), then (z,x,9)'s merged symbol
      // "az" outsorts "c" at the tied count
      (Seq.fill(9)("azx") ++ Seq("az") ++ Seq.fill(9)("cd")).mkString(" "))
    for (c <- corpora; iters <- Seq(2, 3, 12, 30)) {
      val got = Bpe.fit(docsOf(c), iters).table.orderBy("iter").collect()
        .map(r => (r.getString(1), r.getString(2), r.getLong(4))).toSeq
      val want = sequentialMerges(c, iters)
      assert(got == want, s"corpus '$c' iters=$iters")
    }
  }

  test("words carrying the reserved bracket control chars are excluded") {
    // a word containing \u0001/\u0002 would parse as pre-bracketed
    // symbols and corrupt every merge count; the dict must drop such
    // words entirely (same filter the oracle's wc CTE applies), leaving
    // the clean words' BPE unchanged. (Escapes, not raw bytes, so the
    // source file stays clean text.)
    val L = "\u0001"; val R = "\u0002"
    val dirty = docsOf("aaab aaab aaab ab ab", s"a${L}b c${R}d ${L}xy$R")
    val m = Bpe.fit(dirty, 2).table.orderBy("iter").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(m(0) == (1L, "a", "a", "aa", 6L))
    assert(m(1) == (2L, "a", "b", "ab", 5L))
    val enc = Bpe.fit(dirty, 2).encode
      .collect().map(r => r.getString(0)).toSet
    assert(!enc.exists(t => t.contains(L) || t.contains(R)))
  }

  test("training stops early when no mergeable pair remains") {
    // "a aa": one merge (a,a) collapses 'aa' to a single symbol; 'a'
    // never had a pair — asking for 10 merges must return the 1 learned,
    // not throw on the empty best-pair aggregate
    val docs = docsOf("a aa")
    val m = Bpe.fit(docs, 10).table.orderBy("iter").collect()
      .map(r => (r.getLong(0), r.getString(3), r.getLong(4)))
    assert(m.toSeq == Seq((1L, "aa", 1L)))
    // and encode with the short table still tokenizes the corpus
    val enc = Bpe.fit(docs, 10).encode
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(enc == Map("a" -> 1L, "aa" -> 1L))
  }

  test("encode bounds its replace lineage to the materialize cadence") {
    // a corpus whose single 40-char word yields 39 distinct merges
    val word = ('a' to 'z').take(20).mkString + ('A' to 'Z').take(20).mkString
    val docs = docsOf(word)
    val bpe = Bpe.fit(docs, 39)
    assert(bpe.table.count() == 39) // enough merges to collapse the word
    val encoded = bpe.encode
    // correctness: 39 merges collapse the 40-char word to one token
    val toks = encoded.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(toks == Map(word -> 1L))
    // encode's plan does not grow with the merge count: the merges are
    // applied in the driver, not one plan expression per merge — the
    // guarantee a 32k-merge vocabulary depends on
    def planSize(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case n =>
        1 + n.expressions.map(_.collect { case e => e }.size).sum
      }.sum
    assert(planSize(encoded) ==
      planSize(Bpe.fit(docs, 1).encode))
  }

  test("tie on count breaks by (left, right) symbol order") {
    // two pairs with equal counts: (a,b) and (b,c) both appear once
    val docs = docsOf("abc")
    val m = Bpe.fit(docs, 1).table.head()
    assert((m.getString(1), m.getString(2), m.getLong(4)) == ("a", "b", 1L))
  }

  test("a self-merge closes the batch: (aa,aa) outranks the pre-merge runner-up") {
    // The 512-merge A/B regression (SCALE.md, "BPE at ≥512 merges") in
    // miniature: merging the head (a,a) creates the brand-new pair (aa,aa)
    // at half its count — far above the pre-merge runner-up (x,z) — so
    // sequential greedy picks it SECOND. A batch that had accepted (x,z)
    // alongside the self-merge shipped a wrong merge order.
    val docs = docsOf(("aaaa " * 100) + ("xz " * 40) + ("uv " * 30))
    val batched = Bpe.fit(docs, 3).table.orderBy("iter").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(4))).toSeq
    assert(batched == Seq(("a", "a", 300L), ("aa", "aa", 100L), ("x", "z", 40L)))
    assert(batched == sequentialMerges(("aaaa " * 100) + ("xz " * 40) + ("uv " * 30), 3))
  }

  test("wide-plateau batching: >=128 merges, few refreshes, sequential-exact") {
    // the shape a production vocabulary's early rounds hit: disjoint
    // near-tie pairs over a wide symbol population — the table must stay
    // bit-identical to one-merge-per-round greedy, and training must cost
    // the same Spark jobs (one word count) however many merges it learns
    val texts = (0 until 400).map { i =>
      val a = (0x4E00 + (i * 2) % 600).toChar
      val b = (0x4E00 + (i * 2 + 1) % 600).toChar
      s"$a$b " * (1200 / (i + 1) + 1)
    }
    val wide = docsOf(texts: _*)
    val mb = Bpe.fit(wide, 128).table
    assert(mb.orderBy("iter").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(4))).toSeq ==
      sequentialMerges(texts.mkString(" "), 128),
      "merge table diverged from sequential greedy")
    assert(mb.count() == 128)
    val jobs128 = SparkJobs.count(spark)(Bpe.fit(wide, 128).table)
    val jobs2 = SparkJobs.count(spark)(Bpe.fit(wide, 2).table)
    assert(jobs128 == jobs2, s"128 merges fired $jobs128 jobs, 2 merges $jobs2")
  }

  test("merge ties break by code point, not by UTF-16 unit") {
    // U+E000 sorts before U+1F600 by code point (and by UTF-8 bytes, as
    // Spark and DuckDB order strings), but after its surrogate pair
    // \uD83D\uDE00 by UTF-16 unit; the emoji is one symbol, never two
    val e = new String(Character.toChars(0x1F600))
    val p = "\uE000"
    val docs = docsOf(s"$e$e $e$e x$p x$p x$e x$e")
    val m = Bpe.fit(docs, 4).table.orderBy("iter").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(4))).toSeq
    assert(m == Seq(("x", p, 2L), ("x", e, 2L), (e, e, 2L)))
  }

  test("fertility report: hand-checkable pieces, ratios, per-stratum split") {
    import org.apache.spark.sql.functions._
    // merges learned on the en stratum's shape: "aaab aaab aaab ab ab"
    // round 1 merges (a,a), round 2 merges (a,b) — so under the trained
    // table "aaab" = [aa, ab] (2 pieces), "ab" = [ab] (1), "cd" (unseen
    // pair, never merged) = [c, d] (2)
    val docs = Seq(
      (1L, "aaab aaab aaab ab ab", "en", "s1"),
      (2L, "cd cd", "de", "s2"))
      .toDF("doc_id", "text", "lang", "source")
    val bpe = Bpe.fit(docs, 2)
    val wp = bpe.wordPieces.collect()
      .map(r => r.getAs[String]("word") -> r.getAs[Long]("n_pieces")).toMap
    assert(wp("aaab") == 2L && wp("ab") == 1L && wp("cd") == 2L)
    val out = bpe.fertility(docs).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[String]("lang")) -> r).toMap
    val en = out(("s1", "en"))
    // 5 words: 3x"aaab" (2 pieces each) + 2x"ab" (1) = 8 pieces, 16 chars
    assert(en.getAs[Long]("n_words") == 5L)
    assert(en.getAs[Long]("n_pieces") == 8L)
    assert(en.getAs[Long]("n_word_chars") == 16L)
    assert(en.getAs[Double]("fertility") == 1.6)
    assert(en.getAs[Double]("chars_per_piece") == 2.0)
    // the unseen-shape stratum tokenizes at character fertility: the
    // disparity signal the report exists to surface
    val de = out(("s2", "de"))
    assert(de.getAs[Double]("fertility") == 2.0)
    assert(de.getAs[Double]("chars_per_piece") == 1.0)
  }

  private val strata = Seq(
      (1L, "aaab aaab aaab ab ab", "en", "s1"),
      (2L, "cd cd", "de", "s2"))
    .toDF("doc_id", "text", "lang", "source")

  test("encode and wordPieces fire no Spark job beyond the fit") {
    val fit = SparkJobs.count(spark)(Bpe.fit(strata, 2).table.collect())
    val all = SparkJobs.count(spark) {
      val bpe = Bpe.fit(strata, 2)
      bpe.table.collect(); bpe.encode.collect(); bpe.wordPieces.collect()
    }
    assert(all == fit, s"fit + encode + wordPieces fired $all jobs, the fit $fit")
  }

  test("fertility adds exactly one corpus pass to the fit") {
    val (docs, reads) = SparkJobs.scanCounted(strata)
    val bpe = Bpe.fit(docs, 2)
    assert(reads.value == 2L, "the fit reads the corpus once")
    bpe.encode.collect(); bpe.wordPieces.collect()
    assert(reads.value == 2L, "encode and wordPieces read no corpus")
    bpe.fertility(docs).collect()
    assert(reads.value == 4L, "fertility reads the corpus once more")
  }
}
