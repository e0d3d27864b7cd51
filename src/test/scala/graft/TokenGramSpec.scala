package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TokenGrams._
import graft.operators.TextAnalysis

/** The native token-gram expressions are PLAN-level changes only: their
  * values must equal the composed `shinglesFromTokens(split(text,' '), n)`
  * forms (and the hashes of those grams) on every input shape — ASCII,
  * multi-byte UTF-8, empty text, empty tokens from doubled/leading/
  * trailing spaces, and documents shorter than n. */
class TokenGramSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // the shapes where split/concat_ws edge semantics could diverge
  private val texts = Seq(
    "the quick brown fox jumps over the lazy dog",
    "añB€c Дd éfg €hиj kñ€ x",   // multi-byte: byte offsets ≠ char offsets
    "",                           // split('') = [''] — one empty token
    "single",
    "a  b",                       // doubled space — empty middle token
    " a b",                       // leading space — empty first token
    "a b ",                       // trailing space — empty last token
    "dup dup dup dup dup",        // repeats (distinct paths diverge if broken)
    (1 to 40).map(i => s"w${i % 7}").mkString(" "))

  private def composedGrams(text: String, n: Int): Seq[String] =
    Seq(text).toDF("text")
      .select(TextAnalysis.shingles(col("text"), n).as("g"))
      .collect().head.getSeq[String](0)

  test("token_grams equals shinglesFromTokens(split) on every shape") {
    for (t <- texts; n <- Seq(1, 2, 3, 5, 10)) {
      val got = Seq(t).toDF("text")
        .select(tokenGrams(col("text"), n).as("g"))
        .collect().head.getSeq[String](0)
      assert(got == composedGrams(t, n), s"text='$t' n=$n diverged")
    }
  }

  test("token_grams(s, 0) fails at analysis with a clear message") {
    graft.plans.GraftExtensions.register(spark)
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT token_grams('a b c', 0)").collect()
    }
    assert(e.getMessage.contains("token_grams needs n >= 1 (got 0)"))
  }

  test("token_gram_structs equals the tagged union of per-n gram lists") {
    val ns = Seq(1, 2, 3)
    for (t <- texts) {
      val got = Seq(t).toDF("text")
        .select(explode(tokenGramStructs(col("text"), ns)).as("x"))
        .select(col("x.ng"), col("x.g"))
        .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
      val want = ns.flatMap(n => composedGrams(t, n).map(g => (n, g)))
      assert(got == want, s"text='$t' diverged")
    }
  }

  test("token_gram_xx64 equals (n, index, xxhash64(gram))") {
    val ns = Seq(2, 5)
    for (t <- texts) {
      val got = Seq(t).toDF("text")
        .select(explode(tokenGramXx64(col("text"), ns)).as("x"))
        .select(col("x.n"), col("x.i"), col("x.g"))
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq
      val want = ns.flatMap { n =>
        val gs = composedGrams(t, n)
        // xxhash64 via the engine itself, so the seed/byte contract is
        // pinned against the real builtin
        gs.zipWithIndex.map { case (g, i) =>
          val h = Seq(g).toDF("g").select(xxhash64(col("g"))).collect().head.getLong(0)
          (n, i, h)
        }
      }
      assert(got == want, s"text='$t' diverged")
    }
  }

  test("token_gram_hash60 equals hash60 over the gram list (non-distinct)") {
    for (t <- texts; n <- Seq(1, 3)) {
      val got = Seq(t).toDF("text")
        .select(tokenGramHash60(col("text"), Seq(n)).as("hs"))
        .collect().head.getSeq[Long](0)
      val want = composedGrams(t, n).map { g =>
        Seq(g).toDF("g").select(TextAnalysis.hash60(col("g")))
          .collect().head.getLong(0)
      }
      assert(got == want, s"text='$t' n=$n diverged")
    }
  }

  test("token_gram_hash60 distinct equals hash60 over array_distinct, mod applied") {
    val mod = 2147483647L
    for (t <- texts; n <- Seq(1, 2, 3)) {
      val got = Seq(t).toDF("text")
        .select(tokenGramHash60(col("text"), Seq(n), mod, distinct = true).as("hs"))
        .collect().head.getSeq[Long](0).sorted
      val want = composedGrams(t, n).distinct.map { g =>
        Seq(g).toDF("g").select(TextAnalysis.hash60(col("g")) % mod)
          .collect().head.getLong(0)
      }.sorted
      assert(got == want, s"text='$t' n=$n diverged")
    }
  }

  test("token_gram_hash60 multi-n flattens in ns order") {
    val t = "a b c d"
    val one = (n: Int) => Seq(t).toDF("text")
      .select(tokenGramHash60(col("text"), Seq(n)).as("hs"))
      .collect().head.getSeq[Long](0)
    val multi = Seq(t).toDF("text")
      .select(tokenGramHash60(col("text"), Seq(1, 2)).as("hs"))
      .collect().head.getSeq[Long](0)
    assert(multi == one(1) ++ one(2))
  }

  test("token_gram_hash60_structs equals per-n distinct (n, h) rows") {
    val ns = Seq(3, 5)
    val mod = 2147483647L
    for (t <- texts) {
      val got = Seq(t).toDF("text")
        .select(explode(tokenGramHash60Structs(col("text"), ns, mod)).as("x"))
        .select(col("x.n"), col("x.h"))
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
      val want = ns.flatMap { n =>
        composedGrams(t, n).distinct.map { g =>
          val h = Seq(g).toDF("g")
            .select(TextAnalysis.hash60(col("g")) % mod)
            .collect().head.getLong(0)
          (n, h)
        }
      }.toSet
      assert(got == want, s"text='$t' diverged")
    }
  }

  test("repStats equals the shuffle-shaped reference (counts, top, dup, interval fold)") {
    // heavy overlap + repeats + short docs — the shapes where the scan-
    // local kernel could diverge from the former (doc, n, gram) aggregate
    val docs = Seq(
      (1L, "a a a a a a b"),            // overlapping 5-gram spans
      (2L, "x y x y x y x y"),          // periodic bigrams
      (3L, "w1 w2 w3 w4 w5 w6 w7 w8"),  // all distinct
      (4L, "t"),                        // below every n
      (5L, ""),                         // empty text
      (6L, (1 to 60).map(i => s"v${i % 5}").mkString(" "))) // dense dups
      .toDF("doc_id", "text")
    val ns = Seq(2, 3, 5)
    // reference: explode (n, i, hash) rows, aggregate per (doc, n, g),
    // top_c / dup_occ / covered via the r18 shuffle shape
    val g = docs.select(col("doc_id"),
        explode(tokenGramXx64(col("text"), ns)).as("x"))
      .select(col("doc_id"), col("x.n").as("n"), col("x.i").as("i"), col("x.g").as("g"))
      .groupBy("doc_id", "n", "g")
      .agg(count(lit(1)).as("c"), collect_list(col("i")).as("starts"))
    val unionLen = expr(
      """aggregate(
        |  array_sort(flatten(starts_all)),
        |  named_struct('e', -1, 't', CAST(0 AS BIGINT)),
        |  (acc, s) -> named_struct(
        |    'e', greatest(acc.e, s + n - 1),
        |    't', acc.t + CAST(greatest(0, s + n - 1 - greatest(acc.e, s - 1)) AS BIGINT)),
        |  acc -> acc.t)""".stripMargin)
    val ref = g.groupBy("doc_id", "n")
      .agg(sum(col("c")).as("total"), max(col("c")).as("top_c"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dup_occ"))
      .join(g.filter(col("c") > 1).groupBy("doc_id", "n")
          .agg(collect_list(col("starts")).as("starts_all"))
          .select(col("doc_id"), col("n"), unionLen.as("covered")),
        Seq("doc_id", "n"), "left")
      .select(col("doc_id"), col("n"), col("total"), col("top_c"),
        col("dup_occ"), coalesce(col("covered"), lit(0L)).as("covered"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val got = docs.select(col("doc_id"),
        explode(tokenGramRepStats(col("text"), ns)).as("st"))
      .select(col("doc_id"), col("st.n"), col("st.total"), col("st.top_c"),
        col("st.dup_occ"), col("st.covered"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    for (((doc, n), v) <- got) {
      val want = ref.getOrElse((doc, n), (0L, 0L, 0L, 0L))
      assert(v == want, s"doc=$doc n=$n: got $v want $want")
    }
  }

  test("codegen path produces the same rows as eval") {
    val df = spark.range(300)
      .select(concat(lit("tok"), (col("id") % 9).cast("string"), lit(" mid "),
        lit("текст €"), lit(" tail"), (col("id") % 4).cast("string")).as("text"))
    val viaPlan = df.select(explode(tokenGramXx64(col("text"), Seq(2, 3))).as("x"))
      .select(col("x.n"), col("x.i"), col("x.g"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2))).toSeq
    val viaEval = df.collect().flatMap { r =>
      graft.functions.TokenGram.gramXx64(
        org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(0)),
        Array(2, 3)).map { o =>
        val row = o.asInstanceOf[org.apache.spark.sql.catalyst.expressions.GenericInternalRow]
        (row.getInt(0), row.getInt(1), row.getLong(2))
      }
    }.toSeq
    assert(viaPlan == viaEval)
  }
}
