package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** End-to-end curation pipeline: stage funnel is monotone, deterministic
  * across reruns, and the written corpus matches the surviving chunk
  * count. */
class CurateSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("curate pipeline: monotone funnel, reproducible, output matches") {
    val out = graft.SessionScoped.scratchDir("graft_curate")
    val (f, _) = Curate.run(spark, "/root/testdata/sf0.001", out)
    // the funnel JSON (Curate.main, CurateTrend): snake_case keys in field order
    assert("\"([a-z_]+)\":".r.findAllMatchIn(f.json).map(_.group(1)).toSeq ==
      Seq("input", "blocklist", "quality", "rules", "repetition", "dedup",
        "semdedup", "decontaminated", "fuzzy_clean", "dsir", "ccnet",
        "sampled", "chunks", "seqs", "merges", "vocab", "shards"))
    // each stage can only shrink the corpus (chunks explode rows, excluded)
    assert(f.input >= f.blocklist)
    assert(f.blocklist >= f.quality)
    assert(f.quality >= f.rules)
    assert(f.rules >= f.repetition)
    assert(f.repetition >= f.dedup)
    assert(f.dedup >= f.semdedup)
    assert(f.semdedup >= f.decontaminated)
    assert(f.decontaminated >= f.fuzzyClean)
    assert(f.fuzzyClean >= f.dsir)
    assert(f.dsir >= f.ccnet)
    assert(f.ccnet >= f.sampled)
    // the gates actually gate on the synthetic corpus: the blocklist term
    // is planted in ~5% of docs, SemDeDup finds at least one semantic
    // near-dup class, the DSIR cut keeps a non-trivial target-like slice,
    // and the CCNet tail tercile drops scored docs — all without
    // emptying the funnel
    assert(f.blocklist < f.input)
    assert(f.semdedup < f.dedup)
    assert(f.dsir > 0 && f.dsir < f.fuzzyClean)
    assert(f.ccnet > 0 && f.ccnet < f.dsir)
    // every stage leaves a non-trivial corpus on the synthetic data
    assert(f.sampled > 0 && f.chunks >= f.sampled)
    // packing: sequence count ≈ total tokens / 512, never above chunk count
    assert(f.seqs > 0 && f.seqs <= f.chunks)
    // tokenizer artifact: full merge table learned, non-trivial vocabulary
    assert(f.merges == 32 && f.vocab > 26)
    // shard layout: every 16-sequence shard full except the last
    assert(f.shards == (f.seqs + 15) / 16)
    // data card: written next to the shards, one row per surviving
    // stratum, shares normalized — and ZERO exact dups (the dedup stage
    // ran upstream, so the manifest must certify a dup-free deliverable)
    // the blocklist contract end-to-end: NO surviving document contains
    // the planted blocked term (any-hit-drops at maxFrac=0)
    locally {
      import org.apache.spark.sql.functions._
      val survivors = spark.read.parquet(s"$out/chunks")
        .select("doc_id").distinct()
      val blockedIds = graft.sources.Tables
        .documents(spark, "/root/testdata/sf0.001")
        .filter(array_contains(split(col("text"), " "), "dup"))
        .select("doc_id")
      assert(survivors.join(blockedIds, "doc_id").count() == 0)
    }
    val card = spark.read.parquet(s"$out/data_card").collect()
    assert(card.nonEmpty)
    assert(card.map(_.getAs[Long]("n_docs")).sum == f.sampled)
    assert(card.forall(_.getAs[Long]("n_exact_dups") == 0L))
    assert(math.abs(card.map(_.getAs[Double]("share_pct")).sum - 1.0) < 0.01)
    // deterministic: a rerun lands the identical funnel
    val out2 = graft.SessionScoped.scratchDir("graft_curate2")
    assert(Curate.run(spark, "/root/testdata/sf0.001", out2)._1 == f)
  }

  test("gopherFull catches what the tuned bigram gate provably cannot") {
    // Pins the gap between Curate's tuned bigram repetition gate and
    // Gopher's full Table-A1 set (TextAnalysis.repetitionNgrams, the
    // q_repetition_ngrams operator), which Curate does not apply.
    // Which Table-A1 rule can a TUNED-bigram-gate survivor still fail?
    // Every position inside a duplicated n-gram sits on duplicated
    // bigrams (a repeated n-gram repeats its bigrams), so a duplicated
    // span of coverage C forces >= ((n-1)/n)*C duplicated-bigram
    // occurrences. With Curate's maxDupBigram = 0.10:
    //   dup_5gram > 0.15 needs (4/5)*0.15 = 0.12 dup-bigram frac -> the
    //   bigram gate ALWAYS fires first; same for the 5..9 rules and for
    //   the top-{2,3,4} rules at their thresholds. The 10-gram rule is
    //   the one with headroom: (9/10)*0.10 = 0.09 < 0.10 leaves a
    //   feasible window — exactly one duplicated 10-gram in a doc of
    //   181..199 tokens. Pin that doc: 190 tokens, one 10-gram twice,
    //   every other token distinct.
    //   bigram gate:  token_dup 10/190=.0526<=.65, dup_bigram 18/189
    //     =.0952<=.10, top_bigram 2/189=.0106<=.08  -> PASSES
    //   full set:     dup_10gram 20/190=.1053>.10   -> FAILS
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val gram = (1 to 10).map(i => s"g$i").mkString(" ")
    val fill = (i: Int, j: Int) => (i to j).map(i => s"f$i").mkString(" ")
    val text = Seq(fill(1, 85), gram, fill(86, 170), gram).mkString(" ")
    val docs = Seq((1L, text)).toDF("doc_id", "text")
    val bigramGate = graft.operators.TextAnalysis.repetition(docs,
      maxTokenDup = 0.65, maxDupBigram = 0.10, maxTopBigram = 0.08)
      .select("keep").as[Boolean].head()
    assert(bigramGate, "the pin doc must survive the tuned bigram gate")
    val full = graft.operators.TextAnalysis.repetitionNgrams(docs)
      .select("keep", "dup_10gram_frac", "dup_5gram_frac")
      .head()
    assert(!full.getAs[Boolean]("keep"))
    assert(full.getAs[Double]("dup_10gram_frac") == 0.1053) // > 0.10
    assert(full.getAs[Double]("dup_5gram_frac") == 0.1053)  // <= 0.15: 5-gram rule passes
  }
}
