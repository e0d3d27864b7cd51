package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.streaming.StreamDedup

/** Stream == batch parity for near-dup screening (the CusumMonitor parity
  * pattern applied to the LLM-pipeline side): the same documents screened
  * (a) in one shot by Dedup.incremental and (b) through StreamDedup in
  * uneven id-ordered micro-batches must produce IDENTICAL per-doc
  * decisions — statuses, match ids, and match counts.
  */
class StreamDedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  // corpus: 6 distinct docs; stream: near-dups of corpus docs, near-dups
  // of each other, and fresh docs — all ≥3 tokens so each has shingles
  private val corpus = Seq(
    (0L, "the quick brown fox jumps over the lazy dog in the park"),
    (1L, "machine learning models require large amounts of training data"),
    (2L, "the stock market closed higher on strong earnings reports today"),
    (3L, "a recipe for sourdough bread needs flour water salt and patience"),
    (4L, "the committee approved the annual budget after long deliberation"),
    (5L, "solar panels convert sunlight directly into electrical energy"))

  private val streamDocs = Seq(
    // near-dup of corpus 1 (one token changed)
    (100L, "machine learning models require huge amounts of training data"),
    // fresh
    (101L, "quantum computers exploit superposition to explore many states"),
    // near-dup of corpus 2
    (102L, "the stock market closed higher on strong earnings reports friday"),
    // near-dup of 101 (dup_in_batch across micro-batches)
    (103L, "quantum computers exploit superposition to explore several states"),
    // fresh
    (104L, "migrating birds navigate using the earth magnetic field lines"),
    // near-dup of 104 (dup_in_batch within the final micro-batch)
    (105L, "migrating birds navigate using the earth magnetic field maps"),
    // near-dup of corpus 1 again (second corpus dup, later id)
    (106L, "machine learning models require large amounts of labeled data"))

  test("streamed micro-batches reproduce the one-shot incremental report bit-for-bit") {
    val s = spark
    import s.implicits._
    val tau = 0.5
    val corpusDf = corpus.toDF("doc_id", "text")
    val streamDf = streamDocs.toDF("doc_id", "text")

    // batch truth: everything screened as ONE batch against the corpus
    val batch = Dedup.incremental(
        corpusDf.unionByName(streamDf), col("doc_id") >= 100L, tau)
      .orderBy("doc_id").collect()

    // stream: same docs in three uneven id-ordered micro-batches
    val dir = graft.SessionScoped.scratchDir("graft_sdedup")
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    // compactEvery=2 forces a state compaction between micro-batches 1 and
    // 2 — parity below is therefore parity ACROSS a compaction
    val q = StreamDedup.run(input.toDF().toDF("doc_id", "text"),
      corpusDf, dir, tau, compactEvery = 2)
    try {
      Seq(streamDocs.take(2), streamDocs.slice(2, 3), streamDocs.drop(3))
        .foreach { b => input.addData(b); q.processAllAvailable() }
    } finally q.stop()

    // the compaction at batch 2 folded batches 0-1 into one base
    // generation; live state is base-2 + batch-2's own segment
    import graft.streaming.SegmentedState
    assert(SegmentedState.segmentCount(spark, s"$dir/seen_idx") == 2,
      "compaction should leave base + one uncovered segment")
    // and folding lost nothing: the seen index covers every stream doc
    val seenDocs = StreamDedup.seenIdx(spark, dir)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(seenDocs == streamDocs.map(_._1).toSet)

    val stream = StreamDedup.decisions(spark, dir).orderBy("doc_id").collect()
    assert(stream.length == batch.length)
    stream.zip(batch).foreach { case (sr, br) =>
      assert(sr.getAs[Long]("doc_id") == br.getAs[Long]("doc_id"))
      assert(sr.getAs[String]("status") == br.getAs[String]("status"),
        s"doc ${sr.getAs[Long]("doc_id")} status")
      assert(sr.getAs[java.lang.Long]("match_id") == br.getAs[java.lang.Long]("match_id"),
        s"doc ${sr.getAs[Long]("doc_id")} match_id")
      assert(sr.getAs[Long]("n_corpus_matches") == br.getAs[Long]("n_corpus_matches"),
        s"doc ${sr.getAs[Long]("doc_id")} n_corpus")
      assert(sr.getAs[Long]("n_batch_matches") == br.getAs[Long]("n_batch_matches"),
        s"doc ${sr.getAs[Long]("doc_id")} n_batch")
    }
    // and the report is non-trivial: every decision class is exercised
    val statuses = stream.map(_.getAs[String]("status")).toSet
    assert(statuses == Set("kept", "dup_of_corpus", "dup_in_batch"))
  }

  test("segmented state is idempotent under at-least-once replay and compaction") {
    import graft.streaming.{SegmentedState, StreamDedup}
    val s = spark
    import s.implicits._
    val dir = graft.SessionScoped.scratchDir("graft_segstate") + "/st"
    val schema = StreamDedup.IdxSchema
    def seg(rows: (Long, Long)*) = rows.toDF("doc_id", "h")

    // missing dir → empty, not an error
    assert(SegmentedState.readAll(spark, dir, schema).count() == 0)

    SegmentedState.write(seg((1L, 10L), (2L, 20L)), dir, 0L)
    SegmentedState.write(seg((3L, 30L)), dir, 1L)
    // replayed batch 1 overwrites — no duplicate rows accumulate
    SegmentedState.write(seg((3L, 30L)), dir, 1L)
    assert(SegmentedState.readAll(spark, dir, schema).count() == 3)

    // a replayed batch sees state AS OF its id: batch 1 must not see its
    // own (possibly partial) first-attempt segment
    assert(SegmentedState.readAsOf(spark, dir, 1L, schema)
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L))

    // compaction at batch 2 folds batches 0-1; rows and visibility survive
    assert(SegmentedState.maybeCompact(spark, dir, 2L, every = 2, sortKeys = Seq("h")))
    assert(SegmentedState.segmentCount(spark, dir) == 1)
    assert(SegmentedState.readAsOf(spark, dir, 2L, schema)
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
    // replaying the compacting batch is a no-op (already folded)
    assert(!SegmentedState.maybeCompact(spark, dir, 2L, every = 2, sortKeys = Seq("h")))

    // post-compaction writes land as fresh segments on top of the base
    SegmentedState.write(seg((4L, 40L)), dir, 2L)
    assert(SegmentedState.readAll(spark, dir, schema).count() == 4)
    assert(SegmentedState.segmentCount(spark, dir) == 2)
    // off-interval batches never compact
    assert(!SegmentedState.maybeCompact(spark, dir, 3L, every = 2, sortKeys = Seq("h")))
  }

  test("streamed decontamination matches the one-shot screen") {
    import graft.operators.{Decontamination, Materialize}
    import graft.streaming.StreamGate
    val s = spark
    import s.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val evalPred = pmod(col("doc_id"), lit(10)) === 0
    val batch = Decontamination.screen(docs, evalPred, n = 5, minHits = 1)
      .orderBy("doc_id").collect()

    val trainDocs = docs.filter(!evalPred).orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    val dir = graft.SessionScoped.scratchDir("graft_sdecon")
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val evalGrams = Materialize(
      Dedup.shingleIndex(docs.filter(evalPred), 5).select(col("h")).distinct())
    val q = StreamGate.run(input.toDF().toDF("doc_id", "text"), (mb, _) =>
      Decontamination.screenAgainst(Dedup.shingleIndex(mb, 5), evalGrams, 1), dir)
    try {
      Seq(trainDocs.take(7), trainDocs.drop(7))
        .foreach { b => input.addData(b.toSeq); q.processAllAvailable() }
    } finally q.stop()

    val stream = StreamGate.report(spark, dir).orderBy("doc_id").collect()
    assert(stream.length == batch.length && stream.nonEmpty)
    stream.zip(batch).foreach { case (sr, br) =>
      assert(sr.getAs[Long]("doc_id") == br.getAs[Long]("doc_id"))
      assert(sr.getAs[Long]("n_shingles") == br.getAs[Long]("n_shingles"))
      assert(sr.getAs[Long]("n_eval_hits") == br.getAs[Long]("n_eval_hits"))
      assert(sr.getAs[Double]("contamination_frac") == br.getAs[Double]("contamination_frac"))
      assert(sr.getAs[Boolean]("contaminated") == br.getAs[Boolean]("contaminated"))
    }
  }

  test("streamed fuzzy decontamination matches the one-shot screen") {
    import graft.operators.Dedup
    import graft.streaming.StreamGate
    val s = spark
    import s.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val evalPred = pmod(col("doc_id"), lit(10)) === 0
    val batch = Dedup.fuzzyDecontaminate(docs, evalPred, tau = 0.6)
      .orderBy("doc_id").collect()
    assert(batch.nonEmpty) // the synthetic corpus plants cross-set near-dups

    val trainDocs = docs.filter(!evalPred).orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    val dir = graft.SessionScoped.scratchDir("graft_sfuzzy")
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = StreamGate.run(input.toDF().toDF("doc_id", "text"),
      Dedup.fuzzyDecontamGate(docs.filter(evalPred), tau = 0.6), dir)
    try {
      Seq(trainDocs.take(100), trainDocs.drop(100))
        .foreach { b => input.addData(b.toSeq); q.processAllAvailable() }
    } finally q.stop()

    val stream = StreamGate.report(spark, dir)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(stream sameElements batch.map(r =>
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))))
  }

  test("fuzzy decontamination gate: restart from checkpoint == one-shot run") {
    // the recovery contract on the newest gate (StreamRestartSpec pattern):
    // a hard stop mid-replay + restart from the same checkpoint re-emits
    // its micro-batch into the overwrite-keyed report dir — nothing lost,
    // nothing duplicated
    import graft.streaming.{Feeder, StreamGate}
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val evalPred = pmod(col("doc_id"), lit(10)) === 0
    val evalDocs = docs.filter(evalPred)
    val feedCols = docs.filter(!evalPred)
    def feed(work: String): Unit = Feeder.writeTimeSlicedFeed(
      feedCols.withColumn("_ms", col("doc_id")), "_ms", work, 4)
    def stream(work: String): org.apache.spark.sql.DataFrame =
      spark.readStream.schema(feedCols.schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$work/feed")
    def rows(work: String): Seq[String] =
      StreamGate.report(spark, work).collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

    val one = graft.SessionScoped.scratchDir("graft_sfuzzy_rs1")
    feed(one)
    val q1 = StreamGate.run(stream(one),
      Dedup.fuzzyDecontamGate(evalDocs, tau = 0.6), one)
    q1.processAllAvailable(); q1.stop()

    val re = graft.SessionScoped.scratchDir("graft_sfuzzy_rs2")
    feed(re)
    val q2a = StreamGate.run(stream(re),
      Dedup.fuzzyDecontamGate(evalDocs, tau = 0.6), re)
    var waited = 0
    while (q2a.recentProgress.length < 2 && waited < 300) {
      Thread.sleep(100); waited += 1
    }
    q2a.stop() // hard stop mid-replay
    val q2b = StreamGate.run(stream(re),
      Dedup.fuzzyDecontamGate(evalDocs, tau = 0.6), re)
    q2b.processAllAvailable(); q2b.stop()
    val (o, r) = (rows(one), rows(re))
    assert(o.nonEmpty && o == r)
  }

  test("fuzzy decontamination gate: a batch carrying an eval doc_id fails the query") {
    // the gate's disjoint-id contract: a shared id would merge the two
    // documents' shingle sets in the verify index, so the batch must fail
    // loudly instead of reporting corrupted Jaccards
    import graft.streaming.StreamGate
    val s = spark
    import s.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val evalPred = pmod(col("doc_id"), lit(10)) === 0
    val evalRow = docs.filter(evalPred).orderBy("doc_id").head()
    val trainRow = docs.filter(!evalPred).orderBy("doc_id").head()
    val dir = graft.SessionScoped.scratchDir("graft_sfuzzy_ids")
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val q = StreamGate.run(input.toDF().toDF("doc_id", "text"),
      Dedup.fuzzyDecontamGate(docs.filter(evalPred), tau = 0.6), dir)
    val e = try {
      input.addData((trainRow.getLong(0), trainRow.getString(1)),
        (evalRow.getLong(0), "an unrelated training text reusing an eval id"))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        q.processAllAvailable())
    } finally q.stop()
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).flatMap(t => Option(t.getMessage)).toSeq
    assert(msgs.exists(_.contains("collide with the eval set")),
      s"expected the disjoint-id failure, got: ${msgs.mkString(" / ")}")
  }

  test("streamed embedding micro-batches reproduce the one-shot incremental report") {
    import graft.operators.Similarity
    import graft.streaming.StreamEmbedDedup
    val s = spark
    import s.implicits._
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val isBatch = pmod(col("vec_id"), lit(5)) === 0

    // One explicit width for both runs: incrementalEmbed sizes from the
    // whole table, the stream from the standing corpus — near a
    // power-of-two boundary those can differ, so parity tests pin it.
    val bb = Similarity.bandsFor(emb.count())
    val batch = Similarity.incrementalEmbed(emb, isBatch, Similarity.LshTau,
        bandBitsOpt = Some(bb))
      .orderBy("vec_id").collect()

    val batchVecs = emb.filter(isBatch).orderBy("vec_id").collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Seq[Float]]("embedding").toArray))
    val corpus = emb.filter(!isBatch)
    val dir = graft.SessionScoped.scratchDir("graft_sedup")
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, Array[Float])]
    val q = StreamEmbedDedup.run(
      input.toDF().toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>")),
      corpus, dir, Similarity.LshTau, bandBits = Some(bb), compactEvery = 2)
    try {
      Seq(batchVecs.take(3), batchVecs.slice(3, 4), batchVecs.drop(4))
        .foreach { b => input.addData(b.toSeq); q.processAllAvailable() }
    } finally q.stop()

    import graft.streaming.SegmentedState
    assert(SegmentedState.segmentCount(spark, s"$dir/seen_coded") == 2,
      "compaction should leave base + one uncovered segment")

    val stream = StreamEmbedDedup.decisions(spark, dir).orderBy("vec_id").collect()
    assert(stream.length == batch.length && stream.nonEmpty)
    stream.zip(batch).foreach { case (sr, br) =>
      assert(sr.getAs[Long]("vec_id") == br.getAs[Long]("vec_id"))
      assert(sr.getAs[String]("status") == br.getAs[String]("status"),
        s"vec ${sr.getAs[Long]("vec_id")} status")
      assert(sr.getAs[java.lang.Long]("match_id") == br.getAs[java.lang.Long]("match_id"),
        s"vec ${sr.getAs[Long]("vec_id")} match_id")
      assert(sr.getAs[Long]("n_corpus_matches") == br.getAs[Long]("n_corpus_matches"))
      assert(sr.getAs[Long]("n_batch_matches") == br.getAs[Long]("n_batch_matches"))
    }
  }

  test("embed-dedup stream pins its band width across restarts") {
    // The persisted seen_coded codes are only valid at the width they were
    // computed at; a restart must ADOPT the recorded width (even when the
    // corpus has since crossed a bandsFor boundary) and an explicit
    // conflicting width must fail loudly, not silently mis-band old state.
    import graft.operators.Similarity
    import graft.streaming.StreamEmbedDedup
    val s = spark
    import s.implicits._
    val corpus = (0L until 10L)
      .map(i => (i, Array.tabulate(64)(d => (i * 64 + d).toFloat / 640f)))
      .toDF("vec_id", "embedding")
    val dir = graft.SessionScoped.scratchDir("graft_sedup_bb")
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Long, Array[Float])]
    val stream = input.toDF().toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>"))
    val q = StreamEmbedDedup.run(stream, corpus, dir, Similarity.LshTau,
      bandBits = Some(5))
    try { input.addData(Seq((100L, Array.fill(64)(0.1f)))); q.processAllAvailable() }
    finally q.stop()
    // restart with no explicit width: adopts the persisted 5, does not
    // re-derive from the (tiny) corpus whose bandsFor floor is 3
    val q2 = StreamEmbedDedup.run(stream, corpus, dir, Similarity.LshTau)
    try { input.addData(Seq((101L, Array.fill(64)(0.2f)))); q2.processAllAvailable() }
    finally q2.stop()
    val codeLens = StreamEmbedDedup.seenCoded(spark, dir)
      .select(size(col("code"))).collect().map(_.getInt(0)).toSet
    assert(codeLens == Set(Similarity.lshBandsMpFor(5)),
      s"restart drifted the code width: band counts $codeLens")
    // an explicit conflicting width must refuse at setup
    val err = intercept[IllegalArgumentException] {
      StreamEmbedDedup.run(stream, corpus, dir, Similarity.LshTau,
        bandBits = Some(7))
    }
    assert(err.getMessage.contains("bandBits"))
    // ... and so must an explicit conflicting probe VARIANT: band counts
    // differ between layouts, so verbatim-coded batches would mis-join
    // the persisted multi-probe state
    val errMp = intercept[IllegalArgumentException] {
      StreamEmbedDedup.run(stream, corpus, dir, Similarity.LshTau,
        bandBits = Some(5), multiProbe = Some(false))
    }
    assert(errMp.getMessage.contains("multiProbe"))

    // a LOST layout file over existing coded state must refuse loudly —
    // re-deriving a default layout would silently mis-join every
    // persisted code (crash/partial-copy/legacy-writer scenario)
    val bb = java.nio.file.Paths.get(dir, "band_bits")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "band_bits.tmp")),
      "atomic layout write must not leave its temp file behind")
    java.nio.file.Files.delete(bb)
    val errLost = intercept[IllegalArgumentException] {
      StreamEmbedDedup.run(stream, corpus, dir, Similarity.LshTau)
    }
    assert(errLost.getMessage.contains("band_bits") &&
      errLost.getMessage.contains("missing"))

    // ... and a half-written (empty) layout file must fail parse-loudly,
    // not with an opaque NumberFormatException
    java.nio.file.Files.write(bb, Array.empty[Byte])
    val errEmpty = intercept[IllegalStateException] {
      StreamEmbedDedup.run(stream, corpus, dir, Similarity.LshTau)
    }
    assert(errEmpty.getMessage.contains("unparseable"))
  }

  test("embed-dedup late arrival: corpus decisions are order-independent," +
      " batch classes keep exactly one first arrival") {
    // The corpus screen is a set join against FIXED state, so a slice
    // arriving late (after later-id vectors already went through) must
    // make the identical corpus-match decisions. Batch-batch attribution
    // is first-ARRIVAL-wins by design (the streaming analog of ST4's
    // first-write-wins; id order only breaks ties INSIDE one micro-batch),
    // so the order-independent contract there is exactly-one-keeper per
    // near-dup class, with the dup pointing at whichever member arrived
    // first — pinned here in both arrival orders.
    import graft.operators.Similarity
    import graft.streaming.StreamEmbedDedup
    val s = spark
    import s.implicits._
    // one-hot vectors: cosine is EXACTLY 1 for identical ids and 0
    // otherwise, so near-dup classes are unambiguous at any tau and
    // identical vectors share SRP codes (deterministic candidacy)
    def vec(i: Int): Array[Float] =
      Array.tabulate(64)(d => if (d == i) 1f else 0f)
    val corpus = (0 until 10)
      .map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")
    // A(100) == corpus vec 1 exactly; B1(101) == B2(102) (mutual dups,
    // far from corpus); D(103) unique
    val batch = Map(
      100L -> vec(1), 101L -> vec(20), 102L -> vec(20), 103L -> vec(30))
    val bb = Similarity.bandsFor(10L)

    def runOrder(name: String, slices: Seq[Seq[Long]]): Map[Long, (String, Option[Long])] = {
      val dir = SessionScoped.scratchDir(s"graft_sedup_late_$name")
      implicit val sq = spark.sqlContext
      val input = MemoryStream[(Long, Array[Float])]
      val q = StreamEmbedDedup.run(
        input.toDF().toDF("vec_id", "embedding")
          .select(col("vec_id"), col("embedding").cast("array<float>")),
        corpus, dir, Similarity.LshTau, bandBits = Some(bb))
      try slices.foreach { ids =>
        input.addData(ids.map(id => (id, batch(id))))
        q.processAllAvailable()
      } finally q.stop()
      StreamEmbedDedup.decisions(spark, dir).collect().map { r =>
        r.getAs[Long]("vec_id") ->
          (r.getAs[String]("status"), Option(r.getAs[java.lang.Long]("match_id")).map(_.toLong))
      }.toMap
    }

    // in-order vs late: the small-id slice [100, 101] arrives AFTER the
    // later-id slice [102, 103] in the second run
    val inOrder = runOrder("a", Seq(Seq(100L, 101L), Seq(102L, 103L)))
    val late = runOrder("b", Seq(Seq(102L, 103L), Seq(100L, 101L)))

    // corpus decisions: identical in both orders (set join, fixed state)
    for (d <- Seq(inOrder, late)) {
      assert(d(100L) == (("dup_of_corpus", Some(1L))), s"got ${d(100L)}")
      assert(d(103L)._1 == "kept", s"got ${d(103L)}")
    }
    // batch-batch class {101, 102}: exactly one keeper in each order, the
    // dup pointing at the first arrival
    assert(inOrder(101L)._1 == "kept")
    assert(inOrder(102L) == (("dup_in_batch", Some(101L))), s"got ${inOrder(102L)}")
    assert(late(102L)._1 == "kept")
    assert(late(101L) == (("dup_in_batch", Some(102L))), s"got ${late(101L)}")
  }

  test("streamed DSIR weights match the one-shot scorer in any arrival order") {
    import graft.operators.TextAnalysis
    import graft.streaming.StreamGate
    val s = spark
    import s.implicits._
    val nBuckets = 256
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val target = col("lang") === "en"
    val batch = TextAnalysis.dsirWeights(docs, target, nBuckets)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_grams"),
        r.getAs[Long]("logw_q"), r.getAs[Boolean]("selected")))

    val rows = docs.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))

    def runStream(name: String, order: Array[(Long, String)], splitAt: Int) = {
      val dir = SessionScoped.scratchDir(s"graft_sdsir_$name")
      implicit val sq = spark.sqlContext
      val input = MemoryStream[(Long, String)]
      val q = StreamGate.run(input.toDF().toDF("doc_id", "text"),
        TextAnalysis.dsirGate(docs, target, nBuckets), dir)
      try Seq(order.take(splitAt), order.drop(splitAt)).foreach { b =>
        input.addData(b.toSeq); q.processAllAvailable()
      } finally q.stop()
      StreamGate.report(spark, dir).orderBy("doc_id").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_grams"),
          r.getAs[Long]("logw_q"), r.getAs[Boolean]("selected")))
    }

    // ascending ids split 1/3-2/3, then DESCENDING ids split in half: the
    // scoring is stateless against fixed LMs, so both arrival orders must
    // reproduce the batch report row-for-row
    val fwd = runStream("fwd", rows.sortBy(_._1), rows.length / 3)
    val rev = runStream("rev", rows.sortBy(-_._1), rows.length / 2)
    assert(fwd.length == batch.length && batch.nonEmpty)
    assert(fwd.toSeq == batch.toSeq)
    assert(rev.toSeq == batch.toSeq)
  }

  test("streamed NB predictions match the one-shot classifier in any arrival order") {
    import graft.operators.TextAnalysis
    import graft.streaming.StreamGate
    val s = spark
    import s.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val train = docs.filter(col("doc_id") % 2 === 0)
    val score = docs.filter(col("doc_id") % 2 === 1)
    val batch = TextAnalysis.nbClassify(train, score)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("pred"),
        r.getAs[Boolean]("correct"), r.getAs[Double]("nll")))

    val rows = score.select(col("doc_id"), col("text"), col("lang")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))

    def runStream(name: String, order: Array[(Long, String, String)],
        splitAt: Int) = {
      val dir = SessionScoped.scratchDir(s"graft_snb_$name")
      implicit val sq = spark.sqlContext
      val input = MemoryStream[(Long, String, String)]
      val model = TextAnalysis.nbModel(train, "lang")
      val q = StreamGate.run(input.toDF().toDF("doc_id", "text", "lang"),
        (mb, _) => TextAnalysis.nbScore(mb, model, "lang"), dir)
      try Seq(order.take(splitAt), order.drop(splitAt)).foreach { b =>
        input.addData(b.toSeq); q.processAllAvailable()
      } finally q.stop()
      StreamGate.report(spark, dir).orderBy("doc_id").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("pred"),
          r.getAs[Boolean]("correct"), r.getAs[Double]("nll")))
    }

    // stateless scoring under a fixed model: any slicing or order must
    // reproduce the batch report row-for-row
    val fwd = runStream("fwd", rows.sortBy(_._1), rows.length / 3)
    val rev = runStream("rev", rows.sortBy(-_._1), rows.length / 2)
    assert(fwd.length == batch.length && batch.nonEmpty)
    assert(fwd.toSeq == batch.toSeq)
    assert(rev.toSeq == batch.toSeq)
  }

  test("streamed blocklist and repetition gates match the batch scans in any order") {
    import graft.operators.TextAnalysis
    import graft.streaming.StreamGate
    val s = spark
    import s.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val rows = docs.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))

    def runStream(name: String, gate: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame, order: Array[(Long, String)],
        splitAt: Int) = {
      val dir = SessionScoped.scratchDir(s"graft_sgate_$name")
      implicit val sq = spark.sqlContext
      val input = MemoryStream[(Long, String)]
      val q = StreamGate.run(input.toDF().toDF("doc_id", "text"),
        (mb, _) => gate(mb), dir)
      try Seq(order.take(splitAt), order.drop(splitAt)).foreach { b =>
        input.addData(b.toSeq); q.processAllAvailable()
      } finally q.stop()
      StreamGate.report(spark, dir).orderBy("doc_id").collect()
        .map(_.toSeq).toSeq
    }

    // both gates close over constants only, so ANY slicing or arrival
    // order must reproduce the batch report row-for-row
    val blockGate = (d: org.apache.spark.sql.DataFrame) =>
      TextAnalysis.blocklist(d, Seq("slow", "dup"))
    val batchBlock = blockGate(docs).orderBy("doc_id").collect()
      .map(_.toSeq).toSeq
    // planted signal: the gate must actually drop something
    assert(batchBlock.exists(r => r.last == false) &&
      batchBlock.exists(r => r.last == true))
    assert(runStream("block_fwd", blockGate, rows.sortBy(_._1),
      rows.length / 3) == batchBlock)
    assert(runStream("block_rev", blockGate, rows.sortBy(-_._1),
      rows.length / 2) == batchBlock)

    val repGate = (d: org.apache.spark.sql.DataFrame) =>
      TextAnalysis.repetition(d, maxTokenDup = 0.55,
        maxDupBigram = 0.06, maxTopBigram = 0.05)
    val batchRep = repGate(docs).orderBy("doc_id").collect()
      .map(_.toSeq).toSeq
    assert(batchRep.exists(r => r.last == false) &&
      batchRep.exists(r => r.last == true))
    assert(runStream("rep_fwd", repGate, rows.sortBy(_._1),
      rows.length / 3) == batchRep)
    assert(runStream("rep_rev", repGate, rows.sortBy(-_._1),
      rows.length / 2) == batchRep)

    // the third constant-closure gate: the structural rule gate
    val rulesGate = (d: org.apache.spark.sql.DataFrame) =>
      TextAnalysis.qualityRules(d, minWords = 30, maxWords = 90,
        minMeanLen = 3.0, maxMeanLen = 5.0, maxWordLen = 7,
        minStopDistinct = 2, maxShortFrac = 0.05)
    val batchRules = rulesGate(docs).orderBy("doc_id").collect()
      .map(_.toSeq).toSeq
    assert(runStream("rules_fwd", rulesGate, rows.sortBy(_._1),
      rows.length / 3) == batchRules)
  }

  test("streamed CCNet routing matches the fixed-threshold batch router in any order") {
    import graft.operators.TextAnalysis
    import graft.streaming.StreamGate
    val s = spark
    import s.implicits._
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val train = docs.filter(col("doc_id") % 4 === 0)
    val calib = docs.filter(col("doc_id") % 4 === 2)
    val score = docs.filter(col("doc_id") % 2 === 1)
    val batch = TextAnalysis.ccnetBucketsFixed(train, calib, score)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("bucket")))
    // planted signal: all three live buckets must carry traffic, or the
    // parity below proves nothing about the threshold comparisons
    assert(Set("head", "middle", "tail").subsetOf(batch.map(_._2).toSet))

    val rows = score.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))

    def runStream(name: String, order: Array[(Long, String)], splitAt: Int) = {
      val dir = SessionScoped.scratchDir(s"graft_sccnet_$name")
      implicit val sq = spark.sqlContext
      val input = MemoryStream[(Long, String)]
      val model = TextAnalysis.knModel(train)
      val th = TextAnalysis.ccnetThresholds(model, calib)
      val q = StreamGate.run(input.toDF().toDF("doc_id", "text"),
        (mb, _) => TextAnalysis.ccnetRoute(mb, model, th), dir)
      try Seq(order.take(splitAt), order.drop(splitAt)).foreach { b =>
        input.addData(b.toSeq); q.processAllAvailable()
      } finally q.stop()
      StreamGate.report(spark, dir).orderBy("doc_id").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("bucket")))
    }

    // fixed model + fixed thresholds: any slicing or order reproduces
    // the batch routing row-for-row
    val fwd = runStream("fwd", rows.sortBy(_._1), rows.length / 3)
    val rev = runStream("rev", rows.sortBy(-_._1), rows.length / 2)
    assert(fwd.length == batch.length && batch.nonEmpty)
    assert(fwd.toSeq == batch.toSeq)
    assert(rev.toSeq == batch.toSeq)
  }
}
