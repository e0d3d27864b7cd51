package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape regression gate: no shipped query may plan an unkeyed join.
  *
  * A CartesianProduct or a BroadcastNestedLoopJoin over non-tiny inputs is
  * the one plan shape that silently works at test scale and detonates at
  * corpus scale (the round-1 simhash/embedding-dedup findings). This spec
  * walks EVERY SparkEntry query at sf0.001 and fails if one ever plans a
  * cartesian, or a BNLJ outside the known single-digit-row broadcasts
  * (single-row corpus totals, decile thresholds, the centroid table).
  */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** Queries whose plan legitimately contains a BroadcastNestedLoopJoin:
    * the broadcast side is a one-row aggregate, the (≤ nCentroids)-row
    * centroid table, or the bounded query set of the brute-force ANN
    * baseline — constant-size by construction, never corpus-sized. */
  private val bnljAllowed = Set("q_tfidf", "q_quality_deciles", "q_source_mix",
    "q_cosine_ivf", "q_cosine_ivf_probe", "q_ivf_append", // centroid bcasts
    "q_cosine_pq", "q_cosine_ivfpq", // K-row codebook / centroid bcasts
    "q_cosine_ivfpq_sampled",
    // rerank shares the parent's adcScored stage — its BNLJs are the SAME
    // constant-size centroid/codebook broadcasts; the rerank stage itself
    // adds only keyed joins (ProductQuantizer.searchIvfPqRerank)
    "q_cosine_ivfpq_rerank",
    "q_embed_clusters", "q_dedup_embed_ivf",
    "q_dedup_embed_ivf2", // centroid-table broadcast in ivfAssignTop
    "q_semdedup", // the same nCentroids-row broadcast assign
    "q_cosine_topk", "q_ivf_recall", // exact side = brute-force query bcast
    "q_cosine_q8", "q_hybrid_search", "q_sample_temperature",
    "q_bm25", "q_knn_classify", "q_drift",
    "q_embed_outliers", "q_embed_drift", // ≤ nCentroids-row centroid broadcast
    "q_integrity", // one-row per-relationship totals broadcast
    "q_topk_sketch_check", // one-row merged MG-summary broadcast
    "q_stream_topk_check", // same one-row summary, streamed segments
    "q_decontaminate_bloom", // one-row bloom-filter broadcast
    "q_novelty_bloom", // the same one-row bloom-filter broadcast prescreen
    "q_dsir", // one-row gram-total broadcasts under the bucket LMs
    "q_dsir_resample", // the same one-row totals under the weights stage
    // one-row n_docs-total broadcast under the IDF weights; surfaced in the
    // static plan once the r15 huge() materialize stopped truncating lineage
    "q_tfidf_pairs",
    "q_pmi", // one-row unigram/bigram-total broadcast
    // one-row N1+(··) / Σn1 scalar broadcasts (r18: the former blocking
    // driver count()/head() now rides the scoring job as a broadcast)
    "q_kn3_lm", "q_backoff_lm",
    // one-row min/max×distinct-count profile join (r18: splitting the two
    // aggregates un-sorts the Expand frame; both sides are single rows)
    "q_profile",
    "q_triangles", // one-row census × one-row totals join
    // one-row node-count + dangling-mass broadcasts ride along every round
    "q_pagerank", "q_pagerank_dangling",
    // the C-row class-prior table widening each scored doc's token types
    // (C = distinct labels, single digits by construction)
    "q_nb_classify", "q_nb_confusion",
    "q_nb_margin", // the same C-row class-prior widen + one-row total
    "q_data_card", // one-row corpus-total broadcast (same as q_source_mix)
    // strata-sized water-filling: one-row pool aggregates (wsum/used)
    // cross-joined back per redistribution round — the sourceMix idiom
    "q_mix_plan",
    "q_ccnet_buckets") // one-row tercile-threshold broadcast (qualityDeciles idiom)

  /** What the two registry audits read from one query's sparkPlan. */
  private final case class PlanFindings(cartesian: Boolean, bnlj: Boolean,
      unpartitionedWindows: Int)

  /** Every SparkEntry query's findings at sf0.001, from ONE registry pass
    * shared by both audits. Building a plan runs the query's construction
    * jobs, so a second pass would pay them all again. Only the findings
    * are kept: holding the plans would pin every localCheckpointed block
    * they reference. */
  private lazy val findings: Seq[(String, PlanFindings)] = {
    import org.apache.spark.sql.execution.window.WindowExec
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val plan = fn(spark, "/root/testdata/sf0.001").queryExecution.sparkPlan
      val text = plan.toString
      name -> PlanFindings(text.contains("CartesianProduct"),
        text.contains("BroadcastNestedLoopJoin"),
        plan.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }.size)
    }
  }

  test("no shipped query plans a cartesian or an unexpected nested-loop join") {
    val offenders = findings.flatMap { case (name, f) =>
      val bnlj = f.bnlj && !bnljAllowed(name)
      if (f.cartesian || bnlj)
        Some(s"$name: ${if (f.cartesian) "CartesianProduct" else "BroadcastNestedLoopJoin"}")
      else None
    }
    assert(offenders.isEmpty, s"unkeyed joins in: ${offenders.mkString("; ")}")
  }

  /** Queries whose single-partition window runs over a provably bounded
    * input: q_rolling_beta lags the equal-weight market index, which is
    * one row per HOUR (O(calendar span), ~100k rows for a decade of
    * hours) — never corpus-sized, so one partition is the right plan.
    * q_corr_matrix row-numbers the DISTINCT SYMBOL dictionary
    * (O(listing count) rows) to dictionary-encode its pair keys.
    * q_shuffle_shards / q_shards_stratified prefix-sum PER-BUCKET COUNTS
    * — one row per hash/frac bucket (nBuckets total, a fixed knob
    * ≤ 2^20), never per-document; the corpus-sized ranks run under the
    * bucket-partitioned windows. */
  private val globalWindowAllowed =
    Set("q_rolling_beta", "q_leadlag", "q_corr_matrix", "q_shuffle_shards",
      // q_nb_margin's cumulative risk-coverage window runs over the
      // band table — <= nBands (10) rows by construction
      "q_shards_stratified", "q_nb_margin")

  test("no shipped query windows over an unpartitioned frame") {
    val offenders = findings.flatMap { case (name, f) =>
      if (f.unpartitionedWindows > 0 && !globalWindowAllowed(name))
        Some(s"$name: ${f.unpartitionedWindows} unpartitioned Window(s)")
      else None
    }
    assert(offenders.isEmpty,
      s"single-partition windows in: ${offenders.mkString("; ")}")
  }

  test("runtime bloom-filter join pruning fires on a selective shuffle join") {
    // The row-level complement of DPP: when the fact side is NOT laid out
    // by the join key, Spark 3.3+ can still inject a bloom filter built
    // from the filtered dim into the fact scan. Thresholds are lowered to
    // make test-sized tables eligible; all confs restored after.
    import org.apache.spark.sql.functions._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1KB")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
      val dir = graft.SessionScoped.scratchDir("graft_bloom")
      val spark2 = spark
      import spark2.implicits._
      (1 to 50000).map(i => (i.toLong, i % 1000, s"p$i"))
        .toDF("id", "k", "payload")
        .write.mode("overwrite").parquet(s"$dir/fact")
      (0 until 1000).map(k => (k, if (k < 5) "keep" else "drop"))
        .toDF("k", "flag")
        .write.mode("overwrite").parquet(s"$dir/dim")
      val q = spark.read.parquet(s"$dir/fact")
        .join(spark.read.parquet(s"$dir/dim").filter(col("flag") === "keep"), "k")
        .groupBy(col("k")).agg(count(lit(1)).as("n"))
      val plan = q.queryExecution.optimizedPlan.toString
      assert(plan.contains("bloom_filter_agg") || plan.contains("BloomFilter"),
        s"no runtime bloom filter in optimized plan:\n$plan")
      assert(q.collect().length == 5)
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("dynamic partition pruning fires on a partitioned fact ⋈ filtered dim") {
    // The cluster-scale analog of the hypertable chunk exclusion the
    // reference gets from TimescaleDB: a fact table laid out by partition
    // key must only read the partitions the dim filter selects, with the
    // filter discovered at RUNTIME through the join (DPP), not hand-pushed.
    import org.apache.spark.sql.functions._
    val dir = graft.SessionScoped.scratchDir("graft_dpp")
    val spark2 = spark
    import spark2.implicits._
    val fact = (1 to 10000).map(i => (i.toLong, i % 25, i * 1.5))
      .toDF("id", "nk", "amount")
    fact.write.mode("overwrite").partitionBy("nk").parquet(s"$dir/fact")
    // dim must be a real scan: a local relation would constant-fold the
    // filter away and leave DPP no selective predicate to derive from
    (0 until 25).map(k => (k, if (k < 2) "keep" else "drop"))
      .toDF("nk", "flag")
      .write.mode("overwrite").parquet(s"$dir/dim")
    val dim = spark.read.parquet(s"$dir/dim")
    val q = spark.read.parquet(s"$dir/fact")
      .join(dim.filter(col("flag") === "keep"), "nk")
      .groupBy(col("nk")).agg(sum(col("amount")).as("total"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning") || plan.contains("DynamicPruning"),
      s"no dynamic partition pruning in:\n$plan")
    assert(q.collect().length == 2)
  }

  test("AQE splits a skewed shuffle-join partition at runtime (OptimizeSkewedJoin)") {
    // SCALE.md leans on "AQE handles residual skew" for the power-law keys
    // salting doesn't cover — prove it live like bloom/DPP above: build a
    // join where 90% of the left side lands on one key, force a sort-merge
    // join, and assert the EXECUTED plan (post-AQE re-plan) carries the
    // skew=true marker OptimizeSkewedJoin stamps on the split join node.
    // Thresholds are lowered so a test-sized shuffle is eligible; restored
    // after.
    import org.apache.spark.sql.functions._
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.adaptive.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      // left: 200k rows, 90% on key 0 (one hot shuffle partition), the rest
      // spread over 997 keys; right: all 1000 keys, too big to broadcast
      // only because broadcasting is disabled — the point is the shuffle.
      // Downstream is a GLOBAL aggregate on purpose: a groupBy on the join
      // key would let the agg reuse the join's hash partitioning, and
      // splitting the hot partition would break that copartitioning, so
      // OptimizeSkewedJoin (without force) would correctly decline.
      // payload = md5(id): high-entropy so the hot partition's shuffle bytes
      // don't compress below the skew threshold (180k identical join keys
      // alone deflate to a few KB), and aggregated downstream so column
      // pruning can't strip it from the shuffle.
      val left = spark.range(200000).select(
        when(col("id") % 10 < 9, lit(0L))
          .otherwise(pmod(col("id"), lit(997))).as("k"),
        md5(col("id").cast("string")).as("payload"))
      val right = spark.range(1000).select(
        col("id").as("k"), (col("id") * 2).as("weight"))
      val q = left.join(right, "k")
        .agg(count(lit(1)).as("n"),
          (sum(col("weight")) + sum(length(col("payload")))).as("w"))
      // execute THIS dataset, then read its post-AQE final plan
      assert(q.collect().head.getLong(0) == 200000L) // every left key is in right
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"OptimizeSkewedJoin did not split the hot partition; executed plan:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("events range predicate pushes to the parquet scan for every physical ts variant") {
    // The driver has regenerated testdata with three different physical
    // types for events.ts across rounds (TIMESTAMP µs-instant, TIMESTAMP
    // NTZ, TIMESTAMP(NANOS) read as raw ns LONG). Tables.eventsRange
    // deliberately filters the RAW column in its native type so the range
    // predicate reaches the scan as a PushedFilter; this pins that for ALL
    // variants, so the next regeneration can't silently un-push it and turn
    // the read API into a full scan (commit ed5daff is the live hazard).
    import org.apache.spark.sql.functions._
    val spark2 = spark
    import spark2.implicits._
    val base = graft.SessionScoped.scratchDir("graft_tsvariants")
    val instants = (0 until 1000).map(i =>
      java.time.Instant.parse("2024-01-01T00:00:00Z").plusSeconds(i * 3600L))
    val rows = instants.zipWithIndex.map { case (t, i) => (i.toLong, t) }

    // micro-instant TIMESTAMP
    val utcDir = s"$base/utc"
    rows.map { case (id, t) => (id, java.sql.Timestamp.from(t)) }
      .toDF("event_id", "ts").write.parquet(s"$utcDir/events.parquet")
    // TIMESTAMP_NTZ (wall-clock, no UTC flag)
    val ntzDir = s"$base/ntz"
    rows.toDF("event_id", "ts")
      .select(col("event_id"), to_timestamp_ntz(col("ts")).as("ts"))
      .write.parquet(s"$ntzDir/events.parquet")
    // raw ns LONG (how Spark reads TIMESTAMP(NANOS) under the legacy conf)
    val nsDir = s"$base/ns"
    rows.map { case (id, t) =>
      (id, t.getEpochSecond * 1000000000L + t.getNano)
    }.toDF("event_id", "ts").write.parquet(s"$nsDir/events.parquet")

    val from = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-05T00:00:00Z"))
    val until = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-10T00:00:00Z"))
    val expected = instants.count(t =>
      !t.isBefore(from.toInstant) && t.isBefore(until.toInstant))
    for (dir <- Seq(utcDir, ntzDir, nsDir)) {
      val q = graft.sources.Tables.eventsRange(spark, dir, from, until)
      val scanLine = q.queryExecution.executedPlan.toString
        .linesIterator.find(_.contains("PushedFilters")).getOrElse("")
      assert(scanLine.contains("GreaterThanOrEqual(ts") && scanLine.contains("LessThan(ts"),
        s"$dir: range predicate not pushed to the parquet scan: $scanLine")
      assert(q.count() == expected, s"$dir: wrong row count after normalization")
      // normalized output is variant-invariant: same instants either way
      val minTs = q.agg(min(col("ts"))).head.getTimestamp(0)
      assert(minTs.toInstant == from.toInstant, s"$dir: min ts ${minTs.toInstant}")
    }
  }
}
