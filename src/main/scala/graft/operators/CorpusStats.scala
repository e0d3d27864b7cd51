package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Materialize.MatOps
import graft.EntryMath.{r => r4}

/** Corpus-composition statistics: the "data mixing" view of a training
  * corpus — per-(source, lang) volumes plus temperature-scaled resampling
  * weights (p_i ∝ n_i^α, the multilingual/multi-domain mixing rule from
  * the mBERT/T5 lineage; α < 1 upsamples rare strata).
  *
  * Scale design: one map-side-combinable aggregate over the corpus; the
  * grouped result is strata-sized (thousands of rows at most), so the
  * normalizing total and the window over it are free. Nothing here is a
  * second corpus scan.
  */
object CorpusStats {


  /** Per-(source, lang): document/token/char volumes, mean doc length, and
    * the α-temperature resampling weight normalized across all strata. */
  def sourceMix(docs: DataFrame, alpha: Double): DataFrame = {
    val toks = TextAnalysis.tokens(col("text"))
    val g = docs
      .select(col("source"), col("lang"), size(toks).as("n_tok"), col("n_chars"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"))
      .withColumn("raw_w", pow(col("n_docs").cast("double"), lit(alpha)))
    // normalizing total: one scalar row, broadcast — avoids the global
    // (unpartitioned) window's single-partition exchange over the strata
    val total = g.agg(sum(col("raw_w")).as("tot_w"))
    g.crossJoin(broadcast(total))
      .withColumn("mean_doc_tokens", r4(col("n_tokens").cast("double") / col("n_docs")))
      .withColumn("mix_weight", r4(col("raw_w") / col("tot_w")))
      .drop("raw_w", "tot_w")
  }

  /** Token-budget mixture PLAN — the data-recipe step between
    * [[sourceMix]]'s descriptive weights and an actual training run:
    * given a total token budget (`budgetPct` of the corpus), a mixing
    * temperature α, and a per-stratum repetition cap (`maxEpochs` — the
    * "don't repeat any source more than k times" rule the LLaMA/Gopher
    * recipes apply), emit each (source, lang) stratum's token quota and
    * implied epoch count.
    *
    * Allocation is WATER-FILLING: every stratum asks for budget·w/Σw
    * (w ∝ n_tokens^α, so α < 1 upsamples rare strata); a stratum whose
    * ask exceeds maxEpochs × its tokens is CAPPED there and its excess
    * budget re-distributed over the uncapped pool, `rounds` times. Each
    * redistribution can only cap more strata, so `rounds` ≥ the number
    * of cap tiers reached makes the plan exact; the default 4 covers any
    * realistic mix (each round caps at least one stratum or the plan is
    * already stable, and real corpora have single-digit cap tiers).
    *
    * Engine-parity design: the weight is quantized ONCE
    * (w = max(1, ⌊(n_i/n_max)^α · 10⁵⌋)) and every subsequent step —
    * asks, caps, redistribution — is pure int64 arithmetic (integral
    * division, non-negative operands), so a DuckDB mirror cannot
    * disagree on a boundary no matter how the doubles round. Bound:
    * budget · 10⁵ must stay under 2⁶³, i.e. budgets to ~9×10¹³ tokens —
    * comfortably past a 100 TB text corpus (~2.5×10¹³ tokens).
    *
    * Scale shape: one map-side-combinable corpus aggregate; everything
    * after runs on the strata-sized table through one-row scalar
    * broadcasts (the [[sourceMix]] idiom), `rounds`+1 times. */
  def mixPlan(docs: DataFrame, alpha: Double, maxEpochs: Int,
      budgetPct: Int = 150, rounds: Int = 4): DataFrame = {
    require(maxEpochs >= 1 && budgetPct >= 1 && rounds >= 1,
      s"mixPlan params out of range: maxEpochs=$maxEpochs budgetPct=$budgetPct rounds=$rounds")
    val toks = TextAnalysis.tokens(col("text"))
    // materialized: the pool aggregate re-reads the strata table once per
    // redistribution round (+1 for the totals) — without this every
    // one-row aggregate would re-run the CORPUS tokenization scan
    val strata = docs
      .select(col("source"), col("lang"), size(toks).as("n_tok"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .materialize
    val tots = strata.agg(sum(col("n_tokens")).as("tot_tok"),
      max(col("n_tokens")).as("max_tok"))
    var cur = strata.crossJoin(broadcast(tots))
      .withColumn("budget", expr(s"tot_tok * $budgetPct div 100"))
      .withColumn("w", greatest(
        floor(pow(col("n_tokens").cast("double") / col("max_tok"), alpha)
          * lit(100000)).cast("long"), lit(1L)))
      .withColumn("cap_tok", col("n_tokens") * lit(maxEpochs.toLong))
      .withColumn("capped", lit(false))
      .withColumn("quota", lit(0L))
      .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
        col("budget"), col("w"), col("cap_tok"), col("capped"), col("quota"))
    def pool(c: DataFrame): DataFrame = c.agg(
      sum(when(!col("capped"), col("w")).otherwise(0L)).as("wsum"),
      sum(when(col("capped"), col("quota")).otherwise(0L)).as("used"))
    for (_ <- 1 to rounds) {
      cur = cur.crossJoin(broadcast(pool(cur)))
        .withColumn("tent", expr("(budget - used) * w div greatest(wsum, 1L)"))
        .withColumn("newcap", !col("capped") && col("tent") >= col("cap_tok"))
        .withColumn("quota", when(col("capped"), col("quota"))
          .when(col("newcap"), col("cap_tok")).otherwise(0L))
        .withColumn("capped", col("capped") || col("newcap"))
        .drop("wsum", "used", "tent", "newcap")
    }
    cur.crossJoin(broadcast(pool(cur)))
      .withColumn("quota_tokens", when(col("capped"), col("quota"))
        .otherwise(expr("(budget - used) * w div greatest(wsum, 1L)")))
      .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
        col("w"), col("quota_tokens"),
        r4(col("quota_tokens").cast("double") / col("n_tokens")).as("epochs"),
        col("capped"))
  }

  /** Temperature-weighted corpus resample: keep each document with its
    * stratum's rate chosen so the KEPT corpus approaches the α-temperature
    * mix of [[sourceMix]] at half the original size — the "rebalance the
    * training mix by downsampling dominant strata" op, composed from the
    * mix weights and the deterministic hash sampler.
    *
    * Per stratum: rate = min(1, target·w / n) with target = N/2, applied
    * as `hashBucket(doc_id) < threshold`. The threshold is computed in
    * PURE INT64 math — (N DIV 2)·(w·10⁴)·65536 DIV (10⁴·n) over the
    * 4dp-quantized weight — so engines can never disagree on a boundary
    * bucket. Strata tables are tiny (broadcast); the corpus side is one
    * scan + codegen filter. */
  def temperatureSample(docs: DataFrame, alpha: Double, salt: String): DataFrame = {
    val mix = sourceMix(docs, alpha)
      .select(col("source"), col("lang"), col("n_docs"), col("mix_weight"))
    val total = mix.agg(sum(col("n_docs")).as("total"))
    val th = mix.crossJoin(broadcast(total))
      .withColumn("w4", floor(col("mix_weight") * 10000 + lit(0.5)).cast("long"))
      .withColumn("threshold",
        least(expr("(total DIV 2) * w4 * 65536 DIV (10000 * n_docs)"), lit(65536L)))
      .select(col("source"), col("lang"), col("threshold"))
    docs.join(broadcast(th), Seq("source", "lang"))
      .withColumn("bucket", Sampling.hashBucket(col("doc_id"), salt))
      .filter(col("bucket") < col("threshold"))
      .select(col("doc_id"), col("source"), col("lang"), col("bucket"),
        col("threshold"))
  }

  /** Global quality-decile assignment — the "keep the top X% of the
    * corpus" primitive. A global `ntile` would sort the whole corpus in
    * one partition; instead the nine decile thresholds are computed with
    * one exact-percentile aggregate (a single tiny row), broadcast, and
    * each document's decile is a codegen comparison against the threshold
    * array — one corpus scan + one scalar broadcast, no global sort.
    * (At extreme scale swap `percentile` for `approx_percentile`; the
    * assignment side is unchanged.)
    *
    * Scores are 4-dp rounded BEFORE the percentile so thresholds that land
    * on a tied score are bit-identical across engines. */
  def qualityDeciles(docs: DataFrame): DataFrame = {
    val scored = TextAnalysis.stats(docs)
      .select(col("doc_id"), r4(col("quality_score")).as("quality_score"))
    val th = scored.agg(
      expr(s"percentile(quality_score, array(${(1 to 9).map(_ / 10.0).mkString(", ")}))")
        .as("th"))
    scored.crossJoin(broadcast(th))
      .select(col("doc_id"), col("quality_score"),
        (size(expr("filter(th, t -> quality_score >= t)")) + 1).as("decile"))
  }

  /** Per-(source, lang) DATA CARD — the manifest a curation run hands to
    * the training team (Gebru et al. 2021 "Datasheets" lineage): volumes,
    * exact-duplicate rate, mean document quality, and each stratum's share
    * of the corpus. One corpus scan into a strata-sized aggregate.
    *
    * Determinism: the mean quality is computed over 4dp-int64-quantized
    * per-doc scores (sum of longs / count, then 4dp-rounded), so the
    * aggregation ORDER can't move the mean — the float-sum-order rule
    * every oracle-compared average here follows. The exact-dup rate
    * counts distinct text VALUES per stratum (count distinct is
    * order-free); share_pct normalizes by a one-row corpus total
    * broadcast (bounded, PlanAudit-allowlisted like sourceMix's). */
  def dataCard(docs: DataFrame): DataFrame = {
    val q4 = floor(col("quality_score") * lit(10000) + lit(0.5)).cast("long")
    val scored = docs
      .select(col("source"), col("lang"), col("text"), col("n_chars"),
        col("doc_id"))
      .join(TextAnalysis.stats(docs)
        .select(col("doc_id"), col("n_tokens"), col("quality_score")), "doc_id")
    val g = scored
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("text")).as("n_distinct_texts"),
        sum(col("n_tokens").cast("long")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        sum(q4).as("q4_sum"))
    val total = g.agg(sum(col("n_docs")).as("n_total"))
    g.crossJoin(broadcast(total))
      .select(col("source"), col("lang"), col("n_docs"),
        (col("n_docs") - col("n_distinct_texts")).as("n_exact_dups"),
        r4((col("n_docs") - col("n_distinct_texts")).cast("double") /
          col("n_docs")).as("dup_frac"),
        col("n_tokens"), col("n_chars"),
        r4(col("n_tokens").cast("double") / col("n_docs")).as("mean_doc_tokens"),
        r4(col("q4_sum").cast("double") / lit(10000.0) / col("n_docs"))
          .as("mean_quality"),
        r4(col("n_docs").cast("double") / col("n_total")).as("share_pct"))
  }
}
