package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.EntryMath.{r => r4}

/** Sequence packing: lay training chunks end-to-end in a fixed global
  * order and slice the concatenated token stream into fixed-length
  * training sequences (the GPT-lineage "concatenate and chunk" packing
  * step). Each chunk gets its global token offset, the sequence it starts
  * in, its offset within that sequence, and whether it straddles a
  * sequence boundary (a writer would split or drop those).
  *
  * The global offset is an order-sensitive prefix sum — the textbook
  * scale trap, because a naive `sum() OVER (ORDER BY …)` with no
  * partitioning moves the whole corpus into ONE task. This implements the
  * distributed two-level scan instead:
  *
  *   1. deterministic bucketing: `bucket = doc_id DIV docsPerBucket`
  *      (monotone in the global order, so per-bucket order concatenates
  *      to the global order);
  *   2. per-bucket exclusive prefix sums — a keyed window, parallel in
  *      the bucket count;
  *   3. bucket totals (one tiny row per bucket) prefix-summed and
  *      broadcast back as per-bucket base offsets.
  *
  * The only serial step is the scan over bucket TOTALS: corpus/docsPerBucket
  * rows (a 100M-doc corpus at the default 1024 → ~100k rows in one task —
  * trivial; recurse the same construction if it ever isn't).
  */
object Packing {

  /** Pack a chunk table (doc_id, chunk_id, n_chunk_tokens, …) ordered by
    * (doc_id, chunk_id) into sequences of `seqLen` tokens. */
  def pack(chunks: DataFrame, seqLen: Int, docsPerBucket: Int = 1024): DataFrame = {
    require(seqLen > 0 && docsPerBucket > 0, "seqLen and docsPerBucket must be positive")
    val bucketed = chunks.withColumn("_bucket", expr(s"doc_id DIV $docsPerBucket"))
    // per-bucket exclusive prefix sum of token counts (keyed shuffle, parallel)
    val wLocal = Window.partitionBy(col("_bucket"))
      .orderBy(col("doc_id"), col("chunk_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // bucket base offsets: tiny frame (one row per bucket), deliberately
    // scanned in ONE task (bound documented above). The key is constant-
    // valued but must not be foldable: Catalyst strips a literal partition
    // key, leaving an empty partition spec — the unbounded global-window
    // degradation path this operator exists to avoid.
    val wBuckets = Window.partitionBy(pmod(col("_bucket"), lit(1)))
      .orderBy(col("_bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val baseOffsets = bucketed
      .groupBy(col("_bucket")).agg(sum(col("n_chunk_tokens")).as("_tot"))
      .withColumn("_base", coalesce(sum(col("_tot")).over(wBuckets), lit(0L)))
      .select(col("_bucket"), col("_base"))
    bucketed
      .withColumn("_local", coalesce(sum(col("n_chunk_tokens")).over(wLocal), lit(0L)))
      .join(broadcast(baseOffsets), "_bucket")
      .withColumn("global_offset", col("_base") + col("_local"))
      .withColumn("seq_id", expr(s"global_offset DIV $seqLen"))
      .withColumn("seq_offset", expr(s"global_offset % $seqLen"))
      .withColumn("spans_seq", col("seq_offset") + col("n_chunk_tokens") > seqLen)
      .drop("_bucket", "_local", "_base")
  }

  /** Packing-efficiency report per sequence — the number a training-data
    * team reads before choosing the boundary policy: how many chunks
    * START in each sequence, how many of them STRADDLE the boundary
    * (`spans_seq` — a writer must split or drop those), and the fill
    * fraction that survives under the DROP policy (whole-chunk tokens /
    * seqLen, 4dp). Low `fill_drop_frac` with high `n_spanning` is the
    * signal to split instead of drop (or to re-chunk closer to seqLen).
    *
    * Shape at scale: [[pack]]'s two-level scan plus ONE seq_id-keyed
    * aggregate (map-side combinable) — no new scale terms. */
  def packStats(chunks: DataFrame, seqLen: Int,
      docsPerBucket: Int = 1024): DataFrame = {
    pack(chunks, seqLen, docsPerBucket)
      .groupBy(col("seq_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("n_chunk_tokens")).as("n_tokens"),
        sum(when(col("spans_seq"), 1L).otherwise(0L)).as("n_spanning"),
        sum(when(!col("spans_seq"), col("n_chunk_tokens")).otherwise(0L))
          .as("whole_tokens"))
      .select(col("seq_id"), col("n_chunks"), col("n_tokens"),
        col("n_spanning"),
        r4(col("whole_tokens").cast("double") / lit(seqLen.toDouble))
          .as("fill_drop_frac"))
  }
}
