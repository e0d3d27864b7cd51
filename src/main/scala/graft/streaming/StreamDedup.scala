package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.operators.Dedup
import graft.operators.Materialize.MatOps

/** Streaming near-dup screening — the online half of [[Dedup.incremental]]
  * (the way [[CusumMonitor]] is the online half of Signals.cusum): every
  * micro-batch of incoming documents is screened against the corpus LSH
  * index plus everything admitted in earlier micro-batches, emitting the
  * same per-doc (status, match_id, counts) report the batch operator
  * produces. Feeding micro-batches in id order reproduces the one-shot
  * batch report bit-for-bit (StreamDedupSpec).
  *
  * State is the accumulated SHINGLE INDEX of seen stream docs — (doc_id,
  * h) rows held in a [[SegmentedState]] store (restart-safe, readable by
  * the next batch, and exactly what [[Dedup.screenBatch]]'s verification
  * needs; raw text is never retained). At 100 TB the same layout holds:
  * the corpus + seen index is the big side, bucketed by shingle hash, and
  * each micro-batch is a small probe joined against it — the stream never
  * self-joins the corpus.
  *
  * foreachBatch is at-least-once on restart, so BOTH sinks are idempotent
  * by construction: decisions ([[StreamGate.writeBatch]]) and seen-index
  * rows are written to per-batch dirs keyed by batch id (overwrite, not
  * append), and a replayed batch reads state AS OF its own id
  * ([[SegmentedState.readAsOf]]) — its first attempt's partial writes are
  * invisible to it, so the replay reproduces the original decisions
  * bit-for-bit and leaves no duplicate rows anywhere. Every
  * `compactEvery` batches the segment store folds into one compacted
  * generation ([[SegmentedState.maybeCompact]]), bounding the state's
  * file count on a long-running stream.
  */
object StreamDedup {

  /** Schema of the seen-index state rows. */
  val IdxSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("h", LongType)))

  /** docs (doc_id LONG, text STRING) stream → per-micro-batch screening
    * decisions under `workDir/report`, seen-index state under
    * `workDir/seen_idx`, checkpoint under `workDir/ckpt`. */
  def run(stream: DataFrame, corpusDocs: DataFrame, workDir: String,
      tau: Double, n: Int = 3, compactEvery: Int = 16): StreamingQuery = {
    val spark = corpusDocs.sparkSession
    // one-time at stream start; a production deployment persists this
    // (bucketed by h) instead of re-deriving it from corpus text
    val corpusIdx = Dedup.shingleIndex(corpusDocs, n)
      .select(col("doc_id"), col("h"), lit(true).as("is_corpus"))
      .materialize
    stream.writeStream
      .option("checkpointLocation", s"$workDir/ckpt")
      .foreachBatch { (mb: DataFrame, batchId: Long) =>
        val batchIdx = Dedup.shingleIndex(mb, n).materialize
        val seen = SegmentedState.readAsOf(spark, s"$workDir/seen_idx",
          batchId, IdxSchema)
        val refIdx = corpusIdx.unionByName(
          seen.select(col("doc_id"), col("h"), lit(false).as("is_corpus")))
        StreamGate.writeBatch(Dedup.screenBatch(refIdx, batchIdx, tau),
          workDir, batchId)
        SegmentedState.maybeCompact(spark, s"$workDir/seen_idx", batchId,
          compactEvery, sortKeys = Seq("h"))
        SegmentedState.write(batchIdx, s"$workDir/seen_idx", batchId)
        ()
      }
      .start()
  }

  /** Accumulated (doc_id, h) index of stream docs seen so far; empty
    * before the first batch lands. Missing state dir → empty frame; any
    * other read failure propagates (corrupt state must not silently pass
    * as "nothing seen yet"). */
  def seenIdx(spark: SparkSession, workDir: String): DataFrame =
    SegmentedState.readAll(spark, s"$workDir/seen_idx", IdxSchema)

  /** All decisions emitted so far (the queryable output table). */
  def decisions(spark: SparkSession, workDir: String): DataFrame =
    StreamGate.report(spark, workDir)
}
