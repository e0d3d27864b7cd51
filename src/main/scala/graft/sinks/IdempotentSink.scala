package graft.sinks

import org.apache.spark.sql.{AnalysisException, DataFrame, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** First-write-wins keyed parquet sink — the Spark shape of the reference's
  * `INSERT … ON CONFLICT (time, symbol) DO NOTHING`
  * (trading-etl-python/src/processing/consumer.py:197-205, setup.py:87),
  * for the stream drain ([[append]]) and the backfill table
  * ([[TableSetup.writeIndicators]]) alike.
  *
  * Two dedup layers, matching ST4:
  *  1. within the incoming batch: keep the FIRST row per key in the
  *     caller's order (the reference's insert order);
  *  2. against rows already written: left-anti join on the key columns.
  *
  * Used from streaming as `foreachBatch { (df, _) => append(df, …) }` —
  * with checkpointed offsets this is the standard exactly-once-to-storage
  * recipe: replayed batches rewrite the same keys and are dropped by
  * layer 2. The probe still reads every key in the sink, so its cost grows
  * with the sink, not with the batch; scoping it to the batch's days or
  * time range is ROADMAP direction 2.
  */
object IdempotentSink {

  /** [[firstWriteWins]], unpartitioned. */
  def append(batch: DataFrame, path: String, keys: Seq[String], orderCol: String): Unit =
    firstWriteWins(batch, path, keys, orderCol, Nil)

  /** Layers 1 and 2, then a parquet append partitioned by `partitionBy`;
    * `orderCol` ranks a key's rows (smallest wins) and is not written. Only
    * a missing path or one with no committed parquet file (a crashed first
    * append) holds no keys yet; any other read error, say a sink lacking a
    * key column, propagates rather than silently turn first-write-wins off. */
  private[sinks] def firstWriteWins(batch: DataFrame, path: String, keys: Seq[String],
      orderCol: String, partitionBy: Seq[String]): Unit = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol))
    val inBatch = batch
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", orderCol)
    val existing =
      try Some(batch.sparkSession.read.parquet(path).select(keys.map(col): _*))
      catch { case e: AnalysisException if NoKeysYet(e.getCondition) => None }
    // no `distinct` on the existing side: a left-anti join's output does
    // not depend on duplicate keys there (and the sink's keys are unique)
    existing.fold(inBatch)(inBatch.join(_, keys, "left_anti"))
      .write.mode(SaveMode.Append).partitionBy(partitionBy: _*).parquet(path)
  }

  private val NoKeysYet = Set("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")
}
