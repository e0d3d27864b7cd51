package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.sources.Tables

/** Test-side producer analog (SURVEY §3.1): the events table rendered as
  * Kafka-shaped (key, value) JSON tick messages — key = symbol, value =
  * `{symbol, price, timestamp, fetched_at}` (producer.py:81-89).
  *
  * Against a real broker the same frame writes with
  * `.write.format("kafka").option("kafka.acks", "1")` (producer.py:35);
  * here it feeds MemoryStream-based tests and file-source streams. */
object Feeder {

  def tickMessages(spark: SparkSession, sfDir: String): DataFrame =
    Tables.ticks(spark, sfDir).select(
      col("symbol").as("key"),
      to_json(struct(
        col("symbol"),
        col("price"),
        unix_millis(col("time")).as("timestamp"),
        unix_millis(current_timestamp()).as("fetched_at"))).as("value"))

  /** Write `df` (minus `msCol`) as `slices` time-range parquet files
    * `b00000.parquet..bNNNNN.parquet` under `workDir/feed` — lexically
    * increasing names with increasing mtimes, so a file stream with
    * `maxFilesPerTrigger=1` replays them as DETERMINISTIC in-time-order
    * micro-batches. Shared by every [[replay]] (all rely on the same
    * invariants: span+1 so the max row is included, and the rename from
    * the part file to a stable lexical name). Slices can come out empty
    * for skewed time ranges; empty parquet files still trigger (empty)
    * micro-batches, preserving batch numbering. */
  def writeTimeSlicedFeed(df: DataFrame, msCol: String, workDir: String,
      slices: Int): Unit = {
    val Array(t0, t1) = df.agg(min(col(msCol)), max(col(msCol))).head()
      .toSeq.map(v => Option(v).map(_.asInstanceOf[Long])
        .getOrElse(sys.error("writeTimeSlicedFeed: empty input"))).toArray
    val span = (t1 - t0) / slices + 1
    (0 until slices).foreach { i =>
      appendFeedFile(
        df.filter(col(msCol) >= t0 + i * span && col(msCol) < t0 + (i + 1) * span)
          .drop(msCol), workDir, i)
    }
  }

  /** The replay every q_stream_* query runs: write `df` (minus `msCol`)
    * as [[ReplaySlices]] time-sliced feed files, then `sentinel` (when
    * given) as the last file — a watermark-flush batch for the streams
    * whose output waits on event time — then drain `start`'s query to
    * completion and stop it. `start` gets an opener for the feed: each
    * call opens its own `maxFilesPerTrigger=1` parquet file stream, with
    * the schema of the frame written, so a stream-stream join opens one
    * per side. */
  def replay(df: DataFrame, msCol: String, workDir: String,
      sentinel: Option[DataFrame] = None)(
      start: (() => DataFrame) => StreamingQuery): Unit = {
    writeTimeSlicedFeed(df, msCol, workDir, ReplaySlices)
    sentinel.foreach(appendFeedFile(_, workDir, ReplaySlices))
    val schema = df.drop(msCol).schema
    val q = start(() => df.sparkSession.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$workDir/feed"))
    q.processAllAvailable(); q.stop()
  }

  /** Micro-batches per [[replay]] (the q_stream_drift oracle recomputes
    * the same three slice boundaries). */
  private val ReplaySlices = 3

  /** Write ONE feed file (slice `index`) holding `df` coalesced: write
    * to a tmp dir, find the part file, rename to the stable lexical name
    * `feed/b%05d.parquet`. The single writer both the slicer loop above
    * and ad-hoc appends (e.g. a watermark-flush sentinel batch for
    * session-window streams) go through, so the naming contract — 5-digit
    * padding, without which slice 100 would sort before 99 on mtime ties
    * and break the documented in-time-order replay — lives in one place. */
  def appendFeedFile(df: DataFrame, workDir: String, index: Int): Unit = {
    val fs = new org.apache.hadoop.fs.Path(workDir)
      .getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$workDir/feed"))
    val tmp = s"$workDir/tmp$index"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(tmp))
      .map(_.getPath).filter(_.getName.endsWith(".parquet")).head
    val dest = new org.apache.hadoop.fs.Path(f"$workDir/feed/b$index%05d.parquet")
    // rename returns false (not an exception) when dest already exists —
    // e.g. a replayed append into a reused workDir. Fail loudly BEFORE
    // deleting tmp: cleaning up after a failed rename would silently
    // destroy the slice's only copy and leave the feed replaying stale data
    require(fs.rename(part, dest), s"appendFeedFile: rename $part -> $dest " +
      "failed (slice already present, or a cross-FS move?) — feed not updated")
    // the tmp dir's remaining contents (_SUCCESS, .crc) are scaffolding —
    // drop it so a replay workDir holds only the feed itself
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true)
  }

  /** Write messages as JSON-lines text for file-based stream sources. */
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = graft.GraftSession.local(graft.GraftSession.cpus)
    tickMessages(spark, sfDir).select(col("value")).write.mode("overwrite").text(outDir)
    spark.stop()
  }
}
