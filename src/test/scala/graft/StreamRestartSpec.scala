package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{Feeder, StreamJoin, StreamSessionize}

/** Kill-and-restart exactly-once for the FileSink-based streams
  * (session windows, stream-stream join): stop the query mid-replay,
  * restart from the SAME checkpoint, and the final output must equal
  * the one-shot run bit for bit — no duplicated micro-batch output
  * (the FileSink's _spark_metadata commit log), no lost state (the
  * checkpointed session/join state resumes where it stopped). This is
  * the recovery contract the overwrite-keyed foreachBatch screens prove
  * by hand, inherited here from the sink+checkpoint machinery — worth
  * pinning, not assuming. */
class StreamRestartSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** events replayed file-at-a-time; `starter` builds the query from a
    * work dir. Runs ONCE straight through, then again with a stop after
    * the second micro-batch and a restart; returns both sorted outputs. */
  private def runAndRerun(events: DataFrame, slices: Int,
      sentinelTypes: Seq[String],
      starter: (String, DataFrame) => org.apache.spark.sql.streaming.StreamingQuery,
      reader: String => DataFrame): (Seq[String], Seq[String]) = {
    def feed(work: String): Unit = {
      Feeder.writeTimeSlicedFeed(
        events.withColumn("_ms", unix_millis(col("ts"))), "_ms", work, slices)
      if (sentinelTypes.nonEmpty) {
        val maxUs = events.agg(max(unix_micros(col("ts")))).head().getLong(0)
        val sentinel = sentinelTypes.zipWithIndex.map { case (t, i) =>
          (-1L, -(i + 1).toLong, maxUs + 8640000000000L, t)
        }.toDF("user_id", "event_id", "us", "event_type")
          .select(col("user_id"), col("event_id"),
            timestamp_micros(col("us")).as("ts"), col("event_type"))
        Feeder.appendFeedFile(sentinel, work, slices)
      }
    }
    def rows(work: String): Seq[String] =
      reader(work).filter(col("user_id") =!= -1L)
        .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

    val oneShot = graft.SessionScoped.scratchDir("graft_rs1")
    feed(oneShot)
    val q1 = starter(oneShot, streamOf(oneShot, events))
    q1.processAllAvailable(); q1.stop()

    val restarted = graft.SessionScoped.scratchDir("graft_rs2")
    feed(restarted)
    // phase 1: process exactly two micro-batches, then kill
    val q2a = starter(restarted, streamOf(restarted, events, maxFiles = Some(1)))
    var waited = 0
    while (q2a.recentProgress.length < 2 && waited < 300) {
      Thread.sleep(100); waited += 1
    }
    q2a.stop() // hard stop mid-replay
    // phase 2: SAME checkpoint + sink, fresh query object, finish the feed
    val q2b = starter(restarted, streamOf(restarted, events))
    q2b.processAllAvailable(); q2b.stop()
    (rows(oneShot), rows(restarted))
  }

  private def streamOf(work: String, events: DataFrame,
      maxFiles: Option[Int] = Some(1)): DataFrame = {
    val r = spark.readStream.schema(events.schema)
    maxFiles.foreach(n => r.option("maxFilesPerTrigger", n))
    r.parquet(s"$work/feed")
  }

  private def sfEvents: DataFrame =
    graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))

  test("session windows: restart from checkpoint == one-shot run") {
    val events = sfEvents.select(col("user_id"), col("ts"),
      col("event_id").cast("double").as("value"), col("event_type"))
    val (one, re) = runAndRerun(events, 4, Seq("flush"),
      (work, s) => StreamSessionize.run(
        s.select(col("user_id"), col("ts"), col("value")), work),
      work => StreamSessionize.report(spark, work))
    assert(one.nonEmpty && one == re)
  }

  test("stream-stream join: restart from checkpoint == one-shot run") {
    val events = sfEvents
    val (one, re) = runAndRerun(events, 4, Seq.empty,
      (work, s) => StreamJoin.run(
        s.filter(col("event_type") =!= "error"),
        s.filter(col("event_type") === "error"),
        "user_id", "event_id", 1800000000L, work),
      work => StreamJoin.report(spark, work))
    assert(one.nonEmpty && one == re)
  }

  test("DSIR gate: restart from checkpoint == one-shot run") {
    // the foreachBatch screens' recovery contract, proven on the newest
    // gate: the checkpoint resumes batch numbering and the overwrite-keyed
    // per-batch report dirs make the re-emitted micro-batch idempotent, so
    // a hard stop mid-replay loses nothing and duplicates nothing
    import graft.operators.TextAnalysis
    import graft.streaming.StreamGate
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val feedCols = docs.select(col("doc_id"), col("text"))
    def feed(work: String): Unit = Feeder.writeTimeSlicedFeed(
      feedCols.withColumn("_ms", col("doc_id")), "_ms", work, 4)
    def stream(work: String, maxFiles: Option[Int]): DataFrame = {
      val r = spark.readStream.schema(feedCols.schema)
      maxFiles.foreach(n => r.option("maxFilesPerTrigger", n))
      r.parquet(s"$work/feed")
    }
    def rows(work: String): Seq[String] =
      StreamGate.report(spark, work).collect()
        .map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

    val one = graft.SessionScoped.scratchDir("graft_dsir_rs1")
    feed(one)
    val q1 = StreamGate.run(stream(one, Some(1)),
      TextAnalysis.dsirGate(docs, col("lang") === "en", 256), one)
    q1.processAllAvailable(); q1.stop()

    val re = graft.SessionScoped.scratchDir("graft_dsir_rs2")
    feed(re)
    val q2a = StreamGate.run(stream(re, Some(1)),
      TextAnalysis.dsirGate(docs, col("lang") === "en", 256), re)
    var waited = 0
    while (q2a.recentProgress.length < 2 && waited < 300) {
      Thread.sleep(100); waited += 1
    }
    q2a.stop() // hard stop mid-replay
    val q2b = StreamGate.run(stream(re, None),
      TextAnalysis.dsirGate(docs, col("lang") === "en", 256), re)
    q2b.processAllAvailable(); q2b.stop()
    assert(rows(one).nonEmpty && rows(one) == rows(re))
  }
}
