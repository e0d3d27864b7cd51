package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Event-time windowed aggregation + watermark coverage (beyond reference
  * parity — ST8 notes the reference has no time windows; this is the
  * engine-completeness path for stream analytics). */
class StreamWindowSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("tumbling 1h window with 30min watermark aggregates per (window, user) and drops too-late rows") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, Double)]
    val agg = input.toDF().toDF("ts", "user_id", "value")
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("v"))
    val q = agg.writeStream.format("memory").queryName("winagg")
      .outputMode("append").start()
    try {
      val h0 = 1700000000000L - 1700000000000L % 3600000L
      input.addData(
        (new Timestamp(h0 + 600000L), 1L, 10.0),
        (new Timestamp(h0 + 1200000L), 1L, 20.0),
        (new Timestamp(h0 + 1800000L), 2L, 5.0))
      q.processAllAvailable()
      // advance event time past window end + watermark so h0's windows close
      input.addData((new Timestamp(h0 + 3600000L + 1900000L), 1L, 1.0))
      q.processAllAvailable()
      // a tick for the closed h0 window: beyond the watermark → dropped
      input.addData((new Timestamp(h0 + 60000L), 1L, 999.0))
      q.processAllAvailable()
      // close the second window too so nothing is pending
      input.addData((new Timestamp(h0 + 2 * 3600000L + 1900000L), 9L, 0.0))
      q.processAllAvailable()
      val rows = spark.table("winagg")
        .select(col("window.start").as("ws"), col("user_id"), col("n"), col("v"))
        .collect().map(r => (r.getAs[Timestamp]("ws").getTime,
          r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(rows.contains((h0, 1L, 2L, 30.0))) // late 999.0 row NOT included
      assert(rows.contains((h0, 2L, 1L, 5.0)))
    } finally q.stop()
  }

  test("streaming session windows (30min gap) merge activity and close at the watermark") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, Double)]
    val agg = input.toDF().toDF("ts", "user_id", "value")
      .withWatermark("ts", "15 minutes")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("v"))
    val q = agg.writeStream.format("memory").queryName("sesswin")
      .outputMode("append").start()
    try {
      val t0 = 1700000000000L
      val min = 60000L
      input.addData(
        (new Timestamp(t0), 1L, 1.0),
        (new Timestamp(t0 + 10 * min), 1L, 2.0), // 10min gap → same session
        (new Timestamp(t0 + 70 * min), 1L, 5.0)) // 60min gap → new session
      q.processAllAvailable()
      // push the watermark far past both session ends so they emit
      input.addData((new Timestamp(t0 + 300 * min), 9L, 0.0))
      q.processAllAvailable()
      val rows = spark.table("sesswin")
        .select(col("session_window.start").as("ws"),
          col("session_window.end").as("we"), col("user_id"), col("n"), col("v"))
        .collect().map(r => (r.getAs[Timestamp]("ws").getTime,
          r.getAs[Timestamp]("we").getTime, r.getLong(2), r.getLong(3),
          r.getDouble(4))).toSet
      // session end = last event + gap (the batch q_sessionize semantics)
      assert(rows.contains((t0, t0 + 40 * min, 1L, 2L, 3.0)))
      assert(rows.contains((t0 + 70 * min, t0 + 100 * min, 1L, 1L, 5.0)))
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark absorbs replays but passes same-ts price updates") {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[graft.streaming.StreamIngest.TickEvent]
    val deduped = graft.streaming.StreamIngest
      .dedupWithinWatermark(input.toDS())
    val q = deduped.writeStream.format("memory").queryName("dedupstream")
      .outputMode("append").start()
    try {
      import graft.streaming.StreamIngest.TickEvent
      val t0 = 1700000000000L
      input.addData(
        TickEvent("AAPL", 150.0, t0),
        TickEvent("AAPL", 150.0, t0),        // same-batch replay → dropped
        TickEvent("MSFT", 310.0, t0))
      q.processAllAvailable()
      // cross-batch replay of the identical payload → dropped
      input.addData(TickEvent("AAPL", 150.0, t0))
      // same (symbol, ts) with a NEW price: an update, not a replay —
      // must pass through to the state's last-write-wins upsert (ST5)
      input.addData(TickEvent("AAPL", 151.5, t0))
      q.processAllAvailable()
      // a genuinely new (symbol, timestamp) passes
      input.addData(TickEvent("AAPL", 152.0, t0 + 5000L))
      q.processAllAvailable()
      val rows = spark.table("dedupstream").as[TickEvent].collect()
      assert(rows.length == 4)
      val atT0 = rows.filter(r => r.symbol == "AAPL" && r.timestamp == t0)
      assert(atT0.map(_.price).sorted.toSeq == Seq(150.0, 151.5))
    } finally q.stop()
  }

  test("stream-stream interval join: fills match ticks within the watermarked window") {
    implicit val sq = spark.sqlContext
    // ticks enrich fills that arrive within 5 minutes AFTER the tick —
    // both sides watermarked so join state is bounded and evictable
    val ticks = MemoryStream[(Timestamp, String, Double)]
    val fills = MemoryStream[(Timestamp, String, Long)]
    val tickDf = ticks.toDF().toDF("tick_ts", "symbol", "price")
      .withWatermark("tick_ts", "10 minutes")
    val fillDf = fills.toDF().toDF("fill_ts", "fsymbol", "qty")
      .withWatermark("fill_ts", "10 minutes")
    val joined = fillDf.join(tickDf,
      expr("""fsymbol = symbol AND
              tick_ts <= fill_ts AND fill_ts < tick_ts + interval 5 minutes"""))
      .select(col("fill_ts"), col("fsymbol"), col("qty"), col("price"))
    val q = joined.writeStream.format("memory").queryName("ssjoin")
      .outputMode("append").start()
    try {
      val t0 = 1700000000000L
      ticks.addData((new Timestamp(t0), "AAPL", 150.0))
      fills.addData(
        (new Timestamp(t0 + 120000L), "AAPL", 10L),   // 2 min later → joins
        (new Timestamp(t0 + 600000L), "AAPL", 20L))   // 10 min later → outside window
      q.processAllAvailable()
      // advance both watermarks so results finalize
      ticks.addData((new Timestamp(t0 + 3600000L), "MSFT", 1.0))
      fills.addData((new Timestamp(t0 + 3600000L), "MSFT", 1L))
      q.processAllAvailable()
      val rows = spark.table("ssjoin")
        .select("fsymbol", "qty", "price").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
      assert(rows.contains(("AAPL", 10L, 150.0)))
      assert(!rows.exists(_._2 == 20L)) // out-of-window fill never joins
    } finally q.stop()
  }
}
