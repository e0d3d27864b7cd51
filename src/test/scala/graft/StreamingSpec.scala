package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.IndicatorPipeline
import graft.streaming.StreamIngest

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tickJson(symbol: String, price: Double, tsMs: Long): String =
    s"""{"symbol": "$symbol", "price": $price, "timestamp": $tsMs, "fetched_at": ${tsMs + 1500}}"""

  /** Run a batch of JSON strings through the streaming pipeline, collect
    * all emitted rows. `batches` lets tests span micro-batches. */
  private def runStream(batches: Seq[Seq[String]], name: String) = {
    implicit val sq = spark.sqlContext
    val input = MemoryStream[String]
    val q = StreamIngest.fromRaw(input.toDF().select(col("value")))
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
      spark.table(name).select("row.*", "seq").collect()
    } finally q.stop()
  }

  private def prices(n: Int)(i: Int): Double = 150.0 + 7 * math.sin(i * 0.8) + (i % 5)

  test("malformed JSON and missing fields are dropped, not crashes (F1/F5)") {
    val msgs = Seq(
      "{not json at all",
      """{"symbol": "A", "timestamp": 1700000000000}""",
      """{"symbol": "A", "price": 150.0}""",
      tickJson("A", 151.0, 1700000000000L))
    val rows = runStream(Seq(msgs), "s_malformed")
    assert(rows.isEmpty) // 1 valid tick: below warm-up, and nothing crashed
  }

  test("30 ticks through the streaming engine => exactly 5 rows, last close 179 (consumer contract)") {
    val msgs = (0 until 30).map(i => tickJson("AAPL", 150.0 + i, 1700000000000L + i * 5000L))
    val rows = runStream(Seq(msgs), "s_contract")
    assert(rows.length == 5)
    val last = rows.maxBy(_.getAs[Timestamp]("time").getTime)
    assert(last.getAs[Double]("close") == 179.0)
    assert(rows.forall(_.getAs[Any]("mfi_14") == null))
    assert(rows.forall(_.getAs[Any]("obv") == null))
  }

  test("streaming == batch bit-for-bit while the frame is untruncated") {
    val n = 40
    val syms = Seq("A", "B")
    // one repeated price per symbol: the flat tick makes OBV 0, not null
    def price(s: String, i: Int): Double =
      prices(n)(if (i == (if (s == "B") 31 else 17)) i - 1 else i) + (if (s == "B") 11 else 0)
    val msgs = for (s <- syms; i <- 0 until n)
      yield tickJson(s, price(s, i), 1700000000000L + i * 5000L)
    val got = runStream(Seq(msgs), "s_parity")
      .map(r => ((r.getAs[String]("symbol"), r.getAs[Timestamp]("time")), r))
      .toMap
    val bars = (for (s <- syms; i <- 0 until n) yield {
      val p = price(s, i)
      (new Timestamp(1700000000000L + i * 5000L), s, p, p, p, p, None: Option[Long])
    }).toDF("time", "symbol", "open", "high", "low", "close", "volume")
    val exp = IndicatorPipeline.gated(bars).collect()
    assert(exp.length == got.size && exp.nonEmpty)
    assert(exp.exists(_.getAs[Any]("obv") == null) && exp.exists(_.getAs[Any]("obv") != null))
    exp.foreach { e =>
      val key = (e.getAs[String]("symbol"), e.getAs[Timestamp]("time"))
      val g = got(key)
      for (c <- graft.model.Model.DbColumns) {
        val ev = e.getAs[Any](c)
        val gv = g.getAs[Any](c)
        assert(ev == gv, s"$c mismatch at $key: batch=$ev stream=$gv")
      }
    }
  }

  test("state survives micro-batch boundaries (ST1) and caps at 60 rows (ST2)") {
    val all = (0 until 80).map(i => tickJson("A", 100.0 + i % 13, 1700000000000L + i * 5000L))
    val rows = runStream(all.grouped(25).toSeq, "s_batches")
    // gated from tick 26 onward: 80 - 25 = 55 emissions across 4 micro-batches
    assert(rows.length == 55)
    // eviction: the 80th tick's EMA was computed over the capped 60-row
    // frame, so it differs from an uncapped batch recompute
    val batchFull = IndicatorPipeline.gated(
      (0 until 80).map { i =>
        val p = 100.0 + i % 13
        (new Timestamp(1700000000000L + i * 5000L), "A", p, p, p, p, None: Option[Long])
      }.toDF("time", "symbol", "open", "high", "low", "close", "volume")).collect()
    val lastStream = rows.maxBy(_.getAs[Timestamp]("time").getTime).getAs[Double]("ema_20")
    val lastBatch = batchFull.maxBy(_.getAs[Timestamp]("time").getTime).getAs[Double]("ema_20")
    assert(lastStream != lastBatch)
  }

  test("late tick is inserted in time order (ST6 deviation) and same-ts upsert is last-write-wins (ST5)") {
    val inOrder = (0 until 30).filter(_ != 27).map(i => tickJson("A", 150.0 + i, 1700000000000L + i * 5000L))
    val late = tickJson("A", 177.0, 1700000000000L + 27 * 5000L) // arrives after tick 29
    val dupOverwrite = tickJson("A", 999.0, 1700000000000L + 29 * 5000L)
    val rows = runStream(Seq(inOrder, Seq(late), Seq(dupOverwrite)), "s_late")
    // batch 1: ticks 0..26,28,29 → emissions at frame sizes 26..29 (4 rows).
    // batch 2: late tick 27 is inserted IN TIME ORDER mid-frame; per the
    //   reference's iloc[-1] shape the emission is for the frame's NEWEST
    //   row (ts29, close 179) — recomputed, not the late row itself.
    // batch 3: same-ts overwrite of ts29 → newest row re-emitted, close 999.
    assert(rows.length == 6)
    assert(!rows.exists(_.getAs[Timestamp]("time").getTime == 1700000000000L + 27 * 5000L))
    val b2 = rows.find(_.getAs[Long]("seq") == 30L).get
    assert(b2.getAs[Timestamp]("time").getTime == 1700000000000L + 29 * 5000L)
    assert(b2.getAs[Double]("close") == 179.0)
    val overwritten = rows.filter(r => r.getAs[Long]("seq") == 31L)
    assert(overwritten.head.getAs[Double]("close") == 999.0)
  }

  test("IdempotentSink: first write wins within and across batches (ST4)") {
    val dir = graft.SessionScoped.scratchDir("graft_sink") + "/out"
    val b1 = Seq((new Timestamp(1000L), "A", 1.0, 1L), (new Timestamp(1000L), "A", 2.0, 2L),
      (new Timestamp(2000L), "A", 3.0, 3L))
      .toDF("time", "symbol", "close", "seq")
    graft.sinks.IdempotentSink.append(b1, dir, Seq("time", "symbol"), "seq")
    val b2 = Seq((new Timestamp(1000L), "A", 9.0, 4L), (new Timestamp(3000L), "B", 4.0, 5L))
      .toDF("time", "symbol", "close", "seq")
    graft.sinks.IdempotentSink.append(b2, dir, Seq("time", "symbol"), "seq")
    val out = spark.read.parquet(dir).orderBy("time").collect()
    assert(out.map(r => (r.getAs[Timestamp]("time").getTime, r.getAs[Double]("close"))).toSeq ==
      Seq((1000L, 1.0), (2000L, 3.0), (3000L, 4.0)))
  }

  test("IdempotentSink: a sink lacking a key column fails the append, not first-write-wins") {
    val dir = graft.SessionScoped.scratchDir("graft_sink_nokey") + "/out"
    Seq((new Timestamp(1000L), "A", 1.0)).toDF("time", "sym", "close").write.parquet(dir)
    val b = Seq((new Timestamp(1000L), "A", 2.0, 1L)).toDF("time", "symbol", "close", "seq")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      graft.sinks.IdempotentSink.append(b, dir, Seq("time", "symbol"), "seq")
    }
    assert(e.getMessage.contains("symbol"), e.getMessage)
    assert(spark.read.parquet(dir).count() == 1)
  }

  test("IdempotentSink: an empty sink dir (crashed first append) takes the first write") {
    val dir = graft.SessionScoped.scratchDir("graft_sink_empty") + "/out"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val b1 = Seq((new Timestamp(1000L), "A", 1.0, 1L)).toDF("time", "symbol", "close", "seq")
    graft.sinks.IdempotentSink.append(b1, dir, Seq("time", "symbol"), "seq")
    val b2 = Seq((new Timestamp(1000L), "A", 9.0, 2L), (new Timestamp(2000L), "A", 3.0, 3L))
      .toDF("time", "symbol", "close", "seq")
    graft.sinks.IdempotentSink.append(b2, dir, Seq("time", "symbol"), "seq")
    val out = spark.read.parquet(dir).orderBy("time").collect()
    assert(out.map(r => (r.getAs[Timestamp]("time").getTime, r.getAs[Double]("close"))).toSeq ==
      Seq((1000L, 1.0), (2000L, 3.0)))
  }

  test("IdempotentSink: a first append to a fresh path logs no FileStreamSink WARN") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val warns = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("fww-capture", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.WARN)) warns.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val logger = LogManager.getLogger(
      "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink").asInstanceOf[Logger]
    val level = logger.getLevel
    logger.setLevel(Level.INFO)
    logger.addAppender(capture)
    val dir = graft.SessionScoped.scratchDir("graft_sink_fresh") + "/out"
    try graft.sinks.IdempotentSink.append(
      Seq((new Timestamp(1000L), "A", 1.0, 1L)).toDF("time", "symbol", "close", "seq"),
      dir, Seq("time", "symbol"), "seq")
    finally { logger.removeAppender(capture); logger.setLevel(level); capture.stop() }
    assert(warns.isEmpty, warns)
    assert(spark.read.parquet(dir).count() == 1)
  }

  test("streaming CUSUM == batch CUSUM bit-for-bit across micro-batch splits") {
    import graft.streaming.CusumMonitor
    import graft.operators.Signals
    // one symbol, drift after 30 bars — same shape as the batch spec
    val closes = (1 to 30).map(i => 100.0 + (i % 3) * 0.5) ++
      (1 to 30).map(i => 100.0 + (i % 3) * 0.5 + i * 1.5)
    val bars = closes.zipWithIndex.map { case (c, i) =>
      ("X", new Timestamp(1700000000000L + i * 3600000L), c, c, c, c, 1L)
    }.toDF("symbol", "time", "open", "high", "low", "close", "volume")
    val batch = Signals.cusum(bars, 0.5, 5.0).orderBy("time").collect()
    // the monitor watches the DIFF stream against batch-fitted (mu, sigma)
    val diffs = closes.zip(closes.tail).map { case (p, c) => c - p }
    val mu = diffs.sum / diffs.size
    val sigma = math.sqrt(diffs.map(d => (d - mu) * (d - mu)).sum / (diffs.size - 1))
    val obs = diffs.zipWithIndex.map { case (d, i) =>
      CusumMonitor.Obs("X", 1700000000000L + (i + 1) * 3600000L, d)
    }
    implicit val sq = spark.sqlContext
    val input = MemoryStream[CusumMonitor.Obs]
    val q = CusumMonitor.pipeline(input.toDS(), mu, sigma, 0.5, 5.0)
      .writeStream.format("memory").queryName("s_cusum").outputMode("append").start()
    try {
      // split unevenly across three micro-batches: state must carry over
      Seq(obs.take(10), obs.slice(10, 41), obs.drop(41)).foreach { b =>
        input.addData(b); q.processAllAvailable()
      }
      val stream = spark.table("s_cusum").orderBy("ts").collect()
      assert(stream.length == batch.length)
      stream.zip(batch).foreach { case (s, b) =>
        assert(s.getAs[Long]("ts") == b.getAs[Timestamp]("time").getTime)
        assert(s.getAs[Double]("z") == b.getAs[Double]("z"), "z")
        assert(s.getAs[Double]("cusum_pos") == b.getAs[Double]("cusum_pos"), "pos")
        assert(s.getAs[Double]("cusum_neg") == b.getAs[Double]("cusum_neg"), "neg")
        assert(s.getAs[Boolean]("alarm") == b.getAs[Boolean]("alarm"), "alarm")
      }
    } finally q.stop()
  }

  test("out-of-order block converges to the in-order truth; the reference's positional append would corrupt (ST6)") {
    import graft.streaming.IndicatorMath
    val n = 41
    def ts(i: Int): Long = 1700000000000L + i * 5000L
    def p(i: Int): Double = prices(n)(i)
    // delivery: 0..29 on time, then 35..39 EARLY, then the 30..34 block
    // LATE (a delayed partition / replayed segment), then 40
    val order = (0 until 30) ++ (35 until 40) ++ (30 until 35) ++ Seq(40)
    val batches = Seq((0 until 30), (35 until 40), (30 until 35), Seq(40))
      .map(_.map(i => tickJson("A", p(i), ts(i))))
    val rows = runStream(batches, "s_ooo")
    val last = rows.maxBy(_.getAs[Long]("seq"))
    assert(last.getAs[Timestamp]("time").getTime == ts(40))

    // in-order truth: the batch pipeline over time-sorted bars
    val bars = (0 until n)
      .map(i => (new Timestamp(ts(i)), "A", p(i), p(i), p(i), p(i), None: Option[Long]))
      .toDF("time", "symbol", "open", "high", "low", "close", "volume")
    val exp = IndicatorPipeline.gated(bars).collect()
      .find(_.getAs[Timestamp]("time").getTime == ts(40)).get
    for (c <- Seq("sma_20", "ema_10", "ema_20", "rsi_14", "atr_14", "stoch_k_14")) {
      assert(exp.getAs[java.lang.Double](c).doubleValue ==
        last.getAs[java.lang.Double](c).doubleValue,
        s"$c: sorted-state streaming must equal the in-order batch truth")
    }

    // the reference's shape (consumer.py appends positionally): the late
    // block lands at the END of the frame, so order-sensitive recursions
    // run over a time-corrupted history — provably different values
    val refFrame = order.takeRight(graft.model.Model.LookbackRows)
    val corrupt = IndicatorMath.latestRow("A", ts(refFrame.last), refFrame.map(p).toArray)
    assert(corrupt.ema_20.get != last.getAs[java.lang.Double]("ema_20").doubleValue ||
      corrupt.rsi_14.get != last.getAs[java.lang.Double]("rsi_14").doubleValue,
      "positional append must corrupt at least one order-sensitive indicator")
  }

  test("OBV over null volumes: a flat tick makes it 0, no flat tick keeps it null") {
    // SQL-null-semantics parity (the sf0.1 sweep regression): the batch
    // oracle's sum(signed) skips null volumes but a FLAT tick contributes
    // a literal 0 — an all-null-volume frame with one repeated price must
    // therefore emit obv = 0, not null
    import graft.streaming.IndicatorMath
    def row(ps: Seq[Double]) =
      IndicatorMath.latestRow("A", 1700000000000L + (ps.length - 1) * 5000L, ps.toArray)
    val strictlyMoving = (1 to 30).map(_.toDouble) // every diff > 0, vols null
    assert(row(strictlyMoving).obv.isEmpty,
      "all contributions null => OBV must stay null (SQL sum of all nulls)")
    val withFlat = strictlyMoving.take(10) ++ Seq(10.0) ++
      strictlyMoving.drop(10) // one repeated price mid-frame
    assert(row(withFlat).obv.contains(0L),
      "a flat tick contributes a literal 0 => OBV must be 0, not null")
  }
}
