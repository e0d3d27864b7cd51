package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.IndicatorPipeline

/** Ports the reference's consumer contract tests
  * (trading-etl-python/tests/test_consumer.py:89-161). */
class IndicatorPipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Synthetic tick stream from tests/test_consumer.py:97-99: price 150+i,
    * 5s apart, live-path bars (OHLC = price, volume null). */
  private def liveTicks(n: Int, symbol: String = "AAPL") =
    (0 until n).map { i =>
      val p = 150.0 + i
      (new Timestamp(1700000000L + i * 5000L), symbol, p, p, p, p,
        None: Option[Long])
    }.toDF("time", "symbol", "open", "high", "low", "close", "volume")

  test("warm-up: 10 ticks => no output (test_consumer.py:89-112)") {
    assert(IndicatorPipeline.gated(liveTicks(10)).count() == 0)
  }

  test("30 ticks => exactly 5 rows (26..30), last close 179; volume indicators null (test_consumer.py:115-161)") {
    val out = IndicatorPipeline.gated(liveTicks(30)).orderBy("time").collect()
    assert(out.length == 5)
    assert(out.last.getAs[Double]("close") == 179.0)
    out.foreach { r =>
      assert(r.isNullAt(r.fieldIndex("mfi_14")))
      assert(r.isNullAt(r.fieldIndex("obv")))
      assert(r.isNullAt(r.fieldIndex("vwap")))
      assert(!r.isNullAt(r.fieldIndex("sma_20")))
      assert(!r.isNullAt(r.fieldIndex("ema_10")))
      assert(!r.isNullAt(r.fieldIndex("macd_line")))
      assert(!r.isNullAt(r.fieldIndex("rsi_14")))
    }
    // monotonically rising closes => RSI must be 100 (all gains, zero loss)
    assert(out.forall(_.getAs[Double]("rsi_14") == 100.0))
  }

  test("latestPerSymbol keeps exactly one newest row per symbol (consumer.py:135)") {
    val two = liveTicks(30, "A").union(liveTicks(28, "B"))
    val latest = IndicatorPipeline.latestPerSymbol(IndicatorPipeline.gated(two))
    val rows = latest.select("symbol", "close").orderBy("symbol").collect()
    assert(rows.map(r => (r.getString(0), r.getDouble(1))).toSeq ==
      Seq(("A", 179.0), ("B", 177.0)))
  }

  test("full() emits every input row with leading nulls (backfill parity)") {
    val out = IndicatorPipeline.full(liveTicks(30))
    assert(out.count() == 30)
    assert(out.columns.toSeq == graft.model.Model.DbColumns)
    assert(out.filter(col("sma_20").isNull).count() == 19)
  }

  test("single-indicator queries plan only the window expressions they read") {
    // Each of these queries is a projection of IndicatorPipeline.full; the
    // design relies on column pruning reaching through its layered selects.
    import org.apache.spark.sql.catalyst.plans.logical.Window
    val maxWindowExprs = Map("q_rsi" -> 3, "q_atr" -> 2, "q_adx" -> 4,
      "q_sma_bb" -> 3, "q_stoch" -> 5, "q_mfi" -> 4, "q_obv" -> 2,
      "q_vwap" -> 2, "q_ema" -> 2, "q_macd" -> 2)
    val over = maxWindowExprs.toSeq.sorted.flatMap { case (q, max) =>
      val plan = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
        .queryExecution.optimizedPlan
      val n = plan.collect { case w: Window => w.windowExpressions.size }.sum
      if (n > max) Some(s"$q plans $n window expressions, at most $max expected") else None
    }
    assert(over.isEmpty, over.mkString("; "))
  }

  test("flagship entry() runs and returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).limit(5).count() > 0)
  }
}
