package graft

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{WindowIndicators => WI}
import graft.operators.IndicatorPipeline

object SparkTestSession {
  lazy val spark: SparkSession = GraftSession.local(4,
    "spark.sql.warehouse.dir" -> SessionScoped.scratchDir("graft_wh"),
    graft.streaming.StreamIngest.rocksdbConf)
}

/** The [[IndicatorPipeline.full]] input built from a
  * (time, symbol, close, volume) frame: open, high and low all = close. */
object CloseBars {
  def apply(df: DataFrame): DataFrame = df.select(col("time"), col("symbol"),
    col("close").as("open"), col("close").as("high"), col("close").as("low"),
    col("close"), col("volume"))
}

class WindowIndicatorsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def series(vals: Seq[Double], symbol: String = "S") =
    vals.zipWithIndex.map { case (v, i) =>
      (new Timestamp(1700000000000L + i * 5000L), symbol, v)
    }.toDF("time", "symbol", "close")

  test("SMA golden from reference tests/test_processing_indicators.py:28-39") {
    val df = series(Seq(10, 12, 15, 14, 13, 16, 18, 17, 19, 20))
    val got = df.select(WI.sma(col("close"), 5, WI.w()).as("sma"))
      .orderBy(col("sma").asc_nulls_first)
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getDouble(0)))
    // indices 0-3 null; idx 4 = 12.8; idx 9 = 18.0
    assert(got.count(_.isEmpty) == 4)
    assert(got.flatten.contains(12.8))
    assert(got.flatten.max == 18.0)
  }

  test("SMA empty input yields empty output, no crash (test_processing_indicators.py:42-52)") {
    val df = series(Seq.empty)
    assert(df.select(WI.sma(col("close"), 5, WI.w())).count() == 0)
  }

  test("SMA stays within window min/max (property)") {
    val vals = (1 to 100).map(i => 50.0 + math.sin(i) * 10)
    val df = series(vals)
    val rows = df
      .withColumn("sma", WI.sma(col("close"), 20, WI.w()))
      .withColumn("mn", min(col("close")).over(WI.w().rowsBetween(-19, 0)))
      .withColumn("mx", max(col("close")).over(WI.w().rowsBetween(-19, 0)))
      .filter(col("sma").isNotNull)
      .select(col("sma"), col("mn"), col("mx")).collect()
    assert(rows.length == 81)
    rows.foreach { r => assert(r.getDouble(0) >= r.getDouble(1) && r.getDouble(0) <= r.getDouble(2)) }
  }

  test("OBV: classic telescoping on a monotone series is cumulative volume") {
    val df = Seq(
      (new Timestamp(0L), "S", 1.0, 10L), (new Timestamp(1000L), "S", 2.0, 20L),
      (new Timestamp(2000L), "S", 3.0, 30L), (new Timestamp(3000L), "S", 2.0, 40L))
      .toDF("time", "symbol", "close", "volume")
    val got = IndicatorPipeline.full(CloseBars(df)).select(col("obv"))
      .orderBy("obv").collect().map(_.getLong(0))
    // +10, +20, +30, -40 → running 10, 30, 60, 20
    assert(got.toSeq == Seq(10L, 20L, 30L, 60L))
  }

  test("null volume (live path) nulls mfi/obv/vwap — consumer.py:124-127 contract") {
    val vals = (1 to 40).map(i => 100.0 + i % 7)
    val df = series(vals).withColumn("volume", lit(null).cast("long"))
    val out = IndicatorPipeline.full(CloseBars(df)).select(
      col("mfi_14").as("mfi"), col("obv"), col("vwap"))
    assert(out.filter(col("mfi").isNotNull || col("obv").isNotNull || col("vwap").isNotNull).count() == 0)
  }
}
