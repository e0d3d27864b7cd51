package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{WindowIndicators => WI}
import graft.operators.IndicatorPipeline
import graft.sources.Tables
import graft.OracleSql._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry in [[registry]] is one operator from SURVEY §2 (or an
  * extended-pipeline operator) declared once as a [[Query]]; [[queries]],
  * [[oracleSql]] and [[verifyOnly]] are views of it. The oracle is the
  * equivalent DuckDB SQL the Verify gate hash-compares against at sf0.01. All
  * derived doubles are rounded to 4 dp on both sides; timestamps always go
  * through µs precision.
  */
object SparkEntry {

  /** Deterministic 4-dp rounding: floor(x·10⁴+0.5)/10⁴ in pure double
    * arithmetic — bitwise-identical in Spark and DuckDB, unlike round(),
    * whose half-case handling differs (Spark: decimal-string HALF_UP;
    * DuckDB: IEEE double). Oracle SQL uses the same formula. */
  private def r(c: Column): Column = floor(c * lit(10000) + lit(0.5)) / lit(10000)

  /** Flagship: full 13-indicator backfill over sf0.001 bars. */
  def entry(spark: SparkSession): DataFrame =
    IndicatorPipeline.full(Tables.bars(spark, "/root/testdata/sf0.001"))

  // ---------------------------------------------------------------- parity

  /** P1/P2/P3/F1: JSON field extraction, ms conversion, null guard
    * (producer.py:67-86, consumer.py:146-149). */
  private def qTickParse(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .filter(col("value").isNotNull && col("ts").isNotNull)
      .select(
        col("event_id"),
        col("user_id").cast("string").as("symbol"),
        col("value").as("price"),
        unix_millis(col("ts")).as("ts_ms"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))

  /** S2-analog bar construction: tick stream → hourly OHLCV bars. */
  private def qBarsHourly(s: SparkSession, dir: String): DataFrame =
    Tables.bars(s, dir)

  /** Extended window-indicator family beyond the reference's 13 (same
    * pandas-ta catalog the reference draws from): Williams %R(14), ROC(12),
    * momentum(10), Donchian(20) channel, Keltner(20, ATR-SMA 10) channel,
    * CCI(20). All pure window expressions over the one shared
    * (symbol, time) WindowSpec — Catalyst collapses the whole family into a
    * single WindowExec, so the marginal cost over q_indicators is zero
    * shuffles. */
  private def qIndicatorsExt(s: SparkSession, dir: String): DataFrame = {
    val spec = WI.w()
    val (dUp, dMid, dLo) = WI.donchian(col("high"), col("low"), 20, spec)
    val (kMid, kUp, kLo) = WI.keltner(col("high"), col("low"), col("close"), 20, 10, 2.0, spec)
    Tables.bars(s, dir).select(
      col("symbol"), col("time"),
      r(WI.williamsR(col("high"), col("low"), col("close"), 14, spec)).as("will_r_14"),
      r(WI.roc(col("close"), 12, spec)).as("roc_12"),
      r(WI.momentum(col("close"), 10, spec)).as("mom_10"),
      r(dUp).as("donch_up"), r(dMid).as("donch_mid"), r(dLo).as("donch_lo"),
      r(kMid).as("kelt_mid"), r(kUp).as("kelt_up"), r(kLo).as("kelt_lo"),
      r(WI.cci(col("high"), col("low"), col("close"), 20, spec)).as("cci_20"))
  }

  /** Rolling order statistics: trailing-20 median and p90 of close per
    * symbol (the rolling sibling of q_percentiles' global aggregates). */
  private def qRollingQuantile(s: SparkSession, dir: String): DataFrame = {
    val spec = WI.w()
    Tables.bars(s, dir).select(
      col("symbol"), col("time"),
      r(WI.rollingQuantile(col("close"), 20, 0.5, spec)).as("med_20"),
      r(WI.rollingQuantile(col("close"), 20, 0.9, spec)).as("p90_20"))
  }

  /** A13 / read-API: latest row per key (roadmap /latest_price). */
  private def qLatestPerKey(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts").desc, col("event_id").desc)
    Tables.events(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"), col("value"))
  }

  /** Read-API: key + time-range scan (roadmap /indicators) — filter reaches
    * the parquet scan as PushedFilters. */
  private def qTimeRange(s: SparkSession, dir: String): DataFrame =
    Tables.eventsRange(s, dir,
        java.sql.Timestamp.from(java.time.Instant.parse("2024-01-10T00:00:00Z")),
        java.sql.Timestamp.from(java.time.Instant.parse("2024-01-20T00:00:00Z")))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))

  /** ST4/S5: first-write-wins keyed dedup (PK (time,symbol) ON CONFLICT DO
    * NOTHING; setup.py:87, consumer.py:200). */
  private def qDedupFirstWins(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts"), col("event_id"))
    Tables.events(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts").as("first_time"), col("value"))
  }

  // ------------------------------------------------- recursive indicators

  import graft.functions.SeededAggs

  /** Holt linear-trend smoothing + one-step forecast per symbol
    * ([[SeededAggs.HoltAgg]]) — the forecasting extension of the EMA
    * family: level and trend folded together over the running frame,
    * mirrored in the shared recursive oracle's (hl, hb) states. */
  private def qHolt(s: SparkSession, dir: String): DataFrame = {
    val spec = WI.w()
    Tables.bars(s, dir).select(
      col("symbol"), col("time"),
      r(SeededAggs.holt(col("close"), HoltAlpha, HoltBeta, 0, spec)).as("holt_level"),
      r(SeededAggs.holt(col("close"), HoltAlpha, HoltBeta, 1, spec)).as("holt_trend"),
      r(SeededAggs.holt(col("close"), HoltAlpha, HoltBeta, 2, spec)).as("holt_forecast"))
  }

  /** Holt–Winters ADDITIVE triple smoothing, season = the 24-hour bar
    * day ([[SeededAggs.HoltWintersAgg]]) — the seasonal extension of
    * [[qHolt]]: level/trend/season folded together with an O(m) season
    * ring per symbol, mirrored in the shared recursive oracle's
    * (hwsum, hwraw, hws, hwl, hwb) states. */
  private def qHoltWinters(s: SparkSession, dir: String): DataFrame = {
    val spec = WI.w()
    def hw(part: Int) = SeededAggs.holtWinters(
      col("close"), HwM, HoltAlpha, HoltBeta, HwGamma, part, spec)
    Tables.bars(s, dir).select(
      col("symbol"), col("time"),
      r(hw(0)).as("hw_level"), r(hw(1)).as("hw_trend"),
      r(hw(2)).as("hw_season"), r(hw(3)).as("hw_forecast"))
  }

  /** 1-D Kalman filter over the close series ([[SeededAggs.KalmanAgg]])
    * — the adaptive-gain smoother next to the fixed-α EMA family:
    * filtered level, converging gain, and error covariance, mirrored in
    * the shared recursive oracle's (kx, kp, kk) states. */
  private def qKalman(s: SparkSession, dir: String): DataFrame = {
    val spec = WI.w()
    def kf(part: Int) = SeededAggs.kalman(
      col("close"), KalQ, KalR, KalP0, part, spec)
    Tables.bars(s, dir).select(
      col("symbol"), col("time"),
      r(kf(0)).as("kf_level"), r(kf(1)).as("kf_gain"),
      r(kf(2)).as("kf_cov"))
  }

  private val doubleIndicatorCols = Seq("sma_20", "ema_10", "ema_20", "macd_line",
    "adx_14", "rsi_14", "stoch_k_14", "mfi_14", "bb_upper", "bb_lower", "atr_14", "vwap")

  private def roundIndicators(df: DataFrame): DataFrame =
    doubleIndicatorCols.foldLeft(df)((d, c) => d.withColumn(c, r(col(c))))

  /** The flagship batch query: full 20-column backfill output
    * (backfill.py:12-64,137) over hourly bars. */
  private def qIndicators(s: SparkSession, dir: String): DataFrame =
    roundIndicators(IndicatorPipeline.full(Tables.bars(s, dir)))

  /** A single-indicator query (SURVEY §2.3 A1-A12): `symbol`, `time` and
    * the named columns of the rounded [[qIndicators]] row, so each of the
    * reference's indicators has one Catalyst definition
    * ([[IndicatorPipeline.full]]). Column pruning drops every window
    * expression the projection does not read. */
  private def indicatorQuery(cols: String*): (SparkSession, String) => DataFrame =
    (s, dir) => qIndicators(s, dir).select(("symbol" +: "time" +: cols).map(col): _*)

  /** The live-path terminal query (consumer.py:135-173): tick-derived bars
    * (OHLC = price, volume null ⇒ mfi/obv/vwap null), warm-up gate ≥26 rows
    * AND non-null sma_20, newest surviving row per symbol. */
  private def qLiveLatest(s: SparkSession, dir: String): DataFrame =
    roundIndicators(IndicatorPipeline.latestPerSymbol(
      IndicatorPipeline.gated(Tables.liveBars(s, dir))))

  /** The STREAMING indicator read path, promoted to the correctness gate:
    * the sf ticks (first 60 per symbol — the regime where the bounded
    * 60-row stream state is provably identical to the batch windows; the
    * indicators are causal, so the cap is an output filter, not a
    * different computation) are replayed as Kafka-shaped JSON through the
    * REAL streaming pipeline — file-source micro-batches → parse →
    * watermarked replay-dedup → transformWithState on RocksDB → the
    * first-write-wins `IdempotentSink`, as StreamRunner lands it — and the
    * SUNK TABLE is what the oracle hash-checks against the batch indicator
    * SQL. Stream == batch parity was spec-proven (StreamingSpec); this
    * makes it a gated, oracle-checked query. */
  private def qStreamIndicators(s: SparkSession, dir: String): DataFrame = {
    s.conf.set(graft.streaming.StreamIngest.rocksdbConf._1,
      graft.streaming.StreamIngest.rocksdbConf._2)
    val work = SessionScoped.scratchDir("graft_stream_ind")
    val wsym = Window.partitionBy(col("symbol")).orderBy(col("time"))
    val ticks = Tables.ticks(s, dir)
      .withColumn("rn", row_number().over(wsym))
      .filter(col("rn") <= graft.model.Model.LookbackRows)
      .select(to_json(struct(col("symbol"), col("price"),
          unix_millis(col("time")).as("timestamp"))).as("value"),
        unix_millis(col("time")).as("ms"))
    // three time-range replay micro-batches (per-symbol time order is
    // preserved because the split is by time) — shared feed machinery
    graft.streaming.Feeder.replay(ticks, "ms", work) { feed =>
      graft.streaming.StreamIngest.fromRaw(feed())
        .select(col("row.*"), col("seq"))
        .writeStream
        .option("checkpointLocation", s"$work/ckpt")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          graft.sinks.IdempotentSink.append(batch, s"$work/out", Seq("time", "symbol"), "seq")
        }
        .start()
    }
    roundIndicators(s.read.parquet(s"$work/out"))
      .select(graft.model.Model.DbColumns.map(col): _*)
  }

  // --------------------------------------------------------------- registry

  /** Oracle for the streaming read path: the batch live-bars indicator SQL
    * over per-symbol rows 26..60 — exactly the warm-up-gated, untruncated
    * regime the stream replay emits (the indicators are causal, so capping
    * the OUTPUT rows at rn ≤ 60 equals capping the input ticks). */
  private val streamIndicatorsOracle: String = recWinQuery(
    s""", findic AS (
       |$fullIndicatorSelect
       |), g AS (
       |  SELECT f.*, b.rn
       |  FROM findic f JOIN b ON b.symbol = f.symbol AND b.time = f.time
       |  WHERE b.rn >= 26 AND b.rn <= 60 AND f.sma_20 IS NOT NULL
       |)
       |SELECT date_trunc('milliseconds', time) AS time,
       |       symbol, open, high, low, close, volume, sma_20, ema_10, ema_20,
       |       macd_line, adx_14, rsi_14, stoch_k_14, mfi_14, bb_upper, bb_lower,
       |       atr_14, obv, vwap
       |FROM g""".stripMargin,
    live = true)
    // ^ the stream's tick timestamps ride the Kafka JSON contract in
    // epoch-MILLISECONDS (producer.py's s→ms conversion), so the sunk
    // table's time is ms-precision; the oracle truncates only its OUTPUT
    // column — the recursion/windows still order by full-µs time

  private val liveLatestOracle: String = recWinQuery(
    s""", findic AS (
       |$fullIndicatorSelect
       |), g AS (
       |  SELECT f.*, b.rn,
       |    row_number() OVER (PARTITION BY f.symbol ORDER BY f.time DESC) AS rnd
       |  FROM findic f JOIN b ON b.symbol = f.symbol AND b.time = f.time
       |  WHERE b.rn >= 26 AND f.sma_20 IS NOT NULL
       |)
       |SELECT time, symbol, open, high, low, close, volume, sma_20, ema_10, ema_20,
       |       macd_line, adx_14, rsi_14, stoch_k_14, mfi_14, bb_upper, bb_lower,
       |       atr_14, obv, vwap
       |FROM g WHERE rnd = 1""".stripMargin,
    live = true)

  /** The paper's own indicator, parity and read-path queries. */
  val entries: Seq[Query] = Seq(
    Query("q_ema", indicatorQuery("ema_10", "ema_20"), Some(recQuery(
      s"""SELECT symbol, time, ${r4(emaOut10)} AS ema_10, ${r4(emaOut20)} AS ema_20
         |FROM rec""".stripMargin))),

    Query("q_holt", qHolt, Some(recQuery(
      s"""SELECT symbol, time, ${r4("hl")} AS holt_level,
         |  ${r4("hb")} AS holt_trend, ${r4("hl + hb")} AS holt_forecast
         |FROM rec""".stripMargin))),

    Query("q_holt_winters", qHoltWinters, Some(recQuery(
      s"""SELECT symbol, time,
         |  ${r4(s"CASE WHEN rn >= $HwM THEN hwl END")} AS hw_level,
         |  ${r4(s"CASE WHEN rn >= $HwM THEN hwb END")} AS hw_trend,
         |  ${r4(s"CASE WHEN rn >= $HwM THEN hws[((rn - 1) % $HwM) + 1] END")} AS hw_season,
         |  ${r4(s"CASE WHEN rn >= $HwM THEN hwl + hwb + hws[(rn % $HwM) + 1] END")} AS hw_forecast
         |FROM rec""".stripMargin))),

    Query("q_kalman", qKalman, Some(recQuery(
      s"""SELECT symbol, time, ${r4("kx")} AS kf_level,
         |  ${r4("kk")} AS kf_gain, ${r4("kp")} AS kf_cov
         |FROM rec""".stripMargin))),

    Query("q_macd", indicatorQuery("macd_line"), Some(recQuery(
      s"SELECT symbol, time, ${r4(macdOut)} AS macd_line FROM rec"))),

    Query("q_rsi", indicatorQuery("rsi_14"), Some(recQuery(
      s"SELECT symbol, time, ${r4(rsiOut)} AS rsi_14 FROM rec"))),

    Query("q_atr", indicatorQuery("atr_14"), Some(recQuery(
      s"SELECT symbol, time, ${r4(atrOut)} AS atr_14 FROM rec"))),

    Query("q_adx", indicatorQuery("adx_14"), Some(recQuery(
      s"SELECT symbol, time, ${r4(adxOut)} AS adx_14 FROM rec"))),

    Query("q_indicators", qIndicators, Some(recWinQuery(fullIndicatorSelect))),

    Query("q_live_latest", qLiveLatest, Some(liveLatestOracle)),
    Query("q_stream_indicators", qStreamIndicators, Some(streamIndicatorsOracle), benched = false),
    Query("q_tick_parse", qTickParse, Some(
      """SELECT event_id, CAST(user_id AS VARCHAR) AS symbol, value AS price,
        |  epoch_ms(CAST(ts AS TIMESTAMP)) AS ts_ms,
        |  CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |FROM events WHERE value IS NOT NULL AND ts IS NOT NULL""".stripMargin)),

    Query("q_bars_hourly", qBarsHourly, Some(withTicksBars("SELECT * FROM bars"))),

    Query("q_sma_bb", indicatorQuery("sma_20", "bb_upper", "bb_lower"), Some(withTicksBars(
      """, w1 AS (
        |  SELECT symbol, time,
        |    count(close) OVER w20 AS c20,
        |    avg(close) OVER w20 AS m20,
        |    stddev_samp(close) OVER w20 AS sd20
        |  FROM bars
        |  WINDOW w20 AS (PARTITION BY symbol ORDER BY time ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
        |)
        |SELECT symbol, time,
        |  floor((CASE WHEN c20 = 20 THEN m20 END) * 10000 + 0.5) / 10000 AS sma_20,
        |  floor((CASE WHEN c20 = 20 THEN m20 + 2 * sd20 END) * 10000 + 0.5) / 10000 AS bb_upper,
        |  floor((CASE WHEN c20 = 20 THEN m20 - 2 * sd20 END) * 10000 + 0.5) / 10000 AS bb_lower
        |FROM w1""".stripMargin))),

    Query("q_stoch", indicatorQuery("stoch_k_14"), Some(withTicksBars(
      """, w1 AS (
        |  SELECT symbol, time, close,
        |    count(close) OVER w14 AS c14,
        |    min(low) OVER w14 AS lo14,
        |    max(high) OVER w14 AS hi14
        |  FROM bars
        |  WINDOW w14 AS (PARTITION BY symbol ORDER BY time ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        |), w2 AS (
        |  SELECT symbol, time,
        |    CASE WHEN c14 = 14 THEN 100 * (close - lo14) / nullif(hi14 - lo14, 0) END AS rawk
        |  FROM w1
        |), w3 AS (
        |  SELECT symbol, time, count(rawk) OVER ws AS c3, avg(rawk) OVER ws AS k3
        |  FROM w2
        |  WINDOW ws AS (PARTITION BY symbol ORDER BY time ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |)
        |SELECT symbol, time, floor((CASE WHEN c3 = 3 THEN k3 END) * 10000 + 0.5) / 10000 AS stoch_k_14 FROM w3""".stripMargin))),

    Query("q_mfi", indicatorQuery("mfi_14"), Some(withTicksBars(
      """, w1 AS (
        |  SELECT symbol, time, volume,
        |    (high + low + close) / 3 AS tp,
        |    (high + low + close) / 3
        |      - lag((high + low + close) / 3) OVER (PARTITION BY symbol ORDER BY time) AS d
        |  FROM bars
        |), w2 AS (
        |  SELECT symbol, time,
        |    count(d) OVER w14 AS c14,
        |    sum(CASE WHEN d IS NULL THEN NULL WHEN d > 0 THEN tp * volume ELSE 0 END) OVER w14 AS pos,
        |    sum(CASE WHEN d IS NULL THEN NULL WHEN d < 0 THEN tp * volume ELSE 0 END) OVER w14 AS neg
        |  FROM w1
        |  WINDOW w14 AS (PARTITION BY symbol ORDER BY time ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        |)
        |SELECT symbol, time,
        |  floor((CASE WHEN c14 = 14 THEN 100 * pos / nullif(pos + neg, 0) END) * 10000 + 0.5) / 10000 AS mfi_14
        |FROM w2""".stripMargin))),

    Query("q_obv", indicatorQuery("obv"), Some(withTicksBars(
      """, w1 AS (
        |  SELECT symbol, time, volume,
        |    close - lag(close) OVER (PARTITION BY symbol ORDER BY time) AS d
        |  FROM bars
        |)
        |SELECT symbol, time,
        |  CAST(sum(CASE WHEN d IS NULL THEN volume WHEN d > 0 THEN volume
        |                WHEN d < 0 THEN -volume ELSE 0 END)
        |    OVER (PARTITION BY symbol ORDER BY time
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS obv
        |FROM w1""".stripMargin))),

    Query("q_vwap", indicatorQuery("vwap"), Some(withTicksBars(
      """, w1 AS (
        |  SELECT symbol, time, volume, (high + low + close) / 3 AS tp FROM bars
        |)
        |SELECT symbol, time,
        |  floor((sum(tp * volume) OVER wd / sum(volume) OVER wd) * 10000 + 0.5) / 10000 AS vwap
        |FROM w1
        |WINDOW wd AS (PARTITION BY symbol, CAST(time AS DATE) ORDER BY time
        |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin))),

    Query("q_rolling_quantile", qRollingQuantile, Some {
      val (lo5, a5, b5) = WI.quantileWeights(20, 0.5)
      val (lo9, a9, b9) = WI.quantileWeights(20, 0.9)
      withTicksBars(
        s""", w1 AS (
           |  SELECT symbol, time,
           |    count(close) OVER w20 AS cnt,
           |    list_sort(list(close) OVER w20) AS l
           |  FROM bars
           |  WINDOW w20 AS (PARTITION BY symbol ORDER BY time
           |                 ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
           |)
           |SELECT symbol, time,
           |  ${r4(s"CASE WHEN cnt = 20 THEN l[${lo5 + 1}] * $a5 + l[${lo5 + 2}] * $b5 END")} AS med_20,
           |  ${r4(s"CASE WHEN cnt = 20 THEN l[${lo9 + 1}] * $a9 + l[${lo9 + 2}] * $b9 END")} AS p90_20
           |FROM w1""".stripMargin)
    }),

    Query("q_indicators_ext", qIndicatorsExt, Some(withTicksBars(
      s""", w1 AS (
         |  SELECT symbol, time, high, low, close,
         |    (high + low + close) / 3 AS tp,
         |    lag(close) OVER w AS pc,
         |    lag(close, 12) OVER w AS c12,
         |    lag(close, 10) OVER w AS c10,
         |    count(close) OVER w14 AS cnt14,
         |    max(high) OVER w14 AS hh14,
         |    min(low) OVER w14 AS ll14,
         |    count(close) OVER w20 AS cnt20,
         |    max(high) OVER w20 AS dup20,
         |    min(low) OVER w20 AS dlo20
         |  FROM bars
         |  WINDOW
         |    w AS (PARTITION BY symbol ORDER BY time),
         |    w14 AS (PARTITION BY symbol ORDER BY time ROWS BETWEEN 13 PRECEDING AND CURRENT ROW),
         |    w20 AS (PARTITION BY symbol ORDER BY time ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
         |), w2 AS (
         |  SELECT *, CASE WHEN pc IS NULL THEN high - low
         |       ELSE greatest(high - low, abs(high - pc), abs(low - pc)) END AS tr
         |  FROM w1
         |), w3 AS (
         |  SELECT symbol, time, close, tp, c12, c10, cnt14, hh14, ll14,
         |    cnt20, dup20, dlo20,
         |    avg(tp) OVER w20 AS mtp20,
         |    list(tp) OVER w20 AS ltp20,
         |    count(close) OVER w10 AS cnt10,
         |    avg(tr) OVER w10 AS atr10
         |  FROM w2
         |  WINDOW
         |    w20 AS (PARTITION BY symbol ORDER BY time ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
         |    w10 AS (PARTITION BY symbol ORDER BY time ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
         |), w4 AS (
         |  SELECT *,
         |    list_aggregate(list_transform(ltp20, x -> abs(x - mtp20)), 'avg') AS mad20
         |  FROM w3
         |)
         |SELECT symbol, time,
         |  ${r4("CASE WHEN cnt14 = 14 AND hh14 <> ll14 THEN -100 * (hh14 - close) / (hh14 - ll14) END")} AS will_r_14,
         |  ${r4("CASE WHEN c12 IS NOT NULL AND c12 <> 0 THEN 100 * (close - c12) / c12 END")} AS roc_12,
         |  ${r4("close - c10")} AS mom_10,
         |  ${r4("CASE WHEN cnt20 = 20 THEN dup20 END")} AS donch_up,
         |  ${r4("CASE WHEN cnt20 = 20 THEN (dup20 + dlo20) / 2 END")} AS donch_mid,
         |  ${r4("CASE WHEN cnt20 = 20 THEN dlo20 END")} AS donch_lo,
         |  ${r4("CASE WHEN cnt20 = 20 THEN mtp20 END")} AS kelt_mid,
         |  ${r4("CASE WHEN cnt20 = 20 AND cnt10 = 10 THEN mtp20 + 2 * atr10 END")} AS kelt_up,
         |  ${r4("CASE WHEN cnt20 = 20 AND cnt10 = 10 THEN mtp20 - 2 * atr10 END")} AS kelt_lo,
         |  ${r4("CASE WHEN cnt20 = 20 AND mad20 <> 0 THEN (tp - mtp20) / (0.015 * mad20) END")} AS cci_20
         |FROM w4""".stripMargin))),

    Query("q_latest_per_key", qLatestPerKey, Some(
      """WITH w1 AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn
        |  FROM events
        |)
        |SELECT user_id, event_id, ts, event_type, value FROM w1 WHERE rn = 1""".stripMargin)),

    Query("q_time_range", qTimeRange, Some(
      """SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value
        |FROM events
        |WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-20 00:00:00'
        |  AND event_type = 'purchase'""".stripMargin)),

    Query("q_dedup_first_wins", qDedupFirstWins, Some(
      """WITH w1 AS (
        |  SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS first_time, value,
        |    row_number() OVER (PARTITION BY user_id, event_type
        |                       ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
        |  FROM events
        |)
        |SELECT user_id, event_type, event_id, first_time, value FROM w1 WHERE rn = 1""".stripMargin)),
  )

  /** Every query, each declared once; a name declared twice fails
    * this object's initialisation. */
  val registry: Seq[Query] = Query.concat(entries, AnnEntries.entries,
    CorpusEntries.entries, GraphEntries.entries, MediaEntries.entries,
    RelationalEntries.entries, StreamEntries.entries, TextDedupEntries.entries)

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.body).toMap

  lazy val oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** Verify-gate-only queries, excluded from the bench sweep (see
    * [[Query.benched]]). */
  lazy val verifyOnly: Set[String] =
    registry.filterNot(_.benched).map(_.name).toSet

  /** `names` narrowed to the dev-only SPARK_GRAFT_ONLY subset (unset for
    * a full run), noting the narrowing on stderr under `tag`.
    * An empty or whitespace-only value is treated as unset — Set("") would
    * otherwise silently filter out EVERY query (empty output, no error). */
  def selectOnly(tag: String, names: Seq[String]): Seq[String] =
    sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty) match {
      case None => names
      case Some(only) =>
        val kept = names.filter(only)
        System.err.println(
          s"[$tag] SPARK_GRAFT_ONLY active: running ${kept.size}/${names.size} queries")
        kept
    }
}
