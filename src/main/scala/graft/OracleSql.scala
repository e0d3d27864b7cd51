package graft

import graft.EntryMath.r4

/** DuckDB oracle SQL building blocks shared across queries.
  *
  * Parity rules with the Spark side (see Verify/driver contract):
  *  - `events.ts` is ns in parquet; Spark reads it truncated to µs, so the
  *    oracle always goes through `CAST(ts AS TIMESTAMP)` (also truncating).
  *  - DuckDB `sum(BIGINT)` widens to HUGEINT → always cast back to BIGINT.
  *  - Every derived DOUBLE is rounded to 4 dp on BOTH sides so unrelated
  *    floating summation orders can't flip the driver's hash compare.
  *  - Column aliases match the Spark output exactly (driver sorts columns
  *    by name before hashing).
  */
object OracleSql {

  /** Tick stream stand-in — mirrors [[graft.sources.Tables.ticks]]. */
  val ticksCte: String =
    """ticks AS (
      |  SELECT CAST(user_id AS VARCHAR) AS symbol,
      |         CAST(ts AS TIMESTAMP) AS time,
      |         value AS price,
      |         CAST(event_id % 97 + 1 AS BIGINT) AS volume
      |  FROM events
      |)""".stripMargin

  /** Hourly OHLCV bars — mirrors [[graft.sources.Tables.bars]]. */
  val barsCte: String =
    """bars AS (
      |  SELECT symbol, date_trunc('hour', time) AS time,
      |         arg_min(price, time) AS open,
      |         max(price) AS high,
      |         min(price) AS low,
      |         arg_max(price, time) AS close,
      |         CAST(sum(volume) AS BIGINT) AS volume
      |  FROM ticks GROUP BY 1, 2
      |)""".stripMargin

  /** Bars with per-symbol row index (recursion driver). */
  val bCte: String =
    """b AS (
      |  SELECT symbol, time, open, high, low, close, volume,
      |         CAST(row_number() OVER (PARTITION BY symbol ORDER BY time) AS BIGINT) AS rn
      |  FROM bars
      |)""".stripMargin

  def withTicksBars(body: String): String =
    s"WITH $ticksCte, $barsCte\n$body"

  /** Live-path bars: every tick is a bar with OHLC = price, volume NULL
    * (consumer.py:153-159) — mirrors [[graft.sources.Tables.liveBars]]. */
  val liveBarsCte: String =
    """bars AS (
      |  SELECT time, symbol, price AS open, price AS high, price AS low,
      |         price AS close, CAST(NULL AS BIGINT) AS volume
      |  FROM ticks
      |)""".stripMargin

  /** Per-symbol derived series feeding the recursions: row index, close
    * diffs (gain/loss), true range, ±directional movement. Mirrors
    * IndicatorPipeline's lag-derived inputs. */
  val recInputCte: String =
    """b0 AS (
      |  SELECT symbol, time, high, low, close,
      |         CAST(row_number() OVER w AS BIGINT) AS rn,
      |         close - lag(close) OVER w AS d,
      |         high - lag(high) OVER w AS up,
      |         lag(low) OVER w - low AS dn,
      |         lag(close) OVER w AS pc
      |  FROM bars
      |  WINDOW w AS (PARTITION BY symbol ORDER BY time)
      |), b AS (
      |  SELECT symbol, time, rn, close,
      |    CASE WHEN d IS NULL THEN NULL WHEN d > 0 THEN d ELSE 0 END AS gain,
      |    CASE WHEN d IS NULL THEN NULL WHEN d < 0 THEN -d ELSE 0 END AS loss,
      |    CASE WHEN pc IS NULL THEN high - low
      |         ELSE greatest(high - low, abs(high - pc), abs(low - pc)) END AS tr,
      |    CASE WHEN up IS NULL THEN NULL WHEN up > dn AND up > 0 THEN up ELSE 0 END AS pdm,
      |    CASE WHEN dn IS NULL THEN NULL WHEN dn > up AND dn > 0 THEN dn ELSE 0 END AS ndm,
      |    CASE WHEN up IS NULL THEN NULL
      |         ELSE greatest(high - low, abs(high - pc), abs(low - pc)) END AS tr2
      |  FROM b0
      |)""".stripMargin

  /** One SMA-seeded exponential-smoother state transition
    * (EmaAgg: s ← α·x + (1−α)·s, SMA seed over the first n inputs).
    * `start` = rn of the first non-null input (1 for close/tr, 2 for diffs). */
  private def emaStep(prev: String, x: String, n: Int, alphaExpr: String,
      start: Int = 1): String = {
    val seedAt = start + n - 1
    s"""CASE WHEN b.rn = $start THEN $x
       |     WHEN b.rn < $seedAt THEN $prev + $x
       |     WHEN b.rn = $seedAt THEN ($prev + $x) / $n
       |     ELSE ($alphaExpr) * $x + (1 - ($alphaExpr)) * $prev END""".stripMargin
  }

  /** Holt linear-trend smoothing parameters shared by q_holt's query
    * (SeededAggs.HoltAgg) and the recursion below — 1−α stays an
    * EXPRESSION on both sides so the doubles agree bit for bit.
    * (Declared BEFORE recCte: object vals initialize in order.) */
  val HoltAlpha = 0.2
  val HoltBeta = 0.1

  /** Holt–Winters seasonal extension (SeededAggs.HoltWintersAgg): level/
    * trend reuse the Holt factors; γ = 0.25 (1−γ = 0.75 is binary-exact,
    * like the proven 1−α/1−β expression pattern); season length 24 (the
    * hourly-bar day). (Declared BEFORE recCte: object vals initialize in
    * order.) */
  val HwM = 24
  val HwGamma = 0.25

  /** 1-D Kalman filter (SeededAggs.KalmanAgg): random-walk process noise
    * q, measurement noise r, initial covariance p0. (Declared BEFORE
    * recCte: object vals initialize in order.) */
  val KalQ = 0.01
  val KalR = 1.0
  val KalP0 = 1.0

  /** The full recursive state machine: every order-dependent indicator state
    * advanced one row per iteration, exactly mirroring SeededAggs.EmaAgg /
    * AdxAgg float-for-float (same operation order ⇒ bitwise-equal doubles).
    * NOTE on lateral aliases: unqualified names that also exist on `rec`
    * resolve to the OLD row in DuckDB, so new states use *2-suffixed
    * aliases inside the inner select. */
  val recCte: String = {
    val s10 = emaStep("r.s10", "b.close", 10, "2.0/11")
    val s20 = emaStep("r.s20", "b.close", 20, "2.0/21")
    val s12 = emaStep("r.s12", "b.close", 12, "2.0/13")
    val s26 = emaStep("r.s26", "b.close", 26, "2.0/27")
    val sg = emaStep("r.sg", "b.gain", 14, "1.0/14", start = 2)
    val sl = emaStep("r.sl", "b.loss", 14, "1.0/14", start = 2)
    val sa = emaStep("r.sa", "b.tr", 14, "1.0/14")
    s"""rec AS (
       |  SELECT symbol, time, rn, close AS s10, close AS s20, close AS s12, close AS s26,
       |         CAST(NULL AS DOUBLE) AS sg, CAST(NULL AS DOUBLE) AS sl,
       |         tr AS sa,
       |         CAST(NULL AS DOUBLE) AS sp, CAST(NULL AS DOUBLE) AS sn, CAST(NULL AS DOUBLE) AS st,
       |         CAST(0 AS BIGINT) AS dxc, CAST(NULL AS DOUBLE) AS dxs,
       |         close AS hl, CAST(0 AS DOUBLE) AS hb,
       |         close AS hwsum, [close] AS hwraw,
       |         CAST(NULL AS DOUBLE[]) AS hws,
       |         CAST(NULL AS DOUBLE) AS hwl, CAST(NULL AS DOUBLE) AS hwb,
       |         close AS kx, CAST($KalP0 AS DOUBLE) AS kp,
       |         CAST(NULL AS DOUBLE) AS kk
       |  FROM b WHERE rn = 1
       |  UNION ALL
       |  SELECT symbol, time, rn, s10x, s20x, s12x, s26x, sgx, slx, sax, sp2, sn2, st2, dxc2, dxs2,
       |         hl2, hb2, hwsum2, hwraw2, hws2, hwl2, hwb2, kx2, kp2, kk2
       |  FROM (
       |    SELECT b.symbol, b.time, b.rn,
       |      $s10 AS s10x,
       |      $s20 AS s20x,
       |      $s12 AS s12x,
       |      $s26 AS s26x,
       |      $sg AS sgx,
       |      $sl AS slx,
       |      $sa AS sax,
       |      CASE WHEN b.rn = 2 THEN b.pdm
       |           WHEN b.rn < 15 THEN r.sp + b.pdm
       |           WHEN b.rn = 15 THEN (r.sp + b.pdm) / 14
       |           ELSE r.sp + (b.pdm - r.sp) / 14 END AS sp2,
       |      CASE WHEN b.rn = 2 THEN b.ndm
       |           WHEN b.rn < 15 THEN r.sn + b.ndm
       |           WHEN b.rn = 15 THEN (r.sn + b.ndm) / 14
       |           ELSE r.sn + (b.ndm - r.sn) / 14 END AS sn2,
       |      CASE WHEN b.rn = 2 THEN b.tr2
       |           WHEN b.rn < 15 THEN r.st + b.tr2
       |           WHEN b.rn = 15 THEN (r.st + b.tr2) / 14
       |           ELSE r.st + (b.tr2 - r.st) / 14 END AS st2,
       |      CASE WHEN b.rn >= 15 AND st2 != 0
       |                AND (100 * sp2 / st2 + 100 * sn2 / st2) != 0
       |           THEN 100 * abs(100 * sp2 / st2 - 100 * sn2 / st2)
       |                / (100 * sp2 / st2 + 100 * sn2 / st2) END AS dx2,
       |      CASE WHEN dx2 IS NOT NULL THEN r.dxc + 1 ELSE r.dxc END AS dxc2,
       |      CASE WHEN dx2 IS NULL THEN r.dxs
       |           WHEN dxc2 < 14 THEN coalesce(r.dxs, 0) + dx2
       |           WHEN dxc2 = 14 THEN (coalesce(r.dxs, 0) + dx2) / 14
       |           ELSE r.dxs + (dx2 - r.dxs) / 14 END AS dxs2,
       |      $HoltAlpha * b.close + (1 - $HoltAlpha) * (r.hl + r.hb) AS hl2,
       |      $HoltBeta * (hl2 - r.hl) + (1 - $HoltBeta) * r.hb AS hb2,
       |      CASE WHEN b.rn < $HwM THEN r.hwsum + b.close ELSE r.hwsum END AS hwsum2,
       |      CASE WHEN b.rn < $HwM THEN list_append(r.hwraw, b.close) END AS hwraw2,
       |      CASE WHEN b.rn = $HwM THEN (r.hwsum + b.close) / $HwM
       |           WHEN b.rn > $HwM THEN $HoltAlpha
       |                * (b.close - r.hws[((b.rn - 1) % $HwM) + 1])
       |                + (1 - $HoltAlpha) * (r.hwl + r.hwb) END AS hwl2,
       |      CASE WHEN b.rn = $HwM THEN CAST(0 AS DOUBLE)
       |           WHEN b.rn > $HwM THEN $HoltBeta * (hwl2 - r.hwl)
       |                + (1 - $HoltBeta) * r.hwb END AS hwb2,
       |      CASE WHEN b.rn > $HwM THEN $HwGamma * (b.close - hwl2)
       |           + (1 - $HwGamma) * r.hws[((b.rn - 1) % $HwM) + 1] END AS hwnews2,
       |      CASE WHEN b.rn = $HwM
       |             THEN list_transform(list_append(r.hwraw, b.close), v -> v - hwl2)
       |           WHEN b.rn > $HwM THEN list_transform(range(1, $HwM + 1),
       |             i -> CASE WHEN i = ((b.rn - 1) % $HwM) + 1
       |                       THEN hwnews2 ELSE r.hws[i] END) END AS hws2,
       |      (r.kp + $KalQ) / ((r.kp + $KalQ) + $KalR) AS kk2,
       |      r.kx + kk2 * (b.close - r.kx) AS kx2,
       |      (1 - kk2) * (r.kp + $KalQ) AS kp2
       |    FROM rec r JOIN b ON b.symbol = r.symbol AND b.rn = r.rn + 1
       |  )
       |)""".stripMargin
  }

  /** Output expressions over `rec` (pre-rounding). */
  val emaOut10 = "CASE WHEN rn >= 10 THEN s10 END"
  val emaOut20 = "CASE WHEN rn >= 20 THEN s20 END"
  val macdOut = "CASE WHEN rn >= 26 THEN s12 - s26 END"
  val rsiOut: String =
    """CASE WHEN rn >= 15 THEN
      |  CASE WHEN sl = 0 THEN 100.0 ELSE 100.0 - 100.0 / (1.0 + sg / sl) END
      |END""".stripMargin
  val atrOut = "CASE WHEN rn >= 14 THEN sa END"
  val adxOut = "CASE WHEN dxc >= 14 THEN dxs END"

  /** Window-expressible indicator columns over `bars` (shared by the full
    * oracle); emits one row per bar keyed (symbol, time). */
  val winCte: String =
    """wroll AS (
      |  SELECT symbol, time, open, high, low, close, volume,
      |    count(close) OVER w20 AS c20,
      |    avg(close) OVER w20 AS m20,
      |    stddev_samp(close) OVER w20 AS sd20,
      |    count(close) OVER w14 AS c14k,
      |    min(low) OVER w14 AS lo14,
      |    max(high) OVER w14 AS hi14,
      |    (high + low + close) / 3 AS tp,
      |    (high + low + close) / 3 - lag((high + low + close) / 3) OVER wo AS tpd,
      |    close - lag(close) OVER wo AS cd
      |  FROM bars
      |  WINDOW
      |    w20 AS (PARTITION BY symbol ORDER BY time ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
      |    w14 AS (PARTITION BY symbol ORDER BY time ROWS BETWEEN 13 PRECEDING AND CURRENT ROW),
      |    wo AS (PARTITION BY symbol ORDER BY time)
      |), wroll2 AS (
      |  SELECT *,
      |    CASE WHEN c14k = 14 THEN 100 * (close - lo14) / nullif(hi14 - lo14, 0) END AS rawk,
      |    CASE WHEN tpd IS NULL THEN NULL WHEN tpd > 0 THEN tp * volume ELSE 0 END AS posmf,
      |    CASE WHEN tpd IS NULL THEN NULL WHEN tpd < 0 THEN tp * volume ELSE 0 END AS negmf,
      |    CASE WHEN cd IS NULL THEN volume WHEN cd > 0 THEN volume
      |         WHEN cd < 0 THEN -volume ELSE 0 END AS sv
      |  FROM wroll
      |), wind AS (
      |  SELECT symbol, time, open, high, low, close, volume,
      |    CASE WHEN c20 = 20 THEN m20 END AS sma_20,
      |    CASE WHEN c20 = 20 THEN m20 + 2 * sd20 END AS bb_upper,
      |    CASE WHEN c20 = 20 THEN m20 - 2 * sd20 END AS bb_lower,
      |    CASE WHEN count(rawk) OVER w3 = 3 THEN avg(rawk) OVER w3 END AS stoch_k_14,
      |    CASE WHEN count(tpd) OVER w14b = 14
      |         THEN 100 * sum(posmf) OVER w14b
      |              / nullif(sum(posmf) OVER w14b + sum(negmf) OVER w14b, 0) END AS mfi_14,
      |    CAST(sum(sv) OVER wcum AS BIGINT) AS obv,
      |    sum(tp * volume) OVER wd / sum(volume) OVER wd AS vwap
      |  FROM wroll2
      |  WINDOW
      |    w3 AS (PARTITION BY symbol ORDER BY time ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
      |    w14b AS (PARTITION BY symbol ORDER BY time ROWS BETWEEN 13 PRECEDING AND CURRENT ROW),
      |    wcum AS (PARTITION BY symbol ORDER BY time ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |    wd AS (PARTITION BY symbol, CAST(time AS DATE) ORDER BY time
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |)""".stripMargin

  /** Per-document composite quality score CTE (mirrors
    * graft.operators.TextAnalysis.stats's quality_score, 4dp-rounded):
    * emits `qscore(doc_id, quality_score)`. Shared by the decile and
    * hybrid-search oracles so the formula has one SQL source of truth. */
  def qualityScoreCte: String = {
    val stops = graft.operators.TextAnalysis.Stopwords
      .map(s => s"'$s'").mkString("[", ",", "]")
    s"""qt AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks,
       |    len(string_split(text, ' ')) AS n_tokens,
       |    len(list_distinct(string_split(text, ' '))) AS n_distinct
       |  FROM documents
       |), qu AS (
       |  SELECT doc_id,
       |    len(list_filter(toks, x -> list_contains($stops, x))) / n_tokens
       |      AS stopword_ratio,
       |    n_distinct / n_tokens AS distinct_ratio,
       |    least(n_tokens / 50.0, 1.0) AS len_score
       |  FROM qt
       |), qscore AS (
       |  SELECT doc_id,
       |    ${r4("0.4 * len_score + 0.4 * distinct_ratio + 0.2 * (1.0 - abs(stopword_ratio - 0.1))")}
       |      AS quality_score
       |  FROM qu
       |)""".stripMargin
  }

  /** Full 20-column indicator relation (DDL order), rec ⋈ window cols. */
  val fullIndicatorSelect: String =
    s"""SELECT w.time, w.symbol, w.open, w.high, w.low, w.close, w.volume,
       |  ${r4("w.sma_20")} AS sma_20,
       |  ${r4(emaOut10)} AS ema_10,
       |  ${r4(emaOut20)} AS ema_20,
       |  ${r4(macdOut)} AS macd_line,
       |  ${r4(adxOut)} AS adx_14,
       |  ${r4(rsiOut)} AS rsi_14,
       |  ${r4("w.stoch_k_14")} AS stoch_k_14,
       |  ${r4("w.mfi_14")} AS mfi_14,
       |  ${r4("w.bb_upper")} AS bb_upper,
       |  ${r4("w.bb_lower")} AS bb_lower,
       |  ${r4(atrOut)} AS atr_14,
       |  w.obv AS obv,
       |  ${r4("w.vwap")} AS vwap
       |FROM wind w JOIN rec USING (symbol, time)""".stripMargin

  /** Assemble a recursive oracle over hourly bars. */
  def recQuery(finalSelect: String): String =
    s"WITH RECURSIVE $ticksCte, $barsCte, $recInputCte, $recCte\n$finalSelect"

  /** Assemble a recursive oracle with window columns too. */
  def recWinQuery(finalSelect: String, live: Boolean = false): String = {
    val barsSrc = if (live) liveBarsCte else barsCte
    s"WITH RECURSIVE $ticksCte, $barsSrc, $recInputCte, $recCte, $winCte\n$finalSelect"
  }
}
