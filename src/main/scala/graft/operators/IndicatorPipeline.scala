package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.WindowSpec
import org.apache.spark.sql.functions._

import graft.functions.{SeededAggs, WindowIndicators => WI}
import graft.model.Model

/** The reference's core workload: all 13 technical indicators over a
  * per-symbol time-ordered OHLCV frame, producing the 20-column sink row
  * (trading-etl-python/src/db/backfill.py:12-64 — batch path;
  * trading-etl-python/src/processing/consumer.py:82-135 — live path).
  *
  * Plan shape: every indicator — built-in window aggregates and the custom
  * seeded folds alike — shares `Window.partitionBy(symbol).orderBy(time)`,
  * so Catalyst collapses the whole pipeline into ONE shuffle by symbol and
  * one sort per partition. At 100 TB this scales linearly with symbol
  * cardinality and is skew-bounded by the largest single symbol's history.
  */
object IndicatorPipeline {

  /** Append all 13 indicator columns to a bars frame
    * (time, symbol, open, high, low, close, volume) and project the sink
    * schema in DDL order. Batch/backfill parity: no warm-up gate — every
    * input row is emitted, leading rows carry nulls (backfill.py:134-139). */
  def full(bars: DataFrame): DataFrame = {
    val spec = WI.w()
    withIndicators(bars, spec).select(Model.DbColumns.map(col): _*)
  }

  /** Live-path contract (consumer.py:165-173): a symbol emits nothing until
    * it has ≥26 rows AND sma_20 is non-null. */
  def gated(bars: DataFrame): DataFrame = {
    val spec = WI.w()
    withIndicators(bars, spec)
      .withColumn("rn", row_number().over(spec))
      .filter(col("rn") >= Model.WarmupRows && col("sma_20").isNotNull)
      .select(Model.DbColumns.map(col): _*)
  }

  /** Live-path terminal shape (consumer.py:135,169): only the newest row
    * per symbol survives. */
  def latestPerSymbol(gatedRows: DataFrame): DataFrame = {
    val wDesc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("symbol")).orderBy(col("time").desc)
    gatedRows
      .withColumn("rn_desc", row_number().over(wDesc))
      .filter(col("rn_desc") === 1)
      .select(Model.DbColumns.map(col): _*)
  }

  /** Three explicit window layers so Catalyst places all independent window
    * expressions of a layer in ONE WindowExec (sequential withColumn chains
    * defeat CollapseWindow and yielded 9 Window operators; this shape gives
    * 3 over the symbol spec + 1 for the day-anchored vwap, all sharing one
    * shuffle and at most two sorts — the vwap spec's (symbol, day)
    * clustering is satisfied by the symbol hash partitioning).
    * Expression-for-expression identical to the naive chain (oracle
    * parity unaffected).
    *
    * This is the engine's one Catalyst definition of the reference's 13
    * indicators (SURVEY §2.3 A1-A12). The single-indicator queries
    * are projections of [[full]]; Catalyst's column pruning drops every
    * window expression a projection does not read. Per-indicator notes:
    *  - sma_20 / bb_upper / bb_lower (A1, A6): SMA(20) ± 2·stddev_samp(20),
    *    pandas-ta bbands ddof=1 (backfill.py:17,30-37).
    *  - ema_10 / ema_20 (A2, A3): SMA-seeded EMA (backfill.py:18-19);
    *    macd_line (A5): EMA(12) − EMA(26) (backfill.py:23-27).
    *  - rsi_14 (A4): Wilder RMA of gains/losses over close diffs; zero
    *    average loss ⇒ 100 (backfill.py:20).
    *  - adx_14 (A7): the TR series fed to ADX starts at row 2 where ±DM are
    *    defined, matching the diff-aligned Wilder recursion; atr_14 (A9)
    *    smooths the full TR series (backfill.py:39-44,55).
    *  - stoch_k_14 (A8): %K(14) with SMA(3) smoothing, %D discarded; null
    *    until 14+3-1 rows (backfill.py:46-53).
    *  - mfi_14 (A10): signed money flow on the typical-price diff; flat
    *    diffs count on neither side. An all-null volume column (the live
    *    path, consumer.py:124-127) nulls the result; isolated null-volume
    *    rows are skipped by the sums rather than NaN-poisoning the window —
    *    a documented deviation from pandas, matched by the oracle
    *    (backfill.py:58-60).
    *  - obv (A11): cumulative sign(Δclose)·volume seeded with the first
    *    row's volume (classic OBV), exact long math (backfill.py:61).
    *  - vwap (A12): Σ(tp·vol)/Σ(vol) running within (symbol, calendar day),
    *    pandas-ta anchor "D" (backfill.py:62). */
  private def withIndicators(bars: DataFrame, spec: WindowSpec): DataFrame = {
    val close = col("close"); val high = col("high"); val low = col("low")
    def w(n: Int) = spec.rowsBetween(-(n - 1), 0)
    val tp = (high + low + close) / lit(3)

    // L1: lag offsets + aggregates depending only on raw columns
    val l1 = bars.select(col("*"),
      lag(close, 1).over(spec).as("_pc"),
      lag(high, 1).over(spec).as("_ph"),
      lag(low, 1).over(spec).as("_pl"),
      lag(tp, 1).over(spec).as("_ptp"),
      count(close).over(w(20)).as("_c20"),
      avg(close).over(w(20)).as("_m20"),
      stddev_samp(close).over(w(20)).as("_sd20"),
      count(close).over(w(14)).as("_c14"),
      min(low).over(w(14)).as("_lo14"),
      max(high).over(w(14)).as("_hi14"),
      SeededAggs.ema(close, 10, spec).as("ema_10"),
      SeededAggs.ema(close, 20, spec).as("ema_20"),
      SeededAggs.ema(close, 12, spec).as("_e12"),
      SeededAggs.ema(close, 26, spec).as("_e26"))

    // plain expressions over L1 (no window)
    val d = close - col("_pc")
    val tr = WI.trueRange(high, low, col("_pc"))
    val up = high - col("_ph")
    val dn = col("_pl") - low
    val pdm = when(up.isNotNull, when(up > dn && up > 0, up).otherwise(lit(0.0)))
    val ndm = when(dn.isNotNull, when(dn > up && dn > 0, dn).otherwise(lit(0.0)))
    val gain = when(d.isNotNull, greatest(d, lit(0.0)))
    val loss = when(d.isNotNull, greatest(-d, lit(0.0)))
    val tpd = tp - col("_ptp")
    val mfRaw = tp * col("volume")
    val mfPos = when(tpd > 0, mfRaw).otherwise(lit(0.0))
    val mfNeg = when(tpd < 0, mfRaw).otherwise(lit(0.0))
    val signedVol = when(d.isNull, col("volume"))
      .when(d > 0, col("volume")).when(d < 0, -col("volume")).otherwise(lit(0L))
    val rawK = when(col("_c14") === 14,
      lit(100) * (close - col("_lo14")) / nullif(col("_hi14") - col("_lo14"), lit(0)))

    // L2: aggregates over lag-derived series
    val wcum = spec.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val l2 = l1.select(col("*"),
      rawK.as("_rawk"),
      SeededAggs.rma(gain, 14, spec).as("_ag"),
      SeededAggs.rma(loss, 14, spec).as("_al"),
      SeededAggs.rma(tr, 14, spec).as("atr_14"),
      SeededAggs.adx(pdm, ndm, when(up.isNotNull, tr), 14, spec).as("adx_14"),
      count(tpd).over(w(14)).as("_cmf"),
      sum(when(tpd.isNotNull, mfPos)).over(w(14)).as("_pos"),
      sum(when(tpd.isNotNull, mfNeg)).over(w(14)).as("_neg"),
      sum(signedVol).over(wcum).cast("long").as("obv"))

    // L3: windows over L2 outputs + the day-anchored vwap spec
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("symbol"), to_date(col("time"))).orderBy(col("time"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val l3 = l2.select(col("*"),
      count(col("_rawk")).over(w(3)).as("_ck"),
      avg(col("_rawk")).over(w(3)).as("_k3"),
      sum(tp * col("volume")).over(wd).as("_vnum"),
      sum(col("volume")).over(wd).as("_vden"))

    val full20 = col("_c20") === 20
    l3.select(col("*"),
      when(full20, col("_m20")).as("sma_20"),
      (col("_e12") - col("_e26")).as("macd_line"),
      when(col("_al") === 0, lit(100.0))
        .otherwise(lit(100.0) - lit(100.0) / (lit(1.0) + col("_ag") / col("_al"))).as("rsi_14"),
      when(col("_ck") === 3, col("_k3")).as("stoch_k_14"),
      when(col("_cmf") === 14,
        lit(100) * col("_pos") / nullif(col("_pos") + col("_neg"), lit(0))).as("mfi_14"),
      (when(full20, col("_m20")) + lit(2.0) * when(full20, col("_sd20"))).as("bb_upper"),
      (when(full20, col("_m20")) - lit(2.0) * when(full20, col("_sd20"))).as("bb_lower"),
      (col("_vnum") / col("_vden")).as("vwap"))
  }
}
