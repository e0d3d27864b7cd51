package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Shared window helpers and the extended window-indicator family
  * (Williams %R, ROC, momentum, Donchian, Keltner, CCI, rolling quantiles).
  * The reference's 13 indicators (SURVEY §2.3 A1-A12) are defined once, in
  * [[graft.operators.IndicatorPipeline]]; this object supplies the
  * per-symbol spec [[w]] it shares, and the helpers [[sma]],
  * [[typicalPrice]] and [[trueRange]] that the extended family and
  * `Signals` build on.
  *
  * Every indicator runs over `Window.partitionBy(symbol).orderBy(time)` —
  * Catalyst merges all of them into a single WindowExec, so the whole family
  * costs one shuffle on `symbol` + one sort on `(symbol, time)` regardless of
  * how many indicators are selected. At 100 TB the shuffle is keyed by symbol
  * (high cardinality in the synthetic data ⇒ even distribution); no driver
  * materialization anywhere.
  *
  * Exact semantics (mirrored verbatim by the DuckDB oracle SQL — the gate
  * counts follow pandas-ta's min_periods behavior, SURVEY §7.4):
  *  - every rolling indicator is null until its window is fully populated
  *    (e.g. sma_20 needs 20 rows: consumer.py gate at :171-173);
  *  - diffs (`lag`) make the first row of each derived series null, shifting
  *    gates by one (mfi needs 15 rows, stoch smoothing needs 16);
  *  - zero denominators yield null, not NaN/inf.
  *
  * Reference formulas: trading-etl-python/src/db/backfill.py:12-64 via
  * pandas-ta (pyproject.toml:12).
  */
object WindowIndicators {

  /** Per-symbol time order — the partitioning every indicator shares. */
  def w(symbol: String = "symbol", time: String = "time"): WindowSpec =
    Window.partitionBy(col(symbol)).orderBy(col(time))

  private def last(n: Int, spec: WindowSpec): WindowSpec = spec.rowsBetween(-(n - 1), 0)

  /** Simple moving average over the trailing `n` rows; null until `n` rows. */
  def sma(c: Column, n: Int, spec: WindowSpec): Column = {
    val full = count(c).over(last(n, spec)) === n
    when(full, avg(c).over(last(n, spec)))
  }

  /** Typical price (h+l+c)/3 — shared by keltner and cci. */
  def typicalPrice(high: Column, low: Column, close: Column): Column =
    (high + low + close) / lit(3)

  /** True range: max(h−l, |h−prev c|, |l−prev c|); h−l on each symbol's
    * first row (prev close undefined). The one definition: the ATR of
    * backfill.py:55 (IndicatorPipeline, over its layered `_pc` lag column)
    * and [[keltner]] (over its own lag) both pass their previous close. */
  def trueRange(high: Column, low: Column, prevClose: Column): Column =
    when(prevClose.isNull, high - low)
      .otherwise(greatest(high - low, abs(high - prevClose), abs(low - prevClose)))

  /** Williams %R(n): -100·(HH−close)/(HH−LL) over the trailing n rows;
    * null until n rows or when the range is flat (zero denominator → null,
    * not ±inf — the engine's NaN policy, SURVEY §1.2). */
  def williamsR(high: Column, low: Column, close: Column, n: Int,
      spec: WindowSpec): Column = {
    val full = count(close).over(last(n, spec)) === n
    val hh = max(high).over(last(n, spec))
    val ll = min(low).over(last(n, spec))
    when(full && hh =!= ll, lit(-100) * (hh - close) / (hh - ll))
  }

  /** Rate of change (n): 100·(close − close[-n])/close[-n]; null until the
    * lag exists. */
  def roc(c: Column, n: Int, spec: WindowSpec): Column = {
    val prev = lag(c, n).over(spec)
    when(prev.isNotNull && prev =!= 0, lit(100) * (c - prev) / prev)
  }

  /** Momentum (n): close − close[-n]. */
  def momentum(c: Column, n: Int, spec: WindowSpec): Column = c - lag(c, n).over(spec)

  /** Donchian channel (n): (upper, middle, lower) = trailing max(high) /
    * midpoint / min(low); null until n rows. */
  def donchian(high: Column, low: Column, n: Int,
      spec: WindowSpec): (Column, Column, Column) = {
    val full = count(high).over(last(n, spec)) === n
    val up = when(full, max(high).over(last(n, spec)))
    val lo = when(full, min(low).over(last(n, spec)))
    (up, (up + lo) / 2, lo)
  }

  /** Keltner channel, SMA flavor: middle = SMA(n) of typical price, bands =
    * middle ± k·SMA(atrN) of true range. The TR series starts at row 1
    * (first row falls back to high−low), so the band gate is atrN rows. */
  def keltner(high: Column, low: Column, close: Column, n: Int, atrN: Int,
      k: Double, spec: WindowSpec): (Column, Column, Column) = {
    val tp = typicalPrice(high, low, close)
    val mid = sma(tp, n, spec)
    val tr = trueRange(high, low, lag(close, 1).over(spec))
    val atrFull = count(close).over(last(atrN, spec)) === atrN
    val atr = when(atrFull, avg(tr).over(last(atrN, spec)))
    (mid, mid + lit(k) * atr, mid - lit(k) * atr)
  }

  /** Commodity Channel Index (n): (tp − SMA(tp)) / (0.015·MAD), where MAD is
    * the mean absolute deviation of the trailing n typical prices from the
    * CURRENT window's mean. The deviation target depends on the current row's
    * window, so no two-pass window decomposition exists — the window is
    * materialized with collect_list and folded with the codegen'd
    * higher-order `aggregate`, still inside the one shared WindowExec
    * shuffle (n is a small constant, so the per-row list is O(n)). */
  def cci(high: Column, low: Column, close: Column, n: Int,
      spec: WindowSpec): Column = {
    val tp = typicalPrice(high, low, close)
    val full = count(close).over(last(n, spec)) === n
    val m = avg(tp).over(last(n, spec))
    val lst = collect_list(tp).over(last(n, spec))
    val mad = aggregate(lst, lit(0.0),
      (acc, x) => acc + abs(x - m), acc => acc / lit(n))
    when(full && mad =!= 0, (tp - m) / (lit(0.015) * mad))
  }

  /** Rolling quantile (pandas type-7 linear interpolation) over the
    * trailing n rows: pos = (n−1)·p, value = s[⌊pos⌋] + frac·(s[⌊pos⌋+1] −
    * s[⌊pos⌋]) on the sorted window. Like [[cci]], the window must be
    * materialized (order statistics don't decompose into running
    * aggregates) — collect_list + array_sort per row, O(n log n) for a
    * small constant n, still inside the shared WindowExec. The
    * interpolation weights are computed once in Scala so the oracle can
    * interpolate with the bit-identical doubles. */
  def rollingQuantile(c: Column, n: Int, p: Double, spec: WindowSpec): Column = {
    val full = count(c).over(last(n, spec)) === n
    val s = array_sort(collect_list(c).over(last(n, spec)))
    // single source of truth with the oracle SQL — both sides multiply by
    // the same quantileWeights doubles
    val (lo, wLo, wHi) = quantileWeights(n, p)
    val v =
      if (wHi == 0.0) element_at(s, lo + 1)
      else element_at(s, lo + 1) * lit(wLo) + element_at(s, lo + 2) * lit(wHi)
    when(full, v)
  }

  /** The (1−frac, frac) interpolation weights rollingQuantile uses — shared
    * with oracle SQL so both engines multiply by the same doubles. */
  def quantileWeights(n: Int, p: Double): (Int, Double, Double) = {
    val pos = (n - 1) * p
    val lo = math.floor(pos).toInt
    val frac = pos - lo
    (lo, 1 - frac, frac)
  }
}
