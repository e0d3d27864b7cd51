package graft.streaming

import java.sql.Timestamp

import graft.functions.SeededAggs.{AdxBuf, EmaBuf}
import graft.model.Model.IndicatorRow

/** Pure-Scala replica of the indicator math for the streaming state
  * operator: recompute the 13 indicators over one symbol's in-state prices
  * and return the LAST row — exactly the reference's per-tick shape
  * (trading-etl-python/src/processing/consumer.py:82-135: full-frame
  * recompute, keep `iloc[-1]`). A live tick carries only a price, so
  * open = high = low = close = price and volume is null
  * (consumer.py:124-127): mfi_14 and vwap are always null here.
  *
  * Float discipline: the seeded EMA/RMA and Wilder ADX recursions fold
  * through the very `step` methods IndicatorPipeline's window aggregates
  * run (SeededAggs.EmaBuf/AdxBuf), so streaming and batch agree
  * bit-for-bit by construction while the frame is untruncated; stddev
  * uses Spark's CentralMomentAgg update recurrence for the same reason.
  */
object IndicatorMath {

  /** SMA-seeded smoother over the whole series; final value. */
  private def seeded(xs: Array[Double], n: Int, alpha: Double): Option[Double] = {
    val b = new EmaBuf()
    xs.foreach(b.step(_, n, alpha))
    if (b.seen >= n) Some(b.s) else None
  }

  private def ema(xs: Array[Double], n: Int) = seeded(xs, n, 2.0 / (n + 1))
  private def rma(xs: Array[Double], n: Int) = seeded(xs, n, 1.0 / n)

  /** Sample stddev via Spark's CentralMomentAgg recurrence (update-order
    * compatible). */
  private def stddevSamp(xs: Array[Double]): Double = {
    var n = 0.0; var avg = 0.0; var m2 = 0.0
    xs.foreach { x =>
      n += 1
      val delta = x - avg
      val deltaN = delta / n
      avg += deltaN
      m2 += delta * (delta - deltaN)
    }
    math.sqrt(m2 / (n - 1))
  }

  /** All 20 output columns for the newest bar (epoch-ms `time`) of a
    * symbol's time-sorted prices `p` (length ≥ 1). Caller applies the
    * warm-up/sma gates. */
  def latestRow(symbol: String, time: Long, p: Array[Double]): IndicatorRow = {
    val n = p.length
    val last = p(n - 1)

    val sma20 = if (n >= 20) Some(p.takeRight(20).sum / 20.0) else None
    val bb = if (n >= 20) {
      val w = p.takeRight(20)
      val mid = w.sum / 20.0
      val sd = stddevSamp(w)
      Some((mid + 2 * sd, mid - 2 * sd))
    } else None

    // diffs (defined from index 1)
    val diffs = Array.tabulate(n - 1)(i => p(i + 1) - p(i))
    val rsi = (rma(diffs.map(d => math.max(d, 0.0)), 14),
        rma(diffs.map(d => math.max(-d, 0.0)), 14)) match {
      case (Some(g), Some(l)) => Some(if (l == 0) 100.0 else 100.0 - 100.0 / (1.0 + g / l))
      case _ => None
    }

    // true range max(h − l, |h − c₋₁|, |l − c₋₁|) with h = l = c = price:
    // |Δp|, first row 0; h − l is kept because it is NaN, not 0, at ±Inf
    val tr = Array.tabulate(n)(i =>
      math.max(p(i) - p(i), if (i == 0) 0.0 else math.abs(p(i) - p(i - 1))))
    val atr = rma(tr, 14)

    // ADX over diff-aligned (+dm, −dm, tr) starting index 1; the highs and
    // lows whose moves make ±DM are the price
    val adx = {
      val b = new AdxBuf()
      (1 until n).foreach { i =>
        val up = p(i) - p(i - 1)
        val dn = p(i - 1) - p(i)
        b.step(if (up > dn && up > 0) up else 0.0, if (dn > up && dn > 0) dn else 0.0, tr(i), 14)
      }
      if (b.dxCnt >= 14) Some(b.adx) else None
    }

    // %K(14) smoothed by SMA(3): only the newest three raw %K values count
    val stoch = if (n >= 16) {
      val ks = (n - 3 until n).flatMap { i =>
        val w = (i - 13 to i).map(p(_))
        val lo = w.min
        val hi = w.max
        if (hi - lo == 0) None else Some(100.0 * (p(i) - lo) / (hi - lo))
      }
      if (ks.length == 3) Some(ks.sum / 3.0) else None
    } else None

    // OBV must mirror the batch SQL's null semantics EXACTLY: in
    // `sum(signed)` a null volume contributes nothing (SQL sum skips nulls)
    // while a FLAT tick contributes a literal 0 regardless of volume — so a
    // frame with one repeated price sums to 0, and any other frame to NULL.
    // Caught by the sf0.1 full-sweep parity diff (symbol 61,
    // 2024-01-24 15:38:11.525).
    val obv = if (diffs.exists(d => !(d > 0) && !(d < 0))) Some(0L) else None

    IndicatorRow(
      time = new Timestamp(time), symbol = symbol,
      open = Some(last), high = Some(last), low = Some(last),
      close = last, volume = None,
      sma_20 = sma20,
      ema_10 = ema(p, 10), ema_20 = ema(p, 20),
      macd_line = (ema(p, 12), ema(p, 26)) match {
        case (Some(a), Some(b)) => Some(a - b); case _ => None
      },
      adx_14 = adx, rsi_14 = rsi, stoch_k_14 = stoch, mfi_14 = None,
      bb_upper = bb.map(_._1), bb_lower = bb.map(_._2),
      atr_14 = atr, obv = obv, vwap = None)
  }
}
