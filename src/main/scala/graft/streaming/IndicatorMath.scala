package graft.streaming

import java.sql.Timestamp

import graft.model.Model.IndicatorRow

/** Pure-Scala replica of the indicator math for the streaming state
  * operator: recompute the 13 indicators over one symbol's in-state frame
  * and return the LAST row — exactly the reference's per-tick shape
  * (trading-etl-python/src/processing/consumer.py:82-135: full-frame
  * recompute, keep `iloc[-1]`).
  *
  * Float discipline: every fold uses the same operation order as the batch
  * Catalyst definition (IndicatorPipeline's window layers over the
  * SeededAggs folds), so streaming
  * and batch agree bit-for-bit while the frame is untruncated; stddev uses
  * Spark's CentralMomentAgg update recurrence for the same reason.
  */
object IndicatorMath {

  /** One in-state bar: epoch-ms time, faked OHLC (= price on the live
    * path), optional volume. */
  final case class BarState(
      time: Long, open: Double, high: Double, low: Double, close: Double,
      volume: Option[Long])

  /** SMA-seeded exponential smoother over the whole series; final value. */
  private def emaLast(xs: IndexedSeq[Double], n: Int, alpha: Double): Option[Double] = {
    if (xs.length < n) return None
    var sum = 0.0
    var s = 0.0
    var seen = 0
    xs.foreach { x =>
      seen += 1
      if (seen < n) sum += x
      else if (seen == n) s = (sum + x) / n
      else s = alpha * x + (1 - alpha) * s
    }
    Some(s)
  }

  private def ema(xs: IndexedSeq[Double], n: Int) = emaLast(xs, n, 2.0 / (n + 1))
  private def rma(xs: IndexedSeq[Double], n: Int) = emaLast(xs, n, 1.0 / n)

  /** Sample stddev via Spark's CentralMomentAgg recurrence (update-order
    * compatible). */
  private def stddevSamp(xs: Seq[Double]): Double = {
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

  /** All 20 output columns for the newest row of `frame` (time-sorted,
    * length ≥ 1). Caller applies the warm-up/sma gates. */
  def latestRow(symbol: String, frame: IndexedSeq[BarState]): IndicatorRow = {
    val n = frame.length
    val closes = frame.map(_.close)
    val highs = frame.map(_.high)
    val lows = frame.map(_.low)
    val last = frame.last

    val sma20 = if (n >= 20) Some(closes.takeRight(20).sum / 20.0) else None
    val bb = if (n >= 20) {
      val w = closes.takeRight(20)
      val mid = w.sum / 20.0
      val sd = stddevSamp(w)
      Some((mid + 2 * sd, mid - 2 * sd))
    } else None

    // diffs (defined from index 1)
    val diffs = (1 until n).map(i => closes(i) - closes(i - 1))
    val gains = diffs.map(d => math.max(d, 0.0))
    val losses = diffs.map(d => math.max(-d, 0.0))
    val rsi = (rma(gains, 14), rma(losses, 14)) match {
      case (Some(g), Some(l)) => Some(if (l == 0) 100.0 else 100.0 - 100.0 / (1.0 + g / l))
      case _ => None
    }

    val tr = frame.indices.map { i =>
      if (i == 0) highs(0) - lows(0)
      else math.max(highs(i) - lows(i),
        math.max(math.abs(highs(i) - closes(i - 1)), math.abs(lows(i) - closes(i - 1))))
    }
    val atr = rma(tr, 14)

    // ADX over diff-aligned (+dm, -dm, tr) starting index 1
    val adx = {
      val n14 = 14
      var cnt = 0L; var sumP = 0.0; var sumN = 0.0; var sumT = 0.0
      var sP = 0.0; var sN = 0.0; var sT = 0.0
      var dxc = 0L; var dxs = 0.0; var adxV = 0.0
      (1 until n).foreach { i =>
        val up = highs(i) - highs(i - 1)
        val dn = lows(i - 1) - lows(i)
        val p = if (up > dn && up > 0) up else 0.0
        val m = if (dn > up && dn > 0) dn else 0.0
        val t = tr(i)
        cnt += 1
        if (cnt < n14) { sumP += p; sumN += m; sumT += t }
        else {
          if (cnt == n14) { sP = (sumP + p) / n14; sN = (sumN + m) / n14; sT = (sumT + t) / n14 }
          else { sP += (p - sP) / n14; sN += (m - sN) / n14; sT += (t - sT) / n14 }
          if (sT != 0) {
            val diP = 100.0 * sP / sT; val diN = 100.0 * sN / sT
            val dsum = diP + diN
            if (dsum != 0) {
              val dx = 100.0 * math.abs(diP - diN) / dsum
              dxc += 1
              if (dxc < n14) dxs += dx
              else if (dxc == n14) adxV = (dxs + dx) / n14
              else adxV += (dx - adxV) / n14
            }
          }
        }
      }
      if (dxc >= 14) Some(adxV) else None
    }

    val stoch = if (n >= 16) {
      val rawKs = (13 until n).map { i =>
        val lo = (i - 13 to i).map(lows).min
        val hi = (i - 13 to i).map(highs).max
        if (hi - lo == 0) None else Some(100.0 * (closes(i) - lo) / (hi - lo))
      }
      val last3 = rawKs.takeRight(3).flatten
      if (last3.length == 3) Some(last3.sum / 3.0) else None
    } else None

    val vols = frame.map(_.volume)
    val haveVol = vols.forall(_.isDefined)
    val tp = frame.indices.map(i => (highs(i) + lows(i) + closes(i)) / 3.0)

    val mfi = if (haveVol && n >= 15) {
      val win = (n - 14 until n)
      var pos = 0.0; var neg = 0.0
      win.foreach { i =>
        val d = tp(i) - tp(i - 1)
        val raw = tp(i) * vols(i).get
        if (d > 0) pos += raw else if (d < 0) neg += raw
      }
      if (pos + neg == 0) None else Some(100.0 * pos / (pos + neg))
    } else None

    // OBV must mirror the batch SQL's null semantics EXACTLY, not gate on
    // haveVol: in `sum(signed)` a null volume contributes nothing (SQL sum
    // skips nulls) while a FLAT tick contributes a literal 0 regardless of
    // volume — so a frame of all-null volumes with one repeated price sums
    // to 0, not NULL. The haveVol gate returned None there; caught by the
    // sf0.1 full-sweep parity diff (symbol 61, 2024-01-24 15:38:11.525).
    val obv = {
      var acc = 0L
      var any = false
      frame.indices.foreach { i =>
        if (i == 0) vols(0).foreach { v => acc += v; any = true }
        else {
          val d = closes(i) - closes(i - 1)
          if (d > 0) vols(i).foreach { v => acc += v; any = true }
          else if (d < 0) vols(i).foreach { v => acc -= v; any = true }
          else any = true // flat tick: literal 0 even with null volume
        }
      }
      if (any) Some(acc) else None
    }

    val vwap = if (haveVol) {
      val day = last.time - math.floorMod(last.time, 86400000L)
      val idx = frame.indices.filter(i => frame(i).time >= day)
      val num = idx.map(i => tp(i) * vols(i).get).sum
      val den = idx.map(i => vols(i).get.toDouble).sum
      if (den == 0) None else Some(num / den)
    } else None

    IndicatorRow(
      time = new Timestamp(last.time), symbol = symbol,
      open = Some(last.open), high = Some(last.high), low = Some(last.low),
      close = last.close, volume = last.volume,
      sma_20 = sma20,
      ema_10 = ema(closes, 10), ema_20 = ema(closes, 20),
      macd_line = (ema(closes, 12), ema(closes, 26)) match {
        case (Some(a), Some(b)) => Some(a - b); case _ => None
      },
      adx_14 = adx, rsi_14 = rsi, stoch_k_14 = stoch, mfi_14 = mfi,
      bb_upper = bb.map(_._1), bb_lower = bb.map(_._2),
      atr_14 = atr, obv = obv, vwap = vwap)
  }
}
