package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, DoubleType}

/** Order-dependent recursive smoothers (SURVEY §2.4) as native Catalyst
  * imperative aggregates, evaluated over a running window frame
  * (`UNBOUNDED PRECEDING .. CURRENT ROW`).
  *
  * Why this shape: WindowExec evaluates a running-frame aggregate
  * incrementally — one `update` per row, in `(symbol, time)` order — so an
  * O(n) left fold like EMA is exactly O(n) per symbol, shares the single
  * per-symbol shuffle+sort with every built-in window indicator, and stays
  * in the DataFrame world (no mapPartitions, no encoder round-trips, no
  * group materialization). This is the custom-`Expression` path of the
  * preference order (compose > Expression > planner extension > RDD).
  *
  * These aggregates are NOT mergeable (an EMA of two halves cannot be
  * combined), so `merge` throws: they are window-only by construction,
  * which Spark satisfies because window frames never partial-aggregate.
  *
  * Seeding convention (pandas-ta `ema(..., sma=True)` / Wilder RMA,
  * SURVEY §7.4; reference calls at trading-etl-python/src/db/backfill.py:18-27):
  * null inputs are skipped; the result is null until `n` non-null inputs
  * were seen; at the n-th input the value is the plain mean of the first
  * `n`; afterwards `s ← α·x + (1−α)·s` with α = 2/(n+1) for EMA, 1/n for RMA.
  */
object SeededAggs {

  /** Running state of one seeded smoother. [[step]] is the one
    * definition of the recursion: [[EmaAgg]] and the streaming
    * IndicatorMath both fold through it. */
  final class EmaBuf(var seen: Long = 0L, var sum: Double = 0.0, var s: Double = 0.0) {
    def step(x: Double, n: Int, alpha: Double): Unit = {
      seen += 1
      if (seen < n) sum += x
      else if (seen == n) s = (sum + x) / n
      else s = alpha * x + (1 - alpha) * s
    }
  }

  abstract class SeededFoldBase[T] extends TypedImperativeAggregate[T] {
    override def nullable: Boolean = true
    override def dataType: DataType = DoubleType
    override def merge(b: T, o: T): T =
      throw new UnsupportedOperationException(
        s"$prettyName is an order-dependent fold; use it over a running window frame")
    // inputs are cast-free folds over doubles — reject anything else at
    // analysis time (ImplicitCastInputTypes is off-limits: AbstractDataType
    // is private[sql] in Spark 4), otherwise SQL users get executor-time
    // ClassCastExceptions
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      if (children.forall(_.dataType == DoubleType))
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires DOUBLE arguments, got " +
            children.map(_.dataType.simpleString).mkString(", "))
  }

  /** SMA-seeded exponential smoother: EMA for alpha=2/(n+1), Wilder RMA for
    * alpha=1/n. */
  case class EmaAgg(
      child: Expression,
      n: Int,
      alpha: Double,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
    extends SeededFoldBase[EmaBuf] with UnaryLike[Expression] {

    override def prettyName: String = "seeded_ema"

    override def createAggregationBuffer(): EmaBuf = new EmaBuf()

    override def update(b: EmaBuf, row: InternalRow): EmaBuf = {
      val v = child.eval(row)
      if (v != null) b.step(v.asInstanceOf[Double], n, alpha)
      b
    }

    override def eval(b: EmaBuf): Any = if (b.seen >= n) b.s else null

    override def serialize(b: EmaBuf): Array[Byte] = {
      val bb = ByteBuffer.allocate(24)
      bb.putLong(b.seen); bb.putDouble(b.sum); bb.putDouble(b.s)
      bb.array()
    }
    override def deserialize(bytes: Array[Byte]): EmaBuf = {
      val bb = ByteBuffer.wrap(bytes)
      new EmaBuf(bb.getLong, bb.getDouble, bb.getDouble)
    }

    override def withNewMutableAggBufferOffset(o: Int): EmaAgg = copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): EmaAgg = copy(inputAggBufferOffset = o)
    override protected def withNewChildInternal(c: Expression): EmaAgg = copy(child = c)
  }

  /** Running state of Wilder ADX; [[step]] is the recursion's one
    * definition, shared by [[AdxAgg]] and the streaming IndicatorMath. */
  final class AdxBuf(
      var cnt: Long = 0L,
      var sumP: Double = 0, var sumN: Double = 0, var sumT: Double = 0,
      var sP: Double = 0, var sN: Double = 0, var sT: Double = 0,
      var dxCnt: Long = 0L, var dxSum: Double = 0, var adx: Double = 0) {
    def step(p: Double, m: Double, t: Double, n: Int): Unit = {
      cnt += 1
      if (cnt < n) { sumP += p; sumN += m; sumT += t }
      else {
        if (cnt == n) {
          sP = (sumP + p) / n; sN = (sumN + m) / n; sT = (sumT + t) / n
        } else {
          sP += (p - sP) / n; sN += (m - sN) / n; sT += (t - sT) / n
        }
        if (sT != 0) {
          val diP = 100.0 * sP / sT
          val diN = 100.0 * sN / sT
          val diSum = diP + diN
          if (diSum != 0) {
            val dx = 100.0 * math.abs(diP - diN) / diSum
            dxCnt += 1
            if (dxCnt < n) dxSum += dx
            else if (dxCnt == n) adx = (dxSum + dx) / n
            else adx += (dx - adx) / n
          }
        }
      }
    }
  }

  /** Wilder ADX(n): RMA-smooth (+DM, −DM, TR), form the directional indexes,
    * then RMA-smooth DX (doubly recursive — SURVEY §2.3 A7;
    * trading-etl-python/src/db/backfill.py:39-44). Inputs are the raw
    * per-row (+dm, −dm, tr) columns; rows with any null input are skipped.
    * Rows whose smoothed TR or DI-sum is zero are skipped for the DX series
    * (divide-by-zero guard, mirrored in the oracle). */
  case class AdxAgg(
      pdm: Expression,
      ndm: Expression,
      tr: Expression,
      n: Int,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
    extends SeededFoldBase[AdxBuf] with TernaryLike[Expression] {

    override def prettyName: String = "wilder_adx"
    override def first: Expression = pdm
    override def second: Expression = ndm
    override def third: Expression = tr

    override def createAggregationBuffer(): AdxBuf = new AdxBuf()

    override def update(b: AdxBuf, row: InternalRow): AdxBuf = {
      val vp = pdm.eval(row); val vn = ndm.eval(row); val vt = tr.eval(row)
      if (vp != null && vn != null && vt != null)
        b.step(vp.asInstanceOf[Double], vn.asInstanceOf[Double], vt.asInstanceOf[Double], n)
      b
    }

    override def eval(b: AdxBuf): Any = if (b.dxCnt >= n) b.adx else null

    override def serialize(b: AdxBuf): Array[Byte] = {
      val bb = ByteBuffer.allocate(80)
      bb.putLong(b.cnt)
      bb.putDouble(b.sumP); bb.putDouble(b.sumN); bb.putDouble(b.sumT)
      bb.putDouble(b.sP); bb.putDouble(b.sN); bb.putDouble(b.sT)
      bb.putLong(b.dxCnt); bb.putDouble(b.dxSum); bb.putDouble(b.adx)
      bb.array()
    }
    override def deserialize(bytes: Array[Byte]): AdxBuf = {
      val bb = ByteBuffer.wrap(bytes)
      new AdxBuf(bb.getLong, bb.getDouble, bb.getDouble, bb.getDouble,
        bb.getDouble, bb.getDouble, bb.getDouble, bb.getLong, bb.getDouble, bb.getDouble)
    }

    override def withNewMutableAggBufferOffset(o: Int): AdxAgg = copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): AdxAgg = copy(inputAggBufferOffset = o)
    override protected def withNewChildrenInternal(
        f: Expression, s: Expression, t: Expression): AdxAgg =
      copy(pdm = f, ndm = s, tr = t)
  }

  final class HoltBuf(var seen: Long, var l: Double, var b: Double)

  /** Holt linear-trend (double exponential) smoothing — the forecasting
    * extension of the EMA family: level l and trend b evolve together,
    *   l_t = α·x_t + (1−α)·(l_{t−1} + b_{t−1})
    *   b_t = β·(l_t − l_{t−1}) + (1−β)·b_{t−1}
    * with the causal seed l_1 = x_1, b_1 = 0 (no lookahead, so the fold
    * streams like every other smoother here). `part` selects the output:
    * 0 = level, 1 = trend, 2 = one-step-ahead forecast l + b. All three
    * ride the same running frame, so WindowExec folds each in O(n) on
    * the shared per-symbol sort. 1−α / 1−β are computed (not literal) so
    * the DuckDB oracle's identical `(1 - α)` expressions are bit-equal. */
  case class HoltAgg(
      child: Expression,
      alpha: Double,
      beta: Double,
      part: Int,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
    extends SeededFoldBase[HoltBuf] with UnaryLike[Expression] {

    override def prettyName: String = "holt_smooth"

    override def createAggregationBuffer(): HoltBuf = new HoltBuf(0L, 0.0, 0.0)

    override def update(b: HoltBuf, row: InternalRow): HoltBuf = {
      val v = child.eval(row)
      if (v != null) {
        val x = v.asInstanceOf[Double]
        b.seen += 1
        if (b.seen == 1) { b.l = x; b.b = 0.0 }
        else {
          val newL = alpha * x + (1 - alpha) * (b.l + b.b)
          b.b = beta * (newL - b.l) + (1 - beta) * b.b
          b.l = newL
        }
      }
      b
    }

    override def eval(b: HoltBuf): Any =
      if (b.seen < 1) null
      else part match {
        case 0 => b.l
        case 1 => b.b
        case _ => b.l + b.b
      }

    override def serialize(b: HoltBuf): Array[Byte] = {
      val bb = ByteBuffer.allocate(24)
      bb.putLong(b.seen); bb.putDouble(b.l); bb.putDouble(b.b)
      bb.array()
    }
    override def deserialize(bytes: Array[Byte]): HoltBuf = {
      val bb = ByteBuffer.wrap(bytes)
      new HoltBuf(bb.getLong, bb.getDouble, bb.getDouble)
    }

    override def withNewMutableAggBufferOffset(o: Int): HoltAgg = copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): HoltAgg = copy(inputAggBufferOffset = o)
    override protected def withNewChildInternal(c: Expression): HoltAgg = copy(child = c)
  }

  final class HwBuf(var seen: Long, var sum: Double, var l: Double, var b: Double,
      var raw: Array[Double], var ring: Array[Double])

  /** Holt–Winters ADDITIVE triple exponential smoothing with season
    * length `m` — the seasonal extension of [[HoltAgg]]:
    *
    *   warm-up (rows 1..m): collect raw values; at row m seed
    *     level = mean(x_1..x_m) (sequential left-to-right sum, mirrored
    *     in the oracle's running hwsum), trend = 0,
    *     season_i = x_i − level;
    *   after:  l' = α(x − s_{t−m}) + (1−α)(l + b)
    *           b' = β(l' − l) + (1−β)b
    *           s' = γ(x − l') + (1−γ)s_{t−m}
    *
    * `part`: 0 = level, 1 = trend, 2 = the season component updated at
    * this row, 3 = one-step forecast l + b + s_{next}. Null until m
    * non-null inputs. The season ring is O(m) state per group — bounded,
    * so a 100 TB scan still folds each key in O(n) with O(m) memory.
    * Mirrored state-for-state in the DuckDB recursive oracle's
    * (hwsum, hwraw, hws ring, hwl, hwb) columns. */
  case class HoltWintersAgg(
      child: Expression,
      m: Int,
      alpha: Double,
      beta: Double,
      gamma: Double,
      part: Int,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
    extends SeededFoldBase[HwBuf] with UnaryLike[Expression] {

    override def prettyName: String = "holt_winters"

    // m validated here, not with a constructor require: Java
    // deserialization on executors instantiates with default fields
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      if (m < 2)
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName needs season length m >= 2 (got $m)")
      else super.checkInputDataTypes()

    override def createAggregationBuffer(): HwBuf =
      new HwBuf(0L, 0.0, 0.0, 0.0, new Array[Double](math.max(m, 1)), null)

    override def update(buf: HwBuf, row: InternalRow): HwBuf = {
      val v = child.eval(row)
      if (v != null) {
        val x = v.asInstanceOf[Double]
        buf.seen += 1
        if (buf.seen < m) {
          buf.sum += x; buf.raw(buf.seen.toInt - 1) = x
        } else if (buf.seen == m) {
          buf.raw(m - 1) = x
          buf.l = (buf.sum + x) / m
          buf.b = 0.0
          buf.ring = new Array[Double](m)
          var i = 0
          while (i < m) { buf.ring(i) = buf.raw(i) - buf.l; i += 1 }
        } else {
          val idx = ((buf.seen - 1) % m).toInt
          val sOld = buf.ring(idx)
          val newL = alpha * (x - sOld) + (1 - alpha) * (buf.l + buf.b)
          buf.b = beta * (newL - buf.l) + (1 - beta) * buf.b
          buf.l = newL
          buf.ring(idx) = gamma * (x - newL) + (1 - gamma) * sOld
        }
      }
      buf
    }

    override def eval(buf: HwBuf): Any =
      if (buf.seen < m) null
      else part match {
        case 0 => buf.l
        case 1 => buf.b
        case 2 => buf.ring(((buf.seen - 1) % m).toInt)
        case _ => buf.l + buf.b + buf.ring((buf.seen % m).toInt)
      }

    override def serialize(buf: HwBuf): Array[Byte] = {
      val arr = if (buf.ring != null) buf.ring else buf.raw
      val bb = ByteBuffer.allocate(33 + 8 * arr.length)
      bb.putLong(buf.seen); bb.putDouble(buf.sum)
      bb.putDouble(buf.l); bb.putDouble(buf.b)
      bb.put(if (buf.ring != null) 1.toByte else 0.toByte)
      arr.foreach(bb.putDouble)
      bb.array()
    }
    override def deserialize(bytes: Array[Byte]): HwBuf = {
      val bb = ByteBuffer.wrap(bytes)
      val seen = bb.getLong; val sum = bb.getDouble
      val l = bb.getDouble; val b = bb.getDouble
      val hasRing = bb.get() == 1
      val arr = new Array[Double](bb.remaining() / 8)
      var i = 0
      while (i < arr.length) { arr(i) = bb.getDouble; i += 1 }
      if (hasRing) new HwBuf(seen, sum, l, b, new Array[Double](arr.length), arr)
      else new HwBuf(seen, sum, l, b, arr, null)
    }

    override def withNewMutableAggBufferOffset(o: Int): HoltWintersAgg = copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): HoltWintersAgg = copy(inputAggBufferOffset = o)
    override protected def withNewChildInternal(c: Expression): HoltWintersAgg = copy(child = c)
  }

  final class KalmanBuf(var seen: Long, var x: Double, var p: Double,
      var k: Double)

  /** 1-D Kalman filter over a random-walk state model — the adaptive-
    * gain member of the fold family (EMA's α is fixed; the Kalman gain
    * anneals from ~1 toward q-vs-r equilibrium as the error covariance
    * converges):
    *
    *   seed:  x = z_1, p = p0
    *   step:  p_pred = p + q;  k = p_pred / (p_pred + r);
    *          x ← x + k(z − x);  p ← (1 − k) · p_pred
    *
    * `part`: 0 = filtered level x, 1 = gain k (null at the seed row —
    * no update happened), 2 = error covariance p. O(1) state; mirrored
    * state-for-state in the DuckDB recursive oracle's (kx, kp)
    * columns with the gain re-derived from kp. */
  case class KalmanAgg(
      child: Expression,
      q: Double,
      r: Double,
      p0: Double,
      part: Int,
      mutableAggBufferOffset: Int = 0,
      inputAggBufferOffset: Int = 0)
    extends SeededFoldBase[KalmanBuf] with UnaryLike[Expression] {

    override def prettyName: String = "kalman_1d"

    override def createAggregationBuffer(): KalmanBuf =
      new KalmanBuf(0L, 0.0, 0.0, 0.0)

    override def update(b: KalmanBuf, row: InternalRow): KalmanBuf = {
      val v = child.eval(row)
      if (v != null) {
        val z = v.asInstanceOf[Double]
        b.seen += 1
        if (b.seen == 1) { b.x = z; b.p = p0; b.k = 0.0 }
        else {
          val pPred = b.p + q
          val k = pPred / (pPred + r)
          b.x = b.x + k * (z - b.x)
          b.p = (1 - k) * pPred
          b.k = k
        }
      }
      b
    }

    override def eval(b: KalmanBuf): Any =
      if (b.seen < 1) null
      else part match {
        case 0 => b.x
        case 1 => if (b.seen == 1) null else b.k
        case _ => b.p
      }

    override def serialize(b: KalmanBuf): Array[Byte] = {
      val bb = ByteBuffer.allocate(32)
      bb.putLong(b.seen); bb.putDouble(b.x); bb.putDouble(b.p); bb.putDouble(b.k)
      bb.array()
    }
    override def deserialize(bytes: Array[Byte]): KalmanBuf = {
      val bb = ByteBuffer.wrap(bytes)
      new KalmanBuf(bb.getLong, bb.getDouble, bb.getDouble, bb.getDouble)
    }

    override def withNewMutableAggBufferOffset(o: Int): KalmanAgg = copy(mutableAggBufferOffset = o)
    override def withNewInputAggBufferOffset(o: Int): KalmanAgg = copy(inputAggBufferOffset = o)
    override protected def withNewChildInternal(c: Expression): KalmanAgg = copy(child = c)
  }

  private def running(spec: WindowSpec): WindowSpec =
    spec.rowsBetween(Window.unboundedPreceding, Window.currentRow)

  /** SMA-seeded EMA(n) of `c` as a running window column. */
  def ema(c: Column, n: Int, spec: WindowSpec): Column =
    ColumnBridge.column(
      EmaAgg(ColumnBridge.expression(c), n, 2.0 / (n + 1)).toAggregateExpression())
      .over(running(spec))

  /** Wilder RMA(n) (α = 1/n) of `c` as a running window column. */
  def rma(c: Column, n: Int, spec: WindowSpec): Column =
    ColumnBridge.column(
      EmaAgg(ColumnBridge.expression(c), n, 1.0 / n).toAggregateExpression())
      .over(running(spec))

  /** Wilder ADX(n) over raw (+dm, −dm, tr) as a running window column. */
  def adx(pdm: Column, ndm: Column, tr: Column, n: Int, spec: WindowSpec): Column =
    ColumnBridge.column(
      AdxAgg(ColumnBridge.expression(pdm), ColumnBridge.expression(ndm),
        ColumnBridge.expression(tr), n).toAggregateExpression())
      .over(running(spec))

  /** Holt level (part 0) / trend (1) / one-step forecast (2) of `c` as a
    * running window column. */
  def holt(c: Column, alpha: Double, beta: Double, part: Int,
      spec: WindowSpec): Column =
    ColumnBridge.column(
      HoltAgg(ColumnBridge.expression(c), alpha, beta, part)
        .toAggregateExpression())
      .over(running(spec))

  /** Holt–Winters additive level (part 0) / trend (1) / season component
    * (2) / one-step forecast (3) of `c` as a running window column. */
  def holtWinters(c: Column, m: Int, alpha: Double, beta: Double,
      gamma: Double, part: Int, spec: WindowSpec): Column =
    ColumnBridge.column(
      HoltWintersAgg(ColumnBridge.expression(c), m, alpha, beta, gamma, part)
        .toAggregateExpression())
      .over(running(spec))

  /** 1-D Kalman filtered level (part 0) / gain (1) / covariance (2) of
    * `c` as a running window column. */
  def kalman(c: Column, q: Double, r: Double, p0: Double, part: Int,
      spec: WindowSpec): Column =
    ColumnBridge.column(
      KalmanAgg(ColumnBridge.expression(c), q, r, p0, part)
        .toAggregateExpression())
      .over(running(spec))
}
