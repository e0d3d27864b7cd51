package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}

import graft.EntryMath.{r => r4}

/** Streaming CUSUM changepoint monitor — the online half of
  * [[graft.operators.Signals.cusum]], and the payoff of its prefix-sum
  * identity: because batch CUSUM is "running sum minus running minimum",
  * the streaming state is FOUR DOUBLES per key (both sides' running sum
  * and running min) — exact, O(1), no window buffering, no tick history.
  * A direct port of the textbook recursion would have needed the same
  * four doubles; what the identity buys is that batch and stream are the
  * SAME arithmetic, so the two paths produce bit-identical scores (the
  * parity spec feeds one series through both).
  *
  * Control parameters (mu, sigma) come from a batch profile — the
  * standard two-phase deployment: fit control limits offline on history,
  * monitor online against them. z-scores are 4-dp-quantized before
  * accumulation exactly like the batch side. Rows inside one micro-batch
  * are processed in (ts) order; across batches arrival order is stream
  * order (an online monitor never re-opens the past — late data belongs
  * to the batch detector).
  *
  * State lives in the Spark 4 `transformWithState` store (RocksDB): keyed
  * by symbol, off-heap, incrementally checkpointed — key cardinality is
  * bounded by disk, not heap.
  */
object CusumMonitor {

  final case class Obs(symbol: String, ts: Long, value: Double)
  final case class CusumState(sp: Double, minSp: Double, sn: Double, minSn: Double)
  final case class CusumRow(symbol: String, ts: Long, z: Double,
      cusum_pos: Double, cusum_neg: Double, alarm: Boolean)

  private class Processor(mu: Double, sigma: Double, k: Double, h: Double)
      extends StatefulProcessor[String, Obs, CusumRow] {
    @transient private var state: ValueState[CusumState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      state = getHandle.getValueState[CusumState]("cusumState",
        Encoders.product[CusumState], TTLConfig.NONE)

    override def handleInputRows(symbol: String, rows: Iterator[Obs],
        timerValues: TimerValues): Iterator[CusumRow] = {
      var st = if (state.exists()) state.get() else CusumState(0.0, 0.0, 0.0, 0.0)
      val out = Vector.newBuilder[CusumRow]
      rows.toVector.sortBy(_.ts).foreach { o =>
        val z = r4((o.value - mu) / sigma)
        val sp = st.sp + (z - k)
        val sn = st.sn + (-z - k)
        // minima start at 0 (the empty prefix) and only decrease, so
        // min(0, min_j S_j) is just the running min
        st = CusumState(sp, math.min(st.minSp, sp), sn, math.min(st.minSn, sn))
        val pos = r4(sp - st.minSp)
        val neg = r4(sn - st.minSn)
        out += CusumRow(symbol, o.ts, z, pos, neg, pos > h || neg > h)
      }
      state.update(st)
      out.result().iterator
    }
  }

  /** observations → per-observation CUSUM scores (Append mode). Requires
    * the RocksDB state store (see [[StreamIngest.rocksdbConf]]). */
  def pipeline(obs: Dataset[Obs], mu: Double, sigma: Double,
      k: Double = 0.5, h: Double = 5.0): Dataset[CusumRow] = {
    val spark = obs.sparkSession
    import spark.implicits._
    require(sigma > 0, "sigma must be positive")
    obs.groupByKey(_.symbol)
      .transformWithState(new Processor(mu, sigma, k, h),
        TimeMode.None(), OutputMode.Append())
  }
}
