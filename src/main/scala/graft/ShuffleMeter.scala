package graft

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.{ListenerBusDrain, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Sums shuffle-write bytes/records across completed stages — the number
  * scale work cares about (it is what a bloom prescreen or a broadcast
  * flip actually removes). Register once per session; [[delta]] brackets
  * a measured action. Listener events are async, so reads first drain the
  * listener bus. */
final class ShuffleMeter(sc: SparkContext) {
  private val bytes = new LongAdder
  private val records = new LongAdder
  sc.addSparkListener(new SparkListener {
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      bytes.add(e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      records.add(e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
  })

  /** (bytes, records) shuffled while running `a`. */
  def delta[A](a: => A): (Long, Long, A) = {
    ListenerBusDrain.drain(sc)
    val b0 = bytes.sum(); val r0 = records.sum()
    val out = a
    ListenerBusDrain.drain(sc)
    (bytes.sum() - b0, records.sum() - r0, out)
  }
}
