package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.util.LongAccumulator

/** Counts the Spark jobs a block fires, by a job group of its own. */
object SparkJobs {
  def count(spark: SparkSession)(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"graft-count-${java.util.UUID.randomUUID()}"
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try body
    finally {
      sc.clearJobGroup()
      ListenerBusDrain.drain(sc)
      sc.removeSparkListener(listener)
    }
    n.get
  }

  /** `docs` landed as parquet and read back with its `text` column passed
    * through a row counter: every full read of the frame adds its row
    * count to the accumulator, so corpus passes can be counted. (A frame
    * over local rows would be projected at planning time instead.) */
  def scanCounted(docs: DataFrame): (DataFrame, LongAccumulator) = {
    val spark = docs.sparkSession
    val dir = SessionScoped.scratchDir("graft_scan_counted") + "/docs"
    docs.write.parquet(dir)
    val reads = spark.sparkContext.longAccumulator
    val tap = udf { (t: String) => reads.add(1L); t }.asNondeterministic()
    (spark.read.parquet(dir).withColumn("text", tap(col("text"))), reads)
  }
}
