package org.apache.spark {
  /** The listener bus is package-private; tests drain it so that a job
    * count read after an action has seen every posted job. */
  object TestListenerBus {
    def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package graft {
  import java.util.concurrent.atomic.AtomicInteger

  import org.apache.spark.TestListenerBus
  import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
  import org.apache.spark.sql.SparkSession

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
        TestListenerBus.drain(sc)
        sc.removeSparkListener(listener)
      }
      n.get
    }
  }
}
