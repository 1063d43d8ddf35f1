package org.apache.spark

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Spark jobs that a block starts on the calling thread. The block
  * runs under its own job group, so jobs of other threads are not
  * counted; the count is read after the listener bus (private to
  * Spark, hence this package) has delivered every event posted so
  * far. */
object JobCount {
  def apply[A](sc: SparkContext)(f: => A): (A, Int) = {
    val group = s"job-count-${java.util.UUID.randomUUID()}"
    val started = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group))
          started.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "job count", interruptOnCancel = false)
    try {
      val a = f
      sc.listenerBus.waitUntilEmpty()
      (a, started.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
