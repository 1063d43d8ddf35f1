package org.apache.spark

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}

/** The ids of every RDD in the stages a block submits, read after the
  * listener bus (private to Spark, hence this package) has delivered
  * every event posted so far: the RDDs whose partitions the block's
  * jobs actually read. */
object StageRdds {
  def apply[A](sc: SparkContext)(f: => A): (A, Set[Int]) = {
    val ids = ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        e.stageInfo.rddInfos.foreach(r => ids.add(r.id))
    }
    sc.addSparkListener(listener)
    try {
      val a = f
      sc.listenerBus.waitUntilEmpty()
      (a, ids.asScala.toSet)
    } finally sc.removeSparkListener(listener)
  }
}
