package org.apache.spark

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Records the call site of every job `body` submits: the name of the job's
  * result stage ("count at PageRank.scala:146"), which Spark takes from the
  * first frame outside its own packages. Lives in Spark's package for
  * `listenerBus.waitUntilEmpty`: listener events arrive asynchronously, so
  * the bus is drained before and after `body`.
  */
object JobSites {
  def apply[T](sc: SparkContext)(body: => T): (T, Seq[String]) = {
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        sites.add(if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name)
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val r = body
      sc.listenerBus.waitUntilEmpty()
      (r, scala.jdk.CollectionConverters.IteratorHasAsScala(sites.iterator).asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
