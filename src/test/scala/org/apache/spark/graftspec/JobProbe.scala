package org.apache.spark.graftspec

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs a block submits. Lives under org.apache.spark
  * for the listener bus, which Spark keeps package-private: draining
  * it makes the count exact instead of racing the async delivery. Only
  * jobs tagged with this probe's local property count, so jobs from
  * other threads (a stream left running by another spec) never do. */
object JobProbe {
  private val Tag = "graft.spec.jobProbe"

  def jobs[A](sc: SparkContext)(body: => A): (A, Int) = {
    val id = java.util.UUID.randomUUID().toString
    val n = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty(Tag) == id)) n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(Tag, id)
    try {
      val a = body
      sc.listenerBus.waitUntilEmpty()
      (a, n.get())
    } finally {
      sc.setLocalProperty(Tag, null)
      sc.removeSparkListener(listener)
    }
  }
}
