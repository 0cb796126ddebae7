package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** Access to the listener bus, which Spark keeps package-private. */
object Bus {
  /** Block until every posted scheduler event reached the listeners, so
    * counts read afterwards include all jobs of the measured calls. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
