package graft.tools

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.graftbridge.ListenerBus

import graft.GraftSession
import graft.sources.Tables

/** Measurement tool (optimization rounds only, never part of the
  * bench contract): runs each query through the noop sink and prints
  * how many Spark JOBS, STAGES and TASKS one run submits plus its
  * min-of-reps wall time. At small scale factors most of the bench total is
  * stage-scheduling floor, so #stages × stage-floor ≈ cost — this is
  * the profile that says WHICH queries pay a fixed overhead far above
  * their data size (guide §1.1: decide where the time goes first).
  *
  * Usage: JobCount <sfDir> [namePrefixFilter] [reps=1] ("" = all)
  */
object JobCount {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val filter = args.lift(1).getOrElse("")
    val reps = args.lift(2).fold(1)(_.toInt)
    require(reps >= 1, s"reps must be >= 1, got $reps")
    val spark = GraftSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    Tables.warm(spark, sfDir)
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(s.stageInfo.numTasks)
      }
    })
    println(f"${"query"}%-28s ${"sec"}%7s ${"jobs"}%5s ${"stages"}%7s ${"tasks"}%6s")
    var totJ = 0; var totS = 0; var totSec = 0.0
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (name.startsWith(filter)) {
        try {
          // run 1 warms per-query setup fixtures (and JIT); the timed
          // runs are what the bench's min-of-3 actually measures
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          ListenerBus.drain(spark.sparkContext)
          jobs.set(0); stages.set(0); tasks.set(0)
          val sec = (1 to reps).map { _ =>
            val t0 = System.nanoTime()
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }.min
          // listener events are async: count only once all are delivered
          ListenerBus.drain(spark.sparkContext)
          val (j, s, t) = (jobs.get() / reps, stages.get() / reps, tasks.get() / reps)
          totJ += j; totS += s; totSec += sec
          println(f"$name%-28s $sec%7.2f $j%5d $s%7d $t%6d")
        } catch {
          case e: Throwable => println(f"$name%-28s FAILED: ${e.toString.take(120)}")
        }
      }
    }
    println(f"TOTAL sec=$totSec%.1f jobs=$totJ stages=$totS")
    spark.stop()
  }
}
