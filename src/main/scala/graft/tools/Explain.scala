package graft.tools

import graft.{GraftSession, SparkEntry}

/** Dump formatted physical plans for SparkEntry queries.
  * Usage: Explain [sfDir] [queryName ...]  (no names → all)
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession(4)
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
