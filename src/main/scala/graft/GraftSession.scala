package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft SparkSession is built; every main and the test
  * session pass only their core count. Registers [[graft.plans.GraftExtensions]],
  * runs `local[cores]` with one shuffle partition per core, AQE on, UTC,
  * UI off, then applies `SPARK_GRAFT_CONF` and sets log level WARN. */
object GraftSession {
  def apply(cores: Int): SparkSession = {
    val builder = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    // SPARK_GRAFT_CONF='k1=v1;k2=v2': session confs on top of the
    // defaults — the A/B lever for tuning experiments and the knob for
    // scale-dependent settings (e.g. coalescePartitions.initialPartitionNum
    // sized to the input). Unset, the session is exactly the above.
    val spark = sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(';')).filter(_.nonEmpty)
      .foldLeft(builder) { (b, kv) =>
        kv.split("=", 2) match {
          case Array(k, v) => b.config(k.trim, v.trim)
          case _ => sys.error(s"SPARK_GRAFT_CONF entry not key=value: '$kv'")
        }
      }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
