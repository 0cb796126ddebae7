package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Output sinks. The reference materializes into DynamoDB
  * (consumer.py batch_writer); at 100 TB the analogue is partitioned
  * columnar layout: partition directories bound rewrite scope and give
  * downstream scans partition pruning. */
object Sinks {

  /** Partitioned parquet write. Repartitions by the partition columns
    * first so each partition directory receives one file per shuffle
    * partition that actually holds its data (avoids the
    * every-task-writes-every-partition small-files explosion). */
  def writePartitioned(df: DataFrame, path: String, partitionCols: Seq[String],
                       mode: String = "overwrite"): Unit =
    df.repartition(partitionCols.map(col): _*)
      .write.mode(mode).partitionBy(partitionCols: _*).parquet(path)

  /** Plain columnar snapshot (dims, small results). */
  def writeSnapshot(df: DataFrame, path: String, mode: String = "overwrite"): Unit =
    df.coalesce(1).write.mode(mode).parquet(path)

  def writeJson(df: DataFrame, path: String, mode: String = "overwrite"): Unit =
    df.write.mode(mode).json(path)

  def writeCsv(df: DataFrame, path: String, mode: String = "overwrite"): Unit =
    df.write.mode(mode).option("header", "true").csv(path)

  /** Bucketed + sorted table: co-locates join keys at write time so
    * subsequent equi-joins on `key` between tables bucketed the same
    * way plan WITHOUT a shuffle — the write-once/join-many layout for
    * repeated large-fact joins. */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet").saveAsTable(table)
}
