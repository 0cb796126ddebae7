package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.ParquetMeta

/** Schema'd loaders for the driver-generated test tables (TESTDATA.md).
  *
  * At scale these map to the reference's stores: `events` is the Kinesis
  * title/event stream, `sources`/`genres`-like dims are the small
  * reference tables (region/nation here), `documents`/`embeddings` are
  * the training-data-pipeline tables. Loaders keep the scan declarative
  * (`spark.read.parquet` with the file's own schema) so Catalyst
  * retains predicate pushdown and column pruning on every downstream
  * query. The schema comes from the footer, read on the driver
  * ([[org.apache.spark.sql.graftbridge.ParquetMeta.schema]]): a plain
  * `spark.read.parquet` would infer it with a Spark job on every load.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val p = s"$sfDir/$name.parquet"
    spark.read.schema(ParquetMeta.schema(spark, p)).parquet(p)
  }

  /** Count every table once so the first timed query does not absorb
    * JVM, codegen and file-listing warm-up. `events` goes through
    * [[events]], the only loader that reads its nanos timestamps. */
  def warm(spark: SparkSession, sfDir: String): Unit = all.foreach { t =>
    try (if (t == "events") events(spark, sfDir) else load(spark, sfDir, t)).count()
    catch { case e: Throwable => System.err.println(s"WARMUP FAIL $t: $e") }
  }

  /** JSON source with explicit schema (schema inference is a full
    * extra pass at 100 TB — never rely on it). The reference ingests
    * JSON API payloads (ingestion.py fetch_titles). */
  def readJson(spark: SparkSession, path: String,
               schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** CSV source with explicit schema. */
  def readCsv(spark: SparkSession, path: String,
              schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read.schema(schema).option("header", "true").csv(path)

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** `events.ts` has shipped as two physical parquet types across test
    * dataset generations: TIMESTAMP(NANOS) (which Spark 4 refuses by
    * default — read nanos as long via the legacy conf and truncate to
    * micros, the same ns→us truncation DuckDB's `CAST(ts AS TIMESTAMP)`
    * performs) and plain timestamp[us] with no timezone (which Spark
    * reads as TIMESTAMP_NTZ). Normalize both to session-timezone
    * TimestampType — sessions pin UTC, so the NTZ cast is value-exact
    * and both generations hash identically against the DuckDB oracle. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}

/** Typed views for operators where compile-time fields help. */
case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                 event_type: String, value: Double, props: String)
case class Document(doc_id: Long, text: String, lang: String,
                    source: String, n_chars: Long)
case class Embedding(vec_id: Long, embedding: Array[Float], label: Int)
