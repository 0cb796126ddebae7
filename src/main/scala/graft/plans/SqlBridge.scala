package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column ↔ Expression bridge. Spark 4 made the conversions
  * `private[sql]` (Column is ColumnNode-based); custom Catalyst
  * expressions still need them, so this object lives under
  * org.apache.spark.sql to reach ExpressionUtils. */
object Bridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** `AbstractDataType` is `private[sql]` in Spark 4, but expressions
  * outside org.apache.spark.sql still need it to declare
  * `ExpectsInputTypes.inputTypes`. The alias is public; the underlying
  * type resolves because this file lives under org.apache.spark.sql. */
object BridgeTypes {
  type AbstractDataType = org.apache.spark.sql.types.AbstractDataType

  /** Every field nullable, recursively (`asNullable` is
    * `private[spark]`): a file relation reads a declared schema this
    * way, as `spark.read.schema(st)` does, so a file written before a
    * non-null column existed reads it as null. */
  def nullable(st: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = st.asNullable
}

/** Custom-LogicalPlan plumbing that Spark 4 keeps `private[sql]`:
  * building a DataFrame from a hand-constructed logical node. */
object BridgePlans {
  def ofRows(spark: org.apache.spark.sql.classic.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(spark, plan)

  /** A plain DataFrame over already-internal rows —
    * `internalCreateDataFrame` is `private[sql]`. The V1 streaming
    * Sink re-batching path needs it: the Dataset a Sink receives is
    * planned incrementally, so re-planning ops (persist, count) on it
    * re-trigger the source; lifting its physical rows into a fresh
    * frame once makes every downstream op safe. */
  def fromInternalRows(spark: org.apache.spark.sql.classic.SparkSession,
                       rows: org.apache.spark.rdd.RDD[
                         org.apache.spark.sql.catalyst.InternalRow],
                       schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.DataFrame =
    spark.internalCreateDataFrame(rows, schema)
}

/** Waits until every listener event posted so far is delivered, so a
  * count taken from a listener is exact — `listenerBus` is
  * `private[spark]`. */
object ListenerBus {
  def drain(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

/** Parquet metadata read on the driver, in-process: the footer schema
  * inference and small sidecar reads a query plans from, with NO Spark
  * job. `spark.read.parquet` infers its schema with a job (Spark's
  * schema merge always runs on executors, even for one footer), and a
  * Web-API read that plans from a few footers and sidecars pays that
  * scheduling floor several times before its own scan starts. The
  * footer conversion and the row reader are Spark's own
  * (`private[sql]`/`private[parquet]` entry points), so types, Spark
  * row metadata and `nanosAsLong` come out as `spark.read` gives them.
  *
  * Listing follows Spark's inference: a directory contributes its data
  * files (names starting `_` or `.` are skipped — `_SUCCESS`, `.crc`;
  * graft writes no `_metadata` summaries), sorted by path as Spark's
  * `ParquetUtils.splitFiles` sorts them. Flat layouts only: a
  * subdirectory (a partitioned layout needs partition discovery)
  * fails loudly instead of silently dropping partition columns. */
object ParquetMeta {
  import org.apache.hadoop.conf.Configuration
  import org.apache.hadoop.fs.{FileStatus, Path}
  import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
  import org.apache.parquet.hadoop.Footer
  import org.apache.parquet.hadoop.util.HadoopInputFile
  import org.apache.spark.paths.SparkPath
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
  import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
  import org.apache.spark.sql.catalyst.types.DataTypeUtils
  import org.apache.spark.sql.errors.QueryCompilationErrors
  import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
  import org.apache.spark.sql.execution.datasources.parquet.{
    ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
  import org.apache.spark.sql.types.StructType

  /** Exactly the schema `spark.read` infers for parquet `paths`: the
    * first data file's footer, or — under `spark.sql.parquet.mergeSchema`
    * — every footer merged in path order. */
  def schema(spark: SparkSession, paths: String*): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val files = dataFiles(conf, paths)
    merged(spark, conf,
      if (spark.sessionState.conf.isParquetSchemaMergingEnabled) files
      else files.take(1))
  }

  /** A schema-merging parquet read of `paths`, for metadata the caller
    * collects anyway (zone-map sidecars): every footer merges as in
    * [[schema]] with merging on, the rows are read here and come back
    * as a local relation, so projections, casts and `collect()` over
    * it run without a job. Files missing a merged column read it as
    * null, as the scan would. */
  def read(spark: SparkSession, paths: String*): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val files = dataFiles(conf, paths)
    val st = merged(spark, conf, files)
    val readFile = new ParquetFileFormat().buildReaderWithPartitionValues(
      spark, st, StructType(Nil), st, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), conf)
    // the reader reuses its row buffers: project each row to an owned
    // UnsafeRow before the next one overwrites it
    val own = UnsafeProjection.create(st)
    val rows = files.flatMap { f =>
      readFile(PartitionedFile(InternalRow.empty, SparkPath.fromPath(f.getPath),
        0L, f.getLen, Array.empty[String], f.getModificationTime, f.getLen))
        .map(r => own(r).copy())
    }
    BridgePlans.ofRows(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(st), rows))
  }

  private def dataFiles(conf: Configuration, paths: Seq[String]): Seq[FileStatus] = {
    def hidden(p: Path) = p.getName.startsWith("_") || p.getName.startsWith(".")
    val files = paths.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      val st = fs.getFileStatus(path)
      if (st.isDirectory) fs.listStatus(path).toSeq.filterNot(s => hidden(s.getPath))
      else Seq(st)
    }.sortBy(_.getPath.toString)
    files.find(_.isDirectory).foreach { d =>
      throw new IllegalArgumentException(s"ParquetMeta: ${d.getPath} is a " +
        "subdirectory — partitioned layouts need partition discovery; read " +
        "them with spark.read")
    }
    if (files.isEmpty) throw QueryCompilationErrors.dataSchemaNotSpecifiedError("Parquet")
    files
  }

  private def merged(spark: SparkSession, conf: Configuration,
                     files: Seq[FileStatus]): StructType = {
    val converter = new ParquetToSparkSchemaConverter(spark.sessionState.conf)
    val caseSensitive = spark.sessionState.conf.caseSensitiveAnalysis
    // nullable, as the relation `spark.read` builds makes every column
    files.map { f =>
      ParquetFileFormat.readSchemaFromFooter(
        new Footer(f.getPath, ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, conf), SKIP_ROW_GROUPS)),
        converter)
    }.reduceLeft(_.merge(_, caseSensitive)).asNullable
  }
}
