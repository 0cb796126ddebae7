package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode}
import org.apache.spark.sql.execution.streaming.{Sink, Source}
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider,
  DataSourceRegister, RelationProvider, StreamSinkProvider,
  StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

import graft.operators.{TableLog, TableLogRelation}

/** The table format as a PLAIN Spark data source — the
  * `spark.read`/`df.write` face a user who never imports graft code
  * expects (the Delta `format("delta")` shape):
  *
  * {{{
  * df.write.format("graft.sources.TableLogSource").save(root)          // create
  * df.write.format(...).mode("append").save(root)                      // append
  * df.write.format(...).mode("overwrite").save(root)                   // replace content
  * df.write.format(...).option("clusterBy", "ts")
  *   .option("parts", "64").option("statsCols", "user_id").save(root)  // + zone maps
  *
  * spark.read.format("graft.sources.TableLogSource").load(root)        // latest snapshot
  * spark.read.format(...).option("versionAsOf", "3").load(root)        // time travel
  * spark.read.format(...).option("timestampAsOf",
  *   "2026-08-15T00:00:00Z").load(root)                                // by commit time
  * }}}
  *
  * Reads return the SAME planner-pruned relation as
  * [[TableLog.snapshot]] (a [[TableLogFileIndex]]-backed
  * HadoopFsRelation): typed zone-map skipping, zero-stat planning,
  * and the metadata aggregate/top-k rules all apply unchanged —
  * the format face adds convenience, never a second read path.
  * Reads REFUSE a table with delete sidecars in force (a DSv1
  * BaseRelation cannot carry the anti-join; TableLog.snapshot(idCol) is
  * the face for that) — refusing beats silently resurrecting deleted rows.
  *
  * Writes stage then commit atomically, exactly as the library face:
  * `append` adds files; `overwrite` removes the read snapshot's
  * active set in the same commit (conflict-guarded on it) and resets
  * delete sidecars — the table BECOMES the frame; `errorifexists`
  * (default) refuses a non-empty log; `ignore` no-ops one.
  * `clusterBy` stages range-clustered with a typed zone-map sidecar
  * (`parts`, `statsCols`, `sketchCols` as in
  * [[TableLog.stageWithZoneMap]] — sketched columns serve
  * [[TableLog.metadataDistinct]]); plain writes stage as-is. Reference: the consumer's put/overwrite of
  * derived tables (consumer.py) re-expressed as idiomatic
  * DataFrameWriter calls. */
class TableLogSource extends RelationProvider
    with org.apache.spark.sql.sources.SchemaRelationProvider
    with CreatableRelationProvider with DataSourceRegister
    with StreamSinkProvider with StreamSourceProvider {

  override def shortName(): String = "tablelog"

  /** The DECLARED-SCHEMA read face — what the session catalog passes
    * for `CREATE TABLE t (<cols>) USING tablelog LOCATION '<root>'`:
    * on a NOT-YET-COMMITTED location it returns an EMPTY relation
    * with the declared schema (Delta's create-then-insert flow — the
    * first `INSERT INTO t` routes through
    * [[graft.plans.InsertIntoTableLogRule]] and commits v0; reads
    * before that serve zero rows, not an "empty log" error). Once the
    * log has a commit, the LOG is the schema authority and the plain
    * path serves — a drifted catalog declaration never masks the
    * committed schema. */
  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String],
                              schema: StructType): BaseRelation = {
    val spark = sqlContext.sparkSession
    val root = rootOf(parameters)
    val exists = TableLog.versions(spark, root).nonEmpty ||
      TableLog.checkpointVersions(spark, root).nonEmpty
    if (exists) createRelation(sqlContext, parameters)
    else {
      // a zero-file index that still CARRIES the root path — the
      // insert analysis requires a single-path relation, and the
      // location may not even exist yet (no listing, no mkdir)
      val rootPath = new org.apache.hadoop.fs.Path(root)
      val emptyIndex = new org.apache.spark.sql.execution.datasources.FileIndex {
        override def rootPaths: Seq[org.apache.hadoop.fs.Path] = Seq(rootPath)
        override def listFiles(
            partitionFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
            dataFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
            : Seq[org.apache.spark.sql.execution.datasources.PartitionDirectory] = Nil
        override def inputFiles: Array[String] = Array.empty
        override def refresh(): Unit = ()
        override def sizeInBytes: Long = 0L
        override def partitionSchema: StructType = StructType(Nil)
      }
      org.apache.spark.sql.execution.datasources.HadoopFsRelation(
        emptyIndex, StructType(Nil), schema, None,
        new org.apache.spark.sql.execution.datasources.parquet
          .ParquetFileFormat(),
        Map.empty[String, String])(
        spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])
    }
  }

  /** `writeStream.format(...)` — each micro-batch is ONE atomic
    * tag-idempotent commit (exactly-once from at-least-once replay;
    * see [[graft.streaming.TableIngest]]). Options: `idCol` commits a
    * change feed per batch (downstream maintainers consume O(delta));
    * absent = plain append. `streamId` scopes the idempotence tags;
    * when not given it derives from the query's checkpointLocation —
    * batch ids are only unique PER CHECKPOINT, so two unnamed queries
    * writing the same table (or a reset checkpoint) must NOT share a
    * tag space: a collision silently discards batches as 'replays'.
    * Append mode only; partitioning rides the table's own layout, not
    * partitionBy. */
  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = {
    require(outputMode == OutputMode.Append(),
      s"TableLogSource sink is append-only (got $outputMode) — " +
        "aggregate upserts belong to foreachBatch + mergeInto")
    require(partitionColumns.isEmpty,
      "TableLogSource ignores partitionBy — stage layout is the " +
        "table's own (clusterBy/buckets on the batch write face)")
    val streamId = parameters.get("streamId").orElse(
      // stable across restarts of the same query (same checkpoint),
      // distinct across queries and checkpoint generations
      parameters.get("checkpointLocation").map(p =>
        "ckpt-" + graft.functions.Sketches.md5HexLocal(p).take(12)))
      .getOrElse("ingest")
    new graft.streaming.TableLogStreamSink(rootOf(parameters),
      parameters.get("idCol"), streamId)
  }

  /** `readStream.format(...)` — the table's COMMIT-TIME CHANGE FEED
    * as a stream (NOT a row re-scan: each micro-batch is one
    * commit's O(delta) sidecar — the Delta-table-as-source shape).
    * Delegates to [[graft.streaming.TableChangesSourceProvider]];
    * same options (`idCol`, `startingVersion`,
    * `maxVersionsPerTrigger`, ...), same fixed (version, id, status)
    * schema. */
  private val changesProvider =
    new graft.streaming.TableChangesSourceProvider

  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): (String, StructType) =
    changesProvider.sourceSchema(sqlContext, schema, providerName, parameters)

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source =
    changesProvider.createSource(sqlContext, metadataPath, schema,
      providerName, parameters)

  /** The table root: the `path` option, or — the catalog-named face
    * for STREAMING reads/writes, where Spark's v1 plumbing has no
    * name resolution of its own — `.option("table", <name>)`, which
    * resolves the session catalog's registered tablelog table to its
    * location (a non-tablelog name refuses loudly rather than
    * streaming a foreign table's directory as if it were a log). */
  private def rootOf(parameters: Map[String, String]): String =
    parameters.get("path").orElse(parameters.get("table").map { n =>
      graft.plans.InsertIntoTableLogRule
        .resolveTableLog(org.apache.spark.sql.SparkSession.active, n)
        .map(_._2).getOrElse(sys.error(
          s"TableLogSource: table '$n' is not a tablelog table"))
    }).getOrElse(sys.error(
      "TableLogSource: pass the table root via .load(root)/.save(root), " +
        ".option(\"path\", root), or .option(\"table\", <catalog name>)"))

  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val root = rootOf(parameters)
    val asOf: Option[Long] =
      (parameters.get("versionAsOf"), parameters.get("timestampAsOf")) match {
        case (Some(_), Some(_)) => sys.error(
          "TableLogSource: versionAsOf and timestampAsOf are exclusive")
        case (Some(v), None) => Some(v.toLong)
        case (None, Some(ts)) => Some(TableLog.versionAtTime(spark, root,
          java.time.Instant.parse(ts).toEpochMilli))
        case _ => None
      }
    val (index, rel) = TableLogRelation.relationAt(spark, root, asOf)
    // a BaseRelation cannot compose the delete-sidecar anti-join —
    // refuse rather than resurrect deleted rows
    require(index.logState.deletes.isEmpty,
      s"TableLogSource: $root has delete sidecars in force at version " +
        s"${index.version} — read it via TableLog.snapshot" +
        "(spark, root, idCol = Some(...)), which applies them")
    rel
  }

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
                              parameters: Map[String, String],
                              data: DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val root = rootOf(parameters)
    // existence = any retained entry OR a checkpoint (a fully-expired
    // log keeps only its checkpoint; that is still an existing table)
    val versions = TableLog.versions(spark, root)
    val exists = versions.nonEmpty ||
      TableLog.checkpointVersions(spark, root).nonEmpty
    def csvOption(name: String): Seq[String] = parameters.get(name)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    def stage(): (Seq[String], Seq[String]) = parameters.get("clusterBy") match {
      case Some(key) => TableLog.stageWithZoneMap(data, root, "write", key,
        parts = parameters.get("parts").map(_.toInt).getOrElse(16),
        statsCols = csvOption("statsCols"),
        sketchCols = csvOption("sketchCols"))
      case None => (TableLog.stageWrite(data, root, "write"), Nil)
    }
    mode match {
      case SaveMode.ErrorIfExists if exists => sys.error(
        s"TableLogSource: $root already exists " +
          "(default mode is errorifexists; use append/overwrite/ignore)")
      case SaveMode.Ignore if exists => () // leave as-is
      case SaveMode.Append | SaveMode.ErrorIfExists | SaveMode.Ignore =>
        val (files, zm) = stage()
        TableLog.commit(spark, root, files, Nil, zmap = zm,
          op = Some("WRITE"))
      case SaveMode.Overwrite if !exists =>
        // overwrite of a table that doesn't exist yet CREATES it —
        // the create-or-replace idempotent-job shape every file
        // source serves
        val (files, zm) = stage()
        TableLog.commit(spark, root, files, Nil, zmap = zm,
          op = Some("OVERWRITE"))
      case SaveMode.Overwrite =>
        // the table BECOMES the frame: pin ONE read version, remove
        // exactly its active set in the same atomic commit, and
        // conflict-guard the FULL-REWRITE way (compactTable's rule) —
        // a concurrent blind append would survive a remove-only guard
        // and silently ride through the overwrite, and resetDeletes
        // must not cancel a delete sidecar committed concurrently
        val readV = versions.lastOption.getOrElse(
          TableLog.checkpointVersions(spark, root).max)
        val read = TableLog.state(spark, root, Some(readV))
        val (before, dels) = (read.fileRefs, read.deletes)
        val (files, zm) = stage()
        TableLog.commit(spark, root, files, remove = before, zmap = zm,
          resetDeletes = true, op = Some("OVERWRITE"),
          expectActive = before,
          expectDeletes = Some(dels),
          expectNoConflictingAdds = Some((readV, _ => true)))
    }
    // the relation handed back to DataFrameWriter: built WITHOUT the
    // read face's delete-sidecar refusal — a successful append to a
    // table with deletes in force must not throw AFTER its commit
    // landed (the caller would retry a write that already happened)
    TableLogRelation.relationAt(spark, root, None)._2
  }
}

/** `USING graft` / `format("graft")` alias of [[TableLogSource]] —
  * one implementation under both the format's name and the
  * project's (Delta registers exactly one name; two spellings cost
  * one subclass and save every user who guesses the other). */
class GraftSource extends TableLogSource {
  override def shortName(): String = "graft"
}
