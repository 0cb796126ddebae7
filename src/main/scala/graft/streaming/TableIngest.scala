package graft.streaming

import org.apache.spark.sql.DataFrame

import graft.operators.TableLog

/** Streaming ingestion INTO the transaction-log table format — every
  * micro-batch becomes one atomic [[TableLog]] commit with a
  * commit-time CHANGE FEED, so the landing table is simultaneously:
  *
  *  - time-travelable per batch boundary ("the corpus exactly as of
  *    ingest batch N" is `snapshot(asOf = versionOf(N))`),
  *  - an O(delta) change-feed source for every downstream maintainer
  *    (q97's ANN index delta, q118's GSI upsert, q125's manifest
  *    delta consume `changes()` without re-reading the table),
  *  - immutable-file parquet a batch engine scans directly.
  *
  * This is the reference's ingestion pipeline (consumer.py's Kinesis
  * handler writing DynamoDB + its stream triggering enrichment.py)
  * re-expressed as storage discipline: the WRITE both lands the data
  * and publishes the delta, instead of making every consumer tail a
  * separate bus.
  *
  * Exactly-once from at-least-once: foreachBatch may REPLAY a batch
  * id after a crash. Each commit carries the batch id as its
  * idempotence TAG; a replay finds the tag in [[TableLog
  * .committedTags]] and no-ops, whatever the crash point:
  *   - crash after staging, before commit → the staged dir is
  *     unreferenced (readers see the log, not the directory); the
  *     replay stages fresh files and commits once;
  *   - crash after commit → the replay sees the tag and skips; the
  *     replay's own staging never happens.
  * The one-commit-per-batch discipline also serializes against
  * CONCURRENT committers on the same table: the optimistic version
  * claim retries until this batch's entry lands at some version.
  *
  * An EMPTY batch (a watermark-only trigger) stages nothing it keeps
  * and commits nothing: its row count comes from the staging write
  * itself ([[TableLog.stageNonEmpty]]), and its stage dir is deleted
  * before the sink returns.
  *
  * At 100 TB: per batch, ONE Spark job — the parquet write of the
  * batch — plus one KB-sized log entry. The feed costs no write: an
  * append's change feed IS its add files (the commit's `cdf` refs
  * equal its adds; [[TableLog.changes]] reads every row there as
  * `added`). The log grows O(#batches) — compact with
  * [[TableLog.compactTable]] + vacuum on the retention schedule like
  * any other committer. */
object TableIngest {

  /** The foreachBatch sink (append-only ingest; id'd rows):
    * {{{
    * docs.writeStream
    *   .foreachBatch(TableIngest.sink(root, "doc_id", streamId = "docs-v1"))
    *   .option("checkpointLocation", ckpt).start()
    * }}}
    * Every batch row is recorded in the feed as `added` — the
    * ingest's contract is append (dedup/upsert belong to downstream
    * consumers of the feed, or to [[DedupIngest]] upstream) — so the
    * commit names its own data files as its feed (`cdf == add`); no
    * second copy of the ids is written.
    *
    * `streamId` scopes the idempotence tags: batch ids are only
    * unique PER CHECKPOINT, so a reset checkpoint (or a second query
    * writing the same table) restarts at batch 0 and would silently
    * no-op against the old tags. Give every (query, checkpoint
    * generation) its own streamId — and a NEW streamId when you
    * deliberately reset the checkpoint; tag collisions across
    * distinct streamIds are impossible.
    *
    * The committed-tag set is read from the log ONCE per sink
    * instance and maintained in the closure afterwards — per-batch
    * cost stays O(1) log reads over the stream's whole life, not
    * O(#commits) per batch. (A restart re-reads once; concurrent
    * committers with OTHER streamIds never collide, so the cache
    * cannot go stale for this stream's own tags.) */
  def sink(root: String, idCol: String,
           streamId: String = "ingest"): (DataFrame, Long) => Unit =
    ingest(root, Some(idCol), streamId)

  /** [[sink]] without a change feed — append-only ingest of frames
    * that carry no row identity (raw event landing). Same
    * one-atomic-commit-per-batch and tag-idempotence contract; the
    * table still time-travels per batch boundary, there is just no
    * O(delta) feed for downstream maintainers to consume. */
  def appendSink(root: String,
                 streamId: String = "ingest"): (DataFrame, Long) => Unit =
    ingest(root, None, streamId)

  /** Both sinks: the tag check, then one staging job, then — for a
    * non-empty batch — one commit whose feed is its own adds when
    * `idCol` is given. */
  private[streaming] def ingest(root: String, idCol: Option[String],
                                streamId: String): (DataFrame, Long) => Unit = {
    val tags = new Ingest.TagCache(root)
    (batch, batchId) =>
      val sp = batch.sparkSession
      idCol.foreach(Ingest.requireIdCol("TableIngest", batch, _))
      val tag = s"$streamId-b$batchId"
      if (!tags.known(sp, tag)) {
        val files = TableLog.stageNonEmpty(batch, root, s"$streamId/b$batchId")
        if (files.nonEmpty) {
          TableLog.commit(sp, root, files, Nil,
            cdf = if (idCol.isDefined) files else Nil, tag = Some(tag))
          tags.mark(tag)
        }
      }
  }
}

/** The V1 [[org.apache.spark.sql.execution.streaming.Sink]] behind
  * `writeStream.format("graft.sources.TableLogSource")` — the same
  * exactly-once commit discipline as the foreachBatch sinks, reachable
  * without writing a line of graft code. `idCol` present → each batch
  * commits WITH a change feed ([[TableIngest.sink]]); absent → plain
  * append ([[TableIngest.appendSink]]). */
private[graft] class TableLogStreamSink(root: String, idCol: Option[String],
    streamId: String)
    extends org.apache.spark.sql.execution.streaming.Sink {
  private val fn = TableIngest.ingest(root, idCol, streamId)
  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // the Dataset a V1 Sink receives is incrementally planned:
    // re-planning ops (observe, persist, a second action) would
    // re-trigger the source. Lift its physical rows into a plain
    // frame ONCE; everything downstream is then ordinary batch code.
    val spark = data.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val rows = data.queryExecution.toRdd.map(_.copy())
    fn(org.apache.spark.sql.graftbridge.BridgePlans
      .fromInternalRows(spark, rows, data.schema), batchId)
  }
  override def toString: String = s"TableLogStreamSink[$root]"
}
