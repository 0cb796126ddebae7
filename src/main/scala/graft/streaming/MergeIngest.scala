package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.TableLog

/** CDC-APPLY streaming sink — the continuous form of q135's
  * replication loop: each micro-batch is a frame of row-level changes
  * (the table's full row plus a `status` column ∈ added/changed/
  * removed; removed rows are consulted only for their id) applied to
  * a [[TableLog.stageBucketed]]-laid-out table through ONE
  * bucket-pruned [[TableLog.mergeInto]] commit. This is the
  * reference's stream consumer (consumer.py reading the event stream
  * and upserting DynamoDB, enrichment.py applying per-record deltas)
  * re-expressed over the transaction-log format: the replica stays
  * time-travelable per batch boundary, and each batch's write cost is
  * O(batch + touched buckets) — never a table scan, never a rewrite
  * of an untouched bucket.
  *
  * Exactly-once from at-least-once: [[TableIngest]]'s idempotence-tag
  * discipline — the batch id lands as the commit's tag, a replayed
  * batch finds it in [[TableLog.committedTags]] and no-ops, and both
  * crash points are safe (before commit: the staged dir is
  * unreferenced; after commit: the tag is visible). The tag set is
  * read once per sink instance and maintained in the closure.
  *
  * Contract of [[sink]] ([[latestSink]] bootstraps its own table):
  * the target table must already exist with a bucketed layout (seed
  * it with `commit(stageBucketed(snapshot, …))` — the
  * replica-bootstrap step) and each batch must carry at most one
  * change per id (compact multi-change ids upstream per micro-batch;
  * if a batch does carry both, the upsert wins over the remove, which
  * is NOT a CDC ordering guarantee). */
object MergeIngest {

  /** The foreachBatch sink:
    * {{{
    * changes.writeStream   // (…table cols…, status)
    *   .foreachBatch(MergeIngest.sink(root, "doc_id", 64, streamId = "repl-v1"))
    *   .option("checkpointLocation", ckpt).start()
    * }}}
    * `streamId` scopes the idempotence tags exactly as in
    * [[TableIngest.sink]]: batch ids are only unique per checkpoint,
    * so give every (query, checkpoint generation) its own streamId. */
  def sink(root: String, idCol: String, nBuckets: Int,
           streamId: String = "merge"): (DataFrame, Long) => Unit = {
    val tags = new Ingest.TagCache(root)
    (batch, batchId) =>
      val sp = batch.sparkSession
      if (!batch.isEmpty) {
        val tag = s"$streamId-b$batchId"
        if (!tags.known(sp, tag)) {
          val b = batch.persist() // the merge reads it twice
          try {
            TableLog.mergeInto(sp, root, idCol,
              upserts = b.filter(col("status") =!= "removed").drop("status"),
              deleteIds = b.filter(col("status") === "removed")
                .select(col(idCol)),
              nBuckets = nBuckets, name = s"$streamId/b$batchId",
              tag = Some(tag))
            tags.mark(tag)
          } finally b.unpersist()
        }
      }
  }

  // Fixed, not a parameter: a restart must find the layout its
  // earlier batches wrote (bucket ids are `hash mod n`), and a
  // streaming upsert table has no caller that needs another value.
  private val LatestBuckets = 16

  /** Last-writer-wins upsert sink — the reference's consumer write
    * (consumer.py:58-92: unconditional `put_item` per composite key)
    * on the same tag-idempotent path as [[sink]]:
    * {{{
    * stream.writeStream
    *   .foreachBatch(MergeIngest.latestSink(root, Seq("hour", "event_type"), "n"))
    *   .option("checkpointLocation", ckpt).start()
    * }}}
    * Each batch keeps its latest row per key ([[graft.operators.Dedup
    * .keepLatest]] by `versionCol`), then the first batch bootstraps
    * the table ([[TableLog.stageBucketed]]) and every later one merges
    * ([[TableLog.mergeIntoConditional]]): a matched row is replaced
    * only by a strictly higher version — a stale replay never
    * regresses it, a tie keeps the stored row (DynamoDB's arbitrary
    * pick for two unconditioned writes) — and a new key inserts.
    * `keys.head` is the bucket key, so list the column a batch
    * touches few values of first (`hour` for hourly tables): a batch
    * then rewrites only those buckets. An empty batch (a
    * watermark-only trigger) commits nothing. Read the table with
    * [[TableLog.snapshot]]. */
  def latestSink(root: String, keys: Seq[String], versionCol: String,
                 streamId: String = "latest"): (DataFrame, Long) => Unit = {
    val tags = new Ingest.TagCache(root)
    (batch, batchId) =>
      val sp = batch.sparkSession
      val tag = s"$streamId-b$batchId"
      if (!tags.known(sp, tag)) {
        val b = batch.persist() // probed, then read by the merge twice
        try if (!b.isEmpty) {
          val latest = graft.operators.Dedup.keepLatest(b, keys, versionCol, versionCol)
          val name = s"$streamId/b$batchId"
          if (TableLog.versions(sp, root).isEmpty)
            TableLog.commit(sp, root, TableLog.stageBucketed(
              latest, root, name, keys.head, LatestBuckets), Nil, tag = Some(tag))
          else
            TableLog.mergeIntoConditional(sp, root, keys, latest,
              LatestBuckets, name,
              matched = Seq(TableLog.MatchedUpdate(
                Some(s"s.`$versionCol` > t.`$versionCol`"),
                latest.columns.map(c => c -> s"s.`$c`").toMap)),
              insertWhen = None, tag = Some(tag))
          tags.mark(tag)
        } finally b.unpersist()
      }
  }
}
