package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, TableLog}

/** Streaming near-dup ingest — the q106 incremental dedup as a
  * Structured Streaming `foreachBatch` sink: every micro-batch dedups
  * against ALL history via the materialized MinHash band store
  * ([[graft.operators.Dedup.MinhashStore]]), publishes its pair
  * verdicts, then adds its own docs to the store. The reference's
  * consumer checks each record against its processed-keys store as it
  * arrives (consumer.py:57-92); this is that loop when "seen before"
  * means near-duplicate and the stream carries documents.
  *
  * Both outputs are [[TableLog]] tables. Per batch N, in commit order:
  *   1. pairs — `incrementalPairs(batch)` against the store's latest
  *      version (store band keys never shuffle; the batch broadcasts)
  *      plus new×new pairs within the batch, appended to `pairsPath`
  *      as (d1, d2, jaccard, batch) in one commit tagged `pairs-bN`;
  *   2. store — `appendBatch(batch, N)`, one commit tagged `store-bN`.
  *
  * Exactly-once from at-least-once: foreachBatch may REPLAY the last
  * batch after a crash, with either commit already landed. Each
  * commit's tag makes its replay a no-op, and the commit order
  * ([[Ingest.link]]) proves the store read of a pairs commit that is
  * still missing holds exactly the batches before N — so the replay
  * recomputes the same pairs against the same history, whatever the
  * crash point. State is the STORE, not the state store: nothing ages
  * out of a watermark horizon (contrast [[EventPipeline
  * .dedupStreamByContent]], whose fingerprint state is bounded by the
  * watermark), and a restart resumes against the full history for
  * free.
  *
  * At 100 TB: per-batch work is O(batch + matches) — the store is
  * never rescanned beyond one map-side band-key probe — and the
  * store's layout is the q106 artifact, shared with batch jobs. */
object DedupIngest {

  /** The foreachBatch sink:
    * {{{
    * docs.writeStream
    *   .foreachBatch(DedupIngest.sink(store, pairs, "doc_id", "text",
    *     k = 3, bands = 16, rowsPerBand = 4, threshold = 0.5))
    *   .option("checkpointLocation", ckpt).start()
    * }}}
    */
  def sink(storePath: String, pairsPath: String, idCol: String,
           textCol: String, k: Int, bands: Int, rowsPerBand: Int,
           threshold: Double): (DataFrame, Long) => Unit = {
    val tags = new Ingest.TagCache(pairsPath)
    (batch, batchId) => Ingest.materialized(batch) { b =>
      val sp = b.sparkSession
      Ingest.link(sp, tags, pairsPath, s"pairs-b$batchId") {
        val pairs =
          if (TableLog.versions(sp, storePath).nonEmpty)
            Dedup.MinhashStore.incrementalPairs(b, idCol, textCol,
              storePath, k, bands, rowsPerBand, threshold)
          else // first batch ever: history is empty, in-batch only
            Dedup.minhashLshPairs(b, idCol, textCol, k, bands,
              rowsPerBand, threshold)
        pairs.withColumn("batch", lit(batchId))
      }
      Dedup.MinhashStore.appendBatch(b, idCol, textCol, storePath,
        k, bands, rowsPerBand, batch = batchId)
    }
  }
}
