package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType

import graft.operators.TableLog

/** SCHEMA-DRIFT-TOLERANT streaming ingestion — [[TableIngest]]'s
  * exactly-once commit discipline over [[TableLog.evolveAppend]], for
  * event streams whose payloads GROW columns over time (a producer
  * deploy adds a field mid-stream — the mergeSchema-on-streaming-
  * write shape, and the drift case the reference's schemaless
  * DynamoDB items absorb silently): a micro-batch carrying columns
  * the table has never seen lands its rows AND the widened schema in
  * ONE atomic commit; reads at or past it null-fill the new columns
  * for older files, and a batch that REVERTS to fewer columns (a
  * rolled-back producer) appends without disturbing the declared
  * schema (its missing columns read as null). Type CHANGES refuse
  * loudly per evolveAppend's addition-only contract — a poisoned
  * batch fails the stream rather than corrupting the table (pair
  * with [[CheckedIngest]]'s dead-letter when quarantine is wanted).
  *
  * Exactly-once via the commit's idempotence tag, like TableIngest;
  * each commit carries the batch's change feed, so downstream
  * maintainers stay O(delta). Two concurrent evolutions (two streams
  * widening the same table) serialize through evolveAppend's
  * `expectSchema` pin — the loser re-reads the widened schema and
  * retries, so neither stream's columns are ever silently hidden.
  *
  * Per-batch cost: the sink tracks an UNDER-APPROXIMATION of the
  * table's schema (columns this stream has proven the table holds —
  * seeded by its first landed batch, widened by each drift). A batch
  * whose columns all appear there cannot widen anything and takes a
  * plain-append fast path with ZERO schema reads, so a pre-drift (or
  * never-drifting) stream pays TableIngest's cost, not a per-batch
  * whole-table schema derivation; only genuinely widening batches —
  * and the first — pay evolveAppend's schema read. */
object EvolvingIngest {

  def sink(root: String, idCol: String,
           streamId: String = "evolving"): (DataFrame, Long) => Unit = {
    val tags = new Ingest.TagCache(root)
    var known: StructType = null // columns proven present in the table
    (batch, batchId) =>
      val sp = batch.sparkSession
      Ingest.requireIdCol("EvolvingIngest", batch, idCol)
      if (!batch.isEmpty) {
        val tag = s"$streamId-b$batchId"
        if (!tags.known(sp, tag)) {
          val b = batch.persist() // retries and the widening path re-read it
          try {
            val covered = known != null && b.schema.forall(fld =>
              known.exists(k =>
                k.name == fld.name && k.dataType == fld.dataType))
            Ingest.retryRaces("EvolvingIngest", batchId) {
              // both paths are insert-only: the commit's feed is its
              // own adds (cdf == add)
              if (covered) {
                // no widening possible: plain blind append — never
                // reads the schema, never conflicts
                val files = TableLog.stageWrite(b, root, s"$streamId/b$batchId")
                TableLog.commit(sp, root, add = files, remove = Nil,
                  cdf = files, tag = Some(tag))
              } else
                TableLog.evolveAppend(b, root, s"$streamId/b$batchId",
                  tag = Some(tag))
            }
            // the landed commit proves the table now holds b's columns
            known =
              if (known == null) b.schema
              else StructType(known ++ b.schema
                .filterNot(f => known.exists(_.name == f.name)))
            tags.mark(tag)
          } finally b.unpersist()
        }
      }
  }
}
