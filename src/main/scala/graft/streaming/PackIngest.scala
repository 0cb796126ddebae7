package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Pack

/** CONTINUOUS sequence packing — q68's fixed-budget packing run over
  * an arriving document stream: every micro-batch's documents are
  * appended to each source's token tape exactly where the tape left
  * off, so sequence ids assigned today are FINAL (a trainer can
  * consume packed sequences while ingest continues; nothing is ever
  * re-packed). The streaming sibling of [[DedupIngest]] /
  * [[DriftIngest]]: state is a tiny table of per-source token
  * totals, not the state store.
  *
  * Input batches must carry (`sourceCol`, `idCol`, `tieCol`,
  * `tokCol`); within a batch, rows pack in (`idCol`, `tieCol`) order
  * per source (the q68 order), and across batches in arrival order —
  * an id-ordered feed therefore reproduces the one-shot batch packing
  * exactly (spec-proved).
  *
  * Two [[graft.operators.TableLog]] tables under `storePath`, each
  * batch committing to both, in this order:
  *   1. `assign` — the batch's final (source, id, n_tokens, seq_id,
  *      cum, batch) assignments, appended under tag `assign-bN`;
  *   2. `base` — per-source cumulative token totals AFTER batch N,
  *      replaced whole under tag `base-bN` (time travel serves any
  *      earlier batch's totals).
  *
  * Exactly-once from at-least-once: both links read `base` at its
  * latest version, and neither reads `assign` — `base` takes the
  * batch's own per-source totals from the batch itself. A link runs
  * only while its tag is missing, and `base` commits last, so that
  * version is always batch N-1's ([[Ingest.link]]): a replay
  * recomputes identical assignments whatever the crash point.
  *
  * At 100 TB: per-batch work is the batch's own two-phase prefix sum
  * (Pack.shardedCumSum — parallel in #sources × #buckets) plus one
  * read of the one-file base; the tape position store is #sources
  * rows. */
object PackIngest {

  def sink(storePath: String, seqLen: Long, sourceCol: String = "source",
           idCol: String = "doc_id", tieCol: String = "__tie",
           tokCol: String = "n_tokens"): (DataFrame, Long) => Unit = {
    require(seqLen > 0, s"seqLen must be positive, got $seqLen")
    val assignRoot = s"$storePath/assign"
    val baseRoot = s"$storePath/base"
    val tags = new Ingest.TagCache(assignRoot, baseRoot)
    (batch, batchId) => Ingest.materialized(batch) { b =>
      val sp = b.sparkSession
      lazy val prior = Ingest.latest(sp, baseRoot)
        .map(_.select(col(sourceCol), col("base_tokens")))
      Ingest.link(sp, tags, assignRoot, s"assign-b$batchId") {
        val withCum = Pack.shardedCumSum(b, sourceCol, idCol, tieCol,
          tokCol, "__bcum")
        val based = prior match {
          case Some(p) => withCum.join(p, Seq(sourceCol), "left_outer")
            .withColumn("__base", coalesce(col("base_tokens"), lit(0L)))
            .drop("base_tokens")
          case None => withCum.withColumn("__base", lit(0L))
        }
        based
          .withColumn("cum", col("__base") + col("__bcum"))
          // a doc's sequence is where its FIRST token lands
          .withColumn("seq_id",
            call_function("div", col("cum") - col(tokCol), lit(seqLen)))
          .select(col(sourceCol), col(idCol), col(tokCol),
            col("seq_id"), col("cum"), lit(batchId).as("batch"))
      }
      Ingest.link(sp, tags, baseRoot, s"base-b$batchId", replace = true) {
        val batchTotals = b.groupBy(col(sourceCol))
          .agg(sum(col(tokCol)).as("__bt"))
        val newBase = prior match {
          case Some(p) => p.join(batchTotals, Seq(sourceCol), "full_outer")
            .select(col(sourceCol),
              (coalesce(col("base_tokens"), lit(0L)) +
                coalesce(col("__bt"), lit(0L))).as("base_tokens"))
          case None => batchTotals
            .select(col(sourceCol), col("__bt").as("base_tokens"))
        }
        // #sources rows, re-read every batch — one file (coalesce: no
        // extra shuffle)
        newBase.coalesce(1)
      }
    }
  }
}
