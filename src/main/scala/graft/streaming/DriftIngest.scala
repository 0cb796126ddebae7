package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Profile, TableLog}

/** Streaming embedding-drift monitor — q121's PSI check run
  * CONTINUOUSLY over an embedding stream: every micro-batch folds its
  * vectors into a cumulative per-dimension histogram and publishes the
  * PSI of (everything seen so far) against a frozen REFERENCE
  * histogram — the live alarm that fires the day a new encoder
  * checkpoint (or an upstream corpus-mix change) starts shipping
  * vectors the serving-side ANN index was not built for. The streaming
  * sibling of [[DedupIngest]] (state is a table STORE, not the state
  * store) built on [[graft.operators.Profile.binnedHist]]'s mergeable
  * form: histograms sum bin-wise, so per-batch work is
  * O(batch + dims × bins) and the stream's history is never re-read.
  *
  * Three [[TableLog]] tables under `storePath`, each batch committing
  * to all three, in this order:
  *   1. `hist` — batch N's OWN histogram (dim, bin, c, sx, batch; the
  *      audit trail, never re-read by the sink), appended under tag
  *      `hist-bN`;
  *   2. `cum` — the cumulative histogram AFTER folding batch N,
  *      replaced whole under tag `cum-bN` (time travel serves any
  *      earlier batch's);
  *   3. `psi` — the monitor row per dimension after folding batch N
  *      in, appended under tag `psi-bN`.
  *
  * Per-batch cost is O(batch + dims × bins), genuinely: the fold
  * reads the one-file `cum` (a constant-size frame) and adds the
  * batch's histogram — never the per-batch history, so a 100k-batch
  * monitor pays the same per batch as a 3-batch one.
  *
  * Exactly-once from at-least-once: a link runs only while its tag is
  * missing, and the commit order ([[Ingest.link]]) proves what it
  * reads is right — `cum` folds into its latest version, which is
  * batch N-1's while `cum-bN` is missing, and `psi` reads `cum`'s
  * latest, which `cum-bN` has made batch N's. Whatever the crash
  * point, the replay recomputes the same rows ([[DedupIngest]]'s
  * discipline; the spec proves streamed ≡ one-shot and replays every
  * crash point).
  */
object DriftIngest {

  /** Build + persist the frozen reference histogram once. */
  def writeReference(ref: DataFrame, vecCol: String, path: String,
                     nBins: Int = 8, lo: Double = -1.0,
                     hi: Double = 1.0): Unit =
    Profile.binnedHist(ref, vecCol, nBins, lo, hi)
      .coalesce(1).write.mode("overwrite").parquet(path)

  /** The foreachBatch sink:
    * {{{
    * vecs.writeStream
    *   .foreachBatch(DriftIngest.sink(refPath, storePath, "embedding"))
    *   .option("checkpointLocation", ckpt).start()
    * }}}
    */
  def sink(refPath: String, storePath: String, vecCol: String,
           nBins: Int = 8, lo: Double = -1.0, hi: Double = 1.0)
      : (DataFrame, Long) => Unit = {
    val histRoot = s"$storePath/hist"
    val cumRoot = s"$storePath/cum"
    val psiRoot = s"$storePath/psi"
    val tags = new Ingest.TagCache(histRoot, cumRoot, psiRoot)
    (batch, batchId) => Ingest.materialized(batch) { b =>
      val sp = b.sparkSession
      lazy val bh = Profile.binnedHist(b, vecCol, nBins, lo, hi)
        .localCheckpoint(true) // read by hist + cum
      // hist/cum/psi are CONSTANT-SIZE frames (dims×bins rows) — one
      // file each, not one per upstream shuffle partition (coalesce,
      // not repartition: no extra shuffle)
      Ingest.link(sp, tags, histRoot, s"hist-b$batchId")(
        bh.coalesce(1).withColumn("batch", lit(batchId)))
      Ingest.link(sp, tags, cumRoot, s"cum-b$batchId", replace = true) {
        Ingest.latest(sp, cumRoot).fold(bh)(prior =>
          prior.select(col("dim"), col("bin"), col("c"), col("sx"))
            .unionByName(bh)
            .groupBy(col("dim"), col("bin"))
            .agg(sum(col("c")).as("c"), sum(col("sx")).as("sx")))
          .coalesce(1)
      }
      Ingest.link(sp, tags, psiRoot, s"psi-b$batchId") {
        Profile.psiFromHists(sp.read.parquet(refPath),
            TableLog.snapshot(sp, cumRoot), nBins)
          .withColumn("batch", lit(batchId)).coalesce(1)
      }
    }
  }
}
