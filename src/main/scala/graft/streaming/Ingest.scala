package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.TableLog

/** Shared exactly-once plumbing for the [[graft.operators.TableLog]]-
  * backed streaming sinks ([[TableIngest]], [[MergeIngest]]'s CDC
  * and last-writer-wins sinks, [[CheckedIngest]], [[EvolvingIngest]],
  * [[DedupIngest]], [[PackIngest]], [[DriftIngest]]): the committed-tag
  * cache that turns at-least-once foreachBatch replays into no-ops,
  * the tagged links of a multi-table sink's commit chain, and the
  * conflict-retry loop for commits that carry expect-pins. One owner
  * for the discipline — a fix to the tag scheme or the retry bound
  * lands once instead of drifting across sinks. */
private[streaming] object Ingest {

  /** Committed-tag cache: each root's tag set — the tags of its
    * latest log state ([[TableLog.committedTags]]: the newest
    * checkpoint's plus those of the entries after it) — is read ONCE
    * per sink instance (lazily, on the first batch) and maintained in
    * memory afterwards — per-batch cost stays O(1) log reads over the
    * stream's whole life, not O(#commits) per batch.
    * A restart re-reads once; concurrent committers with OTHER
    * streamIds never collide, so the cache cannot go stale for this
    * stream's own tags. */
  final class TagCache(roots: String*) {
    private var seen: scala.collection.mutable.Set[String] = null
    private def ensure(sp: SparkSession): Unit =
      if (seen == null)
        seen = scala.collection.mutable.Set(
          roots.flatMap(r => TableLog.committedTags(sp, r)).toSeq: _*)
    /** Is `tag` already committed (in any of the cached roots)? */
    def known(sp: SparkSession, tag: String): Boolean = {
      ensure(sp); seen.contains(tag)
    }
    def mark(tag: String): Unit = seen += tag
  }

  /** Run `body` on `batch` materialized ONCE: one job runs the
    * batch's source plan (a Kafka batch is fetched once, not once per
    * action) and caches it for every output derived from it. An empty
    * batch (a watermark-only trigger) runs nothing else and commits
    * nothing. */
  def materialized(batch: DataFrame)(body: DataFrame => Unit): Unit = {
    val b = batch.persist()
    // the cached plan's rows, counted: building the cache IS the one
    // job (a Dataset count() would add its aggregation's own jobs)
    try if (b.queryExecution.toRdd.count() > 0L) body(b)
    finally b.unpersist()
  }

  /** The table at `root` at its latest version, or None before its
    * first commit. */
  def latest(sp: SparkSession, root: String): Option[DataFrame] =
    if (TableLog.versions(sp, root).isEmpty) None
    else Some(TableLog.snapshot(sp, root))

  /** One link of a multi-table sink's COMMIT CHAIN: unless `tag` is
    * committed, stage `out` (one job) and commit it under `tag` — even
    * when it holds no rows, so the tag alone records that the link
    * landed. `replace` also removes the table's active files (a whole-
    * table replace, pinned against a concurrent one).
    *
    * A sink commits its links in dependency order, each table read by
    * a link committed after it. foreachBatch only ever replays the
    * last batch, so when a link's tag is missing, so is every later
    * link's: the tables it reads still stand at the previous batch,
    * and their latest version is the right input — whatever the crash
    * point, the replay recomputes what first delivery would have. */
  def link(sp: SparkSession, tags: TagCache, root: String, tag: String,
           replace: Boolean = false)(out: => DataFrame): Unit =
    if (!tags.known(sp, tag)) {
      val prior = if (replace) TableLog.state(sp, root).fileRefs else Nil
      TableLog.commit(sp, root, add = TableLog.stageNonEmpty(out, root, tag),
        remove = prior, tag = Some(tag), expectActive = prior)
      tags.mark(tag)
    }

  /** A sink whose commits name their own data files as the change
    * feed (`cdf == add`) records no ids of its own: [[TableLog.changes]]
    * reads them back from those files by `idCol`. Refuse a batch
    * without the column before anything is written — its feed could
    * never be served. */
  def requireIdCol(label: String, batch: DataFrame, idCol: String): Unit =
    require(batch.columns.contains(idCol),
      s"$label: batch lacks id column '$idCol' (has ${batch.columns.mkString(",")})")

  /** Conflict-retry loop for sinks whose commits carry expect-pins
    * (constraint or schema sets): a
    * [[java.util.ConcurrentModificationException]] means a concurrent
    * writer changed the pinned state mid-batch — re-run `attempt`
    * (which must re-read and re-derive) up to `attempts` times, then
    * fail the stream loudly. */
  def retryRaces(label: String, batchId: Long, attempts: Int = 8)(
      attempt: => Unit): Unit = {
    var n = 0
    var done = false
    while (!done && n < attempts) {
      try { attempt; done = true }
      catch { case _: java.util.ConcurrentModificationException => n += 1 }
    }
    require(done, s"$label: batch $batchId lost $n races")
  }
}
