package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.TableLog

/** Shared exactly-once plumbing for the [[graft.operators.TableLog]]-
  * backed streaming sinks ([[TableIngest]], [[MergeIngest]]'s CDC
  * and last-writer-wins sinks, [[CheckedIngest]], [[EvolvingIngest]]):
  * the committed-tag cache
  * that turns at-least-once foreachBatch replays into no-ops, and the
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
