package graft.plans

import org.apache.spark.sql.catalyst.expressions.{AttributeReference,
  Descending, Expression, IntegerLiteral, NullsFirst}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Limit,
  LogicalPlan, Project, Sort}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}

import graft.operators.TableLogFileIndex

/** TOP-K FILE PRUNING over a [[graft.operators.TableLog]] snapshot —
  * `ORDER BY col [DESC] LIMIT k` as a Catalyst [[Rule]]: when the
  * sort's FIRST key is a stats-covered column of a
  * [[graft.operators.TableLog.snapshot]] relation, the
  * relation is rewritten to serve only the files that can hold the k
  * outermost rows ([[TableLogFileIndex.topKSurvivors]]) — walk files
  * by their extreme bound, accumulate row counts to k, keep nothing
  * strictly outside the prefix's worst bound. The Sort and Limit
  * stay (the kept files still need their heap pass), but at 100 TB
  * "the latest 100 events" on a time-clustered table reads O(1)
  * files instead of heap-scanning every row of every file — the
  * pushdown `TakeOrderedAndProject` cannot do, because limits never
  * push below sorts on row count alone.
  *
  * Soundness: only the FIRST sort key gates pruning — a dropped file
  * is STRICTLY outside the kth row's bound on that key, so no
  * tie-break on later keys can reach into it (ties AT the bound keep
  * both sides). Null rows ride the declared null ordering with exact
  * per-file null counts. The rewrite needs every active file
  * stats-covered; one uncovered file → no rewrite. The restricted
  * index is itself a [[TableLogFileIndex]] at the same pinned
  * version, so pushed-filter pruning and a fixed-point re-match
  * compose (a re-match that would keep every file is a no-op by
  * guard).
  *
  * FILTERED shape: `WHERE <pred> ORDER BY col LIMIT k` — the
  * dashboard's windowed latest-k — also fires when the Filter(s)
  * between the pair and the relation translate EXACTLY to zone
  * predicates ([[TableLogFileIndex.fullRangesOf]]): files the filter
  * provably excludes leave the walk, provably-FULL files contribute
  * exact counts, straddlers count zero but stay keepable — the
  * cutoff can only land deeper than the true kth row, never shallower
  * (see [[TableLogFileIndex.topKSurvivorsFiltered]]). One conjunct
  * the exact translation cannot carry → no rewrite (a dropped
  * conjunct would over-count; plain scan-time pruning still applies).
  * Anything ELSE between the pair and the relation — a delete-sidecar
  * anti-join, a sample — keeps the scan: the shape check IS the
  * soundness check. */
object MetadataTopK extends Rule[LogicalPlan] {

  /** The relation under `plan` with the Filter conditions crossed on
    * the way down, looking through pass-through projections only (a
    * Project neither drops nor adds rows; a Filter is returned for
    * the caller's exact-translation gate; anything else invalidates
    * the row-count arithmetic). */
  private def relationIn(plan: LogicalPlan)
      : Option[(LogicalRelation, HadoopFsRelation, TableLogFileIndex,
          Seq[Expression])] =
    plan match {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location match {
          case t: TableLogFileIndex => Some((l, h, t, Nil))
          case _ => None
        }
        case _ => None
      }
      case Project(projList, child)
          if projList.forall(_.isInstanceOf[AttributeReference]) =>
        relationIn(child)
      case Filter(cond, child) =>
        relationIn(child).map { case (l, h, t, cs) => (l, h, t, cond +: cs) }
      case _ => None
    }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case lim @ Limit(le @ IntegerLiteral(k),
        srt @ Sort(order, true, child, hint)) if k > 0 =>
      val rewritten = for {
        (lr, rel, idx, conds) <- relationIn(child)
        so <- order.headOption
        a <- so.child match {
          case a: AttributeReference => Some(a)
          case _ => None
        }
        desc = so.direction == Descending
        nf = so.nullOrdering == NullsFirst
        // single-key sorts are tie-free for nulls (any m null rows
        // interchangeable); a multi-key sort's tiebreaker picks
        // SPECIFIC null rows, so the survivor walk must keep every
        // null-bearing file
        tieFree = order.length == 1
        keep <-
          if (conds.isEmpty)
            idx.topKSurvivors(a.name, a.dataType, k.toLong, desc, nf,
              tieFree)
          else idx.topKSurvivorsFiltered(a.name, a.dataType, k.toLong,
            desc, nf, tieFree, conds)
        if keep.size < idx.activeCount // no-op guard: fixed-point safe
      } yield {
        val restricted = rel.copy(location = idx.restrictedTo(keep))(
          rel.sparkSession)
        Limit(le, Sort(order, global = true,
          child.transformUp {
            case l: LogicalRelation if l eq lr =>
              l.copy(relation = restricted)
          }, hint))
      }
      rewritten.getOrElse(lim)
  }
}
