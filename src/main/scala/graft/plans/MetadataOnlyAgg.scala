package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference,
  Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression,
  Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter,
  LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
  LogicalRelation}

import graft.operators.TableLogFileIndex

/** METADATA-ONLY AGGREGATES over a [[graft.operators.TableLog]]
  * snapshot — the Delta `OptimizeMetadataOnlyQuery`/aggregate-pushdown
  * analog as a Catalyst [[Rule]]: a global (no GROUP BY, no filter) —
  * or, when every in-scope file provably holds ONE value of the
  * grouping column, a single-key GROUP BY ([[TableLogFileIndex
  * .groupAligned]]) — `count(*)` / `count(col)` / `min(col)` /
  * `max(col)` / `sum(integral col)` over a
  * [[graft.operators.TableLog.snapshot]] relation collapses
  * to a [[LocalRelation]] holding the answer computed from the log's
  * typed zone-map sidecars — ZERO files scanned. At 100 TB,
  * `SELECT max(ts) FROM table` (every incremental consumer's
  * high-water-mark probe — the reference's consumer.py asks exactly
  * this of its checkpoint) and `SELECT count(*)` (every pipeline's
  * sanity gate) answer in O(#files) driver metadata that the relation
  * ALREADY collected at construction, instead of a full scan.
  *
  * Soundness gates — the rewrite fires ONLY when the answer is exact:
  *  - the plan is literally `Aggregate(no grouping)` over (a
  *    pass-through column-pruning [[Project]] over) a
  *    [[TableLogFileIndex]] relation, OPTIONALLY through Filters that
  *    are PROVABLY FILE-ALIGNED ([[TableLogFileIndex
  *    .alignedSurvivors]]: the predicate translates exactly and every
  *    surviving file is proven full — "count the events in
  *    yesterday's partition-aligned window") — then the aggregate
  *    answers from exactly those files' stats; a boundary straddler,
  *    an inexact conjunct, a delete-sidecar anti-join, a sample —
  *    anything else — keeps the scan (the API face
  *    [[graft.operators.TableLog.metadataAggRange]] serves the
  *    straddling window with its boundary scan);
  *  - every aggregate is an undistinct, unfiltered `count(lit)`,
  *    `count(attr)`, `min(attr)`, `max(attr)` or `sum(integral
  *    attr)` (plus constant columns); one unanswerable expression
  *    abandons the whole rewrite;
  *  - the index proves every IN-SCOPE file covered: a consistent
  *    n_rows for counts, a stats row of the column's kind (or an
  *    all-null proof) for min/max — one uncovered scoped file → no
  *    rewrite (an uncovered file OUTSIDE an aligned window does not
  *    block it; see [[TableLogFileIndex.statsRowCount]] /
  *    `statsNonNullCount` / `statsMinMax`).
  *
  * Registered in every session by [[GraftExtensions]]
  * (`injectOptimizerRule`). Stats rows are written by
  * the same pass that writes the data files, so trusting them here is
  * exactly the trust every pruned read already extends. */
object MetadataOnlyAgg extends Rule[LogicalPlan] {

  /** The TableLogFileIndex under `plan` with the Filter conditions
    * crossed on the way down, looking through pass-through
    * projections only (a Project never drops rows; a Filter is
    * returned for the caller's file-alignment gate; anything else —
    * Join, Sample — must keep the scan). */
  private def indexOf(plan: LogicalPlan)
      : Option[(TableLogFileIndex, Seq[Expression])] =
    plan match {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location match {
          case t: TableLogFileIndex => Some((t, Nil))
          case _ => None
        }
        case _ => None
      }
      case Project(projList, child)
          if projList.forall(_.isInstanceOf[AttributeReference]) =>
        indexOf(child)
      case Filter(cond, child) =>
        indexOf(child).map { case (t, cs) => (t, cond +: cs) }
      case _ => None
    }

  /** Answer one output expression from the stats of the in-scope
    * `files`, or None. The returned value is CATALYST-INTERNAL
    * (UTF8String etc.) and may be `null` (min/max over an all-null or
    * empty scope). */
  private def answer(e: NamedExpression, idx: TableLogFileIndex,
                     files: Seq[String]): Option[Any] = e match {
    case Alias(ae: AggregateExpression, _)
        if !ae.isDistinct && ae.filter.isEmpty =>
      ae.aggregateFunction match {
        case Count(Seq(Literal(v, _))) if v != null =>
          idx.statsRowCount(files)
        case Count(Seq(a: AttributeReference)) =>
          idx.statsNonNullCount(a.name, files)
        case Min(a: AttributeReference) =>
          idx.statsMinMax(a.name, a.dataType, files).map(_._1)
        case Max(a: AttributeReference) =>
          idx.statsMinMax(a.name, a.dataType, files).map(_._2)
        // integral sums only — the sidecar records exact per-file
        // decimal sums for `long`-kind columns; float/double never
        // answer (re-summing is order-sensitive)
        case Sum(a: AttributeReference, _) =>
          idx.statsSum(a.name, a.dataType, files)
        case _ => None
      }
    case Alias(Literal(v, _), _) => Some(v)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case agg @ Aggregate(Nil, aggExprs, child, _) =>
      indexOf(child) match {
        case None => agg
        case Some((idx, conds)) =>
          // scope: the whole snapshot, or — under Filters — exactly
          // the provably file-aligned survivor set
          val scope: Option[Seq[String]] =
            if (conds.isEmpty) Some(idx.activeRefs)
            else idx.alignedSurvivors(conds).map(_.toSeq.sorted)
          scope match {
            case None => agg
            case Some(files) =>
              val answers = aggExprs.map(e => answer(e, idx, files))
              if (answers.exists(_.isEmpty)) agg
              else LocalRelation(agg.output,
                Seq(InternalRow.fromSeq(answers.map(_.get))))
          }
      }
    // GROUPED metadata aggregates — `SELECT day, count(*) … GROUP BY
    // day` over a day-clustered table (the daily dashboard probe):
    // when every in-scope file PROVABLY holds exactly one value of
    // the grouping column ([[TableLogFileIndex.groupAligned]]: stats
    // row with lo == hi and zero nulls — daily-ingest commits have
    // exactly this shape), the scan's groups ARE the file partition
    // and each group's aggregates fold that group's per-file stats.
    // A straddling file (multi-day compaction), a null-bearing file,
    // or one unanswerable group keeps the scan. Groups are bounded by
    // #files — O(metadata) driver work, same tier as the global rule.
    case agg @ Aggregate(Seq(g: AttributeReference), aggExprs, child, _) =>
      indexOf(child) match {
        case None => agg
        case Some((idx, conds)) =>
          val scope: Option[Seq[String]] =
            if (conds.isEmpty) Some(idx.activeRefs)
            else idx.alignedSurvivors(conds).map(_.toSeq.sorted)
          scope.flatMap(files =>
            idx.groupAligned(g.name, g.dataType, files).flatMap { groups =>
              val rows = groups.map { case (gv, gFiles) =>
                val answers = aggExprs.map {
                  case a: AttributeReference if a.exprId == g.exprId =>
                    Some(gv)
                  case Alias(a: AttributeReference, _)
                      if a.exprId == g.exprId => Some(gv)
                  case e => answer(e, idx, gFiles)
                }
                if (answers.exists(_.isEmpty)) None
                else Some(InternalRow.fromSeq(answers.map(_.get)))
              }
              if (rows.exists(_.isEmpty)) None
              else Some(LocalRelation(agg.output, rows.map(_.get)))
            }).getOrElse(agg)
      }
  }
}
