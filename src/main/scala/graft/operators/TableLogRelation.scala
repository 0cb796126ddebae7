package graft.operators

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute,
  EqualNullSafe, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In,
  InSet, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal, Or,
  StartsWith}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation,
  LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.graftbridge.BridgeTypes
import org.apache.spark.sql.types.{StringType, StructType}

/** A CATALYST-VISIBLE snapshot relation over a [[TableLog]] table: the
  * log's active file set wrapped in a custom [[FileIndex]] whose
  * `listFiles` consults the typed zone-map sidecars — so ANY pushed
  * predicate on a stats-covered column prunes files INSIDE the
  * optimizer, on a plain `TableLog.snapshot(...).filter(col between
  * ...)`, with no special read face: the planner prunes on every query
  * (the Delta `TahoeFileIndex` design). [[TableLog.snapshot]] is
  * graft's ONE read path and plans through this index —
  * [[TableLog.snapshotWhere]] and [[TableLog.snapshotPrefix]] are
  * named filters over it, the format face and `graft_table(...)` serve
  * its relation, and the table's own maintenance reads of named active
  * files ([[TableLog.readActive]]) restrict it. The pruning rules
  * themselves are [[TableLog.pruneWithStats]] /
  * [[TableLog.fullMatchWithStats]].
  *
  * What the planner hands `listFiles` is the split conjunction of
  * pushed data filters; [[TableLogFileIndex.rangesOf]] translates the
  * shapes it understands — =, <=>, <, <=, >, >= between a column and
  * a literal (either orientation), `startswith(col, lit)`,
  * `col IN (lits)` / the optimizer's `InSet` rewrite (a point-interval
  * union — the batch-of-exact-keys probe the reference serves with a
  * per-key Query loop, web_api.py:147-190), `IS NULL` / `IS NOT NULL`
  * (via the sidecar's n_nulls / n_rows stats — an all-null file
  * proves no row matches any interval or IS NOT NULL), and `OR`
  * disjunctions (a file prunes only when BOTH branches provably miss
  * it; same-column branches collapse into one interval disjunction —
  * the `ts < a OR ts > b` outside-a-window shape) — into typed stats
  * predicates, and ignores everything else (unknown predicates prune
  * nothing; they still filter rows later, so correctness never
  * depends on the translation). Open bounds are closed conservatively
  * (`x > 5` prunes as `x >= 5`), which can only under-prune.
  *
  * Scale shape: the index PINS the snapshot version at construction
  * (asOf = None resolves to the latest committed version THEN — a
  * concurrent commit between relation build and query execution can
  * neither drop rows nor mix file generations). Version, active
  * files, zone-map refs, schema ref and delete sidecars all come from
  * ONE [[TableLog.state]] fold; the active statuses and zone stats
  * are materialized from it once — O(#files) driver metadata — and
  * each `listFiles` is then a pure driver-side interval check, no
  * log replay and no Spark job per planning pass. Row-group pushdown
  * inside surviving files is unchanged parquet behavior. */
class TableLogFileIndex(spark: SparkSession, root: String,
                        asOf: Option[Long],
                        bucketBy: Option[(String, Int)] = None,
                        only: Option[Set[String]] = None)
    extends FileIndex {
  import TableLog.kindRepr

  /** The log state this index serves — the ONE fold every projection
    * below (and [[TableLogRelation.relationAt]]'s schema, and
    * [[TableLog.snapshot]]'s delete sidecars) reads. */
  private[graft] lazy val logState: TableLog.LogState = {
    val s = TableLog.state(spark, root, asOf)
    if (s.version < 0) sys.error(s"TableLogFileIndex: empty log at $root")
    s
  }

  /** The pinned snapshot version this index serves. */
  val version: Long = asOf.getOrElse(logState.version)

  private val fsys = new Path(root)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** (root-relative ref, status) for every active file at [[version]].
    * Statuses are built FROM THE LOG's commit-time per-file metadata
    * (len + mtime travel in each entry's `addmeta` — Delta's
    * `add.size` analog), so constructing this index costs ZERO
    * per-file filesystem calls: at millions of active files on an
    * object store, one sequential `getFileStatus` RPC per file is the
    * planning-path bottleneck this format exists to avoid. Files whose
    * entry predates the metadata field (or recorded the unknown
    * sentinel) fall back to a stat — for those files alone. */
  protected lazy val active: Seq[(String, FileStatus)] =
    logState.files
      // `only` restricts the index to the named active files (root-
      // relative refs) at construction — a maintenance read's scope
      // ([[TableLog.readActive]]), zero I/O
      .filter { case (rel, _) => only.forall(_.contains(rel)) }
      .map { case (rel, meta) =>
        val p = fsys.makeQualified(new Path(TableLog.resolve(root, rel)))
        rel -> TableLog.parseFileMeta(meta).fold(fsys.getFileStatus(p)) {
          case (len, mtime) =>
            // synthetic status: block size is a planning hint only
            // (split sizing rides spark.sql.files.maxPartitionBytes)
            new FileStatus(len, false, 1, 128L * 1024 * 1024, mtime, p)
        }
    }

  /** The pinned active file refs (root-relative) — exposed so
    * [[TableLogRelation.relationAt]] reuses the fold this index
    * already paid for instead of re-reading the log, and so
    * [[graft.plans.MetadataOnlyAgg]] can scope a stats answer to the
    * whole snapshot. */
  private[graft] def activeRefs: Seq[String] = active.map(_._1)

  /** Zone stats collected ONCE — listFiles must not re-read sidecars
    * (one driver-side parquet read per sidecar) inside every planning
    * pass. */
  protected lazy val zones: Array[TableLog.ZStat] =
    TableLog.collectZoneRows(spark, root, logState)

  /** Per-file row counts from the typed zone sidecars, for every
    * active file covered by exactly one consistent n_rows. COVERAGE
    * IS JUDGED PER QUERY SCOPE by the stats functions below: a
    * whole-snapshot aggregate needs every active file here, but a
    * file-aligned windowed aggregate needs only ITS files — an
    * uncovered file outside the window must not block the answer. */
  private lazy val coveredRowCounts: Map[String, Long] = {
    val byFile = zones.filter(_.nRows.isDefined).groupBy(_.file)
    active.flatMap { case (rel, _) =>
      byFile.get(rel).map(zs => rel -> zs.flatMap(_.nRows).distinct.toSeq) }
      .collect { case (f, Seq(n)) => f -> n }.toMap
  }

  /** The EXACT row count of `files` from metadata alone — Some iff
    * every named file carries a consistent n_rows stat. Delete
    * sidecars never corrupt this: they compose as an anti-join ABOVE
    * this relation, so a plan answering from the bare relation is by
    * construction delete-free. */
  private[graft] def statsRowCount(files: Seq[String]): Option[Long] = {
    val per = files.flatMap(coveredRowCounts.get)
    if (per.length == files.length) Some(per.sum) else None
  }

  /** `count(col)` (non-null rows) over `files` from metadata: every
    * named file must carry both n_rows and a consistent n_nulls for
    * the column. */
  private[graft] def statsNonNullCount(colName: String,
      files: Seq[String]): Option[Long] = {
    val byFile = zones
      .filter(z => z.scol == colName && z.nNulls.isDefined)
      .groupBy(_.file)
    val per = files.flatMap { f =>
      coveredRowCounts.get(f).flatMap { n =>
        byFile.get(f).map(zs => zs.flatMap(_.nNulls).distinct.toSeq)
          .collect { case Seq(nn) => n - nn } } }
    if (per.length == files.length) Some(per.sum) else None
  }

  /** `min(col)`/`max(col)` over `files` from metadata, as
    * CATALYST-INTERNAL values (UTF8String / epoch days / epoch
    * micros): Some iff every named file carries a stats row of the
    * column's kind. A file whose bounds are absent contributes
    * nothing ONLY when its n_nulls == n_rows proves it all-null
    * (min/max skip nulls); absent bounds without that proof make the
    * answer unknowable. All files all-null → (null, null), SQL's
    * aggregate-over-no-values. */
  private[graft] def statsMinMax(colName: String,
      dt: org.apache.spark.sql.types.DataType,
      files: Seq[String]): Option[(Any, Any)] =
    TableLog.zkindFor(dt).flatMap { kind =>
      val byFile = zones
        .filter(z => z.scol == colName && z.kind == kind)
        .groupBy(_.file)
      // per file: Some(Some((lo, hi))) = bounded, Some(None) =
      // proven all-null, None = unknowable
      val per = files.map { rel =>
        if (!coveredRowCounts.contains(rel)) None
        else byFile.getOrElse(rel, Array.empty[TableLog.ZStat]).toSeq match {
          case Seq(z) => (z.lo, z.hi) match {
            case (Some(l), Some(h)) => Some(Some((l, h)))
            case _ if z.nRows.isDefined && z.nNulls == z.nRows =>
              Some(None)
            case _ => None
          }
          case _ => None // no row, or conflicting rows
        }
      }
      if (per.exists(_.isEmpty)) None
      else {
        val bounded = per.flatten.flatten
        if (bounded.isEmpty) Some((null, null))
        else Some((
          TableLog.zparse(kind,
            bounded.map(_._1).min(Ordering.fromLessThan[String](
              (a, b) => TableLog.zcmp(kind, a, b) < 0)), dt),
          TableLog.zparse(kind,
            bounded.map(_._2).max(Ordering.fromLessThan[String](
              (a, b) => TableLog.zcmp(kind, a, b) < 0)), dt)))
      }
    }

  /** `sum(col)` for an INTEGRAL column over `files` from metadata, as
    * the java.lang.Long the scan would produce (Spark's Sum over
    * integral input is LongType): Some iff every named file carries
    * either a per-file decimal sum (stageWithZoneMap records one for
    * `long` kind) or the all-null proof. SQL semantics: all rows null
    * → Some(null). The per-file sums re-add in BigDecimal (exact),
    * and a total outside the Long domain REFUSES the rewrite — the
    * scan path then raises Spark's own ANSI overflow, exactly as it
    * would have without the rule. Non-integral columns never answer:
    * a float/double re-sum is order-sensitive, and a metadata answer
    * must be bit-equal to the scan's. */
  private[graft] def statsSum(colName: String,
      dt: org.apache.spark.sql.types.DataType,
      files: Seq[String]): Option[Any] = {
    import org.apache.spark.sql.types._
    val integral = dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    if (!integral) None
    else {
      val byFile = zones
        .filter(z => z.scol == colName && z.kind == "long")
        .groupBy(_.file)
      // Some(Some(sum)) = contributes, Some(None) = proven all-null
      // (contributes nothing), None = unknowable
      val per = files.map { rel =>
        if (!coveredRowCounts.contains(rel)) None
        else byFile.getOrElse(rel, Array.empty[TableLog.ZStat]).toSeq match {
          case Seq(z) => z.sum match {
            case Some(s) => Some(Some(BigDecimal(s)))
            case None if z.nRows.isDefined && z.nNulls == z.nRows =>
              Some(None)
            case None => None
          }
          case _ => None
        }
      }
      if (per.exists(_.isEmpty)) None
      else {
        val parts = per.flatten.flatten
        if (parts.isEmpty) Some(null) // sum over no non-null values
        else {
          val total = parts.sum
          if (total.isValidLong) Some(java.lang.Long.valueOf(total.toLong))
          else None // overflow: let the scan raise ANSI's error
        }
      }
    }
  }

  /** The filter's survivor set, iff it is PROVABLY FILE-ALIGNED: the
    * filters translate EXACTLY ([[fullRangesOf]]) and every surviving
    * file is proven FULL (every row matches) — then an aggregate over
    * the filtered scan equals the same aggregate over exactly these
    * files' stats, and [[graft.plans.MetadataOnlyAgg]] may collapse
    * it ("how many events in yesterday's partition-aligned window").
    * A boundary straddler, an inexact conjunct, or a coverage gap →
    * None (the API face [[TableLog.metadataAggRange]] serves the
    * straddling case with its boundary scan). */
  private[graft] def alignedSurvivors(filters: Seq[Expression])
      : Option[Set[String]] =
    fullRangesOf(filters).flatMap { fullPreds =>
      val survivors = TableLog.pruneWithStats(active.map(_._1), zones,
        rangesOf(filters))
      val full = TableLog.fullMatchWithStats(survivors, zones, fullPreds)
      if (survivors.toSet == full) Some(full) else None
    }

  /** Partition `files` by a PROVEN single group value per file — the
    * grouped-aggregate alignment gate ([[graft.plans.MetadataOnlyAgg]]
    * with GROUP BY): Some iff the column's type has a zone kind and
    * EVERY named file carries exactly one stats row of that kind with
    * `lo == hi` (every non-null row equals it) AND `n_nulls == 0` (a
    * null would form a NULL group the stats can't see — min/max skip
    * nulls). Then every row of a file provably carries the file's one
    * group value, so the scan's groups ARE the file partition:
    * per-group aggregates fold per-file stats grouped by that value.
    * A day-clustered table's daily-ingest commits have exactly this
    * shape; a straddling file (multi-day compaction) declines the
    * whole rewrite. Groups return sorted by the serialized bound
    * (order-preserving), values CATALYST-INTERNAL. */
  private[graft] def groupAligned(colName: String,
      dt: org.apache.spark.sql.types.DataType,
      files: Seq[String]): Option[Seq[(Any, Seq[String])]] =
    TableLog.zkindFor(dt).flatMap { kind =>
      val byFile = zones
        .filter(z => z.scol == colName && z.kind == kind)
        .groupBy(_.file)
      val per: Seq[Option[(String, String)]] = files.map { rel =>
        byFile.getOrElse(rel, Array.empty[TableLog.ZStat]).toSeq match {
          case Seq(z) => (z.lo, z.hi, z.nNulls) match {
            case (Some(l), Some(h), Some(0L)) if l == h => Some((l, rel))
            case _ => None
          }
          case _ => None // no row, or conflicting duplicates
        }
      }
      if (per.exists(_.isEmpty)) None
      else Some(per.flatten.groupBy(_._1).toSeq
        .sortWith((a, b) => TableLog.zcmp(kind, a._1, b._1) < 0)
        .map { case (ser, fs) =>
          (TableLog.zparse(kind, ser, dt), fs.map(_._2)) })
    }

  /** Active-file count — [[graft.plans.MetadataTopK]]'s no-op guard
    * (a rewrite that keeps every file must leave the plan unchanged,
    * or the fixed-point batch would loop on churn). */
  private[graft] def activeCount: Int = active.length

  /** The files that can hold the k OUTERMOST rows under a sort on
    * `colName` — the metadata side of `ORDER BY ... LIMIT k`
    * ([[graft.plans.MetadataTopK]]): Some(keep) iff EVERY active file
    * carries bounded stats of the column's kind (or the all-null
    * proof) plus known n_rows/n_nulls. Walk files by their extreme
    * bound in the sort direction, accumulate non-null rows to k; the
    * prefix's worst bound t then caps the kth row's value, and files
    * strictly outside t prove empty of top-k rows. Null rows ride the
    * null ordering: under a SINGLE-key sort (`tieFree` — any m null
    * rows are interchangeable) the null block is served greedily from
    * the fewest null-holding files; under a multi-key sort the
    * TIEBREAKER picks specific null rows, so EVERY null-bearing file
    * stays (the deterministic top-k's null rows may live in any of
    * them). Ties at t keep both sides (`hi == t` survives), so ANY
    * valid top-k under SQL's tie freedom is reachable from the kept
    * set. At 100 TB, "the latest 100 events" on a time-clustered
    * table reads O(1) files instead of heap-scanning every row of
    * every file. */
  private[graft] def topKSurvivors(colName: String,
      dt: org.apache.spark.sql.types.DataType, k: Long,
      desc: Boolean, nullsFirst: Boolean,
      tieFree: Boolean): Option[Set[String]] =
    TableLog.zkindFor(dt).flatMap { kind =>
      {
        // coverage declines per FILE below (rc.contains guards), not
        // wholesale — an uncovered file simply fails its own match
        val rc = coveredRowCounts
        val byFile = zones
          .filter(z => z.scol == colName && z.kind == kind)
          .groupBy(_.file)
        final case class F(rel: String, lo: Option[String],
                           hi: Option[String], nonNull: Long, nulls: Long)
        val per = active.map { case (rel, _) =>
          byFile.getOrElse(rel, Array.empty[TableLog.ZStat]).toSeq match {
            case Seq(z) if z.nNulls.isDefined && rc.contains(rel) =>
              val nn = z.nNulls.get
              val n = rc(rel)
              (z.lo, z.hi) match {
                case (Some(l), Some(h)) =>
                  Some(F(rel, Some(l), Some(h), n - nn, nn))
                case _ if nn == n => Some(F(rel, None, None, 0L, nn))
                case _ => None
              }
            case _ => None
          }
        }
        if (per.exists(_.isEmpty)) None
        else {
          val fs = per.flatten
          val totalNulls = fs.map(_.nulls).sum
          val totalNonNull = fs.map(_.nonNull).sum
          // fewest null-holding files covering m null rows — sound
          // ONLY under single-key tie freedom (any m null rows
          // interchangeable); a multi-key sort's tiebreaker selects
          // SPECIFIC null rows, so every null-bearing file stays
          def nullPick(m: Long): Set[String] = {
            if (!tieFree) return fs.filter(_.nulls > 0).map(_.rel).toSet
            var acc = 0L
            fs.filter(_.nulls > 0).sortBy(-_.nulls)
              .takeWhile { f => val need = acc < m; acc += f.nulls; need }
              .map(_.rel).toSet
          }
          // the files that can hold the m outermost NON-NULL rows:
          // prefix by extreme bound until m rows accumulate, then keep
          // everything not strictly outside the prefix's worst bound
          def valuePick(m: Long): Set[String] = {
            val bounded = fs.filter(_.nonNull > 0)
            val sorted =
              if (desc) bounded.sortWith((a, b) =>
                TableLog.zcmp(kind, a.hi.get, b.hi.get) > 0)
              else bounded.sortWith((a, b) =>
                TableLog.zcmp(kind, a.lo.get, b.lo.get) < 0)
            var acc = 0L
            val prefix = sorted
              .takeWhile { f => val need = acc < m; acc += f.nonNull; need }
            if (acc < m) bounded.map(_.rel).toSet // table smaller than m
            else {
              val ord = Ordering.fromLessThan[String](
                (a, b) => TableLog.zcmp(kind, a, b) < 0)
              val t = if (desc) prefix.map(_.lo.get).min(ord)
                      else prefix.map(_.hi.get).max(ord)
              bounded.filter(f =>
                if (desc) TableLog.zcmp(kind, f.hi.get, t) >= 0
                else TableLog.zcmp(kind, f.lo.get, t) <= 0)
                .map(_.rel).toSet
            }
          }
          Some(
            if (nullsFirst) {
              if (totalNulls >= k) nullPick(k)
              else fs.filter(_.nulls > 0).map(_.rel).toSet ++
                valuePick(k - totalNulls)
            } else {
              if (totalNonNull >= k) valuePick(k)
              else fs.filter(_.nonNull > 0).map(_.rel).toSet ++
                nullPick(k - totalNonNull)
            })
        }
      }
    }

  /** A copy of this index serving only `keep` — same pinned version,
    * same pre-collected zone stats, ZERO extra log or filesystem work
    * (the lazy state is overridden, not recomputed). The restricted
    * copy is itself a TableLogFileIndex, so pushed-filter pruning
    * still applies inside the kept set, and a fixed-point re-match of
    * the top-k rule sees keep == activeCount and leaves it alone. */
  private[graft] def restrictedTo(keep: Set[String]): TableLogFileIndex = {
    val st = logState
    val a = active.filter { case (rel, _) => keep(rel) }
    val z = zones
    // a NAMED subclass so `.explain` prints a readable Location line
    // (an anonymous class has an empty simple name)
    class TopKRestrictedFileIndex extends TableLogFileIndex(
        spark, root, Some(version), bucketBy, Some(keep)) {
      override private[graft] lazy val logState: TableLog.LogState = st
      override protected lazy val active: Seq[(String, FileStatus)] = a
      override protected lazy val zones: Array[TableLog.ZStat] = z
    }
    new TopKRestrictedFileIndex
  }

  override def rootPaths: Seq[Path] = Seq(new Path(root))

  override def partitionSchema: StructType = StructType(Nil)

  override def sizeInBytes: Long = active.map(_._2.getLen).sum

  override def inputFiles: Array[String] =
    active.map(_._2.getPath.toString).toArray

  override def refresh(): Unit = ()

  /** Translate pushed conjuncts to typed stats predicates — closed
    * ranges for comparisons, POINT-INTERVAL UNIONS for `In`/`InSet`
    * (the batch-of-exact-keys probe: on a range-clustered table,
    * `col(key).isin(k1..kn)` prunes to the few files containing those
    * points), null-count pruning for `IsNull`/`IsNotNull`, and `Or`
    * trees (sound only when both branches translate — see
    * [[TableLog.ZOr]]). Only shapes whose literal type has a stats
    * kind translate; everything else is ignored (= prunes nothing,
    * never wrong). Inside an IN list a NULL element matches nothing
    * (three-valued IN) and is soundly dropped; any OTHER
    * untranslatable element abandons the whole predicate — pruning by
    * the translated subset alone could drop a file whose rows match
    * the untranslated value. */
  private[operators] def rangesOf(filters: Seq[Expression])
      : Seq[TableLog.ZPredicate] = {
    def one(name: String, k: String, lo: Option[String],
            hi: Option[String]): TableLog.ZPredicate =
      TableLog.ZIntervals(name, k, Seq((lo, hi)))
    // `col IN (v1..vn)` as a union of point intervals. NULL elements
    // drop soundly (IN's three-valued logic: NULL matches no row); a
    // non-null element whose type has no stats kind — or a kind
    // mismatch across elements — abandons the predicate entirely.
    def inPred(a: Attribute, vs: Seq[(Any, org.apache.spark.sql.types.DataType)])
        : Option[TableLog.ZPredicate] = {
      val nonNull = vs.filter(_._1 != null)
      val reprs = nonNull.map { case (v, dt) => kindRepr(dt, v) }
      if (reprs.exists(_.isEmpty)) None
      else {
        val pts = reprs.flatten
        if (pts.map(_._1).distinct.length > 1) None
        else Some(TableLog.ZIntervals(a.name,
          pts.headOption.fold("long")(_._1),
          pts.map { case (_, r) => (Some(r), Some(r)) }))
      }
    }
    def leaf(e: Expression): Option[TableLog.ZPredicate] = e match {
      case GreaterThanOrEqual(a: Attribute, Literal(v, dt)) =>
        kindRepr(dt, v).map { case (k, r) => one(a.name, k, Some(r), None) }
      case GreaterThan(a: Attribute, Literal(v, dt)) =>
        kindRepr(dt, v).map { case (k, r) => one(a.name, k, Some(r), None) }
      case LessThanOrEqual(a: Attribute, Literal(v, dt)) =>
        kindRepr(dt, v).map { case (k, r) => one(a.name, k, None, Some(r)) }
      case LessThan(a: Attribute, Literal(v, dt)) =>
        kindRepr(dt, v).map { case (k, r) => one(a.name, k, None, Some(r)) }
      case EqualTo(a: Attribute, Literal(v, dt)) =>
        kindRepr(dt, v).map { case (k, r) => one(a.name, k, Some(r), Some(r)) }
      // <=> with a non-null literal prunes like =; <=> NULL is IS NULL
      case EqualNullSafe(a: Attribute, Literal(null, _)) =>
        Some(TableLog.ZIsNull(a.name))
      case EqualNullSafe(a: Attribute, Literal(v, dt)) =>
        kindRepr(dt, v).map { case (k, r) => one(a.name, k, Some(r), Some(r)) }
      // reversed orientations (lit OP col)
      case GreaterThanOrEqual(Literal(v, dt), a: Attribute) =>
        kindRepr(dt, v).map { case (k, r) => one(a.name, k, None, Some(r)) }
      case GreaterThan(Literal(v, dt), a: Attribute) =>
        kindRepr(dt, v).map { case (k, r) => one(a.name, k, None, Some(r)) }
      case LessThanOrEqual(Literal(v, dt), a: Attribute) =>
        kindRepr(dt, v).map { case (k, r) => one(a.name, k, Some(r), None) }
      case LessThan(Literal(v, dt), a: Attribute) =>
        kindRepr(dt, v).map { case (k, r) => one(a.name, k, Some(r), None) }
      case EqualTo(Literal(v, dt), a: Attribute) =>
        kindRepr(dt, v).map { case (k, r) => one(a.name, k, Some(r), Some(r)) }
      case EqualNullSafe(Literal(null, _), a: Attribute) =>
        Some(TableLog.ZIsNull(a.name))
      case EqualNullSafe(Literal(v, dt), a: Attribute) =>
        kindRepr(dt, v).map { case (k, r) => one(a.name, k, Some(r), Some(r)) }
      case StartsWith(a: Attribute, Literal(v, StringType)) if v != null =>
        Some(one(a.name, "string", Some(v.toString),
          TableLog.prefixSucc(v.toString)))
      // the batch-of-keys probe: both the literal-list form and the
      // optimizer's hashed-set rewrite (In → InSet past the threshold)
      case In(a: Attribute, list) if list.forall(_.isInstanceOf[Literal]) =>
        inPred(a, list.map { case Literal(v, dt) => (v, dt) })
      case InSet(a: Attribute, hset) =>
        inPred(a, hset.toSeq.map(v => (v, a.dataType)))
      case IsNull(a: Attribute) => Some(TableLog.ZIsNull(a.name))
      // Catalyst pushes an IsNotNull beside nearly every comparison:
      // files PROVEN all-null on the column (n_nulls == n_rows) drop
      case IsNotNull(a: Attribute) => Some(TableLog.ZIsNotNull(a.name))
      case _ => None
    }
    // And splits into a conjunction. Or translates only when BOTH
    // sides produced at least one predicate — an untranslated side
    // survives every file, so the whole Or would prune nothing; a
    // side translating PARTIALLY (one conjunct of an And) stays sound
    // because dropping a conjunct only loosens that branch. Two
    // single-interval branches on the SAME (column, kind) collapse
    // into one interval DISJUNCTION (`ts < a OR ts > b`, the
    // outside-a-window shape, prunes in the same one zone-row pass as
    // an IN); everything else becomes a recursive [[TableLog.ZOr]]
    // whose survivors are the union of its branches' survivors.
    def translate(e: Expression): Seq[TableLog.ZPredicate] = e match {
      case And(l, r) => translate(l) ++ translate(r)
      case Or(l, r) =>
        (translate(l), translate(r)) match {
          case (Seq(TableLog.ZIntervals(c1, k1, d1)),
                Seq(TableLog.ZIntervals(c2, k2, d2)))
              if c1 == c2 && k1 == k2 =>
            Seq(TableLog.ZIntervals(c1, k1, d1 ++ d2))
          case (lp, rp) if lp.nonEmpty && rp.nonEmpty =>
            Seq(TableLog.ZOr(lp, rp))
          case _ => Nil
        }
      case other => leaf(other).toSeq
    }
    filters.flatMap(translate)
  }

  /** FULL-MATCH-capable translation, the dual of [[rangesOf]]: a
    * per-conjunct [[TableLog.ZPredicate]] list usable for proving
    * "EVERY row of this file matches" ([[TableLog.fullMatchWithStats]])
    * — the arithmetic behind filtered top-k pruning. Where [[rangesOf]]
    * may close open bounds conservatively (sound for exclusion, WRONG
    * for inclusion: a file with lo == 5 is not full under `x > 5`),
    * this translation is EXACT or absent: strict comparisons adjust by
    * one on discrete kinds (long/date/timestamp) and refuse elsewhere,
    * StartsWith (half-open) refuses, and — the critical difference —
    * ONE untranslatable conjunct fails the WHOLE translation (None),
    * because a dropped conjunct would over-count matching rows.
    * Or-branches must translate fully on both sides. */
  private[operators] def fullRangesOf(filters: Seq[Expression])
      : Option[Seq[TableLog.ZPredicate]] = {
    // x > v  ≡  x >= succ(v) only where the domain is discrete; the
    // serialized reprs of long/date/timestamp kinds are decimal
    // integers. Domain edges (succ overflows) refuse.
    def step(kind: String, r: String, up: Boolean): Option[String] =
      kind match {
        case "long" | "date" | "timestamp" =>
          try {
            val v = BigInt(r) + (if (up) 1 else -1)
            if (v.isValidLong) Some(v.toString) else None
          } catch { case _: NumberFormatException => None }
        case _ => None
      }
    def iv(name: String, k: String, lo: Option[String], hi: Option[String]) =
      TableLog.ZIntervals(name, k, Seq((lo, hi)))
    def inPred(a: Attribute,
        vs: Seq[(Any, org.apache.spark.sql.types.DataType)])
        : Option[TableLog.ZPredicate] = {
      // NULL elements are sound to drop for a FULL proof too: a row
      // matches IN iff its value equals some non-null element (the
      // null element only turns FALSE into UNKNOWN — both non-matching)
      val reprs = vs.filter(_._1 != null)
        .map { case (v, dt) => kindRepr(dt, v) }
      if (reprs.isEmpty || reprs.exists(_.isEmpty)) None
      else {
        val pts = reprs.flatten
        if (pts.map(_._1).distinct.length > 1) None
        else Some(TableLog.ZIntervals(a.name, pts.head._1,
          pts.map { case (_, r) => (Some(r), Some(r)) }))
      }
    }
    def leaf(e: Expression): Option[TableLog.ZPredicate] = e match {
      case GreaterThanOrEqual(a: Attribute, Literal(v, dt)) =>
        kindRepr(dt, v).map { case (k, r) => iv(a.name, k, Some(r), None) }
      case LessThanOrEqual(a: Attribute, Literal(v, dt)) =>
        kindRepr(dt, v).map { case (k, r) => iv(a.name, k, None, Some(r)) }
      case GreaterThan(a: Attribute, Literal(v, dt)) =>
        kindRepr(dt, v).flatMap { case (k, r) =>
          step(k, r, up = true).map(s => iv(a.name, k, Some(s), None)) }
      case LessThan(a: Attribute, Literal(v, dt)) =>
        kindRepr(dt, v).flatMap { case (k, r) =>
          step(k, r, up = false).map(s => iv(a.name, k, None, Some(s))) }
      case EqualTo(a: Attribute, Literal(v, dt)) =>
        kindRepr(dt, v).map { case (k, r) => iv(a.name, k, Some(r), Some(r)) }
      case EqualNullSafe(a: Attribute, Literal(null, _)) =>
        Some(TableLog.ZIsNull(a.name))
      case EqualNullSafe(a: Attribute, Literal(v, dt)) =>
        kindRepr(dt, v).map { case (k, r) => iv(a.name, k, Some(r), Some(r)) }
      // reversed orientations (lit OP col)
      case GreaterThanOrEqual(Literal(v, dt), a: Attribute) =>
        kindRepr(dt, v).map { case (k, r) => iv(a.name, k, None, Some(r)) }
      case LessThanOrEqual(Literal(v, dt), a: Attribute) =>
        kindRepr(dt, v).map { case (k, r) => iv(a.name, k, Some(r), None) }
      case GreaterThan(Literal(v, dt), a: Attribute) => // v > x ≡ x <= v-1
        kindRepr(dt, v).flatMap { case (k, r) =>
          step(k, r, up = false).map(s => iv(a.name, k, None, Some(s))) }
      case LessThan(Literal(v, dt), a: Attribute) => // v < x ≡ x >= v+1
        kindRepr(dt, v).flatMap { case (k, r) =>
          step(k, r, up = true).map(s => iv(a.name, k, Some(s), None)) }
      case EqualTo(Literal(v, dt), a: Attribute) =>
        kindRepr(dt, v).map { case (k, r) => iv(a.name, k, Some(r), Some(r)) }
      case EqualNullSafe(Literal(null, _), a: Attribute) =>
        Some(TableLog.ZIsNull(a.name))
      case EqualNullSafe(Literal(v, dt), a: Attribute) =>
        kindRepr(dt, v).map { case (k, r) => iv(a.name, k, Some(r), Some(r)) }
      case In(a: Attribute, list) if list.forall(_.isInstanceOf[Literal]) =>
        inPred(a, list.map { case Literal(v, dt) => (v, dt) })
      case InSet(a: Attribute, hset) =>
        inPred(a, hset.toSeq.map(v => (v, a.dataType)))
      case IsNull(a: Attribute) => Some(TableLog.ZIsNull(a.name))
      case IsNotNull(a: Attribute) => Some(TableLog.ZIsNotNull(a.name))
      case _ => None
    }
    def translate(e: Expression): Option[Seq[TableLog.ZPredicate]] =
      e match {
        case And(l, r) =>
          for (lp <- translate(l); rp <- translate(r)) yield lp ++ rp
        case Or(l, r) =>
          for (lp <- translate(l); rp <- translate(r))
            yield Seq(TableLog.ZOr(lp, rp)): Seq[TableLog.ZPredicate]
        case other => leaf(other).map(Seq(_))
      }
    val per = filters.map(translate)
    if (per.exists(_.isEmpty)) None else Some(per.flatten.flatten)
  }

  /** [[topKSurvivors]] UNDER A FILTER — `WHERE <zone predicate> ORDER
    * BY col LIMIT k`, the dashboard's windowed latest-k probe
    * ([[graft.plans.MetadataTopK]]'s filtered shape). Three-way file
    * classification drives the count walk: files the filter provably
    * EXCLUDES leave the universe entirely; files provably FULL (every
    * row matches — [[fullRangesOf]] + [[TableLog.fullMatchWithStats]])
    * contribute their exact counts; PARTIAL files (straddlers)
    * contribute a sound lower bound of ZERO matching rows but stay
    * keepable. The walk accumulates only PROVEN counts, so the cutoff
    * can only land deeper into the sort order than the true kth row —
    * pruning never drops a file the scan would need. When the proven
    * counts cannot reach k (heavily partial coverage), the side that
    * ran short keeps every candidate file — graceful degradation to
    * plain filter pruning, never a wrong cut. Null rows: proven
    * matching nulls come only from FULL files; a partial file with
    * sort-column nulls stays keepable whenever the null block may
    * reach it. Returns None unless every SURVIVOR file carries the
    * sort column's bounded stats (or all-null proof) with known
    * row/null counts — the same coverage contract as the unfiltered
    * walk, narrowed to the files that can matter. */
  private[graft] def topKSurvivorsFiltered(colName: String,
      dt: org.apache.spark.sql.types.DataType, k: Long,
      desc: Boolean, nullsFirst: Boolean, tieFree: Boolean,
      filters: Seq[Expression]): Option[Set[String]] =
    TableLog.zkindFor(dt).flatMap { kind =>
      fullRangesOf(filters).flatMap { fullPreds =>
        {
          // per-file coverage guards below, as in [[topKSurvivors]]
          val rc = coveredRowCounts
          val survivors = TableLog.pruneWithStats(active.map(_._1), zones,
            rangesOf(filters))
          val fullSet = TableLog.fullMatchWithStats(survivors, zones,
            fullPreds)
          val byFile = zones
            .filter(z => z.scol == colName && z.kind == kind)
            .groupBy(_.file)
          final case class F(rel: String, lo: Option[String],
              hi: Option[String], nonNull: Long, nulls: Long, full: Boolean)
          val per = survivors.map { rel =>
            byFile.getOrElse(rel, Array.empty[TableLog.ZStat]).toSeq match {
              case Seq(z) if z.nNulls.isDefined && rc.contains(rel) =>
                val nn = z.nNulls.get
                val n = rc(rel)
                (z.lo, z.hi) match {
                  case (Some(l), Some(h)) =>
                    Some(F(rel, Some(l), Some(h), n - nn, nn, fullSet(rel)))
                  case _ if nn == n =>
                    Some(F(rel, None, None, 0L, nn, fullSet(rel)))
                  case _ => None
                }
              case _ => None
            }
          }
          if (per.exists(_.isEmpty)) None
          else {
            val fs = per.flatten
            def provenNonNull(f: F) = if (f.full) f.nonNull else 0L
            def provenNulls(f: F) = if (f.full) f.nulls else 0L
            val ord = Ordering.fromLessThan[String](
              (a, b) => TableLog.zcmp(kind, a, b) < 0)
            // the files that can hold the m outermost matching
            // NON-NULL rows: prefix by extreme bound until m PROVEN
            // rows accumulate (partial files extend the prefix,
            // contributing nothing — the cutoff only deepens), then
            // keep every candidate not strictly outside the cutoff
            def valuePick(m: Long): Set[String] = {
              val bounded = fs.filter(_.nonNull > 0)
              val sorted =
                if (desc) bounded.sortWith((a, b) =>
                  TableLog.zcmp(kind, a.hi.get, b.hi.get) > 0)
                else bounded.sortWith((a, b) =>
                  TableLog.zcmp(kind, a.lo.get, b.lo.get) < 0)
              var acc = 0L
              val prefix = sorted.takeWhile { f =>
                val need = acc < m; acc += provenNonNull(f); need }
              if (acc < m) bounded.map(_.rel).toSet // can't prove a cutoff
              else {
                val t = if (desc) prefix.map(_.lo.get).min(ord)
                        else prefix.map(_.hi.get).max(ord)
                bounded.filter(f =>
                  if (desc) TableLog.zcmp(kind, f.hi.get, t) >= 0
                  else TableLog.zcmp(kind, f.lo.get, t) <= 0)
                  .map(_.rel).toSet
              }
            }
            // fewest FULL files proving m matching null rows — the
            // greedy cover is sound only under single-key tie freedom
            // (a multi-key tiebreaker selects SPECIFIC null rows:
            // every null-bearing candidate stays); when the proven
            // nulls run short, every null-bearing candidate stays
            // too (a partial file may hold matching nulls)
            def nullPick(m: Long): Set[String] = {
              val provenTotal = fs.map(provenNulls).sum
              if (tieFree && provenTotal >= m) {
                var acc = 0L
                fs.filter(f => f.full && f.nulls > 0).sortBy(-_.nulls)
                  .takeWhile { f => val need = acc < m; acc += f.nulls; need }
                  .map(_.rel).toSet
              } else fs.filter(_.nulls > 0).map(_.rel).toSet
            }
            val totalProvenNulls = fs.map(provenNulls).sum
            val totalProvenNonNull = fs.map(provenNonNull).sum
            Some(
              if (nullsFirst) {
                if (totalProvenNulls >= k) nullPick(k)
                else fs.filter(_.nulls > 0).map(_.rel).toSet ++
                  valuePick(k - totalProvenNulls)
              } else {
                if (totalProvenNonNull >= k) valuePick(k)
                else fs.filter(_.nonNull > 0).map(_.rel).toSet ++
                  nullPick(k - totalProvenNonNull)
              })
          }
        }
      }
    }

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val preds = rangesOf(dataFilters)
    val zoneKeep = TableLog.pruneWithStats(active.map(_._1), zones,
      preds).toSet
    // BUCKET pruning (the attested [[TableLog.stageBucketed]] layout):
    // a point predicate on the bucket column — equality or an IN's
    // point-interval union, long/string kinds whose serialized repr IS
    // the cast-string the bucket hashes — resolves to the bucket ids
    // it can touch; files tagged with any OTHER bucket drop by PATH
    // alone. Untagged files stay (conservative), and multiple point
    // predicates intersect (a conjunction). One path-tag check per
    // file — no stats, no I/O: the point read of a 100 TB bucketed
    // table scans one bucket directory.
    val keep = bucketBy match {
      case None => zoneKeep
      case Some((c, n)) =>
        val pointSets = preds.collect {
          case TableLog.ZIntervals(`c`, kind, ds)
            if (kind == "long" || kind == "string") && ds.nonEmpty &&
              ds.forall(d => d._1.isDefined && d._1 == d._2) =>
            ds.map(d => TableLog.bucketOfKey(d._1.get, n)).toSet
        }
        if (pointSets.isEmpty) zoneKeep
        else {
          val buckets = pointSets.reduce(_ intersect _)
          zoneKeep.filter(rel => TableLog.bucketOf(rel).forall(buckets))
        }
    }
    Seq(PartitionDirectory(InternalRow.empty,
      active.collect { case (rel, st) if keep(rel) => st }.toArray))
  }
}

object TableLogRelation {

  /** The pinned-version (index, HadoopFsRelation) pair
    * [[TableLog.snapshot]] plans from — shared with the
    * `spark.read.format` face ([[graft.sources.TableLogSource]]), which
    * must return a [[HadoopFsRelation]] (a BaseRelation) rather than a
    * DataFrame. `only` restricts the index to named active files
    * ([[TableLog.readActive]]). */
  private[graft] def relationAt(spark: SparkSession, root: String,
      asOf: Option[Long],
      bucketBy: Option[(String, Int)] = None,
      only: Option[Set[String]] = None)
      : (TableLogFileIndex, HadoopFsRelation) = {
    val index = new TableLogFileIndex(spark, root, asOf, bucketBy, only)
    val schema = TableLog.schemaOf(spark, root, index.logState)
        .map(BridgeTypes.nullable).getOrElse {
      // no declared schema: take the files' own uniform schema from
      // ONE footer (files are immutable, a commit's files share one);
      // the index already folded the log — reuse its refs
      TableLog.filesSchema(spark, root, index.version, index.activeRefs)
        .getOrElse(sys.error(
          s"TableLog: $root has no non-empty version at or before " +
            index.version))
    }
    (index, HadoopFsRelation(index, StructType(Nil), schema, None,
      new ParquetFileFormat(), Map.empty[String, String])(spark))
  }

  /** `rel` as a DataFrame — the Catalyst-visible scan every
    * [[TableLog]] read returns. */
  private[graft] def rows(spark: SparkSession,
                          rel: HadoopFsRelation): DataFrame =
    org.apache.spark.sql.graftbridge.BridgePlans.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      LogicalRelation(rel, isStreaming = false))
}
