package graft.operators

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftbridge.ParquetMeta

/** A minimal TRANSACTION-LOG table format — versioned snapshots over
  * immutable parquet files, the storage discipline every reproducible
  * 100 TB training pipeline needs: "train on the corpus exactly as it
  * was at version N" must stay answerable after daily deltas rewrite
  * the table (plain directory-overwrite layouts destroy history; the
  * reference's DynamoDB store keeps only latest state —
  * enrichment.py's in-place overwrite — so reproducibility is exactly
  * what it cannot give you).
  *
  * Design (the Delta/Iceberg core, reduced to its load-bearing
  * minimum):
  *  - data files are IMMUTABLE; a commit is a JSON entry
  *    `_log/<version>.json` listing files ADDED and files REMOVED
  *    (paths relative to the table root), plus optional delete
  *    SIDECARS ([[commitDeletes]]), a deletes-reset marker
  *    ([[compactTable]]), and optional row-lineage CHANGE-FEED
  *    sidecars ([[commitWithFeed]]) that make [[changes]] O(delta) —
  *    an insert-only commit names its own adds as its feed instead;
  *  - the snapshot at version V = union of adds minus removes over
  *    entries ≤ V — reading never lists the data directory, only the
  *    log (O(#commits), not O(#files)). ONE fold answers "what is true
  *    at V": [[state]] lists `_log` once, replays the newest checkpoint
  *    at or below V plus the entries after it, and returns a
  *    [[LogState]] (active files with their metadata, in-force delete
  *    sidecars, zone-map refs, schema ref, constraint refs, tags).
  *    Every reader — snapshot planning, the conflict pins, the
  *    metadata faces, maintenance — projects from it, and a
  *    checkpoint is that same state serialized;
  *  - commits are OPTIMISTIC and ATOMIC: the entry body is written to
  *    a temp file and published with an exclusive create-if-absent
  *    (a hard link on file:// — the POSIX claim-with-content
  *    primitive — so a reader can never observe a half-written
  *    entry); losing a race to a version number re-reads the log and
  *    retries at the next one. Writers never block readers; readers
  *    of version V see V's exact file set forever. (On HDFS the
  *    publish is create(overwrite=false)+write+close, whose content
  *    becomes visible at close — the documented caveat of running
  *    this format off POSIX semantics.)
  *
  * Scale shape: the log is driver-side metadata (KBs per commit); all
  * data movement is ordinary parquet writes of the delta. A daily
  * pipeline appends or replaces only the files it touched — O(delta)
  * I/O — while every historical version stays one `snapshot(asOf)`
  * away. Pair with [[Versioning.tableChecksum]] to certify a
  * time-travel read against a logical replay (q127's oracle), and
  * with [[Versioning.manifest]] to diff two versions without reading
  * rows.
  */
object TableLog {

  /** One parsed log entry — the step [[state]]'s fold applies (a
    * checkpoint is parsed by the same reader and read back as a whole
    * [[LogState]]). `tag` is an optional idempotence token —
    * a streaming committer that might re-run (a micro-batch replayed
    * after a crash) writes its batch identity here and checks
    * [[committedTags]] first, making re-delivery a no-op instead of a
    * duplicate commit. `addMeta` carries PER-FILE metadata aligned
    * with `add` (the Delta `add.size`/`modificationTime` analog):
    * each element is `<len>.<mtimeMs>` or `<len>.<mtimeMs>.<nRows>`
    * — or the `-` sentinel for unknown. Readers that need statuses
    * ([[graft.operators.TableLogFileIndex]]) build them FROM THE LOG
    * instead of one `getFileStatus` RPC per active file — at millions
    * of files on an object store that per-file stat is the
    * planning-path bottleneck. Entries written before the field
    * existed parse as all-unknown and fall back to the stat path. */
  final case class LogEntry(version: Long, reset: Boolean,
                            add: Seq[String], remove: Seq[String],
                            deletes: Seq[String], cdf: Seq[String],
                            tag: Option[String],
                            zmap: Seq[String] = Nil,
                            schema: Seq[String] = Nil,
                            checks: Seq[String] = Nil,
                            addMeta: Seq[String] = Nil,
                            op: Option[String] = None,
                            cdfMeta: Seq[String] = Nil)

  /** Parse one [[LogEntry.addMeta]] element to (len, mtimeMs), or
    * None for the unknown sentinel / an unparseable value (readers
    * then fall back to a per-file stat — metadata is an optimization,
    * never a correctness dependency). A third `.`-separated field
    * (n_rows) is tolerated and ignored here. */
  private[operators] def parseFileMeta(m: String): Option[(Long, Long)] =
    m.split('.') match {
      case Array(len, mt, _*) if len.forall(_.isDigit) && len.nonEmpty &&
          mt.forall(_.isDigit) && mt.nonEmpty =>
        Some((len.toLong, mt.toLong))
      case _ => None
    }

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def logDir(root: String) = s"$root/_log"

  /** Resolve a log file ref against the table root. Refs are normally
    * ROOT-RELATIVE (`data/<dir>/<file>` — the table survives a move);
    * a ref beginning with '/' is ABSOLUTE, written only by
    * [[cloneTable]], whose zero-copy commit references the SOURCE
    * table's immutable files in place. Every read path resolves refs
    * through here so borrowed and owned files mix freely in one
    * active set. */
  private[operators] def resolve(root: String, rel: String): String =
    if (rel.startsWith("/")) rel else s"$root/$rel"

  private def entryPath(root: String, v: Long) =
    new Path(logDir(root), f"$v%020d.json")

  /** Committed versions with a live log entry, ascending (empty for
    * a fresh table; [[expireLog]] removes entries below a checkpoint,
    * so after expiry this starts at the retention horizon). */
  def versions(spark: SparkSession, root: String): Seq[Long] =
    listLog(fs(spark, root), root)._1

  /** The LATEST version committed at or before `tsMillis` — Delta's
    * `timestampAsOf` resolution, from the commit files' own
    * modification times (the entry lands atomically at commit, so its
    * mtime IS the commit time; same contract and same caveat as
    * Delta's: times come from the filesystem, so a clock-skewed
    * writer skews history). Only versions whose entry file is still
    * retained resolve — log expiry trades old timestamps away with
    * the old entries; refuses loudly when `tsMillis` predates every
    * retained commit (asking for a time before the table existed or
    * before retention) rather than silently serving a later state. */
  def versionAtTime(spark: SparkSession, root: String, tsMillis: Long): Long = {
    // ONE listStatus yields both the version names and their mtimes —
    // a per-version exists+stat pair would pay O(2·#versions) extra
    // round-trips on an object store for data the listing already
    // carries (and versions whose entry expired into the checkpoint
    // simply aren't in the listing: their commit time is gone)
    val f = fs(spark, root)
    val dir = new Path(logDir(root))
    val stamped =
      if (!f.exists(dir)) Seq.empty[(Long, Long)]
      else f.listStatus(dir).toSeq
        .filter(s => s.getPath.getName.endsWith(".json") && s.getLen > 0)
        .map(s => s.getPath.getName.stripSuffix(".json").toLong ->
          s.getModificationTime)
    val at = stamped.filter(_._2 <= tsMillis).map(_._1)
    require(at.nonEmpty,
      s"TableLog.versionAtTime: no retained commit at or before " +
        s"$tsMillis in $root (earliest retained: " +
        s"${stamped.map(_._2).minOption.getOrElse("none")})")
    at.max
  }

  /** DESCRIBE HISTORY (the Delta `DESCRIBE HISTORY` shape): one row
    * per RETAINED commit, newest last — (version, ts, operation,
    * n_added, n_removed, n_delete_sidecars, n_cdf, bytes_added,
    * schema_change, constraint_change, tag). Everything comes from
    * the log alone: `ts` is the commit file's own mtime (the same
    * clock [[versionAtTime]] resolves `timestampAsOf` against, read
    * in the SAME single listStatus), `bytes_added` sums the entry's
    * per-file addMeta lengths (null when any add predates the
    * metadata format — never a stat call), `operation` is the
    * recorded op name (UPPERCASE — [[optimizeTable]], [[mergeInto]],
    * deleteWhere … stamp theirs) or, for entries written by plain
    * [[commit]] calls, a lowercase shape-derived class (`append`,
    * `rewrite`, `delete`, `remove`, `schema`, `constraint`, `empty`)
    * — the case distinguishes "the writer said" from "the log
    * infers". Like Delta, history is RETENTION-BOUNDED: versions
    * expired below a checkpoint have no entry and no row. O(#retained
    * commits) driver metadata; zero data-file I/O. */
  def history(spark: SparkSession, root: String): DataFrame = {
    val f = fs(spark, root)
    val dir = new Path(logDir(root))
    val mtimes: Map[Long, Long] =
      if (!f.exists(dir)) Map.empty
      else f.listStatus(dir).toSeq
        .filter(s => s.getPath.getName.endsWith(".json") && s.getLen > 0)
        .map(s => s.getPath.getName.stripSuffix(".json").toLong ->
          s.getModificationTime)
        .toMap
    // the version list IS the mtimes map's key set — ONE listing
    // serves both (a second versions() listing could see a commit the
    // first missed and stamp it a bogus epoch-0 ts)
    val rows = mtimes.keys.toSeq.sorted.map { v =>
      val e = readEntry(f, entryPath(root, v))
      val derived =
        if (e.add.nonEmpty && e.remove.nonEmpty) "rewrite"
        else if (e.add.nonEmpty) "append"
        else if (e.deletes.nonEmpty) "delete"
        else if (e.remove.nonEmpty) "remove"
        else if (e.schema.nonEmpty) "schema"
        else if (e.checks.nonEmpty) "constraint"
        else "empty"
      val bytes: Option[Long] =
        if (e.add.isEmpty) Some(0L)
        else if (e.addMeta.length != e.add.length) None
        else {
          val parsed = e.addMeta.map(parseFileMeta)
          if (parsed.forall(_.isDefined)) Some(parsed.flatten.map(_._1).sum)
          else None
        }
      org.apache.spark.sql.Row(v,
        new java.sql.Timestamp(mtimes.getOrElse(v, 0L)),
        e.op.getOrElse(derived),
        e.add.length.toLong, e.remove.length.toLong,
        e.deletes.length.toLong, e.cdf.length.toLong,
        bytes.map(Long.box).orNull,
        e.schema.nonEmpty, e.checks.nonEmpty, e.tag.orNull)
    }
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), historySchema)
  }

  /** [[history]]'s fixed output schema — exposed so the SQL face's
    * DESCRIBE HISTORY command can declare its output WITHOUT reading
    * the ledger at parse/analysis time (the read happens at
    * execution, like every other command). */
  val historySchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("ts", TimestampType, nullable = false),
      StructField("operation", StringType, nullable = false),
      StructField("n_added", LongType, nullable = false),
      StructField("n_removed", LongType, nullable = false),
      StructField("n_delete_sidecars", LongType, nullable = false),
      StructField("n_cdf", LongType, nullable = false),
      StructField("bytes_added", LongType, nullable = true),
      StructField("schema_change", BooleanType, nullable = false),
      StructField("constraint_change", BooleanType, nullable = false),
      StructField("tag", StringType, nullable = true)))
  }

  /** DESCRIBE DETAIL — Delta's one-row table summary, answered in
    * O(log) driver metadata (file sizes come from the commit entries'
    * own per-file meta; a file whose meta the entry missed falls back
    * to ONE stat for it alone, exactly the readers' discipline). */
  val detailSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("format", StringType, nullable = false),
      StructField("location", StringType, nullable = false),
      StructField("version", LongType, nullable = false),
      StructField("num_files", LongType, nullable = false),
      StructField("size_bytes", LongType, nullable = false),
      StructField("num_delete_sidecars", LongType, nullable = false),
      StructField("num_constraints", LongType, nullable = false),
      StructField("schema_evolved", BooleanType, nullable = false),
      StructField("num_retained_versions", LongType, nullable = false)))
  }

  def describeDetail(spark: SparkSession, root: String): Seq[org.apache.spark.sql.Row] = {
    val f = fs(spark, root)
    // every column from ONE state: a commit landing mid-call must not
    // report version v with v+1's files
    val s = state(spark, root)
    if (s.version < 0) sys.error(s"TableLog.describeDetail: empty log at $root")
    val size = s.files.map { case (p, m) =>
      parseFileMeta(m).map(_._1).getOrElse(
        f.getFileStatus(new Path(resolve(root, p))).getLen)
    }.sum
    Seq(org.apache.spark.sql.Row(
      "tablelog", root, s.version, s.files.size.toLong, size,
      s.deletes.size.toLong,
      constraintsFor(spark, root, s.checks).size.toLong,
      s.schemaRef.nonEmpty,
      versions(spark, root).count(_ <= s.version).toLong))
  }

  /** Log paths must stay parseable by the line-oriented entry format:
    * no commas, quotes, brackets or whitespace — enforced at commit
    * time rather than silently garbled at read time. */
  private def validatePaths(paths: Seq[String]): Unit =
    paths.foreach { p =>
      require(p.matches("[A-Za-z0-9._/=-]+"),
        s"TableLog: path '$p' contains characters outside [A-Za-z0-9._/=-]")
      // '..' (or '.') segments would make a ref resolve() OUTSIDE the
      // table root — vacuum/gcOrphans would then delete files outside
      // the table on a buggy or hostile writer's behalf. Absolute
      // refs (leading '/') stay legal: they are cloneTable's borrowed
      // files, and both reclaim paths already refuse to delete them.
      require(!p.split("/").exists(s => s == ".." || s == "."),
        s"TableLog: path '$p' contains a '.' or '..' segment — refs " +
          "must resolve inside the table root")
    }

  /** `<len>.<mtimeMs>` metadata for each ref, gathered with ONE
    * listStatus per distinct parent dir (scheme-free URI-path keyed,
    * like every other path compare here). Missing files record the
    * `-` unknown sentinel rather than failing — metadata is an
    * optimization; the reader's stat fallback is the contract. */
  private def metaFor(f: FileSystem, root: String,
                      refs: Seq[String]): Seq[String] = {
    if (refs.isEmpty) return Nil
    val paths = refs.map(r => new Path(resolve(root, r)))
    val statBy = scala.collection.mutable.HashMap.empty[String, FileStatus]
    paths.map(_.getParent).distinct.foreach { dir =>
      // ANY listing failure (not-found, throttling, ACL) degrades to
      // the unknown sentinel — metadata must never turn a commit that
      // previously listed nothing into a write-path failure
      try f.listStatus(dir).foreach(s =>
        statBy(s.getPath.toUri.getPath) = s)
      catch { case _: java.io.IOException => () }
    }
    paths.map(p => statBy.get(p.toUri.getPath)
      .fold("-")(s => s"${s.getLen}.${s.getModificationTime}"))
  }

  /** Append a commit (adds/removes are table-root-relative file
    * paths; `deletes` are root-relative ID-LIST sidecar files — see
    * [[commitDeletes]]; `resetDeletes` marks that sidecars committed
    * BEFORE this version no longer apply — see [[compactTable]];
    * `cdf` are root-relative ROW-LINEAGE sidecar files recording this
    * commit's own (id, status) changes — see [[commitWithFeed]]; an
    * INSERT-ONLY commit passes its own adds instead, `cdf == add`,
    * and its feed is then every row of those files as `added` (see
    * [[changes]]) with no sidecar written at all).
    * Optimistic: claims max(version)+1 atomically; on a lost race,
    * re-reads and retries. Returns the version written.
    *
    * WRITE-SERIALIZABLE conflict detection: a REWRITING commit (one
    * whose adds were derived by reading files it now removes) passes
    * its read set as `expectActive` — every such file must STILL be
    * active when the version is claimed, else a concurrent writer
    * replaced it and blindly retrying would LOSE that writer's update
    * (the read-modify-write race optimistic versioning alone cannot
    * see). `expectDeletes` pins the delete-sidecar set the rewrite
    * read through: a sidecar that appeared since (rewrite would
    * resurrect its rows — or a reset would CANCEL it) or vanished
    * since conflicts too. `expectSchema` pins the schema ref a
    * schema-deriving writer read through ([[evolveAppend]] — two
    * concurrent evolutions would otherwise each widen the SAME base
    * and the last one would silently hide the other's columns).
    * `expectNoConflictingAdds = (readV, conflicts)` refuses when any
    * version after `readV` ADDED a file the `conflicts`
    * path-predicate claims — a blind append landing rows inside a
    * rewrite's key range or bucket scope breaks the rewrite's
    * contract (it never saw those rows); bucketed merges pass a
    * bucket-precise predicate, full rewrites conflict with ANY
    * concurrent add (the Serializable rung of Delta's isolation
    * ladder, chosen for rewrites because this format's adds carry no
    * row statistics to prove disjointness). On conflict the commit
    * throws
    * [[java.util.ConcurrentModificationException]] — the caller
    * re-reads the NEW state and re-derives (re-run the merge /
    * replace / compact), exactly Delta's conflict-and-retry contract.
    * The check-then-claim is linearizable: validation and the claim
    * happen against the same log head, and a successful claim of
    * version v proves no other commit landed in between (it would
    * have taken v). Blind appends (expectActive empty) never
    * conflict — append-vs-append needs no serialization beyond the
    * version order itself. */
  def commit(spark: SparkSession, root: String,
             add: Seq[String], remove: Seq[String],
             deletes: Seq[String] = Nil,
             resetDeletes: Boolean = false,
             cdf: Seq[String] = Nil,
             tag: Option[String] = None,
             zmap: Seq[String] = Nil,
             schema: Seq[String] = Nil,
             checks: Seq[String] = Nil,
             op: Option[String] = None,
             expectActive: Seq[String] = Nil,
             expectDeletes: Option[Seq[String]] = None,
             expectSchema: Option[Option[String]] = None,
             expectChecks: Option[Seq[String]] = None,
             expectNoConflictingAdds: Option[(Long, String => Boolean)] = None): Long = {
    validatePaths(add); validatePaths(remove); validatePaths(deletes)
    validatePaths(cdf); tag.foreach(t => validatePaths(Seq(t)))
    validatePaths(zmap); validatePaths(schema); validatePaths(checks)
    op.foreach(o => require(o.nonEmpty && o.forall(c =>
        c.isLetterOrDigit || c == '_' || c == '.' || c == '-'),
      s"TableLog.commit: op name must be [A-Za-z0-9._-]+, got '$o'"))
    require(schema.size <= 1,
      s"TableLog.commit: at most one schema ref per commit, got $schema")
    val f = fs(spark, root)
    f.mkdirs(new Path(logDir(root)))
    // per-file metadata for the adds, captured ONCE at commit time so
    // every future read plans from the log instead of re-statting the
    // files. Grouped by parent dir: adds land under a handful of
    // staged dirs, so this is O(#dirs) listStatus RPCs — not
    // O(#files) stats — on the write path, where the cost is paid
    // once per file ever. A file the listing misses (never in
    // practice — adds are staged before commit) records the unknown
    // sentinel; readers then fall back to a stat for IT alone.
    val addMeta = metaFor(f, root, add)
    // feed sizes travel in the entry too — the byte-based stream
    // admission cap (TableChangesSource maxBytesPerTrigger) then
    // weighs a version with zero stat calls
    val cdfMeta = if (cdf == add) addMeta else metaFor(f, root, cdf)
    val pinned = expectActive.nonEmpty || expectDeletes.isDefined ||
      expectSchema.isDefined || expectChecks.isDefined ||
      expectNoConflictingAdds.isDefined
    var attempt = 0
    while (attempt < 64) {
      // a pinned commit validates against ONE state of the head it
      // claims after (an empty log folds to the empty state, v0)
      val head = if (pinned) Some(state(spark, root)) else None
      val v = head.fold(versions(spark, root).lastOption.getOrElse(-1L))(
        _.version) + 1L
      head.foreach { now =>
        val gone = expectActive.filterNot(now.fileRefs.toSet)
        if (gone.nonEmpty) throw new java.util.ConcurrentModificationException(
          s"TableLog.commit: conflict at $root — files read by this " +
            s"rewrite were replaced by a concurrent commit (e.g. " +
            s"${gone.head}); re-read the table and re-derive")
        expectDeletes.foreach { expected =>
          if (now.deletes.toSet != expected.toSet)
            throw new java.util.ConcurrentModificationException(
              s"TableLog.commit: conflict at $root — the delete-sidecar " +
                s"set changed since this rewrite's read (read through " +
                s"${expected.size}, now ${now.deletes.size}); committing it " +
                "would resurrect or cancel deletes. Re-read and re-derive")
        }
        expectSchema.foreach { expected =>
          if (now.schemaRef != expected)
            throw new java.util.ConcurrentModificationException(
              s"TableLog.commit: conflict at $root — the table schema " +
                s"changed since this writer's read ($expected -> " +
                s"${now.schemaRef}); " +
                "a schema derived from the stale shape would silently " +
                "hide the other evolution's columns. Re-read and re-derive")
        }
        expectChecks.foreach { expected =>
          // a checked writer validated its batch against the
          // constraint set it read; a constraint added or dropped
          // since would let the batch land un(re)validated
          if (now.checks.toSet != expected.toSet)
            throw new java.util.ConcurrentModificationException(
              s"TableLog.commit: conflict at $root — the constraint set " +
                s"changed since this writer's validation (read through " +
                s"${expected.size} refs, now ${now.checks.size}); the batch " +
                "must re-validate. Re-read and re-derive")
        }
        expectNoConflictingAdds.foreach { case (readV, conflicts) =>
          val added = versions(spark, root).filter(_ > readV)
            .flatMap(x => readEntry(f, entryPath(root, x)).add)
          val clash = added.filter(conflicts)
          if (clash.nonEmpty)
            throw new java.util.ConcurrentModificationException(
              s"TableLog.commit: conflict at $root — a concurrent commit " +
                s"added files inside this rewrite's scope (e.g. " +
                s"${clash.head}); committing would leave rows the rewrite " +
                "never saw beside its output. Re-read and re-derive")
        }
      }
      val reset = if (resetDeletes) 1 else 0
      val tagPart = tag.fold("")(t => s""","tag":"$t"""") +
        op.fold("")(o => s""","op":"$o"""")
      val body = s"""{"version":$v,"reset":$reset,"add":${jsonArr(add)},""" +
        s""""addmeta":${jsonArr(addMeta)},""" +
        s""""remove":${jsonArr(remove)},"deletes":${jsonArr(deletes)},""" +
        s""""cdf":${jsonArr(cdf)},"cdfmeta":${jsonArr(cdfMeta)},""" +
        s""""zmap":${jsonArr(zmap)},""" +
        s""""schema":${jsonArr(schema)},"checks":${jsonArr(checks)}$tagPart}"""
      val p = entryPath(root, v)
      // The version claim goes through the [[LogStore]] seam: atomic
      // create-if-absent per scheme (POSIX hard link, HDFS exclusive
      // create), with known-non-atomic object-store schemes refused
      // unless the deployment registered a coordinated store — the
      // S3 story (Delta's LogStore precedent). false = lost the race.
      val store = LogStore.forScheme(p.toUri.getScheme)
      if (store.putIfAbsent(f, p, body.getBytes("UTF-8"))) return v
      attempt += 1 // lost the race; re-read the log and retry
    }
    sys.error(s"TableLog.commit: lost $attempt version races at $root")
  }

  private def readFully(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try {
      val bos = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bos.write(buf, 0, n); n = in.read(buf) }
      new String(bos.toByteArray, "UTF-8")
    } finally in.close()
  }

  private def readEntry(f: FileSystem, p: Path): LogEntry = {
    val body = readFully(f, p)
    // paths are commit-time validated to [A-Za-z0-9._/=-]+, so the
    // line format below is unambiguous
    def list(key: String): Seq[String] = {
      val m = ("\"" + key + "\":\\[(.*?)\\]").r.findFirstMatchIn(body)
      m.map(_.group(1)).filter(_.nonEmpty).toSeq
        .flatMap(_.split(",").toSeq)
        .map(_.trim.stripPrefix("\"").stripSuffix("\""))
    }
    val v = "\"version\":(\\d+)".r.findFirstMatchIn(body)
      .map(_.group(1).toLong)
      .getOrElse(sys.error(s"TableLog: corrupt entry $p"))
    val reset = "\"reset\":1".r.findFirstIn(body).isDefined
    val tag = "\"tag\":\"([A-Za-z0-9._/=-]+)\"".r.findFirstMatchIn(body)
      .map(_.group(1))
    // "cdf"/"tag"/"zmap"/"schema"/"addmeta" absent in older entries →
    // empty/None (format upgrades stay readable both ways). A meta
    // list that does not align 1:1 with add parses as all-unknown —
    // misaligned metadata must degrade to the stat fallback, never
    // attach the wrong file's length to a scan.
    val add = list("add")
    val meta0 = list("addmeta")
    val meta = if (meta0.length == add.length) meta0 else Nil
    val cdf = list("cdf")
    val cdfMeta0 = list("cdfmeta")
    val cdfMeta = if (cdfMeta0.length == cdf.length) cdfMeta0 else Nil
    val op = "\"op\":\"([A-Za-z0-9._-]+)\"".r.findFirstMatchIn(body)
      .map(_.group(1))
    LogEntry(v, reset, add, list("remove"), list("deletes"),
      cdf, tag, list("zmap"), list("schema"), list("checks"), meta,
      op, cdfMeta)
  }

  /** The change-feed BYTES of version `v` — the weight a
    * byte-based stream admission cap assigns the version
    * ([[graft.streaming.TableChangesSource]]'s `maxBytesPerTrigger`):
    * its sidecars' lengths, or for an insert-only `cdf == add` commit
    * its add files' lengths (the files [[changes]] reads for it).
    * Modern entries answer from their commit-time `cdfmeta` lengths
    * with ZERO stat calls; legacy/meta-less entries fall back to one
    * getFileStatus per cdf file, for those entries alone, counting a
    * reclaimed file as 0 (admission needs a bound, and a consumer
    * past the retention horizon fails loudly in getBatch anyway). */
  def feedBytes(spark: SparkSession, root: String, v: Long): Long = {
    val f = fs(spark, root)
    val e = readEntry(f, entryPath(root, v))
    val metas =
      if (e.cdfMeta.length == e.cdf.length) e.cdfMeta
      else e.cdf.map(_ => "-")
    e.cdf.zip(metas).map { case (ref, m) =>
      parseFileMeta(m).map(_._1).getOrElse {
        try f.getFileStatus(new Path(resolve(root, ref))).getLen
        catch { case _: java.io.IOException => 0L }
      }
    }.sum
  }

  /** The idempotence tags of every committed entry — a replay-prone
    * committer ([[graft.streaming.TableIngest]]) checks membership
    * before committing its batch. A projection of the latest
    * [[state]]: O(#entries since the last checkpoint) driver-side log
    * reads. Tags of entries expired below a checkpoint survive IN the
    * checkpoint, so the exactly-once guarantee outlives log
    * truncation. */
  def committedTags(spark: SparkSession, root: String): Set[String] =
    state(spark, root).tags.toSet

  /** The table at one version — what [[state]]'s fold returns and
    * every reader projects from: the active files with their
    * commit-time metadata ([[LogEntry.addMeta]] format, `-` =
    * unknown) in replay order; the delete sidecars in force (net of
    * resets); every zone-map ref the replayed checkpoint and entries
    * carry, first occurrence first (readers existence-filter them —
    * [[vacuum]] reclaims maps whose data is gone); the schema ref in
    * force; the constraint-change refs in version order; and the
    * idempotence tags. A checkpoint is this value serialized
    * ([[writeCheckpoint]]). `version` is -1 for a log with neither an
    * entry nor a checkpoint. */
  private[graft] final case class LogState(version: Long,
      files: Seq[(String, String)], deletes: Seq[String],
      zmaps: Seq[String], schemaRef: Option[String],
      checks: Seq[String], tags: Seq[String]) {
    /** The active file refs (root-relative), in replay order. */
    def fileRefs: Seq[String] = files.map(_._1)
  }

  private val emptyState = LogState(-1L, Nil, Nil, Nil, None, Nil, Nil)

  /** The fold step, applied entry by entry in version order on top of
    * a base state (a checkpoint, or the empty state). Re-adding an
    * active path keeps its position (LinkedHashMap); a deletes-RESET
    * drops the sidecars before it ([[compactTable]]); the LAST
    * schema-carrying entry wins; constraint refs and tags
    * accumulate. */
  private final class Fold(base: LogState) {
    import scala.collection.mutable
    private var version = base.version
    private val files = mutable.LinkedHashMap.from(base.files)
    private var deletes = base.deletes
    private val zmaps = mutable.LinkedHashSet.from(base.zmaps)
    private var schemaRef = base.schemaRef
    private val checks = mutable.ArrayBuffer.from(base.checks)
    private val tags = mutable.ArrayBuffer.from(base.tags)

    def apply(e: LogEntry): Unit = {
      version = e.version
      e.remove.foreach(files -= _)
      files ++= withMeta(e)
      deletes = (if (e.reset) Nil else deletes) ++ e.deletes
      zmaps ++= e.zmap
      schemaRef = e.schema.headOption.orElse(schemaRef)
      checks ++= e.checks
      tags ++= e.tag
    }

    def nonEmpty: Boolean = files.nonEmpty
    def fileRefs: Seq[String] = files.keys.toSeq
    def result: LogState = LogState(version, files.toSeq, deletes,
      zmaps.toSeq, schemaRef, checks.toSeq, tags.toSeq)
  }

  /** An entry's adds paired with their metadata: `-` for every add
    * when the meta list is absent or misaligned (an entry written
    * before the field existed). */
  private def withMeta(e: LogEntry): Seq[(String, String)] =
    e.add.zip(
      if (e.addMeta.length == e.add.length) e.addMeta else e.add.map(_ => "-"))

  /** THE fold of the log: the table's [[LogState]] at `asOf` (default:
    * latest). One `_log` listing serves both the entry versions and
    * the checkpoints; [[replayPlan]] picks the newest checkpoint at or
    * below `asOf` plus the entries after it, and each of those is read
    * once. An expired version fails loudly (replayPlan's contract); a
    * log with neither an entry nor a checkpoint folds to the empty
    * state (version -1), which the projections serve as their
    * empty-log answers. */
  private[graft] def state(spark: SparkSession, root: String,
                           asOf: Option[Long] = None): LogState = {
    val f = fs(spark, root)
    val (vs, cps) = listLog(f, root)
    if (vs.isEmpty && cps.isEmpty) return emptyState
    val (cp, replay) = replayPlan(root, vs, cps, asOf)
    val fold = new Fold(cp.fold(emptyState)(readCheckpoint(f, root, _)))
    replay.foreach(v => fold(readEntry(f, entryPath(root, v))))
    fold.result
  }

  /** One listing of `_log`: (entry versions, checkpoint versions),
    * each ascending, both empty for a fresh table. */
  private def listLog(f: FileSystem, root: String): (Seq[Long], Seq[Long]) = {
    val listed =
      try f.listStatus(new Path(logDir(root))).toSeq
      catch { case _: java.io.FileNotFoundException => Nil }
    def named(ext: String) = listed
      .filter(s => s.getPath.getName.endsWith(ext) && s.getLen > 0)
      .map(_.getPath.getName.stripSuffix(ext).toLong).sorted
    (named(".json"), named(".ckpt"))
  }

  private def checkpointPath(root: String, v: Long) =
    new Path(s"${logDir(root)}/$v.ckpt")

  /** Checkpoint versions present, ascending. */
  def checkpointVersions(spark: SparkSession, root: String): Seq[Long] =
    listLog(fs(spark, root), root)._2

  /** A checkpoint read back as the [[LogState]] it serialized: the
    * entry line format, with `add`/`addmeta` carrying the files and
    * `cdf` the tags ([[writeCheckpoint]] writes the same mapping). */
  private def readCheckpoint(f: FileSystem, root: String,
                             v: Long): LogState = {
    val e = readEntry(f, checkpointPath(root, v))
    LogState(e.version, withMeta(e), e.deletes, e.zmap, e.schema.headOption,
      e.checks, e.cdf)
  }

  /** `["a","b"]` — the entry line format's string arrays. */
  private def jsonArr(xs: Seq[String]): String =
    xs.map("\"" + _ + "\"").mkString("[", ",", "]")

  /** FOLD the whole log into one checkpoint file `_log/<V>.ckpt` at
    * the latest version V — the O(1) read entry point that caps the
    * per-read cost of a long-lived table: without it every
    * [[snapshot]] replays all entries (O(#commits) driver file reads
    * — thousands after a month of streaming commits); with it,
    * readers load the fold and apply only entries AFTER it. The
    * checkpoint is [[state]] at V serialized: active files with their
    * metadata, in-force delete sidecars (net of resets), the zone-map
    * refs still on disk, the schema ref, the constraint refs and all
    * idempotence tags (sorted), so every read path and the
    * exactly-once ingest contract survive a subsequent [[expireLog]].
    * Idempotent: checkpointing an already-checkpointed version is a
    * no-op. Returns V. */
  def writeCheckpoint(spark: SparkSession, root: String): Long = {
    val f = fs(spark, root)
    val s = state(spark, root)
    require(s.version >= 0, s"TableLog.writeCheckpoint: empty log at $root")
    val p = checkpointPath(root, s.version)
    if (f.exists(p)) return s.version
    val tags = s.tags.distinct.sorted
    validatePaths(tags)
    val zmaps = liveZmaps(f, root, s)
    // the ENTRY line format (add=files, cdf=tags), so one parser
    // serves both artifact kinds
    val body = s"""{"version":${s.version},"reset":0,""" +
      s""""add":${jsonArr(s.fileRefs)},""" +
      s""""addmeta":${jsonArr(s.files.map(_._2))},""" +
      s""""remove":[],"deletes":${jsonArr(s.deletes)},""" +
      s""""cdf":${jsonArr(tags)},"zmap":${jsonArr(zmaps)},""" +
      s""""schema":${jsonArr(s.schemaRef.toSeq)},""" +
      s""""checks":${jsonArr(s.checks)}}"""
    val tmp = new Path(s"${logDir(root)}/.ckpt-tmp-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, false)
    try { out.write(body.getBytes("UTF-8")) } finally out.close()
    // losing a race to another checkpointer is fine: same version,
    // same folded content
    if (!f.rename(tmp, p)) f.delete(tmp, false)
    s.version
  }

  /** TRUNCATE the log: delete entry files STRICTLY BELOW checkpoint
    * version `cpV` (the checkpoint must exist — it is what keeps
    * reads at versions >= cpV exact). After this, time travel BELOW
    * cpV is gone — that is the retention decision, the same trade
    * Delta's log retention makes. Data files are untouched: run
    * [[vacuum]] (with retainFrom <= cpV) BEFORE expiring, because
    * vacuum discovers garbage by reading the very entries this
    * deletes. Returns the expired versions. */
  def expireLog(spark: SparkSession, root: String, cpV: Long): Seq[Long] = {
    val f = fs(spark, root)
    require(f.exists(checkpointPath(root, cpV)),
      s"TableLog.expireLog: no checkpoint at version $cpV in $root — " +
        "writeCheckpoint first; it is what keeps later reads exact")
    val doomed = versions(spark, root).filter(_ < cpV)
    doomed.foreach(v => f.delete(entryPath(root, v), false))
    doomed
  }

  /** The replay plan for a read at `asOf` over one `_log` listing
    * (`vs` entry versions, `cps` checkpoint versions — [[state]]'s
    * listing): the largest checkpoint at or below `asOf` (if any) plus
    * the CONTIGUOUS entry versions after it up to `asOf`. Fails loudly
    * when [[expireLog]] removed entries the read would need — an
    * expired version must error, never silently under-read. */
  private def replayPlan(root: String, vs: Seq[Long], cps: Seq[Long],
                         asOf: Option[Long]): (Option[Long], Seq[Long]) = {
    val upTo = asOf.fold(vs)(v => vs.filter(_ <= v))
    val cp = cps.filter(cv => asOf.forall(cv <= _)).lastOption
    // the largest EXISTING entry ≤ asOf. When no entry survives, a
    // checkpoint may stand in ONLY for its own exact version (or, for
    // a latest read, as the latest version): a later
    // expireLog deletes an earlier checkpoint's entry too, so for an
    // asOf strictly INSIDE the expired gap between two checkpoints
    // (ckpt@5 and ckpt@10 on disk, asOf=7 after expireLog(10)) the
    // old orElse(cp) fallback would silently serve v5's state — the
    // expired-version-must-error contract requires the loud failure
    // below instead
    val target = upTo.lastOption
      .orElse(cp.filter(cv => asOf.forall(_ == cv)))
    require(target.nonEmpty,
      if (cp.nonEmpty)
        s"TableLog: read at $root asOf=$asOf falls in an EXPIRED gap — " +
          s"the entries between checkpoint ${cp.get} and the next " +
          "checkpoint were removed by expireLog (log retention has " +
          "passed this version); serving the older checkpoint would " +
          "silently under-read"
      else s"TableLog: no committed version at $root asOf=$asOf")
    val from = cp.fold(0L)(_ + 1L)
    val needed = (from to target.get)
    val have = upTo.filter(_ >= from).toSet
    require(needed.forall(have), s"TableLog: read at version ${target.get} " +
      s"of $root needs entries ${needed.filterNot(have).mkString(",")} " +
      "which were expired below a later checkpoint (log retention has " +
      "passed this version)")
    (cp, needed)
  }

  /** The ACTIVE file set (root-relative) at `asOf` (default: latest). */
  def activeFiles(spark: SparkSession, root: String,
                  asOf: Option[Long] = None): Seq[String] = {
    val s = state(spark, root, asOf)
    require(s.version >= 0, s"TableLog: no committed version at $root asOf=$asOf")
    s.fileRefs
  }

  /** The delete-sidecar files (root-relative) in force at `asOf` —
    * cumulative since the last deletes-RESET at or before `asOf`
    * ([[compactTable]] emits the reset after materializing the
    * survivors, which is what makes sidecars reclaimable). A
    * checkpoint's delete list is already net of resets at its
    * version; a reset AFTER the checkpoint drops it. */
  def activeDeletes(spark: SparkSession, root: String,
                    asOf: Option[Long] = None): Seq[String] =
    state(spark, root, asOf).deletes

  /** ROW-LEVEL delete without rewriting a single data file — the
    * deletion-vector idea at id granularity: the doomed ids land as a
    * tiny parquet SIDECAR and a commit references it; snapshots
    * anti-join the sidecar union at read time. O(#deleted) I/O
    * instead of O(file) rewrites — the GDPR/erasure and
    * dedup-purge path of a 100 TB table (compact later, delete now).
    * `ids` must be a single-column frame of `idCol` values. */
  def commitDeletes(ids: DataFrame, root: String, name: String): Long = {
    val spark = ids.sparkSession
    val files = stageWrite(ids, root, s"deletes/$name")
    commit(spark, root, add = Nil, remove = Nil, deletes = files,
      op = Some("DELETE"))
  }

  /** COMPACT the current version: materialize the snapshot (sidecar
    * deletes applied) as fresh files and commit them with a
    * deletes-RESET — after this, reads at or past the new version
    * anti-join nothing, and [[vacuum]] can reclaim the old data files
    * AND the pre-reset sidecars once retention passes them. The
    * periodic maintenance step that bounds the read-path cost of
    * [[commitDeletes]]. Returns the new version. */
  def compactTable(spark: SparkSession, root: String, idCol: String,
                   name: String): Long = {
    // pin the read to ONE version: the staged rewrite, the remove
    // list, and the conflict expectation must all describe the same
    // log state, or a commit racing between two un-pinned reads
    // slips through the guard
    val read = state(spark, root)
    if (read.version < 0) sys.error(s"TableLog.compactTable: empty log at $root")
    val (readV, readFiles) = (read.version, read.fileRefs)
    val current = snapshot(spark, root, Some(readV), Some(idCol))
    val fresh = stageWrite(current, root, name)
    commit(spark, root, add = fresh,
      remove = readFiles, resetDeletes = true, op = Some("COMPACT"),
      expectActive = readFiles, expectDeletes = Some(read.deletes),
      expectNoConflictingAdds = Some((readV, _ => true)))
  }

  /** OPTIMIZE: [[compactTable]] that lands the survivors
    * RANGE-CLUSTERED on `keyCol` with a zone-map sidecar
    * ([[stageWithZoneMap]]) — the maintenance step that buys BOTH
    * bounded read-path cost (sidecar deletes fold in, reads anti-join
    * nothing afterwards) and stats-based file skipping
    * ([[snapshotWhere]] prunes by the fresh map) in one atomic
    * commit: pay the rewrite once, on schedule, and every range read
    * after it is O(selectivity).
    *
    * `zorderWith = Some(yCol)` is the full `OPTIMIZE ... ZORDER BY
    * (keyCol, yCol)` shape: the survivors land clustered on the
    * bit-interleaved Z-VALUE of the two (integral) dimensions —
    * [[Layout.zValue]] over [[Layout.quantize]]d coordinates, the
    * same integer rule as q99's layout — so EACH file owns a tight
    * rectangle in BOTH dimensions and a 2-D box predicate through
    * [[snapshot]] prunes on x AND y
    * simultaneously (1-D range clustering makes only the key's stats
    * bite; the second dimension's per-file intervals span everything).
    * Typed stats are declared on both dimensions automatically; the
    * Z-value itself never lands in the data. The quantization bounds
    * are one 1-row aggregate over the snapshot. Returns the new
    * version. */
  def optimizeTable(spark: SparkSession, root: String, idCol: String,
                    keyCol: String, name: String, parts: Int,
                    statsCols: Seq[String] = Nil,
                    zorderWith: Option[String] = None): Long = {
    import org.apache.spark.sql.functions._
    val read = state(spark, root)
    if (read.version < 0) sys.error(s"TableLog.optimizeTable: empty log at $root")
    val (readV, readFiles) = (read.version, read.fileRefs)
    val current = snapshot(spark, root, Some(readV), Some(idCol))
    // a full rewrite must not LOSE stats coverage: re-declare every
    // column the outgoing generation's zone rows covered (the same
    // rule as the deleteWhere/replaceWhere boundary rewrites), plus
    // any newly requested statsCols
    val zonesRead = collectZoneRows(spark, root, read)
    val inherited = rewriteStatsCols(zonesRead, readFiles, keyCol,
      current.columns.toSeq)
    val inheritedSketch = rewriteSketchCols(zonesRead, readFiles,
      current.columns.toSeq)
    val cluster = zorderWith.flatMap { y =>
      // quantization bounds: one bounded 1-row collect (metadata-
      // scale), inlined as literals so the write plan stays a pure
      // scan → project → exchange
      val r = current.agg(
        min(col(keyCol).cast("long")), max(col(keyCol).cast("long")),
        min(col(y).cast("long")), max(col(y).cast("long"))).head()
      // an empty or all-null snapshot has no bounds: fall back to the
      // plain 1-D clustering rather than fail the maintenance job
      if ((0 to 3).exists(r.isNullAt)) None
      else {
        val bits = 16
        // OVERFLOW-SAFE 16-bit quantization: (x − lo) in two's
        // complement IS the unsigned distance for any Long pair
        // (snowflake/hash-style keys span > 2^47, where
        // Layout.quantize's (v−lo)·2^16 multiplication would wrap and
        // cluster on noise); an unsigned right shift by
        // (bitLength(range) − 16) maps it monotonically into
        // [0, 2^16). Power-of-2 buckets instead of exact division —
        // a layout hint only; the typed stats stay exact values.
        def q(c: org.apache.spark.sql.Column, lo: Long, hi: Long) = {
          val bitLen = 64 - java.lang.Long.numberOfLeadingZeros(hi - lo)
          val shift = math.max(0, bitLen - bits)
          shiftrightunsigned(c.cast("long") - lit(lo), shift)
        }
        Some(Layout.zValue(
          q(col(keyCol), r.getLong(0), r.getLong(1)),
          q(col(y), r.getLong(2), r.getLong(3)), bits))
      }
    }
    val (files, zm) = stageWithZoneMap(current, root, name, keyCol, parts,
      statsCols = (inherited ++ statsCols ++ zorderWith).distinct,
      clusterBy = cluster, sketchCols = inheritedSketch)
    commit(spark, root, add = files,
      remove = readFiles, resetDeletes = true, zmap = zm,
      op = Some("OPTIMIZE"),
      expectActive = readFiles, expectDeletes = Some(read.deletes),
      expectNoConflictingAdds = Some((readV, _ => true)))
  }

  /** INCREMENTAL SMALL-FILE COMPACTION — the bin-packing half of
    * Delta's `OPTIMIZE`, and the one a 100 TB table can actually run:
    * [[optimizeTable]] rewrites the WHOLE table (right after bulk
    * deletes or for re-clustering); a steady drip of streaming
    * commits instead leaves thousands of small files that only need
    * LOCAL consolidation. This rewrites ONLY the active files whose
    * LOGGED size (commit-time addMeta — zero stat calls for any file
    * committed by a metadata-writing version; a legacy meta-less file
    * costs one stat) is under `minFileBytes` (default
    * `targetBytes / 2`), staging them into ~`targetBytes` outputs,
    * and leaves every right-sized file byte-untouched — O(small
    * delta) I/O, never O(table).
    *
    * Delete sidecars stay IN FORCE: candidate rows are rewritten raw
    * (never through the sidecar anti-join), so deleted ids stay
    * deleted and the commit needs no `resetDeletes` — compaction of
    * files and compaction of deletes ([[compactTable]]) remain
    * independent maintenance axes. If any candidate carries zone
    * rows, `keyCol` is REQUIRED (the rewrite re-clusters on it and
    * re-declares the candidates' stats AND sketch columns via the
    * same inheritance rule as [[optimizeTable]] — a consolidation
    * must not degrade pruning or [[metadataDistinct]] coverage);
    * without coverage a plain coalesced rewrite suffices. Concurrent
    * appends are NOT conflicts (disjoint scope); a concurrent rewrite
    * of a candidate is (expectActive). Returns the committed version,
    * or the read version unchanged when fewer than two candidates
    * exist (a no-op plans from the log alone). */
  def compactSmallFiles(spark: SparkSession, root: String, name: String,
                        targetBytes: Long,
                        minFileBytes: Option[Long] = None,
                        keyCol: Option[String] = None): Long = {
    require(targetBytes > 0,
      s"TableLog.compactSmallFiles: targetBytes must be positive, got $targetBytes")
    val threshold = minFileBytes.getOrElse(math.max(1L, targetBytes / 2))
    val f = fs(spark, root)
    val read = state(spark, root)
    if (read.version < 0)
      sys.error(s"TableLog.compactSmallFiles: empty log at $root")
    val readV = read.version
    val sized: Seq[(String, Long)] =
      read.files.map { case (p, m) =>
        p -> parseFileMeta(m).map(_._1).getOrElse(
          f.getFileStatus(new Path(resolve(root, p))).getLen)
      }
    val candidates = sized.filter(_._2 < threshold)
    if (candidates.length < 2) return readV
    val candidatePaths = candidates.map(_._1)
    val zones = collectZoneRows(spark, root, read)
    val candidateSet = candidatePaths.toSet
    val hasStats = zones.exists(z => candidateSet(z.file))
    require(!hasStats || keyCol.isDefined,
      s"TableLog.compactSmallFiles: candidates at $root carry zone-map " +
        "stats — pass keyCol so the rewrite re-clusters and re-declares " +
        "them (silently dropping stats would degrade every later read)")
    val rows = readActive(spark, root, Some(readV), candidatePaths)
    val parts = math.max(1L,
      (candidates.map(_._2).sum + targetBytes - 1) / targetBytes).toInt
    val (files, zm) = keyCol match {
      case Some(k) =>
        stageWithZoneMap(rows, root, name, k, parts,
          statsCols = rewriteStatsCols(zones, candidatePaths, k,
            rows.columns.toSeq),
          sketchCols = rewriteSketchCols(zones, candidatePaths,
            rows.columns.toSeq))
      case None =>
        (stageWrite(rows.coalesce(parts), root, name), Nil)
    }
    commit(spark, root, add = files, remove = candidatePaths,
      zmap = zm, op = Some("COMPACT_SMALL"),
      expectActive = candidatePaths)
  }

  /** SCHEMA EVOLUTION: the table's schema lives IN THE LOG (a tiny
    * JSON sidecar under `schema/`, referenced by the commit entry),
    * never in parquet footers — so a 100 TB read applies the declared
    * schema without opening a single file for discovery (parquet
    * `mergeSchema` is an O(#files) footer scan; the log ref is O(1)
    * driver metadata, the Delta/Iceberg design). Snapshots at or past
    * an evolution commit read EVERY file — old and new generation —
    * with the in-force schema: files written before a column existed
    * null-fill it; time travel BELOW the evolution commit serves the
    * old schema exactly (the schema is versioned like the data).
    * Write the sidecar with [[stageSchema]] and attach it via
    * [[commit]]'s `schema` parameter, or use [[evolveAppend]] for the
    * common add-columns-and-append step. */
  def stageSchema(spark: SparkSession, root: String, name: String,
                  schema: org.apache.spark.sql.types.StructType): String =
    stageJsonSidecar(fs(spark, root), root, "schema", name, schema.json)

  private def readSchemaFile(f: FileSystem, root: String,
                             rel: String): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.DataType
      .fromJson(readFully(f, new Path(resolve(root, rel))))
      .asInstanceOf[org.apache.spark.sql.types.StructType]

  /** The schema `s` declares — its in-force schema ref (the LAST
    * schema-carrying commit at or before its version; checkpoints fold
    * it, so evolution survives log expiry) read — or None for a
    * pre-evolution table (readers take the files' own uniform
    * schema). */
  private[operators] def schemaOf(spark: SparkSession, root: String,
      s: LogState): Option[org.apache.spark.sql.types.StructType] =
    s.schemaRef.map(readSchemaFile(fs(spark, root), root, _))

  /** The schema in force at `asOf`, or None for a pre-evolution
    * table. */
  def logSchema(spark: SparkSession, root: String,
                asOf: Option[Long] = None
               ): Option[org.apache.spark.sql.types.StructType] =
    schemaOf(spark, root, state(spark, root, asOf))

  /** CHECK CONSTRAINTS (the Delta `ALTER TABLE ADD CONSTRAINT CHECK`
    * shape): a named boolean SQL expression every row of every
    * CHECKED write must satisfy — the quality gate that moves "no
    * NULL texts, no negative counts" from pipeline convention into
    * the table's own metadata. Each constraint change is a tiny JSON
    * sidecar under `constraints/` referenced by its commit's `checks`
    * key; the in-force set folds the refs in version order with
    * LAST-WINS by name (a drop marker retires a name). Enforcement is
    * writer-side like Delta's: [[checkedAppend]] validates the DELTA
    * in one pass — O(batch), never O(table) — and [[addCheckConstraint]]
    * validates EXISTING data once at add time (the only full scan,
    * paid when the rule is declared, with a conflict guard so rows
    * appended concurrently with the validation can't slip in
    * unvalidated). Raw [[commit]] does not re-validate (the protocol
    * trusts checked writers — same as Delta); constraints are
    * table-level metadata, so [[restoreTable]] leaves them in force
    * (a restore undoes DATA, not the rules guarding future writes).
    *
    * This returns the constraint-change refs readable at `asOf`, in
    * version order ([[LogState.checks]]): the fold input of
    * [[activeConstraints]], and the read-set a checked writer —
    * [[checkedAppend]], or an external one like
    * [[graft.streaming.CheckedIngest]] — pins via [[commit]]'s
    * `expectChecks` so its validation can't go stale between split
    * and claim. */
  def constraintRefs(spark: SparkSession, root: String,
                     asOf: Option[Long] = None): Seq[String] =
    state(spark, root, asOf).checks

  /** Fold an explicit ref list into the in-force name→expr map — the
    * refs-first form lets a checked writer read the log ONCE (refs
    * for the `expectChecks` pin, the fold from those same refs), so
    * the validated set and the pinned set can never diverge. */
  def constraintsFor(spark: SparkSession, root: String,
                     refs: Seq[String]): Map[String, String] = {
    val f = fs(spark, root)
    refs.foldLeft(Map.empty[String, String]) { (acc, rel) =>
      val body = readFully(f, new Path(resolve(root, rel)))
      val name = "\"cname\":\"(.*?)\"".r.findFirstMatchIn(body)
        .map(_.group(1))
        .getOrElse(sys.error(s"TableLog: corrupt constraint sidecar $rel"))
      if (body.contains("\"drop\":true")) acc - name
      else acc + (name -> "\"expr\":\"(.*?)\"".r.findFirstMatchIn(body)
        .map(_.group(1))
        .getOrElse(sys.error(s"TableLog: constraint $rel lacks expr")))
    }
  }

  def activeConstraints(spark: SparkSession, root: String,
                        asOf: Option[Long] = None): Map[String, String] =
    constraintsFor(spark, root, constraintRefs(spark, root, asOf))

  /** The version whose entry carries idempotence tag `tag`, if its
    * entry is still live (expired entries' tags survive only in the
    * checkpoint fold, version-less). A replaying committer uses this
    * to recover the STATE ITS FIRST DELIVERY COMMITTED UNDER —
    * [[graft.streaming.CheckedIngest]] re-judges a crash-split batch
    * with the constraints asOf this version, not today's. O(#entries)
    * driver reads; replay-path only. */
  def versionOfTag(spark: SparkSession, root: String,
                   tag: String): Option[Long] = {
    val f = fs(spark, root)
    versions(spark, root)
      .find(v => readEntry(f, entryPath(root, v)).tag.contains(tag))
  }

  /** Stage a tiny JSON sidecar under `<sub>/` with a uuid-unique name
    * and exclusive create — the shared discipline of [[stageSchema]]
    * and the constraint sidecars. */
  private def stageJsonSidecar(f: FileSystem, root: String, sub: String,
                               name: String, body: String): String = {
    val rel =
      s"$sub/$name-${java.util.UUID.randomUUID().toString.take(8)}.json"
    stageMarker(f, root, rel)
    f.mkdirs(new Path(s"$root/$sub"))
    val out = f.create(new Path(s"$root/$rel"), false)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    rel
  }

  private def stageConstraint(f: FileSystem, root: String,
                              body: String): String =
    stageJsonSidecar(f, root, "constraints", "c", body)

  /** Declare constraint `cname` := `expr` (a boolean Spark SQL
    * expression over the table's columns; no double quotes — the
    * sidecar format is line-JSON like the log's). EXISTING rows are
    * validated once here — a constraint the current data already
    * violates is refused, not silently in force (Delta's add-time
    * scan); pass `idCol` if delete sidecars are outstanding. The
    * commit conflicts with any concurrent add since the validating
    * read, so no row lands unvalidated between scan and claim.
    * Returns the new version. */
  def addCheckConstraint(spark: SparkSession, root: String,
                         cname: String, expr: String,
                         idCol: Option[String] = None): Long = {
    import org.apache.spark.sql.functions.{expr => sqlExpr, not, coalesce, lit}
    validatePaths(Seq(cname))
    require(!expr.contains("\""),
      s"TableLog.addCheckConstraint: no double quotes in expr ($expr) — " +
        "use SQL single quotes for string literals")
    val f = fs(spark, root)
    val read = state(spark, root)
    if (read.version < 0)
      sys.error(s"TableLog.addCheckConstraint: empty log at $root")
    val readV = read.version
    // the SAME three-valued rule as checkedAppend: a NULL evaluation
    // is NOT satisfied, so existing NULL-evaluating rows refuse the
    // declaration (else the table would sit committed in a state its
    // own checked writes are refused for)
    val bad = snapshot(spark, root, Some(readV), idCol)
      .filter(not(coalesce(sqlExpr(expr).cast("boolean"), lit(false))))
      .limit(1).collect()
    require(bad.isEmpty,
      s"TableLog.addCheckConstraint: existing rows violate '$cname' " +
        s"($expr) — e.g. ${bad.headOption.getOrElse("")}")
    val rel = stageConstraint(f, root,
      s"""{"cname":"$cname","expr":"$expr"}""")
    // conflict guards: no concurrent ADD may land rows the validating
    // scan never saw, and no concurrent delete-state change (a
    // restore's deletes-RESET resurrects rows the scan excluded) may
    // slip past it either
    commit(spark, root, add = Nil, remove = Nil, checks = Seq(rel),
      op = Some("ADD_CONSTRAINT"),
      expectDeletes = Some(read.deletes),
      expectNoConflictingAdds = Some((readV, _ => true)))
  }

  /** Retire constraint `cname` (future checked writes stop enforcing
    * it; history is untouched). Returns the new version. */
  def dropCheckConstraint(spark: SparkSession, root: String,
                          cname: String): Long = {
    validatePaths(Seq(cname))
    require(activeConstraints(spark, root).contains(cname),
      s"TableLog.dropCheckConstraint: no constraint '$cname' at $root")
    val rel = stageConstraint(fs(spark, root), root,
      s"""{"cname":"$cname","drop":true}""")
    commit(spark, root, add = Nil, remove = Nil, checks = Seq(rel),
      op = Some("DROP_CONSTRAINT"))
  }

  /** Append `df` ENFORCING the in-force constraints — ONE aggregate
    * pass over the batch counts every constraint's violations
    * together (O(batch), map-only, never O(table)); any violation
    * refuses the whole batch with per-constraint counts, else the
    * rows stage and commit as a blind append. Returns the new
    * version. */
  def checkedAppend(df: DataFrame, root: String, name: String): Long = {
    import org.apache.spark.sql.functions.{expr => sqlExpr, not, when, lit, sum, coalesce}
    val spark = df.sparkSession
    // ONE log read: the refs are both the fold input (what the batch
    // is validated against) and the `expectChecks` pin (what the
    // commit requires unchanged) — reading them twice could validate
    // against a newer set than the pin and conflict spuriously
    val readRefs = constraintRefs(spark, root)
    val cs = constraintsFor(spark, root, readRefs).toSeq.sortBy(_._1)
    if (cs.nonEmpty) {
      val counts = df.select(cs.map { case (n, e) =>
        // NULL check results are violations too (three-valued logic:
        // a constraint that evaluates to NULL is NOT satisfied)
        sum(when(coalesce(sqlExpr(e).cast("boolean"), lit(false)),
          0L).otherwise(1L)).as(n)
      }: _*).collect().headOption
      val violated = cs.flatMap { case (n, e) =>
        val c = counts.map(r => if (r.isNullAt(r.fieldIndex(n))) 0L
          else r.getLong(r.fieldIndex(n))).getOrElse(0L)
        if (c > 0) Some(s"'$n' ($e): $c rows") else None
      }
      require(violated.isEmpty,
        s"TableLog.checkedAppend: batch violates ${violated.mkString("; ")}")
    }
    commit(spark, root, add = stageWrite(df, root, name), remove = Nil,
      op = Some("CHECKED_APPEND"), expectChecks = Some(readRefs))
  }

  /** The latest schema ref and the schema a widening derives from —
    * the declared one, else the files' own ([[filesSchema]], what
    * [[snapshot]] reads the head with; `noFiles` refuses a table with
    * neither) — both from ONE state, so the ref a writer pins
    * (`expectSchema`) is the one it widened. */
  private def headSchema(spark: SparkSession, root: String, noFiles: String)
      : (Option[String], org.apache.spark.sql.types.StructType) = {
    val s = state(spark, root)
    val cur = schemaOf(spark, root, s)
      .orElse(filesSchema(spark, root, s.version, s.fileRefs))
    require(cur.isDefined, noFiles)
    (s.schemaRef, cur.get)
  }

  /** A never-evolved table's schema at `version`: one footer of its
    * files `refs`, or — for a version that removed every file (a
    * truncate) — of the last non-empty version's. None when no version
    * up to `version` held a file. The one derivation both readers
    * ([[TableLogRelation.relationAt]]) and wideners ([[headSchema]])
    * use, so a head the one serves the other can widen. */
  private[operators] def filesSchema(spark: SparkSession, root: String,
      version: Long, refs: Seq[String])
      : Option[org.apache.spark.sql.types.StructType] =
    Some(refs).filter(_.nonEmpty)
      .orElse(lastNonEmptyFiles(spark, root, Some(version)))
      .map(files => ParquetMeta.schema(spark, resolve(root, files.head)))

  /** ADD-COLUMNS-AND-APPEND in one atomic commit: `df` may carry
    * columns the table has never seen; the committed schema becomes
    * table-schema ∪ df-schema (overlapping names must type-match —
    * widening is refused loudly, the one evolution this format does
    * not do), the new rows land as ordinary immutable files, and
    * every read at or past the commit null-fills the new columns for
    * pre-evolution files. Insert-only, so the commit's change feed is
    * its own add files (`cdf == add`). Returns the new version. */
  def evolveAppend(df: DataFrame, root: String, name: String,
                   tag: Option[String] = None): Long = {
    val spark = df.sparkSession
    // pin the schema ref this widening derives from: two concurrent
    // evolutions would otherwise each widen the SAME base and the
    // later commit would silently hide the earlier one's columns —
    // the commit conflicts (expectSchema) instead
    val (refAtRead, cur) = headSchema(spark, root,
      s"TableLog.evolveAppend: $root has no active files to evolve from")
    val byName = cur.map(fld => fld.name -> fld).toMap
    df.schema.foreach { fld =>
      byName.get(fld.name).foreach { old =>
        require(old.dataType == fld.dataType,
          s"TableLog.evolveAppend: column '${fld.name}' is " +
            s"${old.dataType} in the table but ${fld.dataType} in the " +
            "append — type changes are not schema ADDITION; rewrite " +
            "the table instead")
      }
    }
    val merged = org.apache.spark.sql.types.StructType(
      cur ++ df.schema.filterNot(fld => byName.contains(fld.name)))
    // no new columns → no schema re-declare: a plain append must not
    // spray redundant schema sidecars (a drift-tolerant streaming
    // sink calls this every batch) nor flip a never-evolved table
    // into declared-schema mode
    val schemaSeq =
      if (merged == cur) Nil
      else Seq(stageSchema(spark, root, name, merged))
    val files = stageWrite(df, root, name)
    commit(spark, root, add = files, remove = Nil,
      cdf = files, tag = tag, schema = schemaSeq,
      op = Some("EVOLVE_APPEND"), expectSchema = Some(refAtRead))
  }

  /** ALTER TABLE ADD COLUMNS — [[evolveAppend]]'s schema widening
    * WITHOUT rows: one metadata-only commit (a new schema ref, zero
    * data I/O) declares the added columns, and every read at or past
    * it null-fills them for all existing files (the Delta `ALTER
    * TABLE ADD COLUMNS` shape — admin_lambda.py's table-shape changes
    * land as config edits to managed DynamoDB; here the log IS that
    * config). Added columns are forced nullable — there is no value
    * to backfill, so a non-null declaration would be a lie every
    * pre-alter row immediately violates. An already-present column
    * name refuses loudly (type CHANGES are not schema addition);
    * concurrent evolutions conflict via the schema-ref pin exactly
    * like [[evolveAppend]]. Returns the new version. */
  def addColumns(spark: SparkSession, root: String,
                 cols: org.apache.spark.sql.types.StructType,
                 name: String = "alter",
                 tag: Option[String] = None): Long = {
    require(cols.nonEmpty, "TableLog.addColumns: no columns to add")
    val (refAtRead, cur) = headSchema(spark, root,
      s"TableLog.addColumns: $root has no schema ref and no active " +
        "files — nothing to derive the current schema from")
    // CASE-INSENSITIVE collision check (Delta's rule): Spark resolves
    // case-insensitively by default, so committing both `text` and
    // `TEXT` would make every later SELECT fail AMBIGUOUS_REFERENCE —
    // a durably bricked schema. Refuse under either session setting.
    val existing = cur.map(_.name.toLowerCase).toSet
    cols.foreach(fld => require(!existing.contains(fld.name.toLowerCase),
      s"TableLog.addColumns: column '${fld.name}' already exists in " +
        s"$root (names collide case-insensitively) — type changes are " +
        "not schema addition"))
    require(cols.map(_.name.toLowerCase).distinct.size == cols.size,
      "TableLog.addColumns: added column names collide case-insensitively")
    val merged = org.apache.spark.sql.types.StructType(
      cur ++ cols.map(_.copy(nullable = true)))
    commit(spark, root, add = Nil, remove = Nil, tag = tag,
      schema = Seq(stageSchema(spark, root, name, merged)),
      op = Some("ADD_COLUMNS"), expectSchema = Some(refAtRead))
  }

  /** TRUNCATE: remove every active row as ONE metadata commit — the
    * whole active file set is de-referenced and the delete-sidecar
    * state resets, zero data I/O (files stay on disk for time travel
    * / RESTORE until [[vacuum]] reclaims them; a full-purge commit is
    * a legal state every read already serves as the empty frame with
    * the last non-empty version's schema). Conflict-guarded as a
    * rewrite over its full read set: a concurrent append/merge lands
    * rows this truncate never saw, so it conflicts rather than
    * silently deleting them. Returns the new version. */
  def truncateTable(spark: SparkSession, root: String,
                    tag: Option[String] = None): Long = {
    val read = state(spark, root)
    if (read.version < 0)
      sys.error(s"TableLog.truncateTable: empty log at $root")
    commit(spark, root, add = Nil, remove = read.fileRefs,
      resetDeletes = true, tag = tag, op = Some("TRUNCATE"),
      expectActive = read.fileRefs, expectDeletes = Some(read.deletes),
      expectNoConflictingAdds = Some((read.version, _ => true)))
  }

  /** RESTORE: roll the table BACK to the content of version `toV` as
    * a NEW commit (the Delta RESTORE shape) — the operational undo
    * for a bad merge/backfill/delete that keeps history intact:
    * nothing is rewritten or deleted, the restore commit simply
    * re-activates `toV`'s file set (removing the current one),
    * re-references `toV`'s delete sidecars under a deletes-RESET so
    * the sidecar state is exactly `toV`'s, and re-declares `toV`'s
    * schema ref so an evolution after `toV` rolls back with the data.
    * O(log) metadata, zero data I/O. Requires every file of `toV` to
    * still exist — [[vacuum]] past `toV` makes it unrestorable, and
    * the call refuses loudly rather than committing a snapshot with
    * holes. Conflict-guarded like every rewrite (the current file set
    * is its read set). Returns the new version. */
  def restoreTable(spark: SparkSession, root: String, toV: Long,
                   tag: Option[String] = None): Long = {
    val f = fs(spark, root)
    val cur = state(spark, root)
    if (cur.version < 0) sys.error(s"TableLog.restoreTable: empty log at $root")
    val readV = cur.version
    require(toV <= readV,
      s"TableLog.restoreTable: version $toV is not committed (latest $readV)")
    val at = state(spark, root, Some(toV))
    val (target, targetDels) = (at.fileRefs, at.deletes)
    // the restored head must be FULLY servable: data files, delete
    // sidecars, AND the schema ref it re-declares — vacuum keeps only
    // the refs retained versions read, so any of the three can be
    // gone (a superseded schema ref included)
    val targetSchema = at.schemaRef
    val missing = (target ++ targetDels ++ targetSchema)
      .filterNot(rel => f.exists(new Path(resolve(root, rel))))
    require(missing.isEmpty,
      s"TableLog.restoreTable: version $toV is not restorable — vacuum " +
        s"reclaimed ${missing.size} of its files (e.g. ${missing.head})")
    val current = cur.fileRefs
    val schemaSeq = targetSchema match {
      case Some(ref) => Seq(ref) // re-declare toV's ref (last one wins)
      case None if cur.schemaRef.isDefined =>
        // rolling back PAST an evolution: the format has no schema
        // tombstone, so re-declare toV's file schema explicitly or the
        // post-toV evolution's ref would stay in force and the
        // restored rows would null-fill columns toV never had. A
        // full-purge toV has no files to read — derive from the last
        // non-empty version at or before it (snapshot's own fallback).
        // Those earlier files are NOT in the restorability check
        // (they are not part of toV's state), so existence-filter and
        // refuse loudly when vacuum took them all — never surface a
        // raw path error from inside the commit
        val srcFiles = (
          if (target.nonEmpty) target
          else lastNonEmptyFiles(spark, root, Some(toV)).getOrElse(
            sys.error(
              s"TableLog.restoreTable: no non-empty version at or " +
                s"before $toV to derive the pre-evolution schema from"))
        ).filter(rel => f.exists(new Path(resolve(root, rel))))
        require(srcFiles.nonEmpty,
          s"TableLog.restoreTable: version $toV is not restorable — " +
            "vacuum reclaimed every file its pre-evolution schema " +
            "could be derived from")
        val st = ParquetMeta.schema(spark, srcFiles.map(resolve(root, _)): _*)
        Seq(stageSchema(spark, root, s"restore$toV", st))
      case None => Nil
    }
    commit(spark, root,
      add = target.filterNot(current.toSet),
      remove = current.filterNot(target.toSet),
      deletes = targetDels, resetDeletes = true, op = Some("RESTORE"),
      tag = tag, schema = schemaSeq,
      expectActive = current, expectDeletes = Some(cur.deletes),
      expectNoConflictingAdds = Some((readV, _ => true)))
  }

  /** The active file set of the most recent non-empty version at or
    * before `upTo` — the empty-head schema fallback shared by
    * [[filesSchema]] and [[restoreTable]]. ONE forward fold over the
    * retained versions: the state at the oldest, then each later
    * entry once. */
  private def lastNonEmptyFiles(spark: SparkSession, root: String,
                              upTo: Option[Long]): Option[Seq[String]] = {
    val f = fs(spark, root)
    val all = versions(spark, root)
    val vs = upTo.fold(all)(v => all.filter(_ <= v))
    vs.headOption.flatMap { first =>
      val fold = new Fold(state(spark, root, Some(first)))
      // the last non-empty set is the one a later entry EMPTIED (taken
      // just before a removing entry applies) unless the fold ends
      // non-empty — so only removing entries copy the set
      var lastNonEmpty = Option.empty[Seq[String]]
      vs.tail.foreach { v =>
        val e = readEntry(f, entryPath(root, v))
        if (e.remove.nonEmpty && fold.nonEmpty) lastNonEmpty = Some(fold.fileRefs)
        fold(e)
      }
      if (fold.nonEmpty) Some(fold.fileRefs) else lastNonEmpty
    }
  }

  /** TIME-TRAVEL read: the table exactly as of version `asOf`
    * (default: latest), as a PLANNER-PRUNED relation over
    * [[TableLogFileIndex]] — graft's one read path. Reads only the log
    * plus the active files — never a directory listing of the data
    * dir, so stale files from in-flight or replaced writes are
    * invisible — and plans with no Spark job: the schema comes from
    * the log or from ONE footer read on the driver. Filters on any
    * stats-covered column skip files inside Catalyst (the
    * `.explain`-visible form — the scan's file count shrinks with the
    * predicate), and the metadata rules ([[graft.plans.MetadataOnlyAgg]],
    * [[graft.plans.MetadataTopK]]) answer from it. `asOf = None` PINS
    * the latest committed version at build time — every later action
    * serves exactly that snapshot, however many commits land meanwhile
    * (build a new frame to see them).
    *
    * Pass `idCol` to apply delete sidecars ([[commitDeletes]]) — a
    * left-anti join against the (small) deleted-id union, with
    * pruning still underneath it; without it, sidecar deletes are NOT
    * applied (and the call refuses rather than silently
    * over-reading). A version whose commits removed every file reads
    * as an EMPTY frame with the schema of the last non-empty version.
    * When a schema ref is in force ([[evolveAppend]]), all files are
    * read WITH it — older files null-fill columns they predate.
    *
    * `bucketBy = Some((col, n))` ATTESTS the table is a
    * [[stageBucketed]] layout on `col` with `n` buckets (the same
    * attestation [[mergeInto]] takes): point predicates on that column
    * then prune to the matching bucket directories by path alone — the
    * DynamoDB-style point read, one bucket of a 100 TB table. A wrong
    * attestation (different column or bucket count than the writer
    * used) prunes WRONGLY — same contract as passing the wrong
    * nBuckets to mergeInto. */
  def snapshot(spark: SparkSession, root: String,
               asOf: Option[Long] = None,
               idCol: Option[String] = None,
               bucketBy: Option[(String, Int)] = None): DataFrame = {
    val (index, rel) = TableLogRelation.relationAt(spark, root, asOf, bucketBy)
    val base = TableLogRelation.rows(spark, rel)
    val dels = index.logState.deletes
    if (dels.isEmpty) base
    else idCol match {
      case None => sys.error(
        s"TableLog.snapshot: $root has delete sidecars; pass idCol to apply them")
      case Some(id) =>
        val doomed = spark.read.parquet(dels.map(resolve(root, _)): _*)
        base.join(doomed.select(col(doomed.columns.head).as(id)).distinct(),
          Seq(id), "left_anti")
    }
  }

  /** The named active files of version `asOf` (root-relative refs; a
    * name not active there is not read) as the same Catalyst-visible
    * relation [[snapshot]] plans — the one read
    * of a table's own maintenance passes (merge read-back, replaceWhere
    * and deleteWhere survivors, the range faces' boundary scans,
    * compaction candidates). Delete sidecars are NOT applied: every
    * caller either refuses them or rewrites files under them. */
  private[graft] def readActive(spark: SparkSession, root: String,
                                asOf: Option[Long],
                                files: Seq[String]): DataFrame =
    TableLogRelation.rows(spark, TableLogRelation.relationAt(spark, root,
      asOf, only = Some(files.toSet))._2)

  /** Write `df` as new immutable data files under a FRESH
    * `data/<name>-<uuid>/` directory and return their root-relative
    * paths (NOT yet committed — compose with [[commit]], so a
    * multi-part transaction becomes visible atomically with its
    * removes). The uuid suffix makes every stage target unique:
    * reusing a stage name (a second compaction, a replayed job) can
    * never overwrite immutable files still referenced by committed
    * versions — stale staged dirs that never commit are invisible to
    * readers (snapshots read the log, not the directory) and cost
    * only storage until manually cleaned. */
  def stageWrite(df: DataFrame, root: String, name: String): Seq[String] =
    stageUnder(df, root, "data", name)

  /** [[stageWrite]] for a frame that may hold no rows (a streaming
    * micro-batch a watermark advance produced), in ONE Spark job: the
    * row count is observed on the write itself, never asked of a
    * separate `isEmpty`/`count` action that would run the frame's
    * plan twice. An empty frame's stage dir is deleted on the spot and
    * Nil returned — there is nothing to commit (its manifest marker
    * retires at the next [[gcOrphans]], like a committed stage's). */
  def stageNonEmpty(df: DataFrame, root: String, name: String): Seq[String] = {
    val obs = org.apache.spark.sql.Observation()
    val (dir, files) = stageDir(
      df.observe(obs, org.apache.spark.sql.functions.count(lit(1)).as("rows")),
      root, "data", name)
    if (obs.get("rows") != 0L) files
    else {
      fs(df.sparkSession, root).delete(new Path(s"$root/$dir"), true)
      Nil
    }
  }

  /** Record an intended stage target in the `_log/_stages/` manifest
    * BEFORE its data is written — one tiny marker file whose content
    * is the target's root-relative path. [[gcOrphans]] sweeps FROM
    * this manifest instead of walking the whole data tree: the sweep
    * cost becomes O(#outstanding stages), not O(#files in the table).
    * Written before the write so a crash mid-stage leaves a marker
    * pointing at the partial dir (the one leak the log cannot see). */
  private def stageMarker(f: FileSystem, root: String, target: String): Unit = {
    // the same rule commit enforces, applied BEFORE any data is
    // written: a stage name outside the charset could stage data that
    // commit would refuse and the manifest sweep could not describe —
    // a guaranteed, silent, permanent orphan. Refuse it immediately.
    validatePaths(Seq(target))
    val dir = new Path(s"${logDir(root)}/_stages")
    f.mkdirs(dir)
    val out = f.create(
      new Path(dir, java.util.UUID.randomUUID().toString.take(16)), false)
    try out.write(target.getBytes("UTF-8")) finally out.close()
  }

  private def stageUnder(df: DataFrame, root: String, sub: String,
                         name: String): Seq[String] =
    stageDir(df, root, sub, name)._2

  /** Stage `df` under a fresh `<sub>/<name>-<uuid>/` dir; returns the
    * dir and its data files, all root-relative. */
  private def stageDir(df: DataFrame, root: String, sub: String,
                       name: String): (String, Seq[String]) = {
    val spark = df.sparkSession
    val f = fs(spark, root)
    val dir = s"$sub/$name-${java.util.UUID.randomUUID().toString.take(8)}"
    stageMarker(f, root, dir)
    df.write.mode("errorifexists").parquet(s"$root/$dir")
    dir -> f.listStatus(new Path(s"$root/$dir")).toSeq
      .map(_.getPath.getName)
      .filter(n => n.endsWith(".parquet") && !n.startsWith("_"))
      .sorted
      .map(n => s"$dir/$n")
  }

  /** The id→bucket layout function shared by [[stageBucketed]] and
    * [[mergeInto]] — deliberately the SAME md5 bucket as
    * [[Versioning.manifest]], so a table laid out for merge pruning
    * localizes manifest diffs to the identical buckets (one layout
    * answers both "which files must a merge rewrite" and "which
    * buckets did a version change"). */
  def idBucket(idCol: String, nBuckets: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    conv(substring(md5(col(idCol).cast("string").cast("binary")), 1, 8),
      16, 10).cast("long") % nBuckets
  }

  private val BucketDir = "_gb=(\\d+)/".r

  /** Bucket a staged path back to its bucket id (None for files staged
    * by the un-bucketed [[stageWrite]]). */
  private[operators] def bucketOf(rel: String): Option[Int] =
    BucketDir.findFirstMatchIn(rel).map(_.group(1).toInt)

  /** DRIVER-SIDE twin of [[idBucket]]: the bucket of one key value,
    * given its Spark `cast(string)` representation — md5 of the UTF-8
    * bytes, first 8 hex chars as a long, mod n. This is what lets a
    * POINT READ through [[snapshot]] (`bucketBy`) prune a
    * [[stageBucketed]] table to one bucket's files by path alone
    * (the `_gb=K` tag) before any file opens. Long and string keys
    * only — their cast-string form is the literal's natural repr;
    * other types would need Spark's exact cast formatting and are
    * left to zone stats. Spec-pinned equal to the Column form. */
  private[graft] def bucketOfKey(castString: String, n: Int): Int = {
    val hex = graft.functions.Sketches.md5HexLocal(castString).substring(0, 8)
    (java.lang.Long.parseLong(hex, 16) % n).toInt
  }

  /** Stage `df` BUCKETED by [[idBucket]] — one parquet write
    * partitioned on the bucket, so every staged file path carries its
    * bucket (`data/<name>-<uuid>/_gb=K/part-…`) and [[mergeInto]] can
    * later prune untouched buckets from a rewrite by PATH alone, no
    * file is opened. The bucket column is partition metadata, not
    * data: files read back with the table's own schema.
    *
    * Rows are co-located by bucket before the write (one exchange on
    * the 8-byte bucket key), so each bucket lands as ONE file per
    * stage instead of one-per-task-per-bucket — without it a
    * 200-task write over 64 buckets sprays 12 800 files. The
    * corollary: size `nBuckets` so one bucket's rows fit a healthy
    * parquet file at your scale (more buckets = finer merge pruning
    * AND smaller files — the same knob). */
  def stageBucketed(df: DataFrame, root: String, name: String,
                    idCol: String, nBuckets: Int): Seq[String] = {
    val spark = df.sparkSession
    val dir = s"$name-${java.util.UUID.randomUUID().toString.take(8)}"
    stageMarker(fs(spark, root), root, s"data/$dir")
    df.withColumn("_gb", idBucket(idCol, nBuckets))
      .repartition(col("_gb"))
      .write.mode("errorifexists").partitionBy("_gb")
      .parquet(s"$root/data/$dir")
    val f = fs(spark, root)
    f.listStatus(new Path(s"$root/data/$dir")).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("_gb="))
      .flatMap { d =>
        f.listStatus(d.getPath).toSeq.map(_.getPath.getName)
          .filter(n => n.endsWith(".parquet") && !n.startsWith("_"))
          .map(n => s"data/$dir/${d.getPath.getName}/$n")
      }.sorted
  }

  /** MERGE a delta into the current snapshot at O(touched buckets) —
    * the Delta-Lake MERGE INTO shape on a [[stageBucketed]] layout:
    * `upserts` (update-or-insert rows, keyed by `idCol`) and
    * `deleteIds` (ids to drop) resolve to the set of buckets they
    * touch; ONLY those buckets' files are read, rewritten (anti-join
    * the touched ids, union the upserts) and swapped in ONE atomic
    * commit — untouched buckets keep their exact physical files
    * across the version, so a 1%-of-keys delta against a 100 TB table
    * rewrites ~1% of it, not all of it. The touched-bucket set is a
    * ≤ nBuckets collect (layout metadata, not data).
    *
    * Requires every active file bucket-tagged (build the table with
    * [[stageBucketed]]) and no outstanding delete sidecars
    * ([[compactTable]] first) — merge semantics over an un-bucketed
    * or sidecar-filtered base would silently rewrite everything,
    * which is the failure mode this operator exists to prevent.
    * `tag` is the [[commit]] idempotence token — a replayed streaming
    * batch ([[graft.streaming.MergeIngest]]) checks [[committedTags]]
    * and no-ops instead of re-merging. WRITE-SERIALIZABLE: the commit
    * carries the touched files as its conflict expectation, so a
    * concurrent merge on an OVERLAPPING bucket set throws
    * [[java.util.ConcurrentModificationException]] (re-read and
    * re-merge) instead of silently losing the other writer's update;
    * disjoint-bucket merges commit concurrently without conflict.
    * Returns the new version. */
  def mergeInto(spark: SparkSession, root: String, idCol: String,
                upserts: DataFrame, deleteIds: DataFrame,
                nBuckets: Int, name: String,
                tag: Option[String] = None): Long = {
    import org.apache.spark.sql.functions._
    val (readV, active) = mergeReadSet(spark, root, "mergeInto")
    val touched = upserts.select(idBucket(idCol, nBuckets).as("b"))
      .unionByName(deleteIds.select(
        idBucket(deleteIds.columns.head, nBuckets).as("b")))
      .distinct().collect().map(_.getLong(0).toInt).toSet
    val (oldTouched, _) = active.partition(p => bucketOf(p).exists(touched))
    val doomedIds = upserts.select(col(idCol))
      .unionByName(deleteIds.select(col(deleteIds.columns.head).as(idCol)))
      .distinct()
    // read-back through the Catalyst-visible relation pinned at readV,
    // restricted to the touched buckets' files (zero extra I/O) — the
    // sink-side merge's scan shows its pruned numFiles instead of
    // hiding behind a raw path list, and any zone stats compose
    val base =
      if (oldTouched.isEmpty) upserts.limit(0)
      else readActive(spark, root, Some(readV), oldTouched)
    val merged = base.join(doomedIds, Seq(idCol), "left_anti")
      .unionByName(upserts)
    val adds = stageBucketed(merged, root, name, idCol, nBuckets)
    commitMerge(spark, root, adds, oldTouched, touched, readV, tag)
  }

  /** The shared merge prologue: refuse in-force delete sidecars and
    * un-bucketed active files (either would turn a bucket-scoped merge
    * into a silent full rewrite), then pin the read version. Returns
    * (readV, active files at readV). */
  private def mergeReadSet(spark: SparkSession, root: String,
                           face: String): (Long, Seq[String]) = {
    // the sidecar guard and the read set come from ONE state: a delete
    // committed between two reads must not slip past the guard
    val read = state(spark, root)
    require(read.deletes.isEmpty,
      s"TableLog.$face: $root has delete sidecars in force — " +
        "compactTable first so merge reads files, not filtered views")
    if (read.version < 0) sys.error(s"TableLog.$face: empty log at $root")
    val (readV, active) = (read.version, read.fileRefs)
    val untagged = active.filterNot(bucketOf(_).isDefined)
    require(untagged.isEmpty,
      s"TableLog.$face: un-bucketed active files at $root " +
        s"(e.g. ${untagged.headOption.getOrElse("")}) — stage the " +
        "table with stageBucketed for bucket-pruned merges")
    (readV, active)
  }

  /** The shared merge commit: swap the touched buckets' files for the
    * restaged ones. Conflict guards: (1) the files this merge read and
    * rewrote must still be active — a concurrent merge on an
    * OVERLAPPING bucket set would otherwise be silently lost; (2) no
    * commit since `readV` may have ADDED a file tagged with one of
    * this merge's buckets (rows with this merge's ids it never saw —
    * duplicate ids beside its output). Disjoint-bucket merges pass
    * both: their read sets stay active and their added paths carry
    * other buckets. */
  private def commitMerge(spark: SparkSession, root: String,
                          adds: Seq[String], oldTouched: Seq[String],
                          touched: Set[Int], readV: Long,
                          tag: Option[String]): Long =
    commit(spark, root, add = adds, remove = oldTouched, tag = tag,
      op = Some("MERGE"),
      expectActive = oldTouched, expectDeletes = Some(Nil),
      expectNoConflictingAdds =
        Some((readV, p => bucketOf(p).forall(touched))))

  /** The TYPED-stats kind tag for a column, or None when the type has
    * no order-preserving string serialization (such a column simply
    * gets NO stats rows → conservative reads; correctness never
    * depends on stats coverage). Kinds: `long` (all integral types),
    * `date` (epoch days), `timestamp` (epoch micros — TimestampType
    * only; NTZ would need a timezone convention and is excluded
    * rather than guessed), `string` (raw, ordered like Spark's own
    * min/max — UTF8 binary), `double`. */
  private[graft] def zkindFor(dt: org.apache.spark.sql.types.DataType): Option[String] = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType => Some("long")
      case DateType => Some("date")
      case TimestampType => Some("timestamp")
      case StringType => Some("string")
      case FloatType | DoubleType => Some("double")
      // the money type: serialized as the plain decimal string,
      // compared NUMERICALLY (BigDecimal — exact at any precision,
      // scale-agnostic, so one kind covers every (p, s))
      case _: DecimalType => Some("decimal")
      case _ => None
    }
  }

  /** Order-preserving STRING serialization of a stats value of
    * `kind` (what the typed sidecar stores in lo_s/hi_s). */
  private def zser(kind: String, c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    kind match {
      case "long" => c.cast("long").cast("string")
      case "date" => // epoch days, exact
        datediff(c, lit(java.sql.Date.valueOf("1970-01-01")))
          .cast("long").cast("string")
      case "timestamp" => unix_micros(c).cast("string")
      case "string" => c
      case "double" => c.cast("double").cast("string")
      case "decimal" => c.cast("string") // plain form; zcmp is numeric
    }
  }

  /** Compare two serialized stats values IN THE KIND'S DOMAIN.
    * Strings compare as UTF8 binary — exactly how Spark's min/max
    * ordered them when the sidecar was written. */
  private[graft] def zcmp(kind: String, a: String, b: String): Int = kind match {
    case "string" =>
      org.apache.spark.unsafe.types.UTF8String.fromString(a)
        .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(b))
    case "double" => java.lang.Double.compare(a.toDouble, b.toDouble)
    case "decimal" => BigDecimal(a).compare(BigDecimal(b))
    case _ => java.lang.Long.compare(a.toLong, b.toLong)
  }

  /** (stats kind, serialized repr) of a Catalyst literal — the
    * driver-side twin of [[zser]], shared by [[zbound]] and
    * [[TableLogFileIndex]]'s pushed-filter translation. None for a
    * NULL literal (comparisons to NULL match nothing) and for types
    * without a stats kind. */
  private[operators] def kindRepr(dt: org.apache.spark.sql.types.DataType,
                                  v: Any): Option[(String, String)] = {
    import org.apache.spark.sql.types._
    (dt, v) match {
      case (_, null) => None
      case (ByteType | ShortType | IntegerType | LongType, x) =>
        Some(("long", x.toString))
      case (DateType, days) => Some(("date", days.toString)) // Int epoch days
      case (TimestampType, micros) => Some(("timestamp", micros.toString))
      case (StringType, s) => Some(("string", s.toString)) // UTF8String
      // FloatType: the sidecar stores float bounds WIDENED to double
      // (zser casts through double before serializing), so the literal
      // must widen the same way — Float.toString's short repr ("1.3")
      // parses as the double 1.3, which sits ABOVE the widened stored
      // bound 1.2999999523162842 and would wrongly prune a file whose
      // rows satisfy `col >= 1.3f`. Double.toString round-trips.
      case (FloatType, x: java.lang.Float) =>
        Some(("double", x.toDouble.toString))
      case (DoubleType, x) => Some(("double", x.toString))
      // Decimal literals serialize to the same plain string form the
      // sidecar stored (zser casts through string); zcmp compares
      // numerically, so scale differences between the literal and the
      // column never mis-order
      case (_: DecimalType, d: Decimal) =>
        Some(("decimal", d.toBigDecimal.bigDecimal.toPlainString))
      case _ => None
    }
  }

  /** Normalize a TYPED predicate bound to (kind, serialized repr): the
    * [[kindRepr]] of `lit(v)`'s literal, so a bound prunes in exactly
    * the domain the row filter `col >= lit(v)` compares in. Accepts
    * the natural Scala/Java types a caller holds: integral → long,
    * String → string, LocalDate / sql.Date → date, Instant /
    * sql.Timestamp → timestamp, Float/Double → double, BigDecimal →
    * decimal. */
  private def zbound(v: Any): (String, String) =
    scala.util.Try(org.apache.spark.sql.catalyst.expressions.Literal(v))
      .toOption.flatMap(l => kindRepr(l.dataType, l.value))
      .getOrElse(sys.error(
        s"TableLog: unsupported zone-predicate bound $v " +
          s"(${Option(v).fold("null")(_.getClass.getName)}) — use " +
          "Long/Int/String/LocalDate/sql.Date/Instant/sql.Timestamp/Double"))

  /** The closed window `lo <= keyCol <= hi` as a one-interval stats
    * conjunction for [[pruneWithStats]] / [[fullMatchWithStats]], and
    * whether it is empty (lo > hi). Both bounds must share a kind. */
  private def zwindow(face: String, keyCol: String, lo: Any, hi: Any)
      : (Seq[ZPredicate], Boolean) = {
    val (kind, qlo) = zbound(lo)
    val (kindHi, qhi) = zbound(hi)
    require(kind == kindHi,
      s"TableLog.$face: bound kinds differ ($kind vs $kindHi)")
    (Seq(ZIntervals(keyCol, kind, Seq((Some(qlo), Some(qhi))))),
      zcmp(kind, qlo, qhi) > 0)
  }

  /** Parse a serialized stats value back to the CATALYST-INTERNAL
    * value of the column's type — the inverse of [[zser]] for
    * metadata-only aggregate answering (strings are UTF8String, dates
    * epoch-day Ints, timestamps epoch-micro Longs; float bounds were
    * stored widened through double, and the widening is exact, so
    * narrowing back is too). Throws on a kind/type mismatch — callers
    * verify the kind against [[zkindFor]] first. */
  private[graft] def zparse(kind: String, s: String,
      dt: org.apache.spark.sql.types.DataType): Any = {
    import org.apache.spark.sql.types._
    (kind, dt) match {
      case ("long", ByteType) => s.toLong.toByte
      case ("long", ShortType) => s.toLong.toShort
      case ("long", IntegerType) => s.toLong.toInt
      case ("long", LongType) => s.toLong
      case ("date", DateType) => s.toLong.toInt
      case ("timestamp", TimestampType) => s.toLong
      case ("string", StringType) =>
        org.apache.spark.unsafe.types.UTF8String.fromString(s)
      case ("double", FloatType) => s.toDouble.toFloat
      case ("double", DoubleType) => s.toDouble
      case ("decimal", dt: DecimalType) =>
        Decimal(BigDecimal(s), dt.precision, dt.scale)
      case other => sys.error(s"TableLog.zparse: kind/type mismatch $other")
    }
  }

  /** One WHEN MATCHED clause of [[mergeIntoConditional]]. `cond` is a
    * boolean Spark-SQL expression over `t.*` (the target row) and
    * `s.*` (the source row); None = unconditional. Clauses evaluate
    * in list order; the FIRST one whose condition holds (NULL = not
    * held, three-valued logic) applies — Delta's clause semantics. */
  sealed trait MergeClause { def cond: Option[String] }
  /** WHEN MATCHED [AND cond] THEN UPDATE SET col → expr (exprs over
    * the t and s aliases); unset columns keep the target's value. */
  final case class MatchedUpdate(cond: Option[String],
                                 set: Map[String, String]) extends MergeClause
  /** WHEN MATCHED [AND cond] THEN DELETE. */
  final case class MatchedDelete(cond: Option[String]) extends MergeClause

  /** CONDITIONAL MERGE — the full Delta MERGE INTO clause surface
    * over the [[stageBucketed]] layout: `WHEN MATCHED AND <cond> THEN
    * UPDATE SET ... / DELETE` (first matching clause wins; a matched
    * row no clause claims keeps its TARGET version untouched) and
    * `WHEN NOT MATCHED [AND <cond>] THEN INSERT` (source rows failing
    * the insert condition are dropped). The reference's enrichment
    * upsert is conditional in exactly this way — enrichment.py:83-131
    * only overwrites when the fetched details resolve; the fail-open
    * branch keeps the old row — which [[mergeInto]]'s unconditional
    * upsert-or-delete could not express.
    *
    * Same scale/conflict contract as [[mergeInto]]: only the buckets
    * the source's ids hash into are read and rewritten (O(touched
    * buckets), untouched buckets keep their exact physical files),
    * the commit pins the touched files (`expectActive`), the empty
    * sidecar set, and refuses concurrent adds into its buckets —
    * disjoint-bucket merges commit concurrently. `insertSet` maps
    * table columns to insert-value exprs (default `s.<col>`); update
    * and insert values are cast to the table column's type.
    *
    * `keys` is the merge key, matched on every column; its HEAD picks
    * the bucket (DynamoDB's partition-key/sort-key split), so every
    * row of one full key lands in one bucket and a one-key merge keeps
    * the one-column layout. `source` must carry every key plus every
    * column the defaulted inserts need; full keys must be unique in
    * `source` (two source rows matching one target row would apply an
    * arbitrary one — the same restriction Delta enforces). Returns the
    * new version. */
  def mergeIntoConditional(spark: SparkSession, root: String, keys: Seq[String],
                           source: DataFrame, nBuckets: Int, name: String,
                           matched: Seq[MergeClause],
                           insertWhen: Option[String],
                           insertSet: Map[String, String] = Map.empty,
                           tag: Option[String] = None): Long = {
    import org.apache.spark.sql.functions._
    val (readV, active) = mergeReadSet(spark, root, "mergeIntoConditional")
    // the touched-bucket set covers updates, deletes AND inserts —
    // an inserted id's bucket is rewritten so its rows land beside
    // that bucket's files (≤ nBuckets collect, layout metadata)
    // ONE aggregation serves both the touched-bucket set and the
    // unique-source-key contract (Delta raises
    // MULTIPLE_SOURCE_ROW_MATCHING_TARGET_ROW): with duplicates, the
    // full-outer join below would silently apply BOTH source rows to
    // one target — e.g. delete it through one and re-emit it through
    // the other. Reserved aliases, so a key named "count"/"b" cannot
    // collide.
    require(keys.nonEmpty, "TableLog.mergeIntoConditional: no merge key")
    val byKey = source.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__n"))
    val perBucket = byKey
      .groupBy(idBucket(keys.head, nBuckets).as("__b"))
      .agg(max(col("__n")).as("__mx"))
      .collect()
    require(!perBucket.exists(_.isNullAt(0)),
      s"TableLog.mergeIntoConditional: a source row has a NULL " +
        s"'${keys.head}' — the bucket key must be non-null")
    val touched = perBucket.map(_.getLong(0).toInt).toSet
    if (perBucket.exists(_.getLong(1) > 1)) {
      // failure path only: name one offending key for the error
      val bad = byKey.filter(col("__n") > 1).limit(1).collect()
      throw new IllegalArgumentException(
        s"TableLog.mergeIntoConditional: ${bad.headOption.map(r =>
          keys.indices.map(r.get).mkString("(", ",", ")")).getOrElse("")} " +
          "appears more than once in the source — merge clauses need " +
          "one source row per key; pre-aggregate the source")
    }
    val (oldTouched, _) = active.partition(p => bucketOf(p).exists(touched))
    // same pinned, bucket-restricted relation as mergeInto's read-back
    val base =
      if (oldTouched.isEmpty)
        snapshot(spark, root, Some(readV)).limit(0)
      else readActive(spark, root, Some(readV), oldTouched)
    val cols = base.columns.toSeq
    (matched.collect { case MatchedUpdate(_, set) => set.keys }.flatten ++
      insertSet.keys).foreach(c => require(cols.contains(c),
        s"TableLog.mergeIntoConditional: SET column '$c' is not a table " +
          s"column (table has ${cols.mkString(",")})"))
    // null-safe, as the uniqueness group-by above is: a key with a
    // null part, e.g. (hour, NULL type), still names one row
    val joined = base.as("t").join(source.as("s"),
      keys.map(k => col(s"t.$k") <=> col(s"s.$k")).reduce(_ && _), "full_outer")
    def held(c: Option[String]) =
      c.map(x => coalesce(expr(x).cast("boolean"), lit(false)))
        .getOrElse(lit(true))
    // first-matching-clause resolution, encoded as a when-chain over
    // a tiny action tag — evaluated once per joined row, map-only
    val matchedChain = matched.zipWithIndex.reverse
      .foldLeft(lit("keep")) { case (els, (cl, i)) =>
        val act = cl match {
          case _: MatchedDelete => "del"
          case _: MatchedUpdate => s"upd$i"
        }
        when(held(cl.cond), lit(act)).otherwise(els)
      }
    // the unmatched side of a full-outer row is all null
    def absent(side: String) = keys.map(k => col(s"$side.$k").isNull).reduce(_ && _)
    val action =
      when(absent("s"), lit("keep"))                        // target-only
        .when(absent("t"),                                  // source-only
          when(held(insertWhen), lit("ins")).otherwise(lit("drop")))
        .otherwise(matchedChain)                           // matched
    val outCols = cols.map { c =>
      val dt = base.schema(c).dataType
      val start =
        when(col("__action") === "keep", col(s"t.$c"))
          .when(col("__action") === "ins",
            insertSet.get(c).map(expr).getOrElse(col(s"s.$c")).cast(dt))
      matched.zipWithIndex.collect { case (MatchedUpdate(_, set), i) =>
        (s"upd$i", set.get(c).map(expr).getOrElse(col(s"t.$c")).cast(dt))
      }.foldLeft(start) { case (acc, (tagI, e)) =>
        acc.when(col("__action") === tagI, e)
      }.as(c)
    }
    val merged = joined.withColumn("__action", action)
      .filter(col("__action") =!= "del" && col("__action") =!= "drop")
      .select(outCols: _*)
    val adds = stageBucketed(merged, root, name, keys.head, nBuckets)
    commitMerge(spark, root, adds, oldTouched, touched, readV, tag)
  }

  /** Stage `df` RANGE-CLUSTERED on `keyCol` WITH a TYPED ZONE-MAP
    * sidecar — the stats-based FILE-SKIPPING layout (the
    * Delta/Iceberg per-file min/max story): rows land
    * range-partitioned and sorted on the key, so each staged file
    * owns a narrow key interval, and a sidecar parquet — one row per
    * (file, stats column): (file, scol, kind, lo_s, hi_s, n_rows,
    * n_nulls), bounds serialized order-preserving per [[zkindFor]]
    * kind — lets [[snapshot]] filters (and
    * [[snapshotWhere]] / [[snapshotPrefix]] over it) drop every file
    * whose interval misses a predicate WITHOUT opening it. Keys may
    * be LONG, STRING, DATE, TIMESTAMP or DOUBLE (the reference's own
    * range keys are strings — web_api.py:50-76 `begins_with` prefix
    * scans — and the most common DELETE WHERE in existence is over a
    * date); `statsCols`
    * adds per-file stats for FURTHER columns beyond the cluster key,
    * so any of them can prune reads too (the Delta
    * min/max-every-column posture at declared-column cost).
    * Unsupported column types are skipped — conservative reads, never
    * an error. At 100 TB the zone map is O(#files × #statsCols)
    * metadata serving O(selectivity) reads; clustering on the key is
    * what makes the KEY's stats bite (un-sorted files all span the
    * full range and nothing prunes). `clusterBy` overrides the
    * physical clustering expression (Z-ORDER staging: cluster on the
    * interleaved Z-value so EVERY declared dimension's per-file
    * interval is tight, while stats still describe the real columns —
    * the expression never lands in the data). `sketchCols` (each must
    * also be the key or a stats column) additionally records a
    * PER-FILE HLL REGISTER BANK on the column's sidecar row — the
    * mergeable distinct sketch ([[graft.plans.HllRegisters]] over the
    * [[graft.functions.Sketches]] md5 hash, 256 registers ≈ 260 bytes
    * per (file, column)) — so [[metadataDistinct]] can answer
    * approximate `count(distinct col)` from the log alone, ZERO data
    * files read: register banks union by elementwise max, so the
    * per-file banks merged together ARE the global bank. Returns
    * (data paths, zone-map paths) for [[commit]]'s `add`/`zmap`. */
  def stageWithZoneMap(df: DataFrame, root: String, name: String,
                       keyCol: String, parts: Int,
                       statsCols: Seq[String] = Nil,
                       clusterBy: Option[org.apache.spark.sql.Column] = None,
                       sketchCols: Seq[String] = Nil)
      : (Seq[String], Seq[String]) = {
    import org.apache.spark.sql.functions._
    val spark = df.sparkSession
    val f = fs(spark, root)
    // sketch-column validation needs only names and types — run it
    // BEFORE the O(data) repartition+write, not after (a misdeclared
    // column must not burn the whole staging and orphan its files)
    val sketched = sketchCols.distinct
    sketched.foreach { c =>
      val declared = (keyCol +: statsCols).contains(c)
      val coverable = df.schema.find(_.name == c)
        .exists(fld => zkindFor(fld.dataType).isDefined)
      if (!declared || !coverable)
        sys.error(s"TableLog.stageWithZoneMap: sketch column '$c' must " +
          s"be the key or a stats column of a zone-coverable type " +
          s"(declared: ${(keyCol +: statsCols).distinct.mkString(",")})")
    }
    val dir = s"$name-${java.util.UUID.randomUUID().toString.take(8)}"
    stageMarker(f, root, s"data/$dir")
    val key = clusterBy.getOrElse(col(keyCol))
    df.repartitionByRange(parts, key)
      .sortWithinPartitions(key)
      .write.mode("errorifexists").parquet(s"$root/data/$dir")
    val files = f.listStatus(new Path(s"$root/data/$dir")).toSeq
      .map(_.getPath.getName)
      .filter(n => n.endsWith(".parquet") && !n.startsWith("_"))
      .sorted
      .map(n => s"data/$dir/$n")
    val stagedSchema = ParquetMeta.schema(spark, s"$root/data/$dir")
    val staged = spark.read.schema(stagedSchema).parquet(s"$root/data/$dir")
    val byName = stagedSchema.map(fld => fld.name -> fld.dataType).toMap
    val covered = (keyCol +: statsCols).distinct.flatMap { c =>
      zkindFor(byName.getOrElse(c,
        sys.error(s"TableLog.stageWithZoneMap: no column '$c' in the " +
          s"staged frame (has ${staged.columns.mkString(",")})")))
        .map(k => (c, k))
    }
    // no coverable column (e.g. a map/array cluster key): the data
    // still lands clustered, but there is no sidecar to write —
    // reads stay conservative, never wrong
    if (covered.isEmpty) return (files, Nil)
    // ONE columnar pass over the staged stats columns → per-file
    // bounds for every covered column, melted to one sidecar row per
    // (file, column). Paths stored root-relative so the map survives
    // a table move; the regexp anchors on the LAST two segments so a
    // table rooted under a path containing "data/" still records
    // names that match the active set.
    // n_nulls: min/max skip NULL keys, so the interval alone cannot
    // prove "every row is in range" — deleteWhere's metadata-only
    // file drop needs the null count too (zero = interval covers
    // every row). Maps without the stat read as unknown →
    // conservative rewrite, never a wrong drop.
    val aggs = covered.flatMap { case (c, k) =>
      Seq(zser(k, min(col(c))).as(s"__lo__$c"),
        zser(k, max(col(c))).as(s"__hi__$c"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__n__$c"),
        // exact per-file SUM for integral kinds (metadata-only
        // aggregate answering): accumulated in DECIMAL(38,0) so a
        // wide file of large longs cannot overflow AT STAGE TIME
        // under ANSI — the reader re-sums exactly and refuses to
        // answer when the total leaves the Long domain. Non-integral
        // kinds record no sum (double re-ordering is inexact; a
        // metadata answer must be bit-equal to the scan's).
        (if (k == "long")
          sum(col(c).cast(org.apache.spark.sql.types.DecimalType(38, 0)))
            .cast("string")
        else lit(null).cast("string")).as(s"__s__$c"),
        // per-file HLL register bank for declared sketch columns —
        // 256 small longs, stored comma-joined (the sidecar is
        // parquet; a ~600-byte string per (file, column) is noise
        // next to the bounds). Null rows hash to a null bucket and
        // are skipped by the aggregate, so the bank describes exactly
        // the file's NON-NULL values — the same universe the q70
        // oracle counts.
        (if (sketched.contains(c)) {
          // native (bucket, rho) off the digest bytes: this child is
          // evaluated INTERPRETED inside the aggregate, where the
          // md5-hex substring/conv/ltrim chain was the per-row cost;
          // the element cast is a built-in array cast, not a lambda
          array_join(graft.plans.HllRegisters.hllRegisters(
            graft.functions.Sketches.bucketRho(col(c)),
            graft.functions.Sketches.M).cast("array<string>"), ",")
        } else lit(null).cast("string")).as(s"__h__$c"))
    } :+ count(lit(1)).as("n_rows")
    val perFile = staged
      .groupBy(regexp_extract(input_file_name(), "data/[^/]+/[^/]+$", 0)
        .as("file"))
      .agg(aggs.head, aggs.tail: _*)
    val melted = perFile.select(col("file"), col("n_rows"),
      explode(array(covered.map { case (c, k) =>
        struct(lit(c).as("scol"), lit(k).as("kind"),
          col(s"__lo__$c").as("lo_s"), col(s"__hi__$c").as("hi_s"),
          col(s"__n__$c").as("n_nulls"), col(s"__s__$c").as("sum_s"),
          col(s"__h__$c").as("hll_s"))
      }: _*)).as("z"))
      .select(col("file"), col("z.scol").as("scol"), col("z.kind").as("kind"),
        col("z.lo_s").as("lo_s"), col("z.hi_s").as("hi_s"),
        col("n_rows"), col("z.n_nulls").as("n_nulls"),
        col("z.sum_s").as("sum_s"), col("z.hll_s").as("hll_s"))
    (files, stageUnder(melted, root, "zmap", name))
  }

  /** One parsed zone-stats row: which file, which column, the value
    * kind, serialized bounds (None where stats are absent: a file of
    * ALL-null keys has null min/max), the null count (None = unknown,
    * written before the stat existed), and the file's total row count
    * (None likewise). `nNulls == nRows` is the ALL-NULL proof: no row
    * of the file can satisfy any interval or IS NOT NULL predicate on
    * the column. */
  private[operators] final case class ZStat(file: String, scol: String,
                                 kind: String, lo: Option[String],
                                 hi: Option[String], nNulls: Option[Long],
                                 nRows: Option[Long] = None,
                                 sum: Option[String] = None,
                                 hll: Option[String] = None)

  /** One collected read of the zone-map sidecars `s` names — its
    * [[LogState.zmaps]], existence-filtered here, at read time
    * ([[vacuum]] reclaims maps whose data files are all gone; a
    * missing map degrades to a conservative unpruned read, never an
    * error). O(#files × #statsCols) driver metadata — shared by
    * [[TableLogFileIndex]], the metadata faces and the rewrites, each
    * planning from ONE sidecar read. A row that names no column or
    * kind (a sidecar this writer never produced) is skipped: its file
    * then has no stats and reads in full. */
  private[operators] def collectZoneRows(spark: SparkSession, root: String,
                                         st: LogState): Array[ZStat] = {
    val zmaps = liveZmaps(fs(spark, root), root, st)
    if (zmaps.isEmpty) Array.empty
    else {
      val zm = ParquetMeta.read(spark, zmaps.map(resolve(root, _)): _*)
      val have = zm.columns.toSet
      def opt(n: String, cast: String) =
        if (have(n)) col(n).cast(cast) else lit(null).cast(cast)
      zm.select(col("file"), opt("scol", "string"), opt("kind", "string"),
          opt("lo_s", "string"), opt("hi_s", "string"),
          opt("n_nulls", "long"), opt("n_rows", "long"),
          opt("sum_s", "string"), opt("hll_s", "string"))
        .collect().collect { case r if !r.isNullAt(1) && !r.isNullAt(2) =>
          def s(i: Int) = if (r.isNullAt(i)) None else Some(r.getString(i))
          def l(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
          ZStat(r.getString(0), r.getString(1), r.getString(2), s(3), s(4),
            l(5), l(6), s(7), s(8))
        }
    }
  }

  /** The zone-map refs of `s` still on disk. */
  private def liveZmaps(f: FileSystem, root: String, s: LogState): Seq[String] =
    s.zmaps.filter(rel => f.exists(new Path(resolve(root, rel))))

  /** Merge one serialized HLL bank into `merged` by elementwise max.
    * Returns false — and `merged` is left UNTOUCHED — on wrong
    * register count, a non-numeric/empty token, or a register above
    * MaxRho (a register is a rho in [0, 57], ≤ 2 digits): a foreign
    * writer's garbage must neither throw nor leave a partial merge
    * behind (the range face keeps the array and scans the file
    * instead; a half-merged bad bank would silently skew it). */
  private def mergeBankInto(bank: String, merged: Array[Long]): Boolean = {
    val m = merged.length
    val maxRho = graft.functions.Sketches.MaxRho.toLong
    val regs = bank.split(",", -1)
    if (regs.length != m) return false
    val parsed = new Array[Long](m)
    var i = 0
    while (i < m) { // validate EVERY token before touching `merged`
      val t = regs(i)
      if (t.isEmpty || t.length > 2 || !t.forall(_.isDigit)) return false
      val v = t.toLong
      if (v > maxRho) return false
      parsed(i) = v
      i += 1
    }
    i = 0
    while (i < m) { // elementwise max — the HLL union
      if (parsed(i) > merged(i)) merged(i) = parsed(i)
      i += 1
    }
    true
  }

  /** Shared tail of the metadata-distinct faces: (column, merged
    * bank) rows → (scol, est_distinct, nz, sum_rho), the q70 witness
    * triple, computed with the SAME [[graft.functions.Sketches]]
    * column math as the scan path — a LocalRelation, no file I/O. */
  private def distinctEstimateDf(spark: SparkSession,
      banks: Seq[(String, Seq[Long])]): DataFrame = {
    import org.apache.spark.sql.functions._
    val df = spark.createDataFrame(
      java.util.Arrays.asList(banks.map { case (c, regs) =>
        org.apache.spark.sql.Row(c, regs) }: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("scol",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("regs",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType, containsNull = false),
          nullable = false))))
    df.select(col("scol"),
        graft.functions.Sketches.hllEstimate(col("regs")).as("est_distinct"),
        graft.functions.Sketches.nonZero(col("regs")).as("nz"),
        aggregate(col("regs"), lit(0L), (a, r) => a + r).as("sum_rho"))
      .orderBy(col("scol"))
  }

  /** METADATA-ONLY DISTINCT ESTIMATE: approximate
    * `count(distinct col)` for each of `cols` over the snapshot at
    * `asOf`, answered ENTIRELY from the zone-map sidecars — zero data
    * files opened. Per-file HLL register banks (written by
    * [[stageWithZoneMap]]'s `sketchCols`) union by elementwise max,
    * so the merged bank is EXACTLY the bank a full scan would build —
    * same registers, same estimate, bit-for-bit (the estimator runs
    * as the same [[graft.functions.Sketches]] column math over the
    * merged bank). At 100 TB this is the `SELECT count(distinct ...)`
    * dashboard probe for the cost of an O(#files) driver metadata
    * read.
    *
    * Returns None — the caller must scan — unless the answer would be
    * exact-to-the-sketch: every active file must carry a bank for
    * every requested column (a meta-less append breaks coverage until
    * the next OPTIMIZE recomputes it) and no delete sidecar may be in
    * force (banks describe pre-delete rows; registers cannot forget).
    * IDENTICAL duplicate bank rows for one file merge idempotently
    * (re-listed sidecars cannot skew the estimate); CONFLICTING
    * well-formed duplicates — a foreign writer's sidecar claiming
    * different registers for the same file — decline the column
    * rather than silently inflate via elementwise max (the same rule
    * [[metadataProfile]] applies to conflicting count rows).
    * Output: one row per column, (scol, est_distinct, nz, sum_rho) —
    * the q70 witness triple, sorted by scol. */
  def metadataDistinct(spark: SparkSession, root: String,
                       cols: Seq[String],
                       asOf: Option[Long] = None): Option[DataFrame] = {
    import org.apache.spark.sql.functions._
    val s = state(spark, root, asOf)
    if (s.deletes.nonEmpty) return None
    val zones = collectZoneRows(spark, root, s)
    val activeSet = s.fileRefs.toSet
    val m = graft.functions.Sketches.M
    val want = cols.distinct.sorted
    val banks: Seq[(String, Seq[Long])] = want.flatMap { c =>
      val rows = zones.filter(z =>
        activeSet(z.file) && z.scol == c && z.hll.isDefined)
      // coverage: every active file must speak for this column
      if (rows.iterator.map(_.file).toSet != activeSet) None
      else {
        val byFile = rows.groupBy(_.file)
        // conflicting well-formed duplicates for one file would
        // inflate under max-merge (idempotence holds only for
        // IDENTICAL banks) — decline, the scan face stays available
        if (byFile.values.exists(_.map(_.hll.get).distinct.length > 1)) None
        else {
          val merged = new Array[Long](m)
          // a malformed bank (wrong register count or content — a
          // foreign writer) declines rather than estimates wrong
          val ok = byFile.values.forall(ds => mergeBankInto(ds.head.hll.get, merged))
          if (ok) Some(c -> merged.toSeq) else None
        }
      }
    }
    if (banks.length != want.length) return None
    Some(distinctEstimateDf(spark, banks))
  }

  /** RANGE-SCOPED METADATA DISTINCT: approximate
    * `count(distinct sketchCol) WHERE lo <= keyCol <= hi` over the
    * snapshot at `asOf`, reading ONLY the window's BOUNDARY files —
    * the "distinct users in January" probe on a range-clustered
    * table. Files PROVABLY all-inside the window (interval contained,
    * zero null keys — null is outside every range) answer from their
    * stored HLL banks; files provably outside contribute nothing;
    * only the straddlers (and inside files missing a sane bank) are
    * scanned, filtered to the window, and folded into the SAME
    * register bank a full scan of the window would build — the answer
    * is exact-to-the-sketch at O(boundary files) I/O instead of
    * O(window). At 100 TB with daily range clustering that is two
    * boundary files against a month of data. Returns None when
    * delete sidecars are in force (banks cannot forget) or when
    * `sketchCol`/`keyCol` is not a column of the table (validated
    * against the log schema, the sidecar rows, or one parquet footer
    * — a bogus column must decline up front, not throw mid-probe or
    * silently answer 0 on an empty window) — mere coverage gaps
    * degrade to scanning those files, never to an error. A file whose
    * duplicate bank rows CONFLICT (a foreign writer's sidecar) also
    * degrades to the scan, never merges an arbitrary pick. Output:
    * one (scol, est_distinct, nz, sum_rho) row, the q70 witness
    * triple. Bounds are typed like [[replaceWhere]]'s. */
  def metadataDistinctRange(spark: SparkSession, root: String,
                            sketchCol: String, keyCol: String,
                            lo: Any, hi: Any,
                            asOf: Option[Long] = None): Option[DataFrame] = {
    import org.apache.spark.sql.functions._
    val (window, _) = zwindow("metadataDistinctRange", keyCol, lo, hi)
    // pinned: the boundary scan reads the version the plan came from
    val s = state(spark, root, asOf)
    val at = asOf.orElse(Some(s.version))
    if (s.deletes.nonEmpty) return None
    val active = s.fileRefs
    val zones = collectZoneRows(spark, root, s)
    // Both named columns must exist in the table before any planning:
    // cheapest proof first — the declared log schema, then a sidecar
    // row naming the column, then ONE parquet footer (metadata, not
    // data). A column that exists nowhere declines; proceeding would
    // either throw an AnalysisException from the boundary scan or,
    // on a fully-file-aligned empty window, silently estimate 0.
    val declared = schemaOf(spark, root, s).map(_.fieldNames.toSet)
    lazy val footerCols: Set[String] = active.headOption.map { p =>
      ParquetMeta.schema(spark, resolve(root, p)).fieldNames.toSet
    }.getOrElse(Set.empty)
    def columnExists(c: String): Boolean = declared match {
      case Some(fields) => fields.contains(c)
      case None => zones.exists(_.scol == c) || footerCols.contains(c)
    }
    if (!columnExists(sketchCol) || !columnExists(keyCol)) return None
    // every file a window row may live in; the provably-inside subset
    // can serve from banks, the rest must scan
    val touched = pruneWithStats(active, zones, window)
    val inside = fullMatchWithStats(touched, zones, window)
    // last-wins toMap would let a foreign writer's conflicting bank
    // row mask the real one — a file with conflicting duplicates
    // serves from the SCAN instead (identical duplicates still serve)
    val banksByFile: Map[String, String] = zones.iterator
      .filter(z => z.scol == sketchCol && z.hll.isDefined)
      .toSeq.groupBy(_.file).collect {
        case (f, ds) if ds.map(_.hll.get).distinct.length == 1 =>
          f -> ds.head.hll.get
      }
    val merged = new Array[Long](graft.functions.Sketches.M)
    // explicit partition, not a side-effecting filter: every touched
    // file is classified (and every served bank merged) exactly once,
    // regardless of how lazily the caller's collection traverses
    val scanBuilder = Seq.newBuilder[String]
    touched.foreach { p =>
      // a file serves from metadata only when it is provably
      // all-inside AND its bank parses sane; anything else scans —
      // graceful degradation, never a wrong estimate
      val served = inside(p) && banksByFile.get(p).exists(mergeBankInto(_, merged))
      if (!served) scanBuilder += p
    }
    val scanSet = scanBuilder.result()
    if (scanSet.nonEmpty) {
      val bank = readActive(spark, root, at, scanSet)
        .filter(col(keyCol) >= lit(lo) && col(keyCol) <= lit(hi))
        .select(graft.plans.HllRegisters.hllRegisters(
          graft.functions.Sketches.bucketRho(col(sketchCol)),
          graft.functions.Sketches.M).as("regs"))
        .head().getSeq[Long](0)
      var i = 0
      while (i < merged.length) {
        if (bank(i) > merged(i)) merged(i) = bank(i)
        i += 1
      }
    }
    Some(distinctEstimateDf(spark, Seq(sketchCol -> merged.toSeq)))
  }

  /** RANGE-SCOPED METADATA AGGREGATES: exact `count(*)` /
    * `count(col)` / `min` / `max` / `sum(long)` for each of `cols`
    * restricted to `lo <= keyCol <= hi`, reading ONLY the window's
    * BOUNDARY files — [[metadataDistinctRange]]'s composition (the
    * q163 pattern) generalized from HLL banks to the counts / bounds
    * / sums [[graft.plans.MetadataOnlyAgg]] serves globally: "how
    * many events yesterday, what id range, how many tokens" on a
    * range-clustered table costs O(boundary files), not O(window).
    * Files PROVABLY all-inside the window (interval contained, zero
    * null keys) answer from their stats rows; files provably outside
    * contribute nothing; straddlers — and inside files missing a
    * usable stats row for any requested column — are scanned ONCE
    * (one multi-column pass), filtered to the window, and folded
    * through the SAME serialization the stage pass used, so the
    * answer is bit-identical to a full window scan. Returns None when
    * delete sidecars are in force (per-file stats describe pre-delete
    * rows) or a named column does not exist (validated like
    * [[metadataDistinctRange]]); mere coverage gaps degrade to
    * scanning those files. A file whose duplicate stats rows CONFLICT
    * degrades to the scan, never trusts an arbitrary pick. Sums are
    * exact DECIMAL strings for long-kind columns and null otherwise
    * (float re-addition is order-sensitive; an exact face must not
    * approximate). Output: one row per column, sorted — (scol, kind,
    * n_rows, n_nulls, lo_s, hi_s, sum_s); bounds serialized in the
    * sidecar's own order-preserving form, null when the window holds
    * no non-null value. */
  def metadataAggRange(spark: SparkSession, root: String,
                       keyCol: String, lo: Any, hi: Any,
                       cols: Seq[String],
                       asOf: Option[Long] = None): Option[DataFrame] = {
    import org.apache.spark.sql.functions._
    val (window, _) = zwindow("metadataAggRange", keyCol, lo, hi)
    require(cols.nonEmpty, "TableLog.metadataAggRange: no columns asked")
    // pinned: the boundary scan reads the version the plan came from
    val s = state(spark, root, asOf)
    val at = asOf.orElse(Some(s.version))
    if (s.deletes.nonEmpty) return None
    val active = s.fileRefs
    val zones = collectZoneRows(spark, root, s)
    val want = cols.distinct.sorted
    // column validation, cheapest proof first (the metadataDistinctRange
    // rule): declared schema, then sidecar rows, then ONE footer
    val declared = schemaOf(spark, root, s)
    val declaredNames = declared.map(_.fieldNames.toSet)
    lazy val footerSchema: Option[org.apache.spark.sql.types.StructType] =
      active.headOption.map(p =>
        ParquetMeta.schema(spark, resolve(root, p)))
    def columnExists(c: String): Boolean = declaredNames match {
      case Some(fields) => fields.contains(c)
      case None => zones.exists(_.scol == c) ||
        footerSchema.exists(_.fieldNames.contains(c))
    }
    if (!(keyCol +: want).forall(columnExists)) return None
    // each column's stats kind: the sidecar rows' (must be unique), or
    // the schema type's for never-statsed columns; a column with
    // neither — or an uncoverable type — declines (its serialization
    // is undefined)
    val kindOf: Map[String, String] = {
      val pairs = want.map { c =>
        val zkinds = zones.filter(_.scol == c).map(_.kind).distinct
        val k = zkinds.toSeq match {
          case Seq(one) => Some(one)
          case Seq() =>
            declared.orElse(footerSchema)
              .flatMap(_.fields.find(_.name == c))
              .flatMap(f => zkindFor(f.dataType))
          case _ => None // restaged under a different type — ambiguous
        }
        c -> k
      }
      if (pairs.exists(_._2.isEmpty)) return None
      pairs.map { case (c, k) => c -> k.get }.toMap
    }
    val touched = pruneWithStats(active, zones, window)
    val inside = fullMatchWithStats(touched, zones, window)
    // a file serves from metadata only when it is provably all-inside
    // AND carries ONE consistent usable stats row per requested column
    // (n_rows + n_nulls known; bounds present or the all-null proof);
    // anything else scans — graceful degradation, never a wrong answer
    val zByFileCol: Map[(String, String), Seq[ZStat]] = zones.toSeq
      .filter(z => want.contains(z.scol))
      .groupBy(z => (z.file, z.scol))
    def usableOne(z: ZStat, c: String): Option[ZStat] =
      Some(z).filter(z =>
        z.kind == kindOf(c) && z.nRows.isDefined && z.nNulls.isDefined &&
          ((z.lo.isDefined && z.hi.isDefined) || z.nNulls == z.nRows) &&
          (kindOf(c) != "long" || z.sum.isDefined || z.nNulls == z.nRows))
    def usable(p: String, c: String): Option[ZStat] =
      zByFileCol.getOrElse((p, c), Nil) match {
        case zs if zs.nonEmpty && zs.forall(z =>
            (z.kind, z.lo, z.hi, z.nNulls, z.nRows, z.sum) ==
            (zs.head.kind, zs.head.lo, zs.head.hi, zs.head.nNulls,
              zs.head.nRows, zs.head.sum)) =>
          usableOne(zs.head, c)
        case _ => None // absent, or conflicting duplicates: scan the file
      }
    val (served, toScan) = touched.partition(p =>
      inside(p) && want.forall(c => usable(p, c).isDefined))
    // ONE filtered multi-column pass over the boundary/degraded files,
    // folded through the stage pass's own serialization (zser) so
    // merged bounds compare in the same domain as stored ones
    val scanRow: Option[org.apache.spark.sql.Row] =
      if (toScan.isEmpty) None
      else {
        val windowed = readActive(spark, root, at, toScan)
          .filter(col(keyCol) >= lit(lo) && col(keyCol) <= lit(hi))
        val aggs = want.flatMap { c =>
          val k = kindOf(c)
          Seq(zser(k, min(col(c))).as(s"__lo__$c"),
            zser(k, max(col(c))).as(s"__hi__$c"),
            sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__n__$c"),
            (if (k == "long")
              sum(col(c).cast(org.apache.spark.sql.types.DecimalType(38, 0)))
                .cast("string")
            else lit(null).cast("string")).as(s"__s__$c"))
        } :+ count(lit(1)).as("__n_rows")
        Some(windowed.agg(aggs.head, aggs.tail: _*).head())
      }
    // sum-based scan fields are NULL over zero rows (a straddler
    // whose interval overlaps the window but whose actual rows all
    // miss it) — read them null-safely; count(*) alone never nulls
    def scanLong(r: org.apache.spark.sql.Row, field: String): Long = {
      val i = r.fieldIndex(field)
      if (r.isNullAt(i)) 0L else r.getLong(i)
    }
    val scanRows: Long =
      scanRow.fold(0L)(r => r.getLong(r.fieldIndex("__n_rows")))
    val nRowsTotal = served.map(p =>
      usable(p, want.headOption.getOrElse(keyCol))
        .flatMap(_.nRows) // every usable row carries the file's n_rows
        .getOrElse(0L)).sum + scanRows
    val ord = (k: String) => Ordering.fromLessThan[String](
      (a, b) => zcmp(k, a, b) < 0)
    val out = want.map { c =>
      val k = kindOf(c)
      val zs = served.flatMap(p => usable(p, c))
      val nNulls = zs.map(_.nNulls.get).sum +
        scanRow.fold(0L)(scanLong(_, s"__n__$c"))
      val bounds = zs.collect { case z if z.lo.isDefined =>
        (z.lo.get, z.hi.get) } ++
        scanRow.toSeq.collect { case r
          if !r.isNullAt(r.fieldIndex(s"__lo__$c")) =>
          (r.getString(r.fieldIndex(s"__lo__$c")),
            r.getString(r.fieldIndex(s"__hi__$c"))) }
      val (loS, hiS) =
        if (bounds.isEmpty) (null: String, null: String)
        else (bounds.map(_._1).min(ord(k)), bounds.map(_._2).max(ord(k)))
      val sumS: String =
        if (k != "long") null
        else {
          val parts = zs.collect {
            case z if z.nNulls != z.nRows => BigDecimal(z.sum.get) } ++
            scanRow.toSeq.collect { case r
              if !r.isNullAt(r.fieldIndex(s"__s__$c")) =>
              BigDecimal(r.getString(r.fieldIndex(s"__s__$c"))) }
          if (parts.isEmpty) null
          else parts.sum.bigDecimal.toPlainString
        }
      org.apache.spark.sql.Row(c, k, nRowsTotal, nNulls, loS, hiS, sumS)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("scol",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("kind",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("n_rows",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_nulls",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("lo_s",
        org.apache.spark.sql.types.StringType, nullable = true),
      org.apache.spark.sql.types.StructField("hi_s",
        org.apache.spark.sql.types.StringType, nullable = true),
      org.apache.spark.sql.types.StructField("sum_s",
        org.apache.spark.sql.types.StringType, nullable = true)))
    Some(spark.createDataFrame(
      java.util.Arrays.asList(out: _*), schema))
  }

  /** METADATA-ONLY TABLE PROFILE: per-column completeness,
    * cardinality and range for every FULLY-COVERED column of the
    * snapshot at `asOf`, computed from the zone-map sidecars alone —
    * zero data files opened ([[graft.operators.Profile.profile]] is
    * the scan-based face; this is what a 100 TB catalog browser
    * shows without launching a job). A column is covered when EVERY
    * active file carries its stats row with known row/null counts;
    * uncovered columns are simply absent (the scan face serves
    * them), an all-null era leaves min/max null, and `est_distinct`
    * is non-null only where every file carries a sane HLL bank
    * ([[stageWithZoneMap]]'s `sketchCols`). Bounds are returned in
    * the sidecar's own order-preserving serialization (`kind` says
    * which). Declines entirely (None) when delete sidecars are in
    * force — per-file stats describe pre-delete rows. Output sorted
    * by col_name: (col_name, kind, n_rows, n_nulls, lo, hi,
    * est_distinct). */
  def metadataProfile(spark: SparkSession, root: String,
                      asOf: Option[Long] = None): Option[DataFrame] = {
    import org.apache.spark.sql.functions._
    val s = state(spark, root, asOf)
    if (s.deletes.nonEmpty) return None
    val activeSet = s.fileRefs.toSet
    val zones = collectZoneRows(spark, root, s)
      .filter(z => activeSet(z.file))
    val m = graft.functions.Sketches.M
    // a bound must PARSE under its kind's comparator before the fold
    // touches it — a foreign row's garbage must skip the column, not
    // throw mid-profile or mis-sort
    def zparses(kind: String, s: String): Boolean = kind match {
      case "string" => true
      case "double" =>
        try { s.toDouble; true } catch { case _: NumberFormatException => false }
      case "decimal" =>
        try { BigDecimal(s); true } catch { case _: NumberFormatException => false }
      case _ =>
        try { s.toLong; true } catch { case _: NumberFormatException => false }
    }
    val perCol = zones.groupBy(_.scol).toSeq.flatMap { case (c, rows0) =>
      // one row per file: counts must not double on a re-listed
      // sidecar (bank merging is idempotent, sums are not) — and
      // CONFLICTING duplicates for one file skip the column entirely
      // (an order-of-listing arbitrary pick would report a foreign
      // row's counts as exact facts; the scan faces stay available)
      val byFile = rows0.groupBy(_.file)
      val consistent = byFile.values.forall(dups =>
        dups.forall(z => (z.kind, z.nRows, z.nNulls, z.lo, z.hi) ==
          (dups.head.kind, dups.head.nRows, dups.head.nNulls,
            dups.head.lo, dups.head.hi)))
      val rows = byFile.values.map(_.head).toSeq
      val kinds = rows.map(_.kind).distinct
      // covered: one stats row per active file, counts known, ONE
      // kind across eras (a column restaged under a different type
      // cannot fold its bounds under either comparator), bounds sane
      val covered = consistent &&
        byFile.keySet == activeSet && kinds.length == 1 &&
        rows.forall(z => z.nRows.isDefined && z.nNulls.isDefined) &&
        rows.forall(z => (z.lo.toSeq ++ z.hi.toSeq)
          .forall(zparses(kinds.head, _)))
      if (!covered) None
      else {
        val kind = kinds.head
        val n = rows.iterator.map(_.nRows.get).sum
        val nulls = rows.iterator.map(_.nNulls.get).sum
        val los = rows.flatMap(_.lo)
        val his = rows.flatMap(_.hi)
        val lo = if (los.isEmpty) null
                 else los.reduce((a, b) => if (zcmp(kind, a, b) <= 0) a else b)
        val hi = if (his.isEmpty) null
                 else his.reduce((a, b) => if (zcmp(kind, a, b) >= 0) a else b)
        val bank = new Array[Long](m)
        // duplicates that agree on stats but DISAGREE on the bank:
        // counts stay exact, but the estimate would ride an arbitrary
        // pick — report it null (unsketched) instead
        val sketched =
          byFile.values.forall(dups => dups.map(_.hll).distinct.length == 1) &&
          rows.forall(z => z.hll.exists(mergeBankInto(_, bank)))
        Some((c, kind, n, nulls, lo, hi,
          if (sketched) bank.toSeq else null))
      }
    }
    if (perCol.isEmpty) return None
    val withEst = spark.createDataFrame(
      java.util.Arrays.asList(perCol.map { case (c, k, n, nl, lo, hi, b) =>
        org.apache.spark.sql.Row(c, k, n, nl, lo, hi, b) }: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("col_name",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("kind",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("n_rows",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("n_nulls",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("lo",
          org.apache.spark.sql.types.StringType, nullable = true),
        org.apache.spark.sql.types.StructField("hi",
          org.apache.spark.sql.types.StringType, nullable = true),
        org.apache.spark.sql.types.StructField("regs",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType, containsNull = false),
          nullable = true))))
    Some(withEst.select(col("col_name"), col("kind"),
        col("n_rows"), col("n_nulls"), col("lo"), col("hi"),
        when(col("regs").isNotNull,
          graft.functions.Sketches.hllEstimate(col("regs")))
          .as("est_distinct"))
      .orderBy(col("col_name")))
  }

  /** One pushed predicate [[TableLogFileIndex]] can prune with, in
    * typed-stats space. */
  private[operators] sealed trait ZPredicate
  /** A DISJUNCTION of closed typed intervals on one column — one
    * element for a plain comparison/range, one POINT interval per
    * value for `col IN (...)` (the reference's hottest read is a
    * batch of exact keys: web_api.py:147-190 loops a Query per
    * preference key; consumer.py batch-gets). A file survives when
    * ANY disjunct may touch it. An empty disjunct list (an IN of only
    * NULLs) prunes nothing — conservative; the row filter finishes
    * the job. */
  private[operators] final case class ZIntervals(scol: String, kind: String,
      disjuncts: Seq[(Option[String], Option[String])]) extends ZPredicate
  /** `col IS NULL`: prunes files whose stats PROVE zero nulls on the
    * column (the n_nulls sidecar stat). */
  private[operators] final case class ZIsNull(scol: String) extends ZPredicate
  /** `col IS NOT NULL`: prunes files whose stats PROVE every row is
    * null on the column (`n_nulls == n_rows`). Catalyst pushes an
    * IsNotNull beside nearly every comparison filter, so at 100 TB
    * this silently skips the all-null files of a sparse optional
    * column on EVERY query that touches it. */
  private[operators] final case class ZIsNotNull(scol: String) extends ZPredicate
  /** A DISJUNCTION of two translated conjunctions — `Or(l, r)` where
    * BOTH sides translated (an untranslatable side would survive
    * every file, making the whole Or prune nothing). A file survives
    * when it survives EITHER side: pruning under Or is sound exactly
    * when the file is provably missed by both branches. Covers the
    * outside-a-window shape (`ts < a OR ts > b`) and cross-column
    * disjunctions the In rewrite never sees. */
  private[operators] final case class ZOr(left: Seq[ZPredicate],
      right: Seq[ZPredicate]) extends ZPredicate

  /** THE file-pruning rule — [[TableLogFileIndex]]'s planning hook and
    * the touched-set planner of [[replaceWhere]], [[deleteWhere]] and
    * the metadata range faces: the files of `active` that a
    * CONJUNCTION of [[ZPredicate]]s may touch, against PRE-COLLECTED
    * `zones`. Interval predicates consult only stats rows naming the
    * column with the predicate's kind (all bounds closed, absent stats
    * read conservatively; stale rows for removed files never match an
    * active file), disjunctions as the union of their disjuncts'
    * survivor sets (files without stats survive every disjunct, so the
    * union stays conservative).
    * IS NULL prunes only files with a PROVEN zero null count.
    * Predicates on columns without stats simply don't prune. Pure
    * driver-side interval checks — the index collects the state once
    * at construction and calls this per planning pass; a k-point IN
    * costs O(k × #zone-rows) driver work, the same order as the
    * per-key Query loop it replaces, on metadata instead of data. */
  private[operators] def pruneWithStats(active: Seq[String],
      zones: Array[ZStat],
      preds: Seq[ZPredicate]): Seq[String] =
    preds.foldLeft(active) {
      case (files, ZIntervals(_, _, ds)) if ds.isEmpty => files
      case (files, ZIntervals(c, kind, ds)) =>
        // ONE pass over the zone rows for the whole disjunction
        // (k-point INs must not rescan and resort the file list per
        // point): a file prunes iff every matching row is bounded and
        // its interval misses EVERY disjunct — ∀row ∀disjunct miss,
        // which is exactly "pruned under each disjunct independently"
        // since rows and disjuncts are independent.
        val matching = zones.filter(z => z.kind == kind && z.scol == c)
        val activeSet = files.toSet
        val byFile = matching.filter(z => activeSet(z.file)).groupBy(_.file)
        val pruned = byFile.collect { case (p, zs)
          if zs.forall(z => (z.lo, z.hi) match {
            case (Some(l), Some(h)) => ds.forall { case (qlo, qhi) =>
              qlo.exists(q => zcmp(kind, h, q) < 0) ||
                qhi.exists(q => zcmp(kind, l, q) > 0) }
            // an UNBOUNDED row (min/max absent) can still prove a
            // miss: n_nulls == n_rows means every row is NULL, and
            // NULL satisfies no interval — the all-null file of a
            // sparse optional column prunes under any range on it
            case _ => z.nRows.isDefined && z.nNulls == z.nRows
          }) => p
        }.toSet
        files.filterNot(pruned)
      case (files, ZIsNull(c)) =>
        // a stats row is a fact about its whole immutable file: one
        // row naming this column with n_nulls = 0 proves no row of the
        // file satisfies IS NULL
        val allNonNull = zones.collect {
          case z if z.scol == c && z.nNulls.contains(0L) => z.file
        }.toSet
        files.filterNot(allNonNull)
      case (files, ZIsNotNull(c)) =>
        // dual of IS NULL: n_nulls == n_rows proves EVERY row is null
        // on the column, so no row satisfies IS NOT NULL
        val allNull = zones.collect {
          case z if z.scol == c && z.nRows.isDefined &&
            z.nNulls == z.nRows => z.file
        }.toSet
        files.filterNot(allNull)
      case (files, ZOr(l, r)) =>
        // a file prunes under Or(l, r) iff it is provably missed by
        // BOTH branches — survivors are the union of each branch's
        // survivors over the same incoming set (each branch is itself
        // a conjunction, recursively pruned)
        val kl = pruneWithStats(files, zones, l).toSet
        val kr = pruneWithStats(files, zones, r).toSet
        files.filter(f => kl(f) || kr(f))
    }

  /** The INCLUSION dual of [[pruneWithStats]]: the files of `active`
    * whose stats PROVE every row matches the conjunction — the
    * arithmetic license for counting a file's rows toward a filtered
    * top-k ([[TableLogFileIndex.topKSurvivorsFiltered]]) without
    * opening it. Proof obligations per predicate:
    *  - interval disjunction: the file's bounds exist, its NULL count
    *    is a known ZERO (a null row matches no interval), and one
    *    disjunct CONTAINS [lo, hi] — the predicates must come from
    *    [[TableLogFileIndex.fullRangesOf]], whose bounds are exact
    *    (an exclusion-style conservative closing would over-count);
    *  - IS NOT NULL: known zero nulls; IS NULL: all-null proof;
    *  - Or: either branch's conjunction proves full.
    * Duplicate stats rows must ALL prove it (conflicting foreign rows
    * fail closed). No proof → the file simply isn't in the returned
    * set; callers treat it as contributing zero known rows. */
  private[operators] def fullMatchWithStats(active: Seq[String],
      zones: Array[ZStat],
      preds: Seq[ZPredicate]): Set[String] = {
    // group ONCE: a per-(file, predicate) linear rescan of the zone
    // array would make this O(files × zones) inside an optimizer rule
    val byFileCol: Map[(String, String), Seq[ZStat]] = zones.toSeq
      .groupBy(z => (z.file, z.scol))
    def rowsFor(file: String, c: String): Seq[ZStat] =
      byFileCol.getOrElse((file, c), Nil)
    def proven(file: String, p: ZPredicate): Boolean = p match {
      case ZIntervals(_, _, ds) if ds.isEmpty => false
      case ZIntervals(c, kind, ds) =>
        val zs = rowsFor(file, c).filter(_.kind == kind)
        zs.nonEmpty && zs.forall(z =>
          z.nNulls.contains(0L) && ((z.lo, z.hi) match {
            case (Some(l), Some(h)) => ds.exists { case (qlo, qhi) =>
              qlo.forall(q => zcmp(kind, l, q) >= 0) &&
                qhi.forall(q => zcmp(kind, h, q) <= 0) }
            case _ => false
          }))
      case ZIsNull(c) =>
        val zs = rowsFor(file, c)
        zs.nonEmpty && zs.forall(z => z.nRows.isDefined && z.nNulls == z.nRows)
      case ZIsNotNull(c) =>
        val zs = rowsFor(file, c)
        zs.nonEmpty && zs.forall(_.nNulls.contains(0L))
      case ZOr(l, r) =>
        l.forall(proven(file, _)) || r.forall(proven(file, _))
    }
    active.filter(f => preds.forall(proven(f, _))).toSet
  }

  /** The stats columns a predicate-scoped REWRITE must re-declare for
    * its restaged files: every column the rewritten files' existing
    * zone rows covered beyond the cluster key — without this, a
    * deleteWhere/replaceWhere boundary rewrite would silently drop
    * secondary-column stats and later reads on those columns would
    * degrade to conservative scans with no signal. Intersected with
    * the outgoing frame's columns defensively (a column can only
    * vanish on a format misuse; losing its stats is the conservative
    * outcome, never an error). */
  private def rewriteStatsCols(zones: Array[ZStat], rewritten: Seq[String],
                               keyCol: String,
                               outCols: Seq[String]): Seq[String] = {
    val files = rewritten.toSet
    zones.filter(z => files(z.file)).map(_.scol).distinct
      .filterNot(_ == keyCol).filter(outCols.contains).toSeq
  }

  /** Sketch-coverage twin of [[rewriteStatsCols]]: the columns whose
    * outgoing zone rows carried an HLL bank on any rewritten file —
    * a rewrite re-declares them so [[metadataDistinct]] stays
    * answerable across OPTIMIZE / boundary rewrites (recomputed banks
    * describe the SURVIVING rows, so the merged estimate stays
    * correct after a delete, not merely available). */
  private def rewriteSketchCols(zones: Array[ZStat], rewritten: Seq[String],
                                outCols: Seq[String]): Seq[String] = {
    val files = rewritten.toSet
    zones.filter(z => files(z.file) && z.hll.isDefined)
      .map(_.scol).distinct.filter(outCols.contains).toSeq
  }

  /** RANGE read with ZONE-MAP file skipping: the snapshot at `asOf`
    * restricted to `lo <= keyCol <= hi` — a plain filter over the
    * planner-pruned [[snapshot]] relation, whose
    * [[TableLogFileIndex]] drops every file whose stats interval on
    * `keyCol` misses [lo, hi] inside Catalyst. Bounds are any type
    * `lit` accepts (integral, String, LocalDate/sql.Date,
    * Instant/sql.Timestamp, Double, decimal); files without matching
    * stats read conservatively, and `idCol` applies delete sidecars
    * exactly as [[snapshot]] does. */
  def snapshotWhere(spark: SparkSession, root: String, keyCol: String,
                    lo: Any, hi: Any, asOf: Option[Long] = None,
                    idCol: Option[String] = None): DataFrame =
    snapshot(spark, root, asOf, idCol)
      .filter(col(keyCol) >= lit(lo) && col(keyCol) <= lit(hi))

  /** The smallest string STRICTLY greater than every string with
    * prefix `p`, if one is expressible: increment the last
    * incrementable char. Restricted to ASCII tails (the keys this
    * format serves are `source:<s>:genre:<g>`-style composites) —
    * a non-ASCII last char yields None = no upper bound, so the scan
    * stays conservative rather than risking UTF-8-vs-UTF-16 order
    * disagreements at the boundary. */
  private[operators] def prefixSucc(p: String): Option[String] = {
    val i = p.lastIndexWhere(c => c < 0x7f)
    if (i < 0) None
    else Some(p.substring(0, i) + (p.charAt(i) + 1).toChar)
  }

  /** PREFIX scan with zone-map file skipping — the `begins_with` key
    * read of the reference's web API (web_api.py:50-76 queries
    * DynamoDB with `Key(...).begins_with(prefix)`): the snapshot at
    * `asOf` restricted to `startswith(keyCol, prefix)`. The relation's
    * index translates the predicate to the string interval
    * [prefix, successor(prefix)) and reads only the files it
    * intersects — on a table range-clustered on the string key an
    * O(selectivity) read, the get_ref_data shape at 100 TB. */
  def snapshotPrefix(spark: SparkSession, root: String, keyCol: String,
                     prefix: String, asOf: Option[Long] = None,
                     idCol: Option[String] = None): DataFrame =
    snapshot(spark, root, asOf, idCol)
      .filter(col(keyCol).startsWith(prefix))

  /** REPLACE WHERE — atomically overwrite exactly the rows with
    * `lo <= keyCol <= hi` (the Delta `replaceWhere` shape, the
    * idempotent-backfill primitive: "recompute this day/key-range and
    * swap it in"): only files whose zone interval intersects the
    * range are read ([[pruneWithStats]] — at 100 TB a backfill of
    * one key range rewrites O(selectivity) of the table, not all of
    * it); their OUT-of-range rows survive into a fresh
    * range-clustered, zone-mapped stage together with the
    * replacement, and one atomic commit swaps the touched files out.
    * Untouched files — and their zone maps — are never rewritten.
    * Bounds are any [[zbound]]-supported type (integral, String,
    * LocalDate/sql.Date, Instant/sql.Timestamp, Double, decimal) —
    * the date-keyed "recompute this day" backfill included.
    * Refuses replacement rows OUTSIDE the range (they would silently
    * widen the overwrite — the classic replaceWhere footgun) and
    * outstanding delete sidecars (rewriting files while sidecars are
    * in force would resurrect deleted rows; [[compactTable]] first).
    *
    * `asOf` pins the READ VERSION the replacement was derived from
    * (GraftSql's UPDATE builds its slice from a version-pinned
    * snapshot BEFORE calling in): the conflict guard then covers
    * every commit after that pin — without it, a commit landing
    * between the caller's read and this re-read would have its
    * in-range rows silently dropped by the rewrite (the guard only
    * rejects adds after ITS OWN readV). Returns the new version. */
  def replaceWhere(spark: SparkSession, root: String, keyCol: String,
                   lo: Any, hi: Any, replacement: DataFrame,
                   name: String, parts: Int,
                   asOf: Option[Long] = None): Long = {
    import org.apache.spark.sql.functions._
    val (window, _) = zwindow("replaceWhere", keyCol, lo, hi)
    // the sidecar guard and the plan read ONE state, at the read version
    val read = state(spark, root, asOf)
    require(read.deletes.isEmpty,
      s"TableLog.replaceWhere: $root has delete sidecars in force — " +
        "compactTable first so the rewrite cannot resurrect deleted rows")
    // NULL keys are outside every range: as replacement rows they are
    // refused (they cannot satisfy the predicate), and in touched
    // files they SURVIVE (isNull below) — a silent drop of null-key
    // rows is the classic three-valued-logic rewrite bug
    require(replacement.filter(col(keyCol).isNull ||
        col(keyCol) < lit(lo) || col(keyCol) > lit(hi)).isEmpty,
      s"TableLog.replaceWhere: replacement rows outside [$lo, $hi] on " +
        s"'$keyCol' (or with NULL key) — they would widen the " +
        "overwrite beyond the predicate")
    if (read.version < 0) sys.error(s"TableLog.replaceWhere: empty log at $root")
    val readV = asOf.getOrElse(read.version)
    val zones = collectZoneRows(spark, root, read)
    val touched = pruneWithStats(read.fileRefs, zones, window)
    val survivors =
      if (touched.isEmpty) replacement.limit(0)
      else readActive(spark, root, Some(readV), touched)
        .filter(col(keyCol).isNull || col(keyCol) < lit(lo) ||
          col(keyCol) > lit(hi))
    val (files, zm) = stageWithZoneMap(
      survivors.unionByName(replacement), root, name, keyCol, parts,
      statsCols = rewriteStatsCols(zones, touched, keyCol,
        replacement.columns.toSeq),
      sketchCols = rewriteSketchCols(zones, touched,
        replacement.columns.toSeq))
    // a concurrent blind append could land rows inside [lo, hi] that
    // this rewrite never saw — any add since the read conflicts (the
    // zone-described-disjoint relaxation would need the added file's
    // stats read inside the claim; conservative is correct)
    commit(spark, root, add = files, remove = touched, zmap = zm,
      op = Some("REPLACE_WHERE"),
      expectActive = touched, expectDeletes = Some(Nil),
      expectNoConflictingAdds = Some((readV, _ => true)))
  }

  /** DELETE WHERE — atomically remove exactly the rows with
    * `lo <= keyCol <= hi` (the Delta `DELETE WHERE` shape; the TTL /
    * retention / compliance purge — usually DATE-keyed, e.g.
    * `deleteWhere(..., LocalDate.of(2020,1,1), LocalDate.of(2020,12,31),
    * ...)`; bounds are typed like [[replaceWhere]]'s): files whose
    * zone interval lies FULLY inside the range AND carry no NULL keys
    * drop by PURE METADATA ([[fullMatchWithStats]]) — zero I/O, the
    * log entry just de-references them — while straddling (or
    * stats-less) files rewrite their survivors only. At 100 TB,
    * purging a retention window over a range-clustered table costs
    * O(two boundary files), not O(window): every interior file is a
    * metadata drop. NULL-key rows always survive (NULL is outside
    * every range — [[replaceWhere]]'s three-valued contract), which
    * is exactly why the interval alone cannot prove a file droppable:
    * min/max skip NULLs, so the drop additionally requires the zone
    * map's `n_nulls = 0` (maps written before that stat — or by
    * [[cloneTable]] from such — read as unknown and rewrite
    * conservatively; correctness never depends on stats coverage).
    * Refuses outstanding delete sidecars like replaceWhere (rewriting
    * files under in-force sidecars would resurrect their rows;
    * [[compactTable]] first). Conflict-guarded on its read set.
    * Returns the new version, or the current one untouched when no
    * active file intersects the range.
    *
    * `feedIdCol`: when set, the purge commit carries a CHANGE-FEED
    * sidecar of the removed ids (status `removed`), so downstream
    * [[changes]] consumers and a [[graft.streaming.TableChangesSource]]
    * replica survive the purge O(delta) instead of failing feed-less.
    * A feed requires knowing WHICH ids vanish, so it costs one
    * column-pruned read of the window's touched files (O(window) on
    * two columns) — the DATA path still drops covered files by
    * metadata; pass None (the default) for the pure zero-I/O purge
    * when nothing tails the table. */
  def deleteWhere(spark: SparkSession, root: String, keyCol: String,
                  lo: Any, hi: Any, name: String, parts: Int,
                  feedIdCol: Option[String] = None): Long = {
    import org.apache.spark.sql.functions._
    val (window, emptyWindow) = zwindow("deleteWhere", keyCol, lo, hi)
    // ONE state: the sidecar guard below and the plan read the same
    // version
    val read = state(spark, root)
    if (read.version < 0) sys.error(s"TableLog.deleteWhere: empty log at $root")
    val readV = read.version
    // ONE zone-sidecar read plans the whole purge (touched set AND
    // the droppable classification)
    val zones = collectZoneRows(spark, root, read)
    val touched =
      if (emptyWindow) Seq.empty[String] // an empty window deletes nothing
      else pruneWithStats(read.fileRefs, zones, window)
    if (touched.isEmpty) readV // provably nothing in range: NO-OP
    else {
      // the rewrite below would resurrect sidecar-deleted rows; the
      // guard sits AFTER the no-op return so a non-intersecting
      // window stays side-effect-free even with sidecars in force
      require(read.deletes.isEmpty,
        s"TableLog.deleteWhere: $root has delete sidecars in force — " +
          "compactTable first so the rewrite cannot resurrect deleted rows")
      // provably-all-in-range files: interval inside [lo, hi] and a
      // KNOWN-zero null count (a None n_nulls — an older map — is
      // "unknown", never "zero")
      val droppable = fullMatchWithStats(touched, zones, window)
      val rewrite = touched.filterNot(droppable)
      // both reads below run only when needed: an all-droppable purge
      // without a feed must stay pure metadata — not even the
      // schema-ref replay runs
      val (files, zm) =
        if (rewrite.isEmpty) (Seq.empty[String], Seq.empty[String])
        else {
          val survivors = readActive(spark, root, Some(readV), rewrite)
            .filter(col(keyCol).isNull || col(keyCol) < lit(lo) ||
              col(keyCol) > lit(hi))
          // a straddler-by-stats file can still be all-in-range in
          // fact (stats-less, or interval-covered with unknown nulls
          // that turn out absent): nothing survives → pure drop
          if (survivors.isEmpty) (Seq.empty[String], Seq.empty[String])
          else stageWithZoneMap(survivors, root, name, keyCol, parts,
            statsCols = rewriteStatsCols(zones, rewrite, keyCol,
              survivors.columns.toSeq),
            sketchCols = rewriteSketchCols(zones, rewrite,
              survivors.columns.toSeq))
        }
      val cdfSeq = feedIdCol.fold(Seq.empty[String]) { idc =>
        // the feed's one honest cost: a column-pruned scan of the
        // touched files for the vanishing ids (droppable files
        // included — the DATA path still never rewrites them)
        val removed = readActive(spark, root, Some(readV), touched)
          .filter(col(keyCol) >= lit(lo) && col(keyCol) <= lit(hi))
          .select(col(idc), lit("removed").as("status"))
        stageFeed(removed, root, name)
      }
      commit(spark, root, add = files, remove = touched, zmap = zm,
        cdf = cdfSeq, op = Some("DELETE_WHERE"),
        expectActive = touched, expectDeletes = Some(Nil),
        expectNoConflictingAdds = Some((readV, _ => true)))
    }
  }

  /** Stage a ROW-LINEAGE change-feed sidecar — a frame of
    * (idCol, status ∈ added/removed/changed) describing exactly the
    * rows a commit touches — under `cdf/<name>-<uuid>/`, returning
    * root-relative paths for [[commit]]'s `cdf` parameter. With the
    * sidecar present, [[changes]] serves that version's feed by
    * READING THE SIDECAR — O(delta) — instead of diffing two
    * snapshots (O(table) per step). The committer knows its
    * adds/removes at commit time, so the sidecar costs one pass over
    * the delta it already holds (the DynamoDB-Streams shape: the
    * reference's enrichment trigger consumes exactly such a
    * commit-time feed). */
  def stageFeed(diff: DataFrame, root: String, name: String): Seq[String] = {
    require(diff.columns.length == 2 && diff.columns.contains("status"),
      s"stageFeed needs (idCol, status), got ${diff.columns.mkString(",")}")
    stageUnder(diff, root, "cdf", name)
  }

  /** Commit a file-level add/remove WITH its row-lineage sidecar,
    * computed at commit time from the rows going out (`before` — the
    * content of the removed files) and in (`after` — the content of
    * the added files). Restricting the diff to the touched files is
    * exact: rows living in untouched files appear in neither frame,
    * and a row rewritten identically diffs to `same` and is dropped —
    * so the sidecar is the full-snapshot diff at O(delta) cost. */
  def commitWithFeed(spark: SparkSession, root: String,
                     add: Seq[String], remove: Seq[String],
                     before: DataFrame, after: DataFrame,
                     idCol: String, contentCol: String,
                     name: String): Long = {
    val diff = Versioning.datasetDiff(before, after, idCol, contentCol)
    commit(spark, root, add, remove, cdf = stageFeed(diff, root, name),
      op = Some("WRITE"))
  }

  /** [[commitDeletes]] WITH a row-lineage sidecar: `ids` must be
    * exactly the ids PRESENT in the current snapshot (the deleter
    * knows its victims — an over-approximate id list would record
    * removals that never happened; use [[commitDeletes]] +
    * snapshot-diff [[changes]] when exactness is unknowable). */
  def commitDeletesWithFeed(ids: DataFrame, root: String,
                            name: String): Long = {
    val spark = ids.sparkSession
    val idCol = ids.columns.head
    val feed = ids.select(col(idCol),
      org.apache.spark.sql.functions.lit("removed").as("status"))
    commit(spark, root, add = Nil, remove = Nil,
      deletes = stageUnder(ids, root, "data", s"deletes/$name"),
      cdf = stageFeed(feed, root, name), op = Some("DELETE"))
  }

  /** CHANGE DATA FEED: per-version row-level changes between
    * `fromV` (exclusive) and `toV` (inclusive) — (version, id,
    * status ∈ added/removed/changed) — the downstream-sync primitive
    * ("what do I reprocess since the version my index was built at?",
    * composing with the q97/q118/q125 delta appliers).
    *
    * Versions committed WITH a row-lineage sidecar
    * ([[commitWithFeed]] / [[commitDeletesWithFeed]]) serve their
    * step by reading the sidecar — O(delta) per step, the table is
    * never re-read (ScaleOpsSpec asserts the plan's input files are
    * sidecars only). An INSERT-ONLY version whose `cdf` refs equal its
    * `add` refs (non-empty) serves its step from those add files as
    * `select(idCol, lit("added") as status)` — Delta's rule for
    * insert-only commits, whose change feed is read from the add
    * files: O(delta) too, and the sink never wrote a second copy of
    * its ids. The rule is keyed on ref equality, never on column
    * names, so a table with its own `status` column still reads
    * `added` there. Versions without a feed fall back to diffing the
    * two adjacent snapshots with [[Versioning.datasetDiff]] —
    * O(#steps × table) worst case, O(changed files) when commits
    * replace few files — so pre-feed tables stay fully queryable.
    * `requireFeed = true` makes a feed-less version an ERROR instead:
    * the contract of a continuous consumer
    * ([[graft.streaming.TableChangesSource]]) is O(delta) per step,
    * and a silent O(table) diff inside a streaming trigger is the
    * failure mode it exists to prevent. */
  def changes(spark: SparkSession, root: String, fromV: Long, toV: Long,
              idCol: String, contentCol: String,
              requireFeed: Boolean = false): DataFrame = {
    val f = fs(spark, root)
    val committed = versions(spark, root)
    val vs = committed.filter(v => v > fromV && v <= toV)
    require(vs.nonEmpty, s"TableLog.changes: no versions in ($fromV, $toV]")
    // CONTINUITY: versions are claimed consecutively, so a hole in
    // (fromV, toV] below the latest committed version means
    // [[expireLog]] removed entries this range needs — a consumer
    // that lagged past log retention must ERROR, never silently skip
    // the expired versions' changes (the replica would diverge with
    // no signal)
    val ceiling = math.min(toV, committed.last)
    val missing = ((fromV + 1) to ceiling).filterNot(vs.contains)
    require(missing.isEmpty,
      s"TableLog.changes: versions ${missing.mkString(",")} of $root " +
        s"were expired below a checkpoint (log retention has passed " +
        "them) — this consumer lagged past the retention horizon and " +
        "must re-seed from a snapshot, not skip changes")
    vs.map { v =>
      val e = readEntry(f, entryPath(root, v))
      val step =
        if (e.cdf.nonEmpty) {
          val paths = e.cdf.map(resolve(root, _))
          val feed = spark.read.schema(ParquetMeta.schema(spark, paths: _*))
            .parquet(paths: _*)
          require(feed.columns.contains(idCol),
            s"TableLog.changes: change feed of v$v lacks id column " +
              s"'$idCol' (has ${feed.columns.mkString(",")})")
          if (e.cdf == e.add) feed.select(col(idCol), lit("added").as("status"))
          else feed
        } else if (requireFeed) sys.error(
          s"TableLog.changes: version $v of $root has no change-feed " +
            "sidecar and requireFeed is set — commit through " +
            "commitWithFeed/commitDeletesWithFeed, or read with " +
            "requireFeed=false to accept an O(table) snapshot diff")
        else Versioning.datasetDiff(
          snapshot(spark, root, Some(v - 1), Some(idCol)),
          snapshot(spark, root, Some(v), Some(idCol)),
          idCol, contentCol)
      step.withColumn("version", org.apache.spark.sql.functions.lit(v))
        .select(col("version"), col(idCol), col("status"))
    }.reduce(_.unionByName(_))
  }

  /** Delete files no longer referenced by ANY retained version — the
    * storage-reclaim step. Keeps every data file AND delete sidecar
    * some version ≥ `retainFrom` still reads (so those snapshots stay
    * fully servable) and deletes the rest: files replaced before the
    * horizon, and sidecars retired by a [[compactTable]] reset the
    * horizon has passed. Returns the deleted root-relative paths.
    * `dryRun = true` (the Delta `VACUUM ... DRY RUN` shape) returns
    * the SAME doomed list while deleting nothing — audit what a
    * retention horizon costs (which versions become unrestorable,
    * how many files go) before committing to it. */
  def vacuum(spark: SparkSession, root: String, retainFrom: Long,
             dryRun: Boolean = false): Seq[String] = {
    val f = fs(spark, root)
    val (vs, cps) = listLog(f, root)
    val retained = vs.filter(_ >= retainFrom)
    // an empty horizon would compute an empty keep set and delete
    // every file the CURRENT snapshot reads — refuse instead
    require(retained.nonEmpty,
      s"TableLog.vacuum: no committed version >= $retainFrom at $root " +
        s"(latest: ${vs.lastOption.getOrElse(-1L)}) — nothing would be " +
        "retained and the live snapshot would be destroyed")
    val entries = vs.map(v => readEntry(f, entryPath(root, v)))
    // what ANY retained version reads, folded forward ONCE: the state
    // at the horizon (the schema IN FORCE there may live in a
    // pre-horizon commit — kept while a retained version reads through
    // it), plus each retained entry's adds, delete sidecars and schema
    // ref — every one is in force at its own version. Change-feed
    // sidecars belong to their own commit: retained versions keep
    // theirs (so changes() over the retained range stays servable);
    // pre-horizon feeds reclaim with their data files
    val horizon = state(spark, root, Some(retained.head))
    val keep = (horizon.fileRefs ++ horizon.deletes ++ horizon.schemaRef ++
      entries.filter(_.version >= retained.head)
        .flatMap(e => e.add ++ e.deletes ++ e.schema ++ e.cdf ++ e.zmap)).toSet
    // a zone map follows its DATA files: doomed only when every file
    // its commit added is gone from all retained versions (readers
    // existence-filter zmap paths, so a reclaimed map degrades to a
    // conservative unpruned read, never an error)
    // checkpoints stand in for their expired entries: a file added
    // pre-horizon but removed later is referenced by NO surviving
    // entry's add list — only the checkpoint knows it, and without
    // this it would leak on disk forever
    val cpRef = cps.flatMap { cv =>
      val c = readCheckpoint(f, root, cv)
      // a zone map follows its data files HERE too: a checkpoint-
      // folded zmap ref (its adding entry is expired, so the
      // entry-level guard above can't see it) becomes a reclaim
      // candidate only when NONE of the checkpoint's files is
      // retained — else a pre-horizon commit's map whose data files
      // are still active would be reclaimed and every later range
      // read / deleteWhere would silently degrade to a conservative
      // full scan
      val zm = if (c.fileRefs.exists(keep)) Nil else c.zmaps
      c.fileRefs ++ c.deletes ++ zm ++ c.schemaRef
    }
    // constraint sidecars (entry `checks` refs) are deliberately NOT
    // reclaimable: the in-force fold may read through pre-horizon
    // refs, and they are O(#constraint-changes) bytes — metadata, not
    // data
    val everRef = (entries.flatMap { e =>
      val zm = if (e.add.exists(keep)) Nil else e.zmap
      e.add ++ e.deletes ++ e.cdf ++ zm ++ e.schema
    } ++ cpRef).toSet
    // ABSOLUTE refs are files BORROWED from a clone's source table
    // ([[cloneTable]]) — this table never owns them, so its vacuum
    // must never reclaim them (the source's own vacuum does, under
    // the source's retention; see cloneTable's caveat)
    val doomed = (everRef -- keep).filterNot(_.startsWith("/")).toSeq.sorted
    if (!dryRun)
      doomed.foreach(rel => f.delete(new Path(resolve(root, rel)), false))
    doomed
  }

  /** MANIFEST-mode sweep: candidates come from the `_log/_stages/`
    * markers [[stageMarker]] wrote — O(#outstanding stages) tiny
    * reads + one stat each, NEVER a walk of the data tree. A marker
    * whose target is committed (referenced) or already gone is
    * retired on the spot, so the manifest stays bounded by the
    * in-flight/crashed stage count. Returns (doomed rel paths,
    * retired markers deleted even under dryRun=false only). */
  private def manifestOrphans(f: FileSystem, root: String,
                              referenced: Set[String], cutoff: Long,
                              absentCutoff: Long,
                              dryRun: Boolean): Seq[String] = {
    val dir = new Path(s"${logDir(root)}/_stages")
    // every directory prefix of every referenced path, so a marker's
    // target dir (possibly nested — data/deletes/<stage>) matches when
    // ANY file under it is referenced
    val refDirs = referenced.flatMap { p =>
      Iterator.iterate(p.lastIndexOf('/'))(i => p.lastIndexOf('/', i - 1))
        .takeWhile(_ > 0).map(p.substring(0, _)).toSet
    }
    // a target is deletable ONLY when it parses as a sane in-root
    // stage path: relative, the commit charset, no '.'/'..' segments,
    // under a staging subtree. A zero-byte marker (stageMarker crashed
    // between create and write) or a corrupt/hostile one must never
    // turn into a recursive delete of the root or of anything outside
    // it — the same escape validatePaths blocks on the commit path.
    def saneTarget(t: String): Boolean =
      t.nonEmpty && !t.startsWith("/") &&
        t.matches("[A-Za-z0-9._/=-]+") &&
        !t.split("/").exists(s => s == ".." || s == "." || s.isEmpty) &&
        Seq("data/", "zmap/", "cdf/", "schema/", "constraints/")
          .exists(t.startsWith)
    val doomed = Seq.newBuilder[String]
    f.listStatus(dir).toSeq.foreach { m =>
      val target = readFully(f, m.getPath).trim
      if (!saneTarget(target)) {
        // garbage marker: retire IT, touch nothing — on the ABSENT
        // horizon, not the data cutoff. A zero-byte marker is also
        // what a stageMarker stalled between create and content write
        // looks like: retire it on the short cutoff and a writer that
        // resumes (its content write lands in the unlinked file but
        // stageUnder still writes the data dir) leaves a staged dir no
        // future manifest sweep can see — the same leak class the
        // absent-target horizon exists to close. Keeping garbage a
        // little longer costs one tiny file.
        if (!dryRun && m.getModificationTime < absentCutoff)
          f.delete(m.getPath, false)
      } else {
        val tPath = new Path(resolve(root, target))
        val committed = referenced(target) || refDirs(target)
        val st = try Some(f.getFileStatus(tPath))
                 catch { case _: java.io.FileNotFoundException => None }
        (st, committed) match {
          case (None, _) =>
            // target absent. EITHER already cleaned up — retire — OR
            // the stage is mid-flight (stageMarker runs BEFORE the
            // data write; the dir may not exist for minutes): judge by
            // the MARKER's age against the SEPARATE, much longer
            // absent horizon — a writer stalled longer than olderThanMs
            // between marker and parquet write, whose dir then
            // materializes after a sweep retired the marker, would be
            // an orphan no future manifest sweep can see. The longer
            // horizon makes that window survive any plausible stall;
            // the cost of keeping an already-cleaned marker around is
            // one tiny manifest file, not data
            if (!dryRun && m.getModificationTime < absentCutoff)
              f.delete(m.getPath, false)
          case (_, true) => // committed: never an orphan again
            if (!dryRun) f.delete(m.getPath, false)
          case (Some(s), false) if s.getModificationTime < cutoff &&
              m.getModificationTime < cutoff =>
            doomed += target
            if (!dryRun) {
              f.delete(tPath, true)
              f.delete(m.getPath, false)
            }
          case _ => () // young un-committed stage: maybe still in flight
        }
      }
    }
    // reclaim now-emptied sidecar subdirectories exactly as the walk
    // mode does (a long-lived evolving stream's conflict-refused
    // attempts must not accumulate empty schema/<stream>/ dirs).
    // UNCONDITIONAL, like the walk mode's: a crash between a prior
    // pass's sidecar delete and its prune would otherwise leave an
    // empty dir no future sweep reclaims (the marker is already
    // gone). Bounded — these trees hold sidecars, not data.
    if (!dryRun) pruneEmptySidecarDirs(f, root)
    doomed.result().sorted
  }

  /** Reclaim ORPHANED staged directories — stage dirs whose commit
    * never happened (a crashed writer between [[stageWrite]] and
    * [[commit]], a conflict-refused rewrite that was not retried).
    * [[vacuum]] cannot see them: it reads the log, and an orphan is
    * by definition in NO entry — the one storage leak the log cannot
    * account for (the stageWrite scaladoc's "cost only storage until
    * manually cleaned"; Delta's VACUUM walks the directory for the
    * same reason). The sweep reads the `_log/_stages/` MANIFEST
    * [[stageMarker]] maintains — O(#outstanding stages), the data
    * tree is never listed; markers of committed or vanished targets
    * retire on the spot so the manifest stays bounded. `fullWalk =
    * true` forces the pre-manifest exhaustive walk (O(#files) —
    * the migration path for stages older than the manifest, and the
    * audit proving the manifest lost nothing). A stage dir is orphaned when
    * NONE of its files appear in any log entry or checkpoint
    * (add/remove/deletes/cdf/zmap — removed files are still
    * referenced history until vacuum reclaims them) AND its
    * modification time is older than `olderThanMs` — the age guard
    * keeps an in-flight stage→commit race out of the doomed set (pick
    * an horizon comfortably above your longest commit latency).
    * Un-referenced schema/constraint sidecar FILES (a crashed
    * [[evolveAppend]]) reclaim the same way. Returns the deleted
    * root-relative paths; `dryRun = true` returns the same list
    * deleting nothing (and skips the empty-dir prune) — the same
    * audit mode as [[vacuum]]'s. Markers whose TARGET does not exist
    * retire on the separate `absentOlderThanMs` horizon (default
    * 8 × olderThanMs, clamped to AT LEAST olderThanMs — a shorter
    * absent horizon would reintroduce the very race it closes) — long
    * enough that a writer stalled between marker and data write
    * cannot have its marker retired before the partial dir appears
    * (the one leak that would otherwise need a `fullWalk` audit to
    * find). Garbage/unparseable markers retire on the same long
    * horizon: a zero-byte marker may be a stageMarker mid-write. */
  def gcOrphans(spark: SparkSession, root: String,
                olderThanMs: Long, dryRun: Boolean = false,
                fullWalk: Boolean = false,
                absentOlderThanMs: Option[Long] = None): Seq[String] = {
    val f = fs(spark, root)
    val now = System.currentTimeMillis()
    val cutoff = now - olderThanMs
    // markers whose TARGET is absent retire on a much longer horizon
    // (default 8× olderThanMs): see manifestOrphans' absent case.
    // CLAMPED to at least olderThanMs — a caller passing a SHORTER
    // absent horizon would silently reintroduce the
    // retire-before-the-dir-appears race the parameter exists to
    // prevent (the marker is written BEFORE the data dir; its only
    // safe retirement horizons are ≥ the data one)
    val absentCutoff = now -
      math.max(absentOlderThanMs.getOrElse(8L * olderThanMs), olderThanMs)
    val (vs, cps) = listLog(f, root)
    val referenced: Set[String] = (vs.flatMap { v =>
      val e = readEntry(f, entryPath(root, v))
      e.add ++ e.remove ++ e.deletes ++ e.cdf ++ e.zmap ++ e.schema ++ e.checks
    } ++ cps.flatMap { cv =>
      val c = readCheckpoint(f, root, cv)
      c.fileRefs ++ c.deletes ++ c.zmaps ++ c.schemaRef ++ c.checks
    }).toSet
    // MANIFEST mode (the default whenever markers exist): sweep from
    // `_log/_stages/` at O(#stage entries) — the data tree is never
    // listed. `fullWalk = true` forces the exhaustive walk below: the
    // migration path for dirs staged before the manifest existed, and
    // the audit that proves the manifest lost nothing.
    if (!fullWalk && f.exists(new Path(s"${logDir(root)}/_stages")))
      return manifestOrphans(f, root, referenced, cutoff, absentCutoff,
        dryRun)
    // listStatus returns SCHEME-QUALIFIED paths (file:/...); compare
    // in scheme-free URI-path space or nothing matches the log's
    // root-relative refs and every committed dir looks orphaned
    val rootAbs = f.makeQualified(new Path(root)).toUri.getPath
    def rel(p: Path): String =
      p.toUri.getPath.stripPrefix(rootAbs).stripPrefix("/")
    // stage DIRS under data/ zmap/ cdf/: the unit of staging (and so
    // of orphanhood) is a `<name>-<uuid>` dir; container dirs that
    // are not themselves stages (data/deletes/) recurse so each
    // nested stage reclaims independently. A stage dir is orphaned
    // only when NO file in it is referenced.
    val StageDir = ".*-[0-9a-f]{8}".r
    def walk(p: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      f.listStatus(p).toSeq.flatMap(s =>
        if (s.isDirectory) walk(s.getPath) else Seq(s))
    def candidates(p: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      f.listStatus(p).toSeq.filter(_.isDirectory).flatMap { st =>
        if (StageDir.pattern.matcher(st.getPath.getName).matches()) Seq(st)
        else candidates(st.getPath)
      }
    val dirOrphans = Seq("data", "zmap", "cdf").flatMap { sub =>
      val d = new Path(s"$root/$sub")
      if (!f.exists(d)) Nil
      else candidates(d).flatMap { st =>
        val anyRef = walk(st.getPath).exists(s => referenced(rel(s.getPath)))
        if (!anyRef && st.getModificationTime < cutoff) Seq(st.getPath)
        else Nil
      }
    }
    // sidecar FILES under schema/ constraints/ — recursive, because
    // slash-bearing stage names (evolveAppend(df, root, "stream/b5"))
    // nest them in subdirectories
    val fileOrphans = Seq("schema", "constraints").flatMap { sub =>
      val d = new Path(s"$root/$sub")
      if (!f.exists(d)) Nil
      else walk(d).filter(s =>
        !referenced(rel(s.getPath)) && s.getModificationTime < cutoff)
        .map(_.getPath)
    }
    val doomed = (dirOrphans ++ fileOrphans).map(rel).sorted
    if (dryRun) return doomed // audit only: nothing reclaimed
    dirOrphans.foreach(p => f.delete(p, true))
    fileOrphans.foreach(p => f.delete(p, false))
    // reclaim now-EMPTY sidecar subdirectories (this pass's deletions
    // included) — see [[pruneEmptySidecarDirs]]
    pruneEmptySidecarDirs(f, root)
    doomed
  }

  /** Remove now-empty subdirectories under schema/ and constraints/:
    * a long-lived evolving stream whose conflict-refused attempts
    * orphan schema/<stream>/… sidecars would otherwise accumulate
    * empty dirs no path ever removes, inflating every future listing.
    * No age gate — an empty dir holds no data, and a concurrent stage
    * re-creates parents on write (FS create mkdirs). Shared by both
    * [[gcOrphans]] sweep modes. */
  private def pruneEmptySidecarDirs(f: FileSystem, root: String): Unit = {
    def pruneEmpty(p: Path): Boolean = {
      val live = f.listStatus(p).toSeq.count { s =>
        if (s.isDirectory) !pruneEmpty(s.getPath) else true
      }
      live == 0 && f.delete(p, false)
    }
    Seq("schema", "constraints").foreach { sub =>
      val d = new Path(s"$root/$sub")
      if (f.exists(d))
        f.listStatus(d).toSeq.filter(_.isDirectory)
          .foreach(s => pruneEmpty(s.getPath))
    }
  }

  /** SHALLOW CLONE (the Delta `CLONE` shape): materialize `dstRoot`
    * as an independent table whose first commit REFERENCES the source
    * table's active files at `asOf` IN PLACE — zero data I/O, O(log)
    * metadata — the zero-cost dev/test sandbox over a 100 TB table:
    * experiment with merges, deletes, compactions, schema evolution
    * on the clone while the source stays untouched, then drop the
    * clone root. Borrowed refs are written ABSOLUTE (resolved by
    * [[resolve]]); every write the clone makes afterwards stages
    * normal root-relative files, so the two kinds mix in one active
    * set and a [[compactTable]]/[[optimizeTable]] on the clone
    * rewrites it into fully-owned files (the "un-clone"). The
    * source's in-force ZONE MAPS are carried (re-keyed to the
    * borrowed refs — one tiny metadata parquet), so range reads prune
    * on the clone from the first query; the in-force SCHEMA is
    * re-staged into the clone (the JSON is bytes, not data). Delete
    * sidecars in force at `asOf` are borrowed like data files.
    *
    * Divergence is free in both directions: the clone's commits touch
    * only its own log, and source commits after the clone point are
    * invisible to it (its refs pin the exact files). CAVEAT (same as
    * Delta's): the clone's vacuum never touches borrowed files, but
    * the SOURCE's vacuum does not know about clones — vacuuming the
    * source past the cloned version reclaims files the clone still
    * reads (the clone's snapshot then fails loudly on the missing
    * file). Retain the source or compact the clone first. Same-
    * filesystem only (refs carry no URI scheme). Returns the clone's
    * version 0. */
  def cloneTable(spark: SparkSession, srcRoot: String, dstRoot: String,
                 asOf: Option[Long] = None,
                 tag: Option[String] = None): Long = {
    import org.apache.spark.sql.functions._
    val fDst = fs(spark, dstRoot)
    val (dstVersions, dstCheckpoints) = listLog(fDst, dstRoot)
    require(dstVersions.isEmpty && dstCheckpoints.isEmpty,
      s"TableLog.cloneTable: $dstRoot already has a log — clone only " +
        "into a fresh root (the clone's history starts at its v0)")
    val fSrc = fs(spark, srcRoot)
    val src = state(spark, srcRoot, asOf)
    if (src.version < 0) sys.error(s"TableLog.cloneTable: empty log at $srcRoot")
    // absolutize the source root once so borrowed refs resolve from
    // the clone's root regardless of the working directory
    val srcAbs = fSrc.makeQualified(new Path(srcRoot)).toUri.getPath
    def borrow(rel: String): String =
      if (rel.startsWith("/")) rel else s"$srcAbs/$rel" // clone-of-clone passes through
    val files = src.fileRefs.map(borrow)
    val dels = src.deletes.map(borrow)
    // the schema JSON is copied (bytes, not data): the clone must not
    // dangle on a source-side vacuum of a superseded schema ref
    val schemaSeq = schemaOf(spark, srcRoot, src)
      .map(st => stageSchema(spark, dstRoot, "clone", st)).toSeq
    // zone maps name their files ROOT-RELATIVE to the source; re-key
    // them to the borrowed absolute refs so range reads prune on
    // the clone from the first read (O(#files) metadata rewrite)
    val zmRefs = liveZmaps(fSrc, srcRoot, src)
    val zmapSeq =
      if (zmRefs.isEmpty) Nil
      else {
        val zm = spark.read.parquet(zmRefs.map(resolve(srcRoot, _)): _*)
          .withColumn("file",
            when(col("file").startsWith("/"), col("file"))
              .otherwise(concat(lit(s"$srcAbs/"), col("file"))))
        stageUnder(zm, dstRoot, "zmap", "clone")
      }
    // constraints carry like the schema: re-stage the FOLDED in-force
    // set as the clone's own sidecars (bytes, not data)
    val checkSeq = constraintsFor(spark, srcRoot, src.checks).toSeq
      .sortBy(_._1).map { case (n, e) =>
        stageConstraint(fDst, dstRoot, s"""{"cname":"$n","expr":"$e"}""")
      }
    commit(spark, dstRoot, add = files, remove = Nil, deletes = dels,
      tag = tag, zmap = zmapSeq, schema = schemaSeq, checks = checkSeq,
      op = Some("CLONE"))
  }
}
