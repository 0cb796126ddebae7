package graft.streaming

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset => OffsetV1, Source}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.StreamSourceProvider
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.TableLog

/** The TABLE AS A STREAM SOURCE — `readStream` over a
  * [[graft.operators.TableLog]] table's commit-time change feed (the
  * "Delta table as a streaming source" shape, and the complete
  * DynamoDB-Streams analog of the reference's enrichment trigger:
  * consumer.py reacts to each committed change, here each commit's
  * row-lineage sidecar becomes one micro-batch):
  *
  * {{{
  * spark.readStream
  *   .format("graft.streaming.TableChangesSourceProvider")
  *   .option("path", tableRoot)     // required
  *   .option("idCol", "doc_id")     // default doc_id (LongType)
  *   .option("startingVersion", 1)  // first version SERVED (default 1
  *                                  //  — v0 is the base load; seed
  *                                  //  consumers from snapshot(v0))
  *   .load()                        // (version long, <idCol> long,
  *                                  //  status string)
  * }}}
  *
  * Scale/exactness shape:
  *  - **Offsets are table versions** — monotone by construction (the
  *    log only grows), a single long in the checkpoint WAL. A batch
  *    (start, end] is served by [[TableLog.changes]] with
  *    `requireFeed = true`: each version's O(delta) sidecar parquet
  *    (or, for an append, its own add files), NEVER a snapshot diff —
  *    a feed-less commit fails the stream loudly instead of silently
  *    re-reading the table inside a trigger (`fallback.diff=true`
  *    opts into the diff for pre-feed history, with `contentCol`
  *    naming the diffed column).
  *  - **Exactly-once replay**: sidecar files are immutable and the
  *    batch for a (start, end] pair is deterministic, so a crashed
  *    batch re-planned from the WAL re-reads identical rows; with an
  *    idempotent/transactional sink that is end-to-end exactly-once —
  *    the same contract as [[graft.sources.JsonlSource]]'s byte
  *    offsets, at version granularity.
  *  - **Retention composes**: [[TableLog.vacuum]] keeps the feed
  *    sidecars of retained versions, so a consumer inside the
  *    retention horizon always drains; one that lags past it (or past
  *    [[TableLog.expireLog]]'s horizon) errors loudly rather than
  *    under-reading — the Delta log-retention trade, stated.
  *
  * V1 `Source` rather than DSv2 deliberately: `getBatch` returns a
  * DataFrame, so each batch IS `spark.read.parquet` over the sidecar
  * files — Spark's own vectorized parquet reader, column pruning and
  * all — instead of a hand-rolled row reader; the one non-public API
  * this costs is isolated in [[org.apache.spark.sql.graft.StreamingFrame]]
  * (the Delta-source pattern). */
class TableChangesSource(sqlContext: SQLContext, root: String,
                         idCol: String, contentCol: String,
                         startingVersion: Long, fallbackDiff: Boolean,
                         maxVersionsPerTrigger: Option[Long] = None,
                         metadataPath: String = "",
                         maxBytesPerTrigger: Option[Long] = None)
  extends Source
  with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  private val spark = sqlContext.sparkSession

  override val schema: StructType =
    TableChangesSource.schemaFor(idCol)

  // ---- per-trigger ADMISSION CONTROL (maxVersionsPerTrigger — the
  // Delta maxFilesPerTrigger analog): a consumer starting against a
  // table with thousands of commits must drain the backlog in bounded
  // micro-batches, not one giant first batch. The V1 Source API's
  // only rate lever is getOffset, and the engine never tells the
  // source its committed position before calling it — so the source
  // persists its own HIGH WATER of offsets it has EXPOSED under the
  // checkpoint's source-metadata dir (the FileStreamSource pattern).
  // The marker is written BEFORE an offset is returned: the cap base
  // can LAG reality (over-admitting at most one window after a lost
  // marker — the rename fallback below), but can never sit below an
  // offset the engine logged, so a capped offset never regresses
  // below the committed one (which would re-serve versions). ----
  private lazy val metaFs =
    new org.apache.hadoop.fs.Path(metadataPath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def servedPath =
    new org.apache.hadoop.fs.Path(metadataPath, "servedHighWater")
  private var servedHi: Option[Long] = None

  private def loadServed(): Option[Long] =
    if (metadataPath.isEmpty || !metaFs.exists(servedPath)) None
    else {
      val len = metaFs.getFileStatus(servedPath).getLen.toInt
      val buf = new Array[Byte](len)
      val in = metaFs.open(servedPath)
      try in.readFully(0, buf) finally in.close()
      Some(new String(buf, "UTF-8").trim.toLong)
    }

  private def record(v: Long): Unit =
    if (servedHi.forall(_ < v)) {
      // persist even when THIS run is uncapped, so the on-disk marker
      // always tells the truth about exposed offsets. Correctness does
      // not hinge on it: on every restart with a committed batch the
      // engine's recovery getBatch (populateStartOffsets re-serves the
      // last committed range to V1 sources) seeds servedHi to the
      // committed offset BEFORE the first getOffset, so a stale marker
      // can never cap below committed — the cap-toggle scenario is
      // spec-pinned in TableChangesContractSpec
      if (metadataPath.nonEmpty) {
        val tmp = new org.apache.hadoop.fs.Path(
          metadataPath, ".servedHighWater.tmp")
        val out = metaFs.create(tmp, true)
        try out.write(v.toString.getBytes("UTF-8")) finally out.close()
        // delete+rename (not atomic everywhere): a crash between the
        // two loses the marker, which the restart treats as a
        // pre-existing checkpoint — one uncapped trigger, never a
        // regression
        if (metaFs.exists(servedPath)) metaFs.delete(servedPath, false)
        metaFs.rename(tmp, servedPath)
      }
      servedHi = Some(v)
    }

  private lazy val restoredServed: Option[Long] = loadServed()
  // no high water on disk: a FRESH checkpoint caps from the epoch; a
  // PRE-EXISTING one (option enabled mid-life, or marker lost) serves
  // ONE uncapped trigger rather than risk capping below its unknown
  // committed offset
  private lazy val freshCheckpoint: Boolean =
    metadataPath.isEmpty || {
      val offsets = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(metadataPath).getParent.getParent,
        "offsets")
      !metaFs.exists(offsets) || metaFs.listStatus(offsets).isEmpty
    }

  /** The latest committed table version, as a stream offset — capped
    * by the admission controls when on: at `servedHighWater +
    * maxVersionsPerTrigger`, and/or at the last version whose
    * CUMULATIVE feed bytes (the entries' commit-time `cdfmeta`
    * lengths — [[TableLog.feedBytes]], zero stat calls on modern
    * logs) still fit `maxBytesPerTrigger`. A sidecar version weighs
    * its sidecar; an append ([[TableIngest]]'s `cdf == add` commits)
    * weighs its ADD files, which is what its step reads — whole rows,
    * so a byte cap admits fewer append versions per trigger than it
    * would sidecars of the same ids. So a backlog drains in
    * bounded steps AND one fat commit can't blow a trigger: a version
    * exceeding the budget alone is admitted by itself (progress),
    * never together with others. None until the table has a version
    * at or past `startingVersion`. Versions only grow, so offsets are
    * monotone; the byte walk costs O(admission window) tiny entry
    * reads per trigger, only while a byte cap is set. */
  override def getOffset: Option[OffsetV1] =
    cappedHead(servedHi.orElse(restoredServed)).map { capped =>
      record(capped)
      VersionOffset(capped)
    }

  // ---- Trigger.AvailableNow (the Delta DeltaSource pattern: a V1
  // Source that ALSO implements SupportsTriggerAvailableNow /
  // SupportsAdmissionControl, so the engine uses the source's OWN
  // fence instead of wrapping it). Without this, Spark's
  // AvailableNowSourceWrapper snapshots ONE getOffset call as the
  // fence — which, under maxVersionsPerTrigger, is the FIRST CAPPED
  // offset: a capped AvailableNow run would serve one bounded batch
  // and terminate, silently leaving the rest of the backlog for the
  // "next run" the user isn't going to start. Here the fence is the
  // TRUE head at launch; capped triggers then drain TO it, and the
  // run ends exactly when the fence is reached. ----
  @volatile private var availableNowFence: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit = {
    // a table with nothing servable at launch fences BELOW
    // startingVersion ("serve nothing") — fence None would conflate
    // "no data at launch" with "no fence", and commits landing DURING
    // the run would be served instead of waiting for the next run
    availableNowFence = Some(TableLog.versions(spark, root).lastOption
      .filter(_ >= startingVersion).getOrElse(startingVersion - 1L))
  }

  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  /** The SupportsAdmissionControl face of [[getOffset]]: the engine
    * passes the previous end offset, which seeds the cap base exactly
    * like the persisted marker (and survives the marker being lost).
    * Returns null for "no data yet" per the v2 contract. */
  override def latestOffset(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset = {
    val engineBase = Option(start).map {
      case o: OffsetV1 => VersionOffset.versionOf(o)
      case other => other.json().trim.toLong
    }
    val base = engineBase.orElse(servedHi).orElse(restoredServed)
    (cappedHead(base), availableNowFence) match {
      case (None, _) => null
      case (Some(c), None) =>
        if (base.exists(_ >= c)) null
        else { record(c); VersionOffset(c) }
      case (Some(c), Some(f)) =>
        // clamp to the launch fence: versions committed after prepare
        // wait for the next run
        if (f < startingVersion || base.exists(_ >= f)) null // done
        else if (base.exists(_ >= math.min(c, f)))
          // below the fence yet NO admission progress: the byte walk
          // stalled on a store failure. Under ProcessingTime that
          // retries next trigger; under AvailableNow a null here ends
          // the run "successfully" SHORT of the fence — fail loudly
          // instead (a restart resumes from the committed offset).
          throw new IllegalStateException(
            s"TableChangesSource: AvailableNow admission made no " +
              s"progress at $base below fence $f (transient store " +
              "failure?) — failing the run rather than ending it short")
        else { val fenced = math.min(c, f); record(fenced); VersionOffset(fenced) }
    }
  }

  /** The latest servable offset under the caps, from `base` (the
    * last exposed/committed version; None = no base known). */
  private def cappedHead(baseOpt: Option[Long]): Option[Long] = {
    val listed = TableLog.versions(spark, root)
    val latest = listed.lastOption
    lazy val listedSet = listed.toSet
    latest.filter(_ >= startingVersion).map { l =>
      val capped =
        if (maxVersionsPerTrigger.isEmpty && maxBytesPerTrigger.isEmpty) l
        else baseOpt
          .orElse(if (freshCheckpoint) Some(startingVersion - 1L) else None)
          .fold(l) { base =>
            val vCap = maxVersionsPerTrigger.fold(l)(k => math.min(l, base + k))
            maxBytesPerTrigger match {
              case None => vCap
              case Some(budget) =>
                // a version whose entry is GONE because it EXPIRED
                // below the retention horizon (absent from the log
                // listing this walk started from) weighs 0 — admit it
                // and let getBatch's continuity check fail loudly,
                // the documented lag-past-retention behavior. A bare
                // FileNotFound on a version the listing SHOWED is an
                // eventually-consistent / flaky store, NOT expiry —
                // weighing that 0 would admit a not-yet-visible entry
                // unweighed beside others. Any such failure (and any
                // other store error — outage, throttling) must NOT
                // weigh 0, or the whole backlog lands in one giant
                // trigger, the exact batch the cap exists to prevent
                // — so the walk STOPS at what it has weighed and
                // retries next trigger (None = no progress this
                // round, bounded and safe).
                def weigh(v: Long): Option[Long] =
                  try Some(TableLog.feedBytes(spark, root, v))
                  catch {
                    case _: java.io.FileNotFoundException
                        if !listedSet.contains(v) => Some(0L)
                    case e: Exception =>
                      System.err.println(
                        s"TableChangesSource: feedBytes($v) failed " +
                          s"($e); admission walk stops here this trigger")
                      None
                  }
                var v = base + 1L
                var acc = 0L
                var end = base
                var stop = false
                while (v <= vCap && !stop) {
                  weigh(v) match {
                    case Some(b) if end == base || acc + b <= budget =>
                      acc += b; end = v; v += 1L
                    case _ => stop = true
                  }
                }
                end
            }
          }
      capped
    }
  }

  /** Changes in versions (start, end] — start None = the epoch start,
    * i.e. serve from `startingVersion`. Deterministic for a given
    * pair (sidecars are immutable), which is what makes WAL replay
    * exactly-once. */
  override def getBatch(start: Option[OffsetV1], end: OffsetV1): DataFrame = {
    val fromV = start.map(VersionOffset.versionOf)
      .getOrElse(startingVersion - 1L)
    val toV = VersionOffset.versionOf(end)
    record(toV) // WAL-recovery replay seeds the admission high water
    // toV <= fromV only on engine replay quirks (an already-served
    // range) — empty is correct there. Anything else goes through
    // changes(), whose continuity check makes a range that log expiry
    // punched a hole in ERROR instead of under-reading (a consumer
    // past the retention horizon must re-seed, not silently skip).
    val batch =
      if (toV <= fromV)
        spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
      else TableLog.changes(spark, root, fromV, toV, idCol, contentCol,
        requireFeed = !fallbackDiff)
    val aligned = batch.select(
      schema.fields.toSeq.map(f => col(f.name).cast(f.dataType)): _*)
    org.apache.spark.sql.graft.StreamingFrame.create(
      spark, aligned.queryExecution.toRdd, schema)
  }

  override def commit(end: OffsetV1): Unit = ()
  override def stop(): Unit = ()
  override def toString: String =
    s"TableChangesSource[$root, from=$startingVersion]"
}

object TableChangesSource {
  def schemaFor(idCol: String): StructType = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField(idCol, LongType),
    StructField("status", StringType)))
}

/** A table version as a stream offset. Serialized as the bare
  * number, so the WAL is human-readable and `versionOf` can parse
  * either a live instance or the engine's replayed SerializedOffset. */
case class VersionOffset(v: Long) extends OffsetV1 {
  override def json(): String = v.toString
}

object VersionOffset {
  /** On restart the engine replays WAL offsets as SerializedOffset
    * (raw json), not as the source's own class — the classic V1
    * gotcha; parse both. */
  def versionOf(o: OffsetV1): Long = o match {
    case VersionOffset(v) => v
    case other => other.json().trim.toLong
  }
}

/** `format("graft.streaming.TableChangesSourceProvider")` — resolved
  * by class name, no registry file needed. Options: `path` (table
  * root, required), `idCol` (default `doc_id`), `startingVersion`
  * (default 1), `fallback.diff` (default false — see
  * [[TableChangesSource]]), `contentCol` (default `text`, diff mode
  * only), `maxVersionsPerTrigger` (optional, ≥ 1 — bound each
  * micro-batch to that many table versions; a deep backlog drains in
  * bounded steps instead of one giant first batch), and
  * `maxBytesPerTrigger` (optional, ≥ 1 — bound each micro-batch's
  * cumulative feed-sidecar bytes, weighed from the log's own
  * `cdfmeta` lengths; a single over-budget commit is admitted ALONE,
  * never skipped — Delta's maxBytesPerTrigger soft-max contract).
  * Both caps compose (the tighter one wins). */
class TableChangesSourceProvider extends StreamSourceProvider {
  private def idColOf(parameters: Map[String, String]): String =
    parameters.getOrElse("idCol", "doc_id")

  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    val derived = TableChangesSource.schemaFor(idColOf(parameters))
    schema.foreach(s => require(s == derived,
      s"tablechanges serves a fixed schema $derived; drop .schema(...) " +
        s"or pass it exactly (got $s)"))
    ("tablechanges", derived)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source = {
    // `path`, or the catalog-named streaming face: `.option("table",
    // <name>)` resolves a registered tablelog table to its location
    // (non-tablelog names refuse loudly)
    val root = parameters.get("path")
      .orElse(parameters.get("table").map { n =>
        graft.plans.InsertIntoTableLogRule
          .resolveTableLog(org.apache.spark.sql.SparkSession.active, n)
          .map(_._2).getOrElse(sys.error(
            s"tablechanges: table '$n' is not a tablelog table"))
      })
      .getOrElse(sys.error("tablechanges source requires option 'path' " +
        "(the table root) or option 'table' (a catalog-named tablelog table)"))
    val maxV = parameters.get("maxVersionsPerTrigger").map(_.toLong)
    maxV.foreach(k => require(k >= 1L,
      s"maxVersionsPerTrigger must be >= 1, got $k"))
    val maxB = parameters.get("maxBytesPerTrigger").map(_.toLong)
    maxB.foreach(b => require(b >= 1L,
      s"maxBytesPerTrigger must be >= 1, got $b"))
    new TableChangesSource(sqlContext, root,
      idCol = idColOf(parameters),
      contentCol = parameters.getOrElse("contentCol", "text"),
      startingVersion = parameters.getOrElse("startingVersion", "1").toLong,
      fallbackDiff = parameters.getOrElse("fallback.diff", "false").toBoolean,
      maxVersionsPerTrigger = maxV,
      metadataPath = metadataPath,
      maxBytesPerTrigger = maxB)
  }
}
