package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Keyset (cursor) pagination — the reference's LastEvaluatedKey loop
  * (`web_api.py:54-76`, `preferences.py:62-89`): each page re-issues
  * the query with a stable "strictly after the last key seen"
  * predicate plus a limit, so pages stitch into the full result with
  * no overlap and no gap even while a consumer paces through slowly.
  *
  * 100 TB shape: a cursor page plans as filter → TakeOrderedAndProject
  * — the cursor predicate prunes at the scan (PushedFilters on the
  * leading key) and the per-page cost is O(page) regardless of how
  * deep into the result the cursor is. The OFFSET alternative re-scans
  * and re-sorts everything before the page — O(cursor depth) per page
  * — which is why keyset is the only pagination that survives scale.
  * Correctness needs the key list to be UNIQUE over the data (use a
  * rowid-like tiebreaker last); ties across a page boundary would
  * otherwise be skipped or repeated. */
object Pagination {

  /** Lexicographic "strictly after the cursor" over the key columns:
    * (k1 > a1) OR (k1 = a1 AND k2 > a2) OR ... */
  private def afterCursor(keys: Seq[String], vals: Seq[Any]): Column =
    keys.indices.map { i =>
      ((0 until i).map(j => col(keys(j)) === lit(vals(j))) :+
        (col(keys(i)) > lit(vals(i)))).reduce(_ && _)
    }.reduce(_ || _)

  /** One page: the first `pageSize` rows in `keys` order strictly
    * after `after` (None = from the start). */
  def page(df: DataFrame, keys: Seq[String], after: Option[Seq[Any]],
           pageSize: Int): DataFrame = {
    val base = after.fold(df)(vals => df.filter(afterCursor(keys, vals)))
    base.orderBy(keys.map(col): _*).limit(pageSize)
  }

  /** Drive the cursor loop and stitch the pages, each tagged with its
    * `page_no` — the page-union ≡ full-scan proof harness (the oracle
    * replays it as one row_number pass). Per iteration only the
    * BOUNDARY key tuple is collected (one row, via max(struct(keys))
    * — struct ordering is lexicographic), never the page itself, so
    * driver memory stays O(#keys) however many pages run.
    *
    * `pages` caps the drain at a FIXED page budget — the benched form:
    * the cursor protocol is serial BY DESIGN (each page's predicate
    * needs the previous boundary), so a to-exhaustion drain costs one
    * driver-serial round-trip per page and its wall-clock grows
    * linearly with the data. The tiling proof is identical per page,
    * so the budgeted drain proves the same protocol at O(pages) cost;
    * OperatorsSpec keeps the to-exhaustion ≡ full-scan proof as a
    * spec case. `maxPages` stays a runaway guard, not a result cap. */
  def stitched(df: DataFrame, keys: Seq[String], pageSize: Int,
               maxPages: Int = 10000,
               pages: Option[Int] = None): DataFrame = {
    val budget = pages.fold(maxPages)(math.min(_, maxPages))
    val keyCols = keys.map(col)
    var after: Option[Seq[Any]] = None
    var acc = Vector.empty[DataFrame]
    var n = 0
    var done = false
    while (!done && n < budget) {
      // lazy checkpoint: the boundary action right below materializes
      // the page's ≤ pageSize rows, so the stitched union reads them
      // back instead of RE-RUNNING every page's filter+TakeOrdered
      // scan when the caller's action finally executes (each page
      // otherwise runs twice per drain — once here for the boundary,
      // once at the sink)
      val p = page(df, keys, after, pageSize).localCheckpoint(false)
      val boundary = p.agg(max(struct(keyCols: _*)).as("__b")).head()
      if (boundary.isNullAt(0)) done = true // empty page: cursor exhausted
      else {
        acc :+= p.withColumn("page_no", lit(n.toLong))
        after = Some(boundary.getStruct(0).toSeq)
        n += 1
      }
    }
    if (acc.isEmpty) df.limit(0).withColumn("page_no", lit(0L))
    else acc.reduce(_ unionByName _)
  }

  /** Sharded cursor drain — how a whole corpus is actually paged at
    * scale: the key space splits into `shards` disjoint slices
    * (leading-key modulo — any stable predicate works), each slice
    * runs its OWN independent cursor loop, and the loops run
    * CONCURRENTLY (separate driver threads submitting Spark jobs —
    * in production these are separate client workers). Wall-clock per
    * drain is pages-per-shard, not total pages; `pages` budgets each
    * SHARD's cursor exactly as in [[stitched]]. Output adds
    * (shard, page_no) per row; the oracle replays it as one
    * shard-partitioned row_number pass, proving the shard×page grid
    * tiles the full scan exactly.
    *
    * Concurrency is bounded and diagnosable: the loops run on a
    * DEDICATED pool sized to `shards` (never the global pool — a
    * driver sharing ExecutionContext.global with other work would
    * interleave arbitrary tasks into the drain), the whole drain
    * fails after `timeoutSec` instead of hanging forever on a stuck
    * page job, and a failing shard surfaces its shard id in the
    * exception instead of an anonymous future failure. */
  def shardedStitched(df: DataFrame, keys: Seq[String], pageSize: Int,
                      shards: Int, maxPages: Int = 10000,
                      pages: Option[Int] = None,
                      timeoutSec: Long = 600L): DataFrame = {
    require(shards > 0, s"shards must be positive, got $shards")
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = java.util.concurrent.Executors.newFixedThreadPool(shards)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val lead = col(keys.head)
      val parts = (0 until shards).map { s =>
        Future {
          try stitched(df.filter(pmod(lead, lit(shards)) === s),
            keys, pageSize, maxPages, pages).withColumn("shard", lit(s.toLong))
          catch { case e: Throwable =>
            throw new RuntimeException(
              s"shardedStitched: shard $s drain failed: ${e.getMessage}", e)
          }
        }
      }
      Await.result(Future.sequence(parts), timeoutSec.seconds)
        .reduce(_ unionByName _)
    } finally pool.shutdown()
  }

  /** Build a PAGE-SERVING INDEX for [[pagedFromIndex]] — the layout
    * that turns keyset pagination's per-page cost from O(data) into
    * O(bucket). Without it each page's Filter → TakeOrderedAndProject
    * scans the whole not-yet-consumed suffix (the cursor predicate
    * only prunes below the cursor) — the residual ×7.6 line in
    * BENCH_SCALING. A real pagination API serves from an
    * index-organized table; this is that table's Spark analog, built
    * once and amortized over every page served from it (the q87
    * materialized-index pattern applied to pagination):
    *
    *  - rows are globally ranked by `key` WITHOUT a one-reducer
    *    window: repartitionByRange + per-partition counts → broadcast
    *    exclusive offsets → offset + local row_number (the q68
    *    two-phase shape; range partitions are key-contiguous, so the
    *    composed rank is the global rank no matter where the sampled
    *    boundaries fall);
    *  - bucket = (rank-1) div bucketRows gives FIXED-OCCUPANCY
    *    buckets (every bucket except the last holds exactly
    *    bucketRows rows — occupancy never depends on key density);
    *  - data lands partitioned by `pbucket` directory; a MANIFEST
    *    (pbucket, rows, key_min, key_max — the zone map) lands next
    *    to it, ≤ #buckets rows. */
  def buildPageIndex(df: DataFrame, key: String, bucketRows: Long,
                     path: String, parts: Int = 32): Unit = {
    require(bucketRows > 0, s"bucketRows must be positive, got $bucketRows")
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    // Stage the range-sorted rows to disk FIRST: repartitionByRange
    // samples its boundaries per execution, so ranking directly off
    // the shuffled frame would race a recompute's re-sample (cache
    // eviction → different __pid assignment → wrong offsets). Files
    // are stable; the composed rank below is then deterministic.
    val stage = s"$path/stage"
    df.repartitionByRange(parts, col(key)).sortWithinPartitions(col(key))
      .withColumn("__pid", spark_partition_id().cast("long"))
      .write.mode("overwrite").parquet(stage)
    val staged = spark.read.parquet(stage)
    val counts = staged.groupBy(col("__pid")).count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val offsets = counts.scanLeft((0L, 0L)) { case ((_, acc), (pid, n)) =>
      (pid, acc + n)
    }.init.zip(counts).map { case ((_, off), (pid, _)) => (pid, off) }
    val offDf = spark.createDataFrame(offsets.toSeq).toDF("__pid", "__off")
    val wLocal = Window.partitionBy(col("__pid")).orderBy(col(key))
    staged.join(broadcast(offDf), Seq("__pid"))
      .withColumn("__rank", col("__off") + row_number().over(wLocal))
      .withColumn("pbucket",
        call_function("div", col("__rank") - 1, lit(bucketRows)))
      .drop("__pid", "__off", "__rank")
      .write.partitionBy("pbucket").mode("overwrite")
      .parquet(s"$path/data")
    spark.read.parquet(s"$path/data")
      .groupBy(col("pbucket"))
      .agg(count(lit(1)).as("rows"),
        min(col(key)).as("key_min"), max(col(key)).as("key_max"))
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/manifest")
    val fs = new org.apache.hadoop.fs.Path(stage)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(stage), true)
  }

  /** Serve the SAME budgeted cursor drain as [[stitched]] from a
    * [[buildPageIndex]] layout — output-identical (same pages, same
    * page_no; q100's oracle is literally q90's SQL), but each page's
    * scan touches only the manifest-selected bucket directories:
    * the bucket holding the cursor plus as few following buckets as
    * the zone map needs to GUARANTEE pageSize rows past the cursor
    * (≤ 1 + ceil(pageSize/bucketRows) dirs per page, independent of
    * table size — partition pruning does the skipping, LayoutSpec
    * asserts the per-page file reads). The manifest collect is
    * BOUNDED BY THE DRAIN, not the table: the drain serves the first
    * pages×pageSize rows, which by fixed occupancy live in the first
    * ~(pages×pageSize)/bucketRows buckets — so the manifest scan is
    * filtered to that pbucket prefix (a pushed parquet filter) BEFORE
    * collecting. Driver state is O(pages), never O(table/bucketRows):
    * at 10^11 rows a full-manifest collect would be ~10^8 rows on the
    * driver; this one stays at the ≤ (pages × buckets-per-page)
    * entries the drain will actually touch. */
  def pagedFromIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                     key: String, cols: Seq[String], pageSize: Int,
                     pages: Int, startAfter: Option[Long] = None): DataFrame = {
    // `startAfter` resumes a drain mid-table: the manifest bound is
    // ANCHORED AT THE CURSOR'S BUCKET (not bucket 0), or the prefix
    // bound would filter out every bucket the resumed drain actually
    // touches and pages would come back silently short
    val manifest = boundedManifest(spark, path, pages.toLong * pageSize,
      startAfter)
    val data = spark.read.parquet(s"$path/data")
    var after: Option[Long] = startAfter
    var acc = Vector.empty[DataFrame]
    var n = 0
    var done = false
    while (!done && n < pages) {
      // zone-map selection: first candidate bucket may straddle the
      // cursor (contributes an unknown ≥ 0 rows), every LATER selected
      // bucket lies fully past it — accumulate those until the
      // guaranteed row count reaches pageSize.
      val cand = after.fold(manifest)(c => manifest.filter(_._4 > c))
      var guaranteed = 0L
      val sel = cand.takeWhile { case (_, rows, kmin, _) =>
        val take = guaranteed < pageSize
        if (take && after.forall(kmin > _)) guaranteed += rows
        take
      }.map(_._1)
      if (sel.isEmpty) done = true
      else {
        val base = data.filter(col("pbucket").isin(sel: _*))
        // lazy checkpoint for the same reason as [[stitched]]: the
        // boundary action materializes the page once; the final union
        // reads it back instead of re-scanning the bucket dirs
        val p = after.fold(base)(c => base.filter(col(key) > c))
          .orderBy(col(key)).limit(pageSize)
          .select(cols.map(col): _*)
          .localCheckpoint(false)
        val boundary = p.agg(max(col(key))).head()
        if (boundary.isNullAt(0)) done = true
        else {
          acc :+= p.withColumn("page_no", lit(n.toLong))
          after = Some(boundary.getLong(0))
          n += 1
        }
      }
    }
    if (acc.isEmpty) data.select(cols.map(col): _*).limit(0)
      .withColumn("page_no", lit(0L))
    else acc.reduce(_ unionByName _)
  }

  /** The manifest WINDOW a drain of `needRows` rows starting after
    * `cursor` (None = the table head) can possibly touch, collected
    * with the pbucket bounds pushed into the parquet scan. The window
    * is ANCHORED at the first bucket whose key_max exceeds the cursor
    * (one pushed-filter 1-row aggregate finds it) and spans
    * needRows/bucketRows + 2 buckets from there — so a drain resumed
    * DEEP in a 10^8-bucket index still collects only the O(pages)
    * entries it will touch, exactly like a head drain. bucketRows is
    * read off the manifest's own bucket 0 (fixed occupancy: every
    * bucket except the last holds exactly bucketRows rows, so bucket
    * 0's count IS the build parameter whenever a second bucket
    * exists; when it doesn't, the whole manifest is one row and any
    * bound covers it). The +2 covers the ceil and the one bucket a
    * page's cursor may straddle. Exposed (package-visible) so
    * LayoutSpec can assert both the head bound and the cursor
    * anchoring. */
  private[graft] def boundedManifest(
      spark: org.apache.spark.sql.SparkSession, path: String,
      needRows: Long,
      cursor: Option[Long] = None): Array[(Long, Long, Long, Long)] = {
    val mf = spark.read.parquet(s"$path/manifest")
    val b0 = mf.filter(col("pbucket") === 0).select(col("rows")).collect()
    val bucketRows =
      if (b0.isEmpty) 1L
      else math.max(1L, b0.head.getAs[Number]("rows").longValue())
    val span = needRows / bucketRows + 2
    val fromBucket = cursor.fold(0L) { c =>
      // the first bucket a post-cursor drain can touch: buckets whose
      // whole key range is ≤ cursor cannot contribute a row
      val r = mf.filter(col("key_max") > c)
        .agg(min(col("pbucket"))).collect()
      if (r.isEmpty || r.head.isNullAt(0)) Long.MaxValue // past the end
      else r.head.getAs[Number](0).longValue()
    }
    if (fromBucket == Long.MaxValue) return Array.empty
    mf.filter(col("pbucket") >= fromBucket &&
        col("pbucket") <= fromBucket + span)
      .collect()
      // pbucket comes back via partition-directory type inference
      // (INT for small values) — widen through Number, don't assume
      .map(r => (r.getAs[Number]("pbucket").longValue(),
        r.getAs[Number]("rows").longValue(),
        r.getAs[Number]("key_min").longValue(),
        r.getAs[Number]("key_max").longValue()))
      .sortBy(_._1)
  }

  /** APPEND a key-monotone batch to a [[buildPageIndex]] layout —
    * the rightmost-leaf insert of an index-organized table, at
    * O(batch + one bucket) instead of a full rebuild (the q97
    * incremental-maintenance pattern applied to the page index):
    *
    *  - CONTRACT: every new key must exceed the index's current
    *    key_max (a log-structured source — sequence numbers, event
    *    ids — satisfies this by construction; anything else needs the
    *    rebuild). A batch whose keys are ALL ≤ key_max is treated as
    *    already applied and the append no-ops, which makes replay
    *    after a crash (or a re-run of the same batch) idempotent;
    *  - new rows rank among themselves with the same two-phase
    *    offset + row_number shape as the build, shifted by the
    *    manifest's total row count — global ranks continue exactly
    *    where the index left off;
    *  - the PARTIAL last bucket tops up: its directory rewrites once
    *    with old rows ∪ its share of new rows (dynamic partition
    *    overwrite touches only bucket dirs the batch lands in —
    *    LayoutSpec-style immutability for everything below);
    *  - the manifest rewrites (≤ #buckets rows) with recomputed
    *    stats for touched buckets only.
    *
    * [[pagedFromIndex]] over the appended index is row-identical to
    * one built fresh over the union — q111's oracle proves it. */
  def appendToPageIndex(df: DataFrame, key: String, bucketRows: Long,
                        path: String, parts: Int = 32): Unit = {
    import org.apache.spark.sql.expressions.Window
    val spark = df.sparkSession
    // The append needs exactly TWO scalars off the index — the running
    // row total and the current key_max — so it reads them as a 1-row
    // aggregate (partial-agg over the manifest scan), never collecting
    // the manifest itself: driver state is O(1) at any table size.
    val mAgg = spark.read.parquet(s"$path/manifest")
      .agg(sum(col("rows")).cast("long").as("total"),
        max(col("key_max")).cast("long").as("kmax")).head()
    require(!mAgg.isNullAt(0),
      s"appendToPageIndex: empty manifest at $path — build the index first")
    val totalRows = mAgg.getLong(0)
    val idxMax = mAgg.getLong(1)
    val range = df.agg(min(col(key)), max(col(key))).head()
    if (range.isNullAt(0)) return // empty batch
    val (dMin, dMax) = (range.getLong(0), range.getLong(1))
    if (dMax <= idxMax) return // already applied — idempotent replay
    require(dMin > idxMax,
      s"appendToPageIndex needs key-monotone batches: batch min $dMin " +
        s"≤ index key_max $idxMax — rebuild instead")
    // rank the batch with the build's two-phase shape, offset by the
    // index's current row count (stage first: see buildPageIndex)
    val stage = s"$path/stage_append"
    df.repartitionByRange(parts, col(key)).sortWithinPartitions(col(key))
      .withColumn("__pid", spark_partition_id().cast("long"))
      .write.mode("overwrite").parquet(stage)
    val staged = spark.read.parquet(stage)
    val counts = staged.groupBy(col("__pid")).count()
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val offsets = counts.scanLeft((0L, 0L)) { case ((_, acc), (pid, n)) =>
      (pid, acc + n)
    }.init.zip(counts).map { case ((_, off), (pid, _)) => (pid, off) }
    val offDf = spark.createDataFrame(offsets.toSeq).toDF("__pid", "__off")
    val wLocal = Window.partitionBy(col("__pid")).orderBy(col(key))
    val ranked = staged.join(broadcast(offDf), Seq("__pid"))
      .withColumn("__rank", col("__off") + row_number().over(wLocal) +
        lit(totalRows))
      .withColumn("pbucket",
        call_function("div", col("__rank") - 1, lit(bucketRows)))
      .drop("__pid", "__off", "__rank")
    // the straddled (partial) last bucket rewrites with its old rows
    val lastBucket = (totalRows - 1) / bucketRows
    val lastPartial = totalRows % bucketRows != 0
    val oldTopUp =
      if (lastPartial)
        spark.read.parquet(s"$path/data")
          .filter(col("pbucket") === lastBucket)
          .withColumn("pbucket", lit(lastBucket))
      else ranked.limit(0)
    // dynamic overwrite scoped to THIS write via the per-writer
    // option — never a session-conf mutation (racy under concurrency)
    ranked.unionByName(oldTopUp)
      .write.option("partitionOverwriteMode", "dynamic")
      .partitionBy("pbucket").mode("overwrite")
      .parquet(s"$path/data")
    // manifest: untouched rows carry over, touched buckets recount
    // from their (pruned) dirs. firstTouched = totalRows div
    // bucketRows — the partial last bucket when one exists, else the
    // first brand-new bucket. Staged to a tmp dir first (the new
    // manifest READS the old one), then swapped in.
    val firstTouched = totalRows / bucketRows
    // pbucket comes off partition-dir inference (INT for small
    // values) in BOTH reads — normalize to long on each side
    val untouched = spark.read.parquet(s"$path/manifest")
      .filter(col("pbucket") < firstTouched)
      .withColumn("pbucket", col("pbucket").cast("long"))
    val touched = spark.read.parquet(s"$path/data")
      .filter(col("pbucket") >= firstTouched)
      .groupBy(col("pbucket").cast("long").as("pbucket"))
      .agg(count(lit(1)).as("rows"),
        min(col(key)).as("key_min"), max(col(key)).as("key_max"))
    val tmp = s"$path/manifest_tmp"
    untouched.unionByName(touched).coalesce(1)
      .write.mode("overwrite").parquet(tmp)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mPath = new org.apache.hadoop.fs.Path(s"$path/manifest")
    fs.delete(mPath, true)
    fs.rename(new org.apache.hadoop.fs.Path(tmp), mPath)
    fs.delete(new org.apache.hadoop.fs.Path(stage), true)
  }
}
