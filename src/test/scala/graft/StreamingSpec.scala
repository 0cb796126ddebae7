package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Event
import graft.streaming.EventPipeline

/** Structured Streaming pipelines driven by MemoryStream and checked
  * against their batch equivalents. Append-mode aggregations emit a
  * window only in a batch AFTER the watermark passed its end, so tests
  * feed sentinel events in later batches to flush. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private val sample = Seq(
    Event(0, ts("2024-01-01 00:01:00"), 1, "click", 10.0, "{}"),
    Event(1, ts("2024-01-01 00:05:00"), 1, "purchase", 20.0, "{}"),
    Event(1, ts("2024-01-01 00:05:00"), 1, "purchase", 20.0, "{}"), // dup id
    Event(2, ts("2024-01-01 01:10:00"), 1, "error", 5.0, "{}"),     // >30m gap
    Event(3, ts("2024-01-01 00:02:00"), 2, "view", 1.0, "{}"),
    Event(4, ts("2024-01-01 02:30:00"), 2, "click", 2.0, "{}"))

  private def late(id: Long, t: String) = Event(id, ts(t), 999, "view", 0.0, "{}")

  private def localPath(p: String) = new org.apache.hadoop.fs.Path(p).toUri.getPath

  /** The files a frame's plan reads, as local paths. */
  private def inputs(df: DataFrame): Set[String] = df.inputFiles.map(localPath).toSet

  /** The data files versions (fromV, toV] of an append-only TableLog
    * table added, as local paths. */
  private def addedFiles(root: String, fromV: Long, toV: Long): Set[String] = {
    def active(v: Long) =
      if (v < 0) Set.empty[String]
      else graft.operators.TableLog.activeFiles(spark, root, Some(v)).toSet
    (active(toV) -- active(fromV)).map(rel => localPath(s"$root/$rel"))
  }

  /** The table at `root` holds exactly one commit per batch: versions
    * 0 until `batches`, tagged `<prefix>-b0` … in order. */
  private def assertOneCommitPerBatch(root: String, prefix: String,
                                      batches: Int): Unit = {
    import graft.operators.TableLog
    assert(TableLog.versions(spark, root) === (0L until batches))
    assert((0 until batches).map(b =>
      TableLog.versionOfTag(spark, root, s"$prefix-b$b")) ===
      (0 until batches).map(b => Some(b.toLong)))
  }

  /** Every crash point of a multi-table sink's last batch. For each
    * table k of `tables` (paths under `landed`, in commit order), a
    * copy of the landed store loses the newest `_log` entry of table k
    * and of every later table — the state a crash just before commit
    * k leaves, its staged files orphaned. `replay(copy)` then replays
    * the last batch through a fresh sink instance (a restart's empty
    * tag cache). The copy must then read `expected` through `answer`
    * and hold exactly one commit per batch in each table, and a second
    * replay must add no version. */
  private def replayEachCrashPoint[A](landed: String, tables: Seq[String],
      batches: Int, expected: A)(replay: String => Unit)(
      answer: String => A): Unit = {
    import graft.operators.TableLog
    tables.indices.foreach { k =>
      val d = java.nio.file.Files.createTempDirectory("graft_crash").toString
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(landed), new java.io.File(d))
      tables.drop(k).foreach { t =>
        val newest = new java.io.File(s"$d/$t/_log").listFiles()
          .filter(_.getName.endsWith(".json")).maxBy(_.getName)
        assert(newest.delete())
      }
      replay(d)
      assert(answer(d) === expected, s"crash before the ${tables(k)} commit")
      tables.foreach(t =>
        assertOneCommitPerBatch(s"$d/$t", t.split('/').last, batches))
      replay(d)
      tables.foreach(t =>
        assert(TableLog.versions(spark, s"$d/$t") === (0L until batches)))
    }
  }

  /** Run a streaming df to a memory sink, feeding `batches` one
    * micro-batch at a time. */
  private def runBatches(mkDf: MemoryStream[Event] => DataFrame, name: String,
                         batches: Seq[Seq[Event]]): DataFrame = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Event]
    val q = mkDf(mem).writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    q.stop()
    spark.table(name)
  }

  test("hourlyMetrics aggregates tumbling windows with watermark") {
    val out = runBatches(m => EventPipeline.hourlyMetrics(m.toDF()), "hm",
      Seq(sample, Seq(late(90, "2024-01-01 12:00:00")), Seq(late(91, "2024-01-02 12:00:00"))))
    val h0 = out.filter(col("hour_start") === ts("2024-01-01 00:00:00")).head
    assert(h0.getAs[Long]("n_events") === 4)
    assert(h0.getAs[Long]("n_errors") === 0)
    val h1 = out.filter(col("hour_start") === ts("2024-01-01 01:00:00")).head
    assert(h1.getAs[Long]("n_errors") === 1)
    assert(out.filter(col("hour_start") === ts("2024-01-01 02:00:00")).count() === 1)
  }

  test("slidingMetrics: each event lands in two overlapping windows") {
    val out = runBatches(m => EventPipeline.slidingMetrics(m.toDF()), "sm",
      Seq(sample, Seq(late(90, "2024-01-01 12:00:00")), Seq(late(91, "2024-01-02 12:00:00"))))
    // events at 00:01/00:02/00:05 → windows 23:30(-day) and 00:00
    val w0 = out.filter(col("win_start") === ts("2024-01-01 00:00:00")).head
    assert(w0.getAs[Long]("n_events") === 4) // 00:01,00:02,00:05,00:05dup
    val w2300 = out.filter(col("win_start") === ts("2023-12-31 23:30:00")).head
    assert(w2300.getAs[Long]("n_events") === 4)
  }

  test("dedupStream drops duplicate event ids within the watermark") {
    val out = runBatches(m => EventPipeline.dedupStream(m.toDF()), "dd", Seq(sample))
    assert(out.count() === 5)
    assert(out.filter(col("event_id") === 1).count() === 1)
  }

  test("dedupStreamByContent drops same-text payloads under different ids") {
    // same text on events 10/11/13 (different event ids — id-dedup would
    // keep all three); 12 differs by one word and must survive
    val batch = Seq(
      Event(10, ts("2024-01-01 00:01:00"), 1, "doc", 0.0, "alpha beta gamma delta"),
      Event(11, ts("2024-01-01 00:02:00"), 2, "doc", 0.0, "alpha beta gamma delta"),
      Event(12, ts("2024-01-01 00:03:00"), 3, "doc", 0.0, "alpha beta gamma epsilon"),
      Event(13, ts("2024-01-01 00:04:00"), 4, "doc", 0.0, "alpha beta gamma delta"))
    val out = runBatches(
      m => EventPipeline.dedupStreamByContent(m.toDF(), "props", "ts"), "ddc",
      Seq(batch))
    assert(out.count() === 2)
    assert(out.select("event_id").collect().map(_.getLong(0)).toSet === Set(10L, 12L))
    assert(!out.columns.contains("__fp"))
  }

  test("trendingTopK ranks the window's top events with bounded state") {
    val out = runBatches(m => EventPipeline.trendingTopK(m.toDF(), k = 2), "tk",
      Seq(sample, Seq(late(90, "2024-01-01 12:00:00")), Seq(late(91, "2024-01-02 12:00:00"))))
    // hour 00: values 10,20,20,1 → top-2 = the two 20s (ids 1, then its dup
    // is same id 1 — both rows carry event_id 1), ranked by value desc, id asc
    val h0 = out.filter(col("win_start") === ts("2024-01-01 00:00:00"))
      .orderBy("rank").collect()
    assert(h0.length === 2)
    assert(h0.map(_.getAs[Double]("value")).toSeq === Seq(20.0, 20.0))
    // hour 01 has a single event (id 2, value 5.0)
    val h1 = out.filter(col("win_start") === ts("2024-01-01 01:00:00")).collect()
    assert(h1.length === 1 && h1.head.getAs[Long]("event_id") === 2L)
  }

  test("windowedDistinctUsers: HLL banks merge across micro-batches to the batch answer") {
    import spark.implicits._
    // 60 distinct users in hour 00, split across two batches with an
    // overlapping stripe — the streamed sketch must equal the batch
    // sketch over the union (register banks merge associatively)
    def ev(id: Long, user: Long) =
      Event(id, ts("2024-01-01 00:30:00"), user, "click", 1.0, "{}")
    val b1 = (1L to 40L).map(u => ev(u, u))
    val b2 = (25L to 60L).map(u => ev(100 + u, u))
    val out = runBatches(m => EventPipeline.windowedDistinctUsers(m.toDF()), "du",
      Seq(b1, b2, Seq(late(90, "2024-01-01 12:00:00")), Seq(late(91, "2024-01-02 12:00:00"))))
    val got = out.filter(col("win_start") === ts("2024-01-01 00:00:00")).head
      .getAs[Double]("approx_users")
    val batch = (b1 ++ b2).toDF()
      .select(graft.functions.Sketches.hllBucket(
          graft.functions.Sketches.hashHex(col("user_id"))).as("bucket"),
        graft.functions.Sketches.hllRho(
          graft.functions.Sketches.hashHex(col("user_id"))).as("rho"))
      .agg(graft.plans.HllRegisters.hllRegisters(
        struct(col("bucket"), col("rho")), graft.functions.Sketches.M).as("regs"))
      .select(graft.functions.Sketches.hllEstimate(col("regs")).as("est"))
      .head.getAs[Double]("est")
    assert(got === batch)
    assert(math.abs(got - 60.0) <= 12.0, s"estimate $got far from 60")
  }

  test("windowedUserFreqSketch: CMS counters sum across micro-batches to the batch grid") {
    import spark.implicits._
    // skewed user traffic in hour 00 split across two batches — the
    // streamed counter grid must equal the batch CMS grid over the
    // union (counters merge by addition)
    def ev(id: Long, user: Long) =
      Event(id, ts("2024-01-01 00:30:00"), user, "click", 1.0, "{}")
    val b1 = (1L to 50L).map(i => ev(i, i % 7))       // users 0..6
    val b2 = (51L to 90L).map(i => ev(i, i % 3))      // users 0..2 get heavier
    val out = runBatches(m => EventPipeline.windowedUserFreqSketch(m.toDF()), "cms",
      Seq(b1, b2, Seq(late(90, "2024-01-01 12:00:00")), Seq(late(91, "2024-01-02 12:00:00"))))
    val streamed = out.filter(col("win_start") === ts("2024-01-01 00:00:00"))
      .select("row", "bucket", "c").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val batch = (b1 ++ b2).toDF()
      .select(explode(graft.operators.Freq.cmsCells(
        col("user_id").cast("string"), 4, 256)).as("cell"))
      .groupBy(col("cell.row"), col("cell.bucket")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamed === batch)
    // probing the streamed grid estimates user 0's count correctly
    // (min over rows can only overcount)
    val exactU0 = (b1 ++ b2).count(_.user_id == 0L)
    val cells = spark.range(1).select(explode(graft.operators.Freq.cmsCells(
        lit("0"), 4, 256)).as("cell"))
      .select(col("cell.row"), col("cell.bucket")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val est = cells.map(streamed.getOrElse(_, 0L)).min
    assert(est >= exactU0)
  }

  test("sessionWindows matches the batch sessionizer") {
    val out = runBatches(m => EventPipeline.sessionWindows(m.toDF()), "sw",
      Seq(sample, Seq(late(90, "2024-01-01 12:00:00")), Seq(late(91, "2024-01-02 12:00:00"))))
    assert(out.filter(col("user_id") === 1).count() === 2)
    assert(out.filter(col("user_id") === 2).count() === 2)
    val s1 = out.filter(col("user_id") === 1 &&
      col("session_start") === ts("2024-01-01 00:01:00")).head
    assert(s1.getAs[Long]("n_events") === 3)
    assert(s1.getAs[Double]("total_value") === 50.0)
  }

  test("enrichStream joins the static dim with defaults") {
    val unknownUser = Event(50, ts("2024-01-01 03:00:00"), 999999, "view", 1.0, "{}")
    val out = runBatches(
      m => EventPipeline.enrichStream(m.toDF(),
        graft.sources.Tables.customer(spark, TestSpark.sf)),
      "es", Seq(sample :+ unknownUser))
    assert(out.count() === sample.length + 1)
    assert(out.filter(col("event_id") === 50 && col("cust_name") === "N/A").count() === 1)
  }

  test("clickToPurchase stream-stream interval join attributes purchases") {
    val out = runBatches(m => EventPipeline.clickToPurchase(m.toDF(), 3600), "cp",
      Seq(sample, Seq(late(90, "2024-01-02 12:00:00"))))
    // user 1's click at 00:01 → purchases 00:05 (id 1, deduped? no dedup
    // here: both duplicate purchase rows join) within 1h; error at 01:10
    // is outside event_type filter
    assert(out.count() === 2)
    assert(out.filter(col("click_id") === 0 && col("purchase_id") === 1).count() === 2)
  }

  test("clickToPurchaseOuter emits unmatched clicks with nulls exactly once at watermark expiry") {
    // the sentinels must survive BOTH sides' event_type filters (a
    // filtered row never reaches its watermark node), and stay below
    // their own interval expiry so they don't add null rows themselves
    def sentinels(t1: String, t2: String) = Seq(
      Event(90, ts(t1), 999, "click", 0.0, "{}"),
      Event(91, ts(t2), 998, "purchase", 0.0, "{}"))
    val out = runBatches(m => EventPipeline.clickToPurchaseOuter(m.toDF(), 3600), "cpo",
      Seq(sample,
        sentinels("2024-01-02 12:00:00", "2024-01-02 12:00:00"),
        sentinels("2024-01-02 12:30:00", "2024-01-02 12:30:00")))
    // matched: click 0 (user 1, 00:01) × the duplicated purchase id 1 —
    // matched rows emit as usual, and matched clicks never get a null row
    assert(out.filter(col("click_id") === 0).count() === 2)
    assert(out.filter(col("click_id") === 0 && col("purchase_id").isNull)
      .count() === 0)
    // unmatched: click 4 (user 2, 02:30, no purchase in its 1h window)
    // emits EXACTLY ONCE with null purchase columns — the fail-open row
    val un = out.filter(col("click_id") === 4)
    assert(un.count() === 1)
    assert(un.filter(col("purchase_id").isNull && col("purchase_ts").isNull &&
      col("value").isNull).count() === 1)
    assert(out.count() === 3)
  }

  test("clickToPurchaseOuter checkpoint-resume preserves matched and unmatched emissions") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_cpo_ckpt").toString
    val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    new java.io.File(inDir).mkdirs()
    val schema = org.apache.spark.sql.Encoders.product[Event].schema
    def startQuery() = EventPipeline.clickToPurchaseOuter(
        spark.readStream.schema(schema).parquet(inDir), 3600)
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    // phase 1: the sample — matched rows emit, the unmatched click's
    // interval is still open (watermark hasn't passed 02:30 + 1h)
    sample.toDF().coalesce(1).write.mode("append").parquet(inDir)
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    val phase1 = spark.read.parquet(outDir)
    assert(phase1.filter(col("click_id") === 0).count() === 2)
    assert(phase1.filter(col("purchase_id").isNull).count() === 0,
      "no null row may emit before the watermark closes the interval")
    // phase 2: RESTART from the checkpoint; watermark-advancing files
    // flush the unmatched click exactly once — the null emission
    // survives the restart through recovered join state
    def sentinels(t: String) = Seq(
      Event(90, ts(t), 999, "click", 0.0, "{}"),
      Event(91, ts(t), 998, "purchase", 0.0, "{}"))
    sentinels("2024-01-02 12:00:00").toDF().coalesce(1)
      .write.mode("append").parquet(inDir)
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    sentinels("2024-01-02 12:30:00").toDF().coalesce(1)
      .write.mode("append").parquet(inDir)
    val q2b = startQuery(); q2b.processAllAvailable(); q2b.stop()
    val phase2 = spark.read.parquet(outDir)
    assert(phase2.filter(col("click_id") === 4 &&
      col("purchase_id").isNull).count() === 1)
    assert(phase2.count() === 3)
    // phase 3: restart again with nothing new — no duplicates
    val q3 = startQuery(); q3.processAllAvailable(); q3.stop()
    assert(spark.read.parquet(outDir).count() === 3)
  }

  test("file-source stream with checkpoint resumes exactly-once") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val inDir = s"$base/in"; val outDir = s"$base/out"; val ckpt = s"$base/ckpt"
    new java.io.File(inDir).mkdirs()
    val schema = org.apache.spark.sql.Encoders.product[Event].schema

    def startQuery() = spark.readStream.schema(schema).parquet(inDir)
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).outputMode("append").start()

    sample.toDF().coalesce(1).write.mode("append").parquet(inDir)
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    val afterFirst = spark.read.parquet(outDir).count()
    assert(afterFirst === sample.length)

    // restart from the same checkpoint; only the NEW file is processed
    Seq(late(90, "2024-01-02 12:00:00")).toDF().coalesce(1)
      .write.mode("append").parquet(inDir)
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    val afterSecond = spark.read.parquet(outDir).count()
    assert(afterSecond === sample.length + 1) // no reprocessing of batch 1
  }

  test("EventStreams seam: FileTail transport feeds the same pipelines") {
    import spark.implicits._
    import graft.streaming.EventStreams
    val base = java.nio.file.Files.createTempDirectory("graft_seam").toString
    val inDir = s"$base/in"
    new java.io.File(inDir).mkdirs()
    sample.toDF().coalesce(1).write.mode("append").parquet(inDir)
    val stream = EventStreams.readEventStream(spark,
      EventStreams.EventSource.FileTail(inDir))
    assert(stream.isStreaming)
    val q = EventPipeline.dedupStream(stream)
      .writeStream.format("memory").queryName("seam_dd").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    assert(spark.table("seam_dd").count() === 5) // dup event_id=1 dropped
  }

  test("EventStreams JSON payload decode maps queue blobs to events") {
    import spark.implicits._
    import graft.streaming.EventStreams
    val lines = Seq(
      """{"event_id":7,"ts":"2024-01-01T00:01:00.000Z","user_id":3,"event_type":"click","value":1.5,"props":"{}"}""",
      "not json at all").toDF("value")
    val parsed = lines.select(EventStreams.jsonLinesToEvents(col("value")).as("e"))
      .select("e.*").filter(col("event_id").isNotNull)
    val r = parsed.collect()
    assert(r.length === 1)
    assert(r(0).getAs[Long]("event_id") === 7)
    assert(r(0).getAs[String]("event_type") === "click")
  }

  test("anomaly alerting loop: streamed hourly counts + keyed table + batch z-score") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.TableLog
    import graft.streaming.MergeIngest
    val table = java.nio.file.Files.createTempDirectory("graft_anom").toString + "/t"
    // 10 steady hours (3 events, slight wobble) then a 30-event burst
    val base = ts("2024-01-01 00:00:00").getTime
    def hourEvents(h: Int, k: Int) = (0 until k).map(i =>
      Event(h * 100L + i, new java.sql.Timestamp(base + h * 3600000L + i * 1000L),
        7L, "click", 1.0, "{}"))
    val steady = (0 until 10).flatMap(h => hourEvents(h, 3 + h % 2))
    val burst = hourEvents(10, 30)
    val mem = MemoryStream[Event]
    val q = EventPipeline.hourlyTypeCounts(mem.toDF()).writeStream
      .foreachBatch(MergeIngest.latestSink(table, Seq("hour", "event_type"), "n"))
      .outputMode("update").start()
    // two batches splitting an hour: the keyed table must end with the
    // FULL count for the split hour (update-mode rows are monotone)
    mem.addData(steady.take(2): _*); q.processAllAvailable()
    mem.addData(steady.drop(2) ++ burst: _*); q.processAllAvailable()
    q.stop()
    val hourly = TableLog.snapshot(spark, table)
    // streamed counts equal the batch aggregation of the same events
    val batchHourly = (steady ++ burst).toDF()
      .groupBy(col("event_type"), expr("unix_micros(ts) div 3600000000").as("hour"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val streamed = hourly.collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("hour")) -> r.getAs[Long]("n")).toMap
    assert(streamed === batchHourly)
    // the alerting half flags the burst hour
    val alerts = graft.operators.Funnel.anomaliesFromHourly(
        hourly, lookback = 8, zThresh = 2.0)
      .collect().map(_.getLong(1) - base / 3600000L)
    assert(alerts.contains(10L), s"burst not flagged: ${alerts.toSeq}")
  }

  test("anomaly alerting freshness: late rows update an emitted hour and correct the z") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.TableLog
    import graft.streaming.MergeIngest
    val table = java.nio.file.Files.createTempDirectory("graft_late").toString + "/t"
    val base = ts("2024-01-01 00:00:00").getTime
    def hourEvents(h: Int, k: Int, off: Int = 0) = (0 until k).map(i =>
      Event(h * 1000L + off + i, new java.sql.Timestamp(base + h * 3600000L + (off + i) * 1000L),
        7L, "click", 1.0, "{}"))
    val mem = MemoryStream[Event]
    val q = EventPipeline.hourlyTypeCounts(mem.toDF(), watermark = "2 hours").writeStream
      .foreachBatch(MergeIngest.latestSink(table, Seq("hour", "event_type"), "n"))
      .outputMode("update").start()
    def zOfBurstHour(): Option[Double] = {
      val hourly = TableLog.snapshot(spark, table)
      graft.operators.Funnel.anomaliesFromHourly(hourly, lookback = 8, zThresh = 2.0)
        .collect().find(_.getLong(1) === base / 3600000L + 10)
        .map(_.getAs[Double]("z"))
    }
    // batch 1: 10 steady hours (counts 3/4 alternating), then hour 10
    // arrives with only a PARTIAL count (4 events) — within noise
    // (z = 1), no alert yet
    val steady = (0 until 10).flatMap(h => hourEvents(h, 3 + h % 2))
    mem.addData(steady ++ hourEvents(10, 4): _*); q.processAllAvailable()
    val zBefore = zOfBurstHour()
    assert(zBefore.isEmpty, s"partial hour should be sub-threshold, got z=$zBefore")
    val hourly1 = TableLog.snapshot(spark, table)
      .filter(col("hour") === base / 3600000L + 10).collect()
    assert(hourly1.head.getAs[Long]("n") === 4, "partial hour must be materialized")
    // batch 2: 26 LATE events for hour 10 arrive (inside the 2h
    // watermark) — update mode re-emits the window's corrected count,
    // and last-writer-wins by n replaces the stale row
    mem.addData(hourEvents(10, 26, off = 4): _*); q.processAllAvailable()
    q.stop()
    val hourly2 = TableLog.snapshot(spark, table)
      .filter(col("hour") === base / 3600000L + 10).collect()
    assert(hourly2.head.getAs[Long]("n") === 30, "late rows must correct the emitted hour")
    val zAfter = zOfBurstHour()
    // the corrected count flips the alert: no z (or sub-threshold z)
    // before, a strong positive z after
    assert(zAfter.isDefined, "corrected hour must now alert")
    assert(zAfter.get > 2.0, s"corrected z should exceed threshold, got $zAfter")
    assert(zBefore.forall(_ < zAfter.get), s"z must increase: $zBefore -> $zAfter")
    // batch-equivalence of the final state: streamed counts == batch agg
    val want = (steady ++ hourEvents(10, 30)).toDF()
      .groupBy(col("event_type"), expr("unix_micros(ts) div 3600000000").as("hour"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val got = TableLog.snapshot(spark, table).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("hour")) -> r.getAs[Long]("n")).toMap
    assert(got === want)
  }

  test("keyed-upsert sink: last-writer-wins across micro-batches and checkpoint restart") {
    import spark.implicits._
    import graft.operators.TableLog
    import graft.streaming.MergeIngest
    val base = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    val inDir = s"$base/in"; val table = s"$base/table"; val ckpt = s"$base/ckpt"
    new java.io.File(inDir).mkdirs()
    val rowSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("version", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType)))

    def startQuery() = spark.readStream.schema(rowSchema).parquet(inDir)
      .writeStream
      .foreachBatch(MergeIngest.latestSink(table, Seq("k"), "version"))
      .option("checkpointLocation", ckpt)
      .start()

    def tableState(): Map[String, (Long, Double)] =
      TableLog.snapshot(spark, table).collect()
        .map(r => r.getAs[String]("k") -> (r.getAs[Long]("version"), r.getAs[Double]("value")))
        .toMap

    // batch 1: duplicate key A inside one batch — highest version wins
    Seq(("A", 1L, 10.0), ("B", 1L, 20.0), ("A", 2L, 11.0)).toDF("k", "version", "value")
      .coalesce(1).write.mode("append").parquet(inDir)
    val q1 = startQuery(); q1.processAllAvailable(); q1.stop()
    assert(tableState() === Map("A" -> (2L, 11.0), "B" -> (1L, 20.0)))

    // restart from the checkpoint: new-key insert, key update, AND a
    // stale lower-version write for A that must NOT regress the store
    Seq(("B", 3L, 21.0), ("C", 1L, 30.0), ("A", 0L, 9.0)).toDF("k", "version", "value")
      .coalesce(1).write.mode("append").parquet(inDir)
    val q2 = startQuery(); q2.processAllAvailable(); q2.stop()
    assert(tableState() === Map(
      "A" -> (2L, 11.0), "B" -> (3L, 21.0), "C" -> (1L, 30.0)))

    // replay of an ALREADY-COMMITTED batch (crash between the log
    // commit and the stream checkpoint) through a fresh sink instance
    // must be a no-op: its tag is in the log
    val replayed = Seq(("B", 99L, 999.0)).toDF("k", "version", "value")
    val vBefore = TableLog.versions(spark, table)
    MergeIngest.latestSink(table, Seq("k"), "version")(replayed, 1L) // batchId 1 already committed
    assert(TableLog.versions(spark, table) === vBefore)
    assert(tableState() === Map(
      "A" -> (2L, 11.0), "B" -> (3L, 21.0), "C" -> (1L, 30.0)))
  }

  test("keyed table: vacuum keeps only the active files and the latest row") {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    import graft.operators.TableLog
    import graft.streaming.MergeIngest
    val root = java.nio.file.Files.createTempDirectory("graft_retain").toString + "/t"
    val sink = MergeIngest.latestSink(root, Seq("k"), "version")
    (0L until 5L).foreach { b =>
      sink(Seq(("X", b, b * 1.0)).toDF("k", "version", "value"), b)
    }
    // one version per batch, each merge replacing the key's one file
    assert(TableLog.versions(spark, root) === (0L until 5L))
    def dataFiles(): Set[String] = {
      val top = java.nio.file.Paths.get(root)
      val walk = java.nio.file.Files.walk(top.resolve("data"))
      try walk.iterator().asScala.toSeq
        .map(top.relativize(_).toString)
        .filter(p => p.endsWith(".parquet") && !p.split('/').last.startsWith("."))
        .toSet
      finally walk.close()
    }
    assert(dataFiles().size === 5)
    // retaining only the latest version reclaims every replaced file
    TableLog.vacuum(spark, root, retainFrom = 4L)
    assert(dataFiles() === TableLog.activeFiles(spark, root).toSet)
    assert(dataFiles().size === 1)
    val row = TableLog.snapshot(spark, root).collect()
    assert(row.map(r => (r.getAs[String]("k"), r.getAs[Long]("version"))).toSeq === Seq(("X", 4L)))
  }

  test("keyed table: an empty batch commits no version and keeps no stage dir") {
    import spark.implicits._
    import graft.operators.TableLog
    import graft.streaming.MergeIngest
    val root = java.nio.file.Files.createTempDirectory("graft_lww_empty").toString + "/t"
    val sink = MergeIngest.latestSink(root, Seq("k"), "version")
    val empty = Seq.empty[(String, Long, Double)].toDF("k", "version", "value")
    // before the bootstrap: nothing at all lands
    sink(empty, 0L)
    assert(TableLog.versions(spark, root).isEmpty)
    assert(!new java.io.File(root).exists(), "an empty first batch must not create the table")
    sink(Seq(("X", 1L, 1.0)).toDF("k", "version", "value"), 1L)
    val dataDirs = new java.io.File(root, "data").list().toSet
    // after it: a watermark-only trigger neither commits nor stages
    sink(empty, 2L)
    assert(TableLog.versions(spark, root) === Seq(0L))
    assert(new java.io.File(root, "data").list().toSet === dataDirs)
    // the batch id stays unclaimed: data arriving under it commits
    sink(Seq(("X", 2L, 2.0)).toDF("k", "version", "value"), 2L)
    assert(TableLog.versions(spark, root) === Seq(0L, 1L))
    assert(TableLog.snapshot(spark, root).collect()
      .map(r => r.getAs[Long]("version")).toSeq === Seq(2L))
  }

  test("windowed metrics materialize into the keyed table (README pattern)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.TableLog
    import graft.streaming.MergeIngest
    val root = java.nio.file.Files.createTempDirectory("graft_metrics").toString + "/t"
    val mem = MemoryStream[Event]
    // update mode: every batch re-emits a window's CURRENT totals, so
    // n_events is monotone per window — a valid upsert version
    val q = EventPipeline.hourlyMetrics(mem.toDF())
      .writeStream.outputMode("update")
      .foreachBatch(MergeIngest.latestSink(root, Seq("hour_start"), "n_events"))
      .start()
    // in event-time order: out-of-order feeds would cross the 10-min
    // watermark and legitimately drop late rows in update mode
    sample.sortBy(_.ts.getTime).grouped(2)
      .foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    q.stop()
    val table = TableLog.snapshot(spark, root)
      .select(col("hour_start"), col("n_events")).collect()
      .map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    // keyed table state == the batch aggregation over all events
    assert(table(ts("2024-01-01 00:00:00")) === 4L)
    assert(table(ts("2024-01-01 01:00:00")) === 1L)
    assert(table(ts("2024-01-01 02:00:00")) === 1L)
  }

  test("live socket-JSON seam end-to-end: dedup → hourly counts → keyed table, " +
       "crash/resume with at-least-once redelivery stays exactly-once") {
    import graft.operators.TableLog
    import graft.streaming.{EventStreams, MergeIngest, SocketSpool}
    // The full consumer-loop shape (consumer.py:57-92: receive JSON
    // records at-least-once, dedup by event id, aggregate, persist)
    // over a LIVE transport: a real TCP server feeds frames to a
    // SocketSpool relay, whose durable spool is the replayable source
    // — persist-then-process, because a raw socket cannot checkpoint-
    // resume. Exactly-once is asserted END-TO-END across a crash:
    // recovered dedup state drops redelivered ids, the recovered
    // watermark drops stale replays, and each closed hour lands in the
    // keyed table exactly once.
    val server = new java.net.ServerSocket(0, 1,
      java.net.InetAddress.getByName("127.0.0.1"))
    server.setSoTimeout(30000)
    val port = server.getLocalPort
    val base = java.nio.file.Files.createTempDirectory("graft_socket").toString
    val spoolDir = s"$base/spool"; val table = s"$base/table"; val ckpt = s"$base/ckpt"

    def frame(id: Long, hhmm: String, typ: String = "click") =
      s"""{"event_id":$id,"ts":"2024-01-01T$hhmm:00.000Z","user_id":7,""" +
        s""""event_type":"$typ","value":1.0,"props":"{}"}"""

    def startQuery() = EventStreams.readEventStream(spark,
        EventStreams.EventSource.FileTail(spoolDir, "json"))
      .transform(EventPipeline.dedupedHourlyTypeCounts(_))
      .writeStream
      .foreachBatch(MergeIngest.latestSink(table, Seq("hour", "event_type"), "n"))
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .start()

    // "tick" events only run batches / advance the clock — assert on clicks
    def tableState(): Map[Long, Long] =
      if (TableLog.versions(spark, table).isEmpty) Map.empty
      else TableLog.snapshot(spark, table).filter(col("event_type") === "click").collect()
        .map(r => r.getAs[Long]("hour") -> r.getAs[Long]("n")).toMap

    /** Send frames over the live socket, then poll processAllAvailable
      * until the keyed table satisfies `want` — transport + relay are
      * asynchronous, so lines may not have landed in the spool when the
      * first processAllAvailable runs. */
    def feedUntil(out: java.io.PrintWriter, q: org.apache.spark.sql.streaming.StreamingQuery,
                  frames: Seq[String], want: Map[Long, Long] => Boolean): Unit = {
      frames.foreach(out.println); out.flush()
      val deadline = System.currentTimeMillis() + 30000
      var done = false
      while (!done && System.currentTimeMillis() < deadline) {
        q.processAllAvailable()
        done = want(tableState())
        if (!done) Thread.sleep(200)
      }
      assert(done, s"timed out waiting for keyed-table state; got ${tableState()}")
    }

    val relay = new SocketSpool("127.0.0.1", port, spoolDir)
    val conn = server.accept() // the relay connects once; it outlives query crashes
    val producer = new java.io.PrintWriter(conn.getOutputStream, true)
    try {
      // ---- session 1: normal ingest, including an in-batch duplicate
      val q1 = startQuery()
      val trancheA = Seq(
        frame(1, "00:05"), frame(2, "00:10"), frame(2, "00:10"), // dup frame
        frame(3, "00:20"),
        frame(10, "01:02"), frame(11, "01:20"),
        frame(19, "01:25")) // advances watermark to 01:15 → hour 0 closes
      // append-mode hours emit in a batch AFTER the watermark passes, so
      // follow with tick events (filtered pre-watermark) to run batches
      feedUntil(producer, q1, trancheA, _ => true)
      feedUntil(producer, q1, Seq(frame(900, "01:25", "tick"), frame(901, "01:25", "tick")),
        st => st.nonEmpty)
      val h0 = tableState().keys.min
      assert(tableState() === Map(h0 -> 3L), "hour 0 must close with ids 1,2,3 deduped")

      // ---- crash: kill the query mid-stream (the relay keeps spooling)
      q1.stop()

      // ---- session 2: resume from the checkpoint; the producer re-sends
      // in-flight frames (at-least-once, like a queue consumer restart)
      val q2 = startQuery()
      val trancheB = Seq(
        frame(11, "01:20"), // redelivery ≥ watermark: recovered dedup state must drop it
        frame(3, "00:20"),  // stale replay < recovered watermark: dropped as late
        frame(12, "01:30"), // genuinely new hour-1 event
        frame(20, "02:05"), frame(21, "02:10"),
        frame(29, "02:45")) // advances watermark to 02:35 → hour 1 closes
      feedUntil(producer, q2, trancheB, _ => true)
      feedUntil(producer, q2, Seq(frame(902, "02:45", "tick"), frame(903, "02:45", "tick")),
        st => st.contains(h0 + 1))
      q2.stop()

      // hour 1 = ids 10,11,19,12 — pre-crash rows merged with post-crash
      // rows (agg state recovered), redelivered 11 dropped (dedup state
      // recovered), replayed 3 dropped (watermark recovered, hour 0 final)
      assert(tableState() === Map(h0 -> 3L, (h0 + 1) -> 4L))
    } finally {
      relay.close(); producer.close(); conn.close(); server.close()
    }
  }

  test("live socket → spool → streaming JsonlSource (DSv2 micro-batch): " +
       "dedup → hourly counts → keyed table, crash/resume stays exactly-once") {
    import graft.operators.TableLog
    import graft.streaming.{EventStreams, MergeIngest, SocketSpool}
    // Same consumer-loop shape as the FileTail e2e above, but the
    // replayable leg is graft's OWN DSv2 streaming source — the
    // checkpointable message-bus analog (consumer.py:30-52): offsets
    // are a durable (file, byte-range) log, and a tiny
    // maxBytesPerTrigger forces multi-batch drains so the crash lands
    // between byte-offset checkpoints, not on a tidy file boundary.
    val server = new java.net.ServerSocket(0, 1,
      java.net.InetAddress.getByName("127.0.0.1"))
    server.setSoTimeout(30000)
    val port = server.getLocalPort
    val base = java.nio.file.Files.createTempDirectory("graft_mbsock").toString
    val spoolDir = s"$base/spool"; val table = s"$base/table"; val ckpt = s"$base/ckpt"

    def frame(id: Long, hhmm: String, typ: String = "click") =
      s"""{"event_id":$id,"ts":"2024-01-01T$hhmm:00.000Z","user_id":7,""" +
        s""""event_type":"$typ","value":1.0,"props":"{}"}"""

    def startQuery() = EventStreams.readEventStream(spark,
        EventStreams.EventSource.JsonlDir(spoolDir, maxBytesPerTrigger = 256))
      .transform(EventPipeline.dedupedHourlyTypeCounts(_))
      .writeStream
      .foreachBatch(MergeIngest.latestSink(table, Seq("hour", "event_type"), "n"))
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .start()

    def tableState(): Map[Long, Long] =
      if (TableLog.versions(spark, table).isEmpty) Map.empty
      else TableLog.snapshot(spark, table).filter(col("event_type") === "click").collect()
        .map(r => r.getAs[Long]("hour") -> r.getAs[Long]("n")).toMap

    def feedUntil(out: java.io.PrintWriter, q: org.apache.spark.sql.streaming.StreamingQuery,
                  frames: Seq[String], want: Map[Long, Long] => Boolean): Unit = {
      frames.foreach(out.println); out.flush()
      val deadline = System.currentTimeMillis() + 30000
      var done = false
      while (!done && System.currentTimeMillis() < deadline) {
        q.processAllAvailable()
        done = want(tableState())
        if (!done) Thread.sleep(200)
      }
      assert(done, s"timed out waiting for keyed-table state; got ${tableState()}")
    }

    val relay = new SocketSpool("127.0.0.1", port, spoolDir)
    val conn = server.accept()
    val producer = new java.io.PrintWriter(conn.getOutputStream, true)
    try {
      // ---- session 1: ingest with an in-batch duplicate
      val q1 = startQuery()
      feedUntil(producer, q1, Seq(
        frame(1, "00:05"), frame(2, "00:10"), frame(2, "00:10"), // dup frame
        frame(3, "00:20"),
        frame(10, "01:02"), frame(11, "01:20"),
        frame(19, "01:25")), _ => true)
      feedUntil(producer, q1, Seq(frame(900, "01:25", "tick"), frame(901, "01:25", "tick")),
        st => st.nonEmpty)
      val h0 = tableState().keys.min
      assert(tableState() === Map(h0 -> 3L), "hour 0 must close with ids 1,2,3 deduped")
      // the byte cap actually forced a multi-batch drain (each ~140-byte
      // frame exceeds half the 256-byte budget)
      assert(q1.recentProgress.count(_.numInputRows > 0) > 2,
        "maxBytesPerTrigger must split the drain into multiple micro-batches")

      // ---- crash mid-stream; the relay keeps spooling
      q1.stop()

      // ---- session 2: resume from the (file, byte) offsets in the WAL
      val q2 = startQuery()
      feedUntil(producer, q2, Seq(
        frame(11, "01:20"), // redelivery: recovered dedup state drops it
        frame(3, "00:20"),  // stale replay < recovered watermark: dropped
        frame(12, "01:30"),
        frame(20, "02:05"), frame(21, "02:10"),
        frame(29, "02:45")), _ => true)
      feedUntil(producer, q2, Seq(frame(902, "02:45", "tick"), frame(903, "02:45", "tick")),
        st => st.contains(h0 + 1))
      q2.stop()
      assert(tableState() === Map(h0 -> 3L, (h0 + 1) -> 4L))
    } finally {
      relay.close(); producer.close(); conn.close(); server.close()
    }
  }

  test("sessionizeStateful emits gap-closed and timed-out sessions") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Event]
    val q = EventPipeline.sessionizeStateful(mem.toDS(), 1800)
      .writeStream.format("memory").queryName("ss").outputMode("append").start()
    mem.addData(sample: _*); q.processAllAvailable()
    // in-batch gap closures: user 1 session 1 (3 events), user 2 session 1
    // advance the watermark far past every open session → timeout flush
    mem.addData(late(90, "2024-01-02 12:00:00")); q.processAllAvailable()
    mem.addData(late(91, "2024-01-03 12:00:00")); q.processAllAvailable()
    q.stop()
    val out = spark.table("ss")
    val s1 = out.filter(col("user_id") === 1 && col("sess_no") === 1).head
    assert(s1.getAs[Long]("n_events") === 3)
    assert(s1.getAs[Double]("total_value") === 50.0)
    // both users end with 2 sessions each once timeouts flush
    assert(out.filter(col("user_id") === 1).count() === 2)
    assert(out.filter(col("user_id") === 2).count() === 2)
  }

  test("DedupIngest: streaming band-store dedup — incremental ≡ full, " +
       "cross-batch pairs land, replay is exactly-once") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup_ingest")
      .toFile.getAbsolutePath
    val store = s"$dir/store"; val pairsP = s"$dir/pairs"
    val batch0 = Seq(
      1L -> "the quick brown fox jumps over the lazy dog tonight",
      2L -> "the quick brown fox jumps over the lazy dog today",
      3L -> "completely different content with no overlap at all here")
    val batch1 = Seq(
      4L -> "the quick brown fox jumps over the lazy dog tonight", // ≡ doc 1
      5L -> "another unrelated document text body entirely now")
    val mem = MemoryStream[(Long, String)]
    val snk = graft.streaming.DedupIngest.sink(store, pairsP, "doc_id",
      "text", k = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch(snk)
      .option("checkpointLocation", s"$dir/ckpt").start()
    mem.addData(batch0: _*); q.processAllAvailable()
    mem.addData(batch1: _*); q.processAllAvailable()
    q.stop()

    def pairSet(d: String = dir) = graft.operators.TableLog.snapshot(spark, s"$d/pairs")
      .select("d1", "d2", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // every pair lands exactly once, in the batch of its LATER member:
    // the streamed union must equal the one-shot full-corpus run
    val full = graft.operators.Dedup.minhashLshPairs(
        (batch0 ++ batch1).toDF("doc_id", "text"), "doc_id", "text",
        k = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)
      .select("d1", "d2", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val streamed = pairSet()
    assert(streamed === full)
    // the exact cross-batch duplicate is banding-proof (every band
    // matches) and must be attributed to the later batch
    val b1 = graft.operators.TableLog.snapshot(spark, pairsP)
      .filter(col("batch") === 1)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(b1.contains((1L, 4L)))

    // replay batch 1 AFTER everything landed (pairs and store
    // committed, checkpoint not): both tags are known, nothing lands
    snk(batch1.toDF("doc_id", "text"), 1L)
    assert(pairSet() === full)
    assertOneCommitPerBatch(store, "store", 2)
    assertOneCommitPerBatch(pairsP, "pairs", 2)
    replayEachCrashPoint(dir, Seq("pairs", "store"), 2, full)(d =>
      graft.streaming.DedupIngest.sink(s"$d/store", s"$d/pairs", "doc_id",
        "text", k = 3, bands = 16, rowsPerBand = 4, threshold = 0.5)(
        batch1.toDF("doc_id", "text"), 1L))(pairSet(_))
  }

  test("TableIngest: one atomic commit per batch, O(delta) feed, replay exactly-once") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.TableLog
    val dir = java.nio.file.Files.createTempDirectory("graft_table_ingest")
      .toFile.getAbsolutePath
    val root = s"$dir/table"
    val batch0 = Seq((1L, "aa"), (2L, "bb"))
    val batch1 = Seq((3L, "cc"), (4L, "dd"))
    val mem = MemoryStream[(Long, String)]
    val snk = graft.streaming.TableIngest.sink(root, "doc_id")
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch(snk)
      .option("checkpointLocation", s"$dir/ckpt").start()
    mem.addData(batch0: _*); q.processAllAvailable()
    mem.addData(batch1: _*); q.processAllAvailable()
    q.stop()
    // one commit per micro-batch; the table time-travels per batch
    // boundary and the latest snapshot is the streamed union
    assert(TableLog.versions(spark, root) === Seq(0L, 1L))
    assert(TableLog.snapshot(spark, root, Some(0L)).count() === 2L)
    val full = TableLog.snapshot(spark, root)
    assert(full.select("doc_id").as[Long].collect().toSet ===
      Set(1L, 2L, 3L, 4L))
    // the change feed attributes every row to its batch's version and
    // serves from those versions' own add files ONLY (O(delta), never
    // the table): each commit's feed refs are its adds
    val feed = TableLog.changes(spark, root, fromV = -1L, toV = 1L,
      "doc_id", "text")
    assert(feed.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet ===
      Set((0L, 1L, "added"), (0L, 2L, "added"),
        (1L, 3L, "added"), (1L, 4L, "added")))
    assert(addedFiles(root, -1L, 1L).nonEmpty)
    assert(inputs(feed) === addedFiles(root, -1L, 1L),
      "ingest feed must read exactly the batches' add files, never a snapshot")
    // replay of an already-committed batch (the worst crash point:
    // commit landed, checkpoint didn't) must be a no-op — the
    // idempotence tag, not luck, prevents the duplicate commit
    snk(batch1.toDF("doc_id", "text"), 1L)
    assert(TableLog.versions(spark, root) === Seq(0L, 1L))
    assert(TableLog.snapshot(spark, root).count() === 4L)
    // a crash BEFORE commit leaves only an unreferenced staged dir:
    // simulate by staging without committing, then replaying batch 2
    TableLog.stageWrite(Seq((5L, "ee")).toDF("doc_id", "text"), root,
      "ingest/b2")
    snk(Seq((5L, "ee")).toDF("doc_id", "text"), 2L)
    assert(TableLog.versions(spark, root) === Seq(0L, 1L, 2L))
    assert(TableLog.snapshot(spark, root).count() === 5L)
    assert(TableLog.changes(spark, root, 1L, 2L, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet ===
      Set((2L, 5L, "added")))
  }

  test("TableIngest: one Spark job per batch, none for a replay; an empty batch keeps nothing") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    import graft.operators.TableLog
    import org.apache.spark.graftspec.JobProbe
    val dir = java.nio.file.Files.createTempDirectory("graft_ingest_jobs")
      .toFile.getAbsolutePath
    def stageDirs(root: String, id: Long): Seq[String] =
      Option(new java.io.File(s"$root/data/ingest").list()).toSeq.flatten
        .filter(_.startsWith(s"b$id-"))
    val root = s"$dir/table"
    val snk = graft.streaming.TableIngest.sink(root, "doc_id")
    // a planned (non-local) frame: its plan runs only inside a job
    val batch = spark.range(0, 50, 1, 2)
      .select(col("id").as("doc_id"), concat(lit("t"), col("id")).as("text"))
    val (_, nBatch) = JobProbe.jobs(spark.sparkContext)(snk(batch, 0L))
    assert(nBatch === 1, "a batch must cost exactly its staging write")
    assert(TableLog.versions(spark, root) === Seq(0L))
    assert(TableLog.snapshot(spark, root).count() === 50L)
    assert(TableLog.changes(spark, root, -1L, 0L, "doc_id", "text").count() === 50L)
    // a replay of the committed batch is answered from the tag cache
    val (_, nReplay) = JobProbe.jobs(spark.sparkContext)(snk(batch, 0L))
    assert(nReplay === 0)
    // an empty batch: still one job (the batch's plan must run), but
    // no version and no stage dir survive it
    val (_, nEmpty) = JobProbe.jobs(spark.sparkContext)(
      snk(batch.filter(col("doc_id") < 0L), 1L))
    assert(nEmpty === 1)
    assert(TableLog.versions(spark, root) === Seq(0L))
    assert(stageDirs(root, 1L).isEmpty)
    // the same through a live stream: once the late event advances
    // the dedup watermark, the engine runs a watermark-only (empty)
    // batch to evict state — it must commit nothing and leave no
    // stage dir
    val sroot = s"$dir/stream"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val ssnk = graft.streaming.TableIngest.sink(sroot, "event_id")
    val events = MemoryStream[Event]
    val q = EventPipeline.dedupStream(events.toDF()).writeStream
      .foreachBatch { (b: DataFrame, id: Long) => ssnk(b, id); seen.add(id); () }
      .option("checkpointLocation", s"$dir/ckpt").start()
    events.addData(sample: _*); q.processAllAvailable()
    events.addData(late(90, "2024-01-01 12:00:00")); q.processAllAvailable()
    def emptyIds = {
      val tags = TableLog.committedTags(spark, sroot)
      seen.asScala.toSeq.filterNot(id => tags(s"ingest-b$id"))
    }
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (emptyIds.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    q.stop()
    assert(emptyIds.nonEmpty, s"no watermark-only batch ran (batches ${seen.asScala})")
    assert(TableLog.versions(spark, sroot).size === seen.size - emptyIds.size)
    emptyIds.foreach(id => assert(stageDirs(sroot, id).isEmpty,
      s"empty batch $id left a stage dir"))
    assert(TableLog.snapshot(spark, sroot).count() === 6L)
  }

  test("CheckedIngest: constraints gate the stream, violations dead-letter, replay exactly-once") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.TableLog
    val dir = java.nio.file.Files.createTempDirectory("graft_checked_ingest")
      .toFile.getAbsolutePath
    val root = s"$dir/table"; val dead = s"$dir/dead"
    TableLog.commit(spark, root,
      TableLog.stageWrite(Seq((1L, "aa")).toDF("doc_id", "text"), root,
        "base"), Nil)
    TableLog.addCheckConstraint(spark, root, "text_present",
      "text IS NOT NULL")
    TableLog.addCheckConstraint(spark, root, "text_short",
      "length(text) <= 4")
    val mem = MemoryStream[(Long, String)]
    val snk = graft.streaming.CheckedIngest.sink(root, dead, "doc_id")
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch(snk)
      .option("checkpointLocation", s"$dir/ckpt").start()
    mem.addData((2L, "bb"), (3L, "cc")) // all conforming
    q.processAllAvailable()
    mem.addData((4L, null), (5L, "toolong"), (6L, "dd")) // 2 violations
    q.processAllAvailable()
    q.stop()
    // main table: base + the conforming rows only
    val main = TableLog.snapshot(spark, root)
    assert(main.select("doc_id").as[Long].collect().toSet ===
      Set(1L, 2L, 3L, 6L))
    // dead letter: exactly the violations, each naming its refuser
    val dl = TableLog.snapshot(spark, dead)
    val byId = dl.collect().map(r => r.getLong(r.fieldIndex("doc_id")) ->
      r.getString(r.fieldIndex("_violated"))).toMap
    // NULL text fails BOTH rules (length(NULL) is NULL = unsatisfied
    // under the format's three-valued contract) — the _violated list
    // names every refuser
    assert(byId === Map(4L -> "text_present,text_short",
      5L -> "text_short"))
    assert(dl.columns.contains("_batch_id"))
    // the change feed carries ONLY the conforming rows
    val feed = TableLog.changes(spark, root,
      fromV = 2L, toV = TableLog.versions(spark, root).last,
      "doc_id", "text")
    assert(feed.select("doc_id").as[Long].collect().toSet ===
      Set(2L, 3L, 6L))
    // replay of the mixed batch: both halves no-op on their tags
    val vMain = TableLog.versions(spark, root)
    val vDead = TableLog.versions(spark, dead)
    snk(Seq((4L, null.asInstanceOf[String]), (5L, "toolong"), (6L, "dd"))
      .toDF("doc_id", "text"), 1L)
    assert(TableLog.versions(spark, root) === vMain)
    assert(TableLog.versions(spark, dead) === vDead)
    // a batch whose rows ALL violate still claims its main tag (empty
    // commit), so ITS replay is a no-op too
    snk(Seq((7L, null.asInstanceOf[String])).toDF("doc_id", "text"), 2L)
    val vMain2 = TableLog.versions(spark, root)
    snk(Seq((7L, null.asInstanceOf[String])).toDF("doc_id", "text"), 2L)
    assert(TableLog.versions(spark, root) === vMain2)
    assert(TableLog.snapshot(spark, dead)
      .filter(col("doc_id") === 7L).count() === 1L)
    assert(TableLog.snapshot(spark, root).count() === 4L)
    // the WORST crash window: main half committed, dead half not, and
    // a constraint DROPPED before the replay — the replay must judge
    // under the rules the main commit landed with (versionOfTag), so
    // the violator still dead-letters instead of vanishing from BOTH
    // tables (re-split under post-drop rules would call it "good",
    // then skip it because the main tag is already claimed)
    val b3 = Seq((8L, "ee"), (9L, "waytoolong")).toDF("doc_id", "text")
    val goodHalf = b3.filter(length(col("text")) <= 4)
    TableLog.commit(spark, root,
      TableLog.stageWrite(goodHalf, root, "checked/b3"), Nil,
      cdf = TableLog.stageFeed(
        goodHalf.select(col("doc_id"), lit("added").as("status")),
        root, "checked/b3"),
      tag = Some("checked-b3"))
    TableLog.dropCheckConstraint(spark, root, "text_short")
    val snk2 = graft.streaming.CheckedIngest.sink(root, dead, "doc_id")
    snk2(b3, 3L)
    assert(TableLog.snapshot(spark, dead)
      .filter(col("doc_id") === 9L).select("_violated")
      .head().getString(0) === "text_short",
      "the dead half must be judged under the main commit's rules")
    assert(TableLog.snapshot(spark, root)
      .filter(col("doc_id") === 9L).count() === 0L)
    assert(TableLog.snapshot(spark, root)
      .filter(col("doc_id") === 8L).count() === 1L)
  }

  test("CheckedIngest: dot-named constraints split cleanly; clean batches claim the dead completion tag") {
    import spark.implicits._
    import graft.operators.TableLog
    val dir = java.nio.file.Files.createTempDirectory("graft_checked_dots")
      .toFile.getAbsolutePath
    val root = s"$dir/table"; val dead = s"$dir/dead"
    TableLog.commit(spark, root,
      TableLog.stageWrite(Seq((1L, "aa")).toDF("doc_id", "text"), root,
        "base"), Nil)
    // '.' is legal in a constraint name (validatePaths charset) — the
    // sink's verdict columns must not dot-parse as nested-field access
    TableLog.addCheckConstraint(spark, root, "text.v2",
      "length(text) <= 4")
    val snk = graft.streaming.CheckedIngest.sink(root, dead, "doc_id")
    snk(Seq((2L, "bb"), (3L, "toolong")).toDF("doc_id", "text"), 0L)
    assert(TableLog.snapshot(spark, root)
      .select("doc_id").as[Long].collect().toSet === Set(1L, 2L))
    val dl = TableLog.snapshot(spark, dead)
    assert(dl.select("doc_id").as[Long].collect().toSet === Set(3L))
    assert(dl.select("_violated").head().getString(0) === "text.v2")
    // an ALL-GOOD batch still claims the dead COMPLETION tag (an empty
    // commit): a replay after log retention expired the main entry can
    // prove nothing was lost instead of refusing the stream
    snk(Seq((4L, "dd")).toDF("doc_id", "text"), 1L)
    assert(TableLog.committedTags(spark, dead).contains("checked-dead-b1"))
    // a FRESH sink replaying the clean batch no-ops on the tag pair
    // alone — no versionOfTag lookup, so entry expiry cannot hurt it
    val vM = TableLog.versions(spark, root)
    val vD = TableLog.versions(spark, dead)
    val snk2 = graft.streaming.CheckedIngest.sink(root, dead, "doc_id")
    snk2(Seq((4L, "dd")).toDF("doc_id", "text"), 1L)
    assert(TableLog.versions(spark, root) === vM)
    assert(TableLog.versions(spark, dead) === vD)
  }

  test("EvolvingIngest: schema drift widens atomically, reverts append cleanly, types refuse, replay exactly-once") {
    import spark.implicits._
    import graft.operators.TableLog
    val dir = java.nio.file.Files.createTempDirectory("graft_evolving_ingest")
      .toFile.getAbsolutePath
    val root = s"$dir/table"
    TableLog.commit(spark, root,
      TableLog.stageWrite(Seq((1L, "aa")).toDF("doc_id", "text"), root,
        "base"), Nil)
    val snk = graft.streaming.EvolvingIngest.sink(root, "doc_id")
    // drift: batch 0 carries a NEW column — rows + widened schema in
    // one commit; the base row null-fills it
    snk(Seq((2L, "bb", "en")).toDF("doc_id", "text", "lang"), 0L)
    val snap = TableLog.snapshot(spark, root)
    assert(snap.columns.toSet === Set("doc_id", "text", "lang"))
    assert(snap.filter(col("doc_id") === 1L).select("lang")
      .head().isNullAt(0), "pre-drift rows must null-fill the new column")
    // a REVERTED producer (old shape) appends without disturbing the
    // declared schema — and without spraying a redundant schema ref
    val refsBefore = TableLog.versions(spark, root)
    snk(Seq((3L, "cc")).toDF("doc_id", "text"), 1L)
    assert(TableLog.snapshot(spark, root).columns.toSet ===
      Set("doc_id", "text", "lang"))
    assert(TableLog.snapshot(spark, root)
      .filter(col("doc_id") === 3L).select("lang").head().isNullAt(0))
    // replay: both batches no-op on their tags
    val vs = TableLog.versions(spark, root)
    snk(Seq((2L, "bb", "en")).toDF("doc_id", "text", "lang"), 0L)
    snk(Seq((3L, "cc")).toDF("doc_id", "text"), 1L)
    assert(TableLog.versions(spark, root) === vs)
    // a TYPE change is poison, not drift: the stream fails loudly
    intercept[IllegalArgumentException] {
      snk(Seq((4L, 99L)).toDF("doc_id", "text"), 2L)
    }
    assert(TableLog.snapshot(spark, root).count() === 3L)
    // the change feed stayed O(delta) through the drift
    val feed = TableLog.changes(spark, root,
      fromV = refsBefore.head, toV = TableLog.versions(spark, root).last,
      "doc_id", "text")
    assert(feed.select("doc_id").as[Long].collect().toSet === Set(2L, 3L))
    // both batches are insert-only commits whose feed is their own
    // adds (cdf == add) — the widening batch 0 through evolveAppend,
    // the reverted batch 1 through the fast path: the plan reads
    // exactly those files, never the table, and no sidecar is written
    // (the refused batch 2 stages nothing either)
    assert(inputs(feed) === addedFiles(root, refsBefore.head,
        TableLog.versions(spark, root).last),
      "drift ingest must serve the feed from both batches' add files")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, "cdf")),
      "drift ingest must write no change-feed sidecar")
    // post-drift, a batch carrying the WIDENED shape rides the
    // zero-schema-read fast path (all its columns are proven present)
    snk(Seq((5L, "ee", "fr")).toDF("doc_id", "text", "lang"), 3L)
    val snap2 = TableLog.snapshot(spark, root)
    assert(snap2.filter(col("doc_id") === 5L).select("lang")
      .head().getString(0) === "fr")
    assert(snap2.count() === 4L)
  }

  test("MergeIngest: CDC batches apply as bucket-pruned merges, exactly-once") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.TableLog
    val dir = java.nio.file.Files.createTempDirectory("graft_merge_ingest")
      .toFile.getAbsolutePath
    val root = s"$dir/table"
    val nB = 8
    // replica bootstrap: the table exists, bucketed, before the stream
    val seed = (1L to 8L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    TableLog.commit(spark, root,
      TableLog.stageBucketed(seed, root, "seed", "doc_id", nB), Nil)
    val batch0 = Seq((2L, "T2", "changed"), (9L, "t9", "added"),
      (1L, "", "removed"))
    val batch1 = Seq((9L, "T9", "changed"), (4L, "", "removed"))
    val mem = MemoryStream[(Long, String, String)]
    val snk = graft.streaming.MergeIngest.sink(root, "doc_id", nB)
    val q = mem.toDF().toDF("doc_id", "text", "status").writeStream
      .foreachBatch(snk)
      .option("checkpointLocation", s"$dir/ckpt").start()
    mem.addData(batch0: _*); q.processAllAvailable()
    mem.addData(batch1: _*); q.processAllAvailable()
    q.stop()
    // one merge commit per batch; final content = seed with the CDC
    // stream applied in order
    assert(TableLog.versions(spark, root) === Seq(0L, 1L, 2L))
    val expect = Set(2L -> "T2", 3L -> "t3", 5L -> "t5", 6L -> "t6",
      7L -> "t7", 8L -> "t8", 9L -> "T9")
    def content() = TableLog.snapshot(spark, root)
      .as[(Long, String)].collect().toSet
    assert(content() === expect)
    // each batch's merge is PRUNED: at least one seed file untouched
    // by both batches must survive to the final version by exact path
    val f0 = TableLog.activeFiles(spark, root, Some(0L)).toSet
    val fLast = TableLog.activeFiles(spark, root).toSet
    assert((f0 & fLast).nonEmpty,
      "every seed file was rewritten — the merge did not prune buckets")
    // replay of a committed batch no-ops — same sink instance (the
    // cached tag set) AND a fresh instance (tags re-read from the log,
    // the restart path)
    snk(batch1.toDF("doc_id", "text", "status"), 1L)
    assert(TableLog.versions(spark, root) === Seq(0L, 1L, 2L))
    graft.streaming.MergeIngest.sink(root, "doc_id", nB)(
      batch1.toDF("doc_id", "text", "status"), 1L)
    assert(TableLog.versions(spark, root) === Seq(0L, 1L, 2L))
    assert(content() === expect)
    // the replica stays time-travelable per batch boundary
    assert(TableLog.snapshot(spark, root, Some(0L))
      .as[(Long, String)].collect().toSet ===
      seed.as[(Long, String)].collect().toSet)
  }

  test("IndexIngest: streamed upserts ≡ fresh re-encode; probes serve; replay stable") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.operators.Similarity
    val emb = graft.sources.Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id"), col("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graft_index_ingest")
      .toFile.getAbsolutePath
    val idx = s"$dir/idx"
    // bootstrap: train + build on the seed half; the stream maintains
    val seed = emb.filter(col("vec_id") % 2 === 0)
    Similarity.writeIvfPqIndex(seed, idx, nCentroids = 8, blockDim = 8)
    // stream the other half in two batches, plus a re-send of two SEED
    // ids with NEGATED vectors — the upsert path (batch wins)
    val rows = emb.filter(col("vec_id") % 2 === 1)
      .as[(Long, Seq[Float])].collect()
    val (b0, b1raw) = rows.partition(_._1 % 4 == 1)
    val upserts = emb.filter(col("vec_id").isin(0L, 2L))
      .as[(Long, Seq[Float])].collect().map { case (i, v) => (i, v.map(-_)) }
    val b1 = b1raw ++ upserts
    assert(b0.nonEmpty && b1.nonEmpty)
    val mem = MemoryStream[(Long, Seq[Float])]
    val snk = graft.streaming.IndexIngest.sink(idx, "vec_id")
    val q = mem.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch(snk)
      .option("checkpointLocation", s"$dir/ckpt").start()
    mem.addData(b0.toSeq: _*); q.processAllAvailable()
    mem.addData(b1.toSeq: _*); q.processAllAvailable()
    q.stop()
    // maintained index ≡ fresh re-encode of the final logical corpus
    // under the same artifacts (seed minus upserted ids, plus stream)
    val streamed = (b0 ++ b1).toSeq.toDF("vec_id", "embedding")
    val finalCorpus = seed.join(streamed.select("vec_id"), Seq("vec_id"),
      "left_anti").unionByName(streamed)
    val got = spark.read.parquet(s"$idx/cells")
      .select(col("nbr_id"), col("cell").cast("long"), col("codes"))
    val fresh = Similarity.encodeWithIndexArtifacts(finalCorpus, idx)
      .select(col("nbr_id"), col("cell").cast("long"), col("codes"))
    assert(got.exceptAll(fresh).count() === 0)
    assert(fresh.exceptAll(got).count() === 0)
    // probes see streamed rows: a streamed vector probed against the
    // index finds itself... as its own nearest is excluded, assert it
    // appears among some other probe's candidates instead: probe with
    // the seed's vec 4 and require at least one odd (streamed) id in
    // the pool
    val probe = emb.filter(col("vec_id") === 4L)
    val res = Similarity.probeIvfPqIndex(probe, idx, k = 8, nProbe = 8)
    assert(res.filter(col("nbr_id") % 2 === 1).count() > 0,
      "streamed rows must be probe-visible")
    // replay the last batch (worst crash point) — content unchanged
    snk(b1.toSeq.toDF("vec_id", "embedding"), 1L)
    val again = spark.read.parquet(s"$idx/cells")
      .select(col("nbr_id"), col("cell").cast("long"), col("codes"))
    assert(again.exceptAll(fresh).count() === 0)
    assert(fresh.exceptAll(again).count() === 0)
  }

  test("DriftIngest: cumulative streamed PSI ≡ one-shot drift; replay exactly-once") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_drift_ingest")
      .toFile.getAbsolutePath
    val emb = graft.sources.Tables.embeddings(spark, TestSpark.sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val ref = emb.filter(col("vec_id") % 2 === 1)
    graft.streaming.DriftIngest.writeReference(ref, "embedding", s"$dir/ref")
    val rows = emb.filter(col("vec_id") % 2 === 0)
      .as[(Long, Seq[Double])].collect()
    val (b0, b1) = rows.partition(_._1 % 4 == 0)
    assert(b0.nonEmpty && b1.nonEmpty)
    val mem = MemoryStream[(Long, Seq[Double])]
    val snk = graft.streaming.DriftIngest.sink(s"$dir/ref", s"$dir/store", "embedding")
    val q = mem.toDF().toDF("vec_id", "embedding").writeStream
      .foreachBatch(snk)
      .option("checkpointLocation", s"$dir/ckpt").start()
    mem.addData(b0.toSeq: _*); q.processAllAvailable()
    mem.addData(b1.toSeq: _*); q.processAllAvailable()
    q.stop()

    def finalPsi(d: String = dir) = graft.operators.TableLog.snapshot(spark, s"$d/store/psi")
      .filter(col("batch") === 1)
      .select("dim", "psi", "status", "mean_a", "mean_b").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2),
        r.getDouble(3), r.getDouble(4))).sortBy(_._1)
    val streamed = finalPsi()
    // the monitor after the last batch must equal the ONE-SHOT drift
    // of (reference, everything streamed): histogram merge is exact
    // integer algebra, so psi/status match exactly; the mean rides
    // fp-summed sx, compared with a rounding-slack tolerance
    val oneShot = graft.operators.Profile.embeddingDrift(
        ref, rows.toSeq.toDF("vec_id", "embedding"), "embedding")
      .select("dim", "psi", "status", "mean_a", "mean_b").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2),
        r.getDouble(3), r.getDouble(4))).sortBy(_._1)
    assert(streamed.length === 64 && oneShot.length === 64)
    streamed.zip(oneShot).foreach { case (s, o) =>
      assert(s._1 === o._1)
      assert(s._2 === o._2, s"psi mismatch at dim ${s._1}")
      assert(s._3 === o._3, s"status mismatch at dim ${s._1}")
      assert(math.abs(s._4 - o._4) <= 1e-3 && math.abs(s._5 - o._5) <= 1e-3)
    }
    // replay after everything landed (hist, cum and psi committed,
    // checkpoint not): batch 1 folds exactly once, nothing lands
    snk(b1.toSeq.toDF("vec_id", "embedding"), 1L)
    assert(finalPsi().toSeq === streamed.toSeq)
    Seq("hist", "cum", "psi").foreach(t =>
      assertOneCommitPerBatch(s"$dir/store/$t", t, 2))
    replayEachCrashPoint(dir, Seq("store/hist", "store/cum", "store/psi"), 2,
        streamed.toSeq)(d =>
      graft.streaming.DriftIngest.sink(s"$d/ref", s"$d/store", "embedding")(
        b1.toSeq.toDF("vec_id", "embedding"), 1L))(finalPsi(_).toSeq)
  }

  test("PackIngest: id-ordered stream packs exactly like the one-shot batch; replay stable") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_pack_ingest")
      .toFile.getAbsolutePath
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf)
      .select(col("source"), col("doc_id"),
        size(graft.functions.TextFunctions.tokens(coalesce(col("text"), lit(""))))
          .cast("long").as("n_tokens"),
        md5(coalesce(col("text"), lit(""))).as("__tie"))
    val rows = docs.as[(String, Long, Long, String)].collect().sortBy(_._2)
    val n = rows.length
    val batches = Seq(rows.take(n / 3), rows.slice(n / 3, 2 * n / 3), rows.drop(2 * n / 3))
    val seqLen = 64L
    val snk = graft.streaming.PackIngest.sink(s"$dir/store", seqLen)
    val mem = MemoryStream[(String, Long, Long, String)]
    val q = mem.toDF().toDF("source", "doc_id", "n_tokens", "__tie").writeStream
      .foreachBatch(snk)
      .option("checkpointLocation", s"$dir/ckpt").start()
    batches.foreach { b => mem.addData(b.toSeq: _*); q.processAllAvailable() }
    q.stop()

    def streamedAssign(d: String = dir) = graft.operators.TableLog.snapshot(spark, s"$d/store/assign")
      .select("doc_id", "seq_id", "cum").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val streamed = streamedAssign()
    // one-shot packing over the SAME order: two-phase prefix sum, same
    // seq rule — the stream's tape must land every doc identically
    val oneShot = graft.operators.Pack.shardedCumSum(
        docs, "source", "doc_id", "__tie", "n_tokens", "cum")
      .withColumn("seq_id", call_function("div", col("cum") - col("n_tokens"), lit(seqLen)))
      .select("doc_id", "seq_id", "cum").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(streamed.size === n && oneShot.size === n)
    assert(streamed === oneShot,
      "continuous packing must equal the one-shot batch packing")
    // sequences are final: a doc's seq_id never exceeds its cum bound
    streamed.foreach { case (_, (sid, _)) => assert(sid >= 0L) }
    // replay of the last batch after everything landed (assign and
    // base committed, checkpoint not): identical assignments, no
    // double-fold
    snk(batches.last.toSeq.toDF("source", "doc_id", "n_tokens", "__tie"), 2L)
    assert(streamedAssign() === streamed)
    Seq("assign", "base").foreach(t =>
      assertOneCommitPerBatch(s"$dir/store/$t", t, 3))
    replayEachCrashPoint(dir, Seq("store/assign", "store/base"), 3, oneShot)(d =>
      graft.streaming.PackIngest.sink(s"$d/store", seqLen)(
        batches.last.toSeq.toDF("source", "doc_id", "n_tokens", "__tie"), 2L))(
      streamedAssign(_))
  }

  test("DedupIngest, DriftIngest, PackIngest: a micro-batch's source plan " +
       "runs once; a replay or an empty batch is one job and commits nothing") {
    import org.apache.spark.graftspec.JobProbe
    import graft.operators.TableLog
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_source_once")
      .toFile.getAbsolutePath
    // every evaluation of a batch row's plan counts once
    val runs = spark.sparkContext.longAccumulator("source_rows")
    val seen = udf { (id: Long) => runs.add(1L); id }.asNondeterministic()
    val texts = Seq("the quick brown fox jumps over the lazy dog tonight",
      "the quick brown fox jumps over the lazy dog today",
      "completely different content with no overlap at all here")
    val docs = spark.range(0, texts.size, 1, 2)
      .select(seen(col("id") + 1).as("doc_id"),
        element_at(typedLit(texts), (col("id") + 1).cast("int")).as("text"))
    val emb = graft.sources.Tables.embeddings(spark, TestSpark.sf)
      .filter(col("vec_id") % 4 === 0)
      .select(seen(col("vec_id")).as("vec_id"),
        col("embedding").cast("array<double>").as("embedding"))
    graft.streaming.DriftIngest.writeReference(
      graft.sources.Tables.embeddings(spark, TestSpark.sf)
        .filter(col("vec_id") % 4 === 1), "embedding", s"$dir/ref")
    val packed = graft.sources.Tables.documents(spark, TestSpark.sf)
      .filter(col("doc_id") % 3 === 0)
      .select(col("source"), seen(col("doc_id")).as("doc_id"),
        size(graft.functions.TextFunctions.tokens(coalesce(col("text"), lit(""))))
          .cast("long").as("n_tokens"),
        md5(coalesce(col("text"), lit(""))).as("__tie"))
    val cases = Seq(
      ("dedup", docs, Seq("store", "pairs"),
        graft.streaming.DedupIngest.sink(s"$dir/dedup/store",
          s"$dir/dedup/pairs", "doc_id", "text", k = 3, bands = 16,
          rowsPerBand = 4, threshold = 0.5)),
      ("drift", emb, Seq("hist", "cum", "psi"),
        graft.streaming.DriftIngest.sink(s"$dir/ref", s"$dir/drift",
          "embedding")),
      ("pack", packed, Seq("assign", "base"),
        graft.streaming.PackIngest.sink(s"$dir/pack", 64L)))
    cases.foreach { case (name, batch, tables, snk) =>
      def versions = tables.map(t => TableLog.versions(spark, s"$dir/$name/$t"))
      val rows = batch.count()
      runs.reset()
      snk(batch, 0L)
      assert(runs.value === rows, s"$name: the batch's plan ran more than once")
      assert(versions.forall(_ == Seq(0L)))
      val (_, nReplay) = JobProbe.jobs(spark.sparkContext)(snk(batch, 0L))
      assert(nReplay === 1, s"$name: a replay runs only its materialization")
      val (_, nEmpty) = JobProbe.jobs(spark.sparkContext)(
        snk(batch.filter(rand(1L) < -1.0), 1L)) // empty, but still planned
      assert(nEmpty === 1, s"$name: an empty batch runs only its materialization")
      assert(versions.forall(_ == Seq(0L)), s"$name: an empty batch committed")
    }
  }

  test("tablechanges source: commit feeds stream as micro-batches, restart resumes from the WAL, feed-less commits fail loudly") {
    import graft.operators.TableLog
    import graft.sources.Tables
    val spark0 = spark
    val docs = Tables.documents(spark0, TestSpark.sf)
    val root = java.nio.file.Files.createTempDirectory("graft_tcs").toString + "/t"
    val ckpt = java.nio.file.Files.createTempDirectory("graft_tcs_ck").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft_tcs_out").toString
    def slice(k: Int) =
      docs.filter(col("doc_id") % 50 === k).select("doc_id")
    def ids(k: Int) = slice(k).collect().map(_.getLong(0)).toSet
    // v0 = base load (below startingVersion: never served); v1 = feed
    TableLog.commit(spark0, root, TableLog.stageWrite(docs, root, "base"), Nil)
    TableLog.commitDeletesWithFeed(slice(0), root, "p0")
    def start() = spark0.readStream
      .format("graft.streaming.TableChangesSourceProvider")
      .option("path", root).option("idCol", "doc_id")
      .load()
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q1 = start(); q1.processAllAvailable()
    TableLog.commitDeletesWithFeed(slice(1), root, "p1") // v2, while live
    q1.processAllAvailable(); q1.stop()
    val got1 = spark0.read.parquet(outDir)
      .collect().map(r => (r.getAs[Long]("version"),
        r.getAs[Long]("doc_id"), r.getAs[String]("status")))
    assert(got1.map(_._1).toSet === Set(1L, 2L), "v0 must not be served")
    assert(got1.filter(_._1 == 1L).map(_._2).toSet === ids(0))
    assert(got1.filter(_._1 == 2L).map(_._2).toSet === ids(1))
    assert(got1.length === got1.distinct.length &&
      got1.forall(_._3 == "removed"))
    // offline commit; restart resumes from the WAL — v3 exactly once
    TableLog.commitDeletesWithFeed(slice(2), root, "p2") // v3
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val got2 = spark0.read.parquet(outDir)
      .collect().map(r => (r.getAs[Long]("version"), r.getAs[Long]("doc_id")))
    assert(got2.length === got1.length + ids(2).size,
      "restart must serve exactly the missed version, no replays")
    assert(got2.filter(_._1 == 3L).map(_._2).toSet === ids(2))
    // a FEED-LESS commit fails the stream loudly (requireFeed is the
    // streaming contract: O(delta) per trigger, never a snapshot diff)
    TableLog.commit(spark0, root,
      TableLog.stageWrite(docs.limit(5), root, "plain"), Nil) // v4
    val q3 = start()
    val boom = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q3.processAllAvailable()
    }
    q3.stop()
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(boom).exists(_.contains("no change-feed")))
  }

  test("live CDC replication: tablechanges stream → bucket-pruned merges keep a replica identical") {
    import graft.operators.{TableLog, Versioning}
    import graft.sources.Tables
    val spark0 = spark
    val docs = Tables.documents(spark0, TestSpark.sf)
    val base = java.nio.file.Files.createTempDirectory("graft_tcs_cdc").toString
    val a = s"$base/a"; val b = s"$base/b"
    val ckpt = s"$base/ck"
    // source table A: v0 base; replica B seeds at A@v0 (bucketed)
    TableLog.commit(spark0, a, TableLog.stageWrite(docs, a, "base"), Nil)
    TableLog.commit(spark0, b,
      TableLog.stageBucketed(TableLog.snapshot(spark0, a, Some(0L)), b,
        "seed", "doc_id", nBuckets = 16), Nil)
    // the replication loop: each micro-batch = one-or-more versions'
    // feeds; group by version and apply IN ORDER as pruned merges
    // (upsert rows fetched from A's snapshot by semi-join on the feed)
    val q = spark0.readStream
      .format("graft.streaming.TableChangesSourceProvider")
      .option("path", a).option("idCol", "doc_id")
      .load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        val vs = batch.select("version").distinct()
          .collect().map(_.getLong(0)).sorted
        vs.foreach { v =>
          val feed = batch.filter(col("version") === v)
          val upserts = TableLog.snapshot(spark0, a, Some(v), Some("doc_id"))
            .join(feed.filter(col("status") =!= "removed").select("doc_id"),
              Seq("doc_id"), "left_semi")
          TableLog.mergeInto(spark0, b, "doc_id", upserts,
            feed.filter(col("status") === "removed").select("doc_id"),
            nBuckets = 16, name = s"apply$v", tag = Some(s"cdc-v$v"))
        }
      }.start()
    // A takes two feed commits while the stream is live: a rewrite
    // whose feed is the computed diff (only %8 rows are 'changed'),
    // then a feed-carrying delete
    val v0 = TableLog.snapshot(spark0, a, Some(0L))
    val rewritten = v0.withColumn("text",
      when(col("doc_id") % 8 === 0, upper(col("text")))
        .otherwise(col("text")))
    TableLog.commitWithFeed(spark0, a,
      add = TableLog.stageWrite(rewritten, a, "up8"),
      remove = TableLog.activeFiles(spark0, a), before = v0,
      after = rewritten, idCol = "doc_id", contentCol = "text",
      name = "up8")
    q.processAllAvailable()
    // a TTL purge with feedIdCol: the replica must survive a
    // deleteWhere commit and apply its removed-ids feed like any other
    TableLog.deleteWhere(spark0, a, "doc_id", 40L, 80L, "ttl", 4,
      feedIdCol = Some("doc_id"))
    q.processAllAvailable()
    TableLog.commitDeletesWithFeed(
      TableLog.snapshot(spark0, a, None, Some("doc_id"))
        .filter(col("doc_id") % 31 === 5).select("doc_id"), a, "purge31")
    q.processAllAvailable(); q.stop()
    // replica ≡ source, content-wise (order/layout-free checksum)
    val cols = Seq("text", "lang", "source", "n_chars")
    def sum(root: String, idc: Option[String]) =
      Versioning.tableChecksum(
        TableLog.snapshot(spark0, root, None, idc), "doc_id", cols)
        .collect().map(r => (r.getLong(0), r.getLong(1))).head
    assert(sum(b, None) === sum(a, Some("doc_id")))
  }
}
