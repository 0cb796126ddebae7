package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.operators.TableLog
import graft.streaming.{EventPipeline, EventStreams, TableIngest}

/** The streaming ingest path the reference runs on Kinesis:
  * JSONL files → `EventStreams.JsonlDir` → `EventPipeline.dedupStream`
  * → `TableIngest.sink`, one TableLog commit per micro-batch.
  *
  * The feed is the `events` table in event-time order, with seeded
  * jitter and ~5% redeliveries, all well inside the 10-minute
  * watermark, so deduplication must keep exactly one copy of every
  * event. A measured part runs two phases on a fresh table:
  *  1. drain a fixed backlog under `AvailableNow` with a fixed
  *     `maxBytesPerTrigger` (`pass_s` is its wall time);
  *  2. restart live while an open-loop generator writes one file per
  *     tick at a fixed rate; each event's lag runs from its file's due
  *     time to the end of the commit that made it readable.
  */
object StreamWorkload {
  val RatePerS = 2000
  val TickMs = 200
  val LinesPerFile = 1000
  val WarmupLines = 12000
  val BacklogLines = 20000
  val DrainCapBytes: Long = 512L * 1024
  val WarmupCapBytes: Long = 256L * 1024
  /** Live events due in the first seconds after the restart are not
    * counted: the restart's first trigger is set-up, not steady lag. */
  val LiveWarmupS = 2.0
  val RedeliveryShare = 0.05
  val JitterMs = 120000L
  val RedeliveryDelayMs = 240000L

  final case class Ev(id: Long, tsMs: Long, user: Long, etype: String, value: Double, props: String)

  /** The seeded delivery order of one pass over `events`, repeated with
    * shifted ids and times for as long as the generator runs. */
  final class Feed(cycle: IndexedSeq[Ev]) {
    private val idShift = cycle.map(_.id).max + 1
    private val tsShift = cycle.map(_.tsMs).max - cycle.map(_.tsMs).min + 86400000L
    def apply(k: Long): Ev = {
      val c = k / cycle.size
      val e = cycle((k % cycle.size).toInt)
      if (c == 0) e else e.copy(id = e.id + c * idShift, tsMs = e.tsMs + c * tsShift)
    }
  }

  def feed(ctx: Ctx): Feed = {
    val base = graft.sources.Tables.events(ctx.spark, ctx.sf)
      .select("event_id", "ts", "user_id", "event_type", "value", "props").collect()
      .map(r => Ev(r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2), r.getString(3),
        r.getDouble(4), r.getString(5)))
      .sortBy(e => (e.tsMs, e.id))
    val rnd = new scala.util.Random(ctx.seed)
    val keyed = ArrayBuffer[(Double, Int, Ev)]()
    base.foreach { e =>
      val at = e.tsMs + (rnd.nextDouble() * 2 - 1) * JitterMs
      keyed += ((at, keyed.size, e))
      if (rnd.nextDouble() < RedeliveryShare)
        keyed += ((at + rnd.nextDouble() * RedeliveryDelayMs, keyed.size, e))
    }
    new Feed(keyed.sortBy(k => (k._1, k._2)).map(_._3).toIndexedSeq)
  }

  private val mapper = new ObjectMapper()

  private def line(e: Ev): String = {
    val n = mapper.createObjectNode()
    n.put("event_id", e.id)
    n.put("ts", java.time.Instant.ofEpochMilli(e.tsMs).toString)
    n.put("user_id", e.user)
    n.put("event_type", e.etype)
    n.put("value", e.value)
    n.put("props", e.props)
    mapper.writeValueAsString(n)
  }

  /** Write feed lines [from, to) as one file, atomically: the source
    * skips dot-files, so it sees the file whole or not at all. */
  private def writeFile(f: Feed, dir: String, seq: Int, from: Long, to: Long): Long = {
    val tmp = Paths.get(dir, f".f-$seq%09d.tmp")
    val w = Files.newBufferedWriter(tmp)
    try (from until to).foreach { k => w.write(line(f(k))); w.write('\n') }
    finally w.close()
    val size = Files.size(tmp)
    Files.move(tmp, Paths.get(dir, f"f-$seq%09d.jsonl"), StandardCopyOption.ATOMIC_MOVE)
    size
  }

  private final case class SinkCall(batch: Long, start: Long, end: Long) {
    /** Inside a trigger (whose end is known to the millisecond only). */
    def in(p: StreamingQueryProgress): Boolean =
      start >= triggerStart(p) && end <= triggerEnd(p) + 1000000L
  }

  /** The benchmark's wrapper around `TableIngest.sink`: records when
    * each batch's commit ended and how long the sink call took. */
  private final class TimedSink(root: String) {
    private val inner = TableIngest.sink(root, "event_id", streamId = "bench")
    private val log = new ConcurrentLinkedQueue[SinkCall]()
    val fn: (DataFrame, Long) => Unit = (df, id) => {
      val t0 = Clock.now()
      inner(df, id)
      log.add(SinkCall(id, t0, Clock.now()))
    }
    def calls: Seq[SinkCall] = log.asScala.toSeq
  }

  /** Progress of every trigger, kept only while tracing. */
  private final class Progress extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = events.add(e.progress)
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    def of(q: StreamingQuery): Seq[StreamingQueryProgress] =
      events.asScala.filter(_.runId == q.runId).toSeq
  }

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
  private def triggerStart(p: StreamingQueryProgress): Long =
    Clock.fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
  private def triggerEnd(p: StreamingQueryProgress): Long =
    triggerStart(p) + (dur(p, "triggerExecution") * 1e6).toLong

  private final case class Part(drainS: Double, lagMs: Seq[Double], batches: Int,
                                lateMsMax: Double, layers: Map[String, Double])

  private def start(df: DataFrame, sink: TimedSink, ckpt: String,
                    trigger: Trigger): StreamingQuery =
    df.writeStream.foreachBatch(sink.fn).option("checkpointLocation", ckpt)
      .trigger(trigger).start()

  private def events(ctx: Ctx, dir: String, cap: Long): DataFrame =
    EventPipeline.dedupStream(EventStreams.readEventStream(ctx.spark,
      EventStreams.EventSource.JsonlDir(dir, cap)))

  def run(ctx: Ctx): Outcome = {
    val f = feed(ctx)
    // set-up: a warm-up stream on its own table drains a backlog in
    // two restarts, one small batch per file, so the per-trigger path
    // runs as often as in a live phase
    val warm = s"${ctx.out}/stream/warmup"
    Files.createDirectories(Paths.get(warm, "in"))
    val warmSink = new TimedSink(s"$warm/table")
    (0L until WarmupLines by LinesPerFile).zipWithIndex.foreach { case (from, i) =>
      writeFile(f, s"$warm/in", i, from, math.min(from + LinesPerFile, WarmupLines))
      if (from + LinesPerFile == WarmupLines / 2 || from + LinesPerFile >= WarmupLines)
        start(events(ctx, s"$warm/in", WarmupCapBytes), warmSink, s"$warm/ckpt",
          Trigger.AvailableNow()).awaitTermination()
    }

    val (untraced, next, setupS) = part(ctx, f, WarmupLines, "untraced")
    val traced = if (ctx.traced) {
      ctx.startTracing()
      Some(part(ctx, f, next, "traced")._1)
    } else None

    val parts = untraced +: traced.toSeq
    val endToEnd = Map(
      "setup_s" -> setupS,
      "latency_p50_ms" -> Stats.median(untraced.lagMs),
      "pass_s" -> untraced.drainS,
      "streaming.lag_p90_ms" -> Stats.pct(untraced.lagMs, 90),
      "streaming.lag_p99_ms" -> Stats.pct(untraced.lagMs, 99))
    val layers = traced.map { t =>
      t.layers + ("trace.overhead_pct" -> (t.drainS - untraced.drainS) / untraced.drainS * 100)
    }.getOrElse(Map.empty)
    Outcome(
      attempted = parts.map(_.batches).sum + parts.size,
      failed = 0,
      errors = Nil,
      metrics = endToEnd ++ layers,
      gateQueries = Nil,
      oracleSql = Map.empty,
      gateStream = true,
      summary = Seq(
        f"stream_ingest: backlog $BacklogLines lines drained in ${untraced.drainS}%.2f s " +
          f"(${BacklogLines / untraced.drainS}%.0f rows/s), live $RatePerS events/s: " +
          f"lag p50 ${endToEnd("latency_p50_ms")}%.0f ms, p90 ${endToEnd("streaming.lag_p90_ms")}%.0f ms, " +
          f"p99 ${endToEnd("streaming.lag_p99_ms")}%.0f ms " +
          f"over ${untraced.lagMs.size} events, generator late by at most ${untraced.lateMsMax}%.0f ms"))
  }

  /** One measured part on a fresh table: drain, then live. Returns the
    * part, the next feed position, and the set-up time (JVM start to
    * the drain's start). */
  private def part(ctx: Ctx, f: Feed, from: Long, label: String): (Part, Long, Double) = {
    val base = s"${ctx.out}/stream/$label"
    val in = s"$base/in"
    val root = s"$base/table"
    val ckpt = s"$base/ckpt"
    Files.createDirectories(Paths.get(in))
    val progress = if (ctx.tracer.enabled) {
      val p = new Progress; ctx.spark.streams.addListener(p); Some(p)
    } else None
    val sink = new TimedSink(root)
    var seq = 0
    var inBytes = 0L
    (from until from + BacklogLines by LinesPerFile).foreach { a =>
      inBytes += writeFile(f, in, seq, a, math.min(a + LinesPerFile, from + BacklogLines))
      seq += 1
    }

    // phase 1: drain the backlog
    val setupS = ctx.sinceJvmStart()
    val d0 = Clock.now()
    val dq = start(events(ctx, in, DrainCapBytes), sink, ckpt, Trigger.AvailableNow())
    dq.awaitTermination()
    val d1 = Clock.now()
    val drainS = (d1 - d0) / 1e9
    val vDrained = TableLog.history(ctx.spark, root).collect().map(_.getLong(0)).max

    // phase 2: live, with the generator on this thread
    val b0 = Clock.now()
    val live = events(ctx, in, Long.MaxValue)
    val buildMs = (Clock.now() - b0) / 1e6
    val lq = start(live, sink, ckpt, Trigger.ProcessingTime(0L))
    val perTick = RatePerS * TickMs / 1000
    val ticks = ((LiveWarmupS + ctx.seconds) * 1000 / TickMs).ceil.toInt
    val liveFrom = from + BacklogLines
    val due = new Array[Long](ticks)
    var lateMsMax = 0.0
    val g0 = Clock.now()
    (0 until ticks).foreach { k =>
      due(k) = g0 + k * TickMs * 1000000L
      val wait = (due(k) - Clock.now()) / 1000000L
      if (wait > 0) Thread.sleep(wait)
      inBytes += writeFile(f, in, seq, liveFrom + k * perTick, liveFrom + (k + 1) * perTick)
      seq += 1
      lateMsMax = math.max(lateMsMax, (Clock.now() - due(k)) / 1e6)
    }
    val g1 = Clock.now()
    lq.processAllAvailable()
    lq.stop()
    val g2 = Clock.now()
    val liveTo = liveFrom + ticks.toLong * perTick

    // lag: the live commits' change feed names the events each made readable
    val tagVersion = TableLog.history(ctx.spark, root).collect()
      .map(r => r.getAs[String]("tag") -> r.getLong(0)).toMap
    // an empty batch (a watermark-only trigger) commits nothing
    val commitEnd = sink.calls.flatMap(c => tagVersion.get(s"bench-b${c.batch}").map(_ -> c.end)).toMap
    val vLast = tagVersion.values.max
    val firstDue = scala.collection.mutable.HashMap[Long, Long]()
    (liveFrom until liveTo).foreach { k =>
      firstDue.getOrElseUpdate(f(k).id, due(((k - liveFrom) / perTick).toInt)) }
    val counted = g0 + (LiveWarmupS * 1e9).toLong
    val lagMs = TableLog.changes(ctx.spark, root, vDrained, vLast, "event_id", "props")
      .select("version", "event_id").collect().toSeq
      .flatMap { r =>
        firstDue.get(r.getLong(1)).filter(_ >= counted)
          .map(d => (commitEnd(r.getLong(0)) - d) / 1e6)
      }
    require(lagMs.nonEmpty, s"$label: no live event was committed")

    writeGate(ctx, f, from, liveTo, root, label)
    val layers = progress.map { p =>
      ctx.drainEvents()
      ctx.spark.streams.removeListener(p)
      tracePart(ctx, (d0, d1), (g0, g2), p.of(dq), p.of(lq), sink)
      val lp = p.of(lq).filter(_.numInputRows > 0)
      val dp = p.of(dq).filter(_.numInputRows > 0)
      val hist = TableLog.history(ctx.spark, root).collect()
      layerMetrics(ctx, dp, lp, sink, hist, drainS, buildMs, inBytes, root,
        lateMsMax, liveTo - liveFrom, g1)
    }.getOrElse(Map.empty)
    (Part(drainS, lagMs, sink.calls.size, lateMsMax, layers), liveTo, setupS)
  }

  /** Spans of a traced part: the phases; inside them the query's start,
    * its triggers (from streaming progress) and its stop; inside each
    * trigger the sink call. Live-phase time outside these spans is the
    * query waiting for the generator's next file. */
  private def tracePart(ctx: Ctx, drain: (Long, Long), live: (Long, Long),
                        dp: Seq[StreamingQueryProgress], lp: Seq[StreamingQueryProgress],
                        sink: TimedSink): Unit = {
    val tr = ctx.tracer
    Seq(("stream.drain", drain, dp), ("stream.live", live, lp)).foreach {
      case (name, (a, b), ps) =>
        val phase = tr.record(name, a, b, 0L)
        ps.headOption.foreach(p => tr.record("streaming.start", a, triggerStart(p), phase))
        ps.foreach { p =>
          val trig = tr.record("streaming.trigger", triggerStart(p), triggerEnd(p), phase)
          sink.calls.filter(_.in(p)).foreach(c => tr.record("TableLog.sink", c.start, c.end, trig))
        }
        ps.lastOption.foreach(p => tr.record("streaming.stop", triggerEnd(p), b, phase))
    }
  }

  private def layerMetrics(ctx: Ctx, dp: Seq[StreamingQueryProgress],
                           lp: Seq[StreamingQueryProgress], sink: TimedSink,
                           hist: Array[Row], drainS: Double, buildMs: Double,
                           inBytes: Long, root: String, lateMsMax: Double,
                           liveLines: Long, genStop: Long): Map[String, Double] = {
    def med(ps: Seq[StreamingQueryProgress], f: StreamingQueryProgress => Double) =
      Stats.medianOr0(ps.map(f))
    val trig = lp.map(p => (triggerStart(p), triggerEnd(p), ctx.engine.within(triggerStart(p), triggerEnd(p))))
    def medE(f: (Long, Long, EngineCounts) => Double) = Stats.medianOr0(trig.map(f.tupled))
    val wallMs = trig.map(t => (t._2 - t._1) / 1e6).sum
    val tasks = trig.flatMap(_._3.tasks)
    val sinkCalls = sink.calls.filter(c => lp.exists(c.in))
    val state = lp.lastOption.map(_.stateOperators.toSeq).getOrElse(Nil)
    val tableBytes = Files.walk(Paths.get(root)).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum
    val readByStop = lp.filter(p => triggerEnd(p) <= genStop).map(_.numInputRows).sum
    Map(
      "SparkEntry.build_ms" -> buildMs,
      "plans.plan_ms" -> med(lp, dur(_, "queryPlanning")),
      "engine.jobs" -> medE((_, _, e) => e.jobs),
      "engine.stages" -> medE((_, _, e) => e.stages),
      "engine.tasks" -> medE((_, _, e) => e.tasks.size),
      "engine.sched_delay_ms" -> medE((_, _, e) => e.schedDelayMs),
      "engine.idle_ms" -> medE((a, b, e) => e.idleMs(a, b)),
      "operators.task_run_ms" -> medE((_, _, e) => e.runMs),
      "operators.task_cpu_ms" -> medE((_, _, e) => e.cpuMs),
      "operators.gc_ms" -> medE((_, _, e) => e.gcMs),
      "operators.busy_share" ->
        (if (wallMs > 0) tasks.map(_.runMs).sum / (wallMs * ctx.cores) else 0.0),
      "shuffle.write_bytes" -> medE((_, _, e) => e.shuffleWrite),
      "shuffle.read_bytes" -> medE((_, _, e) => e.shuffleRead),
      "shuffle.spill_bytes" -> medE((_, _, e) => e.spill),
      "shuffle.peak_exec_mem_bytes" ->
        (if (tasks.isEmpty) 0.0 else tasks.map(_.peakMem).max.toDouble),
      "streaming.trigger_ms" -> med(lp, dur(_, "triggerExecution")),
      "streaming.query_planning_ms" -> med(lp, dur(_, "queryPlanning")),
      "streaming.add_batch_ms" -> med(lp, dur(_, "addBatch")),
      "streaming.wal_commit_ms" -> med(lp, dur(_, "walCommit")),
      "streaming.commit_offsets_ms" -> med(lp, dur(_, "commitOffsets")),
      "streaming.state_rows" -> state.map(_.numRowsTotal).sum.toDouble,
      "streaming.state_mem_bytes" -> state.map(_.memoryUsedBytes).sum.toDouble,
      "streaming.catchup_rows_per_s" -> BacklogLines / drainS,
      "TableLog.sink_ms" -> Stats.medianOr0(sinkCalls.map(c => (c.end - c.start) / 1e6)),
      "TableLog.sink_jobs" ->
        Stats.medianOr0(sinkCalls.map(c => ctx.engine.within(c.start, c.end).jobs.toDouble)),
      "TableLog.files_per_commit" -> Stats.medianOr0(hist.map(_.getAs[Long]("n_added").toDouble).toSeq),
      "TableLog.write_amp" -> tableBytes.toDouble / inBytes,
      "sources.get_batch_ms" -> med(dp, p => dur(p, "latestOffset") + dur(p, "getBatch")),
      "sources.rows_per_trigger" -> med(dp, _.numInputRows.toDouble),
      "generator.late_ms_max" -> lateMsMax,
      "generator.backlog_rows_end" -> (liveLines - readByStop).toDouble)
  }

  /** The stream table and the distinct events fed to it, side by side
    * for the gate. */
  private def writeGate(ctx: Ctx, f: Feed, from: Long, to: Long, root: String,
                        label: String): Unit = {
    val dir = s"${ctx.out}/gate/stream/$label"
    TableLog.snapshot(ctx.spark, root).coalesce(1).write.parquet(s"$dir/table")
    val seen = scala.collection.mutable.LinkedHashMap[Long, Ev]()
    (from until to).foreach { k => val e = f(k); seen.getOrElseUpdate(e.id, e) }
    val rows = seen.values.map(e => Row(e.id, new java.sql.Timestamp(e.tsMs), e.user,
      e.etype, e.value, e.props)).toSeq
    ctx.spark.createDataFrame(rows.asJava, EventStreams.eventSchema)
      .coalesce(1).write.parquet(s"$dir/expected")
  }
}
