package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.sources.Event

/** Structured Streaming pipelines — the reference's Kinesis →
  * consumer → DynamoDB flow (consumer.py, enrichment.py,
  * admin_lambda.py metrics) re-expressed as readStream → transform →
  * writeStream graphs.
  *
  * Each transform takes an unbounded DataFrame (works identically on a
  * batch frame), so the same logic serves the batch queries and the
  * streaming path. State is bounded by watermarks: at 100 TB/day the
  * per-key state store holds only the open windows/sessions inside the
  * watermark horizon, partitioned by the group key.
  */
object EventPipeline {

  /** Tumbling 1h metrics with late-data tolerance — the admin
    * invocation/error dashboard (admin_lambda.py:75-140) as a live
    * stream. Append-mode compatible (watermark closes windows). */
  def hourlyMetrics(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "error", 1).otherwise(0)).as("n_errors"),
        round(sum(col("value")), 2).as("total_value"))
      .select(col("window.start").as("hour_start"), col("n_events"),
        col("n_errors"), col("total_value"))

  /** Sliding-window variant (width/slide), same append-mode contract. */
  def slidingMetrics(events: DataFrame, width: String = "1 hour",
                     slide: String = "30 minutes",
                     watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width, slide))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("total_value"))
      .select(col("window.start").as("win_start"), col("n_events"), col("total_value"))

  /** Streaming dedup by event id within the watermark horizon —
    * the consumer's `processed_keys` dedup (consumer.py:57-66) with
    * bounded state. */
  def dedupStream(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming CONTENT dedup: drop near-identical payloads (not just
    * replayed ids) within the watermark horizon, keyed by the 64-bit
    * SimHash fingerprint of the text column — the streaming face of
    * the batch dedup family ([[graft.operators.Dedup]]). Exact
    * SimHash-equal duplicates collapse to the first arrival; state is
    * one 8-byte key per distinct fingerprint inside the watermark,
    * bounded and tiny (the payload itself is never stored). */
  def dedupStreamByContent(docs: DataFrame, textCol: String, tsCol: String,
                           watermark: String = "10 minutes"): DataFrame =
    docs
      .withColumn("__fp",
        graft.functions.TextFunctions.simhash64(
          graft.functions.TextFunctions.tokens(col(textCol))))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  /** Gap sessions via the native session_window operator (Spark-first:
    * let Catalyst manage merge/state rather than hand-rolling). */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes",
                     watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("total_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"), col("total_value"))

  /** Trending top-k per tumbling window — the reference's
    * "recommendations" ranking (web_api.py:231-237) as a live stream.
    * Uses the native bounded-buffer [[graft.plans.TopKPairs]]
    * aggregate INSIDE the streaming window: state per open window is
    * k (value, id) pairs — not the window's row set — and partial
    * buffers merge map-side before the state store, the same
    * bounded-shuffle shape as the batch q46. Append-mode compatible
    * (the watermark closes windows). */
  def trendingTopK(events: DataFrame, k: Int, width: String = "1 hour",
                   watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width))
      .agg(graft.plans.TopKPairs.topK(
        struct(col("value"), col("event_id")), k).as("top"))
      .select(col("window.start").as("win_start"), posexplode(col("top")))
      .select(col("win_start"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("event_id"), col("col.value").as("value"))

  /** Windowed approximate distinct users per event type — the
    * [[graft.plans.HllRegisters]] HLL sketch inside watermarked
    * streaming state: each open (window, event_type) group holds a
    * 256-BYTE register bank instead of the distinct user set, so
    * state is bounded regardless of cardinality — the streaming
    * `count(distinct)` that survives 100 TB/day. Banks merge by
    * elementwise max across micro-batches (the aggregate is
    * associative, exactly what streaming partial aggregation needs). */
  def windowedDistinctUsers(events: DataFrame, width: String = "1 hour",
                            watermark: String = "10 minutes"): DataFrame = {
    import graft.functions.Sketches
    // native (bucket, rho) — bit-identical to the md5-hex chain, so
    // banks (and the replayable estimate contract) are unchanged
    events
      .withWatermark("ts", watermark)
      .select(col("ts"), col("event_type"),
        Sketches.bucketRho(col("user_id")).as("bs"))
      .groupBy(window(col("ts"), width), col("event_type"))
      .agg(graft.plans.HllRegisters.hllRegisters(
        col("bs"), Sketches.M).as("regs"))
      .select(col("window.start").as("win_start"), col("event_type"),
        Sketches.hllEstimate(col("regs")).as("approx_users"))
  }

  /** Windowed count-min user-frequency sketch — the
    * [[graft.operators.Freq]] CMS grid inside watermarked streaming
    * state: each open window holds at most depth×width counters (one
    * long each) instead of per-user counts, so heavy-hitter estimation
    * survives unbounded user cardinality. Counters are sums — they
    * merge across micro-batches by plain addition, which is exactly
    * what streaming partial aggregation does — and the emitted grid is
    * cell-identical to the batch [[graft.operators.Freq.cmsSketch]]
    * over the same rows (spec-proved), so downstream probes
    * (estimate = min over rows of the term's counters) work unchanged
    * on either. */
  def windowedUserFreqSketch(events: DataFrame, depth: Int = 4, width: Int = 256,
                             winWidth: String = "1 hour",
                             watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .select(col("ts"), explode(graft.operators.Freq.cmsCells(
        col("user_id").cast("string"), depth, width)).as("cell"))
      .groupBy(window(col("ts"), winWidth), col("cell.row").as("row"),
        col("cell.bucket").as("bucket"))
      .agg(count(lit(1)).as("c"))
      .select(col("window.start").as("win_start"), col("row"), col("bucket"), col("c"))

  /** Streaming half of the rate-anomaly alerting loop: watermarked
    * per-(type, hour) counts in UPDATE mode. Pair with
    * `MergeIngest.latestSink(root, Seq("hour", "event_type"), "n")` in
    * `foreachBatch` — a window's count only grows as late rows
    * arrive, so last-writer-wins by n materializes the latest count,
    * and a batch rewrites only the hours it touched — then alert with
    * [[graft.operators.Funnel.anomaliesFromHourly]] over
    * `TableLog.snapshot`. State per open window is one count; history
    * lives in the table, not the stream. */
  def hourlyTypeCounts(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"),
        expr("unix_micros(window.start) div 3600000000").as("hour"), col("n"))

  /** The composed consumer loop — dedup by event id THEN hourly
    * per-type counts, the reference's full receive→dedup→aggregate
    * handler (consumer.py:57-92) as one query. The two standalone
    * pipelines each define their own watermark, and Spark disallows
    * redefining one mid-stream, so the composition shares a single
    * watermark across both stateful operators (dedup state and open
    * windows evict on the same horizon). Append-mode: each closed
    * (hour, type) emits exactly once — pair with
    * `MergeIngest.latestSink(root, Seq("hour", "event_type"), "n")`. */
  def dedupedHourlyTypeCounts(events: DataFrame,
                              watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"),
        expr("unix_micros(window.start) div 3600000000").as("hour"), col("n"))

  /** Stream ⋈ static broadcast dim — the enrichment join
    * (enrichment.py:83-131) on a live stream. */
  def enrichStream(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), col("user_id") === col("c_custkey"), "left")
      .select(col("event_id"), col("ts"), col("user_id"),
        coalesce(col("c_name"), lit("N/A")).as("cust_name"),
        col("value"))

  /** Stream-stream interval join: purchases joined to the same user's
    * clicks within the preceding `windowSeconds` — the funnel/attribution
    * shape. Both sides carry watermarks so the join state is bounded:
    * a click is dropped once the watermark passes click_ts + window. */
  def clickToPurchase(events: DataFrame, windowSeconds: Long,
                      watermark: String = "10 minutes"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", watermark)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("purchase_ts", watermark)
    clicks.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $windowSeconds SECONDS"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("click_ts"), col("purchase_ts"), col("value"))
  }

  /** LEFT OUTER stream-stream interval join — [[clickToPurchase]]
    * with the watermark-bounded outer semantics: every click emits
    * EXACTLY once; matched clicks emit (possibly several rows) as
    * purchases arrive, and a click that never matched inside its
    * window emits one row with NULL purchase columns when the
    * watermark closes the interval (Spark holds the unmatched row in
    * join state until click_ts + window is provably past on BOTH
    * sides, then releases it — bounded state, no early false
    * negatives). This is the streaming form of the reference's
    * fail-open enrichment (enrichment.py:69-80 keeps the title row
    * when details never resolve, rather than dropping it): downstream
    * sees the full click stream, match-or-not.
    *
    * State/scale contract is the inner join's: both sides
    * watermarked, the time-range conjunct bounds retention to the
    * window, and the join key (user_id) partitions state. */
  def clickToPurchaseOuter(events: DataFrame, windowSeconds: Long,
                           watermark: String = "10 minutes"): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", watermark)
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("purchase_ts", watermark)
    clicks.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $windowSeconds SECONDS"),
      "left_outer")
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("click_ts"), col("purchase_ts"), col("value"))
  }

  // ------------------------------------------------------- custom state

  case class SessionState(sessNo: Int, lastTsMicros: Long, n: Long, total: Double)
  case class SessionOut(user_id: Long, sess_no: Int, n_events: Long, total_value: Double)

  /** Custom-state gap sessionization via flatMapGroupsWithState — for
    * semantics session_window can't express (per-session derived
    * state, early emission rules). Emits a session when the gap is
    * exceeded inside a batch; an EventTimeTimeout (watermark-driven)
    * flushes the open session of idle keys once the watermark passes
    * lastTs + gap.
    *
    * State per key is O(1) (one open session), the canonical bounded-
    * state shape for KeyValueGroupedDataset pipelines.
    */
  def sessionizeStateful(events: Dataset[Event], gapSeconds: Long,
                         watermark: String = "10 minutes"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, it: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(st =>
              SessionOut(userId, st.sessNo, st.n, math.rint(st.total * 100) / 100))
            state.remove()
            out.iterator
          } else {
            val sorted = it.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var st = state.getOption.getOrElse(SessionState(0, Long.MinValue, 0, 0.0))
            val closed = Seq.newBuilder[SessionOut]
            sorted.foreach { e =>
              val tsMicros = e.ts.getTime * 1000
              if (st.n > 0 && tsMicros - st.lastTsMicros > gapSeconds * 1000000L) {
                closed += SessionOut(userId, st.sessNo, st.n, math.rint(st.total * 100) / 100)
                st = SessionState(st.sessNo + 1, tsMicros, 1, e.value)
              } else {
                st = SessionState(if (st.n == 0) st.sessNo + 1 else st.sessNo,
                  tsMicros, st.n + 1, st.total + e.value)
              }
            }
            state.update(st)
            state.setTimeoutTimestamp(st.lastTsMicros / 1000 + gapSeconds * 1000)
            closed.result().iterator
          }
      }
  }
}
