package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** The closed-loop query workloads: one client calls
  * `SparkEntry.queries(name)` and collects the rows, as the Web API
  * does, one call after another in a seeded order per pass.
  *
  * Set-up runs every query once, untimed: that pass warms the JVM and
  * Spark's code caches, and its rows are written to `out/gate/<name>`
  * for the DuckDB oracle check. Every timed call must then return rows
  * with the same fingerprint, so a wrong answer never passes as fast.
  */
object BatchWorkload {
  final case class Spec(name: String, queries: Seq[String])

  /** The reference Web API's own request shapes (web_api.py's scans,
    * probes, set differences and top-k, and the TableLog reads behind
    * its key patterns): planning and the job/stage floor dominate. */
  val ApiMix: Spec = Spec("api_mix", Seq(
    "q02_filter_project", "q04_semi_join", "q05_anti_join", "q08_topk_recommend",
    "q11_set_diff", "q52_union_probe", "q114_gsi_probe", "q146_prefix_scan",
    "q149_ts_window_scan", "q150_keybatch_probe", "q157_latest_k"))

  /** Pipeline operators where task time matters: the prefix-filter
    * join and its verify tail, the Cluster fixpoint, and the
    * co-purchase PageRank ledger. Runnable by hand; too slow to set up
    * for the per-change runs. q97_index_delta is left out: its second
    * call in one JVM returns wrong rows (the cached index is updated
    * in place), which the timed-call check reports. */
  val HeavyOps: Spec = Spec("heavy_ops", Seq(
    "q54_ngram_prefix", "q59_cluster_dedup", "q115_copurchase_pagerank"))

  /** One call: Clock stamps at start, after DataFrame construction,
    * after planning (traced only) and after the rows arrived. */
  private final case class Call(query: String, t0: Long, t1: Long, t2: Long, t3: Long,
                                error: Option[String], recheck: Option[String] = None) {
    def ms: Double = (t3 - t0) / 1e6
  }

  private val recheckCount = new java.util.concurrent.atomic.AtomicInteger()

  private final case class Window(calls: Seq[Call], passSeconds: Seq[Double])

  def run(ctx: Ctx, spec: Spec): Outcome = {
    val errors = ArrayBuffer[String]()
    val sessionS = ctx.sinceJvmStart()
    var gateWriteS = 0.0
    // set-up: the gate pass, one untimed call per query
    val fingerprints = spec.queries.flatMap { q =>
      try {
        val df = graft.SparkEntry.queries(q)(ctx.spark, ctx.sf)
        val rows = df.collect()
        val w0 = System.nanoTime()
        writeGate(ctx, q, rows, df.schema)
        gateWriteS += (System.nanoTime() - w0) / 1e9
        Some(q -> fingerprint(rows))
      } catch { case NonFatal(e) =>
        errors += s"$q (set-up): ${oneLine(e)}"
        None
      }
    }.toMap
    val setupS = ctx.sinceJvmStart()

    val untraced = window(ctx, spec, fingerprints, 0)
    val traced = if (ctx.traced) {
      ctx.startTracing()
      val w = window(ctx, spec, fingerprints, 1)
      ctx.drainEvents()
      Some(w)
    } else None

    val timed = untraced.calls ++ traced.map(_.calls).getOrElse(Nil)
    timed.flatMap(c => c.error.map(e => s"${c.query}: $e")).foreach(errors += _)
    val ok = untraced.calls.filter(_.error.isEmpty).map(_.ms)
    require(ok.nonEmpty, s"${spec.name}: no timed call succeeded")
    val endToEnd = Map(
      "setup_s" -> setupS,
      "latency_p50_ms" -> Stats.median(ok),
      "pass_s" -> Stats.median(untraced.passSeconds))
    val perQuery = untraced.calls.filter(_.error.isEmpty).groupMap(_.query)(_.ms)
      .map { case (q, ms) => s"query.${q}_ms" -> Stats.median(ms) } +
      ("query.p90_ms" -> Stats.pct(ok, 90))
    val layers = traced.map(t => layerMetrics(ctx, untraced, t)).getOrElse(Map.empty)
    val summary = Seq(
      f"${spec.name}: setup ${setupS}%.1f s (session ready at ${sessionS}%.1f s, " +
        f"gate writes ${gateWriteS}%.1f s); ${untraced.calls.size} timed calls in " +
        f"${untraced.passSeconds.size} passes of " +
        untraced.passSeconds.map(p => f"$p%.2f").mkString(" ") + " s; " +
        f"p50 ${endToEnd("latency_p50_ms")}%.1f ms, p90 ${perQuery("query.p90_ms")}%.1f ms")
    Outcome(
      attempted = spec.queries.size + timed.size,
      failed = (spec.queries.size - fingerprints.size) + timed.count(_.error.nonEmpty),
      errors = errors.toSeq,
      metrics = endToEnd ++ perQuery ++ layers,
      gateQueries = fingerprints.keys.toSeq.sorted ++ timed.flatMap(_.recheck),
      oracleSql = graft.SparkEntry.oracleSql.view.filterKeys(spec.queries.contains).toMap,
      gateStream = false,
      summary = summary)
  }

  /** A timed window runs at least this many passes, so its median pass
    * is never the first, still-warming one, nor one disturbed pass. */
  private val MinPasses = 3

  /** Closed loop of whole passes, each in a seeded order: the whole
    * number of passes nearest to `ctx.seconds`, and at least
    * [[MinPasses]]. Every query is sampled equally often. */
  private def window(ctx: Ctx, spec: Spec, expected: Map[String, Int], index: Int): Window = {
    val rnd = new scala.util.Random(ctx.seed * 31 + index)
    val calls = ArrayBuffer[Call]()
    val passes = ArrayBuffer[Double]()
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    while (passes.size < MinPasses || elapsed + elapsed / passes.size / 2 < ctx.seconds) {
      val order = rnd.shuffle(spec.queries)
      ctx.tracer.span("bench.pass") {
        val p0 = System.nanoTime()
        order.foreach(q => calls += call(ctx, q, expected))
        passes += (System.nanoTime() - p0) / 1e9
      }
    }
    Window(calls.toSeq, passes.toSeq)
  }

  private def call(ctx: Ctx, q: String, expected: Map[String, Int]): Call = {
    val tr = ctx.tracer
    tr.span(s"query.$q") {
      val t0 = Clock.now()
      var t1, t2 = t0
      try {
        val df = tr.span("SparkEntry.build") { graft.SparkEntry.queries(q)(ctx.spark, ctx.sf) }
        t1 = Clock.now()
        if (tr.enabled) tr.span("plans.plan") { df.queryExecution.executedPlan }
        t2 = Clock.now()
        val rows = tr.span("engine.execute") { df.collect() }
        val t3 = Clock.now()
        val recheck = tr.span("bench.check") {
          if (expected.get(q).contains(fingerprint(rows))) None
          else {
            // not bit-identical to the set-up rows: leave them for the
            // oracle, which decides with the gate's float tolerance
            val dir = s"$q~${recheckCount.incrementAndGet()}"
            writeGate(ctx, dir, rows, df.schema)
            Some(dir)
          }
        }
        Call(q, t0, t1, t2, t3, None, recheck)
      } catch { case NonFatal(e) =>
        Call(q, t0, t1, t2, Clock.now(), Some(oneLine(e)))
      }
    }
  }

  /** Per-pass layer figures from the traced window: each query's median
    * per call, summed over the workload's queries. */
  private def layerMetrics(ctx: Ctx, untraced: Window, traced: Window): Map[String, Double] = {
    val calls = traced.calls.filter(_.error.isEmpty)
    val per = calls.map(c => c -> ctx.engine.within(c.t0, c.t3))
    def sumMed(f: (Call, EngineCounts) => Double): Double =
      Stats.sumOfMedians(per.map { case (c, e) => c.query -> f(c, e) })
    val execMs = calls.map(c => (c.t3 - c.t2) / 1e6).sum
    val tasks = per.flatMap(_._2.tasks)
    val before = Stats.sumOfMedians(untraced.calls.filter(_.error.isEmpty).map(c => c.query -> c.ms))
    val after = Stats.sumOfMedians(calls.map(c => c.query -> c.ms))
    Map(
      "SparkEntry.build_ms" -> sumMed((c, _) => (c.t1 - c.t0) / 1e6),
      "plans.plan_ms" -> sumMed((c, _) => (c.t2 - c.t1) / 1e6),
      "engine.jobs" -> sumMed((_, e) => e.jobs),
      "engine.stages" -> sumMed((_, e) => e.stages),
      "engine.tasks" -> sumMed((_, e) => e.tasks.size),
      "engine.sched_delay_ms" -> sumMed((_, e) => e.schedDelayMs),
      "engine.idle_ms" -> sumMed((c, e) => e.idleMs(c.t2, c.t3)),
      "operators.task_run_ms" -> sumMed((_, e) => e.runMs),
      "operators.task_cpu_ms" -> sumMed((_, e) => e.cpuMs),
      "operators.gc_ms" -> sumMed((_, e) => e.gcMs),
      "operators.busy_share" ->
        (if (execMs > 0) tasks.map(_.runMs).sum / (execMs * ctx.cores) else 0.0),
      "shuffle.write_bytes" -> sumMed((_, e) => e.shuffleWrite),
      "shuffle.read_bytes" -> sumMed((_, e) => e.shuffleRead),
      "shuffle.spill_bytes" -> sumMed((_, e) => e.spill),
      "shuffle.peak_exec_mem_bytes" ->
        (if (tasks.isEmpty) 0.0 else tasks.map(_.peakMem).max.toDouble),
      "trace.overhead_pct" -> (after - before) / before * 100)
  }

  private def writeGate(ctx: Ctx, q: String, rows: Array[Row], schema: StructType): Unit =
    ctx.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(s"${ctx.out}/gate/$q")

  /** Order-sensitive hash of the collected rows, by value (binary
    * columns hash by content, not identity). */
  def fingerprint(rows: Array[Row]): Int = {
    def h(v: Any): Int = v match {
      case null => 0
      case b: Array[Byte] => java.util.Arrays.hashCode(b)
      case r: Row => scala.util.hashing.MurmurHash3.orderedHash(r.toSeq.map(h))
      case s: scala.collection.Seq[_] => scala.util.hashing.MurmurHash3.orderedHash(s.map(h))
      case m: scala.collection.Map[_, _] =>
        scala.util.hashing.MurmurHash3.unorderedHash(m.map { case (k, x) => (h(k), h(x)) })
      case x => x.##
    }
    scala.util.hashing.MurmurHash3.orderedHash(rows.iterator.map(h))
  }

  def oneLine(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage)}"
      .replaceAll("\\s+", " ").take(200)
}
