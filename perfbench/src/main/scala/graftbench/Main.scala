package graftbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, its arguments, where to
  * write, and the tracing hooks (idle unless `--trace 1`). */
final case class Ctx(spark: SparkSession, workload: String, sf: String, seed: Long,
                     seconds: Double, traced: Boolean, out: String, cores: Int,
                     tracer: Tracer, engine: EngineListener) {
  /** Turn tracing on for the rest of the run: spans from here on, and
    * the scheduler listener. A traced run first measures untraced, so
    * the difference between its two halves is the tracing overhead. */
  def startTracing(): Unit = {
    spark.sparkContext.addSparkListener(engine)
    tracer.enabled = true
  }

  /** Let the listener catch up before its counts are read. */
  def drainEvents(): Unit = org.apache.spark.graftbench.Bus.drain(spark.sparkContext)

  /** Wall seconds from JVM start, the origin of `setup_s`. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
}

/** What a workload hands back: operations attempted and failed (with
  * the failed operation named), the metrics it measured, the names of
  * query outputs left in `out/gate` for the oracle check, and summary
  * lines for the log. */
final case class Outcome(attempted: Long, failed: Long, errors: Seq[String],
                         metrics: Map[String, Double], gateQueries: Seq[String],
                         oracleSql: Map[String, String], gateStream: Boolean,
                         summary: Seq[String])

/** Entry point of one benchmark run. The Python launcher (`run.py`)
  * builds, starts this main, checks the outputs it leaves behind and
  * prints the result line.
  *
  * Usage: graftbench.Main --workload <api_mix|heavy_ops|stream_ingest>
  *   --seed <n> --seconds <s> --trace <0|1> --sf <dir> --out <dir> --cores <n>
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = args.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    val traced = arg("trace") == "1"
    val out = arg("out")
    val cores = arg("cores").toInt
    Files.createDirectories(Paths.get(out, "gate"))
    // The session mirrors graft.Bench (extensions, AQE, UTC, one shuffle
    // partition per core) at local[<cores>], with every scratch path
    // inside the run directory.
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cores]")
      .appName(s"graft-perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$out/spark-local")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ctx = Ctx(spark, workload, arg("sf"), arg("seed").toLong, arg("seconds").toDouble,
      traced, out, cores, new Tracer(s"$workload-s${arg("seed")}"), new EngineListener)
    val outcome = workload match {
      case "api_mix" => BatchWorkload.run(ctx, BatchWorkload.ApiMix)
      case "heavy_ops" => BatchWorkload.run(ctx, BatchWorkload.HeavyOps)
      case "stream_ingest" => StreamWorkload.run(ctx)
      case other => sys.error(s"unknown workload '$other'")
    }
    val metrics = outcome.metrics + ("process.peak_rss_mb" -> peakRssMb())
    write(out, ctx, outcome.copy(metrics = metrics))
    spark.stop()
  }

  /** The process's resident-set high-water mark (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  private def write(out: String, ctx: Ctx, o: Outcome): Unit = {
    val m = new ObjectMapper()
    val root = m.createObjectNode()
    root.put("workload", ctx.workload)
    root.put("trace", ctx.traced)
    root.put("attempted", o.attempted)
    root.put("failed", o.failed)
    val errs = root.putArray("errors"); o.errors.foreach(errs.add)
    val ms = root.putObject("metrics")
    o.metrics.toSeq.sortBy(_._1).foreach { case (k, v) => ms.put(k, v) }
    val gq = root.putArray("gate_queries"); o.gateQueries.foreach(gq.add)
    val os = root.putObject("oracle_sql")
    o.oracleSql.toSeq.sortBy(_._1).foreach { case (k, v) => os.put(k, v) }
    root.put("gate_stream", o.gateStream)
    val sm = root.putArray("summary"); o.summary.foreach(sm.add)
    if (ctx.traced) {
      // spans and the counts behind them, written once at exit
      val w = Files.newBufferedWriter(Paths.get(out, "spans.jsonl"))
      try ctx.tracer.spans.foreach { s =>
        val n = m.createObjectNode()
        n.put("id", s.id); n.put("name", s.name); n.put("start_ns", s.start)
        n.put("end_ns", s.end); n.put("parent", s.parent); n.put("run", s.run)
        w.write(m.writeValueAsString(n)); w.newLine()
      } finally w.close()
    }
    Files.writeString(Paths.get(out, "result.json"), m.writeValueAsString(root))
  }
}

/** Order statistics as numpy's default (linear) percentile. */
object Stats {
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  /** Per-key medians, summed: a per-pass figure that does not depend on
    * how many calls of each query fit into the window. */
  def sumOfMedians[K](xs: Seq[(K, Double)]): Double =
    xs.groupMap(_._1)(_._2).values.map(median).sum
}
