package graft.streaming

import graft.sources.{Event, Tables}

/** Runnable streaming demo: feeds the events table through the
  * Structured Streaming pipelines in micro-batches and prints one JSON
  * summary line. Usage: StreamDemo [sfDir] [batchSize] [maxEvents]
  */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val batchSize = args.lift(1).map(_.toInt).getOrElse(250)
    // the demo collects its feed to drive MemoryStream — cap it so
    // pointing at a large sf stays a demo, not a driver-memory test
    val maxEvents = args.lift(2).map(_.toInt).getOrElse(20000)
    val spark = graft.GraftSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt)
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

    val events = Tables.events(spark, sfDir).as[Event]
      .orderBy("event_id").limit(maxEvents).collect().toSeq
    implicit val sqlCtx = spark.sqlContext

    def run(name: String, mk: MemoryStream[Event] => org.apache.spark.sql.DataFrame): Long = {
      val mem = MemoryStream[Event]
      val q = mk(mem).writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      events.grouped(batchSize).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      // sentinel far in the future closes all windows/sessions
      val last = events.maxBy(_.ts.getTime)
      val flush = Event(-1, new java.sql.Timestamp(last.ts.getTime + 86400000L), -1, "view", 0, "{}")
      mem.addData(flush); q.processAllAvailable()
      mem.addData(flush.copy(event_id = -2,
        ts = new java.sql.Timestamp(last.ts.getTime + 2 * 86400000L))); q.processAllAvailable()
      q.stop()
      spark.table(name).count()
    }

    // live source via the EventStreams seam — the rate transport here;
    // a deployment passes FileTail/Socket (or adds a Kafka/Kinesis
    // case) and this demo runs unchanged
    import org.apache.spark.sql.functions._
    val rate = EventStreams.readEventStream(spark,
      EventStreams.EventSource.Rate(rowsPerSecond = 500))
    val rq = rate.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("rate_types")
      .outputMode("complete").start()
    Thread.sleep(3000)
    rq.processAllAvailable(); rq.stop()
    // how many rows arrive in the sleep depends on the wall clock; the
    // event types the source cycles through do not
    val rateTypes = spark.table("rate_types").count()
    require(rateTypes > 0, "StreamDemo: the rate source delivered no rows")

    val hm = run("hourly", m => EventPipeline.hourlyMetrics(m.toDF()))
    val dd = run("dedup", m => EventPipeline.dedupStream(m.toDF()))
    val sw = run("sessions", m => EventPipeline.sessionWindows(m.toDF()))
    val ss = run("stateful", m => EventPipeline.sessionizeStateful(m.toDS(), 1800).toDF())
    val en = run("enriched", m =>
      EventPipeline.enrichStream(m.toDF(), Tables.customer(spark, sfDir)))

    // keyed-upsert materialization — the consumer→store write path:
    // stream the events through foreachBatch, last writer per
    // (user_id, event_type) wins; read back the committed snapshot
    val upsertRoot = java.nio.file.Files.createTempDirectory("graft_demo_upsert").toString + "/t"
    locally {
      val mem = MemoryStream[Event]
      val q = mem.toDF().writeStream
        .foreachBatch(MergeIngest.latestSink(upsertRoot, Seq("user_id", "event_type"), "ts"))
        .start()
      events.grouped(batchSize).foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      q.stop()
    }
    val up = graft.operators.TableLog.snapshot(spark, upsertRoot).count()
    println(s"""{"events":${events.size},"hourly_windows":$hm,"deduped":$dd,"session_windows":$sw,"stateful_sessions":$ss,"enriched":$en,"rate_event_types":$rateTypes,"upserted_keys":$up}""")
    spark.stop()
  }
}
