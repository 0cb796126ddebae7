package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TableLog
import graft.streaming.{EventPipeline, EventStreams, TableIngest}

/** The local writes of an ingest batch, a checkpointed streaming
  * trigger and a zone-mapped stage start no `chmod` or `readlink`
  * process (Hadoop's `file:` filesystem forks one per created file and
  * per link-status check unless the native library is loaded). Process
  * starts are counted with an in-process JFR recording of
  * `jdk.ProcessStart`, which sees every thread of this JVM. */
class ProcessFreeWritesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** The commands of every process the JVM started while `body` ran. */
  private def processStarts(body: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val dump = Files.createTempFile("graft_forks", ".jfr")
    try {
      rec.dump(dump)
      jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
        .map(_.getString("command"))
    } finally { rec.close(); Files.deleteIfExists(dump) }
  }

  private def program(cmd: String): String =
    Paths.get(cmd.trim.split("\\s+").head).getFileName.toString

  test("an ingest batch, a checkpointed trigger and a zone-mapped stage fork no chmod or readlink") {
    val dir = Files.createTempDirectory("graft_forks").toString
    val in = Files.createDirectories(Paths.get(dir, "in"))
    Files.write(in.resolve("f-0.jsonl"), (0 until 20).map { i =>
      s"""{"event_id":${i % 15},"ts":"2024-01-01T00:${"%02d".format(i)}:00Z",""" +
        s""""user_id":${i % 3},"event_type":"view","value":1.0,"props":"{}"}"""
    }.asJava)
    val batch = spark.range(0, 50, 1, 2)
      .select(col("id").as("doc_id"), concat(lit("t"), col("id")).as("text"))
    val zoned = spark.range(0, 200, 1, 2).select(col("id").as("k"), (col("id") % 7).as("v"))
    val cmds = processStarts {
      // the recorder sees a process this JVM starts
      new ProcessBuilder("true").start().waitFor()
      TableIngest.sink(s"$dir/ingest", "doc_id")(batch, 0L)
      val events = EventStreams.readEventStream(spark, EventStreams.EventSource.JsonlDir(in.toString))
      EventPipeline.dedupStream(events).writeStream
        .foreachBatch(TableIngest.sink(s"$dir/stream", "event_id"))
        .option("checkpointLocation", s"$dir/ckpt")
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      val (files, zmaps) = TableLog.stageWithZoneMap(zoned, s"$dir/zoned", "base", "k", parts = 2)
      TableLog.commit(spark, s"$dir/zoned", files, Nil, zmap = zmaps)
    }
    assert(cmds.map(program).contains("true"), s"the recording missed a process start: $cmds")
    assert(TableLog.snapshot(spark, s"$dir/ingest").count() === 50L)
    assert(TableLog.snapshot(spark, s"$dir/stream").count() === 15L)
    assert(Files.exists(Paths.get(dir, "ckpt", "commits", "0")), "the trigger committed no batch")
    assert(TableLog.snapshot(spark, s"$dir/zoned").count() === 200L)
    val forked = cmds.filter(c => Set("chmod", "readlink")(program(c)))
    assert(forked.size === 0, s"chmod/readlink processes, first: ${forked.take(3)}")
  }
}
