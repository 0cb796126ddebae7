package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The `spark.read`/`df.write` format face over the table format
  * ([[graft.sources.TableLogSource]]): every mode, both time-travel
  * options, zone-map staging through writer options, and the
  * refusals. The read face must be the SAME planner-pruned relation
  * as TableLog.snapshot — one pruning test proves the path identity. */
class TableLogSourceSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val Fmt = "graft.sources.TableLogSource"

  private def fresh(): String =
    Files.createTempDirectory("graft_tls").toString + "/t"

  test("write modes: create, errorifexists, ignore, append, overwrite") {
    val spark0 = spark
    import spark0.implicits._
    val root = fresh()
    val a = (0L until 100L).map(i => (i, s"a$i")).toDF("id", "v")
    val b = (100L until 150L).map(i => (i, s"b$i")).toDF("id", "v")
    // create (default errorifexists on an empty log)
    a.write.format(Fmt).save(root)
    assert(spark0.read.format(Fmt).load(root).count() === 100L)
    // errorifexists refuses a second create
    val e = intercept[RuntimeException] { a.write.format(Fmt).save(root) }
    assert(e.getMessage.contains("already exists"))
    // ignore no-ops
    b.write.format(Fmt).mode("ignore").save(root)
    assert(spark0.read.format(Fmt).load(root).count() === 100L)
    // append adds
    b.write.format(Fmt).mode("append").save(root)
    assert(spark0.read.format(Fmt).load(root).count() === 150L)
    // overwrite: the table BECOMES the frame
    val c = (0L until 10L).map(i => (i, s"c$i")).toDF("id", "v")
    c.write.format(Fmt).mode("overwrite").save(root)
    val now = spark0.read.format(Fmt).load(root)
    assert(now.count() === 10L)
    assert(now.select("v").as[String].collect().forall(_.startsWith("c")))
    // history stayed: version 0 still reads
    assert(spark0.read.format(Fmt).option("versionAsOf", "0").load(root)
      .count() === 100L)
  }

  test("time travel: versionAsOf, timestampAsOf, and their exclusivity") {
    val spark0 = spark
    import spark0.implicits._
    val root = fresh()
    (0L until 40L).map(i => (i, s"a$i")).toDF("id", "v")
      .write.format(Fmt).save(root) // v0
    Thread.sleep(1100) // local FS mtimes are second-granular
    val betweenMs = System.currentTimeMillis()
    Thread.sleep(1100)
    (40L until 70L).map(i => (i, s"b$i")).toDF("id", "v")
      .write.format(Fmt).mode("append").save(root) // v1
    assert(spark0.read.format(Fmt).option("versionAsOf", "0").load(root)
      .count() === 40L)
    assert(spark0.read.format(Fmt).load(root).count() === 70L)
    // timestampAsOf between the commits resolves v0
    val atBetween = spark0.read.format(Fmt)
      .option("timestampAsOf",
        java.time.Instant.ofEpochMilli(betweenMs).toString)
      .load(root)
    assert(atBetween.count() === 40L)
    // before the table existed: loud refusal
    val early = intercept[Exception] {
      spark0.read.format(Fmt)
        .option("timestampAsOf", "2000-01-01T00:00:00Z").load(root).count()
    }
    assert(early.getMessage.contains("no retained commit"))
    // both options at once: refused
    val both = intercept[Exception] {
      spark0.read.format(Fmt).option("versionAsOf", "0")
        .option("timestampAsOf", "2030-01-01T00:00:00Z").load(root).count()
    }
    assert(both.getMessage.contains("exclusive"))
  }

  test("clusterBy writer option stages zone maps; reads prune through the format face") {
    val spark0 = spark
    import spark0.implicits._
    val root = fresh()
    (0L until 400L).map(i => (i, f"k$i%04d", s"t$i")).toDF("id", "skey", "t")
      .write.format(Fmt)
      .option("clusterBy", "skey").option("parts", "8")
      .option("statsCols", "id")
      .save(root)
    val snap = spark0.read.format(Fmt).load(root)
    assert(snap.count() === 400L)
    // pruning through the format face: same FileIndex as TableLog.snapshot
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case o => (o.children ++ o.subqueries).flatMap(scans)
    }
    val q = snap.filter(col("skey") === "k0007")
    assert(q.collect().length === 1)
    val s = scans(q.queryExecution.executedPlan)
      .filter(_.relation.location.isInstanceOf[graft.operators.TableLogFileIndex])
    assert(s.nonEmpty, "format-face read must plan through TableLogFileIndex")
    assert(s.map(_.metrics("numFiles").value).sum === 1L,
      "a point predicate must prune to one file through the format face")
    // secondary stats column prunes too
    val q2 = snap.filter(col("id") >= 390L)
    assert(q2.count() === 10L)
  }

  test("sketchCols writer option records HLL banks; metadataDistinct answers " +
      "a format-face-written table") {
    val spark0 = spark
    import spark0.implicits._
    val root = fresh()
    (0L until 600L).map(i => (i, s"cat${i % 23}")).toDF("id", "cat")
      .write.format(Fmt)
      .option("clusterBy", "id").option("parts", "4")
      .option("statsCols", "cat").option("sketchCols", "id,cat")
      .save(root)
    val md = graft.operators.TableLog.metadataDistinct(
      spark0, root, Seq("id", "cat"))
    assert(md.isDefined,
      "a sketchCols-written table must be metadataDistinct-answerable")
    val got = md.get.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // 23 exact categories: the 256-register estimate lands within the
    // sketch's documented error at this cardinality
    assert(math.abs(got("cat") - 23.0) <= 2.0, s"cat est ${got("cat")}")
    assert(got("id") > 400.0 && got("id") < 800.0, s"id est ${got("id")}")
  }

  test("reads refuse delete sidecars; writes stay atomic under overwrite conflict guard") {
    val spark0 = spark
    import spark0.implicits._
    val root = fresh()
    (0L until 50L).map(i => (i, s"a$i")).toDF("id", "v")
      .write.format(Fmt).save(root)
    graft.operators.TableLog.commitDeletes(
      spark0.range(1).select(lit(7L).as("id")), root, "purge")
    val e = intercept[Exception] {
      spark0.read.format(Fmt).load(root).count()
    }
    assert(e.getMessage.contains("delete sidecars"),
      s"got: ${e.getMessage}")
    // TableLog.snapshot remains the face that applies them
    assert(graft.operators.TableLog
      .snapshot(spark0, root, idCol = Some("id")).count() === 49L)
    // an APPEND to a table with sidecars in force must SUCCEED and
    // commit exactly once — the write face must not re-run the read
    // face's refusal after its commit already landed (a caller
    // retrying the 'failed' write would double the rows)
    val vBefore = graft.operators.TableLog.versions(spark0, root).max
    Seq((100L, "n")).toDF("id", "v")
      .write.format(Fmt).mode("append").save(root)
    assert(graft.operators.TableLog.versions(spark0, root).max === vBefore + 1)
    assert(graft.operators.TableLog
      .snapshot(spark0, root, idCol = Some("id")).count() === 50L)
    // mode(ignore) on it is a clean no-op too
    Seq((101L, "x")).toDF("id", "v")
      .write.format(Fmt).mode("ignore").save(root)
    assert(graft.operators.TableLog.versions(spark0, root).max === vBefore + 1)
    // overwrite resets the sidecars: the new content is exactly the frame
    (0L until 5L).map(i => (i, s"z$i")).toDF("id", "v")
      .write.format(Fmt).mode("overwrite").save(root)
    assert(spark0.read.format(Fmt).load(root).count() === 5L)
  }

  test("overwrite CREATES a missing table; the short name resolves via ServiceLoader; per-checkpoint streamId defaults don't collide") {
    val spark0 = spark
    import spark0.implicits._
    import graft.operators.TableLog
    // 1) create-or-replace: overwrite of a nonexistent path creates
    val root = fresh()
    (0L until 7L).map(i => (i, s"a$i")).toDF("id", "v")
      .write.format(Fmt).mode("overwrite").save(root)
    assert(spark0.read.format(Fmt).load(root).count() === 7L)
    // 2) the registered SHORT name works end to end
    val root2 = fresh()
    (0L until 3L).map(i => (i, s"s$i")).toDF("id", "v")
      .write.format("tablelog").save(root2)
    assert(spark0.read.format("tablelog").load(root2).count() === 3L)
    // 3) two unnamed streaming queries on the same table derive
    //    DISTINCT streamIds from their checkpoints — batch 0 of the
    //    second must not be discarded as the first's 'replay'
    val root3 = fresh()
    def sinkFor(ckpt: String) = new graft.sources.TableLogSource()
      .createSink(spark0.sqlContext,
        Map("path" -> root3, "checkpointLocation" -> ckpt), Nil,
        org.apache.spark.sql.streaming.OutputMode.Append())
    sinkFor("/tmp/ckptA").addBatch(0L, Seq((1L, "a")).toDF("id", "v"))
    sinkFor("/tmp/ckptB").addBatch(0L, Seq((2L, "b")).toDF("id", "v"))
    assert(TableLog.snapshot(spark0, root3).count() === 2L,
      "distinct checkpoints must not share an idempotence tag space")
    // same checkpoint = same stream: a replay of batch 0 still no-ops
    sinkFor("/tmp/ckptA").addBatch(0L, Seq((1L, "a")).toDF("id", "v"))
    assert(TableLog.snapshot(spark0, root3).count() === 2L)
  }

  test("writeStream format face: one atomic commit per batch, feed via idCol, replay exactly-once, readStream serves the feed") {
    val spark0 = spark
    implicit val sqlCtx = spark0.sqlContext
    import spark0.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.TableLog
    val dir = Files.createTempDirectory("graft_tls_stream").toFile.getAbsolutePath
    val root = s"$dir/table"
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .format(Fmt)
      .option("path", root).option("idCol", "doc_id")
      .option("checkpointLocation", s"$dir/ckpt")
      .start()
    mem.addData((1L, "aa"), (2L, "bb")); q.processAllAvailable()
    mem.addData((3L, "cc")); q.processAllAvailable()
    q.stop()
    // one commit per micro-batch; time travel per batch boundary
    assert(TableLog.versions(spark0, root) === Seq(0L, 1L))
    assert(TableLog.snapshot(spark0, root, Some(0L)).count() === 2L)
    assert(TableLog.snapshot(spark0, root).count() === 3L)
    // idCol produced a change feed: each batch's own add files,
    // O(delta) — the plan reads exactly those, never a re-scan
    val feed = TableLog.changes(spark0, root, fromV = -1L, toV = 1L,
      "doc_id", "text")
    assert(feed.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
      Set((0L, 1L), (0L, 2L), (1L, 3L)))
    def local(p: String) = new org.apache.hadoop.fs.Path(p).toUri.getPath
    val adds = TableLog.activeFiles(spark0, root, Some(1L)).map(f => local(s"$root/$f"))
    assert(adds.nonEmpty)
    assert(feed.inputFiles.map(local).toSet === adds.toSet)
    // REPLAY of a committed batch id must no-op (the worst crash
    // point: commit landed, checkpoint didn't) — drive the V1 Sink
    // directly with the same batch id
    // the replayed sink models the SAME query restarted: same
    // checkpoint → same derived streamId → same tag space
    val sink = new graft.sources.TableLogSource().createSink(
      spark0.sqlContext, Map("path" -> root, "idCol" -> "doc_id",
        "checkpointLocation" -> s"$dir/ckpt"),
      Nil, org.apache.spark.sql.streaming.OutputMode.Append())
    sink.addBatch(1L, Seq((3L, "cc")).toDF("doc_id", "text"))
    assert(TableLog.versions(spark0, root) === Seq(0L, 1L))
    assert(TableLog.snapshot(spark0, root).count() === 3L)
    // a NEW batch id through the same sink commits once
    sink.addBatch(2L, Seq((4L, "dd")).toDF("doc_id", "text"))
    assert(TableLog.snapshot(spark0, root).count() === 4L)
    // readStream through the SAME format name serves the change feed
    val got = spark0.readStream.format(Fmt)
      .option("path", root).option("startingVersion", "0").load()
    val outQ = got.writeStream.format("memory").queryName("tls_feed")
      .option("checkpointLocation", s"$dir/ckpt_read").start()
    outQ.processAllAvailable(); outQ.stop()
    val rows = spark0.table("tls_feed")
      .select("doc_id").as[Long].collect().toSet
    assert(rows === Set(1L, 2L, 3L, 4L),
      "readStream on the format face must serve every committed change")
    // mode guard: the streaming face is append-only
    val bad = intercept[Exception] {
      new graft.sources.TableLogSource().createSink(spark0.sqlContext,
        Map("path" -> root), Nil,
        org.apache.spark.sql.streaming.OutputMode.Complete())
    }
    assert(bad.getMessage.contains("append-only"))
  }

  test("writeStream format face without idCol: plain append, no feed, still exactly-once") {
    val spark0 = spark
    import spark0.implicits._
    import graft.operators.TableLog
    val root = fresh()
    val sink = new graft.sources.TableLogSource().createSink(
      spark0.sqlContext, Map("path" -> root), Nil,
      org.apache.spark.sql.streaming.OutputMode.Append())
    sink.addBatch(0L, Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    sink.addBatch(0L, Seq((1L, "a"), (2L, "b")).toDF("id", "v")) // replay
    sink.addBatch(1L, Seq((3L, "c")).toDF("id", "v"))
    assert(TableLog.versions(spark0, root) === Seq(0L, 1L))
    assert(TableLog.snapshot(spark0, root).count() === 3L)
    // feedless: changes() must refuse (no cdf sidecars committed)
    val e = intercept[Exception] {
      TableLog.changes(spark0, root, -1L, 1L, "id", "v").collect()
    }
    assert(e != null)
  }
}
