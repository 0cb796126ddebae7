package graft

import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TableLog

/** MODEL-BASED check of the table format's replay semantics: seeded
  * random sequences of the mutating operations run against BOTH the
  * real log and a trivial in-memory model (a Map the operation's
  * documented semantics update directly). After every op the live
  * snapshot must equal the model; at the end, EVERY recorded version
  * must time-travel back to exactly the state the model held when
  * that version was committed — one property covering the
  * interactions (deletes folded by compaction, restore resetting
  * sidecar state, truncate + time travel, schema widening over old
  * versions, zone-mapped vs plain appends) that example-based specs
  * cover only pairwise. Checkpoints and log expiry are ops too, so
  * later reads fold from a checkpoint: time travel must then serve
  * every version at or above the expiry horizon (and a checkpoint's
  * own version), and fail loudly below it. Seeds are FIXED: failures
  * reproduce. */
class TableLogModelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def runSequence(seed: Long, nOps: Int): Unit = {
    val spark0 = spark
    import spark0.implicits._
    val rnd = new scala.util.Random(seed)
    val root = Files.createTempDirectory(s"graft_model_$seed").toString + "/t"

    var cur = Map.empty[Long, Long] // id -> v (the model)
    var sidecars = false            // delete sidecars in force
    var nextId = 0L
    var nextCol = 0
    val histByVersion = mutable.Map.empty[Long, (Map[Long, Long], Boolean)]
    val opLog = mutable.ArrayBuffer.empty[String]
    val checkpointed = mutable.SortedSet.empty[Long]
    var horizon = 0L // versions below it were expired from the log

    def df(rows: Seq[(Long, Long)]) = rows.toDF("id", "v").coalesce(1)
    def head: Long = TableLog.versions(spark, root).last
    def record(): Unit = { histByVersion(head) = (cur, sidecars) }

    def appendOp(): Unit = {
      val n = 1 + rnd.nextInt(40)
      val rows = (nextId until nextId + n).map(i => (i, i * 7L))
      nextId += n
      if (rnd.nextBoolean()) {
        val (f, zm) = TableLog.stageWithZoneMap(df(rows), root,
          s"a$nextId", "id", 1 + rnd.nextInt(3))
        TableLog.commit(spark, root, f, Nil, zmap = zm)
      } else
        TableLog.commit(spark, root,
          TableLog.stageWrite(df(rows), root, s"a$nextId"), Nil)
      cur = cur ++ rows
      opLog += s"append($n)"
    }

    // fold the head into a checkpoint: later reads start from it
    def checkpointOp(): Unit = {
      checkpointed += TableLog.writeCheckpoint(spark, root)
      opLog += s"writeCheckpoint(${checkpointed.last})"
    }
    // expire every entry below a checkpoint above the horizon
    def expireOp(): Unit = {
      horizon = rnd.shuffle(checkpointed.filter(_ > horizon).toSeq).head
      TableLog.expireLog(spark, root, horizon)
      opLog += s"expireLog($horizon)"
    }

    // first op is always an append so every later op has a table
    appendOp(); record()

    (1 until nOps).foreach { i =>
      val choice = rnd.nextInt(100)
      // besides the random draws, every sequence checkpoints a third of
      // the way in and expires the log two thirds in, so its last
      // third reads — and commits deletes, restores, truncates and
      // widenings — through a checkpoint-based fold
      if (i == nOps / 3) checkpointOp()
      else if (i == 2 * nOps / 3 && checkpointed.exists(_ > horizon)) expireOp()
      else if (choice < 26) appendOp()
      else if (choice < 40 && cur.nonEmpty) {
        // sidecar deletes of a random sample of live ids
        val ids = rnd.shuffle(cur.keys.toSeq).take(1 + rnd.nextInt(8))
        TableLog.commitDeletes(ids.toDF("id"), root, s"d$nextId")
        cur = cur -- ids
        sidecars = true
        opLog += s"commitDeletes(${ids.size})"
      } else if (choice < 52 && cur.nonEmpty) {
        TableLog.compactTable(spark, root, "id", s"c$nextId")
        sidecars = false
        opLog += "compact"
      } else if (choice < 64 && !sidecars) {
        // range purge; may be a NO-OP commit-wise when nothing
        // intersects (deleteWhere returns the current version)
        val lo = rnd.nextLong(math.max(1L, nextId))
        val hi = lo + rnd.nextInt(50)
        val before = head
        TableLog.deleteWhere(spark, root, "id", lo, hi,
          s"p$nextId", parts = 2)
        cur = cur.filter { case (id, _) => id < lo || id > hi }
        opLog += (if (head == before) s"deleteWhere($lo,$hi,noop)"
                  else s"deleteWhere($lo,$hi)")
      } else if (choice < 71) {
        TableLog.truncateTable(spark, root)
        cur = Map.empty
        sidecars = false
        opLog += "truncate"
      } else if (choice < 77) checkpointOp()
      else if (choice < 83 && checkpointed.exists(_ > horizon)) expireOp()
      else if (choice < 92) {
        // restore only to a version the log still serves
        val v = rnd.shuffle(histByVersion.keys.filter(_ >= horizon).toSeq).head
        TableLog.restoreTable(spark, root, v)
        val (st, sc) = histByVersion(v)
        cur = st; sidecars = sc
        opLog += s"restore($v)"
      } else {
        // metadata-only schema widening: must not disturb row reads,
        // at the head or via time travel below. It widens the schema
        // the head reads with — a declared one, else the files' own,
        // the last non-empty version's after a truncate
        nextCol += 1
        TableLog.addColumns(spark, root,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField(
              s"extra$nextCol", org.apache.spark.sql.types.StringType))))
        opLog += "addColumns"
      }
      record()

      val got = TableLog.snapshot(spark, root, None, Some("id"))
        .select(col("id"), col("v")).as[(Long, Long)].collect().toMap
      assert(got === cur,
        s"seed=$seed live snapshot diverged after: ${opLog.mkString(" -> ")}")
    }

    // TIME TRAVEL: every version the log still serves — at or above
    // the expiry horizon, or a checkpoint's own version — must replay
    // to the state the model held when it was committed; an expired
    // version must fail loudly, never serve some other state
    histByVersion.toSeq.sortBy(_._1).foreach { case (v, (st, _)) =>
      def read = TableLog.snapshot(spark, root, Some(v), Some("id"))
        .select(col("id"), col("v")).as[(Long, Long)].collect().toMap
      if (v >= horizon || checkpointed(v))
        assert(read === st,
          s"seed=$seed version $v time travel diverged; ops: ${opLog.mkString(" -> ")}")
      else intercept[IllegalArgumentException](read)
    }
    assert(checkpointed.nonEmpty && horizon > 0L,
      s"seed=$seed never folded a read from a checkpoint: ${opLog.mkString(" -> ")}")
    info(opLog.mkString(" -> "))
  }

  test("a truncated never-evolved table widens with the schema its " +
      "snapshot serves: truncate -> addColumns -> append -> snapshot") {
    val spark0 = spark
    import spark0.implicits._
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    val root = Files.createTempDirectory("graft_trunc_alter").toString + "/t"
    TableLog.commit(spark, root, TableLog.stageWrite(
      Seq((1L, 7L)).toDF("id", "v").coalesce(1), root, "a"), Nil)
    TableLog.truncateTable(spark, root)
    TableLog.addColumns(spark, root,
      StructType(Seq(StructField("note", StringType))))
    TableLog.commit(spark, root, TableLog.stageWrite(
      Seq((2L, 14L, "n")).toDF("id", "v", "note").coalesce(1), root, "b"), Nil)
    val got = TableLog.snapshot(spark, root)
    assert(got.columns.toSeq === Seq("id", "v", "note"))
    assert(got.as[(Long, Long, String)].collect().toSeq === Seq((2L, 14L, "n")))
  }

  test("seeded random op sequences: live snapshot and every version's " +
      "time travel match the in-memory model (seed 41)") {
    runSequence(41L, 18)
  }
  test("seeded random op sequences: live snapshot and every version's " +
      "time travel match the in-memory model (seed 1337)") {
    runSequence(1337L, 18)
  }
  test("seeded random op sequences: live snapshot and every version's " +
      "time travel match the in-memory model (seed 20260816)") {
    runSequence(20260816L, 18)
  }
}
