package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every session comes from [[GraftSession]], with Bench's configuration. */
class GraftSessionSpec extends AnyFunSuite {

  test("the session builder is called from exactly one file under src/") {
    val src = Paths.get("src")
    assert(Files.isDirectory(src), s"cwd ${Paths.get("").toAbsolutePath} is not the repo root")
    val needle = "SparkSession" + ".builder" // split so this spec does not match itself
    val walk = Files.walk(src)
    val hits = try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .filter(p => Files.readString(p).contains(needle))
      .map(src.relativize(_).toString).toList.sorted
    finally walk.close()
    assert(hits === List("main/scala/graft/GraftSession.scala"))
  }

  test("a Bench-style session has Bench's configuration and graft's SQL surface") {
    val spark = GraftSession(4)
    assert(spark.sparkContext.master === "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    assert(spark.sessionState.sqlParser.isInstanceOf[graft.plans.GraftSqlParser])
    assert(spark.sql("SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))")
      .head().getDouble(0) === 11.0)
  }
}
