package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object TestSpark {
  lazy val spark: SparkSession = GraftSession(4)
  val sf = "/root/testdata/sf0.001"
}

/** Every SparkEntry query runs and returns a sane shape at sf0.001. */
class QueriesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // legitimately empty at sf0.001 (every customer has orders; every
  // clicker also purchased) — run-only
  // q36: wide banding at hamming<=8 only guarantees recall for
  // hamming<=3; the synthetic near-dups sit at ~8-11, so matches are
  // possible but not guaranteed at every scale factor
  // q88: the hamming<=3 cutoff is tighter still — rows come from
  // exact-fingerprint dups plus whatever lands within 3 bits
  private val mayBeEmpty = Set("q05_anti_join", "q11_set_diff", "q36_simhash_pairs",
    "q88_simhash_wide")

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name runs" + (if (mayBeEmpty(name)) "" else " and returns rows")) {
      val df = fn(spark, TestSpark.sf)
      val rows = df.collect().toSeq
      if (!mayBeEmpty(name)) assert(rows.nonEmpty, s"$name returned 0 rows")
      // collect() may plan a root ORDER BY as a per-partition sort
      // merged on the driver; toLocalIterator() runs execute(), which
      // keeps the range exchange: both must give the same rows in the
      // same order
      val iterated = df.toLocalIterator().asScala.toSeq
      assert(rows === iterated, s"$name: collect() and toLocalIterator() differ")
    }
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("EVERY query has an oracle — coverage is total since round 3") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracle: $missing")
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without query: $orphans")
  }
}
