package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.graftspec.JobProbe
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.SortedCollectExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** A collected root ORDER BY runs as [[SortedCollectExec]]: per-partition
  * sorts merged on the driver, one job, the same rows in the same order
  * as the range-exchange plan every other consumer still runs. */
class SortedCollectSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  lazy val spark = TestSpark.spark

  /** One sort key: column, ascending, nulls first. */
  private case class Key(c: String, asc: Boolean, nullsFirst: Boolean) {
    def column: Column = (asc, nullsFirst) match {
      case (true, true) => col(c).asc_nulls_first
      case (true, false) => col(c).asc_nulls_last
      case (false, true) => col(c).desc_nulls_first
      case (false, false) => col(c).desc_nulls_last
    }
  }

  // Spark's order: NaN above every double, -0.0 equal to 0.0
  private def norm(v: Any): Any = v match {
    case d: Double if d.isNaN => Double.NaN
    case d: Double => d + 0.0
    case x => x
  }
  private def cmpValues(a: Any, b: Any): Int = (norm(a), norm(b)) match {
    case (x: Double, y: Double) =>
      if (x.isNaN && y.isNaN) 0 else if (x.isNaN) 1 else if (y.isNaN) -1
      else java.lang.Double.compare(x, y)
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    case (x: String, y: String) => x.compareTo(y)
    case (x, y) => sys.error(s"no order for $x, $y")
  }
  private def cmp(keys: Seq[Key])(a: Row, b: Row): Int =
    keys.iterator.map { k =>
      val (x, y) = (a.get(a.fieldIndex(k.c)), b.get(b.fieldIndex(k.c)))
      if (x == null && y == null) 0
      else if (x == null) (if (k.nullsFirst) -1 else 1)
      else if (y == null) (if (k.nullsFirst) 1 else -1)
      else if (k.asc) cmpValues(x, y) else cmpValues(y, x)
    }.find(_ != 0).getOrElse(0)

  /** `got` is `expected` in key order; rows that tie on the keys may
    * come in any order within their group. */
  private def assertSameOrder(got: Seq[Row], expected: Seq[Row], keys: Seq[Key],
                              clue: String): Unit = {
    def groups(rows: Seq[Row]): Seq[Seq[Row]] =
      rows.foldLeft(List.empty[List[Row]]) {
        case (g :: gs, r) if cmp(keys)(g.head, r) == 0 => (r :: g) :: gs
        case (gs, r) => List(r) :: gs
      }.reverse.map(_.reverse)
    val (g, e) = (groups(got), groups(expected))
    assert(got.length === expected.length, clue)
    assert(g.length === e.length, clue)
    g.zip(e).foreach { case (x, y) =>
      assert(cmp(keys)(x.head, y.head) === 0, s"$clue: key order differs")
      assert(x.map(_.toString).sorted === y.map(_.toString).sorted,
        s"$clue: rows of a tie group differ")
    }
  }

  private def hasNode(df: DataFrame): Boolean =
    find(df.queryExecution.executedPlan)(_.isInstanceOf[SortedCollectExec]).isDefined

  private def withConf[A](kvs: (String, String)*)(body: => A): A = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach { case (k, o) => o.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** Keys with nulls, ties, NaN, -0.0 and 0.0, over `parts` partitions. */
  private def frame(n: Long, parts: Int): DataFrame =
    spark.range(0, n, 1, parts).select(
      col("id"),
      when(col("id") % 17 === 0, lit(null)).otherwise(col("id") % 13).as("k"),
      when(col("id") % 11 === 0, lit(Double.NaN))
        .when(col("id") % 11 === 1, lit(-0.0))
        .when(col("id") % 11 === 2, lit(0.0))
        .when(col("id") % 19 === 0, lit(null).cast("double"))
        .otherwise((col("id") % 7).cast("double") - 3.0).as("d"),
      (col("id") % 5).cast("string").as("s"))

  private def parquet(in: DataFrame): DataFrame = {
    val p = Files.createTempDirectory("graft_sorted_collect").toString + "/t"
    in.write.parquet(p)
    spark.read.parquet(p)
  }
  private lazy val parquetFrame = parquet(frame(3000, 5))

  private val orders: Seq[Seq[Key]] = Seq(
    Seq(Key("k", asc = true, nullsFirst = true)),
    Seq(Key("k", asc = true, nullsFirst = false)),
    Seq(Key("k", asc = false, nullsFirst = true)),
    Seq(Key("k", asc = false, nullsFirst = false)),
    Seq(Key("d", asc = true, nullsFirst = true)),
    Seq(Key("d", asc = false, nullsFirst = false)),
    Seq(Key("s", asc = true, nullsFirst = true), Key("d", asc = false, nullsFirst = true),
      Key("k", asc = true, nullsFirst = false)),
    Seq(Key("id", asc = false, nullsFirst = false)))

  private def checkAll(name: String, input: DataFrame): Unit = {
    val rows = input.collect().toSeq
    orders.foreach { keys =>
      val clue = s"$name orderBy ${keys.mkString(", ")}"
      val df = input.orderBy(keys.map(_.column): _*)
      val got = df.collect().toSeq
      assert(hasNode(df), s"$clue: no SortedCollect in\n${df.queryExecution.executedPlan}")
      assertSameOrder(got, rows.sortWith(cmp(keys)(_, _) < 0), keys, s"$clue vs driver sort")
      assertSameOrder(got, df.toLocalIterator().asScala.toSeq, keys,
        s"$clue vs toLocalIterator")
    }
  }

  test("collect() equals a driver-side sort and toLocalIterator() over many partitions") {
    checkAll("range(23 parts)", frame(2000, 23))
    assert(parquetFrame.rdd.getNumPartitions > 1, "the parquet input must span partitions")
    checkAll("parquet", parquetFrame)
  }

  test("one partition and an empty input") {
    // one file scans as one partition of unknown partitioning, so the
    // range exchange (and the node) is still planned
    val one = parquet(frame(500, 1))
    assert(one.rdd.getNumPartitions === 1)
    checkAll("parquet(1 file)", one)
    // a filter the optimizer cannot fold: the sort runs over empty partitions
    checkAll("empty", frame(2000, 7).filter(col("id") < 0))
  }

  test("an absorbed projection drops the sort keys after the merge") {
    val keys = Seq(Key("d", asc = true, nullsFirst = false), Key("id", asc = true, nullsFirst = true))
    val in = frame(2000, 7)
    val df = in.orderBy(keys.map(_.column): _*).select(col("s"), (col("id") * 2).as("id2"))
    assert(hasNode(df))
    val expected = in.collect().toSeq.sortWith(cmp(keys)(_, _) < 0)
      .map(r => Row(r.getString(3), r.getLong(0) * 2))
    assert(df.collect().toSeq === expected)
    assert(df.toLocalIterator().asScala.toSeq === expected)
  }

  test("a q02-shaped scan, filter and orderBy collect runs one job") {
    // a fresh frame per call, as a Web-API call builds one: a second
    // collect() of the same Dataset reuses its finished AQE stages
    def df = parquetFrame.filter(col("k") > 3).select("id", "k", "d").orderBy(col("id"))
    df.collect() // warm
    val (rows, jobs) = JobProbe.jobs(spark.sparkContext)(df.collect())
    assert(jobs === 1, s"collect submitted $jobs jobs")
    assert(rows.map(_.getLong(0)).toSeq ===
      parquetFrame.filter(col("k") > 3).collect().map(_.getLong(0)).sorted.toSeq)
  }

  /** A noop write of `df`: the plan it ran and the jobs it submitted. */
  private def noopWrite(df: DataFrame): (SparkPlan, Int) = {
    val written = new java.util.concurrent.atomic.AtomicReference[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             ns: Long): Unit = written.set(qe.executedPlan)
      override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val jobs = try JobProbe.jobs(spark.sparkContext)(
      df.write.format("noop").mode("overwrite").save())._2
    finally spark.listenerManager.unregister(listener)
    (written.get, jobs)
  }

  test("a noop write keeps the range exchange and a globally ordered output") {
    val df = parquetFrame.filter(col("k") > 3).select("id", "k", "d").orderBy(col("id").desc)
    val (plan, _) = noopWrite(df)
    val node = Option(plan).flatMap(collectFirst(_) { case n: SortedCollectExec => n })
    assert(node.isDefined, s"no SortedCollect under the write:\n$plan")
    assert(node.get.rangeExchange.outputPartitioning.isInstanceOf[RangePartitioning],
      s"the write path must plan a rangepartitioning exchange:\n${node.get.rangeExchange}")
    // execute() — what a write runs — yields range partitions in order;
    // a small advisory size keeps several of them after coalescing
    val parts = withConf(
        "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2k",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1") {
      df.queryExecution.toRdd
        .mapPartitions(it => Iterator(it.map(_.getLong(0)).toArray)).collect()
    }
    assert(parts.count(_.nonEmpty) > 1, "the range exchange must spread rows")
    assert(parts.flatten.toSeq === parts.flatten.sorted.reverse.toSeq)
  }

  test("a root sort that appears only when AQE drops a redundant limit keeps AQE's plan") {
    // 13 keys from 2 partitions: once the partial aggregate's stage has
    // run, its 26 rows prove the limit redundant and AQE re-plans a bare
    // root sort; the write keeps TakeOrderedAndProject, with no range exchange
    def df = spark.range(0, 2000, 1, 2).groupBy((col("id") % 13).as("k")).count()
      .orderBy(col("count").desc, col("k")).limit(50)
    val (plan, jobs) = noopWrite(df)
    assert(find(plan)(_.isInstanceOf[SortedCollectExec]).isEmpty, s"re-planned into\n$plan")
    assert(jobs <= 2, s"the write submitted $jobs jobs")
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ===
      (0L until 13L).map(k => (k, if (k < 2000 % 13) 2000L / 13 + 1 else 2000L / 13))
        .sortBy { case (k, n) => (-n, k) })
  }

  test("the non-collect path coalesces the range exchange as AQE does") {
    withConf("spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "64") {
      def sorted = parquetFrame.filter(col("k") > 3).orderBy(col("d"), col("id"))
      // a non-deterministic projection keeps the rule off: AQE's own plan
      val reference = sorted.withColumn("r", rand(1)).queryExecution.toRdd.getNumPartitions
      assert(reference < 64, "AQE must coalesce the 64 initial partitions")
      val df = sorted
      assert(hasNode(df))
      assert(df.queryExecution.toRdd.getNumPartitions === reference, "execute()")
      // a cache build plans in its own session: compare it with AQE's
      def cachedParts(df: DataFrame): Int = {
        val cached = df.cache()
        try { cached.count(); cached.queryExecution.toRdd.getNumPartitions }
        finally cached.unpersist(blocking = true)
      }
      assert(cachedParts(sorted) === cachedParts(sorted.withColumn("r", rand(1))),
        "cache build")
    }
  }

  test("a local relation sorts on the driver with no job") {
    val rows = frame(500, 3).collect().toSeq
    val local = spark.createDataFrame(rows.asJava, frame(1, 1).schema)
    orders.foreach { keys =>
      val clue = s"local orderBy ${keys.mkString(", ")}"
      val df = local.orderBy(keys.map(_.column): _*)
      val (got, jobs) = JobProbe.jobs(spark.sparkContext)(df.collect())
      assert(hasNode(df), s"$clue: no SortedCollect in\n${df.queryExecution.executedPlan}")
      assert(jobs === 0, s"$clue: collect submitted $jobs jobs")
      assertSameOrder(got.toSeq, rows.sortWith(cmp(keys)(_, _) < 0), keys, clue)
    }
  }

  test("non-AQE plans and a user repartitionByRange keep their sort") {
    val in = frame(2000, 7)
    val keys = Seq(Key("d", asc = true, nullsFirst = true), Key("id", asc = true, nullsFirst = true))
    val expected = in.collect().toSeq.sortWith(cmp(keys)(_, _) < 0)
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val df = in.orderBy(keys.map(_.column): _*)
      assert(!hasNode(df))
      assert(df.queryExecution.executedPlan.toString.contains("rangepartitioning"))
      assert(df.collect().toSeq === expected)
    }
    val user = in.repartitionByRange(4, col("d"), col("id")).orderBy(keys.map(_.column): _*)
    assert(user.collect().toSeq === expected)
    assert(!hasNode(user))
  }

  test("explain names the node") {
    val df = frame(100, 3).orderBy("d")
    assert(df.queryExecution.explainString(
      org.apache.spark.sql.execution.SimpleMode).contains("SortedCollect"))
  }
}
