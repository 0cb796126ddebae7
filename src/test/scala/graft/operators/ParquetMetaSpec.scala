package graft.operators

import java.nio.file.Files

import org.apache.spark.graftspec.JobProbe
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ParquetMeta
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.sources.Tables

/** The driver-side parquet metadata reads ([[ParquetMeta]]): every
  * schema-only read and zone-map sidecar read a query plans from runs
  * with no Spark job, and answers exactly what the `spark.read` path
  * it replaced answers. */
class ParquetMetaSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import TestSpark.spark.implicits._

  private def tmp(name: String) = Files.createTempDirectory(name).toString

  private def withConf[A](k: String, v: String)(body: => A): A = {
    val old = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally old.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  /** The schema `spark.read` infers for `paths` — the reference every
    * parity check compares against. */
  private def inferred(paths: String*) = spark.read.parquet(paths: _*).schema

  private def sortedRows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  test("table loads, snapshotDf and a zone-pruned snapshotWhere plan submit zero jobs") {
    Tables.all.foreach { t =>
      val (_, n) = JobProbe.jobs(spark.sparkContext) {
        if (t == "events") Tables.events(spark, TestSpark.sf)
        else Tables.load(spark, TestSpark.sf, t)
      }
      assert(n === 0, s"Tables.load($t) submitted $n jobs")
    }
    val root = tmp("graft_pm_jobs") + "/t"
    val df = (0L until 400L).map(i => (i, s"t$i")).toDF("id", "text")
    val (files, zm) = TableLog.stageWithZoneMap(df, root, "base", "id", 4)
    TableLog.commit(spark, root, files, Nil, zmap = zm)
    val (snap, nRel) = JobProbe.jobs(spark.sparkContext) {
      TableLog.snapshot(spark, root)
    }
    assert(nRel === 0, s"snapshot construction submitted $nRel jobs")
    // the metadata rules see the snapshot: a count answers from the
    // zone maps' row counts
    val (count, nCount) = JobProbe.jobs(spark.sparkContext)(snap.count())
    assert(count === 400L)
    assert(nCount === 0, s"snapshot count submitted $nCount jobs")
    // no declared schema and no zone maps: the schema comes from one
    // footer on the driver, for a plain and for a bucketed layout
    val plainRoot = tmp("graft_pm_jobs_plain") + "/t"
    TableLog.commit(spark, plainRoot,
      TableLog.stageWrite(df.coalesce(2), plainRoot, "base"), Nil)
    val bucketRoot = tmp("graft_pm_jobs_bkt") + "/t"
    TableLog.commit(spark, bucketRoot,
      TableLog.stageBucketed(df, bucketRoot, "base", "id", 4), Nil)
    Seq("stageWrite" -> plainRoot, "stageBucketed" -> bucketRoot).foreach {
      case (layout, r) =>
        val (s, n) = JobProbe.jobs(spark.sparkContext)(TableLog.snapshot(spark, r))
        assert(n === 0, s"snapshot construction over a $layout table submitted $n jobs")
        assert(s.schema.fieldNames.toSeq === Seq("id", "text"), layout)
        assert(s.count() === 400L, layout)
    }
    // planning reads the zone maps: the executed plan, then the scan's
    // pruned file listing (which AQE would otherwise defer to the run)
    val ((where, listed), nPlan) = JobProbe.jobs(spark.sparkContext) {
      val w = TableLog.snapshotWhere(spark, root, "id", 10L, 20L)
      w.queryExecution.executedPlan
      (w, w.queryExecution.sparkPlan.collect {
        case s: FileSourceScanExec => s.selectedPartitions.filePartitionIterator
          .map(_.files.size).sum
      }.sum)
    }
    assert(listed >= 1 && listed < files.length,
      s"the scan listed $listed of ${files.length} files: zone maps did not prune")
    assert(nPlan === 0, s"planning a zone-pruned snapshotWhere submitted $nPlan jobs")
    assert(where.count() === 11L)
  }

  test("footer schema matches spark.read's inference on every test table") {
    val sf01 = new java.io.File(TestSpark.sf).getParent + "/sf0.01"
    for (sf <- Seq(TestSpark.sf, sf01); t <- Tables.all) {
      val p = s"$sf/$t.parquet"
      // events ships TIMESTAMP(NANOS) in some generations: compare
      // under the conf Tables.events reads it with
      val (k, v) = if (t == "events") ("spark.sql.legacy.parquet.nanosAsLong", "true")
        else ("spark.sql.parquet.mergeSchema", "false")
      withConf(k, v) {
        assert(ParquetMeta.schema(spark, p) === inferred(p), s"$sf/$t")
      }
    }
  }

  test("footer schema matches on a Spark-written TableLog file of timestamp, date, decimal, float and array columns") {
    val root = tmp("graft_pm_types") + "/t"
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        java.sql.Date.valueOf("2024-01-01"), BigDecimal("1.25"), 1.5f,
        Seq(1.0f, 2.0f)),
      (2L, null, null, null, Float.NaN, null))
      .toDF("id", "ts", "d", "amt", "f", "vec")
      .withColumn("amt", col("amt").cast("decimal(12,2)"))
    val refs = TableLog.stageWrite(df.coalesce(1), root, "typed")
    val paths = refs.map(TableLog.resolve(root, _))
    assert(ParquetMeta.schema(spark, paths: _*) === inferred(paths: _*))
    assert(ParquetMeta.schema(spark, paths: _*).map(_.dataType.typeName) ===
      Seq("long", "timestamp", "date", "decimal(12,2)", "float", "array"))
  }

  test("a multi-file directory skips _SUCCESS and .crc files, as spark.read does") {
    val dir = tmp("graft_pm_dir") + "/d"
    (0L until 90L).map(i => (i, s"t$i")).toDF("id", "text")
      .repartition(3).write.parquet(dir)
    val names = new java.io.File(dir).list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")),
      s"fixture lacks the hidden files it tests: $names")
    assert(names.count(_.endsWith(".parquet")) === 3)
    assert(ParquetMeta.schema(spark, dir) === inferred(dir))
    assert(sortedRows(ParquetMeta.read(spark, dir)) ===
      sortedRows(spark.read.parquet(dir)))
  }

  test("mergeSchema over a directory holding two schemas merges like spark.read") {
    val dir = tmp("graft_pm_merge") + "/d"
    (0L until 5L).map(i => (i, s"a$i")).toDF("id", "a").coalesce(1).write.parquet(dir)
    (5L until 9L).map(i => (i, i * 2.0)).toDF("id", "b").coalesce(1)
      .write.mode("append").parquet(dir)
    withConf("spark.sql.parquet.mergeSchema", "true") {
      assert(ParquetMeta.schema(spark, dir) === inferred(dir))
      assert(ParquetMeta.schema(spark, dir).fieldNames.toSet === Set("id", "a", "b"))
    }
    // merging off: the first file in path order decides, on both sides
    withConf("spark.sql.parquet.mergeSchema", "false") {
      assert(ParquetMeta.schema(spark, dir) === inferred(dir))
    }
    // the driver read: same merged schema, same rows, nulls where a
    // file lacks a column
    val ref = spark.read.option("mergeSchema", "true").parquet(dir)
    val got = ParquetMeta.read(spark, dir)
    assert(got.schema === ref.schema)
    assert(sortedRows(got) === sortedRows(ref))
    val (_, n) = JobProbe.jobs(spark.sparkContext) {
      ParquetMeta.read(spark, dir).select(col("id"), col("b").cast("string")).collect()
    }
    assert(n === 0, s"collecting the driver read submitted $n jobs")
  }

  test("zone rows from sidecars of different column sets match the mergeSchema read") {
    val root = tmp("graft_pm_zrows") + "/t"
    def part(lo: Long) = (lo until lo + 100L).map(i => (i, i % 7, s"t$i"))
      .toDF("id", "v", "text")
    // a statsCols commit (its hll_s is all null) and a sketchCols commit
    val (f1, z1) = TableLog.stageWithZoneMap(part(0L), root, "stats", "id", 2,
      statsCols = Seq("v"))
    TableLog.commit(spark, root, f1, Nil, zmap = z1)
    val (f2, z2) = TableLog.stageWithZoneMap(part(100L), root, "sketch", "id", 2,
      statsCols = Seq("v"), sketchCols = Seq("v"))
    TableLog.commit(spark, root, f2, Nil, zmap = z2)
    // and a narrower sidecar: no n_rows, sum_s or hll_s columns at all
    val (f3, z3) = TableLog.stageWithZoneMap(part(200L), root, "narrow", "id", 2)
    val narrowDir = "zmap/narrow-0000beef"
    spark.read.parquet(z3.map(TableLog.resolve(root, _)): _*)
      .select("file", "scol", "kind", "lo_s", "hi_s", "n_nulls")
      .coalesce(1).write.parquet(s"$root/$narrowDir")
    val z3n = new java.io.File(s"$root/$narrowDir").list().toSeq
      .filter(_.endsWith(".parquet")).map(n => s"$narrowDir/$n")
    TableLog.commit(spark, root, f3, Nil, zmap = z3n)

    val refs = (z1 ++ z2 ++ z3n).map(TableLog.resolve(root, _))
    val old = spark.read.option("mergeSchema", "true").parquet(refs: _*)
    assert(ParquetMeta.read(spark, refs: _*).schema === old.schema)
    assert(sortedRows(ParquetMeta.read(spark, refs: _*)) === sortedRows(old))
    // the mergeSchema read's ZStat projection, as the reader built it
    val have = old.columns.toSet
    def opt(n: String, cast: String) =
      if (have(n)) col(n).cast(cast) else lit(null).cast(cast)
    val want = old.select(col("file"), opt("scol", "string"), opt("kind", "string"),
        opt("lo_s", "string"), opt("hi_s", "string"), opt("n_nulls", "long"),
        opt("n_rows", "long"), opt("sum_s", "string"), opt("hll_s", "string"))
      .collect().map { r =>
        def s(i: Int) = Option(r.getString(i))
        def l(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
        TableLog.ZStat(r.getString(0), r.getString(1), r.getString(2), s(3), s(4),
          l(5), l(6), s(7), s(8))
      }
    val got = TableLog.collectZoneRows(spark, root, TableLog.state(spark, root))
    assert(got.sortBy(_.toString).toSeq === want.sortBy(_.toString).toSeq)
    // every shape is present: banks, null banks, and unknown row counts
    assert(got.exists(_.hll.isDefined) && got.exists(z => z.scol == "v" && z.hll.isEmpty))
    assert(got.exists(_.nRows.isEmpty) && got.exists(_.nRows.isDefined))
  }
}
