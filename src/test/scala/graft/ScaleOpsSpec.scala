package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{AsOfJoin, Skew}
import graft.sources.{Sinks, Tables}

/** Scale-path helpers: salted joins, partitioned sinks, as-of join. */
class ScaleOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** FileSourceScanExec count in the EXECUTED plan (collects first) —
    * the zero-scan proof shared by the metadata-rule specs. */
  private def fileScans(qdf: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case _: FileSourceScanExec => 1
      case o => (o.children ++ o.subqueries).map(scans).sum
    }
    qdf.collect(); scans(qdf.queryExecution.executedPlan)
  }

  /** The TableLogFileIndex scan's own plan-time file listing — the
    * kept-file proof shared by the top-k specs (the top-k rewrite
    * RESTRICTS the relation's location; the location is the truth). */
  private def keptFiles(qdf: org.apache.spark.sql.DataFrame): Long = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def findScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => findScans(a.executedPlan)
      case q: QueryStageExec => findScans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case o => (o.children ++ o.subqueries).flatMap(findScans)
    }
    val scans = findScans(qdf.queryExecution.executedPlan)
      .filter(_.relation.location.isInstanceOf[graft.operators.TableLogFileIndex])
    assert(scans.nonEmpty, "no TableLogFileIndex scan in the plan")
    scans.map(_.relation.location.inputFiles.length.toLong).sum
  }

  /** The snapshot's active files as a plain parquet read — ground
    * truth for the metadata faces that stays apart from the code under
    * test (TableLog.snapshot is the relation MetadataOnlyAgg answers
    * from). */
  private def rawSnapshot(root: String): org.apache.spark.sql.DataFrame =
    spark.read.parquet(graft.operators.TableLog.activeFiles(spark, root)
      .map(f => s"$root/$f"): _*)

  test("saltedJoin equals the plain inner join") {
    val orders = Tables.orders(spark, TestSpark.sf)
    val customer = Tables.customer(spark, TestSpark.sf)
      .withColumnRenamed("c_custkey", "o_custkey")
    val plain = orders.join(customer, Seq("o_custkey"))
    val salted = Skew.saltedJoin(orders, customer, "o_custkey", 8)
    assert(salted.count() === plain.count())
    assert(salted.except(plain).count() === 0)
    assert(plain.except(salted).count() === 0)
  }

  test("shardedCumSum equals the single-window running total exactly") {
    import spark.implicits._
    // ids are NON-dense and include duplicates (5 rows per id value at
    // id%11==0) so ties and ragged buckets are exercised; bucketWidth=16
    // forces many buckets per shard.
    val rows = for {
      s <- Seq("a", "b"); i <- 0 until 500
      r <- 0 until (if (i % 11 == 0) 3 else 1)
    } yield (s, i.toLong * 7L, s"t_${s}_${i}_$r", (i % 13 + 1).toLong)
    val df = rows.toDF("source", "doc_id", "tie", "v")
      .repartition(8) // scatter input so locality can't mask ordering bugs
    val got = graft.operators.Pack
      .shardedCumSum(df, "source", "doc_id", "tie", "v", "cum", bucketWidth = 16L)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"), col("tie"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val want = df.withColumn("cum", sum(col("v")).over(w))
    assert(got.exceptAll(want).count() === 0)
    assert(want.exceptAll(got).count() === 0)
    // bucket-width extremes are the degenerate shapes: width=1 (one
    // bucket per id — the base frame is largest) and a width larger
    // than the id range (single bucket — reduces to the plain window)
    for (width <- Seq(1L, Long.MaxValue)) {
      val g = graft.operators.Pack
        .shardedCumSum(df, "source", "doc_id", "tie", "v", "cum", bucketWidth = width)
      assert(g.exceptAll(want).count() === 0, s"width=$width diverges")
      assert(want.exceptAll(g).count() === 0, s"width=$width diverges")
    }
    // the local phase really is bucket-parallel: no Sort over a whole
    // shard, i.e. the widest window partitioning includes the bucket
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("__pk_bucket") || plan.contains("pk_bucket"),
      "two-phase plan should partition the local window by range bucket")
  }

  test("medianMadBucketed equals the full-sort selection exactly") {
    import spark.implicits._
    import graft.operators.Funnel
    val r = new scala.util.Random(17)
    // adversarial value distribution: negatives, exact ties (quantized
    // to 1 decimal), a constant group (degenerate single bucket), a
    // 1-row and a 2-row group (rank edge cases)
    val rows =
      (1 to 4000).map(i => ("g" + (i % 5), math.floor(r.nextGaussian() * 50) / 10.0, i.toLong)) ++
      (1 to 40).map(i => ("const", 7.25, 100000L + i)) ++
      Seq(("one", -3.5, 200001L), ("two", 1.0, 200002L), ("two", -1.0, 200003L))
    val df = rows.toDF("g", "v", "id")
    val base = Funnel.medianMad(df, "g", "v", "id").collect()
    val fast = Funnel.medianMadBucketed(df, "g", "v", "id").collect()
    assert(fast.toSeq === base.toSeq,
      "bucketed selection must be bit-identical to the full sort")
    // and with a bucket count small enough that collisions are certain
    val coarse = Funnel.medianMadBucketed(df, "g", "v", "id", buckets = 3).collect()
    assert(coarse.toSeq === base.toSeq, "bucket count must not affect the result")
  }

  test("corpus-unbounded frames carry NO broadcast hints (AQE decides)") {
    // The round-8 scale-killer: forced broadcast(sizes)/broadcast(bases)
    // hints on frames with one row per document / per (shard, bucket) —
    // unbounded at corpus scale, past the broadcast limit. The hints
    // are gone; this pins that. Hints survive analysis as ResolvedHint
    // nodes, so an empty collect proves no hint anywhere in the plan —
    // AQE may still CHOOSE broadcast from runtime stats, which is the
    // point. (Queries with deliberate bounded broadcasts — probe sets,
    // ≤nCentroids literals, single-row scalars — are not checked here.)
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    for (name <- Seq("q22_minhash_lsh", "q24_ngram_jaccard", "q59_cluster_dedup",
        "q68_seq_pack")) {
      val hints = SparkEntry.queries(name)(spark, TestSpark.sf)
        .queryExecution.analyzed.collect { case h: ResolvedHint => h }
      assert(hints.isEmpty, s"$name still carries broadcast hints: $hints")
    }
  }

  test("AQE splits a skewed shuffle-join partition at runtime (skew=true)") {
    import spark.implicits._
    // the declarative skew path that complements Skew.saltedJoin: when
    // a plan is a plain shuffle join, AQE's skew-join rule re-plans
    // the oversized partition into splits at RUNTIME — no salting
    // code. Verified via the executed plan's skew=true marker.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled").map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // one pathologically hot key (40k rows + payload) vs a long tail
      val fact = spark.range(40000)
        .select(lit(7L).as("k"), concat(lit("pay"), col("id")).as("pad"))
        .union(spark.range(2000).select((col("id") % 100).as("k"),
          concat(lit("pay"), col("id")).as("pad")))
      val dim = spark.range(100).select(col("id").as("k"),
        concat(lit("d"), col("id")).as("name"))
      val joined = fact.join(dim, "k")
      // execute THIS plan instance (count() would build a different
      // aggregate plan and leave this one unexecuted/un-adapted)
      assert(joined.collect().length === 42000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        "AQE should mark the hot partition's join as skew=true:\n" +
          plan.linesIterator.filter(_.contains("Join")).mkString("\n"))
    } finally saved.foreach { case (k, v) =>
      v.fold(conf.unset(k))(conf.set(k, _))
    }
  }

  test("materialized IVF+PQ index: probes match the inline operator and prune to probed cells") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val probes = emb.filter(col("vec_id") < 3)
    val path = Files.createTempDirectory("graft_ivfpq").toString + "/idx"
    Similarity.writeIvfPqIndex(emb, path, nCentroids = 8, blockDim = 8)
    val fromIndex = Similarity.probeIvfPqIndex(probes, path, k = 5, nProbe = 2)
    // the materialized index must return EXACTLY what the inline
    // operator computes with the same parameters
    val inline = Similarity.ivfPqTopK(emb, probes, k = 5, nCentroids = 8,
      nProbe = 2, blockDim = 8)
    assert(fromIndex.exceptAll(inline).count() === 0)
    assert(inline.exceptAll(fromIndex).count() === 0)
    // pruning proof, twice over: (1) the cells/ scan carries a
    // dynamic-pruning PartitionFilter (the broadcast join key IS the
    // partition column); (2) after execution the scan's runtime metric
    // shows fewer partition directories READ than exist on disk —
    // at most 3 probes × nProbe=2 of the 8 cells
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def findScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => findScans(a.executedPlan)
      case q: QueryStageExec => findScans(q.plan)
      case r: ReusedExchangeExec => findScans(r.child)
      case f: FileSourceScanExec => Seq(f)
      case o => (o.children ++ o.subqueries).flatMap(findScans)
    }
    fromIndex.collect() // execute THIS plan instance so its metrics populate
    val cellScan = findScans(fromIndex.queryExecution.executedPlan)
      .find(_.metadata("Location").contains("/cells"))
      .getOrElse(fail("no file scan over the cells/ layout in the probe plan"))
    assert(cellScan.partitionFilters.exists(_.toString.contains("dynamicpruning")),
      s"cells scan lacks a dynamic pruning filter: ${cellScan.partitionFilters}")
    val partitionsRead = cellScan.metrics("numPartitions").value
    assert(partitionsRead > 0, "scan metric not populated — pruning proof is vacuous")
    val allCells = new java.io.File(s"$path/cells").listFiles()
      .count(_.getName.startsWith("cell="))
    info(s"partitions read = $partitionsRead of $allCells on disk")
    assert(partitionsRead <= 6, s"probe scan read $partitionsRead cells — no pruning")
    assert(partitionsRead < allCells, "probe scan read every cell directory")
  }

  test("incremental index delta: only touched cell dirs rewritten, updated ≡ fresh re-encode, idempotent") {
    import graft.operators.{Similarity, Versioning}
    val v1 = Tables.embeddings(spark, TestSpark.sf)
    val path = Files.createTempDirectory("graft_idxdelta").toString + "/idx"
    Similarity.writeIvfPqIndex(v1, path, nCentroids = 16, blockDim = 8)
    def cellFiles(): Map[String, Set[(String, Long)]] =
      new java.io.File(s"$path/cells").listFiles()
        .filter(_.getName.startsWith("cell=")).map { d =>
          d.getName -> d.listFiles().map(f => (f.getName, f.lastModified())).toSet
        }.toMap
    val before = cellFiles()
    // a SMALL delta (2 removed, 2 changed, 2 added of 500) so most
    // cells stay untouched and the untouched-dir assertion has teeth;
    // the added rows are existing vectors under new (re-keyed) ids
    val v2 = v1.filter(col("vec_id") % 250 =!= 3)
      .withColumn("embedding",
        when(col("vec_id") % 250 === 7, transform(col("embedding"), x => -x))
          .otherwise(col("embedding")))
      .unionByName(v1.filter(col("vec_id") % 250 === 11)
        .withColumn("vec_id", col("vec_id") + 1000000))
    val content = concat_ws(",", col("embedding").cast("array<string>"))
    val delta = Versioning.datasetDiff(
      v1.withColumn("__c", content), v2.withColumn("__c", content), "vec_id", "__c")
    val touched = Similarity.applyIndexDelta(v2, delta, "vec_id", path)
    val after = cellFiles()
    assert(touched.nonEmpty, "delta must touch at least one cell")
    val untouched = before.keySet
      .filter(d => !touched.contains(d.stripPrefix("cell=").toLong))
    assert(untouched.nonEmpty,
      s"delta touched every cell ($touched) — untouched-dir assertion is vacuous")
    untouched.foreach { d =>
      assert(after(d) == before(d), s"untouched cell dir $d was rewritten")
    }
    // equivalence: the updated cells table is row-identical to
    // re-encoding the v2 snapshot from scratch under the same artifacts
    val updated = spark.read.parquet(s"$path/cells")
      .select(col("nbr_id"), col("cell").cast("long"), col("codes"))
    val fresh = Similarity.encodeWithIndexArtifacts(v2, path)
      .select(col("nbr_id"), col("cell").cast("long"), col("codes"))
    assert(updated.exceptAll(fresh).count() === 0)
    assert(fresh.exceptAll(updated).count() === 0)
    assert(delta.filter(col("status") === "added").count() === 2)
    // idempotence: re-applying the same delta leaves the content
    // unchanged — no duplicate rows for the added ids (it touches
    // fewer cells: removed ids are already gone, so only the changed
    // and added ids' current homes rewrite)
    val touched2 = Similarity.applyIndexDelta(v2, delta, "vec_id", path)
    assert(touched2.toSet.subsetOf(touched.toSet),
      s"re-apply touched new cells: $touched2 vs $touched")
    val again = spark.read.parquet(s"$path/cells")
      .select(col("nbr_id"), col("cell").cast("long"), col("codes"))
    assert(again.exceptAll(fresh).count() === 0)
    assert(fresh.exceptAll(again).count() === 0)
  }

  test("applyIndexDelta crash recovery: published staging rolls forward, tmp discards") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val path = Files.createTempDirectory("graft_idxcrash").toString + "/idx"
    Similarity.writeIvfPqIndex(emb, path, nCentroids = 8, blockDim = 8)
    val before = spark.read.parquet(s"$path/cells")
      .select("nbr_id", "codes").collect().map(_.toString).toSet
    // fabricate the worst crash point of a swap: a PUBLISHED staging
    // dir holding a touched cell's complete new content, with the live
    // cell dir already deleted (crash between delete and rename)
    val cellsDir = new java.io.File(s"$path/cells")
    val victim = cellsDir.listFiles().filter(_.getName.startsWith("cell="))
      .maxBy(_.listFiles().length)
    val c = victim.getName.stripPrefix("cell=").toLong
    val staging = new java.io.File(s"$path/cells_staging")
    assert(staging.mkdirs())
    val staged = new java.io.File(staging, victim.getName)
    assert(victim.renameTo(staged), "test setup: move cell into staging")
    java.nio.file.Files.writeString(
      new java.io.File(staging, "_touched").toPath, s"$c,1")
    // the index is now unreadable-complete (the cell is missing);
    // recovery must restore it byte-for-byte and retire the staging
    Similarity.recoverIndex(spark, path)
    val after = spark.read.parquet(s"$path/cells")
      .select("nbr_id", "codes").collect().map(_.toString).toSet
    assert(after === before, "rolled-forward index lost or changed rows")
    assert(!staging.exists(), "staging must be retired after roll-forward")
    // an UNPUBLISHED tmp dir (crash mid-write) is discarded, not applied
    val tmp = new java.io.File(s"$path/cells_staging_tmp")
    assert(tmp.mkdirs())
    java.nio.file.Files.writeString(
      new java.io.File(tmp, "garbage").toPath, "partial")
    Similarity.recoverIndex(spark, path)
    assert(!tmp.exists(), "unpublished tmp staging must be discarded")
    assert(spark.read.parquet(s"$path/cells")
      .select("nbr_id", "codes").collect().map(_.toString).toSet === before)
  }

  test("filtered ANN: payload metadata filters candidates at the cells scan and survives deltas") {
    import graft.operators.{Similarity, Versioning}
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val path = Files.createTempDirectory("graft_fann").toString + "/idx"
    Similarity.writeIvfPqIndex(emb, path, nCentroids = 8, blockDim = 8,
      metaCols = Seq("label"))
    val probes = emb.filter(col("vec_id") < 3)
    val out = Similarity.probeIvfPqIndex(probes, path, k = 5, nProbe = 2,
      candidateFilter = Some(col("label").isin(0, 2, 4, 6, 8)))
    out.collect()
    // every survivor satisfies the predicate, ranks stay dense ≤ k
    val labels = emb.select(col("vec_id").as("nbr_id"), col("label"))
    assert(out.join(labels, "nbr_id").filter(col("label") % 2 =!= 0).count() === 0)
    assert(out.groupBy("probe_id").count().filter(col("count") > 5).count() === 0)
    // pushdown proof: the predicate reaches the cells parquet scan
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def findScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => findScans(a.executedPlan)
      case q: QueryStageExec => findScans(q.plan)
      case r: ReusedExchangeExec => findScans(r.child)
      case f: FileSourceScanExec => Seq(f)
      case o => (o.children ++ o.subqueries).flatMap(findScans)
    }
    val cellScan = findScans(out.queryExecution.executedPlan)
      .find(_.metadata("Location").contains("/cells"))
      .getOrElse(fail("no file scan over cells/ in the filtered probe plan"))
    assert(cellScan.metadata("PushedFilters").contains("In(label"),
      s"label IN-list not pushed: ${cellScan.metadata("PushedFilters")}")
    // an incremental delta re-encodes fresh rows WITH their payload —
    // filterability survives index maintenance
    val v2 = emb.filter(col("vec_id") % 250 =!= 3)
    val content = concat_ws(",", col("embedding").cast("array<string>"))
    val delta = Versioning.datasetDiff(
      emb.withColumn("__c", content), v2.withColumn("__c", content), "vec_id", "__c")
    assert(Similarity.applyIndexDelta(v2, delta, "vec_id", path).nonEmpty)
    val cells = spark.read.parquet(s"$path/cells")
    assert(cells.columns.contains("label"))
    val mismatched = cells.select(col("nbr_id"), col("label"))
      .join(labels.withColumnRenamed("label", "l2"), "nbr_id")
      .filter(col("label").isNull || col("label") =!= col("l2")).count()
    assert(mismatched === 0, s"$mismatched cell rows lost/changed their payload")
  }

  test("saltedJoin spreads a pathologically hot key and stays exact") {
    import spark.implicits._
    // 100k-row hot key + a long tail: the shape where an unsalted
    // shuffle join puts ~all rows on one reducer
    val fact = spark.range(100000).select(lit(7L).as("k"), col("id").as("v"))
      .union(spark.range(5000).select((col("id") % 100).as("k"), col("id").as("v")))
    val dim = spark.range(100).select(col("id").as("k"), concat(lit("d"), col("id")).as("name"))
    val plain = fact.join(dim, "k")
    val salted = graft.operators.Skew.saltedJoin(fact, dim, "k", 16)
    assert(salted.count() === plain.count())
    assert(salted.exceptAll(plain).count() === 0)
    assert(plain.exceptAll(salted).count() === 0)
    // the hot key's rows really are spread across salt buckets
    val spread = fact.filter(col("k") === 7)
      .withColumn("__salt", pmod(xxhash64(struct(col("k"), col("v"))), lit(16L)))
      .select(countDistinct(col("__salt"))).head.getLong(0)
    assert(spread === 16L)
  }

  test("writePartitioned produces prunable partition directories") {
    val dir = Files.createTempDirectory("graft_sink").toString + "/events"
    val events = Tables.events(spark, TestSpark.sf)
    Sinks.writePartitioned(events, dir, Seq("event_type"))
    val back = spark.read.parquet(dir)
    assert(back.count() === events.count())
    // partition pruning: scanning one event_type reads one directory
    val one = back.filter(col("event_type") === "purchase")
    assert(one.count() === events.filter(col("event_type") === "purchase").count())
    assert(new java.io.File(dir).listFiles().exists(_.getName.startsWith("event_type=")))
  }

  test("json and csv sources round-trip with explicit schemas") {
    val dir = Files.createTempDirectory("graft_src").toString
    val events = Tables.events(spark, TestSpark.sf)
      .select("event_id", "user_id", "event_type", "value")
    Sinks.writeJson(events, s"$dir/j")
    Sinks.writeCsv(events, s"$dir/c")
    val schema = events.schema
    val fromJson = Tables.readJson(spark, s"$dir/j", schema)
    val fromCsv = Tables.readCsv(spark, s"$dir/c", schema)
    assert(fromJson.count() === events.count())
    assert(fromCsv.count() === events.count())
    assert(fromJson.except(events).count() === 0)
    assert(fromCsv.except(events).count() === 0)
  }

  test("TopKPairs aggregate matches window-rank top-k") {
    import graft.plans.TopKPairs
    val events = Tables.events(spark, TestSpark.sf)
    val viaAgg = events.groupBy(col("event_type"))
      .agg(TopKPairs.topK(struct(col("value"), col("event_id")), 7).as("top"))
      .select(col("event_type"), explode(col("top")).as("p"))
      .select(col("event_type"), col("p.value"), col("p.id").as("event_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("value").desc, col("event_id"))
    val viaWindow = events
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 7)
      .select(col("event_type"), col("value"), col("event_id"))
    assert(viaAgg.except(viaWindow).count() === 0)
    assert(viaWindow.except(viaAgg).count() === 0)
  }

  test("bucketed tables join without a shuffle exchange") {
    val orders = Tables.orders(spark, TestSpark.sf)
    val events = Tables.events(spark, TestSpark.sf)
      .withColumn("o_custkey", col("user_id"))
    // a previous JVM's warehouse dir survives while the in-memory
    // catalog doesn't — clear both
    Seq("orders_b", "events_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val dir = new java.io.File(s"spark-warehouse/$t")
      if (dir.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
        }
        rm(dir)
      }
    }
    Sinks.writeBucketed(orders, "orders_b", "o_custkey", 8)
    Sinks.writeBucketed(events, "events_b", "o_custkey", 8)
    val joined = spark.table("orders_b").join(spark.table("events_b"), "o_custkey")
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join still shuffles:\n$plan")
    assert(joined.count() > 0)
  }

  test("asof join attaches latest prior right value with null for no match") {
    val events = Tables.events(spark, TestSpark.sf)
    // exclude user 0's orders so the no-match → null path is exercised
    val orders = Tables.orders(spark, TestSpark.sf)
      .withColumnRenamed("o_custkey", "user_id")
      .filter(col("user_id") =!= 0)
    val out = AsOfJoin.asof(events, orders, "user_id", "ts", "o_orderdate",
      "o_totalprice", "o_orderkey", "event_id")
    assert(out.count() === events.count())
    assert(out.filter(col("user_id") === 0 && col("asof_value").isNotNull).count() === 0)
    // spot-check one user against a direct computation
    val u = out.filter(col("user_id") === 1 && col("asof_value").isNotNull)
    if (u.count() > 0) {
      val expected = orders.filter(col("user_id") === 1)
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
        .select("o_totalprice").head.getDouble(0)
      assert(u.select("asof_value").distinct().head.getDouble(0) === expected)
    }
  }

  test("bucketed co-located join plans WITHOUT a shuffle on either side") {
    val dir = Files.createTempDirectory("graft_bucketed").toFile.getAbsolutePath
    val bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // defeat broadcast so the join must pick sort-merge — the path
      // bucketing optimizes
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      graft.sources.Bucketing.writeBucketed(
        Tables.orders(spark, TestSpark.sf), "orders_b", s"$dir/orders_b",
        "o_orderkey", 4)
      graft.sources.Bucketing.writeBucketed(
        Tables.lineitem(spark, TestSpark.sf)
          .withColumnRenamed("l_orderkey", "o_orderkey"),
        "lineitem_b", s"$dir/lineitem_b", "o_orderkey", 4)
      val joined = spark.table("orders_b")
        .join(spark.table("lineitem_b"), "o_orderkey")
      // same-bucket-count tables: bucket i reads against bucket i —
      // the executed plan must contain NO exchange at all
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
      // and the result is the plain join's result exactly
      val plain = Tables.orders(spark, TestSpark.sf)
        .join(Tables.lineitem(spark, TestSpark.sf)
          .withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey")
      assert(joined.count() === plain.count())
      assert(joined.exceptAll(plain).count() === 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("GSI upsert: untouched key dirs byte-identical, upserted ≡ fresh rebuild, " +
       "idempotent replay") {
    import graft.operators.Layout
    val docs = Tables.documents(spark, TestSpark.sf)
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
    val root = Files.createTempDirectory("graft_gsiup").toString
    val p = s"$root/gsi"
    Layout.writeGsi(docs.filter(col("doc_id") % 5 =!= 0), p, "source", "lang")
    def leafFiles(path: String): Map[String, Set[(String, Long, Long)]] =
      new java.io.File(path).listFiles().filter(_.getName.startsWith("source="))
        .flatMap(sd => sd.listFiles().filter(_.getName.startsWith("lang=")).map { ld =>
          s"${sd.getName}/${ld.getName}" ->
            ld.listFiles().map(f => (f.getName, f.lastModified(), f.length())).toSet
        }).toMap
    // delta confined to four sources → every other source dir
    // untouched. At this sf source ≡ f(doc_id mod 20), so the %5
    // additions live ONLY in src0/src5-style dirs (created fresh by
    // the upsert) while the %7 resends hit dirs with existing
    // residents (the true in-directory merge path).
    val delta = docs.filter(
      (col("doc_id") % 5 === 0 && col("source").isin("src0", "src5")) ||
        (col("doc_id") % 7 === 0 && col("source").isin("src1", "src2")))
    assert(delta.count() > 0, "delta must be non-empty")
    val touchedKeys = delta.select("source", "lang").distinct().collect()
      .map(r => s"source=${r.getString(0)}/lang=${r.getString(1)}").toSet
    val before = leafFiles(p)
    Layout.upsertIntoGsi(delta, p, "doc_id", "source", "lang")
    val after = leafFiles(p)
    for ((d, files) <- before if !touchedKeys.contains(d))
      assert(after(d) === files, s"untouched dir $d was rewritten")
    // upserted layout ≡ fresh rebuild of the same corpus (resends
    // overlap the base — dedupe by id, delta wins but rows are equal)
    val expect = docs.filter(col("doc_id") % 5 =!= 0)
      .join(delta.select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(delta)
    val got = spark.read.parquet(p).select(docs.columns.map(col): _*)
    assert(got.exceptAll(expect).count() === 0)
    assert(expect.exceptAll(got).count() === 0)
    // idempotent replay: same batch again → same content
    Layout.upsertIntoGsi(delta, p, "doc_id", "source", "lang")
    val got2 = spark.read.parquet(p).select(docs.columns.map(col): _*)
    assert(got2.exceptAll(expect).count() === 0)
    assert(expect.exceptAll(got2).count() === 0)
  }

  test("GSI upsert read-back plan stays small under a many-combo delta") {
    import graft.operators.Layout
    import spark.implicits._
    // 400 key combinations: the old OR-of-ANDs read-back predicate
    // built ~5 Catalyst nodes per combo (2000+); the per-column
    // InSet + broadcast semi-join must stay O(values-per-column)
    val rows = for { a <- 0 until 20; b <- 0 until 20 }
      yield (a.toLong * 20 + b, s"a$a", s"b$b")
    val df = rows.toDF("id", "ka", "kb")
    val root = Files.createTempDirectory("graft_gsibig").toString
    val p = s"$root/gsi"
    Layout.writeGsi(df, p, "ka", "kb")
    val delta = df.withColumn("id", col("id") + 10000L)
    val touched = delta.select(col("ka"), col("kb")).distinct().collect()
    assert(touched.length === 400)
    val frame = Layout.touchedReadBack(spark, p, touched, delta, Seq("ka", "kb"))
    val nExpr = frame.queryExecution.optimizedPlan.collect { case n => n }
      .map(_.expressions.map(e => e.collect { case x => x }.size).sum).sum
    info(s"read-back plan expression nodes: $nExpr for ${touched.length} combos")
    assert(nExpr < 600,
      s"read-back plan has $nExpr expression nodes for 400 combos — " +
        "the combination tree is back")
    // and the read-back is still EXACT: every base row's combo is
    // touched here, so it returns the whole base
    assert(frame.count() === 400L)
    // over-selection is filtered: a delta touching only the diagonal
    // must read back only diagonal rows even though the per-column
    // product covers the full grid
    val diag = df.filter(col("ka").substr(2, 5) === col("kb").substr(2, 5))
    val dTouched = diag.select(col("ka"), col("kb")).distinct().collect()
    val dFrame = Layout.touchedReadBack(spark, p, dTouched, diag, Seq("ka", "kb"))
    assert(dFrame.count() === 20L,
      "semi-join must restrict the per-column product to exact combos")
  }

  test("page-index append: untouched dirs byte-identical, appended ≡ fresh rebuild, " +
       "idempotent replay, served drain crosses the boundary") {
    import graft.operators.Pagination
    val day = Tables.events(spark, TestSpark.sf)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
    // bootstrap on the 103 smallest ids: 50-row buckets leave bucket 2
    // PARTIAL (3 rows), so the append exercises the top-up rewrite
    val split = day.orderBy(col("event_id")).limit(103)
      .agg(max(col("event_id"))).head.getLong(0)
    val base = day.filter(col("event_id") <= split)
    val delta = day.filter(col("event_id") > split)
    assert(delta.count() > 200, "need enough tail rows to cross buckets")
    val root = Files.createTempDirectory("graft_pgappend").toString
    val pA = s"$root/idxA"
    Pagination.buildPageIndex(base, "event_id", bucketRows = 50L, path = pA)
    def dirFiles(p: String): Map[String, Set[(String, Long, Long)]] =
      new java.io.File(s"$p/data").listFiles()
        .filter(_.getName.startsWith("pbucket=")).map { d =>
          d.getName ->
            d.listFiles().map(f => (f.getName, f.lastModified(), f.length())).toSet
        }.toMap
    val before = dirFiles(pA)
    Pagination.appendToPageIndex(delta, "event_id", bucketRows = 50L, path = pA)
    val after = dirFiles(pA)
    // buckets 0 and 1 are full — the append may not touch them
    Seq("pbucket=0", "pbucket=1").foreach { d =>
      assert(after(d) == before(d), s"untouched bucket dir $d was rewritten")
    }
    assert(after.size > before.size, "append must add bucket dirs")
    // appended index ≡ one built fresh over the whole day — data AND
    // bucket assignment (pbucket rides the comparison)
    val pB = s"$root/idxB"
    Pagination.buildPageIndex(day, "event_id", bucketRows = 50L, path = pB)
    def rows(p: String) = spark.read.parquet(s"$p/data")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("pbucket").cast("long"))
    assert(rows(pA).exceptAll(rows(pB)).count() === 0)
    assert(rows(pB).exceptAll(rows(pA)).count() === 0)
    def manifest(p: String) = spark.read.parquet(s"$p/manifest")
      .select(col("pbucket").cast("long"), col("rows"),
        col("key_min"), col("key_max"))
    assert(manifest(pA).exceptAll(manifest(pB)).count() === 0)
    assert(manifest(pB).exceptAll(manifest(pA)).count() === 0)
    // replaying the same batch no-ops: every data file byte-untouched
    val before2 = dirFiles(pA)
    Pagination.appendToPageIndex(delta, "event_id", bucketRows = 50L, path = pA)
    assert(dirFiles(pA) == before2, "replay must not rewrite anything")
    // the served drain is identical from both indexes and provably
    // reads past the bootstrap slice
    val cols = Seq("event_id", "user_id", "event_type", "value")
    def served(p: String) = Pagination.pagedFromIndex(spark, p, "event_id",
      cols, pageSize = 20, pages = 10)
    assert(served(pA).exceptAll(served(pB)).count() === 0)
    assert(served(pB).exceptAll(served(pA)).count() === 0)
    assert(served(pA).agg(max(col("event_id"))).head.getLong(0) > split,
      "drain never crossed into appended buckets — the proof is vacuous")
  }

  test("q107's registered join subtree is exchange-free over bucketed scans") {
    val df = SparkEntry.queries("q107_colocated_join")(spark, TestSpark.sf)
    val plan = df.queryExecution.executedPlan.toString
    // both sides must come off the bucketed layout...
    assert("SelectedBucketsCount".r.findAllIn(plan).size === 2, plan)
    // ...and nothing between the scans and the sort-merge join may
    // shuffle: plan text prints root-first, so the join's SUBTREE is
    // everything after its line — any Exchange there is a join-input
    // shuffle (the 5-group aggregate's exchanges print above the join)
    val joinAt = plan.indexOf("SortMergeJoin")
    assert(joinAt >= 0, plan)
    val exchangeBelow = plan.indexOf("Exchange", joinAt)
    assert(exchangeBelow === -1,
      s"exchange below the bucketed join:\n$plan")
  }

  test("no accidental cartesian products in any query plan") {
    // brute-force ANN scans corpus × broadcast probes BY DESIGN (the
    // exact baseline the approximate operators are judged against);
    // q40 compares group-level sketches pairwise AFTER aggregation —
    // cardinality is #groups (sources), not #rows, so the nested-loop
    // join is over a handful of sketch rows by construction
    // q60/q64/q72/q74/q81 attach a SINGLE-ROW aggregate (corpus count
    // / weight total / vocab size / N+avgdl / token-total scalars) via
    // crossJoin(broadcast(...)): a 1-row build side makes the
    // nested-loop join a map-only scalar attach, not a blowup.
    // q65 additionally ranks its 50-row top-k result with a bounded
    // broadcast self-join (≤2500 pairs) instead of a global window.
    // q78/q95 scan corpus codes × broadcast probes BY DESIGN (PQ
    // without cell pruning — q80 is the pruned composite, which
    // equi-joins)
    // q105 attaches the same 1-row (total tokens, total weight)
    // aggregate as q64's rate frame — scalar attach, not a blowup
    // q109 compares group-level HLL banks pairwise AFTER aggregation —
    // cardinality is #event_types, not #rows (the q40 shape)
    // q122 attaches the 1-row (N_target, N_raw) totals to the 256-row
    // bucket table before quantizing the ratio — scalar attach on a
    // CONSTANT-size frame, the corpus side joins the result by hash
    // q117 (r17) cross-joins its TWO single-row profile aggregates
    // (stats pass × distinct-count pass) — a 1-row × 1-row attach that
    // replaced the SortAggregate-forcing combined pass
    val intentionalCross =
      Set("q26_ann_bruteforce", "q42_multimodal_ann", "q40_minhash_union",
        "q60_tfidf", "q64_mixture", "q65_vocab", "q72_lm_score", "q74_bm25",
        "q78_pq_ann", "q95_pq_trained", "q81_source_kl", "q105_token_budget",
        "q109_hll_overlap", "q122_dsir_weights", "q117_table_profile")
    SparkEntry.queries.foreach { case (name, fn) =>
      val plan = fn(spark, TestSpark.sf).queryExecution.executedPlan.toString
      if (!intentionalCross(name)) {
        assert(!plan.contains("CartesianProduct"), s"$name plans a CartesianProduct")
        assert(!plan.contains("BroadcastNestedLoopJoin"), s"$name plans a nested-loop join")
      }
    }
  }

  test("native as-of join exec matches the composed union+window formulation") {
    val events = Tables.events(spark, TestSpark.sf)
    val orders = Tables.orders(spark, TestSpark.sf)
      .withColumnRenamed("o_custkey", "user_id")
      .filter(col("user_id") =!= 0) // keep a no-match → null path
    val composed = AsOfJoin.asof(events, orders, "user_id", "ts", "o_orderdate",
        "o_totalprice", "o_orderkey", "event_id")
      .select(col("event_id"), col("asof_value"))
    val native = AsOfJoin.asofNative(events, orders, "user_id", "ts", "o_orderdate",
        "o_totalprice", "o_orderkey")
      .select(col("event_id"), col("asof_value"))
    assert(native.count() === events.count())
    assert(native.exceptAll(composed).count() === 0)
    assert(composed.exceptAll(native).count() === 0)
    // and the plan really is the custom exec (nodeName strips "Exec"),
    // with no join-back: exactly one exchange per side, no more
    val plan = native.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin "), plan.take(500))
    assert(!plan.contains("Window"), "native path must not fall back to the window plan")
    assert("Exchange hashpartitioning".r.findAllIn(plan).length === 2, plan.take(800))
  }

  test("native as-of join consumes null-timestamp rows instead of stalling on them") {
    import spark.implicits._
    // right rows: a null-ts row FIRST in key order (sorts NULLS FIRST),
    // then valid rows — the regression shape where the merge loop
    // stalled on the null row and hid everything after it
    val l = Seq((1L, Some(5L), 10L), (1L, None, 11L), (2L, Some(5L), 20L))
      .toDF("k", "ts", "eid")
    val r = Seq((1L, None, "vnull", 1L), (1L, Some(2L), "v2", 2L), (2L, Some(9L), "late", 3L))
      .toDF("k", "ts", "v", "tie")
    val native = AsOfJoin.asofNative(l, r, "k", "ts", "ts", "v", "tie")
      .select(col("eid"), col("asof_value")).collect()
      .map(x => x.getLong(0) -> Option(x.getString(1))).toMap
    // eid 10: sees v2 (ts 2 <= 5) — NOT stalled behind the null row;
    // eid 11 (null left ts): sees only the null-ts right row;
    // eid 20: right ts 9 > 5 → no match
    assert(native === Map(10L -> Some("v2"), 11L -> Some("vnull"), 20L -> None))
    // and the composed formulation agrees row for row
    val composed = AsOfJoin.asof(l, r, "k", "ts", "ts", "v", "tie", "eid")
      .select(col("eid"), col("asof_value")).collect()
      .map(x => x.getLong(0) -> Option(x.getString(1))).toMap
    assert(native === composed)
  }

  test("native as-of join handles string keys and values (buffer-copy safety)") {
    import spark.implicits._
    // string key + string value exercise the UnsafeRow buffer-copy
    // path: the kept (key, value) must survive row reuse
    val l = Seq(("alpha", 10L, 1L), ("beta", 10L, 2L), ("gamma", 10L, 3L))
      .toDF("k", "ts", "eid")
    val r = Seq(("alpha", 5L, "va", 1L), ("alpha", 6L, "va2", 2L), ("beta", 6L, "vb", 1L))
      .toDF("k", "ts", "v", "tie")
    val out = AsOfJoin.asofNative(l, r, "k", "ts", "ts", "v", "tie")
      .select(col("eid"), col("asof_value")).collect()
      .map(x => x.getLong(0) -> Option(x.getString(1))).toMap
    assert(out === Map(1L -> Some("va2"), 2L -> Some("vb"), 3L -> None))
  }

  test("stratified sampling rejects non-integral id columns loudly") {
    val docs = Tables.documents(spark, TestSpark.sf)
    val e = intercept[IllegalArgumentException] {
      graft.operators.Sample.stratified(docs, Seq("lang"), "text", 5)
    }
    assert(e.getMessage.contains("integral"), e.getMessage)
    // integral path still works and stays exactly-k
    val s = graft.operators.Sample.stratified(docs, Seq("lang"), "doc_id", 5)
    assert(s.groupBy("lang").count().filter(col("count") =!= 5).count() === 0)
  }

  test("hashSplit is exhaustive, deterministic and leakage-stable under growth") {
    val docs = Tables.documents(spark, TestSpark.sf)
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val out = graft.operators.Sample.hashSplit(docs, "doc_id", splits)
    // exhaustive: every row labeled, labels only from the split set
    assert(out.filter(col("split").isNull).count() === 0)
    assert(out.select("split").distinct().collect().map(_.getString(0)).toSet
      .subsetOf(Set("train", "val", "test")))
    // ratios roughly honored (md5 uniformity; 500 docs)
    val n = docs.count().toDouble
    val train = out.filter(col("split") === "train").count()
    assert(math.abs(train / n - 0.8) < 0.08, s"train fraction ${train / n}")
    // leakage-stable: a row's split is unchanged when the dataset grows
    val half = graft.operators.Sample.hashSplit(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", splits)
    val moved = half.select(col("doc_id"), col("split").as("s2"))
      .join(out.select("doc_id", "split"), "doc_id")
      .filter(col("split") =!= col("s2")).count()
    assert(moved === 0)
  }

  test("clusterAwareSplit keeps every near-dup cluster inside one split") {
    val docs = Tables.documents(spark, TestSpark.sf)
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val clusters = graft.operators.Cluster.canonicalize(
      graft.operators.Dedup.ngramJaccardPairsPrefix(docs, "doc_id", "text",
        k = 3, threshold = 0.5), "d1", "d2")
    val out = graft.operators.Sample.clusterAwareSplit(docs, "doc_id",
      clusters, "doc_id", "cluster_id", splits)
    // exhaustive: one labeled row per doc
    assert(out.count() === docs.count())
    assert(out.filter(col("split").isNull).count() === 0)
    // zero leakage: no cluster straddles two splits
    val straddling = out.groupBy("cluster_id")
      .agg(countDistinct(col("split")).as("ns"))
      .filter(col("ns") > 1).count()
    assert(straddling === 0, s"$straddling clusters span multiple splits")
    // singletons (docs with no near-dup edge) split exactly as the
    // per-doc hashSplit would — the two operators agree off-cluster
    val perDoc = graft.operators.Sample.hashSplit(docs, "doc_id", splits)
      .select(col("doc_id"), col("split").as("pd"))
    val clustered = clusters.select(col("doc_id")).distinct()
    val disagree = out.join(clustered, Seq("doc_id"), "left_anti")
      .join(perDoc, "doc_id").filter(col("split") =!= col("pd")).count()
    assert(disagree === 0)
  }

  test("incremental minhash dedup over the band store equals the full-corpus run") {
    import graft.operators.{Dedup, TableLog}
    val docs = Tables.documents(spark, TestSpark.sf)
    val path = Files.createTempDirectory("graft_mhstore").toString + "/store"
    val v1 = docs.filter(col("doc_id") % 31 =!= 0)
    val delta = docs.filter(col("doc_id") % 31 === 0)
    Dedup.MinhashStore.build(v1, "doc_id", "text", path, 3, 16, 4)
    val inc = Dedup.MinhashStore.incrementalPairs(
      delta, "doc_id", "text", path, 3, 16, 4, 0.5)
    // the store path must find EXACTLY the full run's delta-touching
    // pairs — incremental loses nothing, invents nothing
    val full = Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 16, 4, 0.5)
      .filter(col("d1") % 31 === 0 || col("d2") % 31 === 0)
    assert(inc.exceptAll(full).count() === 0)
    assert(full.exceptAll(inc).count() === 0)
    // appendBatch extends history idempotently: after absorbing the
    // delta (twice — the rerun's tag is committed, so it is a no-op),
    // the store is row-identical to a fresh build over the full corpus
    Dedup.MinhashStore.appendBatch(delta, "doc_id", "text", path, 3, 16, 4, batch = 1L)
    Dedup.MinhashStore.appendBatch(delta, "doc_id", "text", path, 3, 16, 4, batch = 1L)
    assert(TableLog.versions(spark, path) === Seq(0L, 1L))
    val freshPath = Files.createTempDirectory("graft_mhfresh").toString + "/store"
    Dedup.MinhashStore.build(docs, "doc_id", "text", freshPath, 3, 16, 4)
    val grown = TableLog.snapshot(spark, path)
    val fresh = TableLog.snapshot(spark, freshPath)
    assert(grown.exceptAll(fresh).count() === 0, "extra rows after append")
    assert(fresh.exceptAll(grown).count() === 0, "missing rows after append")
  }

  test("tokenBudgetMixture keeps a budget-respecting md5-order prefix per source") {
    val docs = Tables.documents(spark, TestSpark.sf)
    val out = graft.operators.Sample.tokenBudgetMixture(docs, "source", "doc_id",
      graft.plans.TextStats.lexTokenCount(col("text")).getField("ws_tokens"))
    assert(out.count() === docs.count())
    // kept token mass never exceeds the source's budget
    val over = out.filter(col("kept")).groupBy(col("source"), col("budget"))
      .agg(sum(col("n_tokens")).as("kt"))
      .filter(col("kt") > col("budget")).count()
    assert(over === 0)
    // and some budget is actually consumed (guards a vacuous pass)
    assert(out.filter(col("kept")).count() > 0)
    // the kept set is a PREFIX of the md5 selection order: every kept
    // row sorts before every dropped row within its source (this is
    // what pins the shardedCumSum ordering wiring)
    val ord = conv(substring(
      md5(col("doc_id").cast("string").cast("binary")), 1, 15), 16, 10).cast("long")
    val ranked = out.withColumn("__o", struct(ord, col("doc_id")))
    val lastKept = ranked.filter(col("kept"))
      .groupBy("source").agg(max(col("__o")).as("mk"))
    val firstDrop = ranked.filter(!col("kept"))
      .groupBy("source").agg(min(col("__o")).as("fd"))
    val inversions = lastKept.join(firstDrop, "source")
      .filter(col("mk") >= col("fd")).count()
    assert(inversions === 0, "a kept doc sorts after a dropped doc")
  }

  test("bounded aggregates reject mistyped input structs at analysis time") {
    import org.apache.spark.sql.AnalysisException
    val docs = Tables.documents(spark, TestSpark.sf)
    val e1 = intercept[AnalysisException] {
      docs.agg(graft.plans.TopKPairs.topK(
        struct(col("text"), col("doc_id")), 3)).collect()
    }
    assert(e1.getMessage.contains("struct<double, bigint>"), e1.getMessage)
    val e2 = intercept[AnalysisException] {
      docs.agg(graft.plans.BottomKIds.bottomK(
        struct(col("doc_id"), col("doc_id")), 3)).collect()
    }
    assert(e2.getMessage.contains("struct<string, bigint>"), e2.getMessage)
  }

  test("RollingFingerprint rolls: matches brute recompute, cost flat in window size") {
    import graft.plans.RollingFingerprint
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.unsafe.types.UTF8String
    val Mod = 2147483647L
    def brute(s: String, win: Int): (Long, Long) = {
      if (s.length < win) return (0L, 0L)
      val seen = scala.collection.mutable.Set[Long]()
      var minFp = Long.MaxValue
      for (i <- 0 to s.length - win) {
        var h = 0L
        for (j <- 0 until win) h = java.lang.Math.floorMod(h * 31L + s.charAt(i + j).toLong, Mod)
        minFp = math.min(minFp, h); seen += h
      }
      (minFp, seen.size.toLong)
    }
    val rnd = new scala.util.Random(7)
    val samples = Seq.tabulate(30)(i =>
      rnd.alphanumeric.take(20 + rnd.nextInt(400)).mkString) ++
      Seq("", "short", "a" * 300) // degenerate: empty, sub-window, constant
    for (win <- Seq(8, 16, 64); s <- samples) {
      val expr = RollingFingerprint(Literal(UTF8String.fromString(s),
        org.apache.spark.sql.types.StringType), win)
      val row = expr.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
      assert((row.getLong(0), row.getLong(1)) === brute(s, win), s"win=$win s=${s.take(20)}")
    }
    // O(1) per position: win=256 must cost nowhere near 16× win=16.
    // (The old per-position recompute measured ~14× here.)
    val big = rnd.alphanumeric.take(200000).mkString
    val lit = Literal(UTF8String.fromString(big), org.apache.spark.sql.types.StringType)
    def time(win: Int): Long = {
      val expr = RollingFingerprint(lit, win)
      expr.eval(null) // warm
      val t0 = System.nanoTime()
      var r = 0
      while (r < 5) { expr.eval(null); r += 1 }
      System.nanoTime() - t0
    }
    time(16); time(256) // JIT warmup
    val ratio = time(256).toDouble / time(16).toDouble
    assert(ratio < 6.0, s"win=256 vs win=16 cost ratio $ratio — not rolling")
  }

  test("codec stages partition by cores, not bytes (the q98/q123/q130 10x fix)") {
    // packed small parquet inputs collapse into 1-2 byte-sized scan
    // partitions; the pre-codec round-robin repartition is what keeps
    // the per-row codec work parallel — pin it so a refactor cannot
    // silently drop it and quietly serialize the codec family again
    val img = graft.operators.Multimodal.pngFromDocuments(
      Tables.documents(spark, TestSpark.sf))
    val wav = graft.operators.Multimodal.wavFromDocuments(
      Tables.documents(spark, TestSpark.sf))
    Seq(img.queryExecution.executedPlan, wav.queryExecution.executedPlan)
      .foreach { plan =>
        assert(plan.toString.toLowerCase.contains("roundrobinpartitioning"),
          "codec pipeline lost its core-count repartition")
      }
  }

  test("manifest: identical snapshots all-equal; a one-row edit localizes to ONE bucket") {
    import graft.operators.Versioning
    val docs = Tables.documents(spark, TestSpark.sf)
    val cols = Seq("text", "lang", "source", "n_chars")
    val nB = 32
    val same = Versioning.compareManifests(
      Versioning.manifest(docs, "doc_id", cols, nB),
      Versioning.manifest(docs, "doc_id", cols, nB))
    assert(same.filter(col("status") =!= "equal").count() === 0)
    // flip one row's content: exactly one bucket differs, counts equal
    val someId = docs.select(min("doc_id")).head().getLong(0)
    val edited = docs.withColumn("text",
      when(col("doc_id") === someId, concat(col("text"), lit("!"))).otherwise(col("text")))
    val diff = Versioning.compareManifests(
        Versioning.manifest(docs, "doc_id", cols, nB),
        Versioning.manifest(edited, "doc_id", cols, nB))
      .filter(col("status") =!= "equal").collect()
    assert(diff.length === 1, s"expected 1 differing bucket, got ${diff.length}")
    val r = diff.head
    assert(r.getAs[String]("status") === "differs")
    assert(r.getAs[Long]("rows_a") === r.getAs[Long]("rows_b"),
      "a content edit must not move bucket row counts")
    // a DELETED row moves its bucket's count too
    val del = Versioning.compareManifests(
        Versioning.manifest(docs, "doc_id", cols, nB),
        Versioning.manifest(docs.filter(col("doc_id") =!= someId), "doc_id", cols, nB))
      .filter(col("status") =!= "equal").collect()
    assert(del.length === 1 &&
      del.head.getAs[Long]("rows_a") === del.head.getAs[Long]("rows_b") + 1)
  }

  test("shard export: sizes exact ±1, every shard an IID cross-section, deterministic rebuild") {
    import graft.operators.Layout
    val docs = Tables.documents(spark, TestSpark.sf)
    val root = Files.createTempDirectory("graft_shards_spec").toString
    try {
      Layout.writeShards(docs, "doc_id", s"$root/s", nShards = 8, parts = 4)
      val back = spark.read.parquet(s"$root/s/data")
      val sizes = back.groupBy(col("shard")).count()
        .collect().map(r => r.get(0).toString.toLong -> r.getLong(1)).toMap
      assert(sizes.keySet === (0L until 8L).toSet)
      assert(sizes.values.max - sizes.values.min <= 1,
        s"round-robin shards must differ by at most 1 row, got $sizes")
      assert(back.count() === docs.count())
      assert(back.select("doc_id").distinct().count() === docs.count())
      // every shard sees every major source — the IID cross-section a
      // binomial hash split only gives in expectation
      val srcs = docs.groupBy(col("source")).count()
        .filter(col("count") >= 32).collect().map(_.getString(0))
      // count distinct MAJOR sources only — an all-sources count
      // could mask a missing major behind present minors
      val cover = back.groupBy(col("shard"))
        .agg(countDistinct(
          when(col("source").isin(srcs.toSeq: _*), col("source"))).as("ns"))
        .collect()
      cover.foreach(r => assert(r.getLong(1) === srcs.length.toLong,
        s"shard ${r.get(0)} missing a major source"))
      // rebuild into a second dir: identical assignment (determinism)
      Layout.writeShards(docs, "doc_id", s"$root/t", nShards = 8, parts = 7)
      val again = spark.read.parquet(s"$root/t/data")
        .select(col("doc_id"), col("shard").cast("long").as("shard"), col("pos"))
      val first = back.select(col("doc_id"), col("shard").cast("long").as("shard"), col("pos"))
      assert(first.except(again).count() === 0 && again.except(first).count() === 0,
        "shard assignment must be independent of staging partition count")
    } finally {
      val p = java.nio.file.Paths.get(root)
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }
  }

  test("updateManifest ≡ fresh rebuild, including a bucket emptied by the delta") {
    import graft.operators.Versioning
    val docs = Tables.documents(spark, TestSpark.sf).select("doc_id", "text", "lang")
    val cols = Seq("text", "lang")
    val nB = 16
    // delta: remove every 5th row, rewrite every 7th, add 3 fresh rows
    val removed = docs.filter(col("doc_id") % 5 === 0)
    val chOld = docs.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 7 === 0)
    val chNew = chOld.withColumn("text", concat(col("text"), lit(" v2")))
    val adds = docs.filter(col("doc_id") % 11 === 0)
      .withColumn("doc_id", col("doc_id") + lit(5000000L))
    val v2 = docs.exceptAll(removed).exceptAll(chOld)
      .unionByName(chNew).unionByName(adds)
    val updated = Versioning.updateManifest(
      Versioning.manifest(docs, "doc_id", cols, nB),
      removed.unionByName(chOld), chNew.unionByName(adds), "doc_id", cols, nB)
    val fresh = Versioning.manifest(v2, "doc_id", cols, nB)
    assert(updated.except(fresh).count() === 0 && fresh.except(updated).count() === 0,
      "incrementally maintained manifest must equal the fresh rebuild")
    // empty the whole snapshot: every bucket vanishes, like the rebuild
    val allGone = Versioning.updateManifest(
      Versioning.manifest(docs, "doc_id", cols, nB),
      docs, docs.limit(0), "doc_id", cols, nB)
    assert(allGone.count() === 0)
  }

  test("TableLog: time travel survives replace+vacuum; racing commits serialize") {
    import graft.operators.TableLog
    val spark0 = spark
    val docs = Tables.documents(spark0, TestSpark.sf)
      .select("doc_id", "text", "lang")
    val root = Files.createTempDirectory("graft_tablelog_spec").toString + "/t"
    // version 0: two file groups, one atomic commit
    val gA = TableLog.stageWrite(docs.filter(col("doc_id") % 2 === 0), root, "a")
    val gB = TableLog.stageWrite(docs.filter(col("doc_id") % 2 === 1), root, "b")
    assert(TableLog.commit(spark0, root, gA ++ gB, Nil) === 0L)
    val v0Rows = TableLog.snapshot(spark0, root).count()
    assert(v0Rows === docs.count())
    // version 1: replace group A with a filtered rewrite
    val gA2 = TableLog.stageWrite(
      docs.filter(col("doc_id") % 2 === 0 && col("doc_id") % 6 =!= 0), root, "a2")
    assert(TableLog.commit(spark0, root, gA2, gA) === 1L)
    // both versions readable; v0 unchanged by the later commit
    assert(TableLog.snapshot(spark0, root, Some(0L)).count() === v0Rows)
    val v1 = TableLog.snapshot(spark0, root, Some(1L))
    val expect1 = docs.filter(col("doc_id") % 2 === 1 ||
      (col("doc_id") % 2 === 0 && col("doc_id") % 6 =!= 0))
    assert(v1.count() === expect1.count())
    assert(v1.exceptAll(expect1).count() === 0)
    // racing commits (separate table so phantom files never pollute
    // reads): every thread lands a DISTINCT consecutive version
    val root2 = root + "2"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val versionsWon =
      try (0 until 4).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long =
            TableLog.commit(spark0, root2, Seq(s"data/dummy$i.parquet"), Nil)
        })
      }.map(_.get()).toSet
      finally pool.shutdown()
    assert(versionsWon === Set(0L, 1L, 2L, 3L))
    // DRY RUN first: the same doomed list, nothing deleted, the
    // pre-horizon snapshot still fully servable — the audit a
    // retention decision runs before committing to it
    val wouldGo = TableLog.vacuum(spark0, root, retainFrom = 1L,
      dryRun = true)
    assert(wouldGo.forall(rel => java.nio.file.Files.exists(
      java.nio.file.Paths.get(root + "/" + rel))),
      "dry run must delete nothing")
    assert(TableLog.snapshot(spark0, root, Some(0L)).count() === v0Rows,
      "dry run must leave every version servable")
    // vacuum retaining only the latest: gA's replaced files go, the
    // latest snapshot is untouched
    val deleted = TableLog.vacuum(spark0, root, retainFrom = 1L)
    assert(deleted === wouldGo,
      "the dry run must predict the real reclaim exactly")
    assert(gA.forall(deleted.contains), "replaced v0 files must be vacuumed")
    assert(TableLog.activeFiles(spark0, root).forall(f =>
      !deleted.contains(f)), "active files must survive vacuum")
    assert(TableLog.snapshot(spark0, root, Some(1L)).count() === expect1.count())
    // ---- sidecar row deletes ----
    val doomedIds = docs.filter(col("doc_id") % 2 === 1 && col("doc_id") % 5 === 0)
      .select("doc_id")
    val vDel = TableLog.commitDeletes(doomedIds, root, "purge")
    // pre-delete versions are untouched; reading without idCol refuses
    assert(TableLog.snapshot(spark0, root, Some(1L)).count() === expect1.count())
    intercept[RuntimeException] {
      TableLog.snapshot(spark0, root, Some(vDel)).count()
    }
    val afterDel = TableLog.snapshot(spark0, root, Some(vDel), Some("doc_id"))
    assert(afterDel.count() === expect1.count() - doomedIds.count())
    assert(afterDel.join(doomedIds, "doc_id").count() === 0)
    // deletes persist across a LATER file commit and survive vacuum
    val extra = TableLog.stageWrite(docs.filter(col("doc_id") === -1), root, "empty")
    TableLog.commit(spark0, root, extra, Nil)
    val afterMore = TableLog.snapshot(spark0, root, None, Some("doc_id"))
    assert(afterMore.join(doomedIds, "doc_id").count() === 0)
    TableLog.vacuum(spark0, root, retainFrom = vDel)
    assert(TableLog.snapshot(spark0, root, None, Some("doc_id"))
      .join(doomedIds, "doc_id").count() === 0)
    // compaction materializes the survivors, RESETS deletes, and lets
    // vacuum reclaim the sidecars once retention passes the reset
    val sidecars = TableLog.activeDeletes(spark0, root)
    assert(sidecars.nonEmpty)
    val vc = TableLog.compactTable(spark0, root, "doc_id", "compacted")
    assert(TableLog.activeDeletes(spark0, root).isEmpty,
      "post-compaction reads must anti-join nothing")
    val nCompact = TableLog.snapshot(spark0, root, None, Some("doc_id")).count()
    assert(nCompact === afterMore.count())
    val vacd = TableLog.vacuum(spark0, root, retainFrom = vc)
    assert(sidecars.forall(vacd.contains),
      "pre-reset sidecars must be reclaimable after the compaction horizon")
    assert(TableLog.snapshot(spark0, root, None, Some("doc_id")).count() === nCompact)
    // a full-purge commit is a LEGAL state: reads serve an empty
    // frame with the last non-empty version's schema
    TableLog.commit(spark0, root, Nil, TableLog.activeFiles(spark0, root))
    val empty = TableLog.snapshot(spark0, root, None, Some("doc_id"))
    assert(empty.count() === 0)
    assert(empty.columns.toSet === Set("doc_id", "text", "lang"))
    // commit-time path validation refuses log-breaking names
    intercept[IllegalArgumentException] {
      TableLog.commit(spark0, root, Seq("data/bad,name.parquet"), Nil)
    }
  }

  test("TableLog: commit-time change feed is O(delta); staging and vacuum are safe") {
    import graft.operators.TableLog
    val spark0 = spark
    val docs = Tables.documents(spark0, TestSpark.sf)
      .select("doc_id", "text", "lang")
    val root = Files.createTempDirectory("graft_tablelog_cdf").toString + "/t"
    // v0: base files, no feed (pre-feed commits stay queryable)
    val g0 = TableLog.stageWrite(docs.filter(col("doc_id") % 3 === 0), root, "g0")
    val gRest = TableLog.stageWrite(docs.filter(col("doc_id") % 3 =!= 0), root, "rest")
    TableLog.commit(spark0, root, g0 ++ gRest, Nil)
    // v1: replace g0 (drop %12, uppercase %6) WITH a commit-time feed
    val before = docs.filter(col("doc_id") % 3 === 0)
    val after = before.filter(col("doc_id") % 12 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 6 === 0, upper(col("text"))).otherwise(col("text")))
    val g0v2 = TableLog.stageWrite(after, root, "g0v2")
    TableLog.commitWithFeed(spark0, root, g0v2, g0,
      before, after, "doc_id", "text", "r1")
    // v2: sidecar delete of exact present ids, with feed
    val doomed = TableLog.snapshot(spark0, root, None, Some("doc_id"))
      .filter(col("doc_id") % 7 === 0).select("doc_id")
    TableLog.commitDeletesWithFeed(doomed, root, "purge7")
    // the feed equals the snapshot-diff ground truth for every step
    val feed = TableLog.changes(spark0, root, fromV = 0L, toV = 2L,
      "doc_id", "text")
    val truth = Seq(1L, 2L).map { v =>
      graft.operators.Versioning.datasetDiff(
          TableLog.snapshot(spark0, root, Some(v - 1), Some("doc_id")),
          TableLog.snapshot(spark0, root, Some(v), Some("doc_id")),
          "doc_id", "text")
        .withColumn("version", lit(v))
        .select(col("version"), col("doc_id"), col("status"))
    }.reduce(_.unionByName(_))
    assert(feed.count() > 0)
    assert(feed.exceptAll(truth).count() === 0)
    assert(truth.exceptAll(feed).count() === 0)
    // O(delta) proof: with sidecars on every step, the feed's plan
    // reads ONLY cdf files — never a data file of any snapshot
    val inputs = feed.inputFiles
    assert(inputs.nonEmpty)
    assert(inputs.forall(_.contains("/cdf/")),
      s"changes() read beyond the sidecars: ${inputs.filterNot(_.contains("/cdf/")).take(3).mkString(",")}")
    // staging the SAME name twice lands in distinct dirs: committed
    // immutable files cannot be clobbered by a name reuse
    val again = TableLog.stageWrite(docs.limit(5), root, "g0v2")
    assert(again.toSet.intersect(g0v2.toSet).isEmpty)
    val fsys = org.apache.hadoop.fs.FileSystem.getLocal(
      spark0.sparkContext.hadoopConfiguration)
    g0v2.foreach(rel => assert(
      fsys.exists(new org.apache.hadoop.fs.Path(s"$root/$rel")),
      s"committed file $rel destroyed by a stage-name reuse"))
    // vacuum refuses a horizon with nothing retained (it would delete
    // the live snapshot's files)
    intercept[IllegalArgumentException] {
      TableLog.vacuum(spark0, root, retainFrom = 99L)
    }
    // vacuum keeps retained-range feeds, reclaims pre-horizon ones:
    // v3 compacts (resets deletes), then vacuum from v3
    val v3 = TableLog.compactTable(spark0, root, "doc_id", "compacted")
    val preFeedFiles = Seq(1L, 2L).flatMap(v =>
      TableLog.changes(spark0, root, v - 1, v, "doc_id", "text").inputFiles)
    val removedByVacuum = TableLog.vacuum(spark0, root, retainFrom = v3)
    assert(preFeedFiles.nonEmpty)
    preFeedFiles.foreach(fp => assert(
      removedByVacuum.exists(rel => fp.endsWith(rel)),
      s"pre-horizon cdf sidecar $fp must be reclaimed"))
    assert(TableLog.snapshot(spark0, root, Some(v3), Some("doc_id")).count() ===
      docs.filter(col("doc_id") % 12 =!= 0).filter(col("doc_id") % 7 =!= 0).count())
  }

  test("TableLog: an insert-only commit's feed is its own add files (cdf == add)") {
    import graft.operators.TableLog
    val spark0 = spark
    import spark0.implicits._
    val root = Files.createTempDirectory("graft_tablelog_addfeed").toString + "/t"
    def abs(rel: String) = new org.apache.hadoop.fs.Path(s"$root/$rel").toUri.getPath
    def read(feed: org.apache.spark.sql.DataFrame) =
      feed.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    // the table has its OWN `status` column: the add-feed rule is keyed
    // on ref equality, so these values must never leak into the feed
    def rows(ids: Range) = ids.map(i => (i.toLong, s"t$i", "removed"))
      .toDF("doc_id", "text", "status").coalesce(1)
    def append(ids: Range, name: String): (Long, Seq[String]) = {
      val files = TableLog.stageWrite(rows(ids), root, name)
      (TableLog.commit(spark0, root, files, Nil, cdf = files), files)
    }
    val (v0, a0) = append(0 until 40, "a0")
    // v1: a sidecar version — rewrite a0, dropping ids %4 and changing %5
    val before = rows(0 until 40)
    val after = before.filter(col("doc_id") % 4 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 5 === 0, upper(col("text"))).otherwise(col("text")))
    val v1 = TableLog.commitWithFeed(spark0, root,
      TableLog.stageWrite(after, root, "a0v2"), a0, before, after,
      "doc_id", "text", "r1")
    val (v2, a2) = append(40 until 60, "a2")
    val v3 = TableLog.commitDeletesWithFeed(Seq(41L, 42L).toDF("doc_id"),
      root, "purge")
    val (v4, a4) = append(60 until 70, "a4")
    def added(v: Long, ids: Range) = ids.map(i => (v, i.toLong, "added")).toSet
    val expected = added(v0, 0 until 40) ++
      (0 until 40).filter(_ % 4 == 0).map(i => (v1, i.toLong, "removed")) ++
      (0 until 40).filter(i => i % 4 != 0 && i % 5 == 0)
        .map(i => (v1, i.toLong, "changed")) ++
      added(v2, 40 until 60) ++ Set((v3, 41L, "removed"), (v3, 42L, "removed")) ++
      added(v4, 60 until 70)
    // a range mixing add-feed and sidecar versions serves every step
    // from its feed — requireFeed holds, no snapshot is diffed
    val all = TableLog.changes(spark0, root, -1L, v4, "doc_id", "text",
      requireFeed = true)
    assert(read(all) === expected)
    // an add-feed step reads exactly that version's add files
    val step2 = TableLog.changes(spark0, root, v1, v2, "doc_id", "text")
    assert(step2.inputFiles.map(new org.apache.hadoop.fs.Path(_).toUri.getPath).toSet ===
      a2.map(abs).toSet)
    // its weight for byte admission is the adds' logged lengths
    Seq(v2 -> a2, v4 -> a4).foreach { case (v, files) =>
      assert(TableLog.feedBytes(spark0, root, v) ===
        files.map(f => new java.io.File(abs(f)).length).sum)
    }
    // compaction removes every add; vacuum from v2 reclaims v0's files
    // and v1's sidecar, yet every retained add-feed version still serves
    val vc = TableLog.compactTable(spark0, root, "doc_id", "compacted")
    val reclaimed = TableLog.vacuum(spark0, root, retainFrom = v2)
    assert(a0.forall(reclaimed.contains), s"pre-horizon adds must go: $reclaimed")
    assert((a2 ++ a4).forall(f => new java.io.File(abs(f)).exists))
    assert(read(TableLog.changes(spark0, root, v1, vc, "doc_id", "text")) ===
      expected.filter(_._1 >= v2))
  }

  test("TableLog.mergeInto rewrites ONLY touched buckets; compaction retires the sidecar read path") {
    import graft.operators.TableLog
    val spark0 = spark
    val nB = 16
    val docs = Tables.documents(spark0, TestSpark.sf)
    val root = Files.createTempDirectory("graft_tablelog_merge").toString + "/t"
    TableLog.commit(spark0, root,
      TableLog.stageBucketed(docs, root, "base", "doc_id", nB), Nil)
    // a NARROW delta (few ids → few buckets) so bucket pruning has
    // something to prune even at the test's tiny scale factor; the
    // oracled q133 runs the full q125 recipe on the same operator
    val upserts = docs.filter(col("doc_id") % 37 === 0)
      .withColumn("text", upper(col("text")))
      .unionByName(docs.filter(col("doc_id") % 41 === 0)
        .withColumn("doc_id", col("doc_id") + lit(1000000L)))
    val deleteIds = docs.filter(col("doc_id") % 43 === 0).select("doc_id")
    val v1 = TableLog.mergeInto(spark0, root, "doc_id", upserts, deleteIds,
      nB, "merge1")
    assert(v1 === 1L)
    // semantics: the pruned rewrite equals the full un-pruned merge
    // (a global anti-join + union that never looks at buckets)
    val expected = docs
      .filter(col("doc_id") % 37 =!= 0 && col("doc_id") % 43 =!= 0)
      .unionByName(upserts)
    val got = TableLog.snapshot(spark0, root, Some(1L))
    assert(got.exceptAll(expected).count() === 0)
    assert(expected.exceptAll(got).count() === 0)
    // physical: every file of an UNTOUCHED bucket survives v1 with its
    // exact path (no rewrite), and every touched-bucket file is gone
    def bucketFromPath(rel: String): Int =
      "_gb=(\\d+)/".r.findFirstMatchIn(rel).get.group(1).toInt
    val touched = upserts.select(TableLog.idBucket("doc_id", nB).as("b"))
      .unionByName(deleteIds.select(TableLog.idBucket("doc_id", nB).as("b")))
      .distinct().collect().map(_.getLong(0).toInt).toSet
    val f0 = TableLog.activeFiles(spark0, root, Some(0L))
    val f1 = TableLog.activeFiles(spark0, root, Some(1L)).toSet
    val (f0Touched, f0Untouched) =
      f0.partition(p => touched(bucketFromPath(p)))
    assert(f0Untouched.nonEmpty && f0Touched.nonEmpty,
      s"delta must touch a strict subset of buckets (touched=$touched)")
    f0Untouched.foreach(p => assert(f1(p),
      s"untouched-bucket file $p was rewritten by the merge"))
    f0Touched.foreach(p => assert(!f1(p),
      s"touched-bucket file $p still active after the merge"))
    // guards: un-bucketed layouts and outstanding sidecars refuse
    val plainRoot = Files.createTempDirectory("graft_merge_plain").toString + "/t"
    TableLog.commit(spark0, plainRoot,
      TableLog.stageWrite(docs.limit(20), plainRoot, "plain"), Nil)
    intercept[IllegalArgumentException] {
      TableLog.mergeInto(spark0, plainRoot, "doc_id",
        docs.limit(1), docs.limit(0).select("doc_id"), nB, "m")
    }
    TableLog.commitDeletes(
      docs.limit(3).select("doc_id"), root, "sidecar")
    intercept[IllegalArgumentException] {
      TableLog.mergeInto(spark0, root, "doc_id",
        docs.limit(1), docs.limit(0).select("doc_id"), nB, "m2")
    }
    // compaction: materializes the sidecar view, resets deletes — the
    // post-compaction snapshot plan reads NO sidecar, and a vacuum
    // from it reclaims the old generation while reads stay exact
    val expectAfterDel = TableLog.snapshot(spark0, root, None, Some("doc_id"))
      .count()
    val vc = TableLog.compactTable(spark0, root, "doc_id", "compact1")
    val compacted = TableLog.snapshot(spark0, root, Some(vc), Some("doc_id"))
    assert(compacted.count() === expectAfterDel)
    assert(compacted.inputFiles.nonEmpty)
    assert(compacted.inputFiles.forall(!_.contains("/deletes/")),
      "post-compaction snapshot must not read delete sidecars")
    TableLog.vacuum(spark0, root, retainFrom = vc)
    assert(TableLog.snapshot(spark0, root, Some(vc), Some("doc_id")).count()
      === expectAfterDel)
  }

  test("TableLog zone maps prune range reads by file; coverage gaps read conservatively") {
    import graft.operators.TableLog
    val spark0 = spark
    val docs = Tables.documents(spark0, TestSpark.sf)
    val root = Files.createTempDirectory("graft_tablelog_zmap").toString + "/t"
    val (files, zmaps) = TableLog.stageWithZoneMap(
      docs, root, "base", "doc_id", parts = 16)
    assert(files.size > 1, "need multiple files for pruning to mean anything")
    assert(zmaps.nonEmpty)
    TableLog.commit(spark0, root, files, Nil, zmap = zmaps)
    // the range read equals the filtered snapshot AND opens strictly
    // fewer files than the table has
    val lo = 100L; val hi = 150L
    val ranged = TableLog.snapshotWhere(spark0, root, "doc_id", lo, hi)
    val expect = TableLog.snapshot(spark0, root)
      .filter(col("doc_id") >= lo && col("doc_id") <= hi)
    // materialize NOW: later commits + vacuum retire the files this
    // lazy frame points at
    val expectCount = expect.count()
    assert(ranged.exceptAll(expect).count() === 0)
    assert(expect.exceptAll(ranged).count() === 0)
    val opened = scannedPaths(ranged).filter(_.contains("/data/"))
    assert(opened.nonEmpty && opened.size < files.size,
      s"zone map opened ${opened.size} of ${files.size} files — no pruning")
    // a later commit WITHOUT stats: its rows must still be served
    // (conservative read of undescribed files), pruning keeps biting
    // on the described generation
    import spark0.implicits._
    val extraRows = Seq((10000L + lo, "x", "en", "web", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    TableLog.commit(spark0, root,
      TableLog.stageWrite(extraRows, root, "nostats"), Nil)
    val widened = TableLog.snapshotWhere(spark0, root, "doc_id", lo, 10000L + lo)
    assert(widened.filter(col("doc_id") === 10000L + lo).count() === 1L)
    val narrow = TableLog.snapshotWhere(spark0, root, "doc_id", lo, hi)
    assert(narrow.count() === expectCount)
    assert(scannedPaths(narrow).count(_.contains("/data/"))
      < files.size + 1)
    // delete sidecars compose: an in-range victim disappears
    TableLog.commitDeletes(docs.filter(col("doc_id") === lo)
      .select("doc_id"), root, "purge1")
    val afterDel = TableLog.snapshotWhere(spark0, root, "doc_id", lo, hi,
      idCol = Some("doc_id"))
    assert(afterDel.filter(col("doc_id") === lo).count() === 0L)
    assert(afterDel.count() === expectCount - 1)
    // vacuum reclaims a zone map only once ALL its data files are
    // replaced; the read then degrades to conservative, never errors
    val vc = TableLog.compactTable(spark0, root, "doc_id", "compacted")
    TableLog.vacuum(spark0, root, retainFrom = vc)
    val fsys = org.apache.hadoop.fs.FileSystem.getLocal(
      spark0.sparkContext.hadoopConfiguration)
    zmaps.foreach(rel => assert(
      !fsys.exists(new org.apache.hadoop.fs.Path(s"$root/$rel")),
      s"zone map $rel outlived every data file it describes"))
    val postVac = TableLog.snapshotWhere(spark0, root, "doc_id", lo, hi,
      idCol = Some("doc_id"))
    assert(postVac.count() === expectCount - 1)
  }

  test("TableLog.optimizeTable folds deletes AND restores file skipping in one commit") {
    import graft.operators.TableLog
    val spark0 = spark
    val docs = Tables.documents(spark0, TestSpark.sf)
    val root = Files.createTempDirectory("graft_tablelog_opt").toString + "/t"
    // unsorted base (no stats), then sidecar deletes pile up
    TableLog.commit(spark0, root, TableLog.stageWrite(docs, root, "base"), Nil)
    TableLog.commitDeletes(
      docs.filter(col("doc_id") % 9 === 0).select("doc_id"), root, "purge9")
    val expectCount = docs
      .filter(col("doc_id") >= 100 && col("doc_id") <= 150 &&
        col("doc_id") % 9 =!= 0).count()
    // pre-optimize: a range read cannot prune (no stats) and must
    // anti-join the sidecar
    val before = TableLog.snapshotWhere(spark0, root, "doc_id", 100L, 150L,
      idCol = Some("doc_id"))
    assert(before.count() === expectCount)
    val vOpt = TableLog.optimizeTable(spark0, root, "doc_id", "doc_id",
      "opt1", parts = 16)
    assert(TableLog.activeDeletes(spark0, root).isEmpty,
      "optimize must fold sidecar deletes (deletes-reset)")
    val total = TableLog.activeFiles(spark0, root).size
    assert(total > 1)
    // post-optimize: same rows, NO sidecar in the plan, pruned scan
    val after = TableLog.snapshotWhere(spark0, root, "doc_id", 100L, 150L)
    assert(after.count() === expectCount)
    assert(after.inputFiles.forall(!_.contains("/deletes/")))
    val opened = scannedPaths(after)
    assert(opened.nonEmpty && opened.count(_.contains("/data/")) < total,
      "optimized layout must let the range read skip files")
    // the pre-optimize generation vacuums away; reads stay exact
    TableLog.vacuum(spark0, root, retainFrom = vOpt)
    assert(TableLog.snapshotWhere(spark0, root, "doc_id", 100L, 150L)
      .count() === expectCount)
  }

  test("TableLog checkpoint folds the log; expiry keeps later reads exact and earlier ones loud") {
    import graft.operators.TableLog
    val spark0 = spark
    val docs = Tables.documents(spark0, TestSpark.sf)
      .select("doc_id", "text", "lang")
    val root = Files.createTempDirectory("graft_tablelog_ckpt").toString + "/t"
    // v0: two groups; v1: replace g0; v2: sidecar delete; v3: tagged append
    val g0 = TableLog.stageWrite(docs.filter(col("doc_id") % 2 === 0), root, "g0")
    val g1 = TableLog.stageWrite(docs.filter(col("doc_id") % 2 === 1), root, "g1")
    TableLog.commit(spark0, root, g0 ++ g1, Nil)
    val g0v2 = TableLog.stageWrite(
      docs.filter(col("doc_id") % 2 === 0 && col("doc_id") % 10 =!= 0), root, "g0v2")
    TableLog.commit(spark0, root, g0v2, g0, tag = Some("ing-b1"))
    TableLog.commitDeletes(
      docs.filter(col("doc_id") % 7 === 0).select("doc_id"), root, "purge7")
    val extra = docs.filter(col("doc_id") < 3)
      .withColumn("doc_id", col("doc_id") + lit(500000L))
    TableLog.commit(spark0, root, TableLog.stageWrite(extra, root, "late"),
      Nil, tag = Some("ing-b3"))
    val expectIds = TableLog.snapshot(spark0, root, None, Some("doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val preFiles = TableLog.activeFiles(spark0, root).toSet
    val preDeletes = TableLog.activeDeletes(spark0, root).toSet
    // runbook order: vacuum (reads the entries), checkpoint, expire
    TableLog.vacuum(spark0, root, retainFrom = 3L)
    val cp = TableLog.writeCheckpoint(spark0, root)
    assert(cp === 3L)
    assert(TableLog.writeCheckpoint(spark0, root) === 3L) // idempotent
    // checkpoint-served reads ≡ replay-served reads (entries intact)
    assert(TableLog.activeFiles(spark0, root).toSet === preFiles)
    assert(TableLog.activeDeletes(spark0, root).toSet === preDeletes)
    val expired = TableLog.expireLog(spark0, root, cp)
    assert(expired === Seq(0L, 1L, 2L))
    assert(TableLog.versions(spark0, root) === Seq(3L))
    // the read at the horizon is exact — served by the FOLD, the
    // replayed entries are gone (that is the proof it was used)
    assert(TableLog.snapshot(spark0, root, None, Some("doc_id"))
      .select("doc_id").collect().map(_.getLong(0)).toSet === expectIds)
    // the pre-horizon sidecar delete stays in force via the fold
    assert(TableLog.snapshot(spark0, root, None, Some("doc_id"))
      .filter(col("doc_id") % 7 === 0 && col("doc_id") < 500000L).count() === 0L)
    // time travel below the horizon errors loudly, never under-reads
    intercept[IllegalArgumentException] {
      TableLog.snapshot(spark0, root, Some(1L)).count()
    }
    // exactly-once outlives expiry: the EXPIRED commit's tag survives
    // in the checkpoint, alongside the live entry's
    assert(TableLog.committedTags(spark0, root) === Set("ing-b1", "ing-b3"))
    // the log keeps moving: a post-expiry commit lands at version 4
    val more = TableLog.stageWrite(extra.withColumn("doc_id",
      col("doc_id") + lit(1L)), root, "more")
    assert(TableLog.commit(spark0, root, more, Nil) === 4L)
    assert(TableLog.snapshot(spark0, root, None, Some("doc_id")).count()
      === expectIds.size + extra.count())
    // a file added PRE-horizon (its entry expired) then removed
    // post-expiry is referenced by no surviving entry — vacuum must
    // still find it through the checkpoint, or it leaks forever
    val g1Replaced = TableLog.activeFiles(spark0, root)
      .filter(_.contains("/g1-"))
    assert(g1Replaced.nonEmpty)
    TableLog.commit(spark0, root,
      TableLog.stageWrite(docs.filter(col("doc_id") % 2 === 1), root, "g1v2"),
      g1Replaced)
    val reclaimed = TableLog.vacuum(spark0, root, retainFrom = 5L)
    g1Replaced.foreach(p => assert(reclaimed.contains(p),
      s"pre-horizon file $p removed post-expiry leaked past vacuum"))
  }

  test("embeddingDrift: self-compare is uniformly stable; a shifted subspace is flagged") {
    import graft.operators.Profile
    val emb = Tables.embeddings(spark, TestSpark.sf)
    val self = Profile.embeddingDrift(emb, emb, "embedding").collect()
    assert(self.length === 64)
    assert(self.forall(_.getAs[String]("status") == "stable"))
    assert(self.forall(r => math.abs(r.getAs[Double]("psi")) < 1e-9),
      "identical snapshots must have PSI 0 (smoothing cancels exactly)")
    // shift HALF the dims hard; the monitor must flag those and only those
    val shifted = emb.withColumn("embedding",
      transform(col("embedding").cast("array<double>"),
        (x, i) => when(i < 32, x + lit(0.5)).otherwise(x)))
    val drift = Profile.embeddingDrift(emb, shifted, "embedding").collect()
    val flagged = drift.filter(_.getAs[String]("status") != "stable")
      .map(_.getAs[Long]("dim")).toSet
    assert(flagged === (0L until 32L).toSet,
      s"expected exactly dims 0-31 flagged, got $flagged")
  }

  test("TableLog schema evolution: log-declared schema null-fills old files; history keeps the old shape") {
    import graft.operators.TableLog
    val spark0 = spark
    val docs = Tables.documents(spark0, TestSpark.sf)
    val root = Files.createTempDirectory("graft_tablelog_evo").toString + "/t"
    // v0: two columns only
    TableLog.commit(spark0, root,
      TableLog.stageWrite(docs.filter(col("doc_id") % 3 =!= 0)
        .select("doc_id", "text"), root, "base"), Nil)
    // v1: append rows that CARRY two new columns
    val v1 = TableLog.evolveAppend(
      docs.filter(col("doc_id") % 3 === 0)
        .select("doc_id", "text", "n_chars", "lang"), root, "widen")
    val latest = TableLog.snapshot(spark0, root)
    assert(latest.columns.toSeq ===
      Seq("doc_id", "text", "n_chars", "lang"))
    assert(latest.count() === docs.count())
    // pre-evolution rows null-fill the new columns; new rows carry them
    assert(latest.filter(col("doc_id") % 3 =!= 0 &&
      col("n_chars").isNotNull).count() === 0)
    assert(latest.filter(col("doc_id") % 3 === 0 &&
      (col("n_chars").isNull || col("lang").isNull)).count() === 0)
    // time travel BELOW the evolution serves the old schema exactly
    assert(TableLog.snapshot(spark0, root, Some(0L)).columns.toSeq ===
      Seq("doc_id", "text"))
    // type change is refused loudly, not silently coerced
    val boom = intercept[IllegalArgumentException] {
      TableLog.evolveAppend(
        docs.limit(1).select(col("doc_id"), col("n_chars").as("text")),
        root, "bad")
    }
    assert(boom.getMessage.contains("type changes"))
    // the declared schema survives checkpoint + log expiry
    val cpV = TableLog.writeCheckpoint(spark0, root)
    TableLog.expireLog(spark0, root, cpV)
    val afterExpiry = TableLog.snapshot(spark0, root)
    assert(afterExpiry.columns.toSeq ===
      Seq("doc_id", "text", "n_chars", "lang"))
    assert(afterExpiry.count() === docs.count())
    // vacuum at the horizon keeps the in-force schema sidecar
    TableLog.vacuum(spark0, root, retainFrom = v1)
    assert(TableLog.snapshot(spark0, root).columns.length === 4)
    // a column added NOT NULL (a literal) still null-fills older files:
    // the declared schema reads as nullable
    TableLog.evolveAppend(docs.limit(1).select(col("doc_id"), col("text"),
      col("n_chars"), col("lang"), lit("v2").as("src")), root, "tagged")
    val tagged = TableLog.snapshot(spark0, root)
    assert(tagged.schema("src").nullable)
    assert(tagged.filter(col("src").isNull).count() === docs.count())
  }

  test("TableLog.replaceWhere rewrites only zone-touched files and refuses out-of-range rows") {
    import graft.operators.TableLog
    val spark0 = spark
    val docs = Tables.documents(spark0, TestSpark.sf)
    val root = Files.createTempDirectory("graft_tablelog_rw").toString + "/t"
    val (files, zm) = TableLog.stageWithZoneMap(docs, root, "base",
      "doc_id", parts = 16)
    TableLog.commit(spark0, root, files, Nil, zmap = zm)
    val before = TableLog.activeFiles(spark0, root)
    // replacement: in-range rows transformed, every 10th dropped
    val repl = docs.filter(col("doc_id") >= 200 && col("doc_id") <= 399 &&
        col("doc_id") % 10 =!= 0)
      .withColumn("text", upper(col("text")))
    TableLog.replaceWhere(spark0, root, "doc_id", 200L, 399L, repl,
      "backfill", parts = 4)
    val after = TableLog.activeFiles(spark0, root)
    // the rewrite is predicate-scoped: untouched files keep their
    // exact physical paths across the version
    val kept = before.toSet.intersect(after.toSet)
    assert(kept.nonEmpty, "some out-of-range files must survive untouched")
    assert(before.toSet -- after.toSet !== Set.empty,
      "in-range files must have been swapped out")
    // content: outside the range untouched, inside = replacement only
    val snap = TableLog.snapshot(spark0, root)
    val expected = docs
      .filter(!(col("doc_id") >= 200 && col("doc_id") <= 399))
      .unionByName(repl)
    assert(snap.count() === expected.count())
    assert(snap.except(expected).isEmpty && expected.except(snap).isEmpty)
    // the fresh generation is zone-mapped: a post-replace range read
    // still prunes files
    val probe = TableLog.snapshotWhere(spark0, root, "doc_id", 250L, 260L)
    assert(scannedPaths(probe).size < after.length,
      "post-replace range reads must still skip files by zone map")
    // rows outside the predicate are refused, not silently written
    val boom = intercept[IllegalArgumentException] {
      TableLog.replaceWhere(spark0, root, "doc_id", 200L, 299L,
        docs.filter(col("doc_id") === 450), "bad", parts = 2)
    }
    assert(boom.getMessage.contains("outside"))
    // outstanding delete sidecars are refused
    TableLog.commitDeletes(
      docs.filter(col("doc_id") === 7).select("doc_id"), root, "d7")
    val boom2 = intercept[IllegalArgumentException] {
      TableLog.replaceWhere(spark0, root, "doc_id", 200L, 299L,
        repl.filter(col("doc_id") <= 299), "bad2", parts = 2)
    }
    assert(boom2.getMessage.contains("sidecars"))
  }

  test("TableLog conflict detection: overlapping rewrites throw, disjoint ones commit, appends never conflict") {
    import graft.operators.TableLog
    val spark0 = spark
    val docs = Tables.documents(spark0, TestSpark.sf)
    val root = Files.createTempDirectory("graft_tablelog_ww").toString + "/t"
    TableLog.commit(spark0, root,
      TableLog.stageBucketed(docs, root, "base", "doc_id", 8), Nil)
    val files0 = TableLog.activeFiles(spark0, root)
    // writer A merges (replaces the buckets its ids hash into)
    val upA = docs.filter(col("doc_id") % 40 === 0)
      .withColumn("text", upper(col("text")))
    TableLog.mergeInto(spark0, root, "doc_id", upA,
      upA.select("doc_id").limit(0), nBuckets = 8, name = "mA")
    val replacedByA = files0.toSet -- TableLog.activeFiles(spark0, root).toSet
    assert(replacedByA.nonEmpty)
    // STALE writer B prepared at v0 whose read set overlaps A's:
    // the guarded commit must throw, not silently lose A's merge
    val staleAdd = TableLog.stageWrite(docs.limit(1), root, "staleB")
    intercept[java.util.ConcurrentModificationException] {
      TableLog.commit(spark0, root, add = staleAdd,
        remove = files0, expectActive = files0)
    }
    // STALE writer C whose read set is DISJOINT from A's rewrite:
    // commits cleanly at the next version (no false conflict)
    val untouched = files0.filter(f => !replacedByA.contains(f))
    assert(untouched.nonEmpty)
    val addC = TableLog.stageWrite(docs.limit(1)
      .withColumn("doc_id", col("doc_id") + 1000000L), root, "okC")
    val vC = TableLog.commit(spark0, root, add = addC, remove = Nil,
      expectActive = untouched)
    assert(vC === 2L)
    // delete-set pin: a rewrite that read through ZERO sidecars
    // conflicts once a concurrent delete lands (its rewrite would
    // resurrect the deleted rows)
    TableLog.commitDeletes(
      docs.filter(col("doc_id") === 3).select("doc_id"), root, "d3")
    intercept[java.util.ConcurrentModificationException] {
      TableLog.commit(spark0, root,
        add = TableLog.stageWrite(docs.limit(1), root, "staleD"),
        remove = Nil, expectActive = untouched,
        expectDeletes = Some(Nil))
    }
    // a compact that READ the sidecar commits fine — and a stale
    // compact prepared before it would conflict on the changed set
    val vCompact = TableLog.compactTable(spark0, root, "doc_id", "c1")
    assert(TableLog.activeDeletes(spark0, root).isEmpty)
    // blind appends never conflict regardless of interleaving
    val vApp = TableLog.commit(spark0, root,
      add = TableLog.stageWrite(docs.limit(1)
        .withColumn("doc_id", col("doc_id") + 2000000L), root, "app"),
      remove = Nil)
    assert(vApp === vCompact + 1)
    // a blind append INSIDE a rewrite's scope conflicts via the
    // added-files guard (the rewrite never saw those rows) — a stale
    // full rewrite prepared at vApp-1 must refuse after vApp's add
    intercept[java.util.ConcurrentModificationException] {
      TableLog.commit(spark0, root,
        add = TableLog.stageWrite(docs.limit(1), root, "staleE"),
        remove = Nil,
        expectNoConflictingAdds = Some((vApp - 1, (_: String) => true)))
    }
    // ...but an add the path-predicate disclaims (disjoint bucket /
    // key range) does not conflict
    val vOk = TableLog.commit(spark0, root,
      add = TableLog.stageWrite(docs.limit(1)
        .withColumn("doc_id", col("doc_id") + 3000000L), root, "okE"),
      remove = Nil,
      expectNoConflictingAdds = Some((vApp - 1, (_: String) => false)))
    assert(vOk === vApp + 1)
  }

  test("TableLog.changes errors on ranges with expired versions instead of under-reading") {
    import graft.operators.TableLog
    val spark0 = spark
    val docs = Tables.documents(spark0, TestSpark.sf)
    val root = Files.createTempDirectory("graft_tablelog_chex").toString + "/t"
    TableLog.commit(spark0, root, TableLog.stageWrite(docs, root, "base"), Nil)
    (0 to 2).foreach(k => TableLog.commitDeletesWithFeed(
      docs.filter(col("doc_id") % 50 === k).select("doc_id"), root, s"p$k"))
    val cpV = TableLog.writeCheckpoint(spark0, root) // v3
    TableLog.expireLog(spark0, root, cpV)            // v0-v2 entries gone
    // the surviving step still serves
    assert(TableLog.changes(spark0, root, 2L, 3L, "doc_id", "text")
      .count() > 0)
    // a range needing expired versions must ERROR (a consumer past
    // retention must re-seed, not silently skip v1/v2's changes)
    val boom = intercept[IllegalArgumentException] {
      TableLog.changes(spark0, root, 0L, 3L, "doc_id", "text")
    }
    assert(boom.getMessage.contains("expired"))
  }

  test("TableLog concurrent schema evolutions conflict instead of hiding columns") {
    import graft.operators.TableLog
    val spark0 = spark
    val docs = Tables.documents(spark0, TestSpark.sf)
    val root = Files.createTempDirectory("graft_tablelog_evo2").toString + "/t"
    TableLog.commit(spark0, root,
      TableLog.stageWrite(docs.select("doc_id", "text"), root, "base"), Nil)
    // writer A evolves; a STALE writer B that derived its widened
    // schema from the pre-A ref must conflict, not silently commit a
    // schema that lacks A's column
    TableLog.evolveAppend(docs.limit(1)
      .select("doc_id", "text", "n_chars"), root, "wA")
    val staleSchema = TableLog.stageSchema(spark0, root, "wB",
      org.apache.spark.sql.types.StructType(
        docs.select("doc_id", "text", "lang").schema))
    intercept[java.util.ConcurrentModificationException] {
      TableLog.commit(spark0, root,
        add = TableLog.stageWrite(docs.limit(1)
          .select("doc_id", "text", "lang"), root, "wB"),
        remove = Nil, schema = Seq(staleSchema),
        expectSchema = Some(None)) // B read BEFORE any evolution
    }
    // the retry path (re-read, re-derive) lands BOTH columns
    TableLog.evolveAppend(docs.limit(1)
      .select("doc_id", "text", "lang"), root, "wB2")
    assert(TableLog.snapshot(spark0, root).columns.toSet ===
      Set("doc_id", "text", "n_chars", "lang"))
  }

  test("TableLog.restoreTable rolls back files, sidecars, and schema as one new commit") {
    import graft.operators.TableLog
    val spark0 = spark
    val docs = Tables.documents(spark0, TestSpark.sf)
    val root = Files.createTempDirectory("graft_tablelog_restore").toString + "/t"
    val (files, zm) = TableLog.stageWithZoneMap(docs, root, "base",
      "doc_id", parts = 8)
    TableLog.commit(spark0, root, files, Nil, zmap = zm) // v0
    // a BAD backfill garbles a range (v1); restore undoes it (v2)
    TableLog.replaceWhere(spark0, root, "doc_id", 100L, 299L,
      docs.filter(col("doc_id") >= 100 && col("doc_id") <= 299)
        .withColumn("text", reverse(col("text"))), "badbf", parts = 4)
    val vRestore = TableLog.restoreTable(spark0, root, toV = 0L)
    val snap = TableLog.snapshot(spark0, root)
    assert(snap.count() === docs.count())
    assert(snap.except(docs).isEmpty && docs.except(snap).isEmpty,
      "restore must reinstate v0's exact content")
    // v0's zone maps still prune post-restore (its entry is intact)
    val probe = TableLog.snapshotWhere(spark0, root, "doc_id", 10L, 20L)
    assert(scannedPaths(probe).size <
      TableLog.activeFiles(spark0, root).size)
    // history intact: the bad version stays readable for audit
    assert(TableLog.snapshot(spark0, root, Some(1L))
      .filter(col("doc_id") === 150).select("text").head().getString(0)
      !== docs.filter(col("doc_id") === 150).select("text").head().getString(0))
    // restoring past an evolution rolls the schema back too
    TableLog.evolveAppend(docs.limit(1)
      .select(col("doc_id"), col("text"), col("n_chars").as("extra")),
      root, "evo")
    assert(TableLog.snapshot(spark0, root).columns.contains("extra"))
    TableLog.restoreTable(spark0, root, toV = vRestore)
    assert(!TableLog.snapshot(spark0, root).columns.contains("extra"),
      "restore must roll back the schema with the data")
    // a vacuumed target refuses loudly
    val latest = TableLog.versions(spark0, root).last
    TableLog.vacuum(spark0, root, retainFrom = latest)
    val boom = intercept[IllegalArgumentException] {
      TableLog.restoreTable(spark0, root, toV = 1L)
    }
    assert(boom.getMessage.contains("not restorable"))
    // ...and the surviving snapshot still reads exactly
    assert(TableLog.snapshot(spark0, root).count() === docs.count())
  }

  test("TableLog.cloneTable is zero-copy, carries pruning, diverges both ways, and un-clones") {
    import graft.operators.TableLog
    val spark0 = spark
    val docs = Tables.documents(spark0, TestSpark.sf)
    val tmp = Files.createTempDirectory("graft_tablelog_clone").toString
    val src = s"$tmp/src"; val dst = s"$tmp/clone"
    val (files, zm) = TableLog.stageWithZoneMap(docs, src, "base",
      "doc_id", parts = 8)
    TableLog.commit(spark0, src, files, Nil, zmap = zm) // src v0
    TableLog.commitDeletes(docs.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id")), src, "del7") // src v1
    TableLog.cloneTable(spark0, src, dst)
    // ZERO data I/O: the clone root holds no data files at all
    val fsDst = org.apache.hadoop.fs.FileSystem.getLocal(
      spark0.sparkContext.hadoopConfiguration)
    assert(!fsDst.exists(new org.apache.hadoop.fs.Path(s"$dst/data")),
      "clone must not copy data files")
    // content ≡ source at the clone point (borrowed sidecar applies)
    val expected = docs.filter(col("doc_id") % 7 =!= 0)
    val got = TableLog.snapshot(spark0, dst, None, Some("doc_id"))
    assert(got.except(expected).isEmpty && expected.except(got).isEmpty)
    // the carried zone maps prune range reads on the CLONE
    val probe = TableLog.snapshotWhere(spark0, dst, "doc_id", 10L, 20L,
      idCol = Some("doc_id"))
    assert(scannedPaths(probe).size < TableLog.activeFiles(spark0, dst).size,
      "clone range read must prune via the re-keyed zone maps")
    // divergence: source commits after the clone point are invisible
    // to the clone, and clone commits never touch the source log
    TableLog.commitDeletes(docs.filter(col("doc_id") % 3 === 0)
      .select(col("doc_id")), src, "del3")
    TableLog.commitDeletes(docs.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id")), dst, "del5")
    assert(TableLog.snapshot(spark0, dst, None, Some("doc_id"))
      .filter(col("doc_id") % 3 === 0 && col("doc_id") % 7 =!= 0 &&
        col("doc_id") % 5 =!= 0).count() > 0,
      "source's post-clone delete must not leak into the clone")
    assert(TableLog.snapshot(spark0, src, None, Some("doc_id"))
      .filter(col("doc_id") % 5 === 0 && col("doc_id") % 3 =!= 0 &&
        col("doc_id") % 7 =!= 0).count() > 0,
      "clone's delete must not leak into the source")
    // UN-CLONE: compacting the clone materializes owned files; its
    // vacuum reclaims only clone-owned paths, never borrowed ones
    TableLog.compactTable(spark0, dst, "doc_id", "unclone")
    assert(TableLog.activeFiles(spark0, dst).forall(!_.startsWith("/")),
      "compaction must leave only clone-owned (relative) refs")
    val reclaimed = TableLog.vacuum(spark0, dst,
      retainFrom = TableLog.versions(spark0, dst).last)
    assert(reclaimed.forall(!_.startsWith("/")),
      "clone vacuum must never delete borrowed source files")
    val srcSnap = TableLog.snapshot(spark0, src, None, Some("doc_id"))
    assert(srcSnap.count() ===
      docs.filter(col("doc_id") % 7 =!= 0 && col("doc_id") % 3 =!= 0).count(),
      "source must stay fully readable after clone vacuum")
    // a non-fresh destination refuses
    val boom = intercept[IllegalArgumentException] {
      TableLog.cloneTable(spark0, src, dst)
    }
    assert(boom.getMessage.contains("already has a log"))
  }

  test("TableLog check constraints: add-time scan, batch refusal, drop, checkpoint fold, clone carry") {
    import graft.operators.TableLog
    val spark0 = spark
    val docs = Tables.documents(spark0, TestSpark.sf)
    val tmp = Files.createTempDirectory("graft_tablelog_checks").toString
    val root = s"$tmp/t"
    TableLog.commit(spark0, root, TableLog.stageWrite(docs, root, "base"), Nil)
    // a constraint EXISTING data violates is refused at add time
    val badAdd = intercept[IllegalArgumentException] {
      TableLog.addCheckConstraint(spark0, root, "impossible", "n_chars < 0")
    }
    assert(badAdd.getMessage.contains("existing rows violate"))
    assert(TableLog.activeConstraints(spark0, root).isEmpty)
    TableLog.addCheckConstraint(spark0, root, "text_present",
      "text IS NOT NULL")
    TableLog.addCheckConstraint(spark0, root, "chars_sane",
      "n_chars >= 0")
    assert(TableLog.activeConstraints(spark0, root).keySet ===
      Set("text_present", "chars_sane"))
    // a violating batch refuses WHOLE with per-constraint counts; a
    // NULL evaluation counts as a violation (three-valued logic)
    val bad = docs.limit(10).withColumn("text", lit(null).cast("string"))
    val boom = intercept[IllegalArgumentException] {
      TableLog.checkedAppend(bad, root, "badBatch")
    }
    assert(boom.getMessage.contains("text_present") &&
      boom.getMessage.contains("10 rows"))
    val before = TableLog.snapshot(spark0, root).count()
    assert(before === docs.count(), "refused batch must not land")
    // a conforming batch lands
    TableLog.checkedAppend(
      docs.limit(5).withColumn("doc_id", col("doc_id") + 1000000L),
      root, "goodBatch")
    assert(TableLog.snapshot(spark0, root).count() === before + 5)
    // the fold survives checkpoint + log expiry
    val cp = TableLog.writeCheckpoint(spark0, root)
    TableLog.expireLog(spark0, root, cp)
    assert(TableLog.activeConstraints(spark0, root).keySet ===
      Set("text_present", "chars_sane"),
      "constraints must survive log truncation via the checkpoint fold")
    // drop retires a name for future writes only
    TableLog.dropCheckConstraint(spark0, root, "text_present")
    assert(TableLog.activeConstraints(spark0, root).keySet ===
      Set("chars_sane"))
    TableLog.checkedAppend(bad.withColumn("doc_id",
      col("doc_id") + 2000000L), root, "nowFine")
    // a clone inherits the in-force (post-drop) set
    TableLog.cloneTable(spark0, root, s"$tmp/clone")
    assert(TableLog.activeConstraints(spark0, s"$tmp/clone").keySet ===
      Set("chars_sane"))
    val cloneBoom = intercept[IllegalArgumentException] {
      TableLog.checkedAppend(docs.limit(3)
        .withColumn("n_chars", lit(-1)), s"$tmp/clone", "badClone")
    }
    assert(cloneBoom.getMessage.contains("chars_sane"))
  }

  test("TableLog constraints: NULL rows refuse declaration, stale validation conflicts, restore refuses a vacuumed schema ref") {
    import graft.operators.TableLog
    val spark0 = spark
    val docs = Tables.documents(spark0, TestSpark.sf)
    val tmp = Files.createTempDirectory("graft_tablelog_checks2").toString
    val root = s"$tmp/t"
    // one NULL-text row in the base: declaring text IS NOT NULL must
    // refuse under the SAME three-valued rule checkedAppend enforces
    // (NULL evaluation = not satisfied) — else committed data would
    // sit in a state its own checked writes are refused for
    TableLog.commit(spark0, root, TableLog.stageWrite(
      docs.limit(50).unionByName(docs.limit(1)
        .withColumn("doc_id", lit(9999999L))
        .withColumn("text", lit(null).cast("string"))), root, "base"), Nil)
    val nullRefuse = intercept[IllegalArgumentException] {
      TableLog.addCheckConstraint(spark0, root, "text_present",
        "text IS NOT NULL")
    }
    assert(nullRefuse.getMessage.contains("existing rows violate"))
    // a constraint change between a writer's validation and its claim
    // conflicts (the expectChecks guard): a commit pinned to the
    // pre-add constraint state must throw, not land unvalidated
    TableLog.addCheckConstraint(spark0, root, "chars_sane", "n_chars >= 0")
    val staged = TableLog.stageWrite(docs.limit(3), root, "stale")
    intercept[java.util.ConcurrentModificationException] {
      TableLog.commit(spark0, root, staged, Nil,
        expectChecks = Some(Nil)) // validated when NO constraints were in force
    }
    // checkpoint folding must not duplicate constraint refs across
    // cycles (the exponential-growth hazard): two checkpoints without
    // expiry keep exactly one occurrence of the ref
    val cp1 = TableLog.writeCheckpoint(spark0, root)
    TableLog.commit(spark0, root, TableLog.stageWrite(
      docs.limit(2).withColumn("doc_id", col("doc_id") + 5000000L),
      root, "extra"), Nil)
    TableLog.writeCheckpoint(spark0, root)
    val ckptBody = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/_log/${TableLog.versions(spark0, root).last}.ckpt")))
    assert("constraints/".r.findAllIn(ckptBody).size === 1,
      s"checkpoint must fold each constraint ref once (cp1=$cp1): $ckptBody")
    assert(TableLog.activeConstraints(spark0, root).keySet ===
      Set("chars_sane"))
    // RESTORE refuses when vacuum reclaimed the superseded schema ref
    // the target version would re-declare
    val root2 = s"$tmp/t2"
    TableLog.commit(spark0, root2,
      TableLog.stageWrite(docs.limit(20), root2, "base"), Nil) // v0
    TableLog.evolveAppend(docs.limit(1)
      .select(col("doc_id"), col("text"), col("n_chars").as("e1")),
      root2, "evo1") // v1, schema S1
    TableLog.evolveAppend(docs.limit(1)
      .select(col("doc_id"), col("text"), col("n_chars").as("e2")),
      root2, "evo2") // v2, schema S2
    TableLog.vacuum(spark0, root2,
      retainFrom = TableLog.versions(spark0, root2).last) // reclaims S1
    val schemaGone = intercept[IllegalArgumentException] {
      TableLog.restoreTable(spark0, root2, toV = 1L)
    }
    assert(schemaGone.getMessage.contains("not restorable"),
      "restore must refuse a target whose schema ref vacuum reclaimed")
    // the surviving head still reads exactly
    assert(TableLog.snapshot(spark0, root2).count() === 22)
  }

  test("TableLog.gcOrphans reclaims never-committed stage dirs and nothing else") {
    import graft.operators.TableLog
    val spark0 = spark
    val docs = Tables.documents(spark0, TestSpark.sf)
    val root = Files.createTempDirectory("graft_tablelog_gc").toString + "/t"
    // one committed write, one ORPHANED stage (crashed writer), one
    // orphaned delete-sidecar stage nested under data/deletes/
    TableLog.commit(spark0, root,
      TableLog.stageWrite(docs.limit(30), root, "base"), Nil)
    TableLog.stageWrite(docs.limit(10), root, "crashed")
    TableLog.stageWrite(docs.limit(3).select(col("doc_id")), root,
      "deletes/crashedDel")
    val before = TableLog.snapshot(spark0, root).count()
    // a generous age guard spares EVERYTHING (the in-flight-stage race)
    assert(TableLog.gcOrphans(spark0, root, olderThanMs = 3600000L).isEmpty)
    // DRY RUN: names the orphans, reclaims nothing (vacuum's audit mode)
    val wouldGc = TableLog.gcOrphans(spark0, root, olderThanMs = -1000L,
      dryRun = true)
    assert(wouldGc.size === 2 && wouldGc.forall(rel =>
      java.nio.file.Files.exists(java.nio.file.Paths.get(root + "/" + rel))),
      s"dry run must delete nothing, got $wouldGc")
    // age 0: exactly the two orphans reclaim; the committed files stay
    val doomed = TableLog.gcOrphans(spark0, root, olderThanMs = -1000L)
    assert(doomed === wouldGc, "the dry run must predict the reclaim exactly")
    assert(doomed.size === 2 && doomed.exists(_.contains("crashed-")) &&
      doomed.exists(_.contains("crashedDel-")), s"got $doomed")
    assert(TableLog.snapshot(spark0, root).count() === before,
      "gc must never touch committed data")
    // REMOVED-but-unvacuumed history survives gc (still referenced):
    // compact rewrites the table; the old generation is in remove
    // lists, not orphaned
    TableLog.compactTable(spark0, root, "doc_id", "compact")
    assert(TableLog.gcOrphans(spark0, root, olderThanMs = -1000L).isEmpty,
      "replaced-generation files are log history for vacuum, not orphans")
    assert(TableLog.snapshot(spark0, root, Some(0L)).count() === before,
      "time travel below the compaction must still serve after gc")
    // an orphaned NESTED schema sidecar WITHOUT a stage marker (a
    // pre-manifest writer, or a handcrafted file): the DEFAULT sweep
    // reads only the _stages manifest — it must NOT see this file,
    // which is also the proof it never walks the data tree. The
    // fullWalk migration sweep finds and reclaims it, and its
    // now-empty subdirectory prunes with it — a long-lived stream
    // must not accumulate empty dirs forever
    val schemaSub = java.nio.file.Paths.get(root, "schema", "evolving")
    java.nio.file.Files.createDirectories(schemaSub)
    java.nio.file.Files.write(schemaSub.resolve("b7-deadbeef.json"),
      "{}".getBytes("UTF-8"))
    assert(TableLog.gcOrphans(spark0, root, olderThanMs = -1000L).isEmpty,
      "the manifest sweep must list only _stages markers, never the tree")
    val doomed2 = TableLog.gcOrphans(spark0, root, olderThanMs = -1000L,
      fullWalk = true)
    assert(doomed2 === Seq("schema/evolving/b7-deadbeef.json"), s"got $doomed2")
    assert(!java.nio.file.Files.exists(schemaSub),
      "the emptied sidecar subdirectory must prune with its orphan")
  }

  test("TableLog.gcOrphans manifest: O(#markers) sweep, markers retire, crash-before-write covered") {
    import graft.operators.TableLog
    val spark0 = spark
    val docs = Tables.documents(spark0, TestSpark.sf)
    val root = Files.createTempDirectory("graft_tablelog_gcm").toString + "/t"
    val stagesDir = java.nio.file.Paths.get(root, "_log", "_stages")
    def markers() = { // exclude Hadoop LocalFS .crc shadow files
      val s = java.nio.file.Files.list(stagesDir)
      try s.filter(p => !p.getFileName.toString.startsWith(".")).count()
      finally s.close()
    }
    TableLog.commit(spark0, root,
      TableLog.stageWrite(docs.limit(30), root, "base"), Nil)
    TableLog.stageWrite(docs.limit(10), root, "crashed")
    // a crash BETWEEN marker and parquet write: marker points nowhere
    java.nio.file.Files.write(stagesDir.resolve("feedbeeffeedbeef"),
      "data/neverwritten-00000000".getBytes("UTF-8"))
    assert(markers() === 3)
    // DRY RUN in manifest mode: names the orphan, deletes nothing,
    // retires no marker
    val wouldGc = TableLog.gcOrphans(spark0, root, olderThanMs = -1000L,
      dryRun = true)
    assert(wouldGc.size === 1 && wouldGc.head.contains("crashed-"))
    assert(markers() === 3, "dry run must not retire markers")
    // real sweep: the orphan reclaims; the committed marker AND the
    // pointing-nowhere marker retire — the manifest is left EMPTY, so
    // the next sweep's cost is zero reads (O(#outstanding stages))
    val doomed = TableLog.gcOrphans(spark0, root, olderThanMs = -1000L)
    assert(doomed === wouldGc)
    assert(markers() === 0,
      "committed/vanished/reclaimed markers must all retire")
    assert(TableLog.gcOrphans(spark0, root, olderThanMs = -1000L).isEmpty)
    assert(TableLog.snapshot(spark0, root).count() === 30)
    // a young un-committed stage stays: marker kept, dir kept
    TableLog.stageWrite(docs.limit(5), root, "inflight")
    assert(TableLog.gcOrphans(spark0, root, olderThanMs = 3600000L).isEmpty)
    assert(markers() === 1, "an in-flight stage's marker must survive")
  }

  test("TableLog.gcOrphans manifest: corrupt/hostile markers never delete outside the staging tree; missing targets respect the age guard") {
    import graft.operators.TableLog
    val spark0 = spark
    val docs = Tables.documents(spark0, TestSpark.sf)
    val root = Files.createTempDirectory("graft_tablelog_gcx").toString + "/t"
    val stagesDir = java.nio.file.Paths.get(root, "_log", "_stages")
    TableLog.commit(spark0, root,
      TableLog.stageWrite(docs.limit(30), root, "base"), Nil)
    // the attack/crash class: a ZERO-BYTE marker (stageMarker died
    // between create and write — its target would resolve to the
    // TABLE ROOT), an absolute target, a '..' escape, and a
    // non-staging in-root target (the _log dir itself)
    java.nio.file.Files.write(stagesDir.resolve("evil0"), Array.empty[Byte])
    java.nio.file.Files.write(stagesDir.resolve("evil1"),
      "/etc".getBytes("UTF-8"))
    java.nio.file.Files.write(stagesDir.resolve("evil2"),
      "data/../../escape".getBytes("UTF-8"))
    java.nio.file.Files.write(stagesDir.resolve("evil3"),
      "_log".getBytes("UTF-8"))
    val doomed = TableLog.gcOrphans(spark0, root, olderThanMs = -1000L)
    assert(doomed.isEmpty, s"garbage markers produced deletions: $doomed")
    assert(TableLog.snapshot(spark0, root).count() === 30,
      "the table must survive garbage markers intact")
    assert(TableLog.versions(spark0, root).nonEmpty,
      "_log must survive a marker naming it")
    // the garbage markers themselves retire once past the age guard
    val left = java.nio.file.Files.list(stagesDir)
    val names = try {
      import scala.jdk.CollectionConverters._
      left.iterator().asScala.map(_.getFileName.toString)
        .filterNot(_.startsWith(".")).toSeq
    } finally left.close()
    assert(!names.exists(_.startsWith("evil")),
      s"aged garbage markers must retire: $names")
    // MISSING-target marker + a YOUNG age guard: the marker must
    // survive (stageMarker runs before the data write — retiring it
    // in that window would hide a later crash-orphan forever)
    java.nio.file.Files.write(stagesDir.resolve("aaaainflight00"),
      "data/notyetwritten-00000000".getBytes("UTF-8"))
    assert(TableLog.gcOrphans(spark0, root, olderThanMs = 3600000L).isEmpty)
    assert(java.nio.file.Files.exists(stagesDir.resolve("aaaainflight00")),
      "a young missing-target marker is an in-flight stage, not garbage")
    // absent targets retire on their OWN, longer horizon: a sweep
    // whose data-age guard has lapsed (olderThanMs = -1000) but whose
    // absent horizon has not must KEEP the marker — a writer stalled
    // past olderThanMs between marker and parquet write, then crashing
    // after the dir materializes, would otherwise leave an orphan no
    // future manifest sweep can see
    TableLog.gcOrphans(spark0, root, olderThanMs = -1000L,
      absentOlderThanMs = Some(3600000L))
    assert(java.nio.file.Files.exists(stagesDir.resolve("aaaainflight00")),
      "an absent-target marker inside the absent horizon must survive " +
        "even when the data-age guard has lapsed")
    // past the absent horizon it retires (default = 8 × olderThanMs)
    TableLog.gcOrphans(spark0, root, olderThanMs = -1000L)
    assert(!java.nio.file.Files.exists(stagesDir.resolve("aaaainflight00")))
    // the absent horizon CLAMPS to at least olderThanMs: a caller
    // passing a shorter one must not reintroduce the
    // retire-before-the-dir-appears race the parameter closes
    java.nio.file.Files.write(stagesDir.resolve("aaaainflight01"),
      "data/notyetwritten-11111111".getBytes("UTF-8"))
    TableLog.gcOrphans(spark0, root, olderThanMs = 3600000L,
      absentOlderThanMs = Some(-1000L))
    assert(java.nio.file.Files.exists(stagesDir.resolve("aaaainflight01")),
      "absentOlderThanMs below olderThanMs must clamp up, not race")
    // a ZERO-BYTE marker also rides the absent horizon, not the data
    // cutoff: it may be a stageMarker stalled between create and
    // content write — retiring it early would orphan the dir the
    // resumed writer stages afterwards
    java.nio.file.Files.write(stagesDir.resolve("aaaastalled000"),
      Array.empty[Byte])
    TableLog.gcOrphans(spark0, root, olderThanMs = -1000L,
      absentOlderThanMs = Some(3600000L))
    assert(java.nio.file.Files.exists(stagesDir.resolve("aaaastalled000")),
      "a young zero-byte marker may be a mid-write stageMarker — " +
        "it must survive until the absent horizon lapses")
    TableLog.gcOrphans(spark0, root, olderThanMs = -1000L)
    assert(!java.nio.file.Files.exists(stagesDir.resolve("aaaastalled000")) &&
      !java.nio.file.Files.exists(stagesDir.resolve("aaaainflight01")),
      "aged absent/garbage markers retire past the absent horizon")
    // manifest mode also prunes emptied sidecar subdirs: an orphaned
    // MARKED schema sidecar in a nested dir reclaims WITH its dir
    val f2 = new java.io.File(s"$root/schema/stream")
    f2.mkdirs()
    java.nio.file.Files.write(f2.toPath.resolve("b9-cafecafe.json"),
      "{}".getBytes("UTF-8"))
    java.nio.file.Files.write(stagesDir.resolve("aaaaorphschema"),
      "schema/stream/b9-cafecafe.json".getBytes("UTF-8"))
    val doomed2 = TableLog.gcOrphans(spark0, root, olderThanMs = -1000L)
    assert(doomed2 === Seq("schema/stream/b9-cafecafe.json"))
    assert(!f2.exists(),
      "the emptied sidecar subdirectory must prune in manifest mode too")
  }

  test("mergeIntoConditional refuses duplicate source ids; rewrites preserve secondary-column stats") {
    import graft.operators.TableLog
    val spark0 = spark
    import spark0.implicits._
    // --- duplicate source ids: the Delta multiple-source-rows error
    val root = Files.createTempDirectory("graft_tablelog_dup").toString + "/t"
    TableLog.commit(spark0, root, TableLog.stageBucketed(
      (0L until 50L).map(i => (i, s"t$i")).toDF("doc_id", "text"),
      root, "base", "doc_id", 8), Nil)
    val dupSrc = Seq((7L, "a", "A", 1), (7L, "b", null, -1))
      .toDF("doc_id", "text", "enriched", "quality")
    val e = intercept[IllegalArgumentException] {
      TableLog.mergeIntoConditional(spark0, root, Seq("doc_id"), dupSrc, 8, "m",
        matched = Seq(TableLog.MatchedUpdate(None, Map("text" -> "s.text"))),
        insertWhen = None)
    }
    assert(e.getMessage.contains("more than once"))
    // --- a deleteWhere boundary rewrite must re-declare the secondary
    // stats its rewritten files carried, or later reads on those
    // columns silently degrade to conservative scans
    val root2 = Files.createTempDirectory("graft_tablelog_rwst").toString + "/t"
    val df = (0L until 400L).map(i => (i, i * 7L, s"t$i"))
      .toDF("doc_id", "alt_key", "text")
    val (files, zm) = TableLog.stageWithZoneMap(df, root2, "base", "doc_id", 8,
      statsCols = Seq("alt_key"))
    TableLog.commit(spark0, root2, files, Nil, zmap = zm)
    // purge a window whose boundary files rewrite
    TableLog.deleteWhere(spark0, root2, "doc_id", 120L, 180L, "p", 2)
    val snap = TableLog.snapshot(spark0, root2)
    val q = snap.filter(col("alt_key") >= 0L && col("alt_key") <= 280L) // ids 0..40
    assert(q.count() === 41L)
    q.collect()
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case s: QueryStageExec => scans(s.plan)
      case f: FileSourceScanExec => Seq(f)
      case o => (o.children ++ o.subqueries).flatMap(scans)
    }
    def scanned(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      scans(df.queryExecution.executedPlan)
        .map(_.metrics("numFiles").value).sum
    }
    val n = scans(q.queryExecution.executedPlan)
      .map(_.metrics("numFiles").value).sum
    // exactly ONE file holds alt_key <= 280 (ids 0..49); the purge's
    // rewritten boundary files hold alt 700+ and prune ONLY if the
    // rewrite re-declared their alt_key stats
    assert(n === 1,
      s"secondary-column stats lost by the rewrite: scanned $n files")
    // OPTIMIZE is a FULL rewrite — it must inherit the outgoing
    // generation's stats coverage the same way
    TableLog.optimizeTable(spark0, root2, "doc_id", "doc_id", "opt", 8)
    val q2 = TableLog.snapshot(spark0, root2)
      .filter(col("alt_key") >= 0L && col("alt_key") <= 280L)
    assert(q2.count() === 41L)
    assert(scanned(q2) === 1,
      s"optimizeTable dropped secondary-column stats")
  }

  test("TableLogRelation pins its version: a concurrent commit cannot change served rows") {
    import graft.operators.TableLog
    val spark0 = spark
    import spark0.implicits._
    val root = Files.createTempDirectory("graft_tablelog_pin").toString + "/t"
    val (f1, z1) = TableLog.stageWithZoneMap(
      (0L until 100L).map(i => (i, s"t$i")).toDF("doc_id", "text"),
      root, "base", "doc_id", 4)
    TableLog.commit(spark0, root, f1, Nil, zmap = z1)
    val pinned = TableLog.snapshot(spark0, root)
    assert(pinned.count() === 100L)
    // a full rewrite lands AFTER the relation was built
    TableLog.compactTable(spark0, root, "doc_id", "rewrite")
    TableLog.commit(spark0, root, TableLog.stageWrite(
      (1000L until 1010L).map(i => (i, s"x$i")).toDF("doc_id", "text")
        .coalesce(1), root, "more"), Nil)
    // the pinned relation still serves its construction-time snapshot
    // exactly — neither dropped rows (the race the pin closes) nor
    // the new commit's rows
    assert(pinned.count() === 100L)
    assert(pinned.filter(col("doc_id") >= 1000L).count() === 0L)
    // a fresh relation sees the new head
    assert(TableLog.snapshot(spark0, root).count() === 110L)
  }

  test("TableLog.replaceWhere preserves NULL-key rows and refuses NULL-key replacements") {
    import graft.operators.TableLog
    val spark0 = spark
    val docs = Tables.documents(spark0, TestSpark.sf)
    val root = Files.createTempDirectory("graft_tablelog_rwnull").toString + "/t"
    // every 97th key is NULL — outside every range by definition
    val withNulls = docs.withColumn("doc_id",
      when(col("doc_id") % 97 === 3, lit(null: java.lang.Long))
        .otherwise(col("doc_id")))
    val nNull = withNulls.filter(col("doc_id").isNull).count()
    assert(nNull > 0)
    val (files, zm) = TableLog.stageWithZoneMap(withNulls, root, "base",
      "doc_id", parts = 8)
    TableLog.commit(spark0, root, files, Nil, zmap = zm)
    TableLog.replaceWhere(spark0, root, "doc_id", 100L, 199L,
      withNulls.filter(col("doc_id") >= 100 && col("doc_id") <= 199)
        .withColumn("text", upper(col("text"))), "bf", parts = 2)
    val snap = TableLog.snapshot(spark0, root)
    assert(snap.filter(col("doc_id").isNull).count() === nNull,
      "null-key rows must survive a range overwrite untouched")
    assert(snap.count() === withNulls.count())
    // null-key replacement rows cannot satisfy the predicate
    intercept[IllegalArgumentException] {
      TableLog.replaceWhere(spark0, root, "doc_id", 100L, 199L,
        withNulls.filter(col("doc_id").isNull).limit(1), "bad", parts = 1)
    }
  }

  test("TableLog.deleteWhere drops fully-covered files as pure metadata; boundary files rewrite survivors only") {
    import graft.operators.TableLog
    val spark0 = spark
    import spark0.implicits._
    val root = Files.createTempDirectory("graft_tablelog_delw").toString + "/t"
    def rows(ids: Seq[Long]) =
      ids.map(i => (i, s"t$i")).toDF("doc_id", "text")
    // three range-clustered commits with KNOWN intervals, plus one
    // all-NULL-key commit (its zone row has no interval — stats-less)
    val (fA, zA) = TableLog.stageWithZoneMap(rows(0L until 200L),
      root, "a", "doc_id", 2)
    TableLog.commit(spark0, root, fA, Nil, zmap = zA)
    val (fB, zB) = TableLog.stageWithZoneMap(rows(200L until 400L),
      root, "b", "doc_id", 2)
    TableLog.commit(spark0, root, fB, Nil, zmap = zB)
    val (fC, zC) = TableLog.stageWithZoneMap(rows(400L until 600L),
      root, "c", "doc_id", 2)
    TableLog.commit(spark0, root, fC, Nil, zmap = zC)
    // while every active file is zone-described: a window no interval
    // intersects is a NO-OP, not a commit (once the stats-less D
    // commit lands below, ANY window conservatively touches it)
    val vAbc = TableLog.versions(spark0, root).last
    assert(TableLog.deleteWhere(spark0, root, "doc_id",
      5000L, 6000L, "noop", 2) === vAbc)
    assert(TableLog.versions(spark0, root).last === vAbc)
    val nulls = Seq[(java.lang.Long, String)]((null, "n1"), (null, "n2"))
      .toDF("doc_id", "text")
    val (fD, zD) = TableLog.stageWithZoneMap(nulls, root, "d", "doc_id", 1)
    TableLog.commit(spark0, root, fD, Nil, zmap = zD)
    // CORRUPT the covered commit's bytes: the purge window [150, 420]
    // contains B's interval [200, 399] entirely, so deleteWhere must
    // drop B's files WITHOUT EVER OPENING THEM — if the metadata-drop
    // classification regressed to a rewrite, the garbage bytes crash
    // the parquet read and this test fails loudly
    fB.foreach { rel =>
      java.nio.file.Files.write(
        java.nio.file.Paths.get(root + "/" + rel),
        "not parquet".getBytes("UTF-8"))
    }
    val before = TableLog.versions(spark0, root).last
    val v = TableLog.deleteWhere(spark0, root, "doc_id",
      150L, 420L, "purge", 2)
    assert(v === before + 1)
    val snap = TableLog.snapshot(spark0, root).collect()
      .map(r => (if (r.isNullAt(0)) null
                 else java.lang.Long.valueOf(r.getLong(0)), r.getString(1)))
    val kept = snap.filter(_._1 != null).map(_._1.longValue()).sorted
    assert(kept.toSeq === ((0L until 150L) ++ (421L until 600L)),
      "exactly the window must vanish; everything outside survives")
    assert(snap.count(_._1 == null) === 2,
      "NULL keys are outside every range — they must survive the purge")
    // B dropped by METADATA: de-referenced but physically untouched
    // (history for vacuum), A/C boundary files replaced as usual
    val active = TableLog.activeFiles(spark0, root).toSet
    assert(fB.forall(p => !active(p)))
    assert(fB.forall(p => java.nio.file.Files.exists(
      java.nio.file.Paths.get(root + "/" + p))),
      "a metadata drop must leave the bytes for time travel/vacuum")
    // post-purge range reads still prune through the fresh zone maps
    assert(TableLog.snapshotWhere(spark0, root, "doc_id", 0L, 10L)
      .count() === 11L)
    // in-force delete sidecars refuse the rewrite (resurrection risk)
    TableLog.commitDeletes(Seq(0L).toDF("doc_id"), root, "sc")
    intercept[IllegalArgumentException] {
      TableLog.deleteWhere(spark0, root, "doc_id", 0L, 10L, "x", 2)
    }
    // an inverted (empty) window deletes nothing and stays
    // side-effect-free even with sidecars in force
    val vNow = TableLog.versions(spark0, root).last
    assert(TableLog.deleteWhere(spark0, root, "doc_id",
      10L, 0L, "inv", 2) === vNow)
    assert(TableLog.versions(spark0, root).last === vNow)
    // --- feedIdCol: the purge publishes its removed ids as a
    // change-feed sidecar, so a downstream changes()/TableChangesSource
    // consumer survives the purge O(delta) instead of failing feed-less
    val root2 = Files.createTempDirectory("graft_tablelog_delwf")
      .toString + "/t"
    val (g1, z1) = TableLog.stageWithZoneMap(rows(0L until 100L),
      root2, "a", "doc_id", 2)
    TableLog.commit(spark0, root2, g1, Nil, zmap = z1)
    val (g2, z2) = TableLog.stageWithZoneMap(rows(100L until 200L),
      root2, "b", "doc_id", 2)
    TableLog.commit(spark0, root2, g2, Nil, zmap = z2)
    val v2 = TableLog.deleteWhere(spark0, root2, "doc_id",
      100L, 199L, "purge", 2, feedIdCol = Some("doc_id"))
    val feed = TableLog.changes(spark0, root2, fromV = v2 - 1, toV = v2,
      "doc_id", "text", requireFeed = true)
    val fr = feed.collect().map(r =>
      (r.getLong(r.fieldIndex("doc_id")), r.getString(r.fieldIndex("status"))))
    assert(fr.map(_._1).sorted.toSeq === (100L until 200L),
      "the feed must name exactly the purged ids")
    assert(fr.forall(_._2 == "removed"))
    assert(feed.inputFiles.nonEmpty &&
      feed.inputFiles.forall(_.contains("/cdf/")),
      "the purge feed must serve from its sidecar, never a snapshot diff")
    assert(TableLog.snapshot(spark0, root2).count() === 100L)
  }

  test("TableLogRelation: plain filters prune files inside Catalyst via the zone maps") {
    import graft.operators.TableLog
    val spark0 = spark
    import spark0.implicits._
    val root = Files.createTempDirectory("graft_tablelog_rel").toString + "/t"
    val base = java.time.LocalDate.of(2021, 1, 1)
    val df = (0L until 400L).map { i =>
      (i, s"s${i / 100}:k${"%04d".format(i)}",
        java.sql.Date.valueOf(base.plusDays(i % 200)), s"t$i")
    }.toDF("doc_id", "skey", "day", "text")
    // clustered on doc_id; stats additionally on skey and day — any
    // of the three prunes a plain filter
    val (files, zm) = TableLog.stageWithZoneMap(df, root, "base", "doc_id", 8,
      statsCols = Seq("skey", "day"))
    TableLog.commit(spark0, root, files, Nil, zmap = zm)
    // scan-side file count (scannedFiles): the FileIndex's listFiles
    // result is what FileSourceScanExec reads
    val snap = TableLog.snapshot(spark0, root)
    // 1) plain long range — the q136 shape
    val longQ = snap.filter(col("doc_id") >= 100L && col("doc_id") <= 149L)
    assert(longQ.count() === 50L)
    assert(scannedFiles(longQ) < files.length,
      s"long filter read all ${files.length} files")
    // 2) string prefix via startswith — the begins_with shape
    val preQ = snap.filter(col("skey").startsWith("s1:"))
    assert(preQ.count() === 100L)
    assert(scannedFiles(preQ) < files.length, "prefix did not prune")
    // 3) date range — day correlates with doc_id only in [0,200);
    //    a narrow early window prunes the upper doc_id files
    val dayQ = snap.filter(col("day") >= lit(java.sql.Date.valueOf(
      base.plusDays(0))) && col("day") <= lit(java.sql.Date.valueOf(
      base.plusDays(20))))
    assert(dayQ.count() === 2 * 21L)
    assert(scannedFiles(dayQ) < files.length, "date range did not prune")
    // 4) unknown predicates prune nothing but stay correct
    assert(snap.filter(col("text") === "t7").count() === 1L)
    // 5) a stats-less commit reads conservatively through the SAME
    //    relation (refresh = new snapshot)
    TableLog.commit(spark0, root, TableLog.stageWrite(
      (1000L until 1010L).map(i => (i, s"x$i",
        java.sql.Date.valueOf(base), s"t$i")).toDF("doc_id", "skey", "day", "text")
        .coalesce(1), root, "b"), Nil)
    val snap2 = TableLog.snapshot(spark0, root)
    val longQ2 = snap2.filter(col("doc_id") >= 100L && col("doc_id") <= 149L)
    assert(longQ2.count() === 50L)
    // pruned zone files + the one conservative stats-less file
    assert(scannedFiles(longQ2) < files.length + 1)
    // 6) delete sidecars compose on top, pruning intact underneath
    TableLog.commitDeletes(
      Seq(110L, 120L).toDF("doc_id"), root, "purge2")
    val snap3 = TableLog.snapshot(spark0, root, idCol = Some("doc_id"))
    val delQ = snap3.filter(col("doc_id") >= 100L && col("doc_id") <= 149L)
    assert(delQ.count() === 48L)
    assert(scannedFiles(delQ) < files.length + 1,
      "pruning must survive under the sidecar anti-join")
  }

  test("mergeIntoConditional: first clause wins, fail-open keeps, untouched buckets keep path identity") {
    import graft.operators.TableLog
    val spark0 = spark
    import spark0.implicits._
    val root = Files.createTempDirectory("graft_tablelog_mc").toString + "/t"
    val nB = 16
    val base = (0L until 400L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    TableLog.commit(spark0, root,
      TableLog.stageBucketed(base, root, "base", "doc_id", nB), Nil)
    val before = TableLog.activeFiles(spark0, root)
    // source touches ids 0..39 (updates/deletes) and inserts 1000..1004;
    // enriched NULL on %4==1 (fail-open keep), quality<0 on %4==2 (delete)
    val src = ((0L until 40L) ++ (1000L until 1005L)).map { i =>
      (i, s"old$i",
        if (i % 4 == 1) null else s"ENR$i",
        if (i % 4 == 2) -1 else 1)
    }.toDF("doc_id", "text", "enriched", "quality")
    val v = TableLog.mergeIntoConditional(spark0, root, Seq("doc_id"), src, nB, "m",
      matched = Seq(
        TableLog.MatchedDelete(Some("s.quality < 0")),
        TableLog.MatchedUpdate(Some("s.enriched IS NOT NULL"),
          Map("text" -> "s.enriched"))),
      insertWhen = Some("s.enriched IS NOT NULL"),
      insertSet = Map("text" -> "s.enriched"))
    assert(v === 1L)
    val got = TableLog.snapshot(spark0, root).collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    // deletes: matched ids with quality<0 vanish — and the DELETE
    // clause outranks the update even when enriched is non-null too
    (0L until 40L).filter(_ % 4 == 2).foreach(i =>
      assert(!got.contains(i), s"id $i should be deleted"))
    // fail-open: NULL enrichment keeps the TARGET text (not s.text)
    (0L until 40L).filter(_ % 4 == 1).foreach(i =>
      assert(got(i) === s"t$i", s"id $i must keep the old row"))
    // conditional update applied where enriched non-null and not deleted
    (0L until 40L).filter(i => i % 4 != 1 && i % 4 != 2).foreach(i =>
      assert(got(i) === s"ENR$i", s"id $i should be enriched"))
    // untouched targets keep; inserts gated on the insert condition
    assert(got(200L) === "t200")
    assert(got(1000L) === "ENR1000" && got(1004L) === "ENR1004")
    assert(!got.contains(1001L), "insert with NULL enrichment must drop")
    assert(got.size === 400 - 10 + 4) // 40/4 deletes, 5-1 inserts
    // untouched buckets keep their EXACT files across the version
    val touchedBuckets = src.select(
      TableLog.idBucket("doc_id", nB).as("b")).distinct()
      .collect().map(_.getLong(0).toInt).toSet
    val after = TableLog.activeFiles(spark0, root).toSet
    val untouchedBefore = before.filter(p =>
      "_gb=(\\d+)/".r.findFirstMatchIn(p).exists(m => !touchedBuckets(m.group(1).toInt)))
    assert(untouchedBefore.nonEmpty)
    untouchedBefore.foreach(p => assert(after(p),
      s"untouched bucket file $p was rewritten"))
  }

  test("mergeIntoConditional on a composite key: rows sharing the bucket key stay distinct, " +
       "a repeated full key is refused, untouched buckets keep their files") {
    import graft.operators.TableLog
    val spark0 = spark
    import spark0.implicits._
    val root = Files.createTempDirectory("graft_tablelog_ck").toString + "/t"
    val nB = 8
    val keys = Seq("user", "kind")
    // 40 users x 2 kinds: each user's two rows share the bucket key
    val base = (0L until 40L).flatMap(u => Seq((u, "a", 0L), (u, "b", 0L)))
      .toDF("user", "kind", "v")
    TableLog.commit(spark0, root,
      TableLog.stageBucketed(base, root, "base", "user", nB), Nil)
    val before = TableLog.activeFiles(spark0, root)
    def merge(src: org.apache.spark.sql.DataFrame) =
      TableLog.mergeIntoConditional(spark0, root, keys, src, nB, "m",
        matched = Seq(TableLog.MatchedUpdate(None, Map("v" -> "s.v"))),
        insertWhen = None)
    // update (3, a) only, insert (3, c): (3, b) must keep its row; a
    // null second part is one key like any other, as in the group-by
    merge(Seq((3L, "a", 7L), (3L, "c", 9L), (3L, null, 1L)).toDF("user", "kind", "v"))
    merge(Seq((3L, null: String, 2L)).toDF("user", "kind", "v"))
    val got = TableLog.snapshot(spark0, root).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(TableLog.snapshot(spark0, root).count() === 82)
    assert(got((3L, "a")) === 7L && got((3L, "b")) === 0L && got((3L, "c")) === 9L)
    assert(got((3L, null)) === 2L && got((4L, "a")) === 0L)
    // every row of user 3 lives in the one bucket its head key hashes to
    val b3 = TableLog.bucketOfKey("3", nB)
    val after = TableLog.activeFiles(spark0, root)
    val rewritten = after.toSet -- before
    assert(rewritten.nonEmpty && rewritten.forall(_.contains(s"_gb=$b3/")),
      s"only user 3's bucket may be rewritten: $rewritten")
    before.filterNot(_.contains(s"_gb=$b3/")).foreach(p =>
      assert(after.contains(p), s"untouched bucket file $p was rewritten"))
    // the same user under two kinds is one key each; a repeated FULL
    // key is two source rows for one target row
    val e = intercept[IllegalArgumentException] {
      merge(Seq((5L, "a", 1L), (5L, "a", 2L)).toDF("user", "kind", "v"))
    }
    assert(e.getMessage.contains("(5,a)") && e.getMessage.contains("more than once"),
      e.getMessage)
    // a NULL bucket key has no bucket to land in
    val e2 = intercept[IllegalArgumentException] {
      merge(Seq((null: java.lang.Long, "a", 1L)).toDF("user", "kind", "v"))
    }
    assert(e2.getMessage.contains("NULL 'user'"), e2.getMessage)
  }

  test("TableLog: time travel into an expired inter-checkpoint gap errors; the checkpoint's own version still serves") {
    import graft.operators.TableLog
    val spark0 = spark
    import spark0.implicits._
    val root = Files.createTempDirectory("graft_tablelog_gap").toString + "/t"
    def rows(ids: Seq[Long]) = ids.map(i => (i, s"t$i")).toDF("doc_id", "text")
    TableLog.commit(spark0, root,
      TableLog.stageWrite(rows(0L until 10L), root, "a"), Nil) // v0
    assert(TableLog.writeCheckpoint(spark0, root) === 0L) // ckpt@0
    TableLog.commit(spark0, root,
      TableLog.stageWrite(rows(10L until 20L), root, "b"), Nil) // v1
    TableLog.commit(spark0, root,
      TableLog.stageWrite(rows(20L until 30L), root, "c"), Nil) // v2
    assert(TableLog.writeCheckpoint(spark0, root) === 2L) // ckpt@2
    // the second expiry deletes ckpt@0's OWN entry too (it is < 2)
    TableLog.expireLog(spark0, root, 2L)
    assert(TableLog.versions(spark0, root) === Seq(2L))
    // v1 falls in the expired gap BETWEEN the two checkpoints: before
    // the fix, replayPlan fell back to ckpt@0's fold and silently
    // served v0's 10 rows as "v1" — it must error instead
    val e = intercept[IllegalArgumentException] {
      TableLog.snapshot(spark0, root, Some(1L)).count()
    }
    assert(e.getMessage.contains("EXPIRED gap"))
    // the checkpoint's own version is exactly its fold: still servable
    assert(TableLog.snapshot(spark0, root, Some(0L)).count() === 10L)
    assert(TableLog.snapshot(spark0, root, Some(2L)).count() === 30L)
    assert(TableLog.snapshot(spark0, root).count() === 30L)
  }

  test("TableLog.vacuum keeps checkpoint-folded zone maps whose data files are still active") {
    import graft.operators.TableLog
    val spark0 = spark
    import spark0.implicits._
    val root = Files.createTempDirectory("graft_tablelog_cpzm").toString + "/t"
    def rows(ids: Seq[Long]) = ids.map(i => (i, s"t$i")).toDF("doc_id", "text")
    val (fA, zA) = TableLog.stageWithZoneMap(rows(0L until 400L),
      root, "a", "doc_id", 4)
    TableLog.commit(spark0, root, fA, Nil, zmap = zA) // v0
    TableLog.commit(spark0, root,
      TableLog.stageWrite(rows(400L until 410L).coalesce(1), root, "b"),
      Nil) // v1: ONE stats-less file (conservatively read by any range)
    TableLog.writeCheckpoint(spark0, root) // folds zA
    TableLog.expireLog(spark0, root, 1L) // v0's entry (zA's committer) gone
    // v0's data files are ACTIVE at every retained version; before the
    // fix the checkpoint-folded zA refs had no keep-side counterpart
    // and vacuum reclaimed them, silently degrading every later range
    // read to a conservative full scan
    val doomed = TableLog.vacuum(spark0, root, retainFrom = 1L)
    assert(doomed.forall(p => !zA.contains(p)),
      s"vacuum reclaimed live zone maps: ${doomed.filter(zA.contains)}")
    zA.foreach(p => assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(root + "/" + p)), s"zmap $p deleted"))
    // and they still prune: a narrow range read opens ~1 of A's 4
    // clustered files (plus the stats-less B commit, conservatively)
    val pruned = TableLog.snapshotWhere(spark0, root, "doc_id", 0L, 50L)
    assert(scannedPaths(pruned).size < fA.length + 1,
      s"range read stopped pruning: ${scannedPaths(pruned).size} files")
    assert(pruned.count() === 51L)
  }

  test("TableLog.commit refuses refs with '..' segments (root-escape)") {
    import graft.operators.TableLog
    val spark0 = spark
    val root = Files.createTempDirectory("graft_tablelog_dots").toString + "/t"
    for (bad <- Seq("data/../../evil.parquet", "../evil.parquet",
        "data/./x.parquet")) {
      val e = intercept[IllegalArgumentException] {
        TableLog.commit(spark0, root, Seq(bad), Nil)
      }
      assert(e.getMessage.contains("segment"), s"$bad accepted")
    }
  }

  test("typed zone maps: string-prefix scan prunes files; typed stats never borrow legacy column-less rows") {
    import graft.operators.TableLog
    val spark0 = spark
    import spark0.implicits._
    val root = Files.createTempDirectory("graft_tablelog_tzm").toString + "/t"
    // composite string keys, the reference's own shape: source:<s>:id
    val df = (0L until 400L).map { i =>
      val src = s"s${i / 100}" // s0..s3, contiguous under clustering
      (s"$src:id${"%04d".format(i)}", i, s"t$i")
    }.toDF("skey", "doc_id", "text")
    val (files, zm) = TableLog.stageWithZoneMap(df, root, "base", "skey", 8,
      statsCols = Seq("doc_id"))
    TableLog.commit(spark0, root, files, Nil, zmap = zm)
    // prefix scan: correct AND pruned (s1: 100 of 400 rows, ~2 of 8
    // files) — a TableLogFileIndex scan, the one zone-pruned read path
    val got = TableLog.snapshotPrefix(spark0, root, "skey", "s1:")
    assert(got.count() === 100L)
    assert(scannedFiles(got) < files.length,
      s"prefix scan read all ${files.length} files")
    assert(got.select("skey").collect().forall(_.getString(0).startsWith("s1:")))
    // an out-of-domain prefix reads NOTHING
    assert(TableLog.snapshotPrefix(spark0, root, "skey", "zz").count() === 0L)
    // secondary-column stats (statsCols): doc_id correlates with the
    // cluster key here, so a typed long range on the NON-cluster
    // column prunes too
    val sec = TableLog.snapshotWhere(spark0, root, "doc_id", 0L, 40L)
    assert(sec.count() === 41L)
    assert(scannedFiles(sec) < files.length,
      "statsCols stats did not prune the secondary-column read")
    // column-less rows must NOT serve any read: a FRESH table whose
    // ONLY stats are a handcrafted sidecar in a foreign format
    // (file, lo, hi, n_nulls — no scol) claiming an absurdly narrow
    // interval for every file. Rows that name no column are skipped,
    // so the read stays conservative.
    val root2 = Files.createTempDirectory("graft_tablelog_leg").toString + "/t"
    val f2 = TableLog.stageWrite(
      (0L until 50L).map(i => (i, s"t$i")).toDF("doc_id", "text")
        .coalesce(1), root2, "base")
    val legacy = f2.map(p => (p, 1000000L, 1000001L, 0L))
      .toDF("file", "lo", "hi", "n_nulls")
    val legDir = s"zmap/leg-deadbeef"
    legacy.coalesce(1).write.parquet(s"$root2/$legDir")
    val legRefs = new java.io.File(s"$root2/$legDir").listFiles()
      .filter(f => f.getName.endsWith(".parquet"))
      .map(f => s"$legDir/${f.getName}").toSeq
    TableLog.commit(spark0, root2, f2, Nil, zmap = legRefs)
    assert(TableLog.snapshotWhere(spark0, root2, "doc_id", 0L, 40L)
      .count() === 41L)
  }

  test("typed zone maps: timestamp keys prune snapshotWhere to the time window") {
    import graft.operators.TableLog
    val spark0 = spark
    import spark0.implicits._
    val root = Files.createTempDirectory("graft_tablelog_tsz").toString + "/t"
    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z")
    val df = (0L until 400L).map { i =>
      (i, java.sql.Timestamp.from(t0.plusSeconds(i * 3600)), s"t$i")
    }.toDF("event_id", "ts", "text")
    val (files, zm) = TableLog.stageWithZoneMap(df, root, "base", "ts", 8)
    TableLog.commit(spark0, root, files, Nil, zmap = zm)
    val got = TableLog.snapshotWhere(spark0, root, "ts",
      t0.plusSeconds(100L * 3600), t0.plusSeconds(140L * 3600))
    assert(got.count() === 41L)
    assert(scannedFiles(got) < files.length,
      s"timestamp window read all ${files.length} files")
    // sql.Timestamp bounds normalize identically to Instant bounds
    val got2 = TableLog.snapshotWhere(spark0, root, "ts",
      java.sql.Timestamp.from(t0.plusSeconds(100L * 3600)),
      java.sql.Timestamp.from(t0.plusSeconds(140L * 3600)))
    assert(got2.count() === 41L)
  }

  test("typed zone maps: date-keyed deleteWhere drops interior files by metadata; null dates survive") {
    import graft.operators.TableLog
    val spark0 = spark
    import spark0.implicits._
    val root = Files.createTempDirectory("graft_tablelog_ddel").toString + "/t"
    val base = java.time.LocalDate.of(2020, 1, 1)
    def rows(days: Seq[Int]) = days
      .map(d => (java.sql.Date.valueOf(base.plusDays(d)), d.toLong, s"t$d"))
      .toDF("day", "doc_id", "text")
    // three date-clustered commits with known day intervals + nulls
    val (fA, zA) = TableLog.stageWithZoneMap(rows(0 until 100), root, "a", "day", 2)
    TableLog.commit(spark0, root, fA, Nil, zmap = zA)
    val (fB, zB) = TableLog.stageWithZoneMap(rows(100 until 200), root, "b", "day", 2)
    TableLog.commit(spark0, root, fB, Nil, zmap = zB)
    val (fC, zC) = TableLog.stageWithZoneMap(rows(200 until 300), root, "c", "day", 2)
    TableLog.commit(spark0, root, fC, Nil, zmap = zC)
    val nulls = Seq[(java.sql.Date, java.lang.Long, String)](
      (null, 9001L, "n1"), (null, 9002L, "n2")).toDF("day", "doc_id", "text")
    val (fD, zD) = TableLog.stageWithZoneMap(nulls, root, "d", "day", 1)
    TableLog.commit(spark0, root, fD, Nil, zmap = zD)
    // corrupt B: the TTL window [day 80, day 220] covers B's whole
    // interval, so the purge must de-reference B without opening it
    fB.foreach { rel =>
      java.nio.file.Files.write(java.nio.file.Paths.get(root + "/" + rel),
        "not parquet".getBytes("UTF-8"))
    }
    val before = TableLog.versions(spark0, root).last
    val v = TableLog.deleteWhere(spark0, root, "day",
      base.plusDays(80), base.plusDays(220), "ttl", 2)
    assert(v === before + 1)
    val snap = TableLog.snapshot(spark0, root).collect()
    val keptDays = snap.filter(!_.isNullAt(0))
      .map(_.getDate(0).toLocalDate.toEpochDay - base.toEpochDay).sorted
    assert(keptDays.toSeq === ((0L until 80L) ++ (221L until 300L)),
      "exactly the date window must vanish")
    assert(snap.count(_.isNullAt(0)) === 2,
      "NULL dates are outside every range — they must survive the purge")
    val active = TableLog.activeFiles(spark0, root).toSet
    assert(fB.forall(p => !active(p)))
    assert(fB.forall(p => java.nio.file.Files.exists(
      java.nio.file.Paths.get(root + "/" + p))),
      "interior files must drop by pure metadata")
    // post-purge typed range reads prune through the fresh maps
    val rr = TableLog.snapshotWhere(spark0, root, "day",
      base.plusDays(0), base.plusDays(10))
    assert(rr.count() === 11L)
    assert(scannedFiles(rr) < TableLog.activeFiles(spark0, root).length)
    // typed replaceWhere round-trip on the same table: recompute a day
    // range, swap it in, nothing outside moves
    val repl = rows(230 until 240).withColumn("text", upper(col("text")))
    TableLog.replaceWhere(spark0, root, "day",
      base.plusDays(230), base.plusDays(239), repl, "backfill", 2)
    val after = TableLog.snapshot(spark0, root)
    assert(after.filter(col("text").rlike("^T2[34]")).count() === 10L)
    assert(after.count() === (80L + 79L + 2L))
  }

  test("a fully purged table reads empty with its base schema through snapshotDf, snapshotWhere and the source face") {
    import graft.operators.TableLog
    val spark0 = spark
    import spark0.implicits._
    val root = Files.createTempDirectory("graft_tablelog_purged").toString + "/t"
    val df = (0L until 100L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    val (files, zm) = TableLog.stageWithZoneMap(df, root, "base", "doc_id", 4)
    TableLog.commit(spark0, root, files, Nil, zmap = zm)
    // a window covering every row drops every file by metadata: the
    // head version is legal and EMPTY, with no declared schema
    TableLog.deleteWhere(spark0, root, "doc_id", 0L, 99L, "purge", 2)
    assert(TableLog.activeFiles(spark0, root).isEmpty)
    val faces = Seq(
      "snapshot" -> TableLog.snapshot(spark0, root),
      "snapshotWhere" -> TableLog.snapshotWhere(spark0, root, "doc_id", 0L, 99L),
      "source" -> spark0.read.format("graft.sources.TableLogSource").load(root))
    faces.foreach { case (face, got) =>
      assert(got.schema.map(f => (f.name, f.dataType)) ===
        df.schema.map(f => (f.name, f.dataType)), s"$face schema")
      assert(got.count() === 0L, s"$face rows")
    }
  }

  test("TableLogFileIndex builds from logged file metadata: zero per-data-file stats; checkpoints fold it; legacy entries fall back") {
    import graft.operators.{TableLog, TableLogFileIndex}
    val spark0 = spark
    import spark0.implicits._
    spark0.sparkContext.hadoopConfiguration.set(
      "fs.graftcnt.impl", classOf[CountingLocalFs].getName)
    val local = Files.createTempDirectory("graft_tablelog_meta").toString
    val root = s"graftcnt://$local/t" // $local starts with '/', → ///
    val (files, zm) = TableLog.stageWithZoneMap(
      (0L until 400L).map(i => (i, s"t$i")).toDF("doc_id", "text"),
      root, "base", "doc_id", 8)
    TableLog.commit(spark0, root, files, Nil, zmap = zm)
    TableLog.commit(spark0, root, TableLog.stageWrite(
      (1000L until 1050L).map(i => (i, s"x$i")).toDF("doc_id", "text")
        .coalesce(2), root, "b"), Nil)
    // 1) each entry records addmeta ALIGNED with add, len.mtime typed
    val logDir = java.nio.file.Paths.get(local, "t", "_log")
    val entry0 = new String(java.nio.file.Files.readAllBytes(
      logDir.resolve("%020d.json".format(0L))), "UTF-8")
    val metas = "\"addmeta\":\\[([^\\]]*)\\]".r
      .findFirstMatchIn(entry0).map(_.group(1)).getOrElse("")
      .split(",").toSeq.filter(_.nonEmpty)
      .map(_.stripPrefix("\"").stripSuffix("\""))
    assert(metas.length === files.length,
      s"addmeta must align 1:1 with add: ${metas.length} vs ${files.length}")
    assert(metas.forall(_.matches("\\d+\\.\\d+")),
      s"addmeta elements must be <len>.<mtime>: $metas")
    // the real on-disk byte total, independently walked
    def realBytes: Long = {
      val w = java.nio.file.Files.walk(java.nio.file.Paths.get(local, "t", "data"))
      try {
        import scala.jdk.CollectionConverters._
        w.iterator().asScala.filter(p => p.toString.endsWith(".parquet"))
          .map(p => java.nio.file.Files.size(p)).sum
      } finally w.close()
    }
    val expectBytes = realBytes
    // 2) building the status set (lazy; forced by the first planning
    //    use, here sizeInBytes): ZERO getFileStatus calls on data
    //    files — statuses come from the log (the 100×-scale planning
    //    path). sizeInBytes is the log's answer, matching the disk
    //    exactly.
    CountingLocalFs.reset()
    val idx = new TableLogFileIndex(spark0, root, None)
    assert(idx.sizeInBytes === expectBytes)
    assert(CountingLocalFs.dataFileStats() === 0,
      s"status-set build stat-ed ${CountingLocalFs.dataFileStats()} " +
        "data files — per-file metadata must come from the log")
    // 4) scans through the synthetic statuses read correctly (a wrong
    //    logged length would truncate or over-read a parquet footer)
    val snap = TableLog.snapshot(spark0, root)
    assert(snap.count() === 450L)
    assert(snap.filter(col("doc_id") >= 100L && col("doc_id") <= 149L)
      .count() === 50L)
    // 5) the checkpoint FOLDS the metadata: after expiry the index
    //    still builds stat-free from the checkpoint alone
    TableLog.expireLog(spark0, root, TableLog.writeCheckpoint(spark0, root))
    CountingLocalFs.reset()
    val idx2 = new TableLogFileIndex(spark0, root, None)
    assert(idx2.sizeInBytes === expectBytes)
    assert(CountingLocalFs.dataFileStats() === 0,
      "checkpoint must carry filesMeta — post-expiry builds re-stat nothing")
    // 6) legacy fallback: strip addmeta from the checkpoint (an old
    //    writer's artifact) — the index falls back to one stat per
    //    meta-less file and keeps serving the same answers
    val ckpt = logDir.resolve("1.ckpt")
    val stripped = new String(java.nio.file.Files.readAllBytes(ckpt), "UTF-8")
      .replaceAll("\"addmeta\":\\[[^\\]]*\\],", "")
    java.nio.file.Files.write(ckpt, stripped.getBytes("UTF-8"))
    CountingLocalFs.reset()
    val idx3 = new TableLogFileIndex(spark0, root, None)
    assert(idx3.sizeInBytes === expectBytes)
    val nActive = TableLog.activeFiles(spark0, root).length
    assert(CountingLocalFs.dataFileStats() === nActive,
      "meta-less files must fall back to exactly one stat each")
    assert(TableLog.snapshot(spark0, root).count() === 450L)
  }

  test("TableLog folds the log once: snapshot planning and writeCheckpoint open each needed entry once, vacuum a constant number of times") {
    import graft.operators.TableLog
    val spark0 = spark
    import spark0.implicits._
    spark0.sparkContext.hadoopConfiguration.set(
      "fs.graftcnt.impl", classOf[CountingLocalFs].getName)
    val nCommits = 12
    def entry(v: Int) = "%020d.json".format(v.toLong)
    // a zone-mapped table of nCommits one-file commits; the second
    // variant checkpoints mid-way, so its folds start from the
    // checkpoint and replay only the entries after it
    Seq(None, Some(5)).foreach { cp =>
      val local = Files.createTempDirectory("graft_tablelog_opens").toString
      val root = s"graftcnt://$local/t"
      (0 until nCommits).foreach { k =>
        val (f, z) = TableLog.stageWithZoneMap(
          (k * 10L until k * 10L + 10L).map(i => (i, s"t$i"))
            .toDF("doc_id", "text").coalesce(1), root, s"c$k", "doc_id", 1)
        TableLog.commit(spark0, root, f, Nil, zmap = z)
        if (cp.contains(k)) TableLog.writeCheckpoint(spark0, root)
      }
      val foldOnce = ((cp.fold(0)(_ + 1) until nCommits).map(entry) ++
        cp.map(c => s"$c.ckpt")).map(_ -> 1).toMap
      // 1) the snapshot, the planner's zone pruning and the count read
      //    ONE fold: every needed entry (and the checkpoint) once
      CountingLocalFs.reset()
      assert(TableLog.snapshot(spark0, root)
        .filter(col("doc_id").between(30L, 49L)).count() === 20L)
      assert(CountingLocalFs.logOpens() === foldOnce,
        s"cp=$cp: snapshot + planning opened ${CountingLocalFs.logOpens()}")
      // 2) vacuum over every version folds forward once: a bounded
      //    number of opens per entry, however many versions it retains
      CountingLocalFs.reset()
      assert(TableLog.vacuum(spark0, root, retainFrom = 0L).isEmpty)
      val vacuumOpens = CountingLocalFs.logOpens()
      assert(vacuumOpens.keySet === ((0 until nCommits).map(entry) ++
        cp.map(c => s"$c.ckpt")).toSet, s"cp=$cp: $vacuumOpens")
      assert(vacuumOpens.values.forall(_ <= 2),
        s"cp=$cp: vacuum re-read entries per retained version: $vacuumOpens")
      // 3) the checkpoint serializes one fold
      CountingLocalFs.reset()
      assert(TableLog.writeCheckpoint(spark0, root) === nCommits - 1L)
      assert(CountingLocalFs.logOpens() === foldOnce,
        s"cp=$cp: writeCheckpoint opened ${CountingLocalFs.logOpens()}")
    }
  }

  /** The executed TableLogFileIndex scans of `df`, after running it
    * (df.inputFiles is the UNPRUNED index listing by contract, so
    * pruning proofs read the scans). */
  private def tableLogScans(df: org.apache.spark.sql.DataFrame)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    def findScans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => findScans(a.executedPlan)
      case q: QueryStageExec => findScans(q.plan)
      case r: ReusedExchangeExec => findScans(r.child)
      case f: FileSourceScanExec => Seq(f)
      case o => (o.children ++ o.subqueries).flatMap(findScans)
    }
    df.collect()
    val scans = findScans(df.queryExecution.executedPlan)
      .filter(_.relation.location.isInstanceOf[graft.operators.TableLogFileIndex])
    assert(scans.nonEmpty, "no TableLogFileIndex scan in the plan")
    scans
  }

  /** Scan-side pruned-file count for a TableLogFileIndex-backed frame. */
  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Long =
    tableLogScans(df).map(_.metrics("numFiles").value).sum

  /** The data files those scans select after pruning — for specs that
    * compare file identities, not just a count. */
  private def scannedPaths(df: org.apache.spark.sql.DataFrame): Set[String] =
    tableLogScans(df)
      .flatMap(_.selectedPartitions.toPartitionArray.map(_.toPath.toString))
      .toSet

  test("TableLogFileIndex: IN-list point pruning, the InSet rewrite, and IS NULL via n_nulls") {
    import graft.operators.TableLog
    val spark0 = spark
    import spark0.implicits._
    val root = Files.createTempDirectory("graft_tablelog_in").toString + "/t"
    val df = (0L until 400L).map { i =>
      (i, f"k$i%04d", if (i < 50) null else s"v$i", s"t$i")
    }.toDF("doc_id", "skey", "maybe", "text")
    val (files, zm) = TableLog.stageWithZoneMap(df, root, "base", "skey", 8,
      statsCols = Seq("maybe"))
    TableLog.commit(spark0, root, files, Nil, zmap = zm)
    assert(files.length === 8)
    val snap = TableLog.snapshot(spark0, root)
    // 1) the batch-of-keys probe: 3 exact keys = 3 point intervals —
    //    at most one file each (range-clustered on skey)
    val in3 = snap.filter(col("skey").isin("k0007", "k0203", "k0399"))
    assert(in3.count() === 3L)
    assert(scannedFiles(in3) <= 3,
      s"3-key IN scanned ${scannedFiles(in3)} of ${files.length} files")
    // 2) past the 10-value threshold the optimizer rewrites In →
    //    InSet; pruning must survive the rewrite. 15 keys clustered
    //    in the bottom and top of the key space.
    val many = ((0L until 13L) ++ Seq(398L, 399L)).map(i => f"k$i%04d")
    val inMany = snap.filter(col("skey").isin(many: _*))
    assert(inMany.count() === 15L)
    assert(scannedFiles(inMany) <= 3,
      s"InSet stopped pruning: ${scannedFiles(inMany)} files")
    // 3) a NULL element in the IN list matches nothing and drops
    //    soundly — the other points still prune
    val withNull = snap.filter(col("skey").isin("k0007", null))
    assert(withNull.count() === 1L)
    assert(scannedFiles(withNull) === 1L)
    // 4) IS NULL prunes via the n_nulls stat: nulls live only in the
    //    low-key file(s); every all-non-null file is proven skippable
    val nullQ = snap.filter(col("maybe").isNull)
    assert(nullQ.count() === 50L)
    assert(scannedFiles(nullQ) <= 2,
      s"IS NULL scanned ${scannedFiles(nullQ)} files — n_nulls=0 " +
        "files must prune")
    // 5) null-safe equality: <=> key prunes like =, <=> NULL like IS NULL
    val nsQ = snap.filter(col("skey") <=> "k0007")
    assert(nsQ.count() === 1L)
    assert(scannedFiles(nsQ) === 1L)
    val nsNull = snap.filter(col("maybe") <=> lit(null))
    assert(nsNull.count() === 50L)
    assert(scannedFiles(nsNull) <= 2)
  }

  test("TableLogFileIndex: OR disjunctions, IS NOT NULL, and the all-null-file proof prune files") {
    import graft.operators.TableLog
    val spark0 = spark
    import spark0.implicits._
    val root = Files.createTempDirectory("graft_tablelog_or").toString + "/t"
    // 400 rows in 8 range-clustered files of 50 on skey; `maybe` is
    // NULL for rows 0-49 — exactly the lowest file is ALL-null on it
    val df = (0L until 400L).map { i =>
      (i, f"k$i%04d", if (i < 50) null else f"v$i%04d", s"t$i")
    }.toDF("doc_id", "skey", "maybe", "text")
    val (files, zm) = TableLog.stageWithZoneMap(df, root, "base", "skey", 8,
      statsCols = Seq("doc_id", "maybe"))
    TableLog.commit(spark0, root, files, Nil, zmap = zm)
    assert(files.length === 8)
    val snap = TableLog.snapshot(spark0, root)
    // 1) the outside-a-window shape, same column on both sides: the
    //    two branch intervals collapse into ONE zone disjunction —
    //    only the bottom and top files survive
    val outside = snap.filter(col("skey") < "k0010" || col("skey") > "k0389")
    assert(outside.count() === 20L)
    assert(scannedFiles(outside) === 2L,
      s"outside-window OR scanned ${scannedFiles(outside)} of 8 files")
    // 2) a CROSS-COLUMN disjunction: a file survives iff either
    //    branch may touch it — both branches hit only an edge file
    val cross = snap.filter(col("skey") < "k0010" || col("doc_id") > 389L)
    assert(cross.count() === 20L)
    assert(scannedFiles(cross) === 2L,
      s"cross-column OR scanned ${scannedFiles(cross)} of 8 files")
    // 3) an OR with an untranslatable branch prunes NOTHING (the
    //    branch could match anywhere) — but answers stay correct
    val opaque = snap.filter(col("skey") < "k0010" ||
      length(col("text")) > lit(1000))
    assert(opaque.count() === 10L)
    assert(scannedFiles(opaque) === 8L,
      "an untranslatable OR branch must disable pruning, not lose rows")
    // 4) IS NOT NULL prunes the PROVEN all-null file (n_nulls ==
    //    n_rows); Catalyst pushes this shape beside nearly every
    //    comparison filter
    val notNull = snap.filter(col("maybe").isNotNull)
    assert(notNull.count() === 350L)
    assert(scannedFiles(notNull) === 7L,
      "the all-null file must prune under IS NOT NULL")
    // 5) an interval on the all-null column ALSO prunes that file:
    //    its stats row has no bounds, but n_nulls == n_rows proves no
    //    row can satisfy any range
    val range = snap.filter(col("maybe") >= "v0350")
    assert(range.count() === 50L)
    assert(scannedFiles(range) <= 2L,
      s"all-null + out-of-range files must prune (scanned ${scannedFiles(range)})")
    // 6) nested: And under Or — the translatable conjunct of each
    //    branch still prunes
    val nested = snap.filter(
      (col("skey") < "k0010" && length(col("text")) < lit(1000)) ||
        (col("skey") > "k0389" && col("doc_id") > 200L))
    assert(nested.count() === 20L)
    assert(scannedFiles(nested) === 2L,
      s"nested And-under-Or scanned ${scannedFiles(nested)} of 8 files")
  }

  test("MetadataOnlyAgg: count/min/max answer from the log with ZERO files scanned; every guard keeps the scan") {
    import graft.operators.TableLog
    val spark0 = spark
    import spark0.implicits._
    // one registration, through GraftExtensions' injectOptimizerRule
    assert(spark0.experimental.extraOptimizations
        .count(_ == graft.plans.MetadataOnlyAgg) +
      spark0.sessionState.optimizer.extendedOperatorOptimizationRules
        .count(_ == graft.plans.MetadataOnlyAgg) === 1)
    val root = Files.createTempDirectory("graft_tablelog_magg").toString + "/t"
    val df = (0L until 400L).map { i =>
      (i, f"k$i%04d", if (i < 50) null else f"v$i%04d",
        (i / 10.0).toFloat, s"t$i")
    }.toDF("doc_id", "skey", "maybe", "score", "text")
    val (files, zm) = TableLog.stageWithZoneMap(df, root, "base", "skey", 8,
      statsCols = Seq("doc_id", "maybe", "score"))
    TableLog.commit(spark0, root, files, Nil, zmap = zm)


    val snap = TableLog.snapshot(spark0, root)
    // 1) the full answerable battery in one Aggregate — collapses to
    //    a LocalRelation, zero scans
    val m = snap.agg(count(lit(1)).as("n"), count(col("maybe")).as("nn"),
      min(col("skey")).as("lo"), max(col("skey")).as("hi"),
      min(col("doc_id")).as("dlo"), max(col("doc_id")).as("dhi"),
      min(col("score")).as("slo"), max(col("score")).as("shi"),
      sum(col("doc_id")).as("dsum"))
    val r = m.collect()(0)
    assert(r.getLong(0) === 400L)
    assert(r.getLong(1) === 350L, "count(maybe) must skip the 50 nulls")
    assert(r.getString(2) === "k0000" && r.getString(3) === "k0399")
    assert(r.getLong(4) === 0L && r.getLong(5) === 399L)
    assert(r.getFloat(6) === 0.0f && r.getFloat(7) === 39.9f,
      "float min/max must narrow back through the double widening")
    assert(r.getLong(8) === (0L until 400L).sum,
      "sum(long) must re-add the per-file decimal sums exactly")
    assert(fileScans(m) === 0,
      "a fully stats-covered global aggregate must scan ZERO files")
    //    sum on a FLOAT column never answers from metadata (re-adding
    //    is order-sensitive) — the scan runs and the answer is exact
    val fsum = snap.agg(sum(col("score")).as("s"))
    assert(fsum.collect()(0).getDouble(0) > 0.0)
    assert(fileScans(fsum) > 0, "sum(float) must scan")
    // Dataset.count() rides the same rewrite
    assert(snap.count() === 400L)
    // 2) guards — each keeps the scan AND the right answer:
    //    a FILE-ALIGNED filter now COLLAPSES (round 15 — the q168
    //    scoped rule: doc_id >= 200 is exactly files 4-7) ...
    val g1 = snap.filter(col("doc_id") >= 200L).agg(count(lit(1)).as("n"))
    assert(g1.collect()(0).getLong(0) === 200L)
    assert(fileScans(g1) === 0, "an aligned filtered aggregate collapses")
    //    ... while a STRADDLING filter keeps the scan (file 4 is
    //    [200, 249]; 225 cuts it mid-file)
    val g1b = snap.filter(col("doc_id") >= 225L).agg(count(lit(1)).as("n"))
    assert(g1b.collect()(0).getLong(0) === 175L)
    assert(fileScans(g1b) > 0, "a straddling filtered aggregate must scan")
    //    a distinct aggregate
    val g2 = snap.agg(countDistinct(col("skey")).as("n"))
    assert(g2.collect()(0).getLong(0) === 400L)
    assert(fileScans(g2) > 0, "count DISTINCT must scan")
    //    min/max on a column without stats
    val g3 = snap.agg(max(col("text")).as("m"))
    assert(g3.collect()(0).getString(0) === "t99")
    assert(fileScans(g3) > 0, "max on an uncovered column must scan")
    //    GROUP BY
    val g4 = snap.groupBy(col("maybe").isNull.as("k")).agg(count(lit(1)).as("n"))
    assert(g4.collect().map(r0 => (r0.getBoolean(0), r0.getLong(1))).toMap
      === Map(true -> 50L, false -> 350L))
    assert(fileScans(g4) > 0, "GROUP BY must scan")
    // 3) one file WITHOUT stats makes row counts unknowable → scan
    val extra = Seq((9999L, "k9999", "v9999", 1.0f, "tx"))
      .toDF("doc_id", "skey", "maybe", "score", "text").coalesce(1)
    TableLog.commit(spark0, root, TableLog.stageWrite(extra, root, "plain"), Nil)
    val snap2 = TableLog.snapshot(spark0, root)
    val g5 = snap2.agg(count(lit(1)).as("n"))
    assert(g5.collect()(0).getLong(0) === 401L)
    assert(fileScans(g5) > 0, "an uncovered file must force the scan")
    // 4) delete sidecars compose as an anti-join ABOVE the relation —
    //    the shape never matches, the answer stays exact
    TableLog.commitDeletes(spark0.range(1).select(lit(9999L).as("doc_id")),
      root, "purge")
    val snap3 = TableLog.snapshot(spark0, root, idCol = Some("doc_id"))
    val g6 = snap3.agg(count(lit(1)).as("n"))
    assert(g6.collect()(0).getLong(0) === 400L)
    assert(fileScans(g6) > 0, "delete sidecars must force the scan")
    // 5) an ALL-NULL covered column answers (null, null) — SQL's
    //    aggregate-over-no-values — from metadata alone
    val root2 = Files.createTempDirectory("graft_tablelog_magg2").toString + "/t"
    val allNull = (0L until 100L).map(i =>
        (i, None: Option[String], None: Option[Long]))
      .toDF("doc_id", "maybe", "nval")
    val (f2, z2) = TableLog.stageWithZoneMap(allNull, root2, "base", "doc_id", 2,
      statsCols = Seq("maybe", "nval"))
    TableLog.commit(spark0, root2, f2, Nil, zmap = z2)
    val m2 = TableLog.snapshot(spark0, root2)
      .agg(min(col("maybe")).as("lo"), max(col("maybe")).as("hi"),
        count(col("maybe")).as("nn"), sum(col("nval")).as("ns"))
    val r2 = m2.collect()(0)
    assert(r2.isNullAt(0) && r2.isNullAt(1) && r2.getLong(2) === 0L)
    assert(r2.isNullAt(3), "sum over an all-null long column is NULL")
    assert(fileScans(m2) === 0,
      "an all-null covered column must still answer from metadata")
  }

  test("decimal zone maps: point/range/IN pruning, cross-scale literals, and metadata min/max") {
    import graft.operators.TableLog
    val spark0 = spark
    import spark0.implicits._
    val root = Files.createTempDirectory("graft_tablelog_dec").toString + "/t"
    // 400 prices 0.25, 0.50, ... 100.00 as DECIMAL(12,2), 8 files
    val df = (1L to 400L).map(i => (i, BigDecimal(i) / 4, s"t$i"))
      .toDF("id", "price", "text")
      .select(col("id"), col("price").cast("decimal(12,2)").as("price"),
        col("text"))
    val (files, zm) = TableLog.stageWithZoneMap(df, root, "base", "price", 8)
    TableLog.commit(spark0, root, files, Nil, zmap = zm)
    assert(files.length === 8)
    val snap = TableLog.snapshot(spark0, root)
    // range: one file of 50 prices spans 12.50
    val band = snap.filter(
      col("price") >= lit("3.00").cast("decimal(12,2)") &&
        col("price") <= lit("10.00").cast("decimal(12,2)"))
    assert(band.count() === 29L) // 3.00..10.00 step .25
    assert(scannedFiles(band) === 1L,
      s"a one-file price band scanned ${scannedFiles(band)} of 8")
    // point + IN (exact cents)
    val in3 = snap.filter(col("price").isin(
      new java.math.BigDecimal("0.25"), new java.math.BigDecimal("50.00"),
      new java.math.BigDecimal("100.00")))
    assert(in3.count() === 3L)
    assert(scannedFiles(in3) <= 3L)
    // a CROSS-SCALE literal (scale 1 vs the column's 2) must order
    // correctly — numeric comparison, not string
    val cross = snap.filter(col("price") > lit("99.5").cast("decimal(12,2)"))
    assert(cross.count() === 2L) // 99.75, 100.00
    assert(scannedFiles(cross) === 1L)
    // metadata min/max answer as DECIMAL with zero files scanned
    val m = snap.agg(min(col("price")).as("lo"), max(col("price")).as("hi"))
    val r = m.collect()(0)
    assert(r.getDecimal(0) === new java.math.BigDecimal("0.25"))
    assert(r.getDecimal(1) === new java.math.BigDecimal("100.00"))
    import org.apache.spark.sql.execution.FileSourceScanExec
    def anyScan(p: org.apache.spark.sql.execution.SparkPlan): Boolean =
      p.isInstanceOf[FileSourceScanExec] ||
        (p.children ++ p.subqueries).exists(anyScan)
    assert(!anyScan(m.queryExecution.executedPlan),
      "decimal min/max must answer from metadata")
  }

  test("MetadataTopK: ORDER BY ... LIMIT k reads only the files that can hold the top k") {
    import graft.operators.TableLog
    val spark0 = spark
    import spark0.implicits._
    assert(spark0.experimental.extraOptimizations
        .count(_ == graft.plans.MetadataTopK) +
      spark0.sessionState.optimizer.extendedOperatorOptimizationRules
        .count(_ == graft.plans.MetadataTopK) === 1,
      "one registration total across both channels")
    // the top-k rewrite RESTRICTS the relation's own file listing —
    // measure that listing (scan metrics reset on re-collect for this
    // exchange-free plan shape; the location is the plan-time truth)
    val root = Files.createTempDirectory("graft_tablelog_topk").toString + "/t"
    val df = (0L until 400L).map { i =>
      (i, f"k$i%04d", if (i < 50) null else f"v$i%04d", s"t$i")
    }.toDF("doc_id", "skey", "maybe", "text")
    val (files, zm) = TableLog.stageWithZoneMap(df, root, "base", "skey", 8,
      statsCols = Seq("doc_id", "maybe"))
    TableLog.commit(spark0, root, files, Nil, zmap = zm)
    val snap = TableLog.snapshot(spark0, root)
    // 1) the latest-k probe: top 10 by skey desc live in ONE file
    val top10 = snap.orderBy(col("skey").desc).limit(10)
    assert(top10.select("skey").as[String].collect().toSeq ===
      (390L until 400L).reverse.map(i => f"k$i%04d"))
    assert(keptFiles(top10) === 1L,
      s"top-10 desc scanned ${keptFiles(top10)} of 8 files")
    // 2) ascending, limit crossing one file boundary → two files
    val asc60 = snap.orderBy(col("skey")).limit(60)
    assert(asc60.select("skey").as[String].collect().toSeq ===
      (0L until 60L).map(i => f"k$i%04d"))
    assert(keptFiles(asc60) === 2L,
      s"asc-60 scanned ${keptFiles(asc60)} of 8 files")
    // 3) MULTI-column order: the first key alone gates pruning (a
    //    dropped file is strictly below the kth row's first key, so
    //    no tie-break can reach it)
    val multi = snap.orderBy(col("skey").desc, col("doc_id")).limit(10)
    assert(multi.count() === 10L)
    assert(keptFiles(multi) === 1L)
    // 4) nulls ride the null ordering: asc on `maybe` defaults to
    //    NULLS FIRST, and the 30 nulls all live in the one all-null
    //    file — exactly that file is read
    val nullsTop = snap.orderBy(col("maybe")).limit(30)
    val got = nullsTop.collect()
    assert(got.length === 30 && got.forall(_.isNullAt(2)))
    assert(keptFiles(nullsTop) === 1L,
      "a nulls-first limit within the null count must read only null files")
    //    desc on `maybe` (NULLS LAST): the top values prune to the
    //    high file even though another file is all-null
    val descM = snap.orderBy(col("maybe").desc).limit(10)
    assert(descM.select("maybe").as[String].collect().toSeq ===
      (390L until 400L).reverse.map(i => f"v$i%04d"))
    assert(keptFiles(descM) === 1L)
    // 5) guards: a limit spanning the table keeps every file; a
    //    zone-translatable filter between Limit∘Sort and the relation
    //    fires the FILTERED walk (excluded files leave, full files
    //    count) — doc_id >= 100 excludes the first two files and the
    //    5-limit then lives in ONE file
    val all = snap.orderBy(col("skey")).limit(1000)
    assert(all.count() === 400L)
    assert(keptFiles(all) === 8L)
    val filtered = snap.filter(col("doc_id") >= 100L)
      .orderBy(col("skey")).limit(5)
    assert(filtered.select("skey").as[String].collect().toSeq ===
      (100L until 105L).map(i => f"k$i%04d"))
    assert(keptFiles(filtered) === 1L,
      s"windowed top-5 scanned ${keptFiles(filtered)} of 8 files")
    // 6) a TIE at the kth row's bound keeps both sides: two files
    //    sharing the boundary value must both survive
    val root2 = Files.createTempDirectory("graft_tablelog_topk2").toString + "/t"
    val (fA, zA) = TableLog.stageWithZoneMap(
      (0L to 9L).map(i => (i, s"a$i")).toDF("v", "tag"), root2, "a", "v", 1)
    TableLog.commit(spark0, root2, fA, Nil, zmap = zA)
    val (fB, zB) = TableLog.stageWithZoneMap(
      (9L to 15L).map(i => (i, s"b$i")).toDF("v", "tag"), root2, "b", "v", 1)
    TableLog.commit(spark0, root2, fB, Nil, zmap = zB)
    val snap2 = TableLog.snapshot(spark0, root2)
    val tied = snap2.orderBy(col("v").desc).limit(7)
    assert(tied.select("v").as[Long].collect().toSeq ===
      Seq(15L, 14L, 13L, 12L, 11L, 10L, 9L))
    assert(keptFiles(tied) === 2L,
      "the file whose max TIES the kth row's bound must survive")
    // 7) one uncovered file → no restriction, exact answers
    val extra = Seq((500L, "k0500", "v0500", "tx"))
      .toDF("doc_id", "skey", "maybe", "text").coalesce(1)
    TableLog.commit(spark0, root, TableLog.stageWrite(extra, root, "plain"), Nil)
    val snap3 = TableLog.snapshot(spark0, root)
    val g = snap3.orderBy(col("skey").desc).limit(1)
    assert(g.select("skey").as[String].collect().toSeq === Seq("k0500"))
    assert(keptFiles(g) === 9L, "an uncovered file must disable top-k pruning")
  }

  test("MetadataTopK multi-key null ties: a tiebreaker's null rows may " +
      "live in ANY null-bearing file — all of them must survive") {
    import graft.operators.TableLog
    val spark0 = spark
    import spark0.implicits._
    val root = Files.createTempDirectory("graft_tablelog_topk_nt").toString + "/t"
    // file A: 5 null-a rows with the SMALLEST tiebreaker values;
    // file B: 10 null-a rows with larger ones; file C: non-null.
    // The greedy fewest-files null cover for k=6 would pick only B
    // (10 ≥ 6) and lose A's b=0..4 — the deterministic top-6 under
    // (a NULLS FIRST, b) is b=0..5, spanning BOTH null files.
    val mkA = (0L until 5L).map(b => (None: Option[String], b, "A"))
    val mkB = (5L until 15L).map(b => (None: Option[String], b, "B"))
    val mkC = (100L until 120L).map(b => (Some(f"v$b%04d"), b, "C"))
    Seq(mkA, mkB, mkC).zipWithIndex.foreach { case (rows, i) =>
      val (f, zm) = TableLog.stageWithZoneMap(
        rows.toDF("a", "b", "tag"), root, s"g$i", "b", 1,
        statsCols = Seq("a"))
      TableLog.commit(spark0, root, f, Nil, zmap = zm)
    }
    val snap = TableLog.snapshot(spark0, root)
    val multi = snap.orderBy(col("a"), col("b")).limit(6)
    assert(multi.select("b").as[Long].collect().toSeq ===
      (0L until 6L).toSeq,
      "the multi-key top-6 must honor the tiebreaker across null files")
    assert(keptFiles(multi) === 2L,
      "both null-bearing files must survive; the non-null file prunes")
    // single-key stays tie-free: any 6 null rows serve, the greedy
    // cover keeps ONE file
    val single = snap.orderBy(col("a")).limit(6)
    assert(single.collect().forall(_.isNullAt(0)))
    assert(keptFiles(single) === 1L,
      "a single-key null block still serves from the fewest files")
  }

  test("MetadataTopK under a filter: the windowed latest-k reads only the " +
      "boundary+cutoff files; strict bounds adjust on discrete kinds; an " +
      "untranslatable conjunct declines; proven-short walks keep all") {
    import graft.operators.TableLog
    val spark0 = spark
    import spark0.implicits._
    val root = Files.createTempDirectory("graft_topk_filt").toString + "/t"
    // 8 files of 100 rows clustered on ts; user carries 10 nulls per
    // file (i % 10 == 0) so the null interplay is exercised
    val df = (0L until 800L).map { i =>
      (i, if (i % 10 == 0) None else Some(i % 50), s"e$i")
    }.toDF("ts", "user", "ev")
    val (files, zm) = TableLog.stageWithZoneMap(df, root, "base", "ts", 8,
      statsCols = Seq("user"))
    TableLog.commit(spark0, root, files, Nil, zmap = zm)
    val snap = TableLog.snapshot(spark0, root)
    // 1) the dashboard probe — latest 20 INSIDE a window: the filter
    //    excludes two files, the walk proves the cutoff inside the
    //    last full file, and only the upper straddler + that file read
    val win = snap.filter(col("ts").between(150L, 649L))
      .orderBy(col("ts").desc).limit(20)
    assert(win.select("ts").as[Long].collect().toSeq ===
      (630L to 649L).reverse)
    assert(keptFiles(win) === 2L,
      s"windowed latest-20 scanned ${keptFiles(win)} of 8 files")
    // 2) STRICT bounds on a discrete kind adjust by one and still
    //    prove full: ts > 599 AND ts < 700 proves file 6 FULL (without
    //    the ±1 adjustment the whole translation would decline and all
    //    8 files would read); the conservative lower straddler f5
    //    (hi == 599 under the closed exclusion bound) also stays
    val strict = snap.filter(col("ts") > 599L && col("ts") < 700L)
      .orderBy(col("ts")).limit(10)
    assert(strict.select("ts").as[Long].collect().toSeq ===
      (600L until 610L))
    assert(keptFiles(strict) === 2L,
      s"strict-window top-10 scanned ${keptFiles(strict)} of 8 files")
    // 3) an untranslatable conjunct (StartsWith is half-open — exact
    //    inclusion can't carry it) declines the rewrite entirely:
    //    answers exact, location unrestricted
    val opaque = snap.filter(col("ts") >= 100L && col("ev").startsWith("e"))
      .orderBy(col("ts")).limit(5)
    assert(opaque.select("ts").as[Long].collect().toSeq === (100L until 105L))
    assert(keptFiles(opaque) === 8L,
      "a conjunct outside the exact translation must decline the rewrite")
    // 4) a cross-column filter no file is provably FULL under: the
    //    walk can't reach k on proven rows and keeps every candidate —
    //    graceful degradation, exact answers
    val cross = snap.filter(col("user") === 7L)
      .orderBy(col("ts").desc).limit(3)
    assert(cross.select("ts").as[Long].collect().toSeq ===
      Seq(757L, 707L, 657L))
    assert(keptFiles(cross) === 8L)
    // 5) nulls under a full-everywhere filter: a nulls-first limit
    //    within the proven null count reads just the greedy null cover
    val nf = snap.filter(col("ts") >= 0L).orderBy(col("user")).limit(25)
    val gotNf = nf.collect()
    assert(gotNf.length === 25 && gotNf.forall(_.isNullAt(1)))
    assert(keptFiles(nf) === 3L,
      s"proven-null cover scanned ${keptFiles(nf)} of 8 files")
  }

  test("metadataAggRange: interior files answer counts/bounds/sums from " +
      "stats, straddlers scan into the same fold; file-aligned windows " +
      "read no data; unknown columns and deletes decline") {
    import graft.operators.TableLog
    val spark0 = spark
    import spark0.implicits._
    val dir = Files.createTempDirectory("graft_tablelog_maggr").toString
    val root = s"$dir/t"
    // k 0..999 range-clustered into 8 files; v: long with nulls at
    // k%5==0; s: strings with full-range overlap per file
    val df = (0L until 1000L).map { i =>
      (i, if (i % 5 == 0) None else Some(i % 100), s"s${i % 13}")
    }.toDF("k", "v", "s")
    val (f1, z1) = TableLog.stageWithZoneMap(df, root, "base", "k", 8,
      statsCols = Seq("v", "s"))
    TableLog.commit(spark0, root, f1, Nil, zmap = z1)
    // ground truth: the same aggregates over a real scan of the window
    def scanAgg(lo: Long, hi: Long): Map[String, (Long, Long, String, String, String)] = {
      val w = rawSnapshot(root)
        .filter(col("k") >= lo && col("k") <= hi)
      val n = w.count()
      val r = w.agg(
        sum(when(col("v").isNull, 1L).otherwise(0L)),
        min(col("v")).cast("string"), max(col("v")).cast("string"),
        sum(col("v").cast("decimal(38,0)")).cast("string"),
        sum(when(col("s").isNull, 1L).otherwise(0L)),
        min(col("s")), max(col("s"))).head()
      Map(
        "v" -> ((n, r.getLong(0), r.getString(1), r.getString(2), r.getString(3))),
        "s" -> ((n, r.getLong(4), r.getString(5), r.getString(6), null)))
    }
    def rangeAgg(lo: Long, hi: Long): Option[Map[String, (Long, Long, String, String, String)]] =
      TableLog.metadataAggRange(spark0, root, "k", lo, hi, Seq("v", "s"))
        .map(_.collect().map(r => r.getString(0) ->
          ((r.getLong(2), r.getLong(3), r.getString(4), r.getString(5),
            r.getString(6)))).toMap)
    // 1) a misaligned window: interior stats + boundary scan fold to
    //    exactly the scan's answer (counts, nulls, bounds, exact sum)
    assert(rangeAgg(137L, 861L) === Some(scanAgg(137L, 861L)))
    // 2) an empty window: zero rows, null bounds, null sum
    assert(rangeAgg(2000L, 3000L) ===
      Some(Map("v" -> ((0L, 0L, null, null, null)),
               "s" -> ((0L, 0L, null, null, null)))))
    // 3) decline paths: unknown columns up front (validated while the
    //    footer is still probeable), key included
    assert(TableLog.metadataAggRange(spark0, root, "k", 0L, 10L,
      Seq("nope")).isEmpty)
    assert(TableLog.metadataAggRange(spark0, root, "nope", 0L, 10L,
      Seq("v")).isEmpty)
    // 4) a FILE-ALIGNED window answers from metadata alone: compute
    //    the expectation, delete the data, ask again
    val bounds = spark0.read.option("recursiveFileLookup", "true")
      .parquet(s"$root/zmap")
      .filter(col("scol") === "k")
      .select(col("lo_s").cast("long"), col("hi_s").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(bounds.length === 8)
    val (wLo, wHi) = (bounds(2)._1, bounds(5)._2)
    val expect = rangeAgg(wLo, wHi)
    assert(expect === Some(scanAgg(wLo, wHi)))
    val walk = java.nio.file.Files.walk(
      java.nio.file.Paths.get(dir, "t", "data"))
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally walk.close()
    assert(rangeAgg(wLo, wHi) === expect,
      "a file-aligned window must answer without touching data")
    // 5) delete sidecars in force → decline (stats describe
    //    pre-delete rows)
    TableLog.commitDeletes(Seq(999L).toDF("k").coalesce(1), root, "purge")
    assert(TableLog.metadataAggRange(spark0, root, "k", wLo, wHi,
      Seq("v")).isEmpty)
    // 6) a HOLE straddler: the file's interval overlaps the window but
    //    no actual row falls in it — the boundary scan aggregates over
    //    ZERO rows (sum-based fields come back NULL) and must fold to
    //    the empty answer, not throw
    val rootH = s"$dir/th"
    val dfH = ((0L until 100L) ++ (300L until 400L))
      .map(i => (i, i % 7, s"s$i")).toDF("k", "v", "s")
    val (fH, zH) = TableLog.stageWithZoneMap(dfH, rootH, "base", "k", 1,
      statsCols = Seq("v", "s"))
    TableLog.commit(spark0, rootH, fH, Nil, zmap = zH)
    val hole = TableLog.metadataAggRange(spark0, rootH, "k", 120L, 280L,
      Seq("v", "s")).map(_.collect().map(r => r.getString(0) ->
        ((r.getLong(2), r.getLong(3), r.getString(4), r.getString(5),
          r.getString(6)))).toMap)
    assert(hole === Some(Map("v" -> ((0L, 0L, null, null, null)),
                             "s" -> ((0L, 0L, null, null, null)))),
      "an overlapping-but-empty window must answer empty, not NPE")
  }

  test("MetadataOnlyAgg through a FILE-ALIGNED filter: the windowed " +
      "aggregate collapses to zero files, coverage is judged per scope, " +
      "straddling windows keep the scan") {
    import graft.operators.TableLog
    val spark0 = spark
    import spark0.implicits._
    val dir = Files.createTempDirectory("graft_aligned_agg").toString
    val root = s"$dir/t"
    // one file holding exactly [0, 499] with v covered; four more
    // files [500, 999]; a straggler with KEY stats only (v uncovered)
    def mk(df: org.apache.spark.sql.DataFrame, name: String, parts: Int,
           stats: Seq[String]): Unit = {
      val (f, z) = TableLog.stageWithZoneMap(df, root, name, "k", parts,
        statsCols = stats)
      TableLog.commit(spark0, root, f, Nil, zmap = z)
    }
    mk((0L until 500L).map(i => (i, i % 83)).toDF("k", "v"), "head", 1, Seq("v"))
    mk((500L until 1000L).map(i => (i, i % 83)).toDF("k", "v"), "tail", 4, Seq("v"))
    mk((5000L until 5050L).map(i => (i, i % 83)).toDF("k", "v"), "far", 1, Nil)
    def snap = TableLog.snapshot(spark0, root)
    def winAgg(lo: Long, hi: Long) = snap.filter(col("k").between(lo, hi))
      .agg(count(lit(1)).as("n"), count(col("v")).as("nv"),
        min(col("v")).as("mn"), max(col("v")).as("mx"),
        sum(col("v")).as("sm"))
    // 1) the aligned window collapses — ZERO file scans — and the
    //    values are exactly the scan's
    val aligned = winAgg(0L, 499L)
    assert(aligned.head() === org.apache.spark.sql.Row(
      500L, 500L, 0L, 82L, (0L until 500L).map(_ % 83).sum))
    assert(fileScans(aligned) === 0, "a file-aligned window must collapse")
    // ... even though the straggler's v is uncovered: per-scope
    // coverage (the global count(v) must still DECLINE)
    val globalV = snap.agg(count(col("v")).as("nv"))
    assert(globalV.head().getLong(0) === 1050L)
    assert(fileScans(globalV) === 1,
      "an uncovered file in scope must keep the scan")
    // ... while the global count(*) still collapses (n_rows IS
    // covered everywhere)
    val globalN = snap.agg(count(lit(1)).as("n"))
    assert(globalN.head().getLong(0) === 1050L)
    assert(fileScans(globalN) === 0)
    // a window COVERING the straggler also declines v-aggregates ...
    val overFar = winAgg(0L, 6000L)
    assert(fileScans(overFar) === 1)
    // 2) a STRADDLING window keeps the scan and stays exact
    val straddle = winAgg(0L, 600L)
    assert(straddle.head() === org.apache.spark.sql.Row(
      601L, 601L, 0L, 82L, (0L until 601L).map(_ % 83).sum))
    assert(fileScans(straddle) === 1, "a straddler must keep the scan")
  }

  test("float zone maps: pushed literals widen through double — the 1.3f boundary file is never wrongly pruned") {
    import graft.operators.TableLog
    val spark0 = spark
    import spark0.implicits._
    val root = Files.createTempDirectory("graft_tablelog_float").toString + "/t"
    // two controlled files: A = scores [0.5f, 1.3f] (stored max is the
    // WIDENED double 1.2999999523162842 — BELOW the naive double 1.3),
    // B = [1.4f, 2.0f]
    def mk(lo: Int, hi: Int) = (lo to hi).map(i =>
      (i.toLong, (i / 10.0).toFloat, s"t$i"))
      .toDF("doc_id", "score", "text")
    val (fA, zA) = TableLog.stageWithZoneMap(mk(5, 13), root, "a", "score", 1)
    TableLog.commit(spark0, root, fA, Nil, zmap = zA)
    val (fB, zB) = TableLog.stageWithZoneMap(mk(14, 20), root, "b", "score", 1)
    TableLog.commit(spark0, root, fB, Nil, zmap = zB)
    val snap = TableLog.snapshot(spark0, root)
    // the boundary probe: `score >= 1.3f` MUST keep file A — a
    // Float.toString literal ("1.3" → double 1.3 > stored max) would
    // wrongly prune it and silently drop the matching doc_id=13 row
    val q = snap.filter(col("score") >= lit(1.3f))
    assert(q.select("doc_id").as[Long].collect().sorted ===
      (13L to 20L).toArray,
      "the 1.3f row must survive a >= 1.3f probe (wrong-prune class)")
    assert(scannedFiles(q) === 2L,
      "file A (max 1.3f) must NOT be pruned by >= 1.3f")
    // pruning on the double kind works at all — both cut directions
    val loQ = snap.filter(col("score") <= lit(0.9f))
    assert(loQ.count() === 5L)
    assert(scannedFiles(loQ) === 1L, "above-cut file B must prune")
    val hiQ = snap.filter(col("score") > lit(1.35f))
    assert(hiQ.count() === 7L)
    assert(scannedFiles(hiQ) === 1L, "below-cut file A must prune")
    // float IN lists ride the same widening (point intervals)
    val inQ = snap.filter(col("score").isin(1.3f, 0.5f))
    assert(inQ.count() === 2L)
    assert(scannedFiles(inQ) === 1L,
      "a float IN of file-A-only points must prune file B")
  }

  test("OPTIMIZE ZORDER BY: 2-D box and each single dimension prune files; results unchanged") {
    import graft.operators.TableLog
    val spark0 = spark
    import spark0.implicits._
    val root = Files.createTempDirectory("graft_tablelog_zopt").toString + "/t"
    // a full 64×64 grid: with 16 Z-clustered files each owns ~a 16×16
    // tile, so BOTH dimensions' per-file intervals are tight —
    // 1-D clustering on gx would leave gy's intervals spanning [0,63]
    val grid = (0L until 4096L).map(i => (i, i % 64L, i / 64L, s"t$i"))
      .toDF("doc_id", "gx", "gy", "text")
    TableLog.commit(spark0, root,
      TableLog.stageWrite(grid, root, "base"), Nil) // unsorted v0
    TableLog.commitDeletes(
      grid.filter(col("doc_id") % 100 === 0).select(col("doc_id")),
      root, "p100") // v1
    TableLog.optimizeTable(spark0, root, "doc_id", "gx", "zopt",
      parts = 16, zorderWith = Some("gy")) // v2
    val nFiles = TableLog.activeFiles(spark0, root).length
    assert(nFiles >= 8, s"optimize must land multiple files, got $nFiles")
    val snap = TableLog.snapshot(spark0, root)
    def logical(xlo: Long, xhi: Long, ylo: Long, yhi: Long): Long =
      (0L until 4096L).count(i => i % 100 != 0 &&
        i % 64 >= xlo && i % 64 <= xhi &&
        i / 64 >= ylo && i / 64 <= yhi).toLong
    // 1) the 2-D box: one tile's worth of files, not the table
    val box = snap.filter(col("gx") >= 0L && col("gx") <= 15L &&
      col("gy") >= 0L && col("gy") <= 15L)
    assert(box.count() === logical(0, 15, 0, 15))
    assert(scannedFiles(box) <= 4,
      s"2-D box scanned ${scannedFiles(box)} of $nFiles files")
    // 2) each dimension ALONE prunes (both carry typed stats and the
    //    Z-layout keeps both interval sets tight)
    val xOnly = snap.filter(col("gx") >= 0L && col("gx") <= 15L)
    assert(xOnly.count() === logical(0, 15, 0, 63))
    assert(scannedFiles(xOnly) < nFiles,
      s"gx alone scanned all $nFiles files")
    val yOnly = snap.filter(col("gy") >= 0L && col("gy") <= 15L)
    assert(yOnly.count() === logical(0, 63, 0, 15))
    assert(scannedFiles(yOnly) < nFiles,
      s"gy alone scanned all $nFiles files")
    // 3) the optimize folded the sidecar deletes (reads anti-join
    //    nothing) and preserved every row outside them
    assert(TableLog.activeDeletes(spark0, root).isEmpty)
    assert(snap.count() === logical(0, 63, 0, 63))
  }

  test("snapshotDf bucketBy: point reads scan one bucket dir; driver bucket equals the Column form") {
    import graft.operators.TableLog
    val spark0 = spark
    import spark0.implicits._
    // the driver-side bucket mirror must agree with the layout's own
    // Column expression for BOTH key kinds it serves
    val longKeys = (0L until 100L).map(i => i * 7919L)
    val gotLong = longKeys.toDF("k")
      .select(col("k"), TableLog.idBucket("k", 16).as("b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1).toInt).toMap
    longKeys.foreach { k =>
      assert(TableLog.bucketOfKey(k.toString, 16) === gotLong(k),
        s"driver bucket of long $k diverges from idBucket")
    }
    val strKeys = (0 until 100).map(i => s"user:$i:pref")
    val gotStr = strKeys.toDF("k")
      .select(col("k"), TableLog.idBucket("k", 16).as("b")).collect()
      .map(r => r.getString(0) -> r.getLong(1).toInt).toMap
    strKeys.foreach { k =>
      assert(TableLog.bucketOfKey(k, 16) === gotStr(k),
        s"driver bucket of string '$k' diverges from idBucket")
    }
    // a bucketed table: a point read through the attested relation
    // scans ONE bucket's file(s), an IN at most one per key
    val root = Files.createTempDirectory("graft_tablelog_bkt").toString + "/t"
    val nB = 16
    val base = (0L until 800L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    TableLog.commit(spark0, root,
      TableLog.stageBucketed(base, root, "base", "doc_id", nB), Nil)
    val nFiles = TableLog.activeFiles(spark0, root).length
    assert(nFiles === nB)
    val snap = TableLog.snapshot(spark0, root,
      bucketBy = Some(("doc_id", nB)))
    val point = snap.filter(col("doc_id") === 123L)
    assert(point.count() === 1L)
    assert(scannedFiles(point) === 1L,
      s"point read scanned ${scannedFiles(point)} of $nFiles bucket files")
    val batch = snap.filter(col("doc_id").isin(7L, 123L, 700L))
    assert(batch.count() === 3L)
    assert(scannedFiles(batch) <= 3L)
    // non-point predicates don't bucket-prune (hash layout carries no
    // order) but stay correct
    val range = snap.filter(col("doc_id") >= 100L && col("doc_id") <= 105L)
    assert(range.count() === 6L)
    // and without the attestation a point read is merely unpruned
    val plain = TableLog.snapshot(spark0, root)
      .filter(col("doc_id") === 123L)
    assert(plain.count() === 1L)
    assert(scannedFiles(plain) === nFiles.toLong)
    // the merge read-back's relation: readActive restricts the index
    // to the touched buckets' files — the scan's numFiles IS the
    // touched set, pinned at the read version (what mergeInto reads
    // through)
    val touched = Set(3, 7)
    val touchedFiles = TableLog.activeFiles(spark0, root, Some(0L))
      .filter(f => touched.exists(b => f.contains(s"/_gb=$b/")))
    val rb = TableLog.readActive(spark0, root, Some(0L), touchedFiles)
    assert(scannedFiles(rb) === touched.size.toLong,
      s"bucket-restricted read-back scanned ${scannedFiles(rb)} files")
    assert(rb.count() === base.filter(
      TableLog.idBucket("doc_id", nB).isin(3L, 7L)).count())
  }

  test("compactSmallFiles: log-sized selection (zero stats on the no-op), " +
      "right-sized files byte-untouched, stats+sketch inherited, delete " +
      "sidecars stay in force") {
    import graft.operators.TableLog
    val spark0 = spark
    import spark0.implicits._
    spark0.sparkContext.hadoopConfiguration.set(
      "fs.graftcnt.impl", classOf[CountingLocalFs].getName)
    val local = Files.createTempDirectory("graft_tablelog_csmall").toString
    val root = s"graftcnt://$local/t"
    def rows(lo: Long, hi: Long) =
      (lo until hi).map(i => (i, s"text-$i" * 8)).toDF("doc_id", "text")
    // v0: one RIGHT-SIZED file; v1..v4: four small drips — all
    // zone-mapped on doc_id with a sketch, single file each
    val (bf, bz) = TableLog.stageWithZoneMap(rows(0, 4000), root, "big",
      "doc_id", 1, sketchCols = Seq("doc_id"))
    TableLog.commit(spark0, root, bf, Nil, zmap = bz)
    (1 to 4).foreach { k =>
      val (f, z) = TableLog.stageWithZoneMap(
        rows(4000L + k * 50L, 4000L + k * 50L + 50L), root, s"drip$k",
        "doc_id", 1, sketchCols = Seq("doc_id"))
      TableLog.commit(spark0, root, f, Nil, zmap = z)
    }
    assert(bf.length === 1)
    val bigRel = bf.head
    val bigDisk = java.nio.file.Paths.get(local, ("t" +: bigRel.split("/").toSeq): _*)
    val bigLen = java.nio.file.Files.size(bigDisk)
    val bigMtime = java.nio.file.Files.getLastModifiedTime(bigDisk)
    // the ledger already knows every size: v0's bytes_added IS bigLen
    val hist0 = TableLog.history(spark0, root).collect()
    assert(hist0(0).getLong(7) === bigLen)
    val expect = rawSnapshot(root).orderBy("doc_id")
      .collect().toSeq
    // zone-covered candidates without a keyCol must REFUSE, not
    // silently drop pruning
    val err = intercept[RuntimeException] {
      TableLog.compactSmallFiles(spark0, root, "bad",
        targetBytes = 64L << 20, minFileBytes = Some(bigLen))
    }
    assert(err.getMessage.contains("keyCol"))
    // the real pass: only the four drips qualify (strict < bigLen)
    val v = TableLog.compactSmallFiles(spark0, root, "bin",
      targetBytes = 64L << 20, minFileBytes = Some(bigLen),
      keyCol = Some("doc_id"))
    val active = TableLog.activeFiles(spark0, root)
    assert(active.length === 2, s"expected big + 1 bin, got $active")
    assert(active.contains(bigRel), "the right-sized file must survive")
    // ... BYTE-untouched: same length, same mtime — compaction never
    // rewrote it
    assert(java.nio.file.Files.size(bigDisk) === bigLen)
    assert(java.nio.file.Files.getLastModifiedTime(bigDisk) === bigMtime)
    // rows identical
    assert(TableLog.snapshot(spark0, root).orderBy("doc_id")
      .collect().toSeq === expect)
    // the ledger records the maintenance op with its file deltas
    val last = TableLog.history(spark0, root).collect().last
    assert(last.getLong(0) === v)
    assert(last.getString(2) === "COMPACT_SMALL")
    assert((last.getLong(3), last.getLong(4)) === ((1L, 4L)))
    // sketch + stats coverage inherited: the metadata distinct still
    // answers and equals the scan-built bank
    val md = TableLog.metadataDistinct(spark0, root, Seq("doc_id"))
    assert(md.isDefined, "compaction must inherit sketch coverage")
    // a NO-OP pass (nothing under 1 byte) plans from the log alone:
    // zero data-file stats, version unchanged
    CountingLocalFs.reset()
    val vNoop = TableLog.compactSmallFiles(spark0, root, "noop",
      targetBytes = 64L << 20, minFileBytes = Some(1L),
      keyCol = Some("doc_id"))
    assert(vNoop === v)
    assert(CountingLocalFs.dataFileStats() === 0,
      "no-op selection must come from logged sizes, not stat calls")
    // sidecar interplay on a PLAIN table: deletes stay in force
    // through compaction — raw rewrite, never a resurrect
    val root2 = s"$local/t2"
    (0 to 2).foreach { k =>
      TableLog.commit(spark0, root2, TableLog.stageWrite(
        rows(k * 100L, k * 100L + 100L).coalesce(1), root2, s"g$k"), Nil)
    }
    TableLog.commitDeletes(Seq(7L, 107L, 207L).toDF("doc_id").coalesce(1),
      root2, "purge")
    TableLog.compactSmallFiles(spark0, root2, "bin",
      targetBytes = 64L << 20)
    assert(TableLog.activeFiles(spark0, root2).length === 1)
    assert(TableLog.activeDeletes(spark0, root2).nonEmpty,
      "compaction must not reset delete sidecars")
    val snap2 = TableLog.snapshot(spark0, root2, None, Some("doc_id"))
    assert(snap2.count() === 297L)
    assert(snap2.filter(col("doc_id").isin(7L, 107L, 207L)).count() === 0L)
  }

  test("metadataDistinctRange: covered files answer from banks, straddlers " +
      "scan into the same window bank; file-aligned windows read no data; " +
      "deletes decline") {
    import graft.operators.TableLog
    import graft.functions.Sketches
    val spark0 = spark
    import spark0.implicits._
    val dir = Files.createTempDirectory("graft_tablelog_mdrange").toString
    val root = s"$dir/t"
    // keys 0..999 range-clustered into 8 files; sketch column u has
    // heavy collisions (i % 97) so windowed distinct != window size
    val df = (0L until 1000L).map(i => (i, i % 97, s"p$i"))
      .toDF("k", "u", "p")
    val (f1, z1) = TableLog.stageWithZoneMap(df, root, "base", "k", 8,
      statsCols = Seq("u"), sketchCols = Seq("u"))
    TableLog.commit(spark0, root, f1, Nil, zmap = z1)
    // ground truth: the SAME register pipeline over a real scan of
    // the window — the range face must equal it bit-for-bit
    def scanBank(lo: Long, hi: Long): (Double, Long, Long) = {
      val hx = Sketches.hashHex(col("u"))
      val r = rawSnapshot(root)
        .filter(col("k") >= lo && col("k") <= hi)
        .select(Sketches.hllBucket(hx).as("b"), Sketches.hllRho(hx).as("r"))
        .agg(graft.plans.HllRegisters.hllRegisters(
          struct(col("b"), col("r")), Sketches.M).as("regs"))
        .select(Sketches.hllEstimate(col("regs")),
          Sketches.nonZero(col("regs")),
          aggregate(col("regs"), lit(0L), (a, x) => a + x))
        .head()
      (r.getDouble(0), r.getLong(1), r.getLong(2))
    }
    def rangeEst(lo: Long, hi: Long): Option[(Double, Long, Long)] =
      TableLog.metadataDistinctRange(spark0, root, "u", "k", lo, hi)
        .map(_.collect().head)
        .map(r => (r.getDouble(1), r.getLong(2), r.getLong(3)))
    // 1) a misaligned window: covered banks + boundary scan must fold
    //    to exactly the full-window-scan bank
    assert(rangeEst(137L, 861L) === Some(scanBank(137L, 861L)))
    // 2) an empty window answers the empty bank (est 0), no error
    assert(rangeEst(2000L, 3000L) === Some(scanBank(2000L, 3000L)))
    // 3) a FILE-ALIGNED window is pure metadata: derive the window
    //    from the sidecar's own key bounds, then delete the data —
    //    the answer must not notice
    val bounds = spark0.read.option("recursiveFileLookup", "true")
      .parquet(s"$root/zmap")
      .filter(col("scol") === "k")
      .select(col("lo_s").cast("long"), col("hi_s").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(bounds.length === 8)
    val (wLo, wHi) = (bounds(2)._1, bounds(5)._2)
    val expect = scanBank(wLo, wHi)
    assert(rangeEst(wLo, wHi) === Some(expect))
    val walk = java.nio.file.Files.walk(
      java.nio.file.Paths.get(dir, "t", "data"))
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally walk.close()
    assert(rangeEst(wLo, wHi) === Some(expect),
      "a file-aligned window must answer without touching data")
    // 4) delete sidecars in force → decline (banks cannot forget)
    TableLog.commitDeletes(Seq(5L).toDF("k").coalesce(1), root, "purge")
    assert(rangeEst(wLo, wHi).isEmpty)
    // 5) the TYPED bound path: a STRING-keyed window (the reference's
    //    own range keys are strings) must fold banks + boundary scan
    //    identically under UTF8 ordering
    val rootS = s"$dir/ts"
    val dfS = (0L until 1000L).map(i => (f"k$i%04d", i % 97, s"p$i"))
      .toDF("sk", "u", "p")
    val (fS, zS) = TableLog.stageWithZoneMap(dfS, rootS, "base", "sk", 8,
      statsCols = Seq("u"), sketchCols = Seq("u"))
    TableLog.commit(spark0, rootS, fS, Nil, zmap = zS)
    val hxS = Sketches.hashHex(col("u"))
    val expS = rawSnapshot(rootS)
      .filter(col("sk") >= "k0137" && col("sk") <= "k0861")
      .select(Sketches.hllBucket(hxS).as("b"), Sketches.hllRho(hxS).as("r"))
      .agg(graft.plans.HllRegisters.hllRegisters(
        struct(col("b"), col("r")), Sketches.M).as("regs"))
      .select(Sketches.hllEstimate(col("regs"))).head().getDouble(0)
    val gotS = TableLog.metadataDistinctRange(spark0, rootS, "u", "sk",
      "k0137", "k0861").map(_.collect().head.getDouble(1))
    assert(gotS === Some(expS))
  }

  test("metadata distinct faces: identical duplicate bank rows merge " +
      "idempotently, CONFLICTING duplicates decline or degrade to the " +
      "scan, and unknown columns return None instead of throwing") {
    import graft.operators.TableLog
    import graft.functions.Sketches
    val spark0 = spark
    import spark0.implicits._
    val dir = Files.createTempDirectory("graft_tablelog_mddup").toString
    val root = s"$dir/t"
    val df = (0L until 400L).map(i => (i, i % 53, s"p$i")).toDF("k", "u", "p")
    val (f1, z1) = TableLog.stageWithZoneMap(df, root, "base", "k", 4,
      statsCols = Seq("u"), sketchCols = Seq("u"))
    TableLog.commit(spark0, root, f1, Nil, zmap = z1)
    val baseEst = TableLog.metadataDistinct(spark0, root, Seq("u"))
      .get.collect().head.getDouble(1)
    // ground truth for the range face: the same register pipeline over
    // a real scan of the window
    def scanEst(c: String, lo: Long, hi: Long): Double = {
      val hx = Sketches.hashHex(col(c))
      rawSnapshot(root)
        .filter(col("k") >= lo && col("k") <= hi)
        .select(Sketches.hllBucket(hx).as("b"), Sketches.hllRho(hx).as("r"))
        .agg(graft.plans.HllRegisters.hllRegisters(
          struct(col("b"), col("r")), Sketches.M).as("regs"))
        .select(Sketches.hllEstimate(col("regs"))).head().getDouble(0)
    }
    // --- unknown columns decline up front, never throw ---
    // sketchCol bogus, window forces the scan path (pre-fix: an
    // AnalysisException from col("nope") mid-probe)
    assert(TableLog.metadataDistinctRange(spark0, root, "nope", "k",
      0L, 399L).isEmpty)
    // sketchCol bogus, EMPTY window (pre-fix: silently answered est 0)
    assert(TableLog.metadataDistinctRange(spark0, root, "nope", "k",
      5000L, 6000L).isEmpty)
    // keyCol bogus
    assert(TableLog.metadataDistinctRange(spark0, root, "u", "nope",
      0L, 399L).isEmpty)
    // ... but a REAL column with no sidecar presence (p: never in
    // statsCols/sketchCols — only the parquet footer proves it) must
    // still serve via the scan, not over-decline
    val pGot = TableLog.metadataDistinctRange(spark0, root, "p", "k",
      100L, 150L).map(_.collect().head.getDouble(1))
    assert(pGot === Some(scanEst("p", 100L, 150L)))
    // --- duplicate bank rows (a second commit carrying a foreign
    // sidecar that re-describes a file the first commit covered) ---
    val zrow = spark0.read.parquet(z1.map(r => s"$root/$r"): _*)
      .filter(col("scol") === "u" && col("hll_s").isNotNull).limit(1).cache()
    // an IDENTICAL duplicate (a re-listed sidecar) is harmless: max
    // is idempotent on equal banks
    zrow.coalesce(1).write.parquet(s"$root/zmap/dup_same")
    TableLog.commit(spark0, root, Nil, Nil, zmap = Seq("zmap/dup_same"))
    assert(TableLog.metadataDistinct(spark0, root, Seq("u"))
      .get.collect().head.getDouble(1) === baseEst)
    // a CONFLICTING well-formed duplicate (a foreign writer claiming
    // different registers for the same file) must not inflate the
    // merge: the global face declines ...
    val badBank = Array.fill(Sketches.M)("1").mkString(",")
    zrow.withColumn("hll_s", lit(badBank)).coalesce(1)
      .write.parquet(s"$root/zmap/dup_conflict")
    TableLog.commit(spark0, root, Nil, Nil, zmap = Seq("zmap/dup_conflict"))
    assert(TableLog.metadataDistinct(spark0, root, Seq("u")).isEmpty,
      "conflicting duplicate banks must decline the global face")
    // ... and the range face serves that file from the SCAN — the
    // answer still equals the full-window scan bank exactly
    val got = TableLog.metadataDistinctRange(spark0, root, "u", "k",
      0L, 399L).map(_.collect().head.getDouble(1))
    assert(got === Some(scanEst("u", 0L, 399L)),
      "a conflicted file must degrade to the scan, not merge a pick")
  }

  test("LogStore seam: non-atomic object-store schemes refuse loudly; a " +
      "check-then-write store double-claims one version (the hazard the " +
      "guard exists for); SingleDriverLogStore serializes racing commits " +
      "through the full commit path") {
    import graft.operators.{LogStore, SingleDriverLogStore, TableLog}
    val spark0 = spark
    import spark0.implicits._
    // 1) the guard: an S3-class scheme with no registered store must
    //    refuse up front, naming the registration fix — never fall
    //    back to a claim that can silently lose a commit
    for (scheme <- Seq("s3a", "s3", "gs")) {
      val err = intercept[RuntimeException] { LogStore.forScheme(scheme) }
      assert(err.getMessage.contains("LogStore.register"),
        s"$scheme must refuse with the registration hint")
    }
    // known-atomic substrates still resolve
    assert(LogStore.forScheme(null) eq graft.operators.PosixLinkLogStore)
    assert(LogStore.forScheme("hdfs") eq graft.operators.ExclusiveCreateLogStore)
    // 2) the hazard itself: a store whose putIfAbsent is
    //    existence-check-then-PUT (what a stock object-store connector
    //    gives) lets two racing claims of ONE version both return true
    //    — a barrier holds both racers past the check to force the
    //    interleaving deterministically
    val dir = Files.createTempDirectory("graft_logstore").toString
    val conf = spark0.sparkContext.hadoopConfiguration
    val lfs = org.apache.hadoop.fs.FileSystem
      .get(new java.net.URI("file:///"), conf)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val naive = new LogStore {
      override def putIfAbsent(f: org.apache.hadoop.fs.FileSystem,
          p: org.apache.hadoop.fs.Path, body: Array[Byte]): Boolean = {
        if (f.exists(p)) false
        else {
          barrier.await(10, java.util.concurrent.TimeUnit.SECONDS)
          val out = f.create(p, true)
          try out.write(body) finally out.close()
          true
        }
      }
    }
    val clash = new org.apache.hadoop.fs.Path(s"$dir/naive/00000.json")
    lfs.mkdirs(clash.getParent)
    def race[A](a: => A, b: => A): (A, A) = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val fa = pool.submit(new java.util.concurrent.Callable[A] {
          def call(): A = a })
        val fb = pool.submit(new java.util.concurrent.Callable[A] {
          def call(): A = b })
        (fa.get(30, java.util.concurrent.TimeUnit.SECONDS),
          fb.get(30, java.util.concurrent.TimeUnit.SECONDS))
      } finally pool.shutdownNow()
    }
    val (c1, c2) = race(
      naive.putIfAbsent(lfs, clash, "writer-A".getBytes("UTF-8")),
      naive.putIfAbsent(lfs, clash, "writer-B".getBytes("UTF-8")))
    assert(c1 && c2,
      "the naive store must exhibit the double-claim — that hazard is " +
        "exactly why unregistered object-store schemes refuse")
    // 3) the single-driver answer end to end: register it for a
    //    non-file test scheme and race two FULL commits — the claims
    //    serialize into distinct versions, never a shared one
    conf.set("fs.graftsd.impl", classOf[SingleDriverTestFs].getName)
    LogStore.register("graftsd", SingleDriverLogStore)
    assert(LogStore.forScheme("graftsd") eq SingleDriverLogStore)
    val root = s"graftsd://$dir/t"
    val go = new java.util.concurrent.CyclicBarrier(2)
    def oneCommit(name: String): Long = {
      val staged = TableLog.stageWrite(
        Seq((1L, name)).toDF("doc_id", "text").coalesce(1), root, name)
      go.await(30, java.util.concurrent.TimeUnit.SECONDS)
      TableLog.commit(spark0, root, staged, Nil)
    }
    val (vA, vB) = race(oneCommit("wa"), oneCommit("wb"))
    assert(Set(vA, vB) === Set(0L, 1L),
      s"racing commits must claim DISTINCT serialized versions, got $vA/$vB")
    // both commits' files are active — neither claim was lost
    assert(TableLog.snapshot(spark0, root).count() === 2L)
    // 4) ExclusiveCreateLogStore: an IOException from create when the
    //    path does NOT exist is a STORE failure, not a lost race — it
    //    must surface (64 silent "lost the race" retries ending in a
    //    misleading version-race error would mask a persistent outage)
    val failing = new org.apache.hadoop.fs.RawLocalFileSystem() {
      override def create(p: org.apache.hadoop.fs.Path,
          overwrite: Boolean): org.apache.hadoop.fs.FSDataOutputStream =
        throw new java.io.IOException("store outage")
    }
    failing.initialize(new java.net.URI("file:///"), conf)
    val outagePath = new org.apache.hadoop.fs.Path(s"$dir/outage/0.json")
    val surfaced = intercept[java.io.IOException] {
      graft.operators.ExclusiveCreateLogStore.putIfAbsent(
        failing, outagePath, "x".getBytes("UTF-8"))
    }
    assert(surfaced.getMessage.contains("not a version race"))
    //    ... while the same exception with the path PRESENT is the
    //    lost race (returns false, no throw)
    lfs.mkdirs(outagePath.getParent)
    val out0 = lfs.create(outagePath, true)
    out0.write("winner".getBytes("UTF-8")); out0.close()
    val failingButExists = new org.apache.hadoop.fs.RawLocalFileSystem() {
      override def create(p: org.apache.hadoop.fs.Path,
          overwrite: Boolean): org.apache.hadoop.fs.FSDataOutputStream =
        throw new java.io.IOException(s"$p already exists")
    }
    failingButExists.initialize(new java.net.URI("file:///"), conf)
    assert(!graft.operators.ExclusiveCreateLogStore.putIfAbsent(
      failingButExists, outagePath, "x".getBytes("UTF-8")),
      "create failure with the entry present is the lost race")
  }

  test("metadataProfile: covered columns profile from the sidecar alone — " +
      "exact counts/bounds, est only where sketched, uncovered columns " +
      "absent, data directory not consulted") {
    import graft.operators.TableLog
    val spark0 = spark
    import spark0.implicits._
    val dir = Files.createTempDirectory("graft_tablelog_mprof").toString
    val root = s"$dir/t"
    // k: key+sketch; u: stats+sketch with NULLs; v: stats only;
    // w: never declared → must be absent from the profile
    val df = (0L until 500L).map { i =>
      (i, if (i % 5 == 0) None else Some(i % 83), s"v${i % 11}", s"w$i")
    }.toDF("k", "u", "v", "w")
    val (f1, z1) = TableLog.stageWithZoneMap(df, root, "base", "k", 4,
      statsCols = Seq("u", "v"), sketchCols = Seq("k", "u"))
    TableLog.commit(spark0, root, f1, Nil, zmap = z1)
    val prof = TableLog.metadataProfile(spark0, root)
    assert(prof.isDefined)
    val rows = prof.get.collect().map(r => r.getString(0) -> r).toMap
    assert(rows.keySet === Set("k", "u", "v"), "w must be absent")
    // exact counts and serialized bounds
    assert(rows("k").getLong(2) === 500L && rows("k").getLong(3) === 0L)
    assert((rows("k").getString(4), rows("k").getString(5)) === (("0", "499")))
    assert(rows("u").getLong(3) === 100L, "u null count must be exact")
    assert((rows("u").getString(4), rows("u").getString(5)) === (("0", "82")))
    assert((rows("v").getString(4), rows("v").getString(5)) === (("v0", "v9")))
    // est_distinct: present exactly where sketched, scan-equal
    import graft.functions.Sketches
    def scanEst(c: String): Double = {
      val hx = Sketches.hashHex(col(c))
      TableLog.snapshot(spark0, root)
        .select(Sketches.hllBucket(hx).as("b"), Sketches.hllRho(hx).as("r"))
        .agg(graft.plans.HllRegisters.hllRegisters(
          struct(col("b"), col("r")), Sketches.M).as("regs"))
        .select(Sketches.hllEstimate(col("regs"))).head().getDouble(0)
    }
    assert(rows("k").getDouble(6) === scanEst("k"))
    assert(rows("u").getDouble(6) === scanEst("u"))
    assert(rows("v").isNullAt(6), "unsketched column must report null est")
    // the profile never consults data: delete the directory, same rows
    val expect = prof.get.collect().toSeq
    val walk = java.nio.file.Files.walk(
      java.nio.file.Paths.get(dir, "t", "data"))
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally walk.close()
    assert(TableLog.metadataProfile(spark0, root).get.collect().toSeq === expect)
    // a foreign writer's CONFLICTING duplicate row for u (wrong
    // count): u must vanish from the profile — an arbitrary pick
    // would report the foreign count as an exact fact — while k and
    // v keep answering
    Seq((TableLog.activeFiles(spark0, root).head, "u", "long",
        Option("0"), Option("82"), 999L, 0L,
        Option.empty[String], Option.empty[String]))
      .toDF("file", "scol", "kind", "lo_s", "hi_s", "n_rows", "n_nulls",
        "sum_s", "hll_s")
      .coalesce(1).write.parquet(s"$root/zmap/foreign")
    TableLog.commit(spark0, root, Nil, Nil, zmap = Seq("zmap/foreign"))
    val afterForeign = TableLog.metadataProfile(spark0, root).get.collect()
      .map(_.getString(0)).toSet
    assert(afterForeign === Set("k", "v"),
      "a conflicting duplicate must drop its column, not pick a row")
    // deletes in force → decline
    TableLog.commitDeletes(Seq(5L).toDF("k").coalesce(1), root, "purge")
    assert(TableLog.metadataProfile(spark0, root).isEmpty)
  }

  test("history is the operation ledger off the log: recorded ops, derived " +
      "classes, byte-exact addmeta sums, commit-clock timestamps, retention " +
      "truncation — zero data-file I/O") {
    import graft.operators.TableLog
    val spark0 = spark
    import spark0.implicits._
    val dir = Files.createTempDirectory("graft_tablelog_hist").toString
    val root = s"$dir/t"
    def rows(lo: Long, hi: Long) =
      (lo until hi).map(i => (i, s"t$i")).toDF("doc_id", "text")
    val t0 = System.currentTimeMillis()
    // v0: plain commit (no op) → derived "append"
    TableLog.commit(spark0, root,
      TableLog.stageWrite(rows(0, 100).coalesce(2), root, "g0"), Nil)
    // v1: schema evolution → recorded EVOLVE_APPEND + schema_change
    val evolved = rows(100, 150).withColumn("lang", lit("en"))
    TableLog.evolveAppend(evolved, root, "g1")
    // v2: delete sidecar → recorded DELETE
    TableLog.commitDeletes(Seq(3L, 5L).toDF("doc_id").coalesce(1),
      root, "purge")
    // v3: OPTIMIZE → recorded, rewrite shape
    TableLog.optimizeTable(spark0, root, "doc_id", "doc_id", "opt", 2)
    val h = TableLog.history(spark0, root).collect()
    assert(h.map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L, 3L))
    assert(h.map(_.getString(2)).toSeq ===
      Seq("append", "EVOLVE_APPEND", "DELETE", "OPTIMIZE"))
    // file-count deltas come straight from the entry
    val v3 = h(3)
    assert(v3.getLong(4) > 0L, "OPTIMIZE must report removed files")
    assert(h(2).getLong(5) === 1L, "DELETE must report its sidecar")
    // bytes_added: the addmeta sum must equal the on-disk bytes of
    // that commit's own files — no stat calls, just the log
    val f0 = h(0)
    val logDir0 = java.nio.file.Paths.get(dir, "t", "_log")
    val entry0 = new String(java.nio.file.Files.readAllBytes(
      logDir0.resolve("%020d.json".format(0L))), "UTF-8")
    val adds0 = "\"add\":\\[([^\\]]*)\\]".r.findFirstMatchIn(entry0)
      .get.group(1).split(",").map(_.stripPrefix("\"").stripSuffix("\""))
    val disk0 = adds0.map(rel =>
      java.nio.file.Files.size(java.nio.file.Paths.get(dir, "t", rel))).sum
    assert(!f0.isNullAt(7) && f0.getLong(7) === disk0,
      s"bytes_added ${f0.get(7)} != on-disk $disk0")
    // ts rides the commit files' own clock: within the test's span,
    // nondecreasing across versions
    val ts = h.map(_.getTimestamp(1).getTime).toSeq
    assert(ts.forall(_ >= t0 - 60000))
    assert(ts === ts.sorted)
    // schema/constraint flags
    assert(h(1).getBoolean(8), "evolveAppend must flag schema_change")
    assert(h.forall(!_.getBoolean(9)))
    // retention: expiry below a checkpoint drops the expired rows —
    // history is the RETAINED ledger, Delta's contract
    TableLog.expireLog(spark0, root, TableLog.writeCheckpoint(spark0, root))
    val h2 = TableLog.history(spark0, root).collect()
    assert(h2.map(_.getLong(0)).toSeq === Seq(3L))
    assert(h2(0).getString(2) === "OPTIMIZE")
  }

  test("metadataDistinct answers from the sidecar banks alone: scan-equal, " +
      "OPTIMIZE-invariant, alive with the data directory GONE; declines on " +
      "meta-less appends and in-force deletes") {
    import graft.operators.TableLog
    import graft.functions.Sketches
    val spark0 = spark
    import spark0.implicits._
    // the SAME register pipeline q70/metadataDistinct use, run as a
    // full scan — the ground truth the metadata answer must equal
    // bit-for-bit (est_distinct is a rounded double; equality is the
    // claim, not closeness)
    def scanDistinct(df: org.apache.spark.sql.DataFrame, c: String)
        : (Double, Long, Long) = {
      val hx = Sketches.hashHex(col(c))
      val r = df
        .select(Sketches.hllBucket(hx).as("b"), Sketches.hllRho(hx).as("r"))
        .agg(graft.plans.HllRegisters.hllRegisters(
          struct(col("b"), col("r")), Sketches.M).as("regs"))
        .select(Sketches.hllEstimate(col("regs")),
          Sketches.nonZero(col("regs")),
          aggregate(col("regs"), lit(0L), (a, x) => a + x))
        .head()
      (r.getDouble(0), r.getLong(1), r.getLong(2))
    }
    def metaDistinct(root: String, cols: Seq[String])
        : Option[Map[String, (Double, Long, Long)]] =
      TableLog.metadataDistinct(spark0, root, cols).map(_.collect()
        .map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2),
          r.getLong(3)))).toMap)
    val dir = Files.createTempDirectory("graft_tablelog_mdist").toString
    val root = s"$dir/t"
    def rows(lo: Long, hi: Long) = (lo until hi)
      .map(i => (i, s"cat${i % 37}", s"payload$i"))
      .toDF("doc_id", "cat", "text")
    val (f1, z1) = TableLog.stageWithZoneMap(rows(0, 500), root, "base",
      "doc_id", 4, statsCols = Seq("cat"),
      sketchCols = Seq("doc_id", "cat"))
    TableLog.commit(spark0, root, f1, Nil, zmap = z1)
    val (f2, z2) = TableLog.stageWithZoneMap(rows(400, 900), root, "more",
      "doc_id", 4, statsCols = Seq("cat"),
      sketchCols = Seq("doc_id", "cat"))
    TableLog.commit(spark0, root, f2, Nil, zmap = z2)
    // 1) per-file banks merged across BOTH commits equal the full-scan
    //    bank on the overlapping union (doc_id 400-499 occur twice —
    //    distinct-ness must come from the registers, not row counts)
    val snap = TableLog.snapshot(spark0, root)
    val expect = Map(
      "doc_id" -> scanDistinct(snap, "doc_id"),
      "cat" -> scanDistinct(snap, "cat"))
    assert(metaDistinct(root, Seq("doc_id", "cat")) === Some(expect))
    // 2) OPTIMIZE rewrites every file into a different partitioning —
    //    banks are value-determined, so the merged bank (and estimate)
    //    must be IDENTICAL, with sketch coverage inherited, not lost
    TableLog.optimizeTable(spark0, root, "doc_id", "doc_id", "opt", 2)
    assert(metaDistinct(root, Seq("doc_id", "cat")) === Some(expect),
      "OPTIMIZE must inherit sketch coverage and preserve the banks")
    // 3) the brutal zero-data-read proof: remove the data directory
    //    entirely — the answer must not notice (log + sidecars only)
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "t", "data"))
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally walk.close()
    assert(metaDistinct(root, Seq("doc_id", "cat")) === Some(expect),
      "metadataDistinct touched the data directory")
    // 4) an unsketched column declines even when others are covered
    assert(metaDistinct(root, Seq("doc_id", "text")).isEmpty)
    // refusal paths on a fresh table (root above has no data files left)
    val root2 = s"$dir/t2"
    val (g1, y1) = TableLog.stageWithZoneMap(rows(0, 300), root2, "base",
      "doc_id", 2, sketchCols = Seq("doc_id"))
    TableLog.commit(spark0, root2, g1, Nil, zmap = y1)
    val before = metaDistinct(root2, Seq("doc_id"))
    assert(before.isDefined)
    // 5) a meta-less append breaks coverage → decline, don't guess
    TableLog.commit(spark0, root2,
      TableLog.stageWrite(rows(1000, 1010), root2, "plain"), Nil)
    assert(metaDistinct(root2, Seq("doc_id")).isEmpty,
      "an unsketched append must make metadataDistinct decline")
    // ... but time travel BEFORE the append still answers
    assert(TableLog.metadataDistinct(spark0, root2, Seq("doc_id"),
      asOf = Some(0L)).isDefined)
    // 6) OPTIMIZE recomputes banks over every live row → answerable
    //    again, now equal to the post-append scan
    TableLog.optimizeTable(spark0, root2, "doc_id", "doc_id", "opt", 2,
      statsCols = Nil)
    // inheritance declared doc_id from the surviving generation's rows
    val after = metaDistinct(root2, Seq("doc_id"))
    assert(after === Some(Map(
      "doc_id" -> scanDistinct(TableLog.snapshot(spark0, root2), "doc_id"))))
    // 7) delete sidecars in force: registers cannot forget → decline
    TableLog.commitDeletes(Seq(5L).toDF("doc_id"), root2, "purge")
    assert(metaDistinct(root2, Seq("doc_id")).isEmpty,
      "in-force delete sidecars must make metadataDistinct decline")
    // 8) a foreign writer's malformed bank (right arity, garbage
    //    registers) DECLINES — never throws mid-probe, never skews
    val root3 = s"$dir/t3"
    val (h1, w1) = TableLog.stageWithZoneMap(rows(0, 100).coalesce(1),
      root3, "base", "doc_id", 1, sketchCols = Seq("doc_id"))
    TableLog.commit(spark0, root3, h1, Nil, zmap = w1)
    assert(metaDistinct(root3, Seq("doc_id")).isDefined)
    val badBank = Seq.fill(256)("x").mkString(",")
    Seq((TableLog.activeFiles(spark0, root3).head, "doc_id", "long",
        Option.empty[String], Option.empty[String], 100L, 0L,
        Option.empty[String], Option(badBank)))
      .toDF("file", "scol", "kind", "lo_s", "hi_s", "n_rows", "n_nulls",
        "sum_s", "hll_s")
      .coalesce(1).write.parquet(s"$root3/zmap/foreign")
    TableLog.commit(spark0, root3, Nil, Nil, zmap = Seq("zmap/foreign"))
    assert(metaDistinct(root3, Seq("doc_id")).isEmpty,
      "a malformed bank must decline the column, not throw or estimate")
    // 9) a misdeclared sketch column fails BEFORE any data lands —
    //    the validation must not burn an O(data) write
    val root4 = s"$dir/t4"
    val e4 = intercept[RuntimeException] {
      TableLog.stageWithZoneMap(rows(0, 10), root4, "b", "doc_id", 1,
        sketchCols = Seq("cat"))
    }
    assert(e4.getMessage.contains("sketch column"))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "t4", "data")),
      "sketch validation must run before the data write")
  }

  test("grouped metadata aggregates: a file-aligned GROUP BY collapses " +
      "to zero scans; straddlers and null groups keep the scan") {
    import graft.operators.TableLog
    val spark0 = spark
    import spark0.implicits._
    val dir = Files.createTempDirectory("graft_tablelog_gagg").toString
    val root = s"$dir/t"
    // three day-aligned commits, the daily-ingest shape: each file
    // provably holds exactly one day (lo == hi, zero nulls)
    val days = Seq("2024-01-01", "2024-01-02", "2024-01-03")
      .map(java.sql.Date.valueOf)
    days.zipWithIndex.foreach { case (day, i) =>
      val df = (0L until 100L).map(j =>
        (day, i * 1000L + j, if (j % 10 == 0) None else Some(j)))
        .toDF("day", "amount", "maybe")
      val (f, zm) = TableLog.stageWithZoneMap(df, root, s"d$i", "day", 1,
        statsCols = Seq("amount", "maybe"))
      TableLog.commit(spark0, root, f, Nil, zmap = zm)
    }
    val snap = TableLog.snapshot(spark0, root)
    val q = snap.groupBy(col("day"))
      .agg(count(lit(1)).as("n"), count(col("maybe")).as("nn"),
        min(col("amount")).as("lo"), max(col("amount")).as("hi"),
        sum(col("amount")).as("s"))
      .orderBy(col("day"))
    val rows = q.collect()
    assert(rows.length === 3)
    rows.zipWithIndex.foreach { case (r, i) =>
      assert(r.getDate(0) === days(i))
      assert(r.getLong(1) === 100L)
      assert(r.getLong(2) === 90L, "count(maybe) must skip the nulls")
      assert(r.getLong(3) === i * 1000L && r.getLong(4) === i * 1000L + 99L)
      assert(r.getLong(5) === (0L until 100L).map(_ + i * 1000L).sum)
    }
    assert(fileScans(q) === 0,
      "a day-aligned grouped aggregate must scan ZERO files")
    // grouped + ALIGNED filter: the excluded day leaves the answer
    val qf = snap.filter(col("day") >= days(1))
      .groupBy(col("day")).agg(count(lit(1)).as("n")).orderBy(col("day"))
    assert(qf.collect().map(_.getLong(1)).toSeq === Seq(100L, 100L))
    assert(fileScans(qf) === 0, "aligned filter + group must collapse")
    // a STRADDLING file (multi-day compaction) keeps the scan, answer
    // stays exact
    val mixed = Seq((days(0), 9000L, Some(1L)), (days(1), 9001L, Some(2L)))
      .toDF("day", "amount", "maybe")
    val (fm, zmm) = TableLog.stageWithZoneMap(mixed, root, "mix", "day", 1,
      statsCols = Seq("amount", "maybe"))
    TableLog.commit(spark0, root, fm, Nil, zmap = zmm)
    val snap2 = TableLog.snapshot(spark0, root)
    val q2 = snap2.groupBy(col("day")).agg(count(lit(1)).as("n"))
      .orderBy(col("day"))
    assert(q2.collect().map(_.getLong(1)).toSeq === Seq(101L, 101L, 100L))
    assert(fileScans(q2) > 0, "a straddling file must force the scan")
    // a NULL-bearing group column keeps the scan (the NULL group is
    // invisible to min/max stats)
    val root2 = s"$dir/t2"
    val nullDf = (0L until 50L).map(j =>
        (if (j < 5) None else Some(days(0)), j))
      .toDF("day", "amount")
    val (fn, zn) = TableLog.stageWithZoneMap(nullDf, root2, "b", "day", 1,
      statsCols = Seq("amount"))
    TableLog.commit(spark0, root2, fn, Nil, zmap = zn)
    val q3 = TableLog.snapshot(spark0, root2)
      .groupBy(col("day")).agg(count(lit(1)).as("n"))
    assert(q3.collect().map(r =>
      Option(r.getDate(0)).map(_.toString).getOrElse("null") -> r.getLong(1))
      .toMap === Map("null" -> 5L, "2024-01-01" -> 45L))
    assert(fileScans(q3) > 0, "a null-bearing group column must scan")
    // grouping on an EXPRESSION (not a stored column) keeps the scan
    val q4 = snap.groupBy((col("amount") % 2).as("par"))
      .agg(count(lit(1)).as("n"))
    assert(q4.collect().map(_.getLong(1)).sum === 300L)
    assert(fileScans(q4) > 0, "expression grouping must scan")
  }

  test("replaceWhere asOf pin: a commit racing between the caller's " +
      "read and the rewrite CONFLICTS instead of silently dropping its " +
      "in-range rows; the re-derived retry commits cleanly") {
    import graft.operators.TableLog
    val spark0 = spark
    import spark0.implicits._
    val root = Files.createTempDirectory("graft_rw_pin").toString + "/t"
    val base = (0L until 100L).map(i => (i, i * 2)).toDF("k", "v")
    val (f0, zm0) = TableLog.stageWithZoneMap(base, root, "base", "k", 4)
    TableLog.commit(spark0, root, f0, Nil, zmap = zm0)
    // the caller (GraftSql's UPDATE shape) reads at v0 and derives its
    // replacement slice from that pinned snapshot
    val readV = TableLog.versions(spark0, root).last
    def deriveAt(v: Long) = graft.operators.TableLog
      .snapshot(spark0, root, Some(v))
      .filter(col("k").between(10L, 20L))
      .withColumn("v", col("v") + 1000L)
    val slice = deriveAt(readV)
    // a concurrent append lands an IN-RANGE row AFTER that read
    TableLog.commit(spark0, root,
      TableLog.stageWrite(Seq((15L, 7L)).toDF("k", "v").coalesce(1),
        root, "race"), Nil)
    // PINNED at the caller's read version, the rewrite must refuse —
    // committing would silently drop the raced k=15 row (an un-pinned
    // rewrite re-reads the head as its own readV and the guard misses
    // the commit in between)
    intercept[java.util.ConcurrentModificationException] {
      TableLog.replaceWhere(spark0, root, "k", 10L, 20L, slice,
        name = "upd", parts = 2, asOf = Some(readV))
    }
    // the conflict-and-retry contract: re-derive at the NEW head and
    // the same rewrite commits cleanly, updating BOTH k=15 rows
    val head = TableLog.versions(spark0, root).last
    TableLog.replaceWhere(spark0, root, "k", 10L, 20L, deriveAt(head),
      name = "upd2", parts = 2, asOf = Some(head))
    val after = TableLog.snapshot(spark0, root)
    assert(after.filter(col("k") === 15L).count() === 2L)
    assert(after.filter(col("k") === 15L && col("v") === 1007L)
      .count() === 1L, "the raced row must be updated, not dropped")
    assert(after.filter(col("k").between(10L, 20L) && col("v") < 1000L)
      .count() === 0L)
  }
}

/** A local filesystem registered under the `graftsd` scheme — the
  * non-`file` substrate for racing [[graft.operators
  * .SingleDriverLogStore]] commits through the scheme registry (a
  * `file://` root would route to the hard-link store instead).
  * Instantiated reflectively by Hadoop. */
class SingleDriverTestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftsd"
  override def getUri: java.net.URI = java.net.URI.create("graftsd:///")
}

/** A local filesystem that COUNTS getFileStatus calls on data parquet
  * files — the proof harness for [[graft.operators.TableLogFileIndex]]
  * building statuses from the log's commit-time metadata instead of
  * one stat RPC per active file — and opens of log entries and
  * checkpoints, the proof that each read folds the log once.
  * Registered under the `graftcnt` scheme by the specs above;
  * instantiated reflectively by Hadoop. */
class CountingLocalFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftcnt"
  override def getUri: java.net.URI = java.net.URI.create("graftcnt:///")
  override def getFileStatus(p: org.apache.hadoop.fs.Path)
      : org.apache.hadoop.fs.FileStatus = {
    CountingLocalFs.record(p)
    super.getFileStatus(p)
  }
  override def open(p: org.apache.hadoop.fs.Path, bufferSize: Int)
      : org.apache.hadoop.fs.FSDataInputStream = {
    CountingLocalFs.recordOpen(p)
    super.open(p, bufferSize)
  }
}
object CountingLocalFs {
  private val dataStats = new java.util.concurrent.atomic.AtomicInteger(0)
  def record(p: org.apache.hadoop.fs.Path): Unit =
    if (p.toUri.getPath.contains("/data/") &&
        p.getName.endsWith(".parquet")) dataStats.incrementAndGet()
  /** Opens of log entries (`.json`) and checkpoints (`.ckpt`) under `_log`,
    * by file name. */
  private val logOpenCounts =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  def recordOpen(p: org.apache.hadoop.fs.Path): Unit =
    if (p.getParent != null && p.getParent.getName == "_log" &&
        (p.getName.endsWith(".json") || p.getName.endsWith(".ckpt")))
      logOpenCounts.merge(p.getName, 1, (a: Integer, b: Integer) => a + b)
  def reset(): Unit = { dataStats.set(0); logOpenCounts.clear() }
  def dataFileStats(): Int = dataStats.get()
  def logOpens(): Map[String, Int] = {
    import scala.jdk.CollectionConverters._
    logOpenCounts.asScala.map { case (k, v) => k -> v.intValue }.toMap
  }

}
