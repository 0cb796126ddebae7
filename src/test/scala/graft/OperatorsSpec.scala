package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Multimodal, Similarity}
import graft.sources.Tables

/** Flaky external-service fake for the Enrich spec. TOP-LEVEL object:
  * Scala serializes top-level modules with readResolve back to the
  * singleton, so local-mode tasks increment THIS counter — a
  * method-local object would deserialize into per-task copies and
  * the driver-side counts would stay zero. */
object EnrichTestSvc extends graft.operators.Enrich.ExternalService {
  val calls = new java.util.concurrent.atomic.AtomicInteger(0)
  override def fetch(k: String, attempt: Int): Option[String] = {
    calls.incrementAndGet()
    if (k == "dead") None                          // never succeeds
    else if (k.toInt % 2 == 0 && attempt < 2) None // flaky: 2 transient fails
    else Some(s"v$k")
  }
}

/** Semantics checks for the operator library at sf0.001. */
class OperatorsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private def docs = Tables.documents(spark, TestSpark.sf)
  private def emb = Tables.embeddings(spark, TestSpark.sf)

  test("removeDuplicateSpans keeps the first occurrence and cuts the rest") {
    import spark.implicits._
    val base = (1 to 20).map(i => s"t$i").mkString(" ") // 20 shared tokens
    val in = Seq(
      (1L, base + " unique tail one"),
      (2L, "prefix words here " + base)).toDF("doc_id", "text")
    val out = Dedup.removeDuplicateSpans(in, "doc_id", "text", win = 16)
      .orderBy("doc_id").collect()
    // doc 1 owns every duplicated window's first occurrence — untouched
    assert(out(0).getAs[Long]("n_removed") === 0L)
    assert(out(0).getAs[String]("new_text") === base + " unique tail one")
    // doc 2's copy of the base is fully covered by its 5 non-canonical
    // windows (offsets 3..7 over 23 tokens) — only the prefix survives
    assert(out(1).getAs[Long]("n_tokens") === 23L)
    assert(out(1).getAs[Long]("n_removed") === 20L)
    assert(out(1).getAs[String]("new_text") === "prefix words here")
  }

  test("scd2 suppresses no-op changes and tiles validity intervals") {
    import spark.implicits._
    val chg = Seq(
      // key A: x, x (no-op), y, null, null (no-op), y again (real change)
      ("A", 1L, 1L, Option("x")), ("A", 2L, 2L, Option("x")),
      ("A", 3L, 3L, Option("y")), ("A", 4L, 4L, Option.empty[String]),
      ("A", 5L, 5L, Option.empty[String]), ("A", 6L, 6L, Option("y")),
      // key B: a single observation
      ("B", 1L, 1L, Option("z")))
      .toDF("k", "ts", "seq", "v")
    val out = graft.operators.Versioning.scd2(chg, "k", "ts", "seq", Seq("v"))
      .orderBy("k", "version").collect()
    val a = out.filter(_.getString(0) == "A")
    assert(a.map(_.getAs[Long]("version")).toSeq === Seq(1L, 2L, 3L, 4L))
    assert(a.map(r => Option(r.getAs[String]("v"))).toSeq ===
      Seq(Some("x"), Some("y"), None, Some("y")))
    // intervals tile: each valid_to equals the next valid_from
    assert(a.init.map(_.getAs[Long]("valid_to")).toSeq ===
      a.tail.map(_.getAs[Long]("valid_from")).toSeq)
    assert(a.init.forall(!_.getAs[Boolean]("is_current")))
    assert(a.last.getAs[Boolean]("is_current") && a.last.get(a.last.fieldIndex("valid_to")) == null)
    val b = out.filter(_.getString(0) == "B")
    assert(b.length === 1 && b.head.getAs[Boolean]("is_current")
      && b.head.getAs[Long]("version") === 1L)
  }

  test("pointInTimeJoin lands every fact on exactly one version") {
    import spark.implicits._
    val chg = Seq(
      ("A", 1L, 1L, "x"), ("A", 5L, 2L, "y"),
      // same-ts double change at t=5: the first creates an EMPTY
      // interval [5,5) that must match nothing
      ("A", 5L, 3L, "z"), ("B", 2L, 1L, "w"))
      .toDF("k", "ts", "seq", "v")
    val hist = graft.operators.Versioning.scd2(chg, "k", "ts", "seq", Seq("v"))
    val facts = Seq(("A", 1L), ("A", 4L), ("A", 5L), ("A", 9L), ("B", 3L))
      .toDF("fk", "fts")
    val out = graft.operators.Versioning
      .pointInTimeJoin(facts, hist, "fk", "k", "fts")
      .select("fk", "fts", "v").orderBy("fk", "fts").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(out.toSeq === Seq(
      ("A", 1L, "x"), ("A", 4L, "x"), ("A", 5L, "z"), ("A", 9L, "z"),
      ("B", 3L, "w")))
  }

  test("profile emits one exact row per column; approx keeps the schema") {
    import spark.implicits._
    val df = Seq(
      (1L, Option("b"), Option(2.5)),
      (2L, Option("a"), Option.empty[Double]),
      (3L, Option.empty[String], Option(2.5)))
      .toDF("id", "s", "x")
    val p = graft.operators.Profile.profile(df).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(p.keySet === Set("id", "s", "x"))
    val id = p("id")
    assert(id.getAs[Long]("n") === 3L && id.getAs[Long]("n_null") === 0L
      && id.getAs[Long]("n_distinct") === 3L
      && id.getAs[Double]("min_num") === 1.0 && id.getAs[Double]("max_num") === 3.0)
    val s = p("s")
    assert(s.getAs[Long]("n_null") === 1L && s.getAs[Long]("n_distinct") === 2L
      && s.getAs[String]("min_str") === "a" && s.getAs[String]("max_str") === "b"
      && s.isNullAt(s.fieldIndex("min_num")))
    val x = p("x")
    assert(x.getAs[Long]("n_null") === 1L && x.getAs[Long]("n_distinct") === 1L
      && x.getAs[Double]("min_num") === 2.5)
    // approx mode: same schema, same row set, cardinalities near-exact
    val ap = graft.operators.Profile.profile(df, exact = false).collect()
    assert(ap.map(_.getString(0)).toSet === Set("id", "s", "x"))
    assert(ap.forall(r => math.abs(r.getAs[Long]("n_distinct")
      - p(r.getString(0)).getAs[Long]("n_distinct")) <= 1))
    // plan shape: exact pays the k-fold Expand for its k
    // count(DISTINCT)s; the sketch profile must run ONE unexpanded
    // pass (that is its whole reason to exist at 100 TB)
    def hasExpand(frame: org.apache.spark.sql.DataFrame): Boolean =
      frame.queryExecution.optimizedPlan.exists {
        case _: org.apache.spark.sql.catalyst.plans.logical.Expand => true
        case _ => false
      }
    assert(hasExpand(graft.operators.Profile.profile(df)),
      "exact profile no longer expands — update this pin")
    assert(!hasExpand(graft.operators.Profile.profile(df, exact = false)),
      "sketch profile must not Expand the scan")
  }

  test("pageRankInt matches the hand-computed integer iterates") {
    import spark.implicits._
    // 1→2, 2→1, 2→3, 3→1; scale 1e6, damping 85/100
    val e = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    def ranks(n: Int): Map[Long, Long] =
      graft.operators.Graph.pageRankInt(e, "src", "dst", iterations = n)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // r1: shares 1e6, 5e5, 1e6 → in(1)=15e5, in(2)=1e6, in(3)=5e5
    assert(ranks(1) === Map(1L -> 1425000L, 2L -> 1000000L, 3L -> 575000L))
    // r2: shares 1425000, 500000, 575000 → in(1)=1075000, in(2)=1425000, in(3)=500000
    assert(ranks(2) === Map(1L -> 1063750L, 2L -> 1361250L, 3L -> 575000L))
  }

  test("pageRankInt never re-exchanges the cached edge list inside the loop") {
    import spark.implicits._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
    val e = Seq.tabulate(2000)(i => ((i % 97).toLong, ((i * 31) % 97).toLong))
      .toDF("src", "dst")
    // force shuffle joins so the plan shape matches the at-scale form
    // (AQE would broadcast a graph this small and mask the property)
    val thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val ranks =
      try graft.operators.Graph.pageRankInt(e, "src", "dst", iterations = 2)
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    ranks.count()
    // walk a physical plan treating nested caches as BOUNDARIES (their
    // data comes from the materialized cache, not their plan) — the
    // boundary scan node itself is still visited
    def shallow(p: SparkPlan): Seq[SparkPlan] = (p match {
      case a: AdaptiveSparkPlanExec   => shallow(a.executedPlan)
      case q: QueryStageExec          => shallow(q.plan)
      case r: ReusedExchangeExec      => shallow(r.child)
      case _: InMemoryTableScanExec   => Seq.empty
      case other                      => other.children.flatMap(shallow)
    }) :+ p
    def caches(p: SparkPlan): Seq[SparkPlan] = shallow(p).collect {
      case s: InMemoryTableScanExec => s.relation.cachedPlan
    }
    // the iterate frames are themselves cached, so the loop-body plans
    // live inside InMemoryRelations — collect every nested cachedPlan
    var plans = Vector(ranks.queryExecution.executedPlan)
    var frontier = caches(plans.head)
    while (frontier.nonEmpty) {
      plans ++= frontier
      frontier = frontier.flatMap(caches)
        .filterNot(f => plans.exists(_ eq f))
    }
    def isEdgeScan(p: SparkPlan): Boolean = p match {
      case s: InMemoryTableScanExec =>
        val names = s.output.map(_.name).toSet
        names == Set("src", "dst")
      case _ => false
    }
    // the edge cache must feed some loop-body plan, and no shuffle may
    // move RAW edge rows — joins/aggregates are boundaries past which
    // data is derived (the O(V) ranks and partial-agg shares that ARE
    // supposed to shuffle). The cached repartition(src) is the only
    // exchange the edge list ever pays.
    def rawEdgeBelow(p: SparkPlan): Boolean = p match {
      case a: AdaptiveSparkPlanExec => rawEdgeBelow(a.executedPlan)
      case q: QueryStageExec        => rawEdgeBelow(q.plan)
      case r: ReusedExchangeExec    => rawEdgeBelow(r.child)
      case s: InMemoryTableScanExec => isEdgeScan(s)
      case _: org.apache.spark.sql.execution.joins.BaseJoinExec => false
      case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => false
      case other => other.children.exists(rawEdgeBelow)
    }
    assert(plans.exists(p => shallow(p).exists(isEdgeScan)),
      "edge cache scan missing from every loop-body plan")
    val offenders = plans.flatMap(p => shallow(p).collect {
      case ex: ShuffleExchangeLike if rawEdgeBelow(ex) => ex
    })
    assert(offenders.isEmpty,
      s"edge list re-exchanged inside the loop:\n${offenders.headOption.fold("")(_.toString)}")
  }

  test("exact dedup groups cover all docs") {
    val groups = Dedup.exactGroups(docs, "doc_id", "text")
    val total = groups.agg(sum("n_copies")).head.getLong(0)
    assert(total === docs.count())
  }

  test("keepLatest keeps exactly one row per key") {
    val out = Dedup.keepLatest(Tables.events(spark, TestSpark.sf),
      Seq("user_id", "event_type"), "ts", "event_id")
    assert(out.groupBy("user_id", "event_type").count()
      .filter(col("count") > 1).count() === 0)
  }

  test("minhash-LSH recovers the exact-Jaccard near-dup pairs") {
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 16, 4, 0.5)
      .select("d1", "d2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // LSH verifies with the same exact Jaccard, so lsh ⊆ exact; at
    // jaccard ≈ 0.97 planted dups, 16 bands × 4 rows recall ≈ 1.
    assert(lsh.subsetOf(exact))
    assert(lsh === exact, s"LSH missed pairs: ${exact -- lsh}")
  }

  test("prefix-filtered Jaccard join equals the naive inverted-index join") {
    import graft.functions.{TextFunctions => TF}
    // naive formulation: every shared shingle generates a pair row
    def naive(threshold: Double) = {
      val sh = docs.select(col("doc_id"),
        explode(array_distinct(transform(
          graft.plans.ShingleTokens.shingleTokens(TF.tokens(col("text")), 3),
          s => xxhash64(s)))).as("s"))
      val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      sh.toDF("d1", "s").join(sh.toDF("d2", "s"), Seq("s"))
        .filter(col("d1") < col("d2"))
        .groupBy("d1", "d2").agg(count(lit(1)).as("inter"))
        .join(broadcast(sizes.toDF("d1", "n1")), "d1")
        .join(broadcast(sizes.toDF("d2", "n2")), "d2")
        .withColumn("jaccard", col("inter") / (col("n1") + col("n2") - col("inter")))
        .filter(col("jaccard") > threshold)
        .select(col("d1"), col("d2"), round(col("jaccard"), 4).as("jaccard"))
    }
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val fast = Dedup.ngramJaccardPairsPrefix(docs, "doc_id", "text", 3, t)
      assert(fast.exceptAll(naive(t)).count() === 0, s"t=$t extra pairs")
      assert(naive(t).exceptAll(fast).count() === 0, s"t=$t missed pairs")
      val plain = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, t)
      assert(plain.exceptAll(fast).count() === 0, s"t=$t plain-vs-prefix")
    }
  }

  test("the prefix join logs its plan-time verify-join strategy, and the plan follows it") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.{Configurator, Property}
    val name = "graft.operators.Dedup"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val probe = new AbstractAppender("dedup-strategy-probe", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    probe.start()
    val oldLevel = LogManager.getLogger(name).getLevel
    Configurator.setLevel(name, Level.INFO)
    val logger = LogManager.getLogger(name).asInstanceOf[CoreLogger]
    logger.addAppender(probe)
    def strategyOf(threshold: String): (String, Boolean) = {
      val key = "spark.sql.autoBroadcastJoinThreshold"
      val old = spark.conf.get(key)
      spark.conf.set(key, threshold)
      try {
        seen.clear()
        val pairs = Dedup.ngramJaccardPairsPrefix(docs, "doc_id", "text", 3, 0.5)
        val msgs = seen.toArray.map(_.toString).filter(_.contains("verify join"))
        assert(msgs.length === 1, s"expected one strategy line, got ${msgs.toSeq}")
        (msgs.head, pairs.queryExecution.optimizedPlan.toString.contains("strategy=shuffle_hash"))
      } finally spark.conf.set(key, old)
    }
    try {
      // sf0.001's shingle lists fit the default threshold: broadcast, no hint
      val (small, smallHinted) = strategyOf("10485760")
      assert(small.contains("threshold 10485760 B -> broadcast"), small)
      assert(small.matches(".*lists estimate \\d+ B.*"), small)
      assert(!smallHinted)
      // broadcasting disabled: the shuffled-hash hint, and the log says so
      val (big, bigHinted) = strategyOf("-1")
      assert(big.endsWith("threshold -1 B -> shuffle_hash"), big)
      assert(bigHinted)
    } finally {
      logger.removeAppender(probe)
      Configurator.setLevel(name, oldLevel)
    }
  }

  test("simhash of near-duplicates is close in hamming distance") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
    val sh = Dedup.simhashTable(docs, "doc_id", "text")
    val joined = pairs
      .join(sh.toDF("d1", "h1"), "d1").join(sh.toDF("d2", "h2"), "d2")
      .withColumn("hamming", bit_count(col("h1").bitwiseXOR(col("h2"))))
    val avgNearDup = joined.agg(avg("hamming")).head.getDouble(0)
    assert(avgNearDup < 12.0, s"near-dup avg hamming $avgNearDup")
  }

  test("LSH ANN results are a subset of brute-force rankings' pool") {
    val probes = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(emb, probes, 10)
    val lsh = Similarity.lshTopK(emb, probes, 10, bits = 4)
    assert(brute.count() === 50)
    assert(lsh.count() > 0)
    // every LSH neighbor must carry the same cosine the brute pass
    // computed for that (probe, nbr) pair
    val b = brute.select(col("probe_id"), col("nbr_id"), col("cos").as("bcos"))
    val mismatch = lsh.join(b, Seq("probe_id", "nbr_id"))
      .filter(abs(col("cos") - col("bcos")) > 1e-9).count()
    assert(mismatch === 0)
  }

  test("native HyperplaneSignature matches the expression-tree formulation") {
    import graft.functions.VectorFunctions
    val dim = 64
    val bits = 8
    // the pre-round-3 bits×dim expression tree, kept here as the
    // independent reference for the native loop's hash/sum/sign math
    def hofSignature(vec: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val bitCols = (0 until bits).map { j =>
        val contrib = (0 until dim).map { d =>
          val h = xxhash64(lit(j), lit(d)).cast("double") / lit(Long.MaxValue.toDouble)
          element_at(vec, d + 1).cast("double") * h
        }.reduce(_ + _)
        when(contrib > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
      }
      bitCols.reduce((a, c) => a.bitwiseOR(c))
    }
    val prepped = emb.select(VectorFunctions.asDouble(col("embedding")).as("v"))
    val mismatch = prepped.select(
        hofSignature(col("v")).as("hof"),
        VectorFunctions.hyperplaneSignature(col("v"), bits).as("native"))
      .filter(col("hof") =!= col("native")).count()
    assert(mismatch === 0)
  }

  test("HyperplaneSignature runs at dim=1024 with a plan-size-independent expression") {
    import graft.functions.VectorFunctions
    import spark.implicits._
    val wide = spark.range(200).select(col("id"),
      transform(sequence(lit(1), lit(1024)),
        x => sin(x.cast("double") * (col("id") + 1))).as("v"))
    val sigs = wide.select(col("id"),
      VectorFunctions.hyperplaneSignature(col("v"), 16).as("sig"))
    assert(sigs.count() === 200)
    // signatures are non-degenerate: different rows land in many buckets
    assert(sigs.select(countDistinct(col("sig"))).head.getLong(0) > 10)
  }

  test("MinHashUnion aggregate equals elementwise min of member signatures") {
    import graft.plans.{MinHashTokens, MinHashUnion}
    import graft.functions.{TextFunctions => TF}
    val sigs = docs.filter(col("source") === "src0")
      .select(MinHashTokens.minhashTokens(TF.tokens(col("text")), 3, 16).as("sig"))
    val manual = sigs.collect().map(_.getSeq[Long](0))
      .reduce((a, b) => a.zip(b).map { case (x, y) => math.min(x, y) }.toSeq)
    val agged = sigs.agg(MinHashUnion.minhashUnion(col("sig"), 16).as("u"))
      .head.getSeq[Long](0)
    assert(agged === manual)
  }

  test("IVF ANN: every result carries the brute-force cosine for its pair") {
    val probes = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(emb, probes, 10)
      .select(col("probe_id"), col("nbr_id"), col("cos").as("bcos"))
    val ivf = Similarity.ivfTopK(emb, probes, 10, nCentroids = 16, nProbe = 4)
    assert(ivf.count() > 0)
    val mismatch = ivf.join(brute, Seq("probe_id", "nbr_id"))
      .filter(abs(col("cos") - col("bcos")) > 1e-9).count()
    assert(mismatch === 0)
  }

  test("IVF ANN plan size is independent of centroid count (single-literal argmax)") {
    val probes = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(emb, probes, 10)
      .select(col("probe_id"), col("nbr_id"), col("cos").as("bcos"))
    // 64 centroids would have been 64 expression subtrees in the old
    // per-centroid formulation; now it's one typedlit + transform
    val ivf = Similarity.ivfTopK(emb, probes, 10, nCentroids = 64, nProbe = 8)
    assert(ivf.count() > 0)
    val mismatch = ivf.join(brute, Seq("probe_id", "nbr_id"))
      .filter(abs(col("cos") - col("bcos")) > 1e-9).count()
    assert(mismatch === 0)
  }

  test("contaminationPairs flags exactly the docs overlapping the benchmark set") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "completely unrelated text about databases and storage engines"),
      (3L, "the quick brown fox jumps over something else entirely today")).toDF("doc_id", "text")
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog again")).toDF("doc_id", "text")
    val hits = Dedup.contaminationPairs(corpus, bench, "doc_id", "text", 3, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // doc 1 shares a long prefix with the benchmark; doc 3 shares only
    // the 3 shingles of "the quick brown fox jumps"; doc 2 shares none
    assert(hits.map(_._1).toSet === Set(1L, 3L))
    assert(hits.forall(_._2 == 100L))
    assert(hits.find(_._1 == 1L).get._3 > hits.find(_._1 == 3L).get._3)
  }

  test("redactPii scrubs emails and phones, leaves clean text alone") {
    import spark.implicits._
    import graft.functions.{TextFunctions => TF}
    val rows = Seq(
      "write to alice.smith+x@mail.example.org or bob@ex.io now",
      "call 555-867-5309 or 123.456.7890 thanks",
      "no pii here, just words and numbers like 42 or 1234567").toDF("t")
    val out = rows.select(TF.redactPii(col("t")).as("r")).collect().map(_.getString(0))
    assert(out(0) === "write to <EMAIL> or <EMAIL> now")
    assert(out(1) === "call <PHONE> or <PHONE> thanks")
    assert(out(2) === "no pii here, just words and numbers like 42 or 1234567")
  }

  test("multimodal resize, frame-sample and feature-extract stages") {
    import graft.operators.Multimodal
    val media = Multimodal.mediaFromDocuments(docs)
    val resized = Multimodal.resize(media)
    val both = media.toDF().select(col("doc_id"), length(col("payload")).as("orig"))
      .join(resized.toDF().select(col("doc_id"), length(col("payload")).as("small")), "doc_id")
    assert(both.filter(col("small") =!= floor((col("orig") + 1) / 2).cast("int")).count() === 0)
    val frames = Multimodal.frameSample(media, frameBytes = 32, stride = 2)
    assert(frames.count() > 0)
    assert(frames.filter(col("frame_idx") % 2 =!= 0).count() === 0)
    val feats = Multimodal.extractFeatures(media)
    assert(feats.filter(size(col("embedding")) =!= 16).count() === 0)
    // L1-normalized histogram sums to ~1
    val sums = feats.toDF().select(graft.functions.VectorFunctions
      .dot(col("embedding"), org.apache.spark.sql.functions.array_repeat(lit(1.0f), 16)).as("s"))
    assert(sums.filter(abs(col("s") - 1.0) > 0.01).count() === 0)
  }

  test("approximate aggregates track exact values") {
    val events = Tables.events(spark, TestSpark.sf)
    val row = events.agg(
      countDistinct(col("user_id")).as("exact"),
      approx_count_distinct(col("user_id")).as("approx"),
      expr("percentile(value, 0.5D)").as("p50"),
      percentile_approx(col("value"), lit(0.5), lit(10000)).as("p50a")).head
    val exact = row.getAs[Long]("exact").toDouble
    assert(math.abs(row.getAs[Long]("approx") - exact) / exact < 0.05)
    val p50 = row.getAs[Double]("p50")
    assert(math.abs(row.getAs[Double]("p50a") - p50) / math.max(p50, 1) < 0.05)
  }

  test("operators tolerate empty inputs") {
    import spark.implicits._
    val noDocs = docs.filter(col("doc_id") < 0)
    assert(Dedup.ngramJaccardPairs(noDocs, "doc_id", "text", 3, 0.5).count() === 0)
    assert(Dedup.minhashLshPairs(noDocs, "doc_id", "text", 3, 16, 4, 0.5).count() === 0)
    assert(Dedup.simhashNearDupPairs(noDocs, "doc_id", "text", 16).count() === 0)
    val noEvents = Tables.events(spark, TestSpark.sf).filter(col("event_id") < 0)
    assert(graft.operators.Sessionize.sessions(noEvents, 1800).count() === 0)
    val noVecs = emb.filter(col("vec_id") < 0)
    assert(Similarity.bruteForceTopK(emb, noVecs, 5).count() === 0)
    assert(Similarity.ivfTopK(noVecs, noVecs, 5, 4, 2).count() === 0)
  }

  test("keyset pagination: pages tile the scan exactly, multi-key cursors included") {
    import spark.implicits._
    import graft.operators.Pagination
    // duplicate first keys force the lexicographic cursor through ties
    val rows = (for { a <- 1 to 4; b <- 1 to 7 } yield (a.toLong, s"k$b", a * 10 + b))
      .toDF("a", "b", "v")
    val stitched = Pagination.stitched(rows, Seq("a", "b"), pageSize = 5)
    assert(stitched.count() === 28)
    assert(stitched.select("a", "b").distinct().count() === 28, "no page overlap")
    // page assignment matches one global rank pass (exact boundaries,
    // short last page included)
    val want = rows.withColumn("page_no",
      (org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("a"), col("b"))) - 1)
        .cast("long") / lit(5L) cast "long")
    assert(stitched.select("a", "b", "page_no").exceptAll(
      want.select("a", "b", "page_no")).count() === 0)
    // single page when the data fits; zero rows stay zero rows
    assert(Pagination.stitched(rows, Seq("a", "b"), 100)
      .agg(max(col("page_no"))).head.getLong(0) === 0L)
    assert(Pagination.stitched(rows.filter(col("a") < 0), Seq("a", "b"), 5).count() === 0)
    // maxPages is a runaway guard: truncates cleanly at the page boundary
    assert(Pagination.stitched(rows, Seq("a", "b"), 5, maxPages = 2).count() === 10)
    // sharded drain: concurrent per-shard cursors tile the same scan
    // (incl. shards whose slice is empty — here a > 4 never holds mod 8)
    val sharded = Pagination.shardedStitched(rows, Seq("a", "b"), pageSize = 3, shards = 8)
    assert(sharded.count() === 28)
    assert(sharded.select("a", "b").distinct().count() === 28)
    // within a shard, page assignment matches the per-shard rank pass
    val wantSh = rows.withColumn("shard", pmod(col("a"), lit(8)).cast("long"))
      .withColumn("page_no",
        (org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("shard"))
            .orderBy(col("a"), col("b"))) - 1)
          .cast("long") / lit(3L) cast "long")
    assert(sharded.select("shard", "a", "b", "page_no").exceptAll(
      wantSh.select("shard", "a", "b", "page_no")).count() === 0)
  }

  test("pagination page budget caps the drain; exhaustion proof survives on real events") {
    import spark.implicits._
    import graft.operators.Pagination
    val rows = (1 to 28).map(i => (i.toLong, i * 10)).toDF("a", "v")
    // budget bites: exactly pages × pageSize rows, first pages only
    val b = Pagination.stitched(rows, Seq("a"), pageSize = 5, pages = Some(2))
    assert(b.count() === 10)
    assert(b.agg(max(col("a"))).head.getLong(0) === 10L)
    // budget beyond the data is harmless: identical to exhaustion
    assert(Pagination.stitched(rows, Seq("a"), 5, pages = Some(100)).count() === 28)
    // the to-exhaustion ≡ full-scan proof the benched q90 budget
    // replaced — kept here on the same sf0.01 events day
    val day = Tables.events(spark, TestSpark.sf)
      .filter(col("ts") >= lit("2024-01-05 00:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-06 00:00:00").cast("timestamp"))
      .select(col("event_id"), col("user_id"))
    val drained = Pagination.stitched(day, Seq("event_id"), pageSize = 250)
    assert(drained.count() === day.count())
    assert(drained.select("event_id").exceptAll(day.select("event_id")).count() === 0)
  }

  test("sharded pagination: a poisoned shard fails fast, named by shard id") {
    import spark.implicits._
    import graft.operators.Pagination
    // through parquet: a local Seq would be folded by
    // ConvertToLocalRelation, evaluating the trap for every row at
    // OPTIMIZATION time — before any shard filter exists
    val dir = java.nio.file.Files.createTempDirectory("graft_poison").toString
    (1 to 20).map(i => (i.toLong, 1L)).toDF("a", "v")
      .write.mode("overwrite").parquet(dir)
    // shard 1's boundary fetch hits an invalid array index at runtime;
    // other shards stay healthy — the failure must carry the shard id
    val poisoned = spark.read.parquet(dir).withColumn("trap",
      element_at(array(col("v")),
        when(pmod(col("a"), lit(4)) === 1, lit(2)).otherwise(lit(1))))
    val e = intercept[RuntimeException] {
      Pagination.shardedStitched(poisoned, Seq("a", "trap"), pageSize = 5,
        shards = 4, timeoutSec = 120L)
    }
    assert(e.getMessage.contains("shard 1"),
      s"expected shard id in failure, got: ${e.getMessage}")
  }

  test("multimodal PNG path: real encode emits PNG bytes, real decode round-trips") {
    import graft.operators.Multimodal
    val docs = Tables.documents(spark, TestSpark.sf).filter(col("doc_id") < 5)
    val pngs = Multimodal.pngFromDocuments(docs).collect()
    assert(pngs.length === 5)
    // every payload is a genuine PNG (magic bytes), not a stub blob
    pngs.foreach { r =>
      val sig = r.png.take(8).map(_ & 0xff)
      assert(sig.sameElements(Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)),
        s"doc ${r.doc_id}: payload is not PNG")
    }
    // decoded dims equal the generator's (8 + n_chars%24, 8 + n_chars%16)
    val stats = Multimodal.decodeImageStats(
      Multimodal.pngFromDocuments(docs)).toDF()
    val want = docs.select(col("doc_id"),
      (lit(8) + col("n_chars") % 24).cast("int").as("img_w"),
      (lit(8) + col("n_chars") % 16).cast("int").as("img_h"))
    assert(stats.select("doc_id", "img_w", "img_h")
      .exceptAll(want).count() === 0)
    // channel means live in [0, 256)
    val bad = stats.filter(col("r_mean") < 0 || col("r_mean") >= 256 ||
      col("g_mean") < 0 || col("g_mean") >= 256 ||
      col("b_mean") < 0 || col("b_mean") >= 256).count()
    assert(bad === 0)
  }

  test("external enrichment: distinct-first calls, retry absorption, fail-open") {
    import spark.implicits._
    import graft.operators.Enrich
    val Svc = EnrichTestSvc
    Svc.calls.set(0)
    // duplicate keys + a null key: calls must count DISTINCT non-null keys
    val df = Seq(Some(1), Some(2), Some(2), Some(3), Some(4), None)
      .toDF("k")
    val out = Enrich.externalLookup(df, "k", "detail", Svc,
      maxRetries = 2, backoffMs = 0)
    // ONE action: every action re-runs the lazy plan and re-calls the
    // service (documented contract), so all row assertions read one
    // collect
    val rows = out.collect().map(r =>
      Option(r.get(0)).map(_.toString).orNull -> r.getString(1))
    assert(rows.length === 6, "duplicate rows all enriched via join-back")
    assert(rows.toMap === Map("1" -> "v1", "2" -> "v2", "3" -> "v3", "4" -> "v4", null.asInstanceOf[String] -> null))
    assert(rows.count(_._1 == "2") === 2)
    // 4 distinct keys; evens (2,4) took 3 attempts, odds (1,3) took 1
    assert(Svc.calls.get() === 4 + 2 * 2, s"calls = ${Svc.calls.get()}")
    // fail-open: a key that exhausts its budget enriches as null
    Svc.calls.set(0)
    val dead = Enrich.externalLookup(Seq("dead").toDF("k"), "k", "detail", Svc,
      maxRetries = 2, backoffMs = 0)
    assert(dead.head.isNullAt(1))
    assert(Svc.calls.get() === 3, "budget = 1 + maxRetries attempts")
    // fail-closed: the same exhaustion fails the job instead
    val ex = intercept[org.apache.spark.SparkException] {
      Enrich.externalLookup(Seq("dead").toDF("k"), "k", "detail", Svc,
        maxRetries = 1, backoffMs = 0, failOpen = false).collect()
    }
    assert(ex.getMessage.contains("external lookup failed") ||
      Option(ex.getCause).exists(_.getMessage.contains("external lookup failed")))
  }

  test("log search elects the latest stream and ranks recent matches") {
    import spark.implicits._
    import graft.operators.Logs
    def t(m: Int) = new java.sql.Timestamp(1700000000000L + m * 60000L)
    val logs = Seq(
      // group g1: stream 1 active early, stream 2 active latest
      (1L, t(1), 1L, "g1", "keep a"), (2L, t(2), 1L, "g1", "keep b"),
      (3L, t(10), 2L, "g1", "keep c"), (4L, t(11), 2L, "g1", "drop"),
      (5L, t(12), 2L, "g1", "keep d"),
      // group g2: single stream; one event outside the time bound
      (6L, t(-500), 3L, "g2", "keep old"), (7L, t(5), 3L, "g2", "keep new"))
      .toDF("event_id", "ts", "user_id", "event_type", "props")
    val out = Logs.latestStreamEvents(logs, "event_type", "user_id", "ts",
        "event_id", "props", from = lit(t(0)), pattern = "keep", limit = 2)
      .collect().map(r => (r.getAs[String]("event_type"), r.getAs[Long]("rn"),
        r.getAs[Long]("event_id"))).toSet
    // g1 → stream 2 (latest activity): matches at t12 (id 5) then t10 (id 3);
    // the non-matching id 4 is skipped, stream 1's rows never rank.
    // g2 → stream 3: only id 7 is inside the time bound.
    assert(out === Set(("g1", 1L, 5L), ("g1", 2L, 3L), ("g2", 1L, 7L)))
  }

  test("dhash: brightness-invariant (the perceptual property), gradient-sensitive") {
    def gray(id: Long, w: Int, h: Int)(f: (Int, Int) => Int): Multimodal.ImageRow = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val v = f(x, y)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      Multimodal.ImageRow(id, bos.toByteArray)
    }
    import spark.implicits._
    val pat = (x: Int, y: Int) => (x * 7 + y * 11) % 200
    val rows = Seq(
      gray(1, 20, 12)(pat),
      gray(2, 20, 12)((x, y) => pat(x, y) + 40), // +40 luma everywhere, no clip
      gray(3, 20, 12)((x, y) => 200 - pat(x, y))) // reversed gradients
    val hs = Multimodal.dhash(spark.createDataset(rows)).collect()
      .map(r => r.doc_id -> r.dhash).toMap
    assert(hs(1L) === hs(2L), "a constant brightness shift must not change the dhash")
    assert(hs(1L) !== hs(3L), "reversed gradients must change the dhash")
  }

  test("audio decode: a hand-built clip round-trips through the WAV codec exactly") {
    import spark.implicits._
    // clip with KNOWN stats: samples [100, -200, 300, 0, -1]
    // peak 300; sum_sq 10000+40000+90000+0+1 = 140001
    // crossings: +100→-200 (1), -200→+300 (2), 300→0 stays >=0, 0→-1 (3)
    val samples = Seq(100, -200, 300, 0, -1)
    val data = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (s, i) =>
      data(2 * i) = (s & 0xff).toByte; data(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, samples.length.toLong),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val out = Multimodal.decodeAudioStats(
      spark.createDataset(Seq(Multimodal.AudioRow(7L, bos.toByteArray)))).head()
    assert(out.n_samples === 5L)
    assert(out.peak === 300)
    assert(out.sum_sq === 140001L)
    assert(out.zero_crossings === 3L)
  }

  test("multimodal decode stub computes n_bytes and checksum") {
    val feats = Multimodal.decodeFeatures(
      Multimodal.mediaFromDocuments(docs)).cache()
    val joined = feats.toDF().join(docs, "doc_id")
      .filter(col("n_bytes") =!= length(col("text"))).count()
    assert(joined === 0) // ascii corpus: bytes == chars
    assert(feats.filter(col("checksum") <= 0).count() === 0)
  }
}
