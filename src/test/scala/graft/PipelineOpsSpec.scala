package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Chunker, Cluster, Dedup, Sample, Terms}
import graft.sources.Tables

/** Semantics checks for the round-4 pipeline operators: cluster
  * resolution, TF-IDF, repetition stats, chunking, quantization and
  * mixture sampling. */
class PipelineOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  private def docs = Tables.documents(spark, TestSpark.sf)
  private def emb = Tables.embeddings(spark, TestSpark.sf)

  // ---- connected components ------------------------------------------

  /** Reference model: sequential union-find. */
  private def ufComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def ccOf(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Cluster.connectedComponents(edges.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("connectedComponents labels a path, a clique and singleton edges") {
    // path 1-2-3-4-5 (diameter forces >1 star round), clique {10,11,12},
    // isolated edge (20,21), self-loop (30,30) dropped entirely
    val edges = Seq[(Long, Long)]((1, 2), (2, 3), (3, 4), (4, 5),
      (10, 11), (11, 12), (10, 12), (20, 21), (30, 30))
    val got = ccOf(edges)
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connectedComponents matches union-find on random graphs") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val n = 40 + trial * 20
      val edges = Seq.fill(n)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
        .filter { case (a, b) => a != b }
      assert(ccOf(edges) === ufComponents(edges), s"trial $trial")
    }
  }

  test("canonicalize picks exactly one canonical doc per cluster") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
    val out = Cluster.canonicalize(pairs, "d1", "d2")
    val perCluster = out.groupBy("cluster_id")
      .agg(sum(when(col("is_canonical"), 1).otherwise(0)).as("n_canon"),
        count(lit(1)).as("n_members"), min("doc_id").as("min_doc"),
        first("cluster_id").as("cid"))
    assert(perCluster.filter(col("n_canon") =!= 1).count() === 0)
    assert(perCluster.filter(col("n_members") < 2).count() === 0)
    assert(perCluster.filter(col("min_doc") =!= col("cid")).count() === 0)
  }

  // ---- tf-idf ---------------------------------------------------------

  test("tf-idf: corpus-wide terms score zero, rare terms rank first") {
    val tiny = Seq((1L, "x common common"), (2L, "y common"), (3L, "z common"))
      .toDF("doc_id", "text")
    val out = Terms.topTfidf(tiny, "doc_id", "text", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(4)))
    // 'common' appears in all 3 docs → idf = ln(1) = 0
    assert(out.filter(_._3 == "common").forall(_._4 == 0.0))
    // each doc's rank-1 term is its unique token, tfidf = ln(3)
    val rank1 = out.filter(_._2 == 1L).map(t => t._1 -> t._3).toMap
    assert(rank1 === Map(1L -> "x", 2L -> "y", 3L -> "z"))
  }

  // ---- repetition stats ----------------------------------------------

  test("repetition stats count tokens, distincts and top n-grams") {
    val df = Seq((1L, "a b a b c"), (2L, "w w w w"), (3L, ""), (4L, "solo"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), graft.plans.RepetitionStats.repetitionStats(col("text")).as("r"))
      .select(col("doc_id"), col("r.n_tokens"), col("r.n_distinct"),
        col("r.top_bigram"), col("r.top_trigram"))
    val m = df.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(m(1L) === ((5L, 3L, 2L, 1L))) // "a b" twice; all trigrams unique
    assert(m(2L) === ((4L, 1L, 3L, 2L))) // "w w" ×3, "w w w" ×2
    assert(m(3L) === ((0L, 0L, 0L, 0L)))
    assert(m(4L) === ((1L, 1L, 0L, 0L)))
  }

  test("repetition stats on null text behave as an empty doc (q61 shape)") {
    // the q61 projection coalesces null text to '' — without it a null
    // struct propagates to null fractions while the oracle's
    // outer-join arithmetic yields 0.0 (silent parity break)
    val r = Seq((1L, null.asInstanceOf[String])).toDF("doc_id", "text")
      .select(graft.plans.RepetitionStats.repetitionStats(
        coalesce(col("text"), lit(""))).as("r"))
      .select(col("r.n_tokens"), col("r.top_bigram")).head
    assert(!r.isNullAt(0) && r.getLong(0) === 0L && r.getLong(1) === 0L)
  }

  // ---- chunking -------------------------------------------------------

  test("token chunks cover the doc with the right overlap") {
    val df = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" ")), (2L, ""))
      .toDF("doc_id", "text")
    val out = Chunker.tokenChunks(df, "doc_id", "text", chunkSize = 4, stride = 3)
      .orderBy("doc_id", "chunk_id").collect()
    // starts 0,3,6,9 → lengths 4,4,4,1; empty doc → no chunks
    assert(out.map(_.getLong(0)).forall(_ == 1L))
    assert(out.map(_.getLong(2)).toSeq === Seq(4L, 4L, 4L, 1L))
    assert(out.head.getString(3) === "t1 t2 t3 t4")
    assert(out.last.getString(3) === "t10")
    // every token position is covered by at least one chunk
    val covered = out.flatMap(r => {
      val start = r.getLong(1) * 3
      start until (start + r.getLong(2))
    }).toSet
    assert(covered === (0L until 10L).toSet)
  }

  // ---- quantization ---------------------------------------------------

  test("int8 quantization: exact scale, codes and worst error") {
    val df = Seq((1L, Array(127.0, -127.0, 63.5, 1.0)),
        (2L, Array(0.0, 0.0))).toDF("vec_id", "v")
      .select(col("vec_id"), graft.plans.VecQuant.int8QuantStats(col("v")).as("q"))
      .select(col("vec_id"), col("q.scale"), col("q.sum_q"), col("q.max_abs_err"))
    val m = df.collect().map(r => r.getLong(0) ->
      (r.getDouble(1), r.getLong(2), r.getDouble(3))).toMap
    // amax=127 → scale=1; codes 127,-127,64,1 → sum 65; err: |63.5-64|=0.5
    assert(m(1L) === ((1.0, 65L, 0.5)))
    assert(m(2L) === ((0.0, 0L, 0.0))) // zero vector guarded
  }

  test("quantization error is bounded by scale/2 on the real embeddings") {
    val out = emb.select(graft.plans.VecQuant.int8QuantStats(
        graft.functions.VectorFunctions.asDouble(col("embedding"))).as("q"))
      .select(col("q.scale"), col("q.max_abs_err"))
    assert(out.filter(col("max_abs_err") > col("scale") * 0.5 + 1e-12).count() === 0)
  }

  test("VecSum centroids equal the exploded groupBy formulation") {
    import graft.functions.VectorFunctions.asDouble
    val native = emb.groupBy("label")
      .agg(graft.plans.VecSum.vecSum(asDouble(col("embedding"))).as("s"))
      .select(col("label"), col("s.n").as("n1"), posexplode(col("s.sum")))
      .toDF("label", "n1", "pos", "v1")
    val composed = emb
      .select(col("label"), posexplode(asDouble(col("embedding"))))
      .groupBy("label", "pos")
      .agg(count(lit(1)).as("n2"), sum(col("col")).as("v2"))
    // partial-merge order differs between the two plans, so compare
    // with a tolerance rather than bitwise
    val j = native.join(composed, Seq("label", "pos"))
    assert(j.count() === native.count())
    assert(j.filter(col("n1") =!= col("n2") ||
      abs(col("v1") - col("v2")) > 1e-9).count() === 0)
  }

  test("VecSum rejects dimension mismatches loudly") {
    val bad = Seq((1, Seq(1.0, 2.0)), (1, Seq(1.0, 2.0, 3.0))).toDF("g", "v")
    val ex = intercept[Exception] {
      bad.groupBy("g").agg(graft.plans.VecSum.vecSum(col("v"))).collect()
    }
    assert(ex.getMessage.contains("dimension mismatch") ||
      ex.getCause != null && ex.getCause.getMessage.contains("dimension mismatch"))
  }

  // ---- mixture sampling ----------------------------------------------

  test("mixture sampling is deterministic and sqrt-flattens sources") {
    val out1 = Sample.mixtureBySource(docs, "source", "doc_id", 200)
    val out2 = Sample.mixtureBySource(docs, "source", "doc_id", 200)
    val ids1 = out1.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 === out2.select("doc_id").collect().map(_.getLong(0)).toSet)
    // rates are valid probabilities and equal-size sources get equal rates
    val rates = out1.select("source", "keep_rate").distinct()
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rates.values.forall(r => r > 0.0 && r <= 1.0))
    val counts = docs.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val bySize = rates.groupBy(kv => counts(kv._1)).values
    bySize.foreach(g => assert(g.values.toSet.size === 1,
      "same-size sources must share a rate"))
  }

  test("DSIR weights separate target-like docs; degenerate target scores ~0") {
    // synthetic corpus with DISJOINT vocabularies: target docs speak
    // "alpha", raw-only docs speak "beta" — the importance weight must
    // rank every alpha doc above every beta doc
    val rows = (0L until 40L).map { i =>
      val tgt = i % 2 == 0
      val words = if (tgt) "alpha apple axiom" else "beta bottle basalt"
      (i, s"$words $words tail$i", if (tgt) "en" else "fr")
    }
    val df = rows.toDF("doc_id", "text", "lang")
    val w = Terms.dsirLogWeights(df, "doc_id", "text", col("lang") === "en")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val (alpha, beta) = w.partition(_._1 % 2 == 0)
    assert(alpha.values.min > beta.values.max,
      "every target-vocab doc must outscore every raw-only doc")
    // target == whole corpus → p_target == p_raw → every LLR ~0 (only
    // the floor-quantization epsilon and smoothing remain)
    val self = Terms.dsirLogWeights(df, "doc_id", "text", lit(true))
      .collect().map(_.getLong(2))
    assert(self.forall(v => math.abs(v) <= 10),
      s"self-target weights must be ~0 micro, got ${self.max}")
    // an empty target slice (misspelled predicate) must FAIL FAST, not
    // emit plausible-looking all-zero weights
    val e = intercept[IllegalArgumentException] {
      Terms.dsirLogWeights(df, "doc_id", "text", col("lang") === "nope")
    }
    assert(e.getMessage.contains("target predicate matched no tokens"))
  }
}
