package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.sources.Sinks

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k — the PROBE side is broadcast
  * (probes are a small query set), so the big corpus is scanned exactly
  * once with no shuffle of the corpus itself; only the per-probe top-k
  * reduction shuffles k rows per probe per partition.
  *
  * Scale path: random-hyperplane LSH bucketing — corpus and probes are
  * signed into nBits-bit buckets; candidate scoring happens only inside
  * a probe's bucket, pruning the scan by ~2^bits for balanced data.
  */
object Similarity {

  /** Project (id, double-vector, norm) once — every pair comparison
    * afterwards is a single dot product. */
  private def prepped(df: DataFrame, idAs: String, vecAs: String, normAs: String): DataFrame =
    df.select(col("vec_id").as(idAs),
      VectorFunctions.asDouble(col("embedding")).as(vecAs))
      .withColumn(normAs, sqrt(VectorFunctions.dotD(col(vecAs), col(vecAs))))

  /** Exact top-k by cosine for each probe vector. */
  def bruteForceTopK(corpus: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    val scored = prepped(corpus, "nbr_id", "cv", "cn")
      .crossJoin(broadcast(prepped(probes, "probe_id", "pv", "pn")))
      .filter(col("probe_id") =!= col("nbr_id"))
      .withColumn("cos", VectorFunctions.cosinePre(col("cv"), col("pv"), col("cn"), col("pn")))
    val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("nbr_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank").cast("long").as("rank"), col("nbr_id"), round(col("cos"), 6).as("cos"))
  }

  /** IVF-flat ANN: partition the corpus into cells around deterministic
    * centroids (hash-rank-sampled corpus vectors), assign each probe to
    * its nProbe nearest cells, score only inside those cells.
    *
    * Scale shape: the tiny centroid set is selected with a distributed
    * top-n (per-partition top-n, merge n×partitions at the driver — no
    * global sort), collected once, and inlined as literal vectors; cell
    * assignment is then a MAP-ONLY per-row argmax over the literal
    * array — no cross-join, no window, no shuffle of the corpus at all.
    * The candidate join is an equi-join on cell id. Corpus assignment
    * is computed once — in a real deployment it would be materialized
    * alongside the embeddings (partitioned by cell) so queries prune at
    * the scan. */
  /** The IVF training path alone — hash-rank seed + `refineIters`
    * Lloyd rounds — exposed so callers can train once per
    * (dataset, params) via [[Training.cached]] and pass the artifact
    * back into [[ivfTopK]]'s `trained` parameter. */
  def trainIvfCentroids(corpus: DataFrame, nCentroids: Int,
                        refineIters: Int): Array[(Long, Seq[Double], Double)] =
    refineCents(corpus, hashRankCents(corpus, nCentroids), refineIters)

  def ivfTopK(corpus: DataFrame, probes: DataFrame, k: Int,
              nCentroids: Int, nProbe: Int, refineIters: Int = 0,
              trained: Option[Array[(Long, Seq[Double], Double)]] = None): DataFrame = {
    // deterministic centroids: first nCentroids corpus vectors by
    // md5(vec_id) order (hash-rank sample, engine-independent), then
    // optional Lloyd refinement. orderBy(...).limit(n) plans as
    // TakeOrderedAndProject: each task keeps n rows, the driver
    // merges — nothing like a global sort.
    val centroids = trained.getOrElse(refineCents(corpus,
      hashRankCents(corpus, nCentroids), refineIters))
    if (centroids.isEmpty)
      return probes.select(col("vec_id").as("probe_id"), lit(0L).as("rank"),
        col("vec_id").as("nbr_id"), lit(0.0).as("cos")).limit(0)
    // per-row nearest cells: ONE native expression carrying the
    // centroid set as data (plan size independent of nCentroids) —
    // a transform/sort_array HOF over a typedlit would evaluate
    // nCentroids INTERPRETED dot products per corpus row, the exact
    // hot-path trap the native tier exists to avoid. Ordering is
    // (neg sim, cent_id) ascending == sim desc, cent_id asc — the
    // original window ordering, exactly
    def cells(vecAs: String, normAs: String, keep: Int) =
      graft.plans.NearestCells.nearestCells(
        col(vecAs), col(normAs), centroids.toSeq, keep)
    def assign(df: DataFrame, idAs: String, vecAs: String, normAs: String, keep: Int) =
      prepped(df, idAs, vecAs, normAs)
        .select(col(idAs), col(vecAs), col(normAs),
          explode(cells(vecAs, normAs, keep)).as("cell"))
    val c = assign(corpus, "nbr_id", "cv", "cn", 1)
    val p = assign(probes, "probe_id", "pv", "pn", nProbe)
    val scored = c.join(broadcast(p), Seq("cell"))
      .filter(col("probe_id") =!= col("nbr_id"))
      .withColumn("cos", VectorFunctions.cosinePre(col("cv"), col("pv"), col("cn"), col("pn")))
    val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("nbr_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank").cast("long").as("rank"),
        col("nbr_id"), round(col("cos"), 6).as("cos"))
  }

  /** HARD-NEGATIVE mining for contrastive training: for each anchor,
    * the top-k most-similar corpus vectors whose `labelCol` DIFFERS
    * from the anchor's — the nearest wrong-class examples a
    * metric-learning / embedding-training batch builder wants
    * (highest-loss negatives), mined through IVF cell pruning rather
    * than an all-pairs label cross join. The embedding-space lift of
    * the reference's negative preference feedback (web_api.py
    * get_recommendations penalizes disliked genres when ranking).
    *
    * Scale shape: identical to [[ivfTopK]] — centroids are the
    * deterministic hash-rank set, inlined as expression data; corpus
    * cell assignment is map-only; the candidate join is an equi-join
    * on cell id with the (small) anchor set broadcast. The label
    * inequality rides that join as a residual predicate, so
    * wrong-class filtering costs nothing beyond the cell join it
    * already prunes — no per-label index, no second shuffle. Like
    * q104's filtered probe (and unlike post-filtering a top-k), every
    * anchor still gets k SURVIVING negatives. */
  def hardNegativesTopK(corpus: DataFrame, anchors: DataFrame, k: Int,
                        nCentroids: Int, nProbe: Int,
                        labelCol: String = "label"): DataFrame = {
    val centroids = hashRankCents(corpus, nCentroids)
    if (centroids.isEmpty)
      return anchors.select(col("vec_id").as("probe_id"), lit(0L).as("rank"),
        col("vec_id").as("nbr_id"), col(labelCol).as("nbr_label"),
        lit(0.0).as("cos")).limit(0)
    def cells(vecAs: String, normAs: String, keep: Int) =
      graft.plans.NearestCells.nearestCells(
        col(vecAs), col(normAs), centroids.toSeq, keep)
    def assign(df: DataFrame, idAs: String, vecAs: String, normAs: String,
               labAs: String, keep: Int) =
      df.select(col("vec_id").as(idAs),
          VectorFunctions.asDouble(col("embedding")).as(vecAs),
          col(labelCol).as(labAs))
        .withColumn(normAs, sqrt(VectorFunctions.dotD(col(vecAs), col(vecAs))))
        .select(col(idAs), col(vecAs), col(normAs), col(labAs),
          explode(cells(vecAs, normAs, keep)).as("cell"))
    val c = assign(corpus, "nbr_id", "cv", "cn", "nbr_label", 1)
    val p = assign(anchors, "probe_id", "pv", "pn", "anchor_label", nProbe)
    val scored = c.join(broadcast(p), Seq("cell"))
      .filter(col("nbr_label") =!= col("anchor_label"))
      .withColumn("cos", VectorFunctions.cosinePre(col("cv"), col("pv"), col("cn"), col("pn")))
    val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("nbr_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank").cast("long").as("rank"),
        col("nbr_id"), col("nbr_label"), round(col("cos"), 6).as("cos"))
  }

  /** Product-quantization ANN (Jégou et al. TPAMI 2011): vectors are
    * split into `dim/blockDim` contiguous sub-vectors, each encoded as
    * the index of its nearest codebook entry, and probe↔corpus
    * distance is estimated by ADC — Σ over blocks of the probe's
    * PRECOMPUTED distance to the corpus code's centroid.
    *
    * Scale shape: the codebook is deterministic (hash-rank corpus
    * vectors, the q41 centroid rule) and tiny; corpus encoding is a
    * MAP-ONLY native expression ([[graft.plans.PqCodes]]) — after it,
    * every corpus vector is `blocks` longs (64 dims × 8 bytes →
    * 8 bytes: a 64× compression of what ANN scoring ever touches
    * again). Each probe's distance table is computed once
    * (blocks×nCentroids doubles, broadcast with the probe), and pair
    * scoring is a native table lookup ([[graft.plans.PqAdc]]) that
    * never reads raw vectors — the memory-bound regime real
    * billion-vector deployments run in. Compose with IVF cells (q41)
    * for candidate pruning on top. */
  /** Deterministic centroid/codebook set: first n corpus vectors in
    * md5(vec_id) order — TakeOrderedAndProject + a bounded collect,
    * inlined as expression data (never a shuffle of the corpus). */
  private def hashRankCents(corpus: DataFrame, n: Int): Array[(Long, Seq[Double], Double)] =
    prepped(corpus, "cent_id", "centv", "centn")
      .orderBy(md5(col("cent_id").cast("string").cast("binary")), col("cent_id"))
      .limit(n)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))

  /** Quantization scale for training sums: coordinates are snapped to
    * 1/2^20 grid BEFORE accumulation, so per-cell sums are exact long
    * arithmetic — associative, commutative, hence BIT-IDENTICAL under
    * any partition fold order. floor(x·S + 0.5) (not round()) because
    * engines disagree on half-even vs half-away ties; floor is
    * bit-defined everywhere, which is what lets the DuckDB oracle
    * replay training exactly. */
  private val TrainScale = 1048576.0 // 2^20

  /** Elementwise quantize an array<double> column to array<long>. */
  private def quantized(v: Column): Column =
    transform(v, x => floor(x * lit(TrainScale) + lit(0.5)).cast("long"))

  /** Deterministic Lloyd (k-means) refinement of a centroid seed:
    * assign every corpus vector to its nearest current centroid (the
    * same map-only native argmax the query path uses), average per
    * cell with the bounded [[graft.plans.VecSumLong]] aggregate over
    * QUANTIZED coordinates (one dim-length long buffer per cell,
    * map-side combined, order-free exact integer sums), and keep the
    * old centroid for any empty cell. Each iteration is one scan +
    * one bounded aggregate + a ≤ nCentroids collect — the standard
    * IVF training loop, BIT-DETERMINISTIC end to end: the seed is
    * hash-rank (no RNG), integer sums kill fold-order drift, and the
    * mean is one fixed double expression sum/(n·scale) per
    * coordinate. That is what lets q91 oracle a refineIters=2 path
    * (the DuckDB replay computes the identical integers). */
  private def refineCents(corpus: DataFrame,
                          seed: Array[(Long, Seq[Double], Double)],
                          iters: Int): Array[(Long, Seq[Double], Double)] = {
    var cur = seed
    if (seed.isEmpty) return cur
    for (_ <- 0 until iters) {
      val means = prepped(corpus, "vid", "v", "vn")
        .select(explode(graft.plans.NearestCells.nearestCells(
          col("v"), col("vn"), cur.toSeq, 1)).as("cell"), quantized(col("v")).as("q"))
        .groupBy(col("cell"))
        .agg(graft.plans.VecSumLong.vecSumLong(col("q")).as("s"))
        .select(col("cell"), col("s.n").as("n"), col("s.sum").as("sum"))
        .collect()
        .map { r =>
          val n = r.getLong(1)
          val mean = r.getSeq[Long](2).map(_.toDouble / (n.toDouble * TrainScale))
            .toIndexedSeq
          r.getLong(0) -> mean
        }.toMap
      cur = cur.map { case (id, v, nrm) =>
        means.get(id) match {
          case Some(m) =>
            val norm = math.sqrt(m.map(x => x * x).sum)
            if (norm > 0.0) (id, m, norm) else (id, v, nrm)
          case None => (id, v, nrm) // empty cell keeps its seed
        }
      }
    }
    cur
  }

  /** Per-block Lloyd refinement of the PQ codebook — true PQ training
    * (Jégou §II.C): each block's sub-codebook is refined on that
    * block's sub-vectors independently. One pass per iteration:
    * encode with the current codebook (native [[graft.plans.PqCodes]]),
    * posexplode the code word to (block, code), slice the matching
    * sub-vector, and VecSumLong over QUANTIZED coordinates per
    * (block, code) — bounded at blocks × nCentroids buffers, and
    * bit-deterministic for the same reason as [[refineCents]].
    * Codebook entries stay full-length vectors (block b's slice =
    * that block's centroid c), preserving the storage layout the
    * untrained path uses. */
  private def refinePqCodebook(corpus: DataFrame, seed: Seq[Seq[Double]],
                               blocks: Int, blockDim: Int, iters: Int): Seq[Seq[Double]] = {
    var cur = seed
    if (seed.isEmpty) return cur
    for (_ <- 0 until iters) {
      val means = prepped(corpus, "vid", "v", "vn")
        .select(posexplode(graft.plans.PqCodes.pqCodes(
          col("v"), cur, blocks, blockDim)).as(Seq("b", "code")),
          col("v"))
        .select(col("b"), col("code"),
          quantized(slice(col("v"), col("b") * blockDim + 1, lit(blockDim))).as("sub"))
        .groupBy(col("b"), col("code"))
        .agg(graft.plans.VecSumLong.vecSumLong(col("sub")).as("s"))
        .select(col("b"), col("code"), col("s.n").as("n"), col("s.sum").as("sum"))
        .collect()
        .map { r =>
          val n = r.getLong(2)
          (r.getInt(0), r.getLong(1)) ->
            r.getSeq[Long](3).map(_.toDouble / (n.toDouble * TrainScale)).toIndexedSeq
        }.toMap
      cur = cur.zipWithIndex.map { case (entry, c) =>
        (0 until blocks).flatMap { b =>
          means.getOrElse((b, c.toLong),
            entry.slice(b * blockDim, (b + 1) * blockDim))
        }
      }
    }
    cur
  }

  /** Per-probe ADC table: table[b][c] = squared L2 between the
    * probe's block-b sub-vector (column `pv`) and codebook entry c.
    * Probes are a tiny broadcast set, so an interpreted HOF over the
    * literal codebook is fine here — the per-row hot path is the
    * corpus side, which is native. Fold order (ascending dim) matches
    * the native encoder exactly. */
  private def adcTable(codebook: Seq[Seq[Double]], blocks: Int, blockDim: Int): Column = {
    val centsLit = typedlit(codebook.map(_.toIndexedSeq).toIndexedSeq)
    transform(sequence(lit(0), lit(blocks - 1)), b =>
      transform(centsLit, cvv =>
        aggregate(sequence(lit(0), lit(blockDim - 1)), lit(0.0), (a, i) => {
          val idx = b * blockDim + i + 1 // element_at is 1-based
          val d = element_at(col("pv"), idx) - element_at(cvv, idx)
          a + d * d
        })))
  }

  private def emptyPqResult(probes: DataFrame): DataFrame =
    probes.select(col("vec_id").as("probe_id"), lit(0L).as("rank"),
      col("vec_id").as("nbr_id"), lit(0.0).as("adc_dist")).limit(0)

  /** Exact-cosine re-rank of an ADC shortlist (the FAISS
    * `IndexRefineFlat` pattern): the quantized index nominates
    * `shortlist` candidates per probe, then ONLY those rows read
    * their raw vectors for exact scoring — ADC's distortion decides
    * what to read, never the final order. The raw-vector join is an
    * equi-join on nbr_id against a (probes × shortlist)-row frame:
    * tiny relative to the corpus, so the memory-bound ADC win stands.
    * Output matches bruteForceTopK's schema (cos, not adc_dist). */
  private def rerankExact(shortlist: DataFrame, corpus: DataFrame,
                          probes: DataFrame, k: Int): DataFrame = {
    val c = prepped(corpus, "nbr_id", "cv", "cn")
    val p = prepped(probes, "probe_id", "pv", "pn")
    val scored = shortlist.select(col("probe_id"), col("nbr_id"))
      .join(c, "nbr_id")
      .join(broadcast(p), "probe_id")
      .withColumn("cos", VectorFunctions.cosinePre(col("cv"), col("pv"), col("cn"), col("pn")))
    val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("nbr_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank").cast("long").as("rank"),
        col("nbr_id"), round(col("cos"), 6).as("cos"))
  }

  /** The PQ training path alone (hash-rank seed + `refineIters`
    * per-block Lloyd rounds) — the [[trainIvfCentroids]] counterpart
    * for [[pqTopK]]'s `trainedCodebook`. */
  def trainPqCodebook(corpus: DataFrame, nCentroids: Int, blockDim: Int,
                      refineIters: Int): Seq[Seq[Double]] = {
    val seed = hashRankCents(corpus, nCentroids).map(_._2).toSeq
    if (seed.isEmpty) return seed
    val dim = seed.head.length
    require(dim >= blockDim && dim % blockDim == 0,
      s"trainPqCodebook: embedding dim $dim must be a positive multiple of blockDim $blockDim")
    refinePqCodebook(corpus, seed, dim / blockDim, blockDim, refineIters)
  }

  def pqTopK(corpus: DataFrame, probes: DataFrame, k: Int,
             nCentroids: Int = 16, blockDim: Int = 8, refineIters: Int = 0,
             rerank: Int = 0,
             trainedCodebook: Option[Seq[Seq[Double]]] = None): DataFrame = {
    val codebook = trainedCodebook.getOrElse(
      trainPqCodebook(corpus, nCentroids, blockDim, refineIters))
    if (codebook.isEmpty) return emptyPqResult(probes)
    val dim = codebook.head.length
    require(dim >= blockDim && dim % blockDim == 0,
      s"pqTopK: embedding dim $dim must be a positive multiple of blockDim $blockDim")
    val blocks = dim / blockDim
    val enc = prepped(corpus, "nbr_id", "cv", "cn")
      .select(col("nbr_id"),
        graft.plans.PqCodes.pqCodes(col("cv"), codebook, blocks, blockDim).as("codes"))
    val p = prepped(probes, "probe_id", "pv", "pn")
      .select(col("probe_id"), adcTable(codebook, blocks, blockDim).as("tab"))
    val scored = enc.crossJoin(broadcast(p))
      .filter(col("probe_id") =!= col("nbr_id"))
      .withColumn("adc", graft.plans.PqCodes.pqAdc(col("codes"), col("tab")))
    val w = Window.partitionBy("probe_id").orderBy(col("adc").asc, col("nbr_id"))
    val shortK = if (rerank > 0) math.max(k, rerank) else k
    val ranked = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= shortK)
    if (rerank > 0) rerankExact(ranked, corpus, probes, k)
    else ranked.select(col("probe_id"), col("rank").cast("long").as("rank"),
      col("nbr_id"), round(col("adc"), 6).as("adc_dist"))
  }

  /** IVF+PQ — the composed index shape real billion-vector
    * deployments run (FAISS IVFPQ): IVF cells prune WHICH vectors a
    * probe scores (q41's map-only native cell argmax), PQ codes
    * compress WHAT scoring reads (q78's 8-long code words + ADC
    * lookup). One deterministic hash-rank vector set serves as both
    * the cell centroids (cosine) and the PQ codebook (per-block L2),
    * so corpus preparation is a single map-only pass emitting
    * (cell, codes) — at 100 TB the corpus would be materialized
    * partitioned by cell, making the candidate equi-join a pruned
    * scan. Candidate scoring touches only code words and the probe's
    * broadcast ADC table: never a raw vector. */
  def ivfPqTopK(corpus: DataFrame, probes: DataFrame, k: Int,
                nCentroids: Int = 16, nProbe: Int = 4, blockDim: Int = 8,
                refineIters: Int = 0, rerank: Int = 0): DataFrame = {
    val cents = refineCents(corpus, hashRankCents(corpus, nCentroids), refineIters)
    if (cents.isEmpty) return emptyPqResult(probes)
    val dim = cents.head._2.length
    require(dim >= blockDim && dim % blockDim == 0,
      s"ivfPqTopK: embedding dim $dim must be a positive multiple of blockDim $blockDim")
    val blocks = dim / blockDim
    val codebook = refinePqCodebook(corpus, cents.map(_._2).toSeq,
      blocks, blockDim, refineIters)
    val c = prepped(corpus, "nbr_id", "cv", "cn")
      .select(col("nbr_id"),
        explode(graft.plans.NearestCells.nearestCells(
          col("cv"), col("cn"), cents.toSeq, 1)).as("cell"),
        graft.plans.PqCodes.pqCodes(col("cv"), codebook, blocks, blockDim).as("codes"))
    val p = prepped(probes, "probe_id", "pv", "pn")
      .select(col("probe_id"), adcTable(codebook, blocks, blockDim).as("tab"),
        explode(graft.plans.NearestCells.nearestCells(
          col("pv"), col("pn"), cents.toSeq, nProbe)).as("cell"))
    val scored = c.join(broadcast(p), Seq("cell"))
      .filter(col("probe_id") =!= col("nbr_id"))
      .withColumn("adc", graft.plans.PqCodes.pqAdc(col("codes"), col("tab")))
    val w = Window.partitionBy("probe_id").orderBy(col("adc").asc, col("nbr_id"))
    val shortK = if (rerank > 0) math.max(k, rerank) else k
    val ranked = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= shortK)
    if (rerank > 0) rerankExact(ranked, corpus, probes, k)
    else ranked.select(col("probe_id"), col("rank").cast("long").as("rank"),
      col("nbr_id"), round(col("adc"), 6).as("adc_dist"))
  }

  /** Materialized IVF+PQ index — the layout [[ivfPqTopK]]'s docstring
    * promises at 100 TB, shipped: the corpus is prepared ONCE as
    * (nbr_id, codes) parquet PARTITIONED BY cell, so a probe's
    * candidate fetch is a scan that PRUNES to its nProbe cell
    * directories — the other nCentroids − nProbe cells are never
    * opened. Centroids and the PQ codebook persist beside the cells
    * (bounded small files), making the index self-describing: probing
    * needs only the path.
    *
    * Layout under `path`:
    *  - `centroids/` — (cent_id, centv, centn), ≤ nCentroids rows
    *  - `codebook/`  — (c, vec), ≤ nCentroids rows (c = code index)
    *  - `cells/cell=N/` — (nbr_id, codes): the corpus, 8-byte codes
    *    per block, partitioned by cell directory
    */
  /** Encoded (nbr_id, cell, codes[, metaCols…]) rows for `corpus`
    * under FIXED index artifacts — the map-only pass both the full
    * build and the incremental delta path share. `metaCols` are
    * attribute columns carried INTO the cell files so probes can
    * filter candidates at the scan (the payload-metadata pattern of
    * production vector stores): the filter prunes at the parquet
    * reader, before any code word is scored. */
  private def encodedCells(corpus: DataFrame,
                           cents: Array[(Long, Seq[Double], Double)],
                           codebook: Seq[Seq[Double]],
                           blocks: Int, blockDim: Int,
                           metaCols: Seq[String] = Nil): DataFrame = {
    val base = corpus.select(
      col("vec_id").as("nbr_id") +:
        VectorFunctions.asDouble(col("embedding")).as("cv") +:
        metaCols.map(col): _*)
      .withColumn("cn", sqrt(VectorFunctions.dotD(col("cv"), col("cv"))))
    base.select(
      col("nbr_id") +:
        explode(graft.plans.NearestCells.nearestCells(
          col("cv"), col("cn"), cents.toSeq, 1)).as("cell") +:
        graft.plans.PqCodes.pqCodes(col("cv"), codebook, blocks, blockDim).as("codes") +:
        metaCols.map(col): _*)
  }

  def writeIvfPqIndex(corpus: DataFrame, path: String, nCentroids: Int = 16,
                      blockDim: Int = 8, refineIters: Int = 0,
                      metaCols: Seq[String] = Nil): Unit = {
    val cents = refineCents(corpus, hashRankCents(corpus, nCentroids), refineIters)
    require(cents.nonEmpty, "writeIvfPqIndex: empty corpus")
    val dim = cents.head._2.length
    require(dim >= blockDim && dim % blockDim == 0,
      s"writeIvfPqIndex: embedding dim $dim must be a positive multiple of blockDim $blockDim")
    val blocks = dim / blockDim
    val codebook = refinePqCodebook(corpus, cents.map(_._2).toSeq,
      blocks, blockDim, refineIters)
    val spark = corpus.sparkSession
    import spark.implicits._
    Sinks.writeSnapshot(
      cents.toSeq.toDF("cent_id", "centv", "centn"), s"$path/centroids")
    Sinks.writeSnapshot(
      codebook.zipWithIndex.map { case (v, c) => (c.toLong, v) }.toDF("c", "vec"),
      s"$path/codebook")
    Sinks.writePartitioned(
      encodedCells(corpus, cents, codebook, blocks, blockDim, metaCols),
      s"$path/cells", Seq("cell"))
  }

  /** The persisted artifacts of a [[writeIvfPqIndex]] index, plus the
    * code-word geometry recorded in its data. */
  private def loadArtifacts(spark: org.apache.spark.sql.SparkSession, path: String)
      : (Array[(Long, Seq[Double], Double)], Seq[Seq[Double]], Int, Int) = {
    val cents = spark.read.parquet(s"$path/centroids")
      .select(col("cent_id"), col("centv"), col("centn")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
    val codebook = spark.read.parquet(s"$path/codebook")
      .orderBy(col("c")).collect().map(_.getSeq[Double](1)).toSeq
    require(cents.nonEmpty && codebook.nonEmpty, s"no index at $path")
    val dim = codebook.head.length
    val blocks = spark.read.parquet(s"$path/cells").select(size(col("codes")))
      .limit(1).collect().headOption.map(_.getInt(0)).getOrElse(1)
    require(blocks > 0 && dim % blocks == 0,
      s"$blocks-block codes do not divide dim $dim")
    (cents, codebook, blocks, dim / blocks)
  }

  /** Re-encode `corpus` under the artifacts persisted at `indexPath`
    * (no retraining) — the fresh-rebuild side of the incremental-
    * maintenance equivalence proof, and the general "encode a new
    * snapshot against a frozen codebook" primitive. */
  def encodeWithIndexArtifacts(corpus: DataFrame, indexPath: String): DataFrame = {
    val (cents, codebook, blocks, blockDim) =
      loadArtifacts(corpus.sparkSession, indexPath)
    encodedCells(corpus, cents, codebook, blocks, blockDim)
  }

  /** Incremental index maintenance — the daily operation of a real
    * 100 TB vector pipeline: apply a [[Versioning.datasetDiff]]-shaped
    * delta (`idCol`, `status` ∈ added/removed/changed) to a
    * materialized index by re-encoding ONLY the touched cell
    * directories, keeping the trained centroids/codebook frozen (real
    * deployments retrain on drift schedules, not per delta).
    *
    * Scale shape — cost is O(delta + touched cells), never O(corpus):
    *  - stale ids (every delta id) find their OLD cells with one
    *    broadcast semi-join against the code table (8-byte code words,
    *    never raw vectors);
    *  - fresh rows (added/changed) are the only vectors re-encoded
    *    (broadcast semi-join prunes the corpus scan), assigning their
    *    NEW cells;
    *  - touched = old homes ∪ new homes, a ≤ nCells collect;
    *  - each touched cell's survivors (partition-pruned read of just
    *    those directories, anti-join against stale ids) union the
    *    fresh rows are staged to `cells_staging/` and swapped in by
    *    directory rename — dynamic partition overwrite of exactly the
    *    touched `cell=N` dirs. Untouched directories are never read,
    *    written, or moved (ScaleOpsSpec asserts their files are
    *    byte-identical in place).
    *
    * Equivalence contract (spec-proved and oracled via q97): the
    * updated cells table is row-identical to re-encoding the NEW
    * corpus snapshot from scratch under the same frozen artifacts —
    * unchanged rows encode identically (deterministic map-only
    * encode), so only touched cells can differ, and those are rebuilt
    * exactly. Idempotent: re-applying the same delta rewrites the same
    * cells to the same content.
    *
    * CRASH SAFETY: the staging dir is a write-ahead artifact. The new
    * content of every touched cell (plus a `_touched` cell-id list
    * covering cells that end EMPTY) is written to a tmp dir and
    * atomically renamed to `cells_staging/` BEFORE the first
    * destructive operation; only then are touched dirs swapped. A
    * crash mid-swap leaves `cells_staging/` complete on disk, and the
    * next apply (or an explicit [[recoverIndex]]) ROLLS IT FORWARD
    * before doing anything else — so a replayed batch never reads a
    * half-swapped index and no survivor row is ever lost. A leftover
    * tmp dir (crash mid-write) is simply discarded. Single-maintainer
    * discipline: concurrent applies to one index are not supported
    * (serialize them upstream, e.g. one streaming query via
    * [[graft.streaming.IndexIngest]]).
    *
    * Returns the touched cell ids (sorted). */
  def applyIndexDelta(newCorpus: DataFrame, delta: DataFrame, idCol: String,
                      path: String): Seq[Long] = {
    val spark = newCorpus.sparkSession
    recoverIndex(spark, path) // roll forward a crashed swap first
    val (cents, codebook, blocks, blockDim) = loadArtifacts(spark, path)
    val cellsPath = s"$path/cells"
    // added ids are stale too: on a re-apply they are already in cells/
    // and must not survive next to their re-encoded row
    val stale = delta.filter(col("status").isin("added", "removed", "changed"))
      .select(col(idCol).cast("long").as("nbr_id"))
    val freshIds = delta.filter(col("status").isin("added", "changed"))
      .select(col(idCol).cast("long").as("__fid"))
    val oldCells = spark.read.parquet(cellsPath)
    // a metadata-bearing index ([[writeIvfPqIndex]] metaCols) declares
    // its payload columns in the cells schema — re-encode fresh rows
    // with the same ones so the delta preserves filterability
    val metaCols = oldCells.columns.toSeq.filterNot(
      Set("nbr_id", "cell", "codes"))
    val freshRows = encodedCells(
      newCorpus.join(broadcast(freshIds),
        newCorpus(idCol) === col("__fid"), "left_semi"),
      cents, codebook, blocks, blockDim, metaCols)
    val touched = oldCells.join(broadcast(stale), Seq("nbr_id"), "left_semi")
      .select(col("cell"))
      .unionByName(freshRows.select(col("cell")))
      .distinct().collect().map(_.getLong(0)).sorted.toSeq
    if (touched.isEmpty) return touched
    // survivors of the touched partitions (pruned scan) + fresh rows;
    // staged to a sibling dir — writing cells/ in place would overwrite
    // a path the plan is reading
    val outCols = (Seq("nbr_id", "cell", "codes") ++ metaCols).map(col)
    val rebuilt = oldCells.filter(col("cell").isin(touched: _*))
      .join(broadcast(stale), Seq("nbr_id"), "left_anti")
      .select(outCols: _*)
      .unionByName(freshRows.select(outCols: _*))
    // write-ahead staging: full new content lands in a TMP dir, the
    // touched-cell list beside it, then ONE atomic dir rename
    // publishes it as cells_staging — only after that does anything
    // destructive happen (see the crash-safety scaladoc)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stagingTmp = s"$path/cells_staging_tmp"
    val staging = s"$path/cells_staging"
    Sinks.writePartitioned(rebuilt, stagingTmp, Seq("cell"))
    // each line: "<cell>,1" = staged content to rename in, "<cell>,0" =
    // the cell ends EMPTY (delete only). The flag is what makes the
    // swap re-runnable: without it, "staged dir absent" is ambiguous
    // between already-swapped and ends-empty.
    val stagedCells = fs.listStatus(
        new org.apache.hadoop.fs.Path(stagingTmp))
      .map(_.getPath.getName).filter(_.startsWith("cell="))
      .map(_.stripPrefix("cell=").toLong).toSet
    val lines = touched.map(c => s"$c,${if (stagedCells(c)) 1 else 0}")
    val tl = fs.create(
      new org.apache.hadoop.fs.Path(s"$stagingTmp/_touched"), true)
    try tl.write(lines.mkString("\n").getBytes("UTF-8")) finally tl.close()
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    require(fs.rename(new org.apache.hadoop.fs.Path(stagingTmp),
      new org.apache.hadoop.fs.Path(staging)),
      s"applyIndexDelta: failed publishing staging at $staging")
    swapStagedCells(fs, path)
    touched
  }

  /** Swap a PUBLISHED `cells_staging/` into `cells/` per its
    * `_touched` list, then retire the staging dir. Staging content is
    * complete by construction (it was renamed in atomically), so this
    * is safe to re-run from any crash point: each touched cell's dir
    * is deleted then renamed in; a cell already swapped (staging dir
    * gone) just keeps its new content. */
  private def swapStagedCells(fs: org.apache.hadoop.fs.FileSystem,
                              path: String): Unit = {
    val staging = s"$path/cells_staging"
    val touchedFile = new org.apache.hadoop.fs.Path(s"$staging/_touched")
    val in = fs.open(touchedFile)
    val entries = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().filter(_.nonEmpty).map { l =>
        val Array(c, has) = l.split(",")
        (c.toLong, has == "1")
      }.toSeq
    finally in.close()
    entries.foreach { case (c, hasContent) =>
      val dst = new org.apache.hadoop.fs.Path(s"$path/cells/cell=$c")
      val src = new org.apache.hadoop.fs.Path(s"$staging/cell=$c")
      if (hasContent) {
        // staged dir absent here means a previous (crashed) pass
        // already renamed it in — dst holds the NEW content, keep it
        if (fs.exists(src)) { fs.delete(dst, true); fs.rename(src, dst) }
      } else {
        // the cell ends EMPTY under the new content (idempotent)
        fs.delete(dst, true)
      }
    }
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
  }

  /** Roll forward the crash-recovery protocol of [[applyIndexDelta]]:
    * a leftover tmp dir (crash mid-write) is discarded; a leftover
    * PUBLISHED staging dir (crash mid-swap) is swapped to completion.
    * Called automatically at the start of every apply; call directly
    * to repair an index for reading after a maintainer crash. */
  def recoverIndex(spark: org.apache.spark.sql.SparkSession,
                   path: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(s"$path/cells_staging_tmp")
    if (fs.exists(tmp)) fs.delete(tmp, true) // unpublished → discard
    val staging = new org.apache.hadoop.fs.Path(s"$path/cells_staging")
    if (fs.exists(staging)) swapStagedCells(fs, path)
  }

  /** Probe a [[writeIvfPqIndex]] index: assign each probe to its
    * nProbe cells, then score ONLY the matching cell partitions by
    * ADC. The candidate fetch is a broadcast equi-join on the
    * PARTITION column, so Spark's dynamic partition pruning narrows
    * the cells/ scan to the probed directories at runtime (verified
    * by input-file inspection in ScaleOpsSpec) — the 100 TB shape
    * where a query touches nProbe/nCentroids of the index bytes. */
  def probeIvfPqIndex(probes: DataFrame, path: String, k: Int,
                      nProbe: Int = 4,
                      candidateFilter: Option[Column] = None): DataFrame = {
    val spark = probes.sparkSession
    // block count is recorded in the data itself: every code word has
    // one code per block (loadArtifacts reads it back)
    val (cents, codebook, blocks, blockDim) = loadArtifacts(spark, path)
    val p = prepped(probes, "probe_id", "pv", "pn")
      .select(col("probe_id"), adcTable(codebook, blocks, blockDim).as("tab"),
        explode(graft.plans.NearestCells.nearestCells(
          col("pv"), col("pn"), cents.toSeq, nProbe)).as("cell"))
    // metadata filter lands directly on the cells scan (PushedFilters
    // on the payload column), BEFORE cell pruning joins or ADC scoring
    // — filtered search still returns k survivors per probe, unlike
    // post-filtering a top-k
    val cells = candidateFilter.foldLeft(
      spark.read.parquet(s"$path/cells"))(_.filter(_))
    val scored = cells
      .join(broadcast(p), Seq("cell"))
      .filter(col("probe_id") =!= col("nbr_id"))
      .withColumn("adc", graft.plans.PqCodes.pqAdc(col("codes"), col("tab")))
    val w = Window.partitionBy("probe_id").orderBy(col("adc").asc, col("nbr_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank").cast("long").as("rank"),
        col("nbr_id"), round(col("adc"), 6).as("adc_dist"))
  }

  /** LSH-bucketed ANN: score only corpus vectors in the probe's bucket.
    * Recall < 1.0 by construction; bits trades recall vs. cost.
    * `multiProbe = 1` additionally probes every bucket at Hamming
    * distance 1 (classic multi-probe LSH): the PROBE side explodes to
    * bits+1 buckets — the corpus is never re-signed or re-shuffled —
    * trading a (bits+1)× candidate read for the recall a near-miss
    * sign bit costs. Off by default (the oracled q27 pins the exact-
    * bucket variant); the recall spec exercises it. */
  def lshTopK(corpus: DataFrame, probes: DataFrame, k: Int, bits: Int,
              multiProbe: Int = 0): DataFrame = {
    require(multiProbe == 0 || multiProbe == 1,
      s"multiProbe supports Hamming radius 0 or 1, got $multiProbe")
    val sig = (df: DataFrame, idAs: String, vecAs: String, normAs: String) =>
      prepped(df, idAs, vecAs, normAs)
        .withColumn("bucket", VectorFunctions.hyperplaneSignature(col(vecAs), bits))
    val c = sig(corpus, "nbr_id", "cv", "cn")
    val p0 = sig(probes, "probe_id", "pv", "pn")
    val p = if (multiProbe == 0) p0 else
      p0.select(col("probe_id"), col("pv"), col("pn"),
        explode(array(col("bucket") +:
          (0 until bits).map(i => col("bucket").bitwiseXOR(lit(1L << i))): _*))
          .as("bucket"))
    val scored = c.join(broadcast(p), Seq("bucket"))
      .filter(col("probe_id") =!= col("nbr_id"))
      .withColumn("cos", VectorFunctions.cosinePre(col("cv"), col("pv"), col("cn"), col("pn")))
    val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("nbr_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank").cast("long").as("rank"), col("nbr_id"), round(col("cos"), 6).as("cos"))
  }
}
