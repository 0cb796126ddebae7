package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Deduplication family for the training-data pipeline.
  *
  * The reference dedups title events by primary key before materializing
  * (`consumer.py:57-92`, `processed_keys` set). At corpus scale that
  * generalizes to exact and near-duplicate detection over documents.
  *
  * Scale notes (100 TB posture):
  *  - exact dedup: one hash-shuffle on the text hash — never on the
  *    full text (group key is a 64/128-bit hash, not the payload).
  *  - keep-latest: one shuffle on the business key; window row_number.
  *  - MinHash/LSH: candidate generation is a self-join on (band,
  *    bandHash) buckets — shuffle is O(docs × bands), never O(n²);
  *    exact Jaccard verification runs only inside candidate pairs.
  *  - shingle/signature construction runs in native Catalyst
  *    expressions (graft.plans) — one tight JVM loop per row, no UDFs,
  *    no interpreted per-element lambdas; posting-list joins key on
  *    64-bit shingle fingerprints, not strings.
  */
object Dedup extends org.apache.spark.internal.Logging {

  /** Exact duplicate groups by full-text hash; keeps min(id) per group.
    * Grouping on xxhash64(text) (collision odds negligible at corpus
    * scale) keeps shuffle rows narrow. */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(xxhash64(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")

  /** Keep the latest record per key ordered by (ts desc, id desc) —
    * the reference consumer's last-writer-wins materialization. */
  def keepLatest(df: DataFrame, keys: Seq[String], ts: String, id: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(ts).desc, col(id).desc)
    df.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** doc_id → exploded distinct word-k-shingles (posting list). */
  def shingleTable(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(array_distinct(graft.plans.ShingleTokens.shingleTokens(
          TextFunctions.tokens(col(textCol)), k))).as("shingle"))
      .filter(col("shingle") =!= "")

  /** Posting list with shingles fingerprinted to 64-bit longs: the
    * shuffle/join key is 8 bytes instead of a ~25-char string.
    * Collision odds (~|distinct shingles|²/2^65) are negligible even at
    * corpus scale, so intersection counts — and Jaccard — are exact.
    * Shingle+hash+dedup is one native loop (SortedShingleHashes) —
    * same hashes as the transform/xxhash64 HOF chain, minus the
    * interpreted per-element passes. */
  def shingleHashTable(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(graft.plans.SortedShingleHashes.sortedShingleHashes(
          TextFunctions.tokens(col(textCol)), k)).as("shingle"))

  /** [[shingleHashTable]] with the per-doc distinct-shingle count `n`
    * riding each posting row. `n` is `size()` of the hash array the
    * explode consumes — a map-only projection — where computing it
    * downstream costs a full per-doc aggregation or window over the
    * exploded postings (the pre-r17 prefix path paid a second Window
    * sort for exactly this value). */
  private def shingleHashTableWithN(docs: DataFrame, idCol: String,
                                    textCol: String, k: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        graft.plans.SortedShingleHashes.sortedShingleHashes(
          TextFunctions.tokens(col(textCol)), k).as("__arr"))
      .select(col("doc_id"), size(col("__arr")).cast("long").as("n"),
        explode(col("__arr")).as("shingle"))

  /** Exact n-gram Jaccard similarity for all pairs sharing >=1 shingle.
    * Inverted-index join (shingle equi-join) — pairs are generated
    * per-shingle then aggregated, never by cross product. One shingle
    * appearing in f docs contributes f·(f−1)/2 join rows, so this is
    * the cheapest exact formulation when shingle frequencies are
    * tame (one self-join, one aggregation); for corpora with HOT
    * shingles (boilerplate, headers — the realistic web-corpus case)
    * use [[ngramJaccardPairsPrefix]], which bounds the hot-shingle
    * blowup with exact prefix filtering at the cost of extra passes.
    *
    * No cache(): a lazily returned plan can never unpersist it, so
    * repeated invocations would pin copies in storage memory for the
    * session lifetime. Shingling is a cheap native pass over the scan
    * and the self-join's repeated subtree benefits from exchange reuse. */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                        k: Int, threshold: Double): DataFrame = {
    val sh = shingleHashTable(docs, idCol, textCol, k)
    // per-doc shingle count from the array itself (map-only size()),
    // not an aggregation over the exploded postings; docs with zero
    // shingles get n=0 rows that the inner join below never matches
    // (they cannot appear in `inter`), so the pair set is unchanged
    val sizes = docs.select(col(idCol).as("doc_id"),
      size(graft.plans.SortedShingleHashes.sortedShingleHashes(
        TextFunctions.tokens(col(textCol)), k)).cast("long").as("n_shingles"))
    val inter = sh.toDF("d1", "s").join(sh.toDF("d2", "s"), Seq("s"))
      .filter(col("d1") < col("d2"))
      .groupBy("d1", "d2")
      .agg(count(lit(1)).as("inter"))
    withJaccard(inter, sizes, threshold)
  }

  /** Exact n-gram Jaccard via a PREFIX-FILTERED inverted-index join
    * (the SSJoin/PPJoin family — Chaudhuri et al. ICDE'06, Xiao et
    * al. WWW'08): row-for-row identical output to
    * [[ngramJaccardPairs]], different cost shape.
    *
    * Sort each document's distinct shingle hashes by one global total
    * order — ascending DOCUMENT FREQUENCY, ties by hash (the PPJoin
    * canonical order) — and join only each doc's first
    * n − ⌈t·n⌉ + 1 shingles. Pigeonhole (with the size filter
    * t·|bigger| ≤ |smaller|, applied in the join) guarantees every
    * pair with Jaccard ≥ t shares a PREFIX shingle — recall 1.0
    * under ANY consistent total order — while rarest-first ordering
    * pushes hot shingles to the END of every doc's list, so
    * boilerplate never pairs anyone unless a doc is nearly all
    * boilerplate. (Ordering by raw hash instead is cheaper — no df
    * pass — but a hot shingle that happens to hash small lands in
    * EVERY doc's prefix and the f² blowup returns; the PropertySpec
    * hot-shingle stress fails exactly that way.) Verification costs
    * O(candidates): each candidate pair fetches its two sorted
    * (df, hash) arrays and intersects in-row.
    *
    * Trade-off, measured at sf0.1 (uniform synthetic corpus, no hot
    * shingles): ~2× slower than the naive join — the df aggregate,
    * per-doc re-sort, and candidate shuffle buy nothing when no
    * shingle is hot. On a skewed corpus the naive join's worst
    * shingle costs f², this one pairs docs on their RAREST shingles
    * with verification decoupled — at 100 TB that is the difference
    * between finishing and not. */
  def ngramJaccardPairsPrefix(docs: DataFrame, idCol: String, textCol: String,
                              k: Int, threshold: Double): DataFrame = {
    // postings carry the per-doc shingle count from the array itself
    // (map-only size()) — the pre-r17 shape recomputed it as a second
    // Window (count over the doc partition), one more full sort of the
    // postings per join side
    val sh = shingleHashTableWithN(docs, idCol, textCol, k)
    // global document frequency per shingle: ONE aggregate over the
    // postings, the price of a skew-proof canonical order
    val dfreq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    // prefix selection DIRECTLY on the postings — rank each doc's
    // shingles rarest-first and keep rank ≤ n − ⌈t·n⌉ + 1, computed
    // per doc IN-ROW: collect the (df, shingle) pairs per doc — the
    // partial collect builds each doc's list map-side only while the
    // dfreq join broadcasts (a doc's postings stay contiguous after
    // the explode); at shuffle-join scale the doc_id exchange still
    // carries all postings as fragmented partials, just without the
    // Window's global sort — then sort_array (ascending (df, shingle) — the
    // exact Window order; pairs are unique per doc, so the order is
    // total) and slice the prefix. Replaces the row_number Window,
    // whose exchange carried EVERY posting row and then globally
    // sorted them, with per-doc array sorts — same prefix set
    // row-for-row (r17 second session: q54 −0.5s, the CC composites
    // inherit). A localCheckpoint of the prefix measured SLOWER
    // (materialization job + block round-trip — r17), so the pair
    // grouping below stays the single consumer instead.
    // posexplode: each prefix posting carries its 1-based rank in the
    // doc's FULL (df, shingle)-sorted list (the slice is the list's
    // head, so prefix position ≡ list position) — the input to the
    // PPJoin positional filter below
    val prefix = sh.join(dfreq, "shingle")
      .groupBy(col("doc_id"))
      .agg(max(col("n")).as("n"),
        sort_array(collect_list(struct(col("df"), col("shingle")))).as("ps"))
      .select(col("doc_id"), col("n"),
        posexplode(slice(col("ps"), lit(1),
          (col("n") - ceil(lit(threshold) * col("n")) + 1).cast("int"))))
      .select(col("doc_id"), col("n"),
        (col("pos") + 1).cast("long").as("p"), col("col.shingle").as("s"))
    // sizes ride along with the candidates (functionally dependent on
    // the ids, so distinct cardinality is unchanged) — saves two more
    // shingling passes that separate size joins would cost.
    // Pair generation: group the prefix postings per shingle and
    // explode ordered pairs in-task, NOT a prefix⋈prefix self-join —
    // the join evaluated the whole join+Window prefix subtree once PER
    // SIDE (exchange reuse shares the shuffles but re-runs both Window
    // sorts) and shuffled the prefix twice; this shuffles it once.
    // Skew-equivalent: an equi-join on s also colocates all of one
    // shingle's pairs in one task, and rarest-first prefix selection
    // is what bounds the group sizes in both shapes.
    // PPJoin POSITIONAL filter (Xiao et al. WWW'08 §3.2), exact: for a
    // pair sharing shingle s at list ranks (pa, pb), the true overlap
    // O is bounded by 1 + min(n1−pa, n2−pb) WHEN s is the pair's FIRST
    // common shingle in the total order (everything common after s
    // sits among the n−p remaining entries of each list). J ≥ t needs
    // O ≥ t·(n1+n2)/(1+t); the first common shingle of a qualifying
    // pair is always in both prefixes (positions are monotone in the
    // total order, and prefix sharing puts SOME common shingle there),
    // and its row passes this test — so keeping a pair iff ANY of its
    // shared-prefix rows passes loses nothing, while pairs that only
    // share deep-prefix shingles (bound < required overlap) never
    // reach verification. Measured at sf10: 31.0M → 12.5M candidates.
    // The 1e-6 slack absorbs float rounding toward EXTRA candidates —
    // false positives cost one verify row, false negatives would cost
    // recall.
    val cand = prefix.groupBy(col("s"))
      .agg(collect_list(struct(col("doc_id"), col("n"), col("p"))).as("g"))
      .select(explode(col("g")).as("a"), col("g"))
      .select(col("a"), explode(col("g")).as("b"))
      .filter(col("a.doc_id") < col("b.doc_id") &&
        lit(threshold) * col("b.n") <= col("a.n") &&
        lit(threshold) * col("a.n") <= col("b.n") &&
        (lit(1L) + least(col("a.n") - col("a.p"), col("b.n") - col("b.p"))) *
          (lit(1.0) + lit(threshold)) >=
          lit(threshold) * (col("a.n") + col("b.n")) - lit(1e-6))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("a.n").as("n1"), col("b.n").as("n2"))
      .distinct()
    // verification cost is proportional to CANDIDATES, not postings:
    // fetch the two hash-sorted arrays per candidate pair (the cheap
    // MAP-ONLY native projection — verification needs any consistent
    // arrays, not the df order) and intersect in-row — no posting-
    // list re-explosion, no third shuffle over the corpus
    val lists = docs
      .filter(size(TextFunctions.tokens(col(textCol))) >= k)
      .select(col(idCol).as("doc_id"),
        graft.plans.SortedShingleHashes.sortedShingleHashes(
          TextFunctions.tokens(col(textCol)), k).as("sharr"))
    // join strategy, sized from the plan's own estimate (guide §3.1):
    // small corpora broadcast `lists` (AQE/planner does it below the
    // threshold — leave the plan alone); past broadcast size the
    // planner's default is sort-merge, which SORTS the candidate
    // stream WITH its attached shingle array — at sf10 that is ~25 GB
    // through the second join's sort, 3× the whole query. A
    // shuffled-hash hint builds the hash table on the (per-partition
    // tiny) lists side and only STREAMS the wide candidate rows —
    // measured 214s → 78s on the sf10 verify tail. The hint would
    // DISABLE the broadcast at small SF (hint priority beats size), so
    // it is applied only when lists cannot broadcast anyway.
    val listsBytes = lists.queryExecution.optimizedPlan.stats.sizeInBytes
    val broadcastLimit = docs.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val broadcastable = listsBytes <= broadcastLimit
    logInfo(s"ngramJaccardPairsPrefix verify join: lists estimate " +
      s"$listsBytes B, broadcast threshold $broadcastLimit B -> " +
      (if (broadcastable) "broadcast" else "shuffle_hash"))
    def listsAs(id: String, arr: String): DataFrame = {
      val l = lists.toDF(id, arr)
      if (broadcastable) l else l.hint("shuffle_hash")
    }
    jaccardAbove(cand
      .join(listsAs("d1", "a1"), "d1")
      .join(listsAs("d2", "a2"), "d2")
      .withColumn("inter", size(array_intersect(col("a1"), col("a2"))).cast("long")),
      threshold)
  }

  /** Attach exact Jaccard from per-doc shingle counts; filter.
    * No broadcast hint on `sizes`: it has one row PER DOCUMENT, so a
    * forced broadcast would blow past the 8 GB broadcast limit at
    * corpus scale. AQE broadcasts it at small sf on its own; at scale
    * it becomes a (narrow, two-column) shuffle join keyed on doc id. */
  private def withJaccard(inter: DataFrame, sizes: DataFrame, threshold: Double): DataFrame =
    jaccardAbove(inter
      .join(sizes.toDF("d1", "n1"), "d1")
      .join(sizes.toDF("d2", "n2"), "d2"), threshold)

  /** (d1, d2, jaccard) of the `(d1, d2, n1, n2, inter)` rows whose
    * exact Jaccard clears `threshold`. */
  private def jaccardAbove(t: DataFrame, threshold: Double): DataFrame =
    t.withColumn("jaccard", col("inter") / (col("n1") + col("n2") - col("inter")))
      .filter(col("jaccard") > threshold)
      .select(col("d1"), col("d2"), round(col("jaccard"), 4).as("jaccard"))

  /** MinHash signatures computed per-row, no shuffle: each distinct
    * shingle string is hashed to a long ONCE; permutation p's value is
    * a cheap long re-hash xxhash64(h, p); signature[p] = min over
    * shingles. The whole signature is one codegen'd projection — at
    * cluster scale this is a map-only stage over the corpus. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
                        k: Int, numPerms: Int): DataFrame =
    docs
      .filter(size(TextFunctions.tokens(col(textCol))) >= k)
      .select(col(idCol).as("doc_id"),
        graft.plans.MinHashTokens.minhashTokens(
          TextFunctions.tokens(col(textCol)), k, numPerms).as("sig"))

  /** MinHash + LSH banding near-dup candidates, verified by exact
    * Jaccard over shingles. bands × rowsPerBand = signature length. */
  /** (doc_id, band, band_hash) LSH band keys — band b hashes the
    * signature's b-th slice. The map-only projection the inline pair
    * join builds from; the band store keeps the keys unexploded. */
  def bandedSignatures(docs: DataFrame, idCol: String, textCol: String,
                       k: Int, bands: Int, rowsPerBand: Int): DataFrame =
    minhashSignatures(docs, idCol, textCol, k, bands * rowsPerBand)
      .select(col("doc_id"), posexplode(bandHashes(col("sig"), bands, rowsPerBand)))
      .toDF("doc_id", "band", "band_hash")

  /** Band b's key is the xxhash64 of the signature's b-th slice. */
  private def bandHashes(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(slice(sig, b * rowsPerBand + 1, lit(rowsPerBand))))

  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      k: Int, bands: Int, rowsPerBand: Int,
                      threshold: Double): DataFrame = {
    val sh = shingleHashTable(docs, idCol, textCol, k) // see ngramJaccardPairs re: no cache()

    val banded = bandedSignatures(docs, idCol, textCol, k, bands, rowsPerBand)
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") &&
        col("x.band_hash") === col("y.band_hash") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
    // verify candidates with exact Jaccard (join back on posting lists —
    // intersection computed per shared shingle, never a cross product)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
    val inter = cand
      .join(sh.toDF("d1", "s"), "d1")
      .join(sh.toDF("d2", "s"), Seq("d2", "s"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("inter"))
    withJaccard(inter, sizes, threshold)
  }

  /** Materialized MinHash dedup store — the incremental-ingest shape:
    * a corpus's LSH band keys and shingle hashes persisted once, so
    * each ingest batch dedups against ALL history at
    * O(batch + matches), never O(corpus). The q97 pattern (build-once
    * artifacts + delta application) applied to the dedup family; the
    * reference dedups each consumed record against its processed-keys
    * store (consumer.py:57-92) — this is that operation when "seen
    * before" means near-duplicate, not key-equal.
    *
    * The store is ONE [[TableLog]] table at `path`, one row per doc:
    * `(doc_id, band_hashes: array<long>, shingles: array<long>)` —
    * [[bandedSignatures]]' band keys before their posexplode and
    * [[shingleHashTable]]'s sorted distinct hashes before their
    * explode. A batch's bands and shingles land in one commit, so no
    * reader sees one without the other; readers explode the arrays,
    * and a doc's shingle count is `size(shingles)`. */
  object MinhashStore {
    def build(docs: DataFrame, idCol: String, textCol: String, path: String,
              k: Int, bands: Int, rowsPerBand: Int): Unit =
      appendBatch(docs, idCol, textCol, path, k, bands, rowsPerBand, batch = 0L)

    /** Add one ingest batch's docs to the store: one commit tagged
      * with the batch id ([[graft.streaming.TableIngest.appendSink]]),
      * so re-running a batch id whose commit landed is a no-op.
      * [[build]] is batch 0. */
    def appendBatch(docs: DataFrame, idCol: String, textCol: String,
                    path: String, k: Int, bands: Int, rowsPerBand: Int,
                    batch: Long): Unit =
      graft.streaming.TableIngest.appendSink(path, "store")(
        rows(docs, idCol, textCol, k, bands, rowsPerBand), batch)

    /** The store's rows for `docs`: one map-only projection, docs
      * shorter than `k` tokens (no shingle, no signature) dropped. */
    private def rows(docs: DataFrame, idCol: String, textCol: String, k: Int,
                     bands: Int, rowsPerBand: Int): DataFrame = {
      val toks = TextFunctions.tokens(col(textCol))
      docs.filter(size(toks) >= k)
        .select(col(idCol).as("doc_id"),
          graft.plans.MinHashTokens.minhashTokens(toks, k, bands * rowsPerBand).as("sig"),
          graft.plans.SortedShingleHashes.sortedShingleHashes(toks, k).as("shingles"))
        .select(col("doc_id"),
          bandHashes(col("sig"), bands, rowsPerBand).as("band_hashes"),
          col("shingles"))
    }

    /** Near-dup pairs of `delta` against the store AND within `delta`
      * itself — the per-ingest-batch dedup query. Output is identical
      * to running [[minhashLshPairs]] over (store corpus ∪ delta) and
      * keeping the pairs that touch a delta doc (the spec proves it).
      * The store is read at its latest version, which must not hold
      * `delta` yet ([[graft.streaming.DedupIngest]] commits its pairs
      * before the batch's store rows).
      *
      * Scale shape: the delta's band keys BROADCAST onto the store's
      * band keys — the store never shuffles (one map-side-join scan
      * of 8-byte keys, not corpus text); candidate verification joins
      * the posting lists against the (small) candidate frame — AQE
      * broadcasts it, so the store's shingle scan never shuffles
      * either; delta×delta is the tiny inline join. Each posting row
      * carries its doc's shingle count, so verification needs no
      * per-doc size join. */
    def incrementalPairs(delta: DataFrame, idCol: String, textCol: String,
                         path: String, k: Int, bands: Int, rowsPerBand: Int,
                         threshold: Double): DataFrame = {
      val store = TableLog.snapshot(delta.sparkSession, path)
      val d = rows(delta, idCol, textCol, k, bands, rowsPerBand)
      def bandsOf(r: DataFrame) =
        r.select(col("doc_id"), posexplode(col("band_hashes")))
          .toDF("doc_id", "band", "band_hash")
      val dBands = bandsOf(d)
      // old×new: store streams, delta broadcasts; orient ids so d1 < d2
      val oldNew = bandsOf(store).as("x").join(
          broadcast(dBands.as("y")),
          col("x.band") === col("y.band") &&
            col("x.band_hash") === col("y.band_hash") &&
            col("x.doc_id") =!= col("y.doc_id"))
        .select(least(col("x.doc_id"), col("y.doc_id")).as("d1"),
          greatest(col("x.doc_id"), col("y.doc_id")).as("d2"))
      // new×new: the in-batch pairs
      val newNew = dBands.as("x").join(dBands.as("y"),
          col("x.band") === col("y.band") &&
            col("x.band_hash") === col("y.band_hash") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      val cand = oldNew.unionByName(newNew).distinct()
      val sh = store.unionByName(d).select(col("doc_id"),
        size(col("shingles")).cast("long").as("n"),
        explode(col("shingles")).as("s"))
      jaccardAbove(cand
        .join(sh.toDF("d1", "n1", "s"), "d1")
        .join(sh.toDF("d2", "n2", "s"), Seq("d2", "s"))
        .groupBy("d1", "d2", "n1", "n2").agg(count(lit(1)).as("inter")),
        threshold)
    }
  }

  /** SimHash fingerprints per doc (64-bit), plus 16-bit block keys for
    * hamming-distance banding (any block equal → candidate). */
  def simhashTable(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      TextFunctions.simhash64(TextFunctions.tokens(col(textCol))).as("simhash"))

  /** SimHash near-dup pairs: pigeonhole banding — candidate pairs must
    * share at least one of four 16-bit blocks, then exact hamming
    * verification.
    *
    * Recall contract: pigeonhole makes 4 bands EXHAUSTIVE only for
    * hamming <= 3 (a pair differing in >= 4 bits can differ in every
    * block). For `maxHamming` > 3 results are APPROXIMATE — standard
    * LSH behavior: candidates still share a block, so recall stays
    * high for near pairs and decays toward the hamming cutoff.
    * Exhaustiveness at larger cutoffs would need maxHamming+1 bands,
    * whose narrow blocks (< 8 bits) collide so broadly that the
    * candidate join degenerates toward all-pairs of distinct
    * fingerprints — the wrong trade at corpus scale, so it is
    * deliberately not done here.
    *
    * Skew shape: near-dup corpora have many documents with IDENTICAL
    * fingerprints, and banding doc-grain rows explodes those cliques
    * through the block join (hot low-entropy blocks × hot blocks). So
    * the banding join runs over DISTINCT fingerprints only — cliques
    * of equal hashes contribute one row each — and doc pairs are
    * expanded from the verified HASH pairs afterwards, so every
    * expanded row is an output row (no wasted candidates):
    *   - equal-hash pairs (hamming 0): equi-self-join on the hash;
    *   - unequal-hash pairs: banding join over distinct hashes,
    *     dedup, hamming filter, then two joins back to doc ids. */
  def simhashNearDupPairs(docs: DataFrame, idCol: String, textCol: String,
                          maxHamming: Int, wideBands: Boolean = false): DataFrame = {
    val sh = simhashTable(docs, idCol, textCol)
    val intra = sh.toDF("d1", "h").join(sh.toDF("d2", "h"), Seq("h"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"), lit(0L).as("hamming"))
    val hashPairs = bandedHashPairs(sh.select(col("simhash")).distinct(),
      maxHamming, wideBands)
    val inter = hashPairs
      .join(sh.toDF("da", "h1"), "h1")
      .join(sh.toDF("db", "h2"), "h2")
      .select(least(col("da"), col("db")).as("d1"),
        greatest(col("da"), col("db")).as("d2"),
        col("hamming").cast("long").as("hamming"))
    intra.unionByName(inter)
  }

  /** Candidate (h1, h2, hamming) pairs over DISTINCT fingerprints.
    *
    * `wide = false`: the 4 × 16-bit block scheme above — 4 band keys
    * per fingerprint, collisions among random fingerprints ≈ n²/2^16
    * per band. Exhaustive for hamming ≤ 3.
    *
    * `wide = true`: the piece-combination scheme SimHash dedup runs
    * at web scale (Manku, Jain & Das Sarma, WWW'07 §3): split the 64
    * bits into 5 pieces (13+13+13+13+12); ≤ 3 flipped bits hit ≤ 3
    * pieces, so ≥ 2 pieces are clean and the pair agrees on one of
    * the C(5,2) = 10 ordered piece CONCATENATIONS — band keys are now
    * ~26 bits wide, so random collisions fall ~2^10× per band (≈400×
    * overall at 10/4 the bands). Same recall contract (exhaustive for
    * hamming ≤ 3), spec-proved pair-identical to the narrow scheme;
    * the trade is 10 band rows per fingerprint instead of 4. This is
    * the q36 shape that survives 100×: at sf1 the narrow scheme's
    * candidate join was the round-8 bench's steepest scaler. */
  private[graft] def bandedHashPairs(hashes: DataFrame, maxHamming: Int,
                                     wide: Boolean): DataFrame = {
    val bandCols: Seq[Column] =
      if (!wide) (0 until 4).map(b =>
        shiftright(col("simhash"), b * 16).bitwiseAND(lit(0xffffL)))
      else {
        val offs = Seq((0, 13), (13, 13), (26, 13), (39, 13), (52, 12))
        def piece(i: Int): Column =
          shiftright(col("simhash"), offs(i)._1)
            .bitwiseAND(lit((1L << offs(i)._2) - 1))
        for { i <- 0 until 5; j <- i + 1 until 5 }
          yield shiftleft(piece(i), 14).bitwiseOR(piece(j))
      }
    val banded = hashes
      .select(col("simhash"), posexplode(array(bandCols: _*)))
      .toDF("simhash", "band", "block")
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.block") === col("y.block") &&
        col("x.simhash") < col("y.simhash"))
      .select(col("x.simhash").as("h1"), col("y.simhash").as("h2"))
      .distinct()
      .withColumn("hamming", bit_count(col("h1").bitwiseXOR(col("h2"))))
      .filter(col("hamming") <= maxHamming && col("hamming") > 0)
  }

  /** Benchmark decontamination: flag corpus documents sharing at least
    * `minOverlap` word k-shingles with any document of a benchmark /
    * eval set — the standard guard against test-set leakage into
    * training data. Same inverted-index shape as the Jaccard join but
    * ASYMMETRIC: the (small) benchmark side's posting list is
    * broadcast, so the corpus is scanned once, map-side, with no
    * corpus shuffle — at 100 TB the benchmark side is the only thing
    * that moves. Returns (doc_id, bench_id, n_shared) per
    * contaminated pair. */
  /** Duplicate-substring span statistics (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better", at
    * token-window granularity): every `win`-token window is hashed;
    * a window position is DUPLICATED if its text occurs >= 2 times
    * anywhere in the corpus. Per doc: window count, duplicated-window
    * count, duplicated fraction — the signal used to cut boilerplate
    * spans that whole-doc dedup misses.
    *
    * Scale shape: the suffix-array of the paper is replaced by
    * shingle-hash counting — one explode (n windows per doc), one
    * map-side-combined count keyed on an 8-BYTE xxhash64 (never the
    * window text; equal hashes ≡ equal windows up to 2^-64), one
    * join-back keyed the same. Output columns are integers plus one
    * division, so an independent engine grouping by the raw window
    * text replays it exactly (q75's oracle). */
  def duplicateSpanStats(docs: DataFrame, idCol: String, textCol: String,
                         win: Int): DataFrame = {
    // one native loop per doc: window hashes come straight off the
    // token array (ShingleHashes) — the window STRINGS were never
    // consumed, so materializing each "w1 .. w16" through an
    // interpreted HOF and re-hashing it in a separate xxhash64 node
    // (the pre-r17 shape) paid ~2x the scan for nothing
    val sh = docs.select(col(idCol).as("doc_id"),
        explode(graft.plans.ShingleHashes.shingleHashes(
          TextFunctions.tokens(coalesce(col(textCol), lit(""))), win)).as("h"))
    val occ = sh.groupBy(col("h")).agg(count(lit(1)).as("occ"))
    sh.join(occ, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("occ") >= 2, 1L).otherwise(0L)).as("n_dup_windows"))
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
        round(col("n_dup_windows") / col("n_windows"), 4).as("dup_frac"))
  }

  /** Duplicate-substring REMOVAL — [[duplicateSpanStats]]' signal
    * turned into the rewrite a substring-dedup pipeline actually ships
    * (Lee et al. 2022 keep ONE occurrence of every duplicated span;
    * this is that contract at window granularity, in token space):
    *
    *  1. every `win`-token window hashes to 8 bytes (equal hashes ≡
    *     equal windows up to 2^-64, as in the stats pass);
    *  2. each window text occurring ≥ 2× elects its globally FIRST
    *     occurrence — min (doc_id, position) — as canonical via one
    *     map-side-combined min-struct aggregate;
    *  3. every NON-canonical occurrence marks its `win` tokens; a
    *     token survives iff no mark covers it (overlapping marks
    *     merge by construction);
    *  4. the doc rewrites to its surviving tokens.
    *
    * Scale shape: the heavy shuffles (occurrence counting, canonical
    * election, mark join-back) carry (8-byte hash, doc_id, position)
    * — never window text; the per-doc mark list is per-doc DATA
    * (bounded by the doc's own window count), not driver state. The
    * FINAL join attaches mark lists to token arrays on doc_id — the
    * one place the corpus payload shuffles (AQE broadcasts the mark
    * side when it fits; a doc_id-bucketed corpus layout, q107's
    * primitive, removes the exchange entirely) — and the rewrite
    * itself is a map-only indexed array filter. A window repeated
    * millions of times is one combined row in the election aggregate
    * and an AQE-splittable hot key in the mark join-back.
    *
    * @return (doc_id, n_tokens, n_removed, new_text) for every doc */
  def removeDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                           win: Int): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      TextFunctions.tokens(coalesce(col(textCol), lit(""))).as("w"))
    // positional window hashes in one native loop (see
    // duplicateSpanStats) — positions are unchanged (posexplode over
    // the hash array indexes windows exactly as it indexed strings)
    val sh = toks.select(col("doc_id"),
        posexplode(graft.plans.ShingleHashes.shingleHashes(col("w"), win))
          .as(Seq("i", "h")))
    val dup = sh.groupBy(col("h"))
      .agg(count(lit(1)).as("occ"),
        min(struct(col("doc_id"), col("i"))).as("first"))
      .filter(col("occ") >= 2)
    val marks = sh.join(dup, "h")
      .filter(!(col("doc_id") === col("first.doc_id") &&
        col("i") === col("first.i")))
      .groupBy(col("doc_id")).agg(collect_list(col("i")).as("ms"))
    // surviving tokens in one native sweep (sorted marks + one token
    // pass) — value-identical to the HOF pair
    // `filter(w, (_, j) => !exists(ms, m => j >= m && j <= m+win-1))`,
    // which evaluated an INTERPRETED exists over the mark list once
    // per token (HOFs are CodegenFallback): O(tokens × marks) per doc
    toks.join(marks, Seq("doc_id"), "left")
      .withColumn("ms", coalesce(col("ms"), array().cast("array<int>")))
      .withColumn("keep",
        graft.plans.MarkFilter.markFilter(col("w"), col("ms"), win))
      .select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"),
        (size(col("w")) - size(col("keep"))).cast("long").as("n_removed"),
        array_join(col("keep"), " ").as("new_text"))
  }

  def contaminationPairs(corpus: DataFrame, bench: DataFrame,
                         idCol: String, textCol: String,
                         k: Int, minOverlap: Int): DataFrame = {
    val c = shingleHashTable(corpus, idCol, textCol, k)
    val b = shingleHashTable(bench, idCol, textCol, k)
      .toDF("bench_id", "shingle")
    c.join(broadcast(b), "shingle")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minOverlap)
  }

  /** Embedding cosine near-duplicate pairs, blocked by a caller-provided
    * coarse key. NOT the registered scale path: a fixed-cardinality
    * block column (e.g. a label) gives blocks that grow linearly with
    * the corpus and pair work that grows quadratically — this stays as
    * the exhaustive A/B baseline that [[cosineNearDupPairsBucketed]]'s
    * recall spec measures against (the q24/q54 pairing pattern). */
  def cosineNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                         blockCol: Column, threshold: Double): DataFrame = {
    import graft.functions.VectorFunctions.{asDouble, cosinePre, dotD}
    // cast + norm once per vector; each pair is then one dot product
    def side(i: Int) = emb.select(col(idCol).as(s"id$i"),
        asDouble(col(vecCol)).as(s"v$i"), blockCol.as("blk"))
      .withColumn(s"n$i", sqrt(dotD(col(s"v$i"), col(s"v$i"))))
    side(1).join(side(2), Seq("blk"))
      .filter(col("id1") < col("id2"))
      .withColumn("cos", cosinePre(col("v1"), col("v2"), col("n1"), col("n2")))
      .filter(col("cos") > threshold)
      .select(col("id1"), col("id2"), round(col("cos"), 6).as("cos"))
  }

  /** Embedding cosine near-duplicate pairs over BOUNDED candidate
    * buckets — the registered scale path for q25 (reference
    * preferences.py's taste-similarity pairing re-expressed at corpus
    * scale). Candidates come from IVF-style cells (the q73 SemDeDup
    * blocking shape): deterministic hash-rank centroids (q41's rule,
    * md5(vec_id) order — no RNG, so the DuckDB oracle replays cell
    * assignment exactly), every vector multi-assigned to its `keep`
    * nearest cells, and pairs generated only inside a (cell, block)
    * bucket with the caller's block column (label) kept as a secondary
    * predicate. Exact cosine then scores each candidate once; a pair
    * sharing several cells is deduplicated after rounding.
    *
    * Scale shape: the cell COUNT grows with the corpus —
    * `nCells = max(16, ceil(n / cellTarget))` — so expected bucket
    * payload stays ~cellTarget rows and total pair work is
    * O(keep² · cellTarget · n): LINEAR in corpus size where a
    * fixed-cardinality block key is quadratic. The ≤ maxCells collect
    * bounds driver/broadcast memory; past maxCells · cellTarget rows
    * the cells coarsen again, which is the point to compose a second
    * centroid level (coarse-quantize, then this) rather than raise the
    * cap.
    *
    * RECALL CONTRACT (the sanctioned q36-style re-base): candidate
    * generation is approximate — a pair lands in no shared cell with
    * probability that falls as its cosine rises. On the synthetic
    * embeddings (noise-dominated: threshold pairs sit barely above
    * ambient similarity, the hardest case for ANY sublinear scheme)
    * measured recall vs the exhaustive baseline is 1.00 / 0.60 / 0.92
    * at sf0.001 / sf0.01 / sf0.1 with the default (cellTarget=125,
    * keep=4); precision is exactly 1.0 because reported pairs are
    * scored with the same exact cosine. CosineNearDupRecallSpec pins
    * the floors. Raise `keep` (recall ~ 1-(1-p)^keep per side) or
    * cellTarget to buy recall with work. */
  def cosineNearDupPairsBucketed(emb: DataFrame, idCol: String, vecCol: String,
                                 blockCol: Column, threshold: Double,
                                 cellTarget: Int = 125, keep: Int = 4,
                                 maxCells: Int = 4096): DataFrame = {
    import graft.functions.VectorFunctions.{asDouble, cosinePre, dotD}
    val n = emb.count()
    val nCells = math.min(maxCells.toLong,
      math.max(16L, (n + cellTarget - 1) / cellTarget)).toInt
    val prep = emb.select(col(idCol).as("id"),
        asDouble(col(vecCol)).as("v"), blockCol.as("blk"))
      .withColumn("nrm", sqrt(dotD(col("v"), col("v"))))
    // hash-rank centroids: TakeOrderedAndProject + a ≤ nCells collect,
    // inlined as native-expression data (the q41 centroid rule)
    val cents = prep
      .select(col("id").as("cent_id"), col("v").as("centv"), col("nrm").as("centn"))
      .orderBy(md5(col("cent_id").cast("string").cast("binary")), col("cent_id"))
      .limit(nCells)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
    if (cents.isEmpty)
      return emb.sparkSession.emptyDataFrame
        .select(lit(0L).as("id1"), lit(0L).as("id2"), lit(0.0).as("cos")).limit(0)
    def side(i: Int) = prep
      .select(col("id").as(s"id$i"), col("v").as(s"v$i"), col("nrm").as(s"n$i"),
        col("blk"),
        explode(graft.plans.NearestCells.nearestCells(
          col("v"), col("nrm"), cents.toSeq, keep)).as("cell"))
    side(1).join(side(2), Seq("cell", "blk"))
      .filter(col("id1") < col("id2"))
      .withColumn("cos", cosinePre(col("v1"), col("v2"), col("n1"), col("n2")))
      .filter(col("cos") > threshold)
      .select(col("id1"), col("id2"), round(col("cos"), 6).as("cos"))
      .distinct() // a pair sharing several cells reports once
  }

  /** TWO-LEVEL cosine near-duplicate pairs — the composition
    * [[cosineNearDupPairsBucketed]]'s scaladoc names for corpora past
    * its maxCells·cellTarget ceiling (~512k rows at the defaults):
    * a single flat centroid list must either exceed the bounded
    * driver collect or let cell payloads grow with the corpus. The
    * two-level shape removes the ceiling while keeping EVERY
    * driver-side structure bounded:
    *
    *  - LEVEL 1 (driver-bounded): ≤ maxCoarse hash-rank coarse
    *    centroids (the q41/q25 md5 rule — deterministic, replayable),
    *    target occupancy cellTarget·fanout rows; each vector
    *    multi-assigns to its keepCoarse nearest coarse cells via the
    *    native NearestCells expression (nearest-FIRST, so ordinal 0
    *    is the primary assignment).
    *  - LEVEL 2 (fully distributed — this is the point): fine
    *    centroids are DATA, never collected. Within each coarse
    *    cell, its PRIMARY members elect ceil(cellSize/cellTarget)
    *    fine centroids by the same md5 hash-rank (a per-cell window,
    *    not a global sort); every (vector, coarse) copy then joins
    *    the cell's fine centroids — a bucket join of ~cellTarget·
    *    fanout members × ~fanout centroids per cell, bounded by
    *    constants — and keeps its keepFine nearest by exact cosine
    *    rank.
    *  - Pairs generate only inside a (coarse, fine, block) bucket of
    *    expected ~cellTarget rows; exact cosine scores once; distinct
    *    after rounding.
    *
    * Total pair work stays O(keep² · cellTarget · n) — linear — and
    * the driver never holds more than maxCoarse centroid vectors, at
    * ANY corpus size: growth lands in nCoarse (until maxCoarse) and
    * then in per-cell fine counts, which live in executors. Recall
    * composes one more (1-p)^keep factor than the flat scheme
    * (CosineNearDupRecallSpec pins measured floors alongside the
    * flat path); precision is exactly 1.0 — candidates are scored by
    * the same exact cosine they are thresholded on. Oracled as q101:
    * every step (md5 ranks, per-cell windows, float rank orders) is
    * engine-exact SQL. */
  def cosineNearDupPairsTwoLevel(emb: DataFrame, idCol: String, vecCol: String,
                                 blockCol: Column, threshold: Double,
                                 cellTarget: Int = 125, fanout: Int = 8,
                                 keepCoarse: Int = 2, keepFine: Int = 2,
                                 maxCoarse: Int = 4096): DataFrame = {
    import graft.functions.VectorFunctions.{asDouble, cosinePre, dotD}
    val n = emb.count()
    val coarseTarget = cellTarget.toLong * fanout
    val nCoarse = math.min(maxCoarse.toLong,
      math.max(4L, (n + coarseTarget - 1) / coarseTarget)).toInt
    val prep = emb.select(col(idCol).as("id"),
        asDouble(col(vecCol)).as("v"), blockCol.as("blk"))
      .withColumn("nrm", sqrt(dotD(col("v"), col("v"))))
    val cents = prep
      .select(col("id").as("cent_id"), col("v").as("cv"), col("nrm").as("cn"))
      .orderBy(md5(col("cent_id").cast("string").cast("binary")), col("cent_id"))
      .limit(nCoarse)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
    if (cents.isEmpty)
      return emb.sparkSession.emptyDataFrame
        .select(lit(0L).as("id1"), lit(0L).as("id2"), lit(0.0).as("cos")).limit(0)
    val assigned = prep.select(col("id"), col("v"), col("nrm"), col("blk"),
      posexplode(graft.plans.NearestCells.nearestCells(
        col("v"), col("nrm"), cents.toSeq, keepCoarse)))
      .withColumnRenamed("pos", "cpos").withColumnRenamed("col", "coarse")
    // fine centroid election among each coarse cell's PRIMARY members:
    // per-cell windows (bounded partitions), never a global sort
    val primary = assigned.filter(col("cpos") === 0)
    val wSize = Window.partitionBy(col("coarse"))
    val wRank = Window.partitionBy(col("coarse"))
      .orderBy(md5(col("id").cast("string").cast("binary")), col("id"))
    val fineCents = primary
      .withColumn("csize", count(lit(1)).over(wSize))
      .withColumn("frn", row_number().over(wRank))
      .filter(col("frn") <=
        greatest(lit(1L), ceil(col("csize") / lit(cellTarget.toDouble))))
      .select(col("coarse"), col("id").as("fine_id"),
        col("v").as("fv"), col("nrm").as("fn"))
    // level-2 assignment: a bucket join per coarse cell, exact-cosine
    // rank — the (negsim, id) order NearestCells uses, in SQL form
    val wFine = Window.partitionBy(col("id"), col("coarse"))
      .orderBy((dotD(col("v"), col("fv")) * lit(-1.0)) / (col("nrm") * col("fn")),
        col("fine_id"))
    val fine = assigned.join(fineCents, Seq("coarse"))
      .withColumn("frk", row_number().over(wFine))
      .filter(col("frk") <= keepFine)
      .select(col("id"), col("v"), col("nrm"), col("blk"),
        col("coarse"), col("fine_id"))
    def side(i: Int) = fine.select(col("id").as(s"id$i"), col("v").as(s"v$i"),
      col("nrm").as(s"n$i"), col("blk"), col("coarse"), col("fine_id"))
    side(1).join(side(2), Seq("coarse", "fine_id", "blk"))
      .filter(col("id1") < col("id2"))
      .withColumn("cos", cosinePre(col("v1"), col("v2"), col("n1"), col("n2")))
      .filter(col("cos") > threshold)
      .select(col("id1"), col("id2"), round(col("cos"), 6).as("cos"))
      .distinct()
  }
}
