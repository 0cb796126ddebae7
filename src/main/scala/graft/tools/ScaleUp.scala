package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Build a larger-scale BENCH dataset by key-shifted replication of a
  * driver-generated scale factor (sf0.1 × 10 ≈ sf1). This exists so
  * the bench has a second, 10×-larger point to check plan scaling
  * against — it is NOT oracle data: correctness stays gated on the
  * driver's own testdata.
  *
  * Replication preserves each replica's INTERNAL distribution exactly
  * and decorrelates replicas from each other, so workload character
  * scales linearly instead of degenerating:
  *  - keys (custkey, orderkey, doc_id, …) shift by a per-replica
  *    offset, consistently across fact tables (joins keep their
  *    selectivity);
  *  - dims (region, nation) are fixed — as in TPC-H, they do not
  *    scale;
  *  - document texts are token-salted per replica (every token gets a
  *    replica prefix): within-replica shingle/minhash/simhash
  *    structure is IDENTICAL to the source corpus, while cross-replica
  *    shingle overlap is zero — without this, every doc acquires 10
  *    copies and the pair-similarity family degenerates into
  *    10-cliques (quadratic, not 10×, work);
  *  - embeddings get a per-replica ORTHOGONAL transform (dimension
  *    permutation + sign flips, derived from a seeded LCG): all
  *    within-replica pairwise cosines are exactly preserved,
  *    cross-replica similarity collapses to noise;
  *  - event timestamps keep their range (same wall-clock window,
  *    10× the traffic — how event volume actually grows).
  *
  * Usage: ScaleUp <srcSfDir> <outDir> [factor=10]
  */
object ScaleUp {

  private val Off = 100000000L // per-replica key offset

  def main(args: Array[String]): Unit = {
    val src = args(0); val out = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = graft.GraftSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "16").toInt)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    new java.io.File(out).mkdirs()

    def t(name: String) = spark.read.parquet(s"$src/$name.parquet")
    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[scaleup] $name: ${spark.read.parquet(s"$out/$name.parquet").count()} rows")
    }
    def replicate(name: String)(f: (DataFrame, Int) => DataFrame): Unit =
      write((0 until factor).map(r => f(t(name), r)).reduce(_.unionAll(_)), name)

    def shift(c: String, r: Int) = col(c) + lit(Off * r)

    // fixed dims — they do not scale
    write(t("region"), "region")
    write(t("nation"), "nation")

    replicate("customer")((df, r) => df.withColumn("c_custkey", shift("c_custkey", r)))
    replicate("supplier")((df, r) => df.withColumn("s_suppkey", shift("s_suppkey", r)))
    replicate("part")((df, r) => df.withColumn("p_partkey", shift("p_partkey", r)))
    replicate("orders")((df, r) => df
      .withColumn("o_orderkey", shift("o_orderkey", r))
      .withColumn("o_custkey", shift("o_custkey", r)))
    replicate("lineitem")((df, r) => df
      .withColumn("l_orderkey", shift("l_orderkey", r))
      .withColumn("l_partkey", shift("l_partkey", r))
      .withColumn("l_suppkey", shift("l_suppkey", r)))
    replicate("events")((df, r) => df
      .withColumn("event_id", shift("event_id", r))
      .withColumn("user_id", shift("user_id", r)))

    // token-salt every token in replica r>0: "a b" -> "r1_a r1_b".
    // Replica 0 is passed through UNTOUCHED (including null text /
    // null n_chars) so the scaled set's replica-0 slice stays
    // byte-identical to the source; salted replicas recompute n_chars
    // for their longer texts, preserving null via the text's own null.
    replicate("documents") { (df, r) =>
      if (r == 0) df else
        df.withColumn("doc_id", shift("doc_id", r))
          .withColumn("text",
            // null text stays null (same null population every replica)
            when(col("text").isNull, lit(null).cast("string"))
              .otherwise(concat(lit(s"r${r}_"),
                regexp_replace(col("text"), " ", s" r${r}_"))))
          .withColumn("n_chars", length(col("text")).cast("long"))
    }

    // per-replica orthogonal transform: v'_i = sign[i] * v[perm[i]]
    replicate("embeddings") { (df, r) =>
      if (r == 0) df else {
        val dim = df.select(size(col("embedding"))).head().getInt(0)
        // deterministic LCG-seeded permutation + signs (no RNG state
        // shared with anything else; fully replayable)
        var s = 2654435761L * (r + 1)
        def next(): Long = { s = s * 6364136223846793005L + 1442695040888963407L; s >>> 11 }
        val permKeys = Array.fill(dim)(next())
        val perm = (0 until dim).sortBy(permKeys(_)).toArray
        val signs = (0 until dim).map(_ => if ((next() & 1) == 0) 1.0f else -1.0f).toArray
        val permLit = typedlit(perm.toIndexedSeq)
        val signLit = typedlit(signs.toIndexedSeq)
        df.withColumn("vec_id", shift("vec_id", r))
          .withColumn("embedding",
            transform(sequence(lit(0), lit(dim - 1)), i =>
              (element_at(col("embedding"), element_at(permLit, i + 1) + 1)
                * element_at(signLit, i + 1)).cast("float")))
      }
    }

    spark.stop()
  }
}
