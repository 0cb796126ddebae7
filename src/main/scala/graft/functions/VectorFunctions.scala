package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` embedding columns, built from
  * higher-order functions (`zip_with`/`aggregate`) so the whole
  * computation stays inside whole-stage codegen. All math in double
  * precision and strictly sequential element order — this makes results
  * bit-identical to a sequential engine (the DuckDB oracle).
  */
object VectorFunctions {

  /** Dot product of two array<numeric> columns (double). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity in [-1, 1]. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Dot of two already-double arrays (skips the per-element cast —
    * use after projecting vectors with [[asDouble]]). Native loop
    * (graft.plans.VecDot); sequential order keeps oracle bit-parity. */
  def dotD(a: Column, b: Column): Column = graft.plans.VecDot.vecDot(a, b)

  /** Cast an array<float> to array<double> once, at projection time.
    * Pair-wise ops then avoid 2×dim casts per comparison. The built-in
    * array cast is codegen'd (a `transform` lambda would run
    * interpreted) and value- and type-identical to the per-element
    * cast (SqlFunctionsSpec). */
  def asDouble(a: Column): Column = a.cast("array<double>")

  /** Cosine from pre-projected double vectors and their pre-computed
    * norms: dot(a,b)/(na*nb) — identical arithmetic to [[cosine]]
    * (same sqrt-per-vector factorization), ~3× less work per pair. */
  def cosinePre(a: Column, b: Column, na: Column, nb: Column): Column =
    dotD(a, b) / (na * nb)

  /** Random-hyperplane LSH signature: `nBits` sign bits packed into a
    * long. Hyperplane j's component d is a deterministic pseudo-random
    * value derived from xxhash64(j, d) mapped to [-1, 1] — no stored
    * model, reproducible across the cluster. Native single-node
    * expression (graft.plans.HyperplaneSignature): plan size is
    * independent of the vector dimension, so this works unchanged at
    * real embedding dims (768–4096) where the old per-(bit,dim)
    * expression tree blew up task binaries. Vector must already be
    * array<double> ([[asDouble]]); dim is taken from the array. */
  def hyperplaneSignature(vec: Column, nBits: Int): Column =
    graft.plans.HyperplaneSignature.hyperplaneSignature(vec, nBits)
}
