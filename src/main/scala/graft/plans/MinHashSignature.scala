package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** MinHash signature over word k-shingles, computed from a token-array
  * column in one native Catalyst expression.
  *
  * Why an Expression and not higher-order functions: Spark's
  * `transform`/`aggregate` lambdas are interpreted per element — at
  * corpus scale that dominates. Here the per-row work (hash each token,
  * roll k-token shingle hashes, track `numPerms` minima) runs as one
  * tight JVM loop: shingle strings are never materialized; a shingle's
  * hash is an XXH64 chain over its k token hashes, and permutation p's
  * value is XXH64.hashLong(shingleHash, p).
  *
  * The map-only shape (no explode, no shuffle) is what makes MinHash
  * viable on a 100 TB corpus: signatures stream out of the scan stage.
  */
case class MinHashTokens(child: Expression, k: Int, numPerms: Int)
    extends UnaryExpression with TokenArrayInput {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    signature(input.asInstanceOf[ArrayData])

  /** Called from both interpreted eval and generated code. */
  def signature(toks: ArrayData): ArrayData = {
    val n = toks.numElements()
    // per-token hashes
    val th = new Array[Long](n)
    var i = 0
    while (i < n) {
      val s = toks.getUTF8String(i)
      th(i) = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      i += 1
    }
    val mins = Array.fill(numPerms)(Long.MaxValue)
    i = 0
    while (i <= n - k) {
      var sh = 42L
      var j = 0
      while (j < k) { sh = XXH64.hashLong(th(i + j), sh); j += 1 }
      var p = 0
      while (p < numPerms) {
        val v = XXH64.hashLong(sh, p.toLong)
        if (v < mins(p)) mins(p) = v
        p += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhash", this, classOf[MinHashTokens].getName)
    nullSafeCodeGen(ctx, ev, x => s"${ev.value} = $ref.signature($x);")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashTokens =
    copy(child = newChild)
}

object MinHashTokens {
  import org.apache.spark.sql.graftbridge.Bridge

  /** Column builder: tokens must be array<string> with non-null elements. */
  def minhashTokens(tokens: Column, k: Int, numPerms: Int): Column =
    Bridge.toColumn(MinHashTokens(Bridge.toExpression(tokens), k, numPerms))
}
