package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.types.{DataType, LongType}

/** 64-bit Charikar SimHash of a token array in one native loop:
  * per token, xxhash64 of its bytes (seed 42, matching Spark's
  * xxhash64); each of the 64 counters moves ±1 by that hash's bit;
  * fingerprint bit b = sign(counter b). Replaces the 64-interpreted-
  * aggregates formulation (one pass, no per-bit lambda dispatch). */
case class SimHashTokens(child: Expression)
    extends UnaryExpression with TokenArrayInput {

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(fingerprint(input.asInstanceOf[ArrayData]))

  /** Called from both interpreted eval and generated code. */
  def fingerprint(toks: ArrayData): Long = {
    val n = toks.numElements()
    val counters = new Array[Int](64)
    var i = 0
    while (i < n) {
      val s = toks.getUTF8String(i)
      val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counters(b) += 1 else counters(b) -= 1
        b += 1
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < 64) {
      if (counters(b) > 0) fp |= (1L << b)
      b += 1
    }
    fp
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simhash", this, classOf[SimHashTokens].getName)
    nullSafeCodeGen(ctx, ev, x => s"${ev.value} = $ref.fingerprint($x);")
  }

  override protected def withNewChildInternal(newChild: Expression): SimHashTokens =
    copy(child = newChild)
}

object SimHashTokens {
  import org.apache.spark.sql.graftbridge.Bridge

  def simhashTokens(tokens: Column): Column =
    Bridge.toColumn(SimHashTokens(Bridge.toExpression(tokens)))
}
