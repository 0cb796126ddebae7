package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.BridgeTypes.AbstractDataType
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Whitespace tokenization in ONE native loop — semantically identical
  * to `filter(split(text, " "), t => t != "")` (split on the single
  * SPACE character, empty segments dropped, null text → null) but
  * without the interpreted pass: `filter` is a higher-order function,
  * i.e. a CodegenFallback node whose lambda runs interpreted once per
  * array element — and tokenization feeds nearly every text operator
  * (shingles, spans, TF-IDF, packing, the LM score), usually more than
  * once per query plan. `split` also allocates the empty segments this
  * drops; the native loop never materializes them.
  *
  * Byte-level scan is safe: ' ' is ASCII 0x20 and UTF-8 multi-byte
  * sequences never contain bytes < 0x80, so splitting on the raw byte
  * is exactly splitting on the character. Parity with the HOF chain
  * (incl. multi-space runs, leading/trailing spaces, unicode, empty
  * and null inputs) is pinned by SqlFunctionsSpec. */
case class Tokens(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  // a non-string child is an analysis error, not a ClassCastException
  // inside a task
  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)

  // containsNull matches `filter(split(...))`'s declared type exactly
  // (split declares non-null elements) — a different nullability here
  // could flip downstream schemas and the driver's schema hash
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    split(input.asInstanceOf[UTF8String])

  def split(s: UTF8String): GenericArrayData = {
    // scan the string where it lives (an UnsafeRow's buffer, a column
    // vector, a substring's array) instead of copying it per row; each
    // token points into the same memory, as `UnsafeRow.getUTF8String`
    // does — consumers that keep a value past the row copy it
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes
    def at(i: Int): Byte = Platform.getByte(base, off + i)
    var count = 0
    var i = 0
    // first pass: count tokens (avoids a growable buffer per row)
    while (i < n) {
      if (at(i) != 0x20) {
        count += 1
        while (i < n && at(i) != 0x20) i += 1
      } else i += 1
    }
    val out = new Array[Any](count)
    var k = 0
    i = 0
    while (i < n) {
      if (at(i) != 0x20) {
        val start = i
        while (i < n && at(i) != 0x20) i += 1
        out(k) = UTF8String.fromAddress(base, off + start, i - start)
        k += 1
      } else i += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("tokens", this, classOf[Tokens].getName)
    nullSafeCodeGen(ctx, ev, x => s"${ev.value} = $ref.split($x);")
  }

  override protected def withNewChildInternal(newChild: Expression): Tokens =
    copy(child = newChild)
}

object Tokens {
  import org.apache.spark.sql.graftbridge.Bridge

  def tokens(text: Column): Column =
    Bridge.toColumn(Tokens(Bridge.toExpression(text)))
}
