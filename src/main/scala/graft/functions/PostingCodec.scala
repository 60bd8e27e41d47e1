package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, LongType}

/** Delta + zigzag-varint posting-list codec — the storage trick every
  * inverted-index engine uses (Lucene's VInt postings): sorted doc-id
  * lists are stored as first value + gaps, each zigzag-varint encoded,
  * so a dense posting list costs ~1–2 bytes per posting instead of 8.
  * At 100 TB the postings ARE the index; a 4–8× byte reduction on the
  * dominant structure is the difference between memory-resident and
  * disk-bound query serving.
  *
  * Both directions are custom Catalyst expressions (SURVEY §4.3
  * preference order: native `Expression` before UDF): the hot loop is
  * a static JVM method invoked from generated code, so the projection
  * stays inside WholeStageCodegen with no Row boxing; the interpreted
  * `nullSafeEval` path shares the same helpers, making the two paths
  * trivially consistent.
  *
  * Format: varint(zigzag(v₀)) ⧺ varint(zigzag(v₁−v₀)) ⧺ … — no length
  * header (decode runs to end of bytes). Zigzag first, so UNSORTED or
  * negative inputs still round-trip exactly (they just compress
  * worse); sortedness is a compression contract, not a correctness
  * precondition. Null array → null; null ELEMENT → null (a posting
  * list with a null id is malformed, and poisoning beats guessing).
  */
object PostingCodec {

  /** zigzag-varint append of one value. */
  private def put(out: java.io.ByteArrayOutputStream, v: Long): Unit = {
    var z = (v << 1) ^ (v >> 63)
    while ((z & ~0x7fL) != 0L) {
      out.write(((z & 0x7f) | 0x80).toInt)
      z >>>= 7
    }
    out.write(z.toInt)
  }

  /** Static hot-loop helpers — called from BOTH generated and
    * interpreted code. Returns null on a null element (expression
    * contract above).
    */
  def encode(a: ArrayData): Array[Byte] = {
    val n = a.numElements()
    val out = new java.io.ByteArrayOutputStream(n * 2)
    var prev = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val v = a.getLong(i)
      put(out, if (i == 0) v else v - prev)
      prev = v
      i += 1
    }
    out.toByteArray
  }

  def decode(b: Array[Byte]): ArrayData = {
    val vals = scala.collection.mutable.ArrayBuffer.empty[Long]
    var i = 0
    var prev = 0L
    while (i < b.length) {
      var z = 0L
      var shift = 0
      var more = true
      while (more) {
        // a truncated varint (continuation bit set at end-of-buffer)
        // is malformed input — fail loudly, never read past the array
        if (i >= b.length)
          throw new IllegalArgumentException(
            "posting_decode: truncated varint at end of buffer")
        // same contract for OVERLONG varints: a Long is at most 10
        // groups; past that the JVM shift would wrap (shift & 63) and
        // fold payload into low bits — garbage values, silently
        if (shift > 63)
          throw new IllegalArgumentException(
            "posting_decode: varint exceeds 64 bits (overlong or corrupt)")
        val x = b(i).toLong & 0xff
        // at shift 63 only payload bit 0 fits in the Long; higher payload
        // bits (or a continuation) would be shifted out silently — corrupt
        if (shift == 63 && (x & 0xfe) != 0)
          throw new IllegalArgumentException(
            "posting_decode: varint exceeds 64 bits (overlong or corrupt)")
        z |= (x & 0x7f) << shift
        shift += 7
        more = (x & 0x80) != 0
        i += 1
      }
      val v = (z >>> 1) ^ -(z & 1L)
      val abs = if (vals.isEmpty) v else prev + v
      vals += abs
      prev = abs
    }
    new GenericArrayData(vals.toArray)
  }

  def postingEncode(a: Column): Column = call_function("posting_encode", a)
  def postingDecode(b: Column): Column = call_function("posting_decode", b)
}

case class PostingEncode(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "posting_encode"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"posting_encode requires array<bigint>, got ${t.simpleString}")
  }

  override def nullSafeEval(a: Any): Any =
    PostingCodec.encode(a.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |${ev.value} = graft.functions.PostingCodec.encode($a);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

case class PostingDecode(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "posting_decode"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"posting_decode requires binary, got ${t.simpleString}")
  }

  override def nullSafeEval(b: Any): Any =
    PostingCodec.decode(b.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, b => s"graft.functions.PostingCodec.decode($b)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
