package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}

/** Deflate-compressed size of a string's UTF-8 bytes — the raw input
  * to the compression-ratio quality signal web-scale curation uses
  * (compressed/raw ≪ typical prose → templated or repetitive machine
  * text; ≈ 1 → high-entropy noise; natural language sits in a band).
  * It complements the n-gram repetition metrics: deflate sees LONG-
  * range and cross-token redundancy a bounded n-gram window misses.
  *
  * Deterministic for a fixed zlib level on a given JVM (level 6,
  * `nowrap` — raw deflate, no header bytes), but the byte count is a
  * property of the COMPRESSOR, not the data model, so the gate entry
  * built on it is rows-only (no cross-engine oracle is possible by
  * construction — DuckDB has no deflate); the spec pins behavior
  * instead: repetitive text compresses far below shuffled-random, the
  * ratio lands in (0, ~1.1], and results are run-to-run stable.
  *
  * Native expression (SURVEY §4.3 preference order), static hot-loop
  * helper shared by codegen and interpreted paths — same pattern as
  * [[PostingCodec]]. A Deflater is allocated per CALL, not pooled:
  * deflate cost dwarfs allocation, and pooling would make the
  * expression stateful (unsafe under codegen reuse).
  */
object CompressionSignal {

  def deflateLen(s: org.apache.spark.unsafe.types.UTF8String): Int = {
    val bytes = s.getBytes
    val d = new java.util.zip.Deflater(6, true)
    try {
      d.setInput(bytes)
      d.finish()
      val buf = new Array[Byte](8192)
      var total = 0
      while (!d.finished()) total += d.deflate(buf)
      total
    } finally d.end()
  }

  def deflateLength(c: Column): Column = call_function("deflate_len", c)
}

case class DeflateLength(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def prettyName: String = "deflate_len"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"deflate_len requires string, got ${t.simpleString}")
  }

  override def nullSafeEval(a: Any): Any =
    CompressionSignal.deflateLen(
      a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.CompressionSignal.deflateLen($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
