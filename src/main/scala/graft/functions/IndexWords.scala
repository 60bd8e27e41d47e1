package graft.functions

import java.util.ArrayList

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The paper's word rule as one byte-scan kernel: `index_words(text)`
  * returns the words of `text` in order, duplicates kept.
  *
  * It is exactly
  * `filter(transform(split(text, "\\s+"), normalizeToken), length > 0)`
  * (see [[graft.operators.InvertedIndex.normalizeToken]]), done in one
  * pass over the UTF-8 bytes instead of a regex split plus a regex
  * replace and a `lower` per token:
  *
  *  - split on Java's `\s` set only ([[TextKernels.isSpace]]): space,
  *    `\t`, `\n`, `\x0B`, `\f`, `\r` (NOT `0x1C`–`0x1F`, which
  *    `Character.isWhitespace` accepts);
  *  - keep ASCII letters, lowercased;
  *  - drop every other byte, which drops every byte of a non-ASCII
  *    character (all are ≥ 0x80 in UTF-8), and drop empty words.
  *
  * The words of one row are views into a single lowercased copy of its
  * letters: one byte array per row, not three strings per token. NULL
  * in, NULL out. One static-call kernel inside whole-stage codegen,
  * interpreted path shared (the [[DHash56]] idiom). Registered once per
  * session by [[graft.plans.GraftExtensions]].
  */
case class IndexWords(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    TextKernels.requireString(IndexWords.Name, child)

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = IndexWords.Name

  override def nullSafeEval(input: Any): Any = IndexWords.words(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.IndexWords.words($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object IndexWords {

  val Name = "index_words"

  /** `index_words(text)` as a Column. */
  def apply(text: Column): Column = call_function(Name, text)

  /** The kernel: the words of one UTF-8 string. */
  def words(s: UTF8String): ArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes()
    val buf = new Array[Byte](n)
    val words = new ArrayList[UTF8String]()
    var w = 0
    var start = 0
    var i = 0
    while (i < n) {
      val b = Platform.getByte(base, off + i)
      if (b >= 'a' && b <= 'z') { buf(w) = b; w += 1 }
      else if (b >= 'A' && b <= 'Z') { buf(w) = (b + 32).toByte; w += 1 }
      else if (TextKernels.isSpace(b)) {
        if (w > start) { words.add(UTF8String.fromBytes(buf, start, w - start)); start = w }
      }
      i += 1
    }
    if (w > start) words.add(UTF8String.fromBytes(buf, start, w - start))
    new GenericArrayData(words.toArray())
  }
}
