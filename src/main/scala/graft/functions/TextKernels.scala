package graft.functions

import java.util.Arrays

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Byte-scan kernels over the whitespace tokens of a string — the
  * tokens of `filter(split(text, "\\s+"), length > 0)`
  * ([[TextAnalysis.tokens]]) without building that array:
  *
  *  - `token_count(text)`: how many tokens;
  *  - `shingle_hashes(text, k)`: the hash of every run of k adjacent
  *    tokens, in order, duplicates kept;
  *  - `simhash64(text)`: the 64-bit SimHash of the tokens.
  *
  * Each scans the UTF-8 bytes once and splits on Java's `\s` set only
  * (space, `\t`, `\n`, `\x0B`, `\f`, `\r`; not `0x1C`–`0x1F`), the
  * same rule as [[IndexWords]]. No byte of a multi-byte character is
  * one of those six, so a token is a byte range of the input. A token
  * is hashed in place with the chained `XXH64.hashUnsafeBytes` at
  * Spark's seed 42, which is what `xxhash64(tok_1, …, tok_k)` computes
  * over the same tokens. Case is the caller's: pass `lower(text)` to
  * keep Spark's Unicode lowercasing.
  *
  * NULL in, NULL out. Each `doGenCode` is a static call into the loop
  * `nullSafeEval` also runs (the [[DHash56]] idiom); the functions are
  * registered once per session by [[graft.plans.GraftExtensions]].
  */
object TextKernels {

  /** Spark's `xxhash64` seed. */
  val Seed = 42L

  /** The split rule of every tokenizer here and of [[IndexWords]]. */
  @inline private[functions] def isSpace(b: Byte): Boolean = b == ' ' || (b >= 9 && b <= 13)

  // The one token scan under the three kernels, on the bytes
  // `[off, off + n)` of `base`:
  //   var start = skipSpace(base, off, n, 0)
  //   while (start < n) { val end = tokenEnd(base, off, n, start)
  //     ... token [start, end) ...; start = skipSpace(base, off, n, end) }

  /** The first index at or after `i` that is not a `\s` byte, or `n`:
    * where the next token starts. */
  private[functions] def skipSpace(base: AnyRef, off: Long, n: Int, i: Int): Int = {
    var j = i
    while (j < n && isSpace(Platform.getByte(base, off + j))) j += 1
    j
  }

  /** The first index after the token starting at `i`: where it ends. */
  private[functions] def tokenEnd(base: AnyRef, off: Long, n: Int, i: Int): Int = {
    var j = i + 1
    while (j < n && !isSpace(Platform.getByte(base, off + j))) j += 1
    j
  }

  private[functions] def requireString(name: String, e: Expression): TypeCheckResult =
    if (e.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name requires a string input, got ${e.dataType.simpleString}")
}

/** `token_count(text)`: the number of whitespace tokens, an int like
  * `size(tokens(text))`. See [[TextKernels]]. */
case class TokenCount(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    TextKernels.requireString(TokenCount.Name, child)

  override def dataType: DataType = IntegerType
  override def prettyName: String = TokenCount.Name

  override def nullSafeEval(input: Any): Any = TokenCount.count(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TokenCount.count($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenCount {

  val Name = "token_count"

  def apply(text: Column): Column = call_function(Name, text)

  def count(s: UTF8String): Int = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes()
    var tokens = 0
    var start = TextKernels.skipSpace(base, off, n, 0)
    while (start < n) {
      tokens += 1
      start = TextKernels.skipSpace(base, off, n, TextKernels.tokenEnd(base, off, n, start))
    }
    tokens
  }
}

/** `shingle_hashes(text, k)`: one `long` per window of k adjacent
  * tokens, in order, duplicates kept; empty when there are fewer than
  * k tokens. `k` must be a constant ≥ 1. See [[TextKernels]]. */
case class ShingleHashes(left: Expression, right: Expression) extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val k = if (right.foldable && right.dataType == IntegerType) right.eval() else null
    if (k == null || k.asInstanceOf[Int] < 1)
      TypeCheckResult.TypeCheckFailure(
        s"${ShingleHashes.Name} requires a constant int k >= 1, got ${right.sql}")
    else TextKernels.requireString(ShingleHashes.Name, left)
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = ShingleHashes.Name

  override def nullSafeEval(text: Any, k: Any): Any =
    ShingleHashes.hashes(text.asInstanceOf[UTF8String], k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, k) => s"graft.functions.ShingleHashes.hashes($t, $k)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ShingleHashes {

  val Name = "shingle_hashes"

  def apply(text: Column, k: Int): Column = call_function(Name, text, lit(k))

  def hashes(s: UTF8String, k: Int): UnsafeArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes()
    // the last k token ranges, a ring indexed by token number mod k
    val starts = new Array[Int](k)
    val lens = new Array[Int](k)
    var out = new Array[Long](16)
    var m = 0
    var tokens = 0
    var start = TextKernels.skipSpace(base, off, n, 0)
    while (start < n) {
      val end = TextKernels.tokenEnd(base, off, n, start)
      starts(tokens % k) = start; lens(tokens % k) = end - start
      tokens += 1
      if (tokens >= k) {
        var h = TextKernels.Seed
        var j = tokens - k
        while (j < tokens) {
          h = XXH64.hashUnsafeBytes(base, off + starts(j % k), lens(j % k), h)
          j += 1
        }
        if (m == out.length) out = Arrays.copyOf(out, m * 2)
        out(m) = h; m += 1
      }
      start = TextKernels.skipSpace(base, off, n, end)
    }
    UnsafeArrayData.fromPrimitiveArray(if (m == out.length) out else Arrays.copyOf(out, m))
  }
}

/** `simhash64(text)`: each token's `xxhash64` votes ±1 on each of the
  * 64 bits; a bit is set when its vote sum is positive. NULL when the
  * text has no token. See [[TextKernels]]. */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    TextKernels.requireString(SimHash64.Name, child)

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = SimHash64.Name

  override def nullSafeEval(input: Any): Any = SimHash64.signature(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val h = ctx.freshName("h")
      s"""java.lang.Long $h = graft.functions.SimHash64.signature($c);
         |if ($h == null) { ${ev.isNull} = true; } else { ${ev.value} = $h; }""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash64 {

  val Name = "simhash64"

  def apply(text: Column): Column = call_function(Name, text)

  /** The signature, or null when `s` has no token. */
  def signature(s: UTF8String): java.lang.Long = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val n = s.numBytes()
    // ones(b) = tokens whose hash has bit b set; the vote sum of bit b
    // is ones(b) - (tokens - ones(b))
    val ones = new Array[Int](64)
    var tokens = 0
    var start = TextKernels.skipSpace(base, off, n, 0)
    while (start < n) {
      val end = TextKernels.tokenEnd(base, off, n, start)
      val h = XXH64.hashUnsafeBytes(base, off + start, end - start, TextKernels.Seed)
      var b = 0
      while (b < 64) { ones(b) += ((h >>> b) & 1L).toInt; b += 1 }
      tokens += 1
      start = TextKernels.skipSpace(base, off, n, end)
    }
    if (tokens == 0) return null
    var sig = 0L
    var b = 0
    while (b < 64) {
      if (2L * ones(b) > tokens) sig |= 1L << b
      b += 1
    }
    sig
  }
}
