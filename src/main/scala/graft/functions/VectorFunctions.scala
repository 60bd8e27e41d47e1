package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, sqrt}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Native dot product over two `array<double>` columns.
  *
  * Spark has no built-in vector dot; the composable alternative
  * (`aggregate(zip_with(a, b, _*_), 0d, _+_)`) runs through the
  * interpreted `ArrayAggregate`/`ArrayZipWith` higher-order functions —
  * measured 132 s for the all-pairs similarity pass at sf0.1. This
  * expression generates a tight primitive loop inside WholeStageCodegen
  * (SURVEY §4.3 preference order: custom `Expression` before
  * `mapPartitions`), with an interpreted `nullSafeEval` fallback.
  *
  * Summation is sequential left-to-right — the same order as the HOF
  * version and DuckDB's list functions, so results stay bit-identical
  * with the oracle.
  *
  * Null semantics match the HOF form exactly (required for the
  * [[graft.plans.RewriteHofDotProduct]] rewrite to be
  * semantics-preserving): unequal lengths → NULL (zip_with null-pads,
  * poisoning the sum), any null element → NULL.
  */
case class ArrayDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "array_dot"

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"array_dot requires array<double> inputs, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = $a.numElements();
         |double $s = 0.0;
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $s += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** 0-based index of the nearest centroid by cosine: argmax over i of
  * `dot(emb, cEmbs[i]) / cNrms[i]` (the query vector's own norm is a
  * constant positive scale across candidates, so it drops out of the
  * argmax and is not an input). Ties break to the LOWEST index, making
  * the result total and deterministic.
  *
  * This is the cell-assignment primitive of the IVF/dedup family: with
  * the (small, broadcast) centroid set attached as array literals-per-
  * row, assignment becomes a NARROW projection — no corpus×C row
  * explosion, no `row_number` window shuffling the exploded set, not
  * even the n-row shuffle a `groupBy(vec_id).agg(max_by(...))` reduction
  * would pay. One tight codegen'd loop per row inside WholeStageCodegen
  * (SURVEY §4.3 preference order), interpreted `nullSafeEval` fallback.
  *
  * NULL on: any null input/element, empty centroid list, dimension
  * mismatch, or no finite score (e.g. all cNrms zero → NaN scores,
  * which never beat the running max).
  */
case class NearestCell(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "nearest_cell"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(DoubleType, _),
            ArrayType(ArrayType(DoubleType, _), _),
            ArrayType(DoubleType, _)) => true
      case _ => false
    }
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"nearest_cell requires (array<double>, array<array<double>>, array<double>), got " +
        s"${first.dataType.simpleString}, ${second.dataType.simpleString}, " +
        s"${third.dataType.simpleString}")
  }

  override def nullSafeEval(e: Any, ce: Any, cn: Any): Any = {
    val emb = e.asInstanceOf[ArrayData]
    val cEmbs = ce.asInstanceOf[ArrayData]
    val cNrms = cn.asInstanceOf[ArrayData]
    val c = cEmbs.numElements()
    if (c == 0 || c != cNrms.numElements()) return null
    val d = emb.numElements()
    var best = Double.NegativeInfinity
    var bestIdx = -1
    var i = 0
    while (i < c) {
      if (cEmbs.isNullAt(i) || cNrms.isNullAt(i)) return null
      val cemb = cEmbs.getArray(i)
      if (cemb.numElements() != d) return null
      var s = 0.0
      var j = 0
      while (j < d) {
        if (emb.isNullAt(j) || cemb.isNullAt(j)) return null
        s += emb.getDouble(j) * cemb.getDouble(j)
        j += 1
      }
      val score = s / cNrms.getDouble(i)
      if (score > best) { best = score; bestIdx = i }
      i += 1
    }
    if (bestIdx < 0) null else bestIdx
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (e, ce, cn) => {
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val d = ctx.freshName("d")
      val s = ctx.freshName("s")
      val cemb = ctx.freshName("cemb")
      val score = ctx.freshName("score")
      val best = ctx.freshName("best")
      val bestIdx = ctx.freshName("bestIdx")
      s"""
         |int $c = $ce.numElements();
         |int $d = $e.numElements();
         |double $best = Double.NEGATIVE_INFINITY;
         |int $bestIdx = -1;
         |if ($c == 0 || $c != $cn.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  for (int $i = 0; $i < $c; $i++) {
         |    if ($ce.isNullAt($i) || $cn.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    org.apache.spark.sql.catalyst.util.ArrayData $cemb = $ce.getArray($i);
         |    if ($cemb.numElements() != $d) { ${ev.isNull} = true; break; }
         |    double $s = 0.0;
         |    for (int $j = 0; $j < $d; $j++) {
         |      if ($e.isNullAt($j) || $cemb.isNullAt($j)) { ${ev.isNull} = true; break; }
         |      $s += $e.getDouble($j) * $cemb.getDouble($j);
         |    }
         |    if (${ev.isNull}) break;
         |    double $score = $s / $cn.getDouble($i);
         |    if ($score > $best) { $best = $score; $bestIdx = $i; }
         |  }
         |  if ($bestIdx < 0) ${ev.isNull} = true;
         |}
         |${ev.value} = $bestIdx;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Coarse→fine two-level nearest-cell descent — [[NearestCell]]'s
  * answer to the flat assignment's O(C·d) per-row cost at large C
  * (VERDICT r10 #6: at the 4096-cell cap the ASSIGNMENT pass, not the
  * probe, is the O(n·C·d) bottleneck). Fine centroids are grouped
  * (driver-side, see `Similarity.hierIndex`); per row the expression
  * scores the G coarse group centers, keeps the top-`probes` groups
  * (multi-probe: the single-group greedy descent measured only 0.86
  * agreement with flat argmax on a clustered corpus — boundary vectors
  * need a second-best group), then scans just those groups' fine
  * slices: O((G + probes·C/G)·d) ≈ O((1+probes)·√C·d).
  *
  * Children: (emb, coarseEmbs, coarseNrms, starts, fineEmbs,
  * fineNrms, probes) with `starts` the G+1 group offsets into the
  * grouped-order fine arrays and `probes` a foldable int. Returns the
  * 0-based GLOBAL index into the grouped fine arrays; ties break to
  * the lowest global index (total + deterministic, like
  * [[NearestCell]]). NULL on the same conditions as [[NearestCell]].
  */
case class NearestCellHier(children: Seq[Expression]) extends Expression {

  private def probesExpr = children(6)

  override def dataType: DataType = IntegerType
  override def prettyName: String = "nearest_cell_hier"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = children.map(_.dataType) match {
      case scala.collection.Seq(
        ArrayType(DoubleType, _), ArrayType(ArrayType(DoubleType, _), _),
        ArrayType(DoubleType, _), ArrayType(IntegerType, _),
        ArrayType(ArrayType(DoubleType, _), _), ArrayType(DoubleType, _),
        IntegerType) => probesExpr.foldable
      case _ => false
    }
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "nearest_cell_hier requires (array<double>, array<array<double>>, " +
        "array<double>, array<int>, array<array<double>>, array<double>, " +
        "foldable int)")
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val vals = children.map(_.eval(input))
    if (vals.exists(_ == null)) return null
    val e = vals(0).asInstanceOf[ArrayData]
    val cEmbs = vals(1).asInstanceOf[ArrayData]
    val cNrms = vals(2).asInstanceOf[ArrayData]
    val starts = vals(3).asInstanceOf[ArrayData]
    val fEmbs = vals(4).asInstanceOf[ArrayData]
    val fNrms = vals(5).asInstanceOf[ArrayData]
    val probes = vals(6).asInstanceOf[Int]
    NearestCellHier.descend(e, cEmbs, cNrms, starts, fEmbs, fNrms, probes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val evs = children.map(_.genCode(ctx))
    val boxed = ctx.freshName("hierRes")
    val code =
      code"""
        |${evs.map(_.code).mkString("\n")}
        |boolean ${ev.isNull} = true;
        |int ${ev.value} = -1;
        |if (!(${evs.map(_.isNull).mkString(" || ")})) {
        |  Integer $boxed = graft.functions.NearestCellHier.descend(
        |    ${evs(0).value}, ${evs(1).value}, ${evs(2).value}, ${evs(3).value},
        |    ${evs(4).value}, ${evs(5).value}, ${evs(6).value});
        |  if ($boxed != null) { ${ev.isNull} = false; ${ev.value} = $boxed.intValue(); }
        |}
      """.stripMargin
    ev.copy(code = code)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

object NearestCellHier {

  /** Static hot loop shared by codegen and interpreted paths (the
    * [[CompressionSignal]] pattern — one copy of the algorithm, the
    * generated code is a single static call that JIT inlines).
    */
  def descend(e: ArrayData, cEmbs: ArrayData, cNrms: ArrayData,
      starts: ArrayData, fEmbs: ArrayData, fNrms: ArrayData,
      probes: Int): Integer = {
    val g = cEmbs.numElements()
    if (g == 0 || g != cNrms.numElements() || starts.numElements() != g + 1)
      return null
    val d = e.numElements()
    val w = math.max(1, math.min(probes, g))
    val topIdx = new Array[Int](w)
    val topScore = new Array[Double](w)
    java.util.Arrays.fill(topScore, Double.NegativeInfinity)
    java.util.Arrays.fill(topIdx, -1)
    var i = 0
    while (i < g) {
      val ce = cEmbs.getArray(i)
      if (ce.numElements() != d) return null
      var s = 0.0
      var j = 0
      while (j < d) {
        if (e.isNullAt(j)) return null
        s += e.getDouble(j) * ce.getDouble(j); j += 1
      }
      val score = s / cNrms.getDouble(i)
      // insertion into the tiny descending top-w arrays
      if (score > topScore(w - 1)) {
        var p = w - 1
        while (p > 0 && topScore(p - 1) < score) {
          topScore(p) = topScore(p - 1); topIdx(p) = topIdx(p - 1); p -= 1
        }
        topScore(p) = score; topIdx(p) = i
      }
      i += 1
    }
    var best = Double.NegativeInfinity
    var bestIdx = -1
    var p = 0
    while (p < w) {
      val grp = topIdx(p)
      if (grp >= 0) {
        var f = starts.getInt(grp)
        val end = starts.getInt(grp + 1)
        while (f < end) {
          val fe = fEmbs.getArray(f)
          if (fe.numElements() != d) return null
          var s = 0.0
          var j = 0
          while (j < d) { s += e.getDouble(j) * fe.getDouble(j); j += 1 }
          val score = s / fNrms.getDouble(f)
          if (score > best || (score == best && f < bestIdx)) {
            best = score; bestIdx = f
          }
          f += 1
        }
      }
      p += 1
    }
    if (bestIdx < 0) null else Integer.valueOf(bestIdx)
  }
}

/** Column-level API. The expressions are registered once per session
  * by [[graft.plans.GraftExtensions]] and invoked by name via
  * `call_function`, which keeps this code independent of the
  * Column-construction internals that changed in Spark 4.
  */
object VectorFunctions {

  def spectralFeatures(pcm: Column): Column =
    call_function("spectral_features", pcm)

  def dhash56(content: Column): Column = call_function("dhash56", content)

  def arrayDot(a: Column, b: Column): Column = call_function("array_dot", a, b)

  def l2Norm(a: Column): Column = sqrt(arrayDot(a, a))

  def nearestCell(emb: Column, cEmbs: Column, cNrms: Column): Column =
    call_function("nearest_cell", emb, cEmbs, cNrms)

  def nearestCellHier(emb: Column, cEmbs: Column, cNrms: Column,
      starts: Column, fEmbs: Column, fNrms: Column, probes: Column): Column =
    call_function("nearest_cell_hier", emb, cEmbs, cNrms, starts, fEmbs, fNrms, probes)
}
