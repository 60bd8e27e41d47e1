package graft

import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions.{col, filter, length, split, transform}
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.functions.IndexWords
import graft.operators.InvertedIndex

/** `index_words` is the regex word rule it replaces —
  * `split(\s+)` → `normalizeToken` → non-empty — row for row, in the
  * generated-code path and in the interpreted path.
  */
class IndexWordsPropertySpec extends SparkSpec {

  private val piece: Gen[String] = Gen.oneOf(
    Gen.oneOf(" ", "\t", "\n", "\u000b", "\f", "\r"), // Java's \s, all six
    Gen.oneOf("\u001c", "\u001d", "\u001e", "\u001f"), // not \s: dropped, never split on
    Gen.alphaStr.map(_.take(8)),
    Gen.numStr.map(_.take(4)),
    Gen.oneOf(".", ",", "-", "'s", "!", "\"", "(", ")", "_", "\u0000", "\u007f"),
    Gen.oneOf("é", "ß", "Ж", "😀", "Straße", "naïve", "日本", " ", " "))
  private val text: Gen[Option[String]] =
    Gen.frequency(1 -> Gen.const(None), 15 -> Gen.listOf(piece).map(p => Some(p.mkString)))

  private val fixed: Seq[Option[String]] = Seq(
    None, Some(""), Some(" "), Some("  lead"), Some("trail \t\n"), Some(" \u000b\f\r "),
    Some("a\u001cb\u001dc\u001ed\u001fe"), Some("That's abc123 123 well-known UPPER"),
    Some("café Straße Жук 😀x y😀z"), Some(" nbsp kept together"))

  /** (index_words, regex rule) per row of `texts`, in the given mode. */
  private def bothRules(texts: Seq[Option[String]],
      conf: Map[String, String]): Seq[(Any, Any)] = withConf(conf.toSeq: _*) {
    import spark.implicits._
    val src = spark.sparkContext.parallelize(texts.map(Tuple1(_)), 2).toDF("t")
    // two plans over the same rows, so the kernel's own projection is
    // whole-stage generated (the regex rule's lambdas never are)
    val kernel = src.select(IndexWords(col("t")))
    val regex = src.select(filter(transform(split(col("t"), "\\s+"),
      InvertedIndex.normalizeToken(_)), w => length(w) > 0))
    val plan = kernel.queryExecution.executedPlan
    assert(plan.find(_.isInstanceOf[WholeStageCodegenExec]).isDefined ==
      (conf("spark.sql.codegen.wholeStage") == "true"), plan.toString)
    kernel.collect().toSeq.map(_.get(0)).zip(regex.collect().toSeq.map(_.get(0)))
  }

  private val modes = Seq(
    "codegen" -> Map("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
    "interpreted" -> Map("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  modes.foreach { case (mode, conf) =>
    test(s"index_words equals split → normalizeToken → non-empty ($mode)") {
      val fixedRows = bothRules(fixed, conf)
      assert(fixedRows.size == fixed.size)
      fixedRows.zip(fixed).foreach { case ((k, r), t) => assert(k == r, s"input $t") }
      assert(fixedRows.head == ((null, null)), "NULL in, NULL out")
      assert(fixedRows(6)._1 == Seq("abcde"), "0x1C-0x1F are dropped, not split on")
      val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(40),
        Prop.forAll(Gen.listOf(text)) { texts =>
          val rows = bothRules(texts, conf)
          rows.size == texts.size && rows.forall { case (k, r) => k == r }
        })
      assert(res.passed, res.status.toString)
    }
  }
}
