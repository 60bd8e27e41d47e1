package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.functions.{ShingleHashes, SimHash64, TextAnalysis, TokenCount}
import graft.operators.Dedup

/** The text kernels equal the Spark forms they replace, row for row,
  * in the generated-code path and in the interpreted path:
  *
  *  - `shingle_hashes(lower(t), k)` = the `transform(sequence…)` /
  *    `element_at` / `xxhash64` lambda over the lowered tokens;
  *  - `simhash64(lower(t))` = `explode` + a 64-`sum` vote aggregate;
  *  - `token_count(t)` = `size(filter(split(t, "\\s+"), length > 0))`.
  *
  * The old forms live here only, as the oracle.
  */
class TextKernelsPropertySpec extends SparkSpec {

  private val ks = Seq(1, 2, 3)

  private val piece: Gen[String] = Gen.oneOf(
    Gen.oneOf(" ", "\t", "\n", "\u000b", "\f", "\r"), // Java's \s, all six
    Gen.oneOf("\u001c", "\u001d", "\u001e", "\u001f"), // not \s: inside tokens
    Gen.alphaStr.map(_.take(8)),
    Gen.alphaStr.map(_.take(3)),
    Gen.numStr.map(_.take(4)),
    Gen.oneOf(".", ",", "-", "'s", "\u0000", "\u007f"),
    // lowercasing changes their byte length or letter count
    Gen.oneOf("İ", "Σ", "ΣΑΣ", "ǅ", "ß", "ẞ", "😀", "Straße", "日本", " ", " "))
  private val text: Gen[Option[String]] =
    Gen.frequency(1 -> Gen.const(None), 15 -> Gen.listOf(piece).map(p => Some(p.mkString)))

  private val fixed: Seq[Option[String]] = Seq(
    None, Some(""), Some(" "), Some(" \t\n\u000b\f\r "), Some("one"), Some("one two"),
    Some("  lead two three"), Some("trail two three \t\n"),
    Some("a\u001cb c\u001dd e\u001ef g\u001fh"), Some("İSTANBUL ΣΟΦΟΣ ǅemal Straße 😀 x😀y"),
    Some("same same same same"), Some("The the THE tHe"))

  /** The replaced shingle lambda over a token-array column, NULL for
    * NULL text and empty below k tokens. */
  private def oldShingles(toks: Column, k: Int): Column =
    when(size(toks) >= k, transform(sequence(lit(0), size(toks) - k),
      i => xxhash64((0 until k).map(j => element_at(toks, i + j + 1)): _*)))
      .when(toks.isNotNull, typedLit(Seq.empty[Long]))

  /** The replaced SimHash: explode, one 64-`sum` aggregate per id. */
  private def oldSimhash(d: DataFrame): DataFrame = {
    val toks = d.select(col("id"), explode(TextAnalysis.tokens(lower(col("t")))).as("tok"))
      .select(col("id"), xxhash64(col("tok")).as("h"))
    val votes = (0 until 64).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v_$i"))
    val sim = (0 until 64).map(i =>
      when(col(s"v_$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L)))
      .reduce((a: Column, b: Column) => a.bitwiseOR(b))
    toks.groupBy(col("id")).agg(votes.head, votes.tail: _*).select(col("id"), sim)
  }

  /** Per input row: (kernel values, old-form values), each
    * (shingles k=1..3, simhash, token count). */
  private def bothForms(texts: Seq[Option[String]],
      conf: Map[String, String]): Seq[(Seq[Any], Seq[Any])] = withConf(conf.toSeq: _*) {
    import spark.implicits._
    val src = spark.sparkContext
      .parallelize(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }, 2).toDF("id", "t")
    val kernel = src.select(Seq(col("id")) ++ ks.map(k => ShingleHashes(lower(col("t")), k)) ++
      Seq(SimHash64(lower(col("t"))), TokenCount(col("t"))): _*)
    val plan = kernel.queryExecution.executedPlan
    assert(plan.find(_.isInstanceOf[WholeStageCodegenExec]).isDefined ==
      (conf("spark.sql.codegen.wholeStage") == "true"), plan.toString)
    // tokens in their own projection, as the replaced shingle form had them
    val old = src.select(col("id"), TextAnalysis.tokens(lower(col("t"))).as("toks"),
        TextAnalysis.tokens(col("t")).as("raw"))
      .select(Seq(col("id")) ++ ks.map(k => oldShingles(col("toks"), k)) ++
        Seq(size(col("raw"))): _*)
    val oldSim = oldSimhash(src).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def byId(rows: Array[Row]): Map[Long, Seq[Any]] =
      rows.map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val k = byId(kernel.collect())
    val o = byId(old.collect())
    texts.indices.map { i =>
      val oldRow = o(i.toLong)
      (k(i.toLong), oldRow.take(ks.size) ++ Seq(oldSim.getOrElse(i.toLong, null), oldRow.last))
    }
  }

  private val modes = Seq(
    "codegen" -> Map("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
    "interpreted" -> Map("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  modes.foreach { case (mode, conf) =>
    test(s"shingle_hashes, simhash64, token_count equal the forms they replace ($mode)") {
      val fixedRows = bothForms(fixed, conf)
      fixedRows.zip(fixed).foreach { case ((k, o), t) => assert(k == o, s"input $t") }
      assert(fixedRows.head._1 == Seq(null, null, null, null, null), "NULL in, NULL out")
      assert(fixedRows(1)._1 == Seq(Seq(), Seq(), Seq(), null, 0), "empty text")
      assert(fixedRows(5)._1.take(3).map { case a: scala.collection.Seq[_] => a.size } ==
        Seq(2, 1, 0), "fewer than k tokens")
      assert(fixedRows(8)._1.last == 4, "0x1C-0x1F are not whitespace")
      val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(40),
        Prop.forAll(Gen.listOf(text)) { texts =>
          bothForms(texts, conf).forall { case (k, o) => k == o }
        })
      assert(res.passed, res.status.toString)
    }
  }

  test("sf0.1 documents: shingles, signatures and token counts equal the replaced forms") {
    val docs = Tables.load(spark, "/root/testdata/sf0.1", "documents")
    val toks = docs.select(col("doc_id"), TextAnalysis.tokens(lower(col("text"))).as("toks"))
    def same(a: DataFrame, b: DataFrame): Unit = {
      assert(a.count() > 0)
      assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
    }
    ks.foreach { k =>
      val old = toks.select(col("doc_id"), explode(oldShingles(col("toks"), k)).as("sh"))
        .distinct()
      same(Dedup.shingleHashes(docs, k), old)
    }
    same(Dedup.simhashSignatures(docs),
      oldSimhash(docs.select(col("doc_id").as("id"), col("text").as("t")))
        .toDF("doc_id", "simhash"))
    same(docs.select(col("doc_id"), TextAnalysis.tokenCount(col("text"))),
      docs.select(col("doc_id"), size(TextAnalysis.tokens(col("text")))))
  }

  test("a doc with no token has no SimHash signature and no shingles") {
    import spark.implicits._
    val d = Seq((1L, Some("")), (2L, Some(" \t\r\n")), (3L, None), (4L, Some("just one")))
      .toDF("doc_id", "text")
    assert(Dedup.simhashSignatures(d).select("doc_id").as[Long].collect().toSeq == Seq(4L))
    assert(Dedup.shingleHashes(d, k = 2).select("doc_id").as[Long].collect().toSeq == Seq(4L))
    assert(Dedup.shingleHashes(d, k = 3).isEmpty)
  }

  test("shingleHashes rejects k < 1 naming k") {
    import spark.implicits._
    val d = Seq((1L, "a b c")).toDF("doc_id", "text")
    Seq(0, -1).foreach { k =>
      val e = intercept[IllegalArgumentException](Dedup.shingleHashes(d, k))
      assert(e.getMessage.contains(s"k = $k"), e.getMessage)
    }
  }
}
