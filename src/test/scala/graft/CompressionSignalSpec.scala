package graft

import org.apache.spark.sql.functions._

import graft.operators.TextQueries

/** The compression-ratio signal has no cross-engine oracle by
  * construction (deflate byte counts are a compressor property), so
  * its behavior is pinned here instead: the monotonicity that makes
  * it a useful quality signal, the plausible range, run-to-run
  * determinism, and codegen/interpreted agreement.
  */
class CompressionSignalSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("repetitive text compresses far below shuffled-random; ratio in range") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val words = Vector("alpha", "bravo", "charlie", "delta", "echo", "foxtrot",
      "golf", "hotel", "india", "juliet", "kilo", "lima")
    val repetitive = Seq.fill(200)("spark shuffle spark shuffle").mkString(" ")
    val random = Seq.fill(800)(words(rnd.nextInt(words.length))).mkString(" ")
    val planted = Seq((1L, repetitive), (2L, random)).toDF("doc_id", "text")
      .select(col("doc_id"),
        (graft.functions.CompressionSignal.deflateLength(col("text"))
          .cast("double") / length(col("text"))).as("ratio"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(planted(1L) < planted(2L) / 2,
      s"repetitive ${planted(1L)} not well below random ${planted(2L)}")
    assert(planted.values.forall(r => r > 0 && r < 1.1))
  }

  test("non-ASCII text stays in range: denominator is UTF-8 bytes, not chars") {
    import spark.implicits._
    // CJK ~3 bytes/char: a char-count denominator would push high-entropy
    // CJK ratios to ~3x and out of the (0, 1.1] band the signal documents.
    val rnd = new scala.util.Random(11)
    val cjk = Seq.fill(600)((0x4E00 + rnd.nextInt(0x2000)).toChar).mkString
    val mixed = "naïve café " * 80 + cjk
    val rows = Seq((1L, cjk), (2L, mixed)).toDF("doc_id", "text")
      .select(col("doc_id"),
        (graft.functions.CompressionSignal.deflateLength(col("text"))
          .cast("double") / octet_length(col("text"))).as("ratio"))
      .collect().map(_.getDouble(1))
    rows.foreach(r => assert(r > 0 && r <= 1.1, s"non-ASCII ratio $r out of band"))
  }

  test("corpus signal: every doc in range, deterministic across runs, " +
    "and interpreted eval equals the codegen path") {
    val a = TextQueries.compressRatio(spark, sf).collect()
    assert(a.nonEmpty)
    a.foreach { r =>
      assert(r.getLong(2) > 0 && r.getDouble(3) > 0 && r.getDouble(3) <= 1.1,
        s"implausible ratio: $r")
    }
    val b = TextQueries.compressRatio(spark, sf).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq, "non-deterministic")
    // interpreted path must agree with whatever the frame produced
    val texts = Tables.load(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) ->
        org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(1))).toMap
    a.take(50).foreach { r =>
      val want = graft.functions.CompressionSignal.deflateLen(texts(r.getLong(0)))
      assert(r.getLong(2) == want.toLong,
        s"codegen/interpreted divergence for doc ${r.getLong(0)}")
    }
  }
}
