package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.operators.{InvertedIndex, InvertedIndexJob}
import graft.sources.DocumentCorpus

/** Golden E2E: byte-compare all 26 letter files against golden outputs
  * (SURVEY §5) — the primary correctness surface. The 3-file corpus and
  * its hand-checked goldens live in the test resources (`index_small/`,
  * the corpus verbatim from FIXTURES.md §A.2); the 355-file corpus is
  * the reference checker's own.
  */
class InvertedIndexSpec extends SparkSpec {

  private val checker = Paths.get("/root/reference/checker")
  private val small = Fixtures.smallCorpus

  private def goldenCompare(goldenDir: Path, outDir: Path): Unit = {
    ('a' to 'z').foreach { l =>
      val got = new String(Files.readAllBytes(outDir.resolve(s"$l.txt")), "UTF-8")
      val want = new String(Files.readAllBytes(goldenDir.resolve(s"$l.txt")), "UTF-8")
      // reference checker uses diff -w; our output should match exactly
      // modulo trailing whitespace per line
      def norm(s: String) = s.linesIterator.map(_.replaceAll("\\s+$", "")).mkString("\n")
      assert(norm(got) == norm(want), s"letter $l mismatch")
    }
  }

  private def runManifest(dir: Path, name: String, golden: String): Unit = {
    val out = Files.createTempDirectory(s"graft-index-$name")
    InvertedIndexJob.run(spark, dir.resolve(name).toString, out.toString)
    goldenCompare(dir.resolve(golden), out)
  }

  test("small corpus matches golden output incl. empty letter files") {
    val out = Files.createTempDirectory("graft-index-small")
    InvertedIndexJob.run(spark, Fixtures.smallManifest, out.toString)
    // the hermetic goldens are this sink's exact bytes, not just diff -w
    ('a' to 'z').foreach { l =>
      assert(Files.readAllBytes(out.resolve(s"$l.txt")).sameElements(
        Files.readAllBytes(small.resolve(s"test_out_small/$l.txt"))), s"letter $l bytes")
    }
    // explicit O16 check: d has no words in the small corpus
    assert(Files.size(out.resolve("d.txt")) == 0)
  }

  test("large 355-file corpus matches golden output") {
    runManifest(checker, "test.txt", "test_out")
  }

  test("sort-merge fallback path matches golden output on BOTH corpora") {
    // force the gate below any corpus size: every build goes through
    // buildSortMerge, and the byte-identical golden diff proves the
    // two aggregation strategies are row-for-row interchangeable
    spark.conf.set(InvertedIndex.SortMergeFileThresholdKey, "0")
    try {
      runManifest(small, "test_small.txt", "test_out_small")
      runManifest(checker, "test.txt", "test_out")
    } finally spark.conf.unset(InvertedIndex.SortMergeFileThresholdKey)
  }

  test("sort-merge fallback on a degenerate corpus: one word in EVERY doc") {
    // the Zipfian-head shape the fallback exists for — a posting list
    // spanning the whole corpus — plus per-doc unique words, across
    // several partitionings (runs must cross partition boundaries)
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val nDocs = 500
    val docs = (1 to nDocs)
      .map(i => (i, s"the doc$i word$i the"))
      .toDF("file_id", "value")
    val expect = InvertedIndex.build(docs)
      .orderBy(col("word")).collect().map(_.toSeq).toSeq
    Seq("1", "3", "32").foreach { p =>
      spark.conf.set("spark.sql.shuffle.partitions", p)
      try {
        val got = InvertedIndex.buildSortMerge(docs)
          .orderBy(col("word")).collect().map(_.toSeq).toSeq
        assert(got == expect, s"sort-merge differs at shuffle.partitions=$p")
      } finally spark.conf.set("spark.sql.shuffle.partitions", "8")
    }
    // the head word's list is the whole corpus, ascending
    val head = InvertedIndex.buildSortMerge(docs)
      .filter(col("word") === "the").collect()
    assert(head.length == 1 &&
      head(0).getSeq[Int](1) == (1 to nDocs).toSeq)
  }

  test("buildGated picks the sort-merge plan above the file threshold " +
    "and the hash plan below it") {
    val docs = DocumentCorpus.documents(spark, Fixtures.smallManifest)
    def planOf(fileCount: Long): String =
      InvertedIndex.buildGated(docs, fileCount).queryExecution.executedPlan.toString
    assert(planOf(3).contains("collect_set"), "small corpus must use hash agg")
    spark.conf.set(InvertedIndex.SortMergeFileThresholdKey, "2")
    try assert(!planOf(3).contains("collect_set"),
      "above-threshold corpus must avoid the collect_set buffer")
    finally spark.conf.unset(InvertedIndex.SortMergeFileThresholdKey)
  }

  test("output independent of shuffle partitioning") {
    val docs = DocumentCorpus.documents(spark, Fixtures.smallManifest)
    val base = InvertedIndex.ordered(InvertedIndex.build(docs)).collect().toSeq
    Seq("1", "7").foreach { p =>
      spark.conf.set("spark.sql.shuffle.partitions", p)
      try {
        val got = InvertedIndex.ordered(InvertedIndex.build(docs)).collect().toSeq
        assert(got == base, s"differs at shuffle.partitions=$p")
      } finally spark.conf.set("spark.sql.shuffle.partitions", "8")
    }
  }

  test("normalizeToken semantics match reference (That's→thats, abc123→abc)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val got = Seq("That's", "well-known", "abc123", "123", "UPPER", "")
      .toDF("t").select(InvertedIndex.normalizeToken(col("t"))).as[String].collect()
    assert(got.toSeq == Seq("thats", "wellknown", "abc", "", "upper", ""))
  }

  test("manifest reader resolves relative paths and honors N") {
    val paths = DocumentCorpus.readManifest(Fixtures.smallManifest)
    assert(paths.size == 3)
    assert(paths.forall(p => Files.exists(Paths.get(p))), s"missing: $paths")
    assert(paths.head.endsWith("test_in_small/file1.txt"))
  }

  private def manifestError(content: String): String = {
    val m = Files.createTempFile("graft-manifest", ".txt")
    try {
      Files.write(m, content.getBytes("UTF-8"))
      intercept[IllegalArgumentException](DocumentCorpus.readManifest(m.toString)).getMessage
    } finally Files.delete(m)
  }

  test("manifest reader rejects a header that is not a file count") {
    val msg = manifestError("three\na.txt\nb.txt\nc.txt\n")
    assert(msg.contains("header 'three' is not a file count"), msg)
  }

  test("manifest reader rejects a manifest with fewer paths than its header") {
    val msg = manifestError("3\na.txt\nb.txt\n")
    assert(msg.contains("header says 3 files but only 2 paths follow"), msg)
  }
}
