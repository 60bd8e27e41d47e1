package graft

import java.nio.file.{Files, Path, Paths}

import graft.operators.{ArtifactCache, InvertedIndex, InvertedIndexJob}
import graft.sources.DocumentCorpus

/** Golden E2E: byte-compare all 26 letter files against expected
  * outputs (SURVEY §5) — the primary correctness surface. The 3-file
  * corpus and its hand-checked goldens live in the test resources
  * (`index_small/`, the corpus verbatim from FIXTURES.md §A.2); the
  * ~300-file corpus is written from a seed at suite start and checked
  * against a naive oracle of the C semantics ([[IndexCorpus]]).
  */
class InvertedIndexSpec extends SparkSpec with SeededIndexCorpus {

  private val small = Fixtures.smallCorpus

  private lazy val seededWant = IndexCorpus.letterFiles(seededManifest)

  private def smallWant(l: Char): Array[Byte] =
    Files.readAllBytes(small.resolve(s"test_out_small/$l.txt"))

  /** Run the job on `manifest`, compare all 26 letter files byte for
    * byte, run `check` on the output directory, then delete it. */
  private def runAndCompare(name: String, manifest: String, want: Char => Array[Byte])(
      check: Path => Unit = _ => ()): Unit = {
    val out = Files.createTempDirectory(s"graft-index-$name")
    try {
      InvertedIndexJob.run(spark, manifest, out.toString)
      ('a' to 'z').foreach { l =>
        assert(Files.readAllBytes(out.resolve(s"$l.txt")).sameElements(want(l)),
          s"$name letter $l bytes")
      }
      check(out)
    } finally ArtifactCache.deleteRecursively(out.toFile)
  }

  test("small corpus matches golden output incl. empty letter files") {
    // explicit O16 check: d has no words in the small corpus
    runAndCompare("small", Fixtures.smallManifest, smallWant) { out =>
      assert(Files.size(out.resolve("d.txt")) == 0)
    }
  }

  test("seeded 300-file corpus matches the naive oracle byte for byte") {
    runAndCompare("seeded", seededManifest, seededWant) { out =>
      assert(Files.size(out.resolve(s"${IndexCorpus.AbsentLetter}.txt")) == 0)
      assert(('a' to 'z').count(l => Files.size(out.resolve(s"$l.txt")) > 0) == 25)
    }
    assert(seededWant.values.map(b => new String(b, "UTF-8").count(_ == '\n')).sum > 10000)
  }

  test("sort-merge fallback path matches the expected output on BOTH corpora") {
    // force the gate below any corpus size: every build goes through
    // buildSortMerge, and the byte-identical compare proves the two
    // aggregation strategies are row-for-row interchangeable
    withConf(InvertedIndex.SortMergeFileThresholdKey -> "0") {
      runAndCompare("small-sm", Fixtures.smallManifest, smallWant)()
      runAndCompare("seeded-sm", seededManifest, seededWant)()
    }
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
