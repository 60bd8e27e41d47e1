package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.operators.{InvertedIndex, LetterTextSink}

/** The letter sink on an in-test corpus: the same 26 files, byte for
  * byte, at every shuffle width, and nothing else in the directory.
  */
class LetterTextSinkSpec extends SparkSpec {

  // skewed first letters, posting lists of several lengths, and letters
  // with no words at all (h, j, k, v, x, z)
  private val texts: Seq[String] = (1 to 60).map { i =>
    val common = Seq("the", "and", "of").filter(_ => i % 2 == 0 || i % 3 == 0)
    val own = Seq(s"alpha${i % 7}", "Beta", s"gamma-${i % 5}", "quick", "Sun's")
      .take(1 + i % 5)
    val tail = Seq("yellow", "wide", "ultra", "iris", "lemon", "moss", "night", "opal",
      "pearl", "rust", "cedar", "dusk", "elm", "fern")(i % 14)
    val spread = s"s${('a' + i % 11).toChar}t" // 11 s-words, 5 or 6 files each
    (common ++ own :+ tail :+ spread :+ s"word$i").mkString(" \t")
  }

  private def docs = {
    import spark.implicits._
    texts.zipWithIndex.map { case (t, i) => (i + 1, t) }.toDF("file_id", "value")
  }

  /** Plain-Scala letter files for [[texts]]. */
  private lazy val oracle: Map[Char, String] = {
    val postings = texts.zipWithIndex.flatMap { case (t, i) =>
      t.split("\\s+").map(_.filter(c => c < 128 && c.isLetter).toLowerCase)
        .filter(_.nonEmpty).map(_ -> (i + 1))
    }.groupBy(_._1).map { case (w, ps) => w -> ps.map(_._2).distinct.sorted }
    ('a' to 'z').map { l =>
      l -> postings.toSeq.filter(_._1.head == l)
        .sortBy { case (w, ids) => (-ids.size, w) }
        .map { case (w, ids) => s"$w:[${ids.mkString(" ")}]\n" }.mkString
    }.toMap
  }

  private def withPartitions[A](p: Int)(body: => A): A = {
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", p.toString)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", saved)
  }

  private def letterFiles(out: Path): Map[Char, String] = {
    val names = Files.list(out).iterator().asScala.map(_.getFileName.toString).toSet
    assert(names == ('a' to 'z').map(l => s"$l.txt").toSet,
      s"exactly the 26 letter files, no tmp or .crc files: $names")
    ('a' to 'z').map(l => l -> new String(Files.readAllBytes(out.resolve(s"$l.txt")), "UTF-8")).toMap
  }

  test("same 26 letter files at shuffle.partitions 1, 3, 26 and 32") {
    val outs = Seq(1, 3, 26, 32).map { p =>
      val out = Files.createTempDirectory(s"graft-sink-p$p")
      withPartitions(p)(LetterTextSink.write(InvertedIndex.build(docs), out.toString))
      p -> letterFiles(out)
    }
    outs.foreach { case (p, files) => assert(files == oracle, s"shuffle.partitions=$p") }
    val empty = "hjkvxz".toSet
    assert(oracle.filter(_._2.isEmpty).keySet == empty)
    empty.foreach(l => assert(outs.forall(_._2(l).isEmpty), s"$l.txt must be 0 bytes"))
  }

  /** An output directory left over from an earlier run. */
  private def staleDir(name: String): Path = {
    val out = Files.createTempDirectory(name)
    ('a' to 'z').foreach(l => Files.write(out.resolve(s"$l.txt"), s"stale:[$l]\n".getBytes("UTF-8")))
    Files.write(out.resolve(".q.txt.tmp-424242"), "orphan".getBytes("UTF-8"))
    out
  }

  test("rewrites stale letter files and reaps orphaned tmp files") {
    val out = staleDir("graft-sink-stale")
    withPartitions(3)(LetterTextSink.write(InvertedIndex.build(docs), out.toString))
    assert(letterFiles(out) == oracle)
  }

  test("an index with no words gives 26 empty files, over stale ones too") {
    val none = InvertedIndex.build(docs.limit(0))
    Seq(Files.createTempDirectory("graft-sink-empty"), staleDir("graft-sink-empty-stale")).foreach { out =>
      withPartitions(4)(LetterTextSink.write(none, out.toString))
      assert(letterFiles(out).values.forall(_.isEmpty), out.toString)
    }
  }
}
