package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

/** A seeded manifest corpus for the paper's job, and a naive oracle of
  * its 26 letter files.
  *
  * [[write]] puts ~300 text files and their manifest into a directory:
  * a ~20k-word vocabulary drawn Zipf-like into files of 0 to ~2,500
  * tokens, with skewed first letters and no word starting with
  * [[AbsentLetter]] (so one letter file must exist and be empty). Tokens
  * are decorated the way real text is: capitals, digits, punctuation,
  * `'s`, hyphenated pairs, non-ASCII letters; separators mix spaces,
  * tabs, `\u000b`, `\f`, `\n` and `\r\n`. Every token is shorter than
  * 255 bytes, where the C reader's `%255s` would split it.
  *
  * [[letterFiles]] re-derives the job's output single-threaded, with no
  * Spark, from the C semantics (SURVEY §1–2): file id = manifest
  * position + 1; tokens split on the six C `isspace` bytes; a word is
  * the token's ASCII letters, lowercased; empty words dropped; one
  * `word:[id id …]` line per word, ids ascending, in the file of its
  * first letter, rows by (number of ids desc, word asc).
  */
object IndexCorpus {

  val AbsentLetter = 'x'

  /** Write the corpus under `dir`; returns the manifest's path. */
  def write(dir: Path, seed: Long = 355L, files: Int = 300, vocab: Int = 20000): String = {
    val rnd = new scala.util.Random(seed)
    // skewed first letters: weight 1/rank over a shuffled alphabet
    val letters = rnd.shuffle(('a' to 'z').filter(_ != AbsentLetter).toVector)
    /** An index drawn with probability ∝ weights(i). */
    def draw(weights: IndexedSeq[Double]): () => Int = {
      val cum = weights.scanLeft(0.0)(_ + _).tail.toArray
      () => {
        val i = java.util.Arrays.binarySearch(cum, rnd.nextDouble() * cum.last)
        if (i >= 0) i else -i - 1
      }
    }
    val letter = draw(letters.indices.map(i => 1.0 / (i + 1)))
    val words = mutable.LinkedHashSet[String]()
    while (words.size < vocab)
      words += (letters(letter()) +: Seq.fill(rnd.nextInt(10))(('a' + rnd.nextInt(26)).toChar)).mkString
    val vocabulary = words.toVector
    val rank = draw(vocabulary.indices.map(r => math.pow(r + 1, -1.05)))
    def word(): String = vocabulary(rank())
    def token(): String = {
      val w = word()
      rnd.nextInt(100) match {
        case 0 => w.capitalize
        case 1 => w.toUpperCase
        case 2 => s"$w's"
        case 3 => s"${rnd.nextInt(1000)}$w"
        case 4 => s"$w${rnd.nextInt(10)}"
        case 5 => s"($w),"
        case 6 => s"$w."
        case 7 => s"$w-${word()}"
        case 8 => s"${w.take(1)}é${w.drop(1)}"
        case 9 => rnd.nextInt(100).toString // no letters: no word
        case _ => w
      }
    }
    def separator(): String = rnd.nextInt(40) match {
      case 0 => "\t"
      case 1 => "  "
      case 2 => "\u000b"
      case 3 => "\f"
      case 4 => "\r\n"
      case n if n < 9 => "\n"
      case _ => " "
    }
    Files.createDirectories(dir.resolve("in"))
    val names = (1 to files).map { i =>
      val n = i match {
        case 1 => 0 // an empty file
        case 2 => 1
        case _ if i % 50 == 0 => rnd.nextInt(4)
        case _ => 50 + rnd.nextInt(2500)
      }
      val text = (1 to n).map(_ => token() + separator()).mkString
      val name = f"in/file$i%03d.txt"
      Files.write(dir.resolve(name), text.getBytes(UTF_8))
      name
    }
    val manifest = dir.resolve("manifest.txt")
    Files.write(manifest, (files.toString +: names).mkString("", "\n", "\n").getBytes(UTF_8))
    manifest.toString
  }

  private def isSpace(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == 0x0b || b == '\f' || b == '\r'

  /** The 26 letter files of the job over `manifest`, byte for byte. */
  def letterFiles(manifest: String): Map[Char, Array[Byte]] = {
    val postings = mutable.HashMap[String, mutable.TreeSet[Int]]()
    val dir = Paths.get(manifest).getParent
    val lines = new String(Files.readAllBytes(Paths.get(manifest)), UTF_8).split("\n")
    lines.slice(1, 1 + lines(0).trim.toInt).zipWithIndex.foreach { case (path, i) =>
      val bytes = Files.readAllBytes(dir.resolve(path.trim))
      val w = new StringBuilder
      def emit(): Unit = {
        if (w.nonEmpty) postings.getOrElseUpdate(w.result(), mutable.TreeSet[Int]()) += i + 1
        w.clear()
      }
      bytes.foreach { b =>
        if (isSpace(b)) emit()
        else if (b >= 'A' && b <= 'Z') w += (b + 32).toChar
        else if (b >= 'a' && b <= 'z') w += b.toChar
      }
      emit()
    }
    val byLetter = postings.toSeq.groupBy(_._1.head)
    ('a' to 'z').map { l =>
      val lines = byLetter.getOrElse(l, Seq.empty).sortBy { case (w, ids) => (-ids.size, w) }
        .map { case (w, ids) => s"$w:[${ids.mkString(" ")}]\n" }
      l -> lines.mkString.getBytes(UTF_8)
    }.toMap
  }
}

/** Writes the [[IndexCorpus]] into a temp dir before a suite's first
  * test and deletes it after its last. */
trait SeededIndexCorpus extends org.scalatest.BeforeAndAfterAll { this: org.scalatest.Suite =>

  private var corpusDir: Path = _

  /** Manifest of the seeded corpus. */
  protected var seededManifest: String = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    corpusDir = Files.createTempDirectory("graft-index-corpus")
    seededManifest = IndexCorpus.write(corpusDir)
  }

  override def afterAll(): Unit =
    try graft.operators.ArtifactCache.deleteRecursively(corpusDir.toFile)
    finally super.afterAll()
}
