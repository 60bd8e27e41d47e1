package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

/** Naive single-threaded oracles. None of them uses Spark: each one
  * re-derives an engine output from the generated input files with plain
  * Scala collections, following the semantics documented on the engine's
  * entry points. The only engine-side code they share is the 64-bit hash
  * SimHash is defined over.
  */
object Oracles {

  /** Whitespace tokens, as Spark's `split(_, "\\s+")` minus empty ones. */
  def tokens(text: String): Array[String] = text.split("\\s+").filter(_.nonEmpty)

  /** Keep ASCII letters, lowercase (`That's` -> `thats`, `abc123` -> `abc`). */
  def normalize(tok: String): String = {
    val sb = new StringBuilder
    tok.foreach { c =>
      if (c >= 'a' && c <= 'z') sb += c
      else if (c >= 'A' && c <= 'Z') sb += (c + 32).toChar
    }
    sb.result()
  }

  // --------------------------------------------------------- inverted index

  /** word -> ascending ids of the docs that contain it. */
  final class Postings {
    val map = mutable.HashMap[String, mutable.TreeSet[Int]]()
    def add(id: Int, text: String): Unit =
      tokens(text).iterator.map(normalize).filter(_.nonEmpty)
        .foreach(w => map.getOrElseUpdate(w, mutable.TreeSet[Int]()) += id)
    def remove(id: Int, text: String): Unit =
      tokens(text).iterator.map(normalize).filter(_.nonEmpty).foreach { w =>
        map.get(w).foreach { s => s -= id; if (s.isEmpty) map -= w }
      }
    def get(w: String): Option[Seq[Int]] = map.get(w).map(_.toSeq)
  }

  /** The 26 letter files of the reference job for a manifest: line
    * `word:[id id ...]`, ids ascending, rows by (#ids desc, word asc), an
    * empty file for every letter without words. */
  def letterFiles(paths: Seq[String]): Map[Char, Array[Byte]] = {
    val idx = new Postings
    paths.zipWithIndex.foreach { case (p, i) =>
      idx.add(i + 1, new String(Files.readAllBytes(Paths.get(p)), StandardCharsets.UTF_8))
    }
    val byLetter = idx.map.toSeq.groupBy(_._1.charAt(0))
    ('a' to 'z').map { l =>
      val rows = byLetter.getOrElse(l, Seq.empty)
        .sortBy { case (w, ids) => (-ids.size, w) }
      val sb = new StringBuilder
      rows.foreach { case (w, ids) => sb ++= w ++= ":[" ++= ids.mkString(" ") ++= "]\n" }
      l -> sb.result().getBytes(StandardCharsets.UTF_8)
    }.toMap
  }

  // ------------------------------------------------------------ near-dups

  /** Distinct k-token shingles of the lowercased text. */
  def shingles(text: String, k: Int): Set[String] = {
    val t = tokens(text.toLowerCase(java.util.Locale.ROOT))
    if (t.length < k) Set.empty
    else (0 to t.length - k).map(i => t.slice(i, i + k).mkString("\u0001")).toSet
  }

  /** Shingle sets with every shingle in more than `maxDf` docs removed. */
  def cappedShingles(docs: Seq[(Long, String)], k: Int, maxDf: Int): Map[Long, Set[String]] = {
    val sets = docs.map { case (id, t) => id -> shingles(t, k) }
    val df = mutable.HashMap[String, Int]()
    sets.foreach(_._2.foreach(s => df(s) = df.getOrElse(s, 0) + 1))
    sets.map { case (id, s) => id -> s.filter(df(_) <= maxDf) }.toMap
  }

  def round4(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    round4(inter.toDouble / (a.size + b.size - inter).toDouble)
  }

  /** All pairs a < b whose rounded Jaccard is at least `threshold`. */
  def jaccardPairs(sets: Map[Long, Set[String]], threshold: Double): Seq[(Long, Long, Double)] = {
    val byShingle = mutable.HashMap[String, mutable.ArrayBuffer[Long]]()
    sets.foreach { case (id, s) => s.foreach(x => byShingle.getOrElseUpdate(x, mutable.ArrayBuffer()) += id) }
    val inter = mutable.HashMap[(Long, Long), Int]()
    byShingle.values.foreach { ids =>
      val v = ids.sorted
      for (i <- v.indices; j <- i + 1 until v.size) {
        val key = (v(i), v(j))
        inter(key) = inter.getOrElse(key, 0) + 1
      }
    }
    inter.toSeq.flatMap { case ((a, b), n) =>
      val j = round4(n.toDouble / (sets(a).size + sets(b).size - n).toDouble)
      if (j >= threshold) Some((a, b, j)) else None
    }.sortBy(p => (p._1, p._2))
  }

  /** Node -> minimum node id of its connected component. */
  def components(pairs: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(n => n -> find(n)).toMap
  }

  /** Groups as `Dedup.minhashDupGroups` reports them:
    * (group_id, n_members, max_doc_id), by group_id. */
  def groupSummary(pairs: Iterable[(Long, Long)]): Seq[(Long, Long, Long)] =
    components(pairs).toSeq.groupBy(_._2).toSeq.map { case (g, ms) =>
      (g, ms.size.toLong, ms.map(_._1).max)
    }.sortBy(_._1)

  /** `Dedup.dupGroupKeepBest`: per exact n-gram Jaccard component, the
    * member with the most whitespace tokens, ties to the lowest id:
    * (group_id, n_members, keep_id, keep_tokens). */
  def keepBest(docs: Seq[(Long, String)], threshold: Double = 0.3, maxDf: Int = 50)
      : Seq[(Long, Long, Long, Long)] = {
    val pairs = jaccardPairs(cappedShingles(docs, 2, maxDf), threshold)
    val ntok = docs.map { case (id, t) => id -> tokens(t).length.toLong }.toMap
    components(pairs.map(p => (p._1, p._2))).toSeq.groupBy(_._2).toSeq.map { case (g, ms) =>
      val best = ms.map(_._1).maxBy(id => (ntok(id), -id))
      (g, ms.size.toLong, best, ntok(best))
    }.sortBy(_._1)
  }

  /** 64-bit SimHash: every token occurrence of the lowercased text votes
    * with the bits of its xxhash64 (seed 42, the engine's hash). */
  def simhash(text: String): Long = {
    val votes = new Array[Int](64)
    tokens(text.toLowerCase(java.util.Locale.ROOT)).foreach { t =>
      val b = t.getBytes(StandardCharsets.UTF_8)
      val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
        b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42L)
      var i = 0
      while (i < 64) { votes(i) += (if (((h >>> i) & 1L) == 1L) 1 else -1); i += 1 }
    }
    (0 until 64).foldLeft(0L)((s, i) => if (votes(i) > 0) s | (1L << i) else s)
  }

  /** All pairs a < b within Hamming distance `maxHamming`, brute force. */
  def simhashPairs(docs: Seq[(Long, String)], maxHamming: Int = 3): Seq[(Long, Long, Int)] = {
    val sig = docs.filter(d => tokens(d._2).nonEmpty)
      .map { case (id, t) => (id, simhash(t)) }.sortBy(_._1).toArray
    val out = mutable.ArrayBuffer[(Long, Long, Int)]()
    for (i <- sig.indices; j <- i + 1 until sig.length) {
      val h = java.lang.Long.bitCount(sig(i)._2 ^ sig(j)._2)
      if (h <= maxHamming) out += ((sig(i)._1, sig(j)._1, h))
    }
    out.toSeq
  }

  def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** All pairs a < b with cosine >= threshold, brute force:
    * (vec_a, vec_b, rounded cosine). */
  def cosinePairs(vecs: Seq[(Long, Array[Double])], threshold: Double)
      : Seq[(Long, Long, Double)] = {
    val v = vecs.sortBy(_._1).toArray
    val nrm = v.map(x => math.sqrt(dot(x._2, x._2)))
    val out = mutable.ArrayBuffer[(Long, Long, Double)]()
    for (i <- v.indices if nrm(i) > 0; j <- i + 1 until v.length if nrm(j) > 0) {
      val c = dot(v(i)._2, v(j)._2) / (nrm(i) * nrm(j))
      if (c >= threshold) out += ((v(i)._1, v(j)._1, round4(c)))
    }
    out.toSeq
  }
}
