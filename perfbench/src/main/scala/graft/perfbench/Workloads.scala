package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.DocumentCorpus

/** One benchmark workload over the generated inputs in `dir`.
  *
  * A pass is one closed-loop unit of work: the next starts only after the
  * previous one returned. Passes keep their outputs; [[check]] compares
  * them with the oracles after the timed loop, so checking never runs
  * inside a timed region.
  */
abstract class Workload(val spark: SparkSession, val dir: String) {
  /** (operation, seconds) for every timed engine call */
  val samples = mutable.ArrayBuffer[(String, Double)]()
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer[String]()
  /** regimes, counts and ratios for the evidence file */
  val evidence = mutable.LinkedHashMap[String, Any]()

  def setup(): Unit = ()
  /** Remove what the passes wrote, so the next JVM starts from the inputs alone. */
  def cleanup(): Unit = ()
  def pass(): Unit
  /** Stop the timed loop only after this holds (beside the time limit). */
  def enough(passes: Int): Boolean = passes >= 3
  def check(): Unit
  /** One pass decomposed into layer spans. `inject` names a layer span
    * that gets one extra `noop` scan of the input files (the self-test). */
  def tracedPass(t: Tracer, inject: Option[String] = None): Unit
  /** Workload-only end-to-end metrics: name -> (value, unit). */
  def metrics: Map[String, (Double, String)] = Map.empty

  /** A timed engine operation; every one counts as attempted. */
  protected def op[T](name: String)(body: => T): T = {
    attempted += 1
    val t0 = System.nanoTime()
    val r = body
    samples += name -> (System.nanoTime() - t0) / 1e9
    r
  }

  /** An output check: a mismatch counts as a failed operation. */
  protected def expect(ok: Boolean, what: => String): Unit =
    if (!ok) fail(what)

  def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += what
  }

  def opSeconds(name: String): Seq[Double] = samples.collect { case (`name`, s) => s }.toSeq
}

object Workload {
  def apply(name: String, spark: SparkSession, dir: String): Workload = name match {
    case "index_build" => new IndexBuild(spark, dir)
    case "neardup_dedup" => new NearDup(spark, dir)
    case "index_store_churn" => new Churn(spark, dir)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else { val s = xs.sorted; s(math.min(s.size - 1, (q * s.size).toInt)) }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(bytesUnder).sum else f.length()

  def readLines(path: String): Seq[String] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq
}

// ----------------------------------------------------------------- index_build

/** The paper's job end to end: manifest of text files -> 26 letter files. */
final class IndexBuild(spark: SparkSession, dir: String) extends Workload(spark, dir) {
  private val manifest = s"$dir/manifest.txt"
  private val paths = DocumentCorpus.readManifest(manifest)
  private val outs = mutable.ArrayBuffer[String]()

  private def nextOut(): String = { val o = s"$dir/out/pass${outs.size}"; outs += o; o }

  def pass(): Unit = {
    val out = nextOut()
    op("pass") { InvertedIndexJob.run(spark, manifest, out) }
  }

  def check(): Unit = {
    val want = Oracles.letterFiles(paths)
    val names = ('a' to 'z').map(l => s"$l.txt").toSet
    outs.foreach { out =>
      val got = Option(new File(out).list()).map(_.toSet).getOrElse(Set.empty)
      val same = got == names && ('a' to 'z').forall { l =>
        java.util.Arrays.equals(Files.readAllBytes(Paths.get(out, s"$l.txt")), want(l))
      }
      expect(same, s"$out: letter files differ from the oracle")
    }
    evidence("letter_files_empty") = want.count(_._2.isEmpty)
    evidence("index_words") = want.values.map(b => b.count(_ == '\n')).sum
    evidence("output_bytes") = want.values.map(_.length.toLong).sum
    val threshold = spark.conf.getOption(InvertedIndex.SortMergeFileThresholdKey)
      .map(_.toLong).getOrElse(InvertedIndex.SortMergeFileThresholdDefault)
    evidence("regime_buildGated") =
      if (paths.size > threshold) "sort-merge" else s"hash (files ${paths.size} <= $threshold)"
  }

  override def cleanup(): Unit = ArtifactCache.deleteRecursively(new File(s"$dir/out"))

  def tracedPass(t: Tracer, inject: Option[String]): Unit = {
    t.newChain()
    val docs = t.prefix("sources.DocumentCorpus.documentsFromPaths") {
      val d = DocumentCorpus.documentsFromPaths(spark, paths)
      Tracer.materialize(d)
      d
    }
    val idx = t.prefix("operators.InvertedIndex.buildGated") {
      val x = InvertedIndex.buildGated(docs, paths.size.toLong)
      if (inject.contains("operators.InvertedIndex.buildGated"))
        Tracer.materialize(spark.read.textFile(paths: _*).toDF())
      Tracer.materialize(x)
      x
    }
    val out = nextOut()
    t.prefix("operators.LetterTextSink.write") { op("traced") { LetterTextSink.write(idx, out) } }
    val outDir = new File(out)
    val lines = Option(outDir.listFiles()).toSeq.flatten
      .map(f => Files.readAllLines(f.toPath).size.toLong).sum
    t.stats("operators.InvertedIndex.buildGated").add("rows_out", lines.toDouble)
    t.stats("operators.LetterTextSink.write").add("written_mb", Workload.bytesUnder(outDir) / 1048576.0)
    val entryOut = nextOut()
    t.entry("operators.InvertedIndexJob.run") {
      op("traced") { InvertedIndexJob.run(spark, manifest, entryOut) } }
  }
}

// --------------------------------------------------------------- neardup_dedup

/** The near-dup families on a corpus with planted clusters. */
final class NearDup(spark: SparkSession, dir: String) extends Workload(spark, dir) {
  val EmbThreshold = 0.95
  private type Pairs = Seq[(Long, Long, Double)]
  private val minhash = mutable.ArrayBuffer[Seq[(Long, Long, Long)]]()
  private val simhash = mutable.ArrayBuffer[Seq[(Long, Long, Int)]]()
  private val keep = mutable.ArrayBuffer[Seq[(Long, Long, Long, Long)]]()
  private val emb = mutable.ArrayBuffer[Pairs]()
  private var recall = Double.NaN

  /** A pass runs all four families, ~7-9 s on 4 cores. */
  override def enough(passes: Int): Boolean = passes >= 2

  private def ccRegime(): String =
    Option(spark.sparkContext.getLocalProperty(Dedup.CcRoundsProperty)) match {
      case Some("0") => "driver"
      case Some(n) => s"distributed ($n rounds)"
      case None => "star-contraction"
    }

  def pass(): Unit = {
    minhash += op("minhashDupGroups") {
      Dedup.minhashDupGroups(spark, dir).collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    }
    evidence("regime_cc_minhash") = ccRegime()
    simhash += op("simhashNearDups") {
      Dedup.simhashNearDups(spark, dir).collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    }
    keep += op("dupGroupKeepBest") {
      Dedup.dupGroupKeepBest(spark, dir).collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    }
    evidence("regime_cc_ngram") = ccRegime()
    emb += op("embeddingNearDupsIndexed") {
      embPairs(Dedup.embeddingNearDupsIndexed(spark, dir, EmbThreshold)) }
  }

  private def embPairs(df: DataFrame): Pairs =
    df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))

  private def docs: Seq[(Long, String)] =
    spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text").collect()
      .toSeq.map(r => (r.getLong(0), r.getString(1)))

  def check(): Unit = {
    val d = docs
    // MinHash: the LSH pairs are deterministic (fixed hash seeds), so one
    // untimed call gives the pairs every timed pass grouped; each must
    // clear the threshold on its true (df-capped, rounded) Jaccard
    val lsh = Dedup.minhashNearDups(spark, dir).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val sets3 = Oracles.cappedShingles(d, 3, 1000)
    val wrong = lsh.filter { case (a, b, j) =>
      val truth = Oracles.jaccard(sets3(a), sets3(b)); truth != j || truth < 0.5 }
    expect(wrong.isEmpty, s"${wrong.size} LSH pairs off their true Jaccard, e.g. ${wrong.take(3)}")
    val groups = Oracles.groupSummary(lsh.map(p => (p._1, p._2)))
    minhash.foreach(g => expect(g == groups, s"minhash groups differ (${g.size} vs ${groups.size})"))

    val sim = Oracles.simhashPairs(d)
    simhash.foreach(s => expect(s == sim, s"simhash pairs differ (${s.size} vs ${sim.size})"))

    val kb = Oracles.keepBest(d)
    keep.foreach(k => expect(k == kb, s"keep-best groups differ (${k.size} vs ${kb.size})"))

    val vecs = spark.read.parquet(s"$dir/embeddings.parquet").select("vec_id", "embedding")
      .collect().toSeq.map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    val cos = Oracles.cosinePairs(vecs, EmbThreshold)
    emb.foreach(e => expect(e == cos, s"embedding pairs differ (${e.size} vs ${cos.size})"))

    // planted recall of the approximate families: planted pairs whose true
    // similarity clears the family's threshold, and the share reported
    val planted = Workload.readLines(s"$dir/planted.txt").filter(_.nonEmpty)
      .map(_.trim.split(" ").map(_.toLong).toSeq)
    val pairs = planted.flatMap(c => for (i <- c.indices; j <- i + 1 until c.size) yield (c(i), c(j)))
    val lshSet = lsh.map(p => (p._1, p._2)).toSet
    val mhEligible = pairs.filter { case (a, b) => Oracles.jaccard(sets3(a), sets3(b)) >= 0.5 }
    val text = d.toMap
    val sig = pairs.flatMap(p => Seq(p._1, p._2)).distinct.map(i => i -> Oracles.simhash(text(i))).toMap
    val simEligible = pairs.filter { case (a, b) => java.lang.Long.bitCount(sig(a) ^ sig(b)) <= 3 }
    val simFound = simhash.lastOption.getOrElse(Seq.empty).map(p => (p._1, p._2)).toSet
    val found = mhEligible.count(lshSet) + simEligible.count(simFound)
    recall = found.toDouble / math.max(1, mhEligible.size + simEligible.size)
    val sets2 = Oracles.cappedShingles(d, 2, 50)
    val ngram = Oracles.jaccardPairs(sets2, 0.3)
    evidence("planted_pairs") = pairs.size
    evidence("planted_above_0.5_jaccard3") = mhEligible.size
    evidence("planted_above_0.3_jaccard2") =
      pairs.count { case (a, b) => Oracles.jaccard(sets2(a), sets2(b)) >= 0.3 }
    evidence("planted_within_hamming3") = simEligible.size
    evidence("minhash_recall") = mhEligible.count(lshSet).toDouble / math.max(1, mhEligible.size)
    evidence("pairs_minhash") = lsh.size
    evidence("pairs_simhash") = sim.size
    evidence("pairs_ngram") = ngram.size
    evidence("groups_ngram") = kb.size
    evidence("pairs_embedding") = cos.size
    evidence("cc_edge_cap") =
      s"${2 * math.max(lsh.size, ngram.size)} directed edges vs cap ${1L << 20}"
    val rowCap = spark.conf.getOption(Dedup.CellPruneDriverRowCapKey).map(_.toLong).getOrElse(1L << 16)
    evidence("regime_cellPrune") =
      s"${if (vecs.size <= rowCap) "driver" else "distributed"} (${vecs.size} rows vs cap $rowCap)"
  }

  override def metrics: Map[String, (Double, String)] = Map("planted_recall" -> (recall, "ratio"))

  /** Mirrors the engine's private df cap in front of the MinHash chain. */
  private def dfCapped(sh: DataFrame, maxDf: Int): DataFrame = {
    val hot = sh.groupBy(col("sh")).count().filter(col("count") > maxDf).select(col("sh"))
    sh.join(broadcast(hot), Seq("sh"), "left_anti")
  }

  /** Candidate pairs of the persisted cell index: cell pairs kept by the
    * triangle bound, counted as the verify join sees them (vec_a < vec_b). */
  private def embCandidates(): Double = {
    val key = s"${dir.replaceAll("[^A-Za-z0-9.]+", "_")}-"
    val root = new File("/tmp/graft-neardup")
    val idx = Option(root.listFiles()).toSeq.flatten
      .find(f => f.getName.startsWith(key) && new File(f, "_GRAFT_DONE").exists())
    idx.map { f =>
      val n = spark.read.parquet(s"$f/assigned").groupBy("cent_id").count().collect()
        .map(r => r.get(0).toString -> r.getLong(1)).toMap
      spark.read.parquet(s"$f/keep").collect().map { r =>
        val (a, b) = (r.get(0).toString, r.get(1).toString)
        if (a == b) n.getOrElse(a, 0L) * (n.getOrElse(a, 0L) - 1) / 2.0
        else n.getOrElse(a, 0L) * n.getOrElse(b, 0L) / 2.0
      }.sum
    }.getOrElse(Double.NaN)
  }

  def tracedPass(t: Tracer, inject: Option[String]): Unit = {
    val docsDf = graft.Tables.load(spark, dir, "documents")
    t.newChain()
    val sh = t.prefix("operators.Dedup.shingleHashes") {
      val s = dfCapped(Dedup.shingleHashes(docsDf), 1000); Tracer.materialize(s); s }
    val sig = t.prefix("operators.Dedup.minhashSignatures") {
      val s = Dedup.minhashSignatures(sh); Tracer.materialize(s); s }
    val cands = t.prefix("operators.Dedup.lshCandidates") {
      val c = Dedup.lshCandidates(sig); Tracer.materialize(c); c }
    val verified = t.prefix("operators.Dedup.verifyJaccard") {
      val v = Dedup.verifyJaccard(cands, sh, 0.5); Tracer.materialize(v); v }
    t.prefix("operators.Dedup.connectedComponents") {
      Tracer.materialize(Dedup.connectedComponents(verified)) }
    t.stats("operators.Dedup.connectedComponents").fixed("driver_regime") =
      if (ccRegime() == "driver") 1.0 else 0.0
    val nc = cands.count().toDouble
    val nv = verified.count().toDouble
    t.stats("operators.Dedup.lshCandidates").add("pairs_candidate", nc)
    t.stats("operators.Dedup.verifyJaccard").add("pairs_verified", nv)
    t.stats("operators.Dedup.verifyJaccard").fixed("keep_ratio") = nv / math.max(1.0, nc)
    minhash += t.entry("operators.Dedup.minhashDupGroups") { op("traced") {
      Dedup.minhashDupGroups(spark, dir).collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    } }

    t.newChain()
    val ngram = t.prefix("operators.Dedup.ngramJaccardDups") {
      val p = Dedup.ngramJaccardDups(spark, dir); Tracer.materialize(p); p }
    t.prefix("operators.Dedup.connectedComponents") {
      Tracer.materialize(Dedup.connectedComponents(ngram)) }
    keep += t.entry("operators.Dedup.dupGroupKeepBest") { op("traced") {
      Dedup.dupGroupKeepBest(spark, dir).collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    } }

    t.newChain()
    t.prefix("operators.Dedup.simhashSignatures") {
      Tracer.materialize(Dedup.simhashSignatures(docsDf)) }
    simhash += t.prefix("operators.Dedup.simhashNearDups") { op("traced") {
      Dedup.simhashNearDups(spark, dir).collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    } }

    t.newChain()
    t.prefix("functions.VectorFunctions") {
      Tracer.materialize(graft.operators.Similarity.emb(spark, dir)) }
    val e = t.prefix("operators.Dedup.embeddingNearDupsIndexed") {
      op("traced") { embPairs(Dedup.embeddingNearDupsIndexed(spark, dir, EmbThreshold)) } }
    emb += e
    t.stats("operators.Dedup.embeddingNearDupsIndexed").fixed("keep_ratio") =
      e.size / math.max(1.0, embCandidates())
    t.stats("operators.ArtifactCache").fixed("builds") = ArtifactCache.ensureBuilds.get().toDouble
    t.stats("operators.ArtifactCache").fixed("hits") = ArtifactCache.ensureHits.get().toDouble
  }
}

// ------------------------------------------------------------ index_store_churn

/** Writes beside reads on the persisted letter-partitioned index. */
final class Churn(spark: SparkSession, dir: String) extends Workload(spark, dir) {
  private val store = s"$dir/store"
  private var round = 0
  private val rounds = new File(dir).list().count(_.startsWith("delta_"))
  /** (round, burst, word, rows) of every lookup, in order */
  private val lookups = mutable.ArrayBuffer[(Int, Int, String, Seq[(String, Seq[Int])])]()
  private var storedRatio = Double.NaN

  private def docs(name: String): DataFrame = spark.read.parquet(s"$dir/$name")
  private def delta(r: Int) = docs(f"delta_$r%02d.parquet")
  private def victims(r: Int) = docs(f"victims_$r%02d.parquet")
  private def words(r: Int): Seq[Seq[String]] =
    Workload.readLines(f"$dir/lookups_$r%02d.txt").map(_.split(" ").toSeq)

  override def setup(): Unit = op("materialize") { IndexStore.materialize(docs("base.parquet"), store) }

  override def cleanup(): Unit = ArtifactCache.deleteRecursively(new File(store))

  override def enough(passes: Int): Boolean =
    passes >= 2 && lookups.size >= 100 || round >= rounds

  private def lookup(r: Int, b: Int, w: String): Unit = {
    val rows = IndexStore.lookup(spark, store, w).collect().toSeq
      .map(x => (x.getString(0), x.getSeq[Int](1)))
    lookups += ((r, b, w, rows))
  }

  private def burst(r: Int, b: Int): Unit =
    words(r)(b).foreach(w => op("lookup")(lookup(r, b, w)))

  def pass(): Unit = {
    require(round < rounds, s"the churn schedule has only $rounds rounds")
    val r = round
    round += 1
    op("merge") { IndexStore.merge(spark, store, delta(r)) }
    burst(r, 0)
    op("delete") { IndexStore.delete(spark, store, victims(r)) }
    burst(r, 1)
  }

  private def rows(df: DataFrame): Seq[(Int, String)] =
    df.collect().toSeq.map(r => (r.getInt(0), r.getString(1)))

  def check(): Unit = {
    val oracle = new Oracles.Postings
    val live = mutable.HashMap[Int, String]()
    rows(docs("base.parquet")).foreach { case (id, t) => oracle.add(id, t); live(id) = t }
    val byRound = lookups.groupBy(l => (l._1, l._2))
    def compare(r: Int, b: Int): Unit = byRound.getOrElse((r, b), Seq.empty).foreach {
      case (_, _, w, got) =>
        val want = oracle.get(w).map(ids => Seq((w, ids))).getOrElse(Seq.empty)
        expect(got == want, s"round $r lookup '$w': got $got want $want")
    }
    (0 until round).foreach { r =>
      rows(delta(r)).foreach { case (id, t) => oracle.add(id, t); live(id) = t }
      // a merge or delete is checked through the lookups after it
      compare(r, 0)
      rows(victims(r)).foreach { case (id, t) => oracle.remove(id, t); live -= id }
      compare(r, 1)
    }
    expect(!IndexStore.pendingMaintenance(store), "maintenance marker left behind")
    val stored = spark.read.parquet(store).select("word", "file_ids", "letter").collect()
      .map(r => (r.getString(0), (r.getSeq[Int](1), r.getString(2)))).toMap
    val want = oracle.map.map { case (w, ids) => w -> ids.toSeq }.toMap
    val same = stored.size == want.size && stored.forall { case (w, (ids, l)) =>
      want.get(w).contains(ids) && l == w.substring(0, 1) }
    expect(same, s"final store (${stored.size} words) differs from a rebuild over the live docs (${want.size})")
    val liveBytes = live.values.map(_.getBytes("UTF-8").length.toLong).sum
    storedRatio = Workload.bytesUnder(new File(store)).toDouble / liveBytes
    evidence("rounds_run") = round
    evidence("lookups") = lookups.size
    evidence("lookup_hits") = lookups.count(_._4.nonEmpty)
    evidence("live_docs") = live.size
    evidence("store_words") = stored.size
  }

  override def metrics: Map[String, (Double, String)] = {
    val lk = opSeconds("lookup").map(_ * 1000)
    Map(
      "merge_s_p50" -> (Workload.median(opSeconds("merge")), "s"),
      "delete_s_p50" -> (Workload.median(opSeconds("delete")), "s"),
      "lookup_ms_p50" -> (Workload.median(lk), "ms"),
      "lookup_ms_p90" -> (Workload.quantile(lk, 0.9), "ms"),
      "stored_bytes_per_input_byte" -> (storedRatio, "ratio"))
  }

  /** Distinct first letters of the normalized words of a batch. */
  private def letters(df: DataFrame): Double =
    rows(df).flatMap { case (_, t) => Oracles.tokens(t).map(Oracles.normalize) }
      .filter(_.nonEmpty).map(_.charAt(0)).distinct.size.toDouble

  def tracedPass(t: Tracer, inject: Option[String]): Unit = {
    require(round < rounds, s"the churn schedule has only $rounds rounds")
    val r = round
    round += 1
    def touched(span: String, df: DataFrame): Unit = t.stats(span).add("touched_letters", letters(df))
    t.newChain()
    t.prefix("operators.InvertedIndex.build") { Tracer.materialize(InvertedIndex.build(delta(r))) }
    t.prefix("operators.IndexStore.merge") { op("traced") { IndexStore.merge(spark, store, delta(r)) } }
    touched("operators.IndexStore.merge", delta(r))
    words(r)(0).foreach(w => t.span("operators.IndexStore.lookup")(op("traced")(lookup(r, 0, w))))
    t.newChain()
    t.prefix("operators.InvertedIndex.build") { Tracer.materialize(InvertedIndex.build(victims(r))) }
    t.prefix("operators.IndexStore.delete") { op("traced") { IndexStore.delete(spark, store, victims(r)) } }
    touched("operators.IndexStore.delete", victims(r))
    words(r)(1).foreach(w => t.span("operators.IndexStore.lookup")(op("traced")(lookup(r, 1, w))))
  }
}
