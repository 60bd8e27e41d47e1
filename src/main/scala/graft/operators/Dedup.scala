package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{ShingleHashes, SimHash64, TextAnalysis}

/** Deduplication family for a training-data pipeline: exact,
  * fingerprint-canonical, MinHash+LSH, SimHash, n-gram Jaccard, and
  * embedding-cosine near-dup.
  *
  * Scale posture (the whole point of these designs):
  *  - NOTHING here compares all pairs. Every near-dup variant goes
  *    shingle/band/bucket → candidate pairs → verify, so work is
  *    proportional to colliding pairs, not n².
  *  - Text is tokenized by byte-scan kernels ([[ShingleHashes]],
  *    [[SimHash64]]): one pass over each document's UTF-8 bytes, no
  *    token array and no per-token strings.
  *  - MinHash signatures are ONE aggregation pass with k `min`
  *    expressions — no row explosion by k, and the partial aggregate
  *    runs map-side before the shuffle on doc_id. SimHash signatures
  *    need no aggregation at all: one kernel call per document row.
  *  - Pair producers have unsorted cores ([[minhashPairs]],
  *    [[ngramPairs]]); only the public pair lists pay the
  *    `orderBy(doc_a, doc_b)`. Connected components unions, dedupes
  *    and collects its input, so the group queries feed it the cores.
  *  - Hot shingles are capped by document frequency before the LSH
  *    band join (standard df-cut) so a boilerplate shingle shared by
  *    millions of docs cannot produce a quadratic bucket.
  *  - All hashing is `xxhash64` with fixed seeds ⇒ deterministic across
  *    runs, partitionings and cluster sizes.
  */
object Dedup {

  private def docs(s: SparkSession, dir: String) = Tables.load(s, dir, "documents")

  // ---------------------------------------------------------------- exact

  /** Exact-duplicate groups by content hash (md5 so the DuckDB oracle
    * can reproduce it bit-for-bit). Empty result = no dupes; still a
    * valid oracle check.
    */
  def exactGroups(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(count(lit(1)).as("n_copies"),
        min(col("doc_id")).as("canonical_id"))
      .filter(col("n_copies") > 1)
      .orderBy(col("content_hash"))

  /** Canonical map: every doc → the smallest doc_id sharing its
    * normalized fingerprint. The keep/drop decision of an exact-dedup
    * pass, one row per doc.
    *
    * Aggregate + equi-join rather than min-over-`Window.partitionBy(fp)`:
    * a degenerate fingerprint group (empty/boilerplate docs — millions
    * of copies at corpus scale) would land in ONE unsplittable window
    * task, while the join shape map-side-combines the aggregate to one
    * narrow row per group. The join-back itself is [[Skew.hotKeyJoin]]:
    * AQE's skew join CANNOT split this shape (the aggregate between
    * sort and shuffle stage defeats OptimizeSkewedJoin's pattern — see
    * the hotKeyJoin doc), so hot fingerprints are salted explicitly.
    */
  def canonicalMap(s: SparkSession, dir: String): DataFrame = {
    val fps = docs(s, dir)
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
    val canon = fps.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("grp_n"))
    Skew.hotKeyJoin(fps, canon, "fp", saltSource = col("doc_id"))
      .withColumn("is_duplicate", (col("doc_id") =!= col("canonical_id")).cast("long"))
      .select(col("doc_id"), col("canonical_id"), col("is_duplicate"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------- shingles

  /** Distinct k-token shingles per doc, lowercased, immediately
    * reduced to a 64-bit hash: every downstream shuffle (df-cap,
    * signature agg, band join, jaccard verify) then moves 8-byte longs
    * instead of multi-word strings. Collision odds at 2^64 are
    * negligible next to the minhash approximation itself.
    *
    * A shingle is `xxhash64(tok_i, …, tok_{i+k-1})` over the
    * whitespace tokens of `lower(text)` ([[TextAnalysis.tokens]]),
    * computed by the [[ShingleHashes]] kernel in one byte scan per
    * document. A doc with fewer than k tokens has no shingles.
    */
  def shingleHashes(d: DataFrame, k: Int = 3): DataFrame = {
    require(k >= 1, s"shingle width k must be >= 1, got k = $k")
    d.select(col("doc_id"), explode(ShingleHashes(lower(col("text")), k)).as("sh"))
      .distinct()
  }

  /** Cap shingle document frequency: drop shingles appearing in more
    * than `maxDf` docs (they generate huge LSH buckets and carry no
    * dedup signal).
    *
    * Skew-safe by construction: df comes from a `groupBy` (map-side
    * partial counts, so a shingle in a million docs ships ~one row per
    * input partition, not a million rows into one task — the failure
    * mode a `count over Window.partitionBy(sh)` would have on exactly
    * the hot keys this cap exists to kill), and the resulting hot list
    * is tiny (only shingles with df > maxDf) so it broadcasts into a
    * shuffle-free `left_anti`.
    */
  private def dfCapped(sh: DataFrame, maxDf: Int): DataFrame = {
    val hot = sh.groupBy(col("sh")).count().filter(col("count") > maxDf).select(col("sh"))
    sh.join(broadcast(hot), Seq("sh"), "left_anti")
  }

  // ------------------------------------------------------------- MinHash

  /** MinHash signatures: one row per doc, `numHashes` minimums computed
    * in a single groupBy pass over (doc, shingle-hash) with seeded
    * xxhash64 — the signature matrix without materializing permutations.
    */
  def minhashSignatures(sh: DataFrame, numHashes: Int = 24): DataFrame = {
    val mins = (0 until numHashes).map(seed =>
      min(xxhash64(lit(seed), col("sh"))).as(s"mh_$seed"))
    sh.groupBy(col("doc_id")).agg(mins.head, mins.tail: _*)
  }

  /** Candidate pairs via LSH banding: signature split into `bands`
    * bands of `numHashes/bands` rows; docs sharing any band hash become
    * a candidate pair. Join is on (band_id, band_hash) — the classic
    * bucket join, shuffle ∝ docs × bands.
    */
  def lshCandidates(sig: DataFrame, numHashes: Int = 24, bands: Int = 8): DataFrame = {
    val rows = numHashes / bands
    val bandCols = (0 until bands).map { b =>
      val slice = (0 until rows).map(r => col(s"mh_${b * rows + r}"))
      struct(lit(b).as("band_id"), xxhash64(slice: _*).as("band_hash"))
    }
    val banded = sig.select(col("doc_id"), explode(array(bandCols: _*)).as("band"))
      .select(col("doc_id"), col("band.band_id"), col("band.band_hash"))
    val a = banded.as("a"); val b = banded.as("b")
    a.join(b,
        col("a.band_id") === col("b.band_id") &&
        col("a.band_hash") === col("b.band_hash") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Exact Jaccard verification of candidate pairs against the shingle
    * sets (hashes, not strings, to keep shuffle rows narrow), ordered
    * by (doc_a, doc_b).
    */
  def verifyJaccard(candidates: DataFrame, sh: DataFrame, threshold: Double): DataFrame =
    verifiedPairs(candidates, sh, threshold).orderBy(col("doc_a"), col("doc_b"))

  /** [[verifyJaccard]] without the final sort. */
  private def verifiedPairs(candidates: DataFrame, sh: DataFrame,
      threshold: Double): DataFrame = {
    val sets = sh.groupBy(col("doc_id"))
      .agg(collect_set(col("sh")).as("sh_set"),
        count(lit(1)).as("sh_n"))
    candidates
      .join(sets.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sets.as("sb"), col("doc_b") === col("sb.doc_id"))
      .withColumn("inter", size(array_intersect(col("sa.sh_set"), col("sb.sh_set"))))
      // portableRound4, not round(_, 4): the jaccard quotient is
      // oracle-checked (q_dedup_ngram), and Spark's HALF_UP on the
      // shortest decimal repr disagrees with DuckDB's binary rounding
      // at half boundaries — floor(x*1e4+0.5)/1e4 is the same IEEE
      // sequence in both engines
      .withColumn("jaccard",
        graft.functions.Rounding.portableRound4(col("inter").cast("double") /
          (col("sa.sh_n") + col("sb.sh_n") - col("inter")).cast("double")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Q-DEDUP (near): MinHash+LSH near-duplicate pairs, Jaccard ≥ 0.5.
    *
    * The raw shingle relation feeds several subtrees (df-cap
    * aggregate, anti-join input, signature aggregate, verify sets),
    * but they all share the `distinct` Exchange at the shingle tail,
    * which ReuseExchange collapses to one physical computation — an
    * explicit persist was measured strictly slower at sf0.1 (cache
    * write/read overhead, lost AQE boundary; OPTIMIZATION_r19.md).
    * A candidate-doc semi-join on the verify sets was ALSO measured
    * and rejected (2.5 → 3.8 s): it makes the LSH candidate subtree
    * appear twice in the plan, and the extra band-join pass costs more
    * than aggregating sets over every doc at any scale where the band
    * join itself is the dominant term.
    */
  def minhashNearDups(s: SparkSession, dir: String,
      threshold: Double = 0.5, maxDf: Int = 1000): DataFrame =
    minhashPairs(s, dir, threshold, maxDf).orderBy(col("doc_a"), col("doc_b"))

  /** [[minhashNearDups]] without the final sort. */
  private[graft] def minhashPairs(s: SparkSession, dir: String,
      threshold: Double = 0.5, maxDf: Int = 1000): DataFrame = {
    val sh = dfCapped(shingleHashes(docs(s, dir)), maxDf)
    val cands = lshCandidates(minhashSignatures(sh))
    verifiedPairs(cands, sh, threshold)
  }

  /** Per-pair intersection counts `(doc_a, doc_b, inter)` joined to
    * both sides' shingle-set sizes `na`, `nb` (from `sizes`: doc_id,
    * sh_n) — the input of every count-based pair score. */
  private def withSetSizes(inter: DataFrame, sizes: DataFrame): DataFrame =
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("sh_n").as("na")), Seq("doc_a"))
      .join(sizes.select(col("doc_id").as("doc_b"), col("sh_n").as("nb")), Seq("doc_b"))

  /** Jaccard from pair-intersection COUNTS ([[withSetSizes]] rows) —
    * shared by every pipeline whose candidate generation IS the
    * shingle equi-join: shingle rows are distinct per doc, so the
    * candidate join's per-pair group count equals |A ∩ B| exactly and
    * no shingle SET ever materializes (`collect_set` +
    * `array_intersect` replaced by two narrow count aggregates).
    * Bit-identical to [[verifyJaccard]] over the same sh relation:
    * same quotient, same [[graft.functions.Rounding.portableRound4]],
    * same threshold filter; unsorted, like [[verifiedPairs]].
    */
  private def jaccardFromCounts(counted: DataFrame, threshold: Double): DataFrame =
    counted
      .withColumn("jaccard",
        graft.functions.Rounding.portableRound4(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  /** n-gram Jaccard dedup without minhash: candidates = pairs sharing
    * ≥1 (df-capped) shingle, then exact Jaccard — the small-corpus /
    * high-precision variant of the same pipeline.
    *
    * Count-based verify (r19): the candidate join's group count IS the
    * intersection size ([[jaccardFromCounts]]), so the old
    * candidates-`distinct` + two set-joins + `array_intersect` tail
    * collapses into one pair-keyed aggregate.
    */
  def ngramJaccardDups(s: SparkSession, dir: String,
      threshold: Double = 0.3, maxDf: Int = 50): DataFrame =
    ngramPairs(s, dir, threshold, maxDf).orderBy(col("doc_a"), col("doc_b"))

  /** [[ngramJaccardDups]] without the final sort. */
  private[graft] def ngramPairs(s: SparkSession, dir: String,
      threshold: Double = 0.3, maxDf: Int = 50): DataFrame =
    jaccardFromCounts(ngramOverlaps(s, dir, maxDf), threshold)

  /** Pairs sharing ≥ 1 df-capped 2-gram shingle, with their
    * intersection counts and set sizes ([[withSetSizes]] rows): the
    * candidate core of [[ngramPairs]] and [[containmentDups]], which
    * differ only in the score they compute from the counts. */
  private def ngramOverlaps(s: SparkSession, dir: String, maxDf: Int): DataFrame = {
    // NO persist/checkpoint: the shingle subtree repeats in the plan
    // (sizes + both candidate sides), but its tail is the `distinct`
    // Exchange, and ReuseExchange collapses the identical subtrees to
    // ONE physical computation — an explicit cache was measured SLOWER
    // (3.0 s vs 1.7 s at sf0.1: InMemoryRelation write/read overhead
    // plus a lost AQE boundary), see OPTIMIZATION_r19.md
    val sh = dfCapped(shingleHashes(docs(s, dir), k = 2), maxDf)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sh_n"))
    val inter = sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    withSetSizes(inter, sizes)
  }

  /** Containment (overlap-coefficient) dedup: pairs where the SMALLER
    * document's shingle set is mostly inside the larger's —
    * `|A ∩ B| / min(|A|, |B|) ≥ threshold`. This is the quote-
    * expansion / excerpt case Jaccard systematically misses: a
    * paragraph fully contained in a 100× longer page has Jaccard
    * ≈ |A|/|B| ≈ 0.01 but containment 1.0, and curation wants to
    * drop (or link) the excerpt. `contained_doc` names the smaller
    * side — the one a keep-longest policy would drop.
    *
    * Scale shape: identical to [[ngramJaccardDups]] — df-capped
    * shared-shingle candidates (the cap bounds bucket sizes), and the
    * intersection size IS the candidate join's group count (shingle
    * rows are distinct per doc), so no set materialization at all:
    * two narrow count aggregates and a pair-keyed join.
    */
  def containmentDups(s: SparkSession, dir: String,
      threshold: Double = 0.5, maxDf: Int = 50): DataFrame =
    ngramOverlaps(s, dir, maxDf)
      .withColumn("overlap", graft.functions.Rounding.portableRound4(
        col("inter").cast("double") / least(col("na"), col("nb")).cast("double")))
      .filter(col("overlap") >= threshold)
      .withColumn("contained_doc",
        when(col("na") <= col("nb"), col("doc_a")).otherwise(col("doc_b")))
      .select(col("doc_a"), col("doc_b"), col("contained_doc"), col("overlap"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** Incremental (delta-vs-corpus) near-dedup: dedup an ARRIVING batch
    * against an already-deduped corpus without re-deduping the corpus —
    * the shape that matters at 100 TB, where a daily 1 TB delta must
    * not cost a 100 TB self-join. Semantics: a batch doc is dropped if
    * any LOWER-id doc (existing corpus, or an earlier doc of the same
    * batch) sits at n-gram Jaccard ≥ `threshold`; `dup_of` is the
    * minimum such partner and `jaccard` its similarity. Batch docs are
    * split deterministically here as `doc_id >= splitId` (production
    * passes two tables).
    *
    * Scale shape, piece by piece:
    *  - the EXISTING side's shingle postings are a build-once persisted
    *    index ([[ArtifactCache]], same discipline as the near-dup and
    *    IVF indexes): the old corpus is tokenized/shingled once ever,
    *    not once per batch;
    *  - the candidate join's left side is BATCH shingles only — shuffle
    *    ∝ batch + matched index postings, never corpus²;
    *  - the df cap is computed over index ∪ batch (df composes:
    *    df_total = df_index + df_batch), so the cap stays exactly the
    *    full-corpus cap and remains incrementally maintainable;
    *  - exact-Jaccard verification restricts the shingle-set build to
    *    CANDIDATE docs via a semi-join first — set aggregation costs
    *    ∝ candidates, not corpus (the full-corpus variant
    *    [[ngramJaccardDups]] skips this because every doc is a
    *    potential pair member there).
    */
  def incrementalNgramDedup(s: SparkSession, dir: String, splitId: Long = 400L,
      threshold: Double = 0.3, maxDf: Int = 50): DataFrame = {
    // the store lives in the DELETABLE bucketed layout (see
    // [[buildShingleStore]]) since r18 — one layout for the whole
    // lifecycle family instead of a flat production store next to a
    // deletable variant; answers are layout-invariant (the probe
    // selects (doc_id, sh) explicitly)
    val idxPath = ArtifactCache.ensure(
      ArtifactCache.key("increm-dedup", dir, "documents.parquet", splitId)) { tmp =>
      buildShingleStore(s, docs(s, dir).filter(col("doc_id") < splitId), tmp)
    }
    val pBatch = shingleHashes(docs(s, dir).filter(col("doc_id") >= splitId), k = 2)
    batchDedupDecisions(
      docs(s, dir).filter(col("doc_id") >= splitId).select(col("doc_id")),
      pBatch, liveShinglePostings(s, idxPath), threshold, maxDf)
  }

  /** Doc-id bucket width for the DELETABLE shingle-store layout: the
    * store partitions by `kb = doc_id % ShingleStoreBuckets`, so a
    * takedown's physical rewrite ([[graft.operators.MediaIndexOps
    * .compact]]) touches only the victims' buckets — a bounded victim
    * list rewrites a bounded slice, never the index. */
  val ShingleStoreBuckets = 64

  /** Persist a corpus' shingle postings in the TAKEDOWN-CAPABLE layout
    * ([[MediaIndexOps]]' shared shape, doc-bucketed): one (doc_id, sh)
    * row per distinct shingle per doc under `$path/postings/kb=…`.
    * No `keydf` store — the df cap is recomputed from live postings at
    * every probe ([[dfCapped]] over index ∪ batch), so there is no
    * persisted statistic a delete would have to reconcile. */
  private[graft] def buildShingleStore(s: SparkSession, corpus: DataFrame,
      path: String): Unit =
    shingleHashes(corpus, k = 2)
      .withColumn("kb", pmod(col("doc_id"), lit(ShingleStoreBuckets)))
      .write.mode("overwrite").partitionBy("kb").parquet(s"$path/postings")

  /** The store's LIVE postings: tombstoned docs anti-joined out.
    * Because the df cap is recomputed from these rows at probe time,
    * a takedown is EXACT immediately — no conservative staleness
    * window like the media indexes' persisted-df variant; compaction
    * ([[MediaIndexOps.compact]]) only reclaims bytes. Refuses while a
    * compaction or consolidation is mid-swap, like every probe in the
    * lifecycle family. */
  private[graft] def liveShinglePostings(s: SparkSession,
      path: String): DataFrame = {
    if (MediaIndexOps.pendingApply(path))
      throw new IllegalStateException(
        s"pending tombstone compaction at $path: re-run MediaIndexOps.compact " +
          "to completion before probing")
    if (MediaIndexOps.pendingConsolidate(path, "postings"))
      throw new IllegalStateException(
        s"pending batch consolidation at $path: re-run " +
          "MediaIndexOps.consolidateBatches to completion before probing")
    // EMPTY-STORE GUARD (the family's): an all-victim takedown leaves
    // the postings dir with only markers — no parquet footer anywhere,
    // so a naive read dies on schema inference. An empty store has no
    // duplicates to report. (A NONEXISTENT path still throws — only a
    // present-but-emptied tree reads as empty; a typo'd path must not.)
    val postingsRoot = new java.io.File(s"$path/postings")
    if (postingsRoot.exists() && !ArtifactCache.hasVisibleParquet(postingsRoot)) {
      import s.implicits._
      return Seq.empty[(Long, Long)].toDF("doc_id", "sh")
    }
    val stored = s.read.parquet(s"$path/postings").select(col("doc_id"), col("sh"))
    MediaIndexOps.tombstones(s, path, "doc_id")
      .fold(stored)(d => stored.join(broadcast(d), Seq("doc_id"), "left_anti"))
  }

  /** Victim selector for the takedown lifecycle query: existing-corpus
    * docs (id < splitId) with `doc_id % 7 == 2` — spread across the
    * whole index, certain to include dup partners at the test scales. */
  val ShingleTakedownMod = 7
  val ShingleTakedownRem = 2

  /** Driver-contract takedown query — `q_dedup_incremental_takedown`:
    * build the existing-corpus shingle store in the deletable layout,
    * [[MediaIndexOps.delete]] + [[MediaIndexOps.compact]] the victims
    * (GDPR erasure for the text-dedup state), then run the standard
    * batch-dedup probe. Decisions equal a full recompute with the
    * victims absent from the existing side (the df cap, candidate set
    * and Jaccard scores are all recomputed from live postings), so the
    * oracle is the q_dedup_incremental SQL with the victim predicate
    * pushed into the document source. Build-once artifact; repeat
    * calls probe the persisted post-takedown store. */
  def incrementalNgramDedupTakedown(s: SparkSession, dir: String,
      splitId: Long = 400L, threshold: Double = 0.3,
      maxDf: Int = 50): DataFrame = {
    val idxPath = ArtifactCache.ensure(
      ArtifactCache.key("increm-dedup-del", dir, "documents.parquet", splitId)) { tmp =>
      val existing = docs(s, dir).filter(col("doc_id") < splitId)
      buildShingleStore(s, existing, tmp)
      // a takedown list is bounded by contract — this is the caller
      // handing the lifecycle its victim ids, not a data plane
      MediaIndexOps.delete(s, tmp,
        existing.filter(
          pmod(col("doc_id"), lit(ShingleTakedownMod)) === ShingleTakedownRem)
          .select(col("doc_id")), "doc_id")
      MediaIndexOps.compact(s, tmp, "postings", "doc_id")
    }
    val pBatch = shingleHashes(docs(s, dir).filter(col("doc_id") >= splitId), k = 2)
    batchDedupDecisions(
      docs(s, dir).filter(col("doc_id") >= splitId).select(col("doc_id")),
      pBatch, liveShinglePostings(s, idxPath), threshold, maxDf)
  }

  /** The verified-pair core under the decision layer: all n-gram
    * Jaccard ≥ `threshold` pairs HEADED by a batch doc (doc_b in the
    * batch; doc_a any lower-id doc — existing corpus or an earlier doc
    * of the same batch, one predicate because index ids precede every
    * batch id). The streaming GROUP path persists these pairs
    * append-only — each batch's pair delta is exactly this relation,
    * so the accumulated store stays the warm-CC seed contract
    * ([[connectedComponentsWarm]]: pairs only ever added).
    *
    * PRECONDITION (r20, ADVICE): `indexSh` and `batchSh` must cover
    * DISJOINT doc_id sets — the count-based intersection below assumes
    * (doc_id, sh) stays distinct across the union; a doc present on
    * both sides would duplicate its shingle rows and inflate both
    * `inter` and `sh_n` (the old `collect_set`/`array_intersect`
    * verify was duplicate-tolerant, this one is not). Every caller
    * splits by id/splitId, and the arrival-order contract (index ids
    * precede all batch ids) already implies it.
    *
    * Unordered: the streaming path persists the pairs and reads them
    * back into connected components, which needs no order. */
  private[graft] def batchDedupPairs(batchIds: DataFrame, batchSh: DataFrame,
      indexSh: DataFrame, threshold: Double, maxDf: Int): DataFrame = {
    // count-based verify (r19): the batch-headed candidate join's
    // per-pair group count IS the intersection size
    // ([[jaccardFromCounts]]) — the old pair-`distinct`, candidate-doc
    // semi-joins and `collect_set`/`array_intersect` tail collapse
    // into one pair-keyed aggregate. No persist: the repeated shingle
    // subtree shares one Exchange (ReuseExchange), and an explicit
    // cache measured slower (OPTIMIZATION_r19.md).
    val sh = dfCapped(indexSh.unionByName(batchSh), maxDf)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sh_n"))
    // candidates: batch shingles against ALL lower-id postings
    val inter = sh.join(batchIds, Seq("doc_id"), "left_semi").as("a")
      .join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("b.doc_id") < col("a.doc_id"))
      .groupBy(col("b.doc_id").as("doc_a"), col("a.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    jaccardFromCounts(withSetSizes(inter, sizes), threshold)
  }

  /** The decision core shared by [[incrementalNgramDedup]] and the
    * streaming ingest variant: dedup `batchDocs` (with shingle
    * postings `batchSh`) against `indexSh` (everything seen before
    * this batch) plus lower-id docs of the same batch. All index doc
    * ids must be below all batch ids (arrival order = id order).
    */
  private[graft] def batchDedupDecisions(batchDocs: DataFrame, batchSh: DataFrame,
      indexSh: DataFrame, threshold: Double, maxDf: Int): DataFrame = {
    val batchIds = batchDocs.select(col("doc_id"))
    val pairs = batchDedupPairs(batchIds, batchSh, indexSh, threshold, maxDf)
    val hits = pairs.groupBy(col("doc_b").as("doc_id"))
      .agg(min(col("doc_a")).as("dup_min"),
        min_by(col("jaccard"), col("doc_a")).as("dup_jac"))
    batchIds
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("dup_min").isNull, lit(1L)).otherwise(lit(0L)).as("kept"),
        coalesce(col("dup_min"), lit(-1L)).as("dup_of"),
        coalesce(col("dup_jac"), lit(0.0)).as("jaccard"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------- SimHash

  /** 64-bit SimHash per doc: per-token xxhash64 over the whitespace
    * tokens of `lower(text)`, each bit votes ±1, sign of the vote sum
    * becomes the bit. A projection, not an aggregate: `doc_id` is the
    * documents key, so the [[SimHash64]] kernel's per-row vote equals a
    * per-`doc_id` vote sum, and no row is exploded or shuffled. A doc
    * with no token has no signature and no row.
    */
  def simhashSignatures(d: DataFrame): DataFrame =
    d.select(col("doc_id"), SimHash64(lower(col("text"))).as("simhash"))
      .filter(col("simhash").isNotNull)

  /** SimHash near-dups: pairwise 5-chunk blocking, exact for
    * Hamming ≤ 3 by pigeonhole — with the 64 bits split into 5 chunks
    * (13/13/13/13/12 bits), ≤3 flipped bits touch ≤3 chunks, so ≥2
    * chunks are clean and the pair shares at least one of the
    * C(5,2)=10 (chunk_i, chunk_j) keys. Verified by
    * `bit_count(xor) <= maxHamming`.
    *
    * Joining on chunk PAIRS (not single chunks) is what keeps the
    * blocking scale-safe: a single-chunk key has fixed cardinality
    * (2^16 under the old 4×16 split), so bucket population — and the
    * within-bucket `doc_id < doc_id` self-join — grows linearly with
    * the corpus, i.e. O(n²/2^16) pair work. The pair key space is
    * ~2^26 per pair_id (~2^29 overall), and two chunks agreeing by
    * chance requires two independent 13-bit collisions, so random
    * bucket sizes stay near 1 far past 10⁹ docs; bucket mass comes
    * from genuinely similar docs, which the verify step must touch
    * anyway.
    */
  def simhashNearDups(s: SparkSession, dir: String, maxHamming: Int = 3): DataFrame = {
    // pigeonhole premise: maxHamming errors must leave >=2 of the 5
    // chunks clean, which holds iff maxHamming <= 3
    require(maxHamming <= 3, s"5-chunk pairwise blocking is exact only for Hamming <= 3")
    val sig = simhashSignatures(docs(s, dir))
    val offsets = Seq(0, 13, 26, 39, 52) // widths 13,13,13,13,12
    def chunk(i: Int): Column =
      shiftright(col("simhash"), offsets(i))
        .bitwiseAND(lit((1L << (if (i == 4) 12 else 13)) - 1))
    val pairKeys = for { i <- 0 until 5; j <- (i + 1) until 5 } yield
      struct(lit(i * 5 + j).as("pair_id"), chunk(i).as("c1"), chunk(j).as("c2"))
    val keyed = sig.select(col("doc_id"), col("simhash"),
      explode(array(pairKeys: _*)).as("p"))
      .select(col("doc_id"), col("simhash"),
        col("p.pair_id"), col("p.c1"), col("p.c2"))
    val a = keyed.as("a"); val b = keyed.as("b")
    a.join(b,
        col("a.pair_id") === col("b.pair_id") &&
        col("a.c1") === col("b.c1") && col("a.c2") === col("b.c2") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // ------------------------------------------- embedding-cosine near-dup

  /** Near-duplicate pairs by embedding cosine ≥ threshold — EXACT
    * result (100% recall guaranteed, not sampled or hashed), computed
    * without ever joining the corpus against itself row-by-row.
    *
    * Shape: metric-space cell pruning on the unit sphere.
    *  1. Assign every vector to an IVF cell ([[Similarity.assignCells]],
    *     a narrow projection) and aggregate each cell's angular RADIUS
    *     (max arccos-distance of a member to its centroid).
    *  2. Score all C² ordered centroid pairs (C ≈ √n, broadcast-sized
    *     by [[Similarity.cellSeeds]]) and PRUNE every cell pair whose
    *     triangle-inequality lower bound already exceeds the threshold
    *     angle: d(x,y) ≥ d(c_x,c_y) − R_x − R_y > arccos(threshold)
    *     ⇒ no member pair can reach the threshold. arccos distance is a
    *     metric on the sphere, so the bound — hence recall — is exact
    *     for ANY data distribution (an LSH/hyperplane candidate step
    *     can't promise that: a pair sitting exactly at the threshold
    *     survives banding only probabilistically).
    *  3. Equi-join vectors through the surviving cell pairs (broadcast
    *     fan-out to partner cells, then a shuffle join keyed on cell —
    *     skewed cells are AQE's skew-join case) and exact-verify cosine.
    *
    * On clustered corpora — the regime where embedding near-dup dedup
    * is actually run — tight cells prune the vast majority of cell
    * pairs and the join touches only plausible regions; on adversarial
    * data (e.g. uniform random vectors with a threshold in the random
    * tail, which is what the synthetic test tables are) it degrades
    * gracefully toward verifying most pairs, but through the same
    * bounded equi-join plan: no CartesianProduct, no nested loop over
    * the corpus, and per-task work capped by cell sizes instead of n².
    */
  def embeddingNearDups(s: SparkSession, dir: String, threshold: Double): DataFrame =
    embeddingNearDupsOn(Similarity.emb(s, dir), threshold)

  /** Internal pieces of the cell-pruned join, exposed so tests can
    * measure the prune rate on clustered corpora: `assigned` (corpus +
    * cell), `keep` (surviving ordered cell pairs), `cells` (C).
    */
  private[graft] final case class CellPrune(
      assigned: DataFrame, keep: DataFrame, cells: Int)

  /** Same operator over a prepared corpus DataFrame with columns
    * (vec_id, emb: array<double>, nrm) — the testable entry point.
    */
  private[graft] def embeddingNearDupsOn(corpus: DataFrame, threshold: Double,
      kmeansIters: Int = 3): DataFrame = {
    val p = cellPrune(corpus, threshold, kmeansIters)
    verifyCellPairs(p.assigned, p.keep, threshold)
  }

  /** The candidate-join + exact-verify tail, over any (assigned, keep)
    * pair — fresh from [[cellPrune]] or read back from a persisted
    * index ([[embeddingNearDupsIndexed]]).
    */
  private[graft] def verifyCellPairs(assigned: DataFrame, keep: DataFrame,
      threshold: Double): DataFrame = {
    import graft.functions.VectorFunctions.arrayDot
    val a = assigned.select(col("vec_id").as("vec_a"), col("emb").as("emb_a"),
      col("nrm").as("nrm_a"), col("cent_id").as("ca_id"))
    val b = assigned.select(col("vec_id").as("vec_b"), col("emb").as("emb_b"),
      col("nrm").as("nrm_b"), col("cent_id").as("cb_id"))

    // each unordered vector pair surfaces exactly once: `keep` holds
    // BOTH orientations of every surviving cell pair (pruning is
    // symmetric), and vec_a < vec_b picks the one matching orientation
    a.join(broadcast(keep), Seq("ca_id"))
      .join(b, col("partner_cell") === col("cb_id") && col("vec_a") < col("vec_b"))
      .withColumn("cos_raw",
        arrayDot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")))
      .filter(col("cos_raw") >= threshold)
      .select(col("vec_a"), col("vec_b"),
        graft.functions.Rounding.portableRound4(col("cos_raw")).as("cos"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Build-once persisted near-dup index: the cell assignment and the
    * surviving cell-pair list for a (corpus, threshold) are written
    * under /tmp (keyed by corpus path + file fingerprint + threshold)
    * on first use; queries read them back and run ONLY the candidate
    * equi-join + exact verify — the centroid training, radius
    * aggregation, and C² cell-pair pruning are paid once.
    *
    * Output is row-identical to [[embeddingNearDups]] no matter which
    * centroid set the index froze: the triangle-inequality bound
    * guarantees 100% recall for ANY centroids, and verification is
    * exact cosine — centroid quality affects candidate volume (cost),
    * never the result. Asserted in DedupSimilaritySpec.
    */
  def embeddingNearDupsIndexed(s: SparkSession, dir: String,
      threshold: Double): DataFrame = {
    // the _GRAFT_DONE marker is written only after BOTH writes land:
    // assigned/_SUCCESS alone can't vouch for keep/, and a partial keep
    // read would silently drop surviving cell pairs (recall loss)
    val path = ArtifactCache.ensure(
      ArtifactCache.key("neardup", dir, "embeddings.parquet", threshold)) { tmp =>
      val p = cellPrune(Similarity.emb(s, dir), threshold)
      p.assigned.write.mode("overwrite").parquet(s"$tmp/assigned")
      p.keep.write.mode("overwrite").parquet(s"$tmp/keep")
    }
    verifyCellPairs(
      s.read.parquet(s"$path/assigned"), s.read.parquet(s"$path/keep"), threshold)
  }

  /** [[DriverCutover]] cap of [[cellPrune]], in embedding rows: below
    * it the grid trains on the DRIVER. The centroid training is a chain
    * of ~8 sequential driver actions (seed collect, Lloyd collect per
    * iteration, per-round coverage collects, the radius aggregate) over
    * a corpus the driver could hold outright (2¹⁶ rows × 64 dims ≈
    * 34 MB). Below the cap everything up to the verify join runs as
    * plain Scala and the ASSIGNMENT ITSELF is emitted as a local
    * relation, so the radii provably cover exactly the assignment the
    * verify uses (no cross-engine FP coupling anywhere). EXACTNESS
    * never depends on this path: the triangle bound holds for any
    * centroid set, and the verify is exact cosine — the driver grid
    * only changes candidate volume. */
  private val CellPruneDriverRows = 1L << 16

  /** The conf key that lowers the [[cellPrune]] cap: an alias of
    * [[DriverCutover.MaxRowsKey]], kept for callers that read it. */
  private[graft] val CellPruneDriverRowCapKey = DriverCutover.MaxRowsKey

  /** Driver replica of seeds → Lloyd → coverage reseeding → radii →
    * triangle-pruned cell pairs ([[Similarity.cellSeeds]] /
    * [[Similarity.kmeansCentroids]] / [[Similarity.coverageCentroids]]
    * semantics; FP sums accumulate in row order rather than partition
    * order, which can move a centroid by an ulp — a cost-only
    * divergence, see the cap doc). */
  private def driverCellPrune(s: SparkSession,
      rows: Array[(Long, Seq[Double], Double)], threshold: Double,
      rounds: Int, maxCells: Int = 4096, batch: Int = 1024,
      perCell: Int = 4): CellPrune = {
    import s.implicits._
    val thetaT = math.acos(math.max(-1.0, math.min(1.0, threshold)))
    val maxAngle = thetaT / 2
    def dot(a: Seq[Double], b: Seq[Double]): Double = {
      var t = 0.0; var i = 0
      while (i < a.length) { t += a(i) * b(i); i += 1 }
      t
    }
    def ang(a: Seq[Double], na: Double, b: Seq[Double], nb: Double): Double =
      math.acos(math.max(-1.0, math.min(1.0, dot(a, b) / (na * nb))))
    // (cent_id, emb, nrm), kept cent_id-ascending like collectCells
    type Cent = (Long, Seq[Double], Double)
    def assignTo(cents: IndexedSeq[Cent]): Array[Int] =
      rows.map { case (_, em, _) =>
        var best = Double.NegativeInfinity; var bi = 0; var i = 0
        while (i < cents.size) {
          val sc = dot(em, cents(i)._2) / cents(i)._3
          if (sc > best) { best = sc; bi = i }
          i += 1
        }
        bi
      }
    // one Lloyd recenter: member-mean per cell, empty cells dropped
    // (lloydUpdate's groupBy semantics), order restored by cent_id
    def lloyd1(cents: IndexedSeq[Cent]): IndexedSeq[Cent] = {
      if (cents.isEmpty) return cents
      val asg = assignTo(cents)
      val dims = rows.head._2.size
      val sums = Array.fill(cents.size)(new Array[Double](dims))
      val cnts = new Array[Long](cents.size)
      var i = 0
      while (i < rows.length) {
        val c = asg(i); val em = rows(i)._2
        var d = 0
        while (d < dims) { sums(c)(d) += em(d); d += 1 }
        cnts(c) += 1
        i += 1
      }
      cents.indices.filter(cnts(_) > 0).map { c =>
        val m = sums(c).map(_ / cnts(c)).toSeq
        (cents(c)._1, m, math.sqrt(dot(m, m)))
      }.sortBy(_._1).toIndexedSeq
    }
    // seeds: pmod(xxhash64(vec_id), stride) == 0 — the exact engine
    // hash (XXH64 seed 42), so seed selection matches the distributed
    // path bit-for-bit
    val n = rows.length
    val c0 = math.max(1L, math.min(maxCells.toLong,
      math.ceil(math.sqrt(n.toDouble)).toLong))
    val stride = math.max(1L, math.round(n.toDouble / c0.toDouble))
    val seeds = rows.filter(r => Math.floorMod(
      org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(r._1, 42L),
      stride) == 0L).map(r => (r._1, r._2, r._3)).sortBy(_._1).toIndexedSeq
    var cents = lloyd1(seeds)
    // coverage reseeding (coverageCentroids replica)
    var budgetLeft = cents.nonEmpty
    var cap = -1
    var round = 0
    while (round < rounds && budgetLeft) {
      if (cap < 0) cap = math.min(maxCells, 4 * math.max(1, cents.size))
      if (cents.size >= cap) budgetLeft = false
      else {
        val have = cents.map(_._1).toSet
        val asg = assignTo(cents)
        val angs = rows.indices.map(i => ang(rows(i)._2, rows(i)._3,
          cents(asg(i))._2, cents(asg(i))._3))
        if (round == 0) {
          val sorted = angs.sorted
          val q25 = sorted((sorted.size * 0.25).toInt.min(sorted.size - 1))
          if (q25 > maxAngle) { budgetLeft = false; round = rounds }
        }
        if (budgetLeft && round < rounds) {
          val cand = rows.indices
            .filter(i => angs(i) > maxAngle && !have.contains(rows(i)._1))
            .groupBy(asg(_)).values.flatMap(_.toSeq
              .sortBy(i => (-angs(i), rows(i)._1)).take(perCell))
            .toSeq.sortBy(i => (-angs(i), rows(i)._1))
            .take(math.min(batch, cap - cents.size))
          if (cand.isEmpty) budgetLeft = false
          else {
            val accepted = scala.collection.mutable.ArrayBuffer.empty[Cent]
            cand.foreach { i =>
              val (id, em, nr) = rows(i)
              if (accepted.forall { case (_, e2, n2) => ang(em, nr, e2, n2) > maxAngle })
                accepted += ((id, em, nr))
            }
            cents = lloyd1((cents ++ accepted).sortBy(_._1).toIndexedSeq)
          }
        }
      }
      round += 1
    }
    if (cents.isEmpty) {
      // degenerate (no seeds survived): schema-correct empty prune
      return CellPrune(
        Seq.empty[(Long, Seq[Double], Double, Long)]
          .toDF("vec_id", "emb", "nrm", "cent_id"),
        Seq.empty[(Long, Long)].toDF("ca_id", "partner_cell"), 0)
    }
    // final assignment + per-cell radii over THAT assignment (the
    // invariant the exactness proof needs: radii cover the emitted
    // assignment, not a recomputed one)
    val asg = assignTo(cents)
    val radii = new Array[Double](cents.size)
    rows.indices.foreach { i =>
      val a = ang(rows(i)._2, rows(i)._3, cents(asg(i))._2, cents(asg(i))._3)
      if (a > radii(asg(i))) radii(asg(i)) = a
    }
    val keep = for {
      i <- cents.indices; j <- cents.indices
      if ang(cents(i)._2, cents(i)._3, cents(j)._2, cents(j)._3) -
        radii(i) - radii(j) <= thetaT + 1e-9
    } yield (cents(i)._1, cents(j)._1)
    val assigned = rows.indices
      .map(i => (rows(i)._1, rows(i)._2, rows(i)._3, cents(asg(i))._1))
      .toDF("vec_id", "emb", "nrm", "cent_id")
    CellPrune(assigned, keep.toDF("ca_id", "partner_cell"), cents.size)
  }

  private[graft] def cellPrune(corpus: DataFrame, threshold: Double,
      kmeansIters: Int = 3): CellPrune = {
    import graft.functions.VectorFunctions.arrayDot
    val thetaT = math.acos(math.max(-1.0, math.min(1.0, threshold)))
    // zero-norm vectors can never reach a positive cosine threshold
    // (0/0 = NaN fails every comparison, same as the all-pairs oracle);
    // dropping them up front keeps NaN out of the radius aggregates,
    // where one poisoned max would silently prune live cell pairs
    val e = corpus.filter(col("nrm") > 0)
    // the cutover bound counts the UNFILTERED corpus — Catalyst prunes
    // every computed column out of a bare count, so this is an
    // empty-ReadSchema scan (footer row counts), where counting `e`
    // evaluated the embedding projection and norms corpus-wide before
    // deciding (r20). corpus rows ≥ e rows, so under-cap stays correct;
    // an over-cap corpus whose zero-norm rows would have squeezed `e`
    // under the cap takes the distributed path — cost-only.
    val s = corpus.sparkSession
    if (DriverCutover.fits("Dedup.cellPrune", s, CellPruneDriverRows)(corpus.count())) {
      val rows = e.select(col("vec_id").cast("long"), col("emb"), col("nrm"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
      return driverCellPrune(s, rows, threshold, rounds = kmeansIters)
    }
    // hash-selected seeds (id-distribution-robust) + COVERAGE
    // reseeding + Lloyd: random seeds alone under-cover clustered
    // corpora (coupon collector: ~C draws over k clusters leave
    // ~k·e^(-C/k) clusters seedless), and Lloyd iterations cannot fix
    // that — they only move centroids within their basins, so an
    // unseeded cluster's members permanently balloon some cell's
    // radius (measured at the 200k ScaleBench corpus: keep rate stuck
    // at 2.5% from 3 to 8 iterations). [[Similarity.coverageCentroids]]
    // plants new centroids at members farther than θ_t/2 from every
    // centroid (k-means++ style, bounded batches), after which every
    // covered member's cell radius can stay under θ_t/2. Exactness
    // NEVER depends on any of this (the triangle bound holds for any
    // centroid set); only the prune rate does — and the trade is
    // lopsided: each pass is one O(n·C·d) codegen projection, while
    // every point of excess keep-rate costs O((n/C)²) verify pairs
    // per kept cell pair.
    val cents = Similarity.coverageCentroids(e, Similarity.cellSeeds(e),
      maxAngle = thetaT / 2, rounds = kmeansIters)
    val cells = Similarity.collectCells(cents)
    val assigned = Similarity.assignCells(e, cells)
      .select(col("vec_id"), col("emb"), col("nrm"), col("cent_id"))

    def angle(cos: Column): Column =
      acos(least(lit(1.0), greatest(lit(-1.0), cos)))

    // per-cell angular radius (one extra dot per member, C-row result)
    val radii = assigned.join(broadcast(cents), Seq("cent_id"))
      .withColumn("ang",
        angle(arrayDot(col("emb"), col("cent_emb")) / (col("nrm") * col("cent_nrm"))))
      .groupBy(col("cent_id")).agg(max(col("ang")).as("radius"))

    // all C² ordered centroid pairs with pairwise angular distance.
    // The partner side is the already-collected model state embedded as
    // an array LITERAL (the assignCells / IVF-probe pattern): each of
    // the C distributed centroid rows explodes over the literal, which
    // ships once per task with the binary — so no intermediate row
    // carries the full centroid table (the previous collect_list +
    // double-explode duplicated the whole ~2 MB array on each of C rows,
    // a bounded but avoidable ~8 GB shuffle at the 4096-cell cap), and
    // the fan-out is a generator, not a join — no BroadcastNestedLoopJoin
    // for the no-nested-loop plan spec to trip on
    val cellArr = typedLit(cells.ids.indices.map(i =>
      (cells.ids(i), cells.embs(i), cells.nrms(i))))
    val cpairs = cents
      .select(col("cent_id").as("ca_id"), col("cent_emb"), col("cent_nrm"),
        explode(cellArr).as("cb"))
      .select(col("ca_id"), col("cb._1").as("cb_id"),
        angle(arrayDot(col("cent_emb"), col("cb._2")) /
          (col("cent_nrm") * col("cb._3"))).as("c_ang"))

    // triangle-inequality prune (1e-9 slack absorbs FP rounding in the
    // bound so an exactly-at-threshold pair can't be lost to the last ulp)
    val keep = cpairs
      .join(broadcast(radii.select(col("cent_id").as("ca_id"), col("radius").as("r_a"))),
        Seq("ca_id"))
      .join(broadcast(radii.select(col("cent_id").as("cb_id"), col("radius").as("r_b"))),
        Seq("cb_id"))
      .filter(col("c_ang") - col("r_a") - col("r_b") <= lit(thetaT + 1e-9))
      .select(col("ca_id"), col("cb_id").as("partner_cell"))

    CellPrune(assigned, keep, cells.ids.size)
  }

  /** Connected components over an undirected pair list (doc_a, doc_b)
    * by min-label propagation: every node repeatedly takes the
    * minimum label among itself and its neighbors until fixpoint.
    * Converges in O(graph diameter) rounds — near-dup graphs are
    * near-cliques (a dup cluster's members all pair with each other),
    * so the diameter is tiny and plain propagation beats the
    * O(log n)-round large-star/small-star scheme it would take to
    * handle long chains at 100 TB (noted; not the shape dedup emits).
    *
    * Two iteration-loop disciplines matter more than the algorithm:
    *  - `localCheckpoint` (not persist) on each round's labels —
    *    persist caches DATA but the logical plan keeps nesting, and
    *    Catalyst re-analyzes the whole accumulated tree every round
    *    (measured: 1.6 s → 9.2 s per round by iteration 4 at sf0.1
    *    with persist; flat ~1 s with checkpointed lineage). Above
    *    [[ReliableCutEdgesKey]] edges the cut upgrades to a RELIABLE
    *    checkpoint: label frames are node-sized and spill fine, but an
    *    executor-resident lineage cut dies with a lost executor, and a
    *    multi-round closure at 10¹⁰⁺ docs must not restart from
    *    scratch for one preemption (spec-asserted label-equal to the
    *    local path);
    *  - convergence is read off the LABEL SUM, which min-propagation
    *    decreases monotonically, so "sum unchanged ⟺ fixpoint" — one
    *    scan of the (checkpointed) labels instead of a diff join
    *    against the previous round. The driver sees one Long per
    *    round, never data.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame =
    ccImpl(pairs, None, maxIter)

  /** WARM-STARTED connected components: labels seed from a previous
    * run's (doc_id, group_id) output instead of each node's own id —
    * the [[Graphs.pageRankWarm]] move for the label-propagation
    * fixpoint. VALID FOR APPEND-ONLY DELTAS ONLY: when `pairs` is a
    * superset of the pair set that produced `seed` (dedup streams only
    * ADD near-dup pairs as documents arrive), every seed label is the
    * min id of an OLD component, which is a node id inside the same —
    * possibly now larger — NEW component; min-propagation over seeded
    * labels therefore converges to the min over all seed labels in the
    * component = the component's min node id = exactly the cold
    * labels (spec-asserted). The seed only changes how many rounds the
    * min needs to travel: merged clusters start pre-labeled, so the
    * warm run converges in the diameter of the DELTA's merge graph,
    * not the full cluster diameter. A seed from a pair set that LOST
    * edges breaks the subset argument — cold-start after deletions.
    * Nodes absent from the seed start at their own id; the driver
    * union-find cutover still applies below the edge cap (seed-blind
    * there — one collect beats any round count).
    */
  def connectedComponentsWarm(pairs: DataFrame, seed: DataFrame,
      maxIter: Int = 20): DataFrame =
    ccImpl(pairs, Some(seed), maxIter)

  /** Per-partition spanning forest over a (doc_a, doc_b) pair stream:
    * union-find within each partition, emitting one (node, local_root)
    * edge per non-root node — connectivity-equivalent to the input
    * (a spanning forest per partition; components that span partitions
    * reconnect through their shared nodes) but ≤ distinct-nodes-per-
    * partition rows instead of |pairs|. THE map-side contraction that
    * lets group extraction over a near-clique pair relation (dup
    * groups are near-cliques — the quadratic encoding) collapse
    * BEFORE anything shuffles: duplicate and transitively-redundant
    * pairs die inside the partition, so [[connectedComponents]]
    * downstream sees member-proportional edges, never pair-
    * proportional. Also why callers can skip a `.distinct()` on the
    * pair stream entirely — the forest absorbs duplicates for free.
    */
  private[graft] def localForest(pairs: DataFrame): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    pairs.select(col("doc_a").cast("long"), col("doc_b").cast("long"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        val uf = new UnionFind
        it.foreach { case (a, b) => uf.union(a, b) }
        uf.roots.filter(t => t._1 != t._2) // roots emit no edge (self-loops add nothing)
      }.toDF("doc_a", "doc_b")
  }

  /** Iterated [[localForest]]: contract until the edge set fits under
    * `cap` (or `maxPasses` is spent). Pass 1 runs union-find inside
    * whatever partitioning the pair stream arrives in — its output is
    * ≤ Σ per-partition distinct nodes, which for a wide stream is
    * ~nodes × partitions (every hot node appears in every partition).
    * Later passes REPARTITION the shrinking edge set by node — odd
    * passes on `doc_a` (each member's per-partition root edges meet
    * and merge), even passes on `doc_b` (each root's star collapses) —
    * so near-clique components converge to ~one edge per member in
    * 1–2 cheap extra shuffles of an already-contracted relation.
    * Motivation measured at the 100× media point: the pass-1 forest
    * was ~12M edges (over the driver cutover), pushing
    * [[connectedComponents]] into ~4 propagation rounds over a
    * 25M-row symmetric relation — ~21 s of the 50 s wall; contracted
    * under the cap, the closure is one collect + union-find.
    * Returns an UNPERSISTED-lineage DataFrame backed by a persisted
    * final level; callers should unpersist it once the closure has
    * materialized. */
  private[graft] def contractedForest(pairs: DataFrame,
      cap: Long = CcDriverPairs, maxPasses: Int = 4): DataFrame = {
    var edges = localForest(pairs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var n = edges.count()
    var pass = 1
    // [[connectedComponents]]'s driver cutover collects the input pairs
    // against the same cap, so a forest of at most `cap` edges takes
    // the one-collect path
    while (n > cap && pass < maxPasses) {
      val key = if (pass % 2 == 1) "doc_a" else "doc_b"
      val next = localForest(edges.repartition(col(key)))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val m = next.count()
      edges.unpersist()
      edges = next; n = m; pass += 1
    }
    edges
  }

  /** Distributed rounds the last [[connectedComponents]] propagation
    * took (0 = driver union-find path) — observable so the warm-start
    * saving is measurable, the `graft.pagerank.converged_at` pattern. */
  val CcRoundsProperty = "graft.cc.rounds"

  /** Edge count at/above which the iteration-cut label frames switch
    * from `localCheckpoint(true)` to a RELIABLE checkpoint (files in
    * the session's checkpoint dir). Below it, executor-resident cuts
    * are strictly faster; above it they become a fault-tolerance
    * liability — a localCheckpoint dies with a lost executor, and at
    * 10¹⁰⁺-doc corpora a multi-round closure losing one executor would
    * restart from scratch. Conf-overridable (specs pin it to 1 to
    * force the reliable path; a 1000-executor deployment should also
    * point `spark.checkpoint.dir` at durable storage — the /tmp
    * default here is a single-box convenience, and long-lived
    * sessions should enable
    * `spark.cleaner.referenceTracking.cleanCheckpoints` so per-round
    * checkpoint files are reclaimed).
    *
    * In LOCAL mode the default is "never": the executor IS the driver
    * process, so there is no executor loss the reliable cut could
    * survive that doesn't also kill the job — the file round-trip per
    * round would be pure cost (measured 3.7× on the 100× closure).
    * An explicit conf value always wins, in either direction. */
  private[graft] val ReliableCutEdgesKey = "graft.cc.reliableCutEdges"
  private val ReliableCutEdgesDefault = 1L << 27

  /** Cut lineage on an iteration frame: executor-resident below the
    * [[ReliableCutEdgesKey]] threshold, reliable checkpoint at/above
    * it. Both are EAGER — the sum/checksum convergence reads depend on
    * the frame being materialized once per round. */
  private def cutLineage(df: DataFrame, reliable: Boolean): DataFrame =
    if (!reliable) df.localCheckpoint(true)
    else {
      val sc = df.sparkSession.sparkContext
      if (sc.getCheckpointDir.isEmpty)
        sc.setCheckpointDir("/tmp/graft-checkpoints")
      // persist before the eager checkpoint: RDD checkpointing runs a
      // SEPARATE write job after the materializing action, which would
      // otherwise recompute the whole round (join + agg) from lineage
      // a second time — the cache turns the write job into a read
      val cached = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try cached.checkpoint(true) finally cached.unpersist()
    }

  private def reliableCuts(sess: SparkSession, symEdges: Long): Boolean =
    sess.conf.getOption(ReliableCutEdgesKey) match {
      case Some(v) => symEdges >= v.toLong
      case None => !sess.sparkContext.isLocal &&
        symEdges >= ReliableCutEdgesDefault
    }

  /** [[DriverCutover]] cap of connected components, in input pairs:
    * ≤ ~16 MB of driver pairs, the 2²⁰ directed edges the symmetrized
    * relation of the distributed branch would hold. */
  private val CcDriverPairs = 1L << 19

  private def ccImpl(pairs: DataFrame, seed: Option[DataFrame],
      maxIter: Int): DataFrame = {
    val sess = pairs.sparkSession
    sess.sparkContext.setLocalProperty(CcRoundsProperty, null)
    // normalize ids to long up front: the driver path reads rows with
    // getLong, and both paths should emit one group_id type regardless
    // of whether the caller's ids were int or long
    val e = pairs.select(
      col("doc_a").cast("long").as("src"), col("doc_b").cast("long").as("dst"))
    // driver cutover: below the cap a driver union-find replaces
    // O(diameter) distributed rounds; both compute the minimum node id
    // per component. The gate IS the collect (r20): dup-pair graphs sit
    // far under the cap, so an over-cap graph's bounded probe is rare —
    // the inverse of pageRank, whose graphs exceed their cap. It
    // collects the raw pairs: union-find needs neither the reverse
    // edges nor distinct ones, so only the distributed branch pays for
    // the symmetrizing union and its distinct shuffle.
    DriverCutover.collect("Dedup.connectedComponents", e, CcDriverPairs) match {
      case Some(rows) =>
        sess.sparkContext.setLocalProperty(CcRoundsProperty, "0")
        return driverUnionFindEdges(sess, rows.map(r => (r.getLong(0), r.getLong(1))))
      case None =>
    }
    val sym = e.union(e.select(col("dst"), col("src"))).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nSym = sym.count()
    val rel = reliableCuts(sess, nSym)
    val nodes = sym.select(col("src").as("node")).distinct()
    var labels = (seed match {
      case None => nodes.withColumn("label", col("node"))
      case Some(sd) =>
        // least(): under the append-only contract seed ≤ node already
        // (a group id is its component's min member); the clamp just
        // keeps a malformed seed row from ever RAISING a label above
        // the node's own id (labels must be monotone non-increasing
        // for the sum-based convergence read)
        nodes.join(
            sd.select(col("doc_id").cast("long").as("node"),
              col("group_id").cast("long").as("seed_l")),
            Seq("node"), "left")
          .select(col("node"),
            least(coalesce(col("seed_l"), col("node")), col("node")).as("label"))
    })
    labels = cutLineage(labels, rel)
    try {
      def labelSum(df: DataFrame): Long = {
        val r = df.agg(sum(col("label"))).collect()(0)
        if (r.isNullAt(0)) 0L else r.getLong(0)
      }
      var prevSum = labelSum(labels)
      var converged = labels.isEmpty // empty edge list: nothing to propagate
      var iter = 0
      while (!converged && iter < maxIter) {
        val next = sym
          .join(labels.withColumnRenamed("node", "dst_n"), col("dst") === col("dst_n"))
          .select(col("src").as("node"), col("label"))
          .union(labels)
          .groupBy(col("node")).agg(min(col("label")).as("label"))
        val nextCut = cutLineage(next, rel)
        val s = labelSum(nextCut)
        labels.unpersist()
        labels = nextCut
        converged = s == prevSum
        prevSum = s
        iter += 1
      }
      if (converged) {
        sess.sparkContext.setLocalProperty(CcRoundsProperty, iter.toString)
        labels.select(col("node").as("doc_id"), col("label").as("group_id"))
      } else {
        // chain-shaped graph: plain propagation needs O(diameter)
        // rounds, so after maxIter hand the edges to the O(log n)
        // star-contraction scheme instead of crashing — same labels
        // (component minimum), spec-asserted on a constructed chain
        labels.unpersist()
        starContract(sym, reliable = rel)
      }
    } finally sym.unpersist()
  }

  /** Alternating large-star/small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond"): converges in
    * O(log n) rounds on ANY graph shape, including the long chains
    * plain min-label propagation handles poorly. Each component
    * contracts to a star centered at its minimum id; labels read off
    * the final star edges. The fallback path for [[connectedComponents]]
    * — kept out of the common case because near-dup graphs are
    * near-cliques where one or two propagation rounds win.
    *
    * large-star: every node points its LARGER neighbors at the minimum
    * of its neighborhood (including itself); small-star: every node
    * points its smaller-or-equal neighbors (and itself) at that
    * minimum. Both preserve connectivity; alternating them strictly
    * contracts until every component is a star. Same iteration
    * disciplines as the plain loop: localCheckpoint per round, and a
    * one-row checksum (count + hash sum) to the driver for the
    * fixpoint test — never data.
    */
  private[graft] def starContract(sym: DataFrame, maxRounds: Int = 64,
      reliable: Boolean = false): DataFrame = {
    val s = sym.sparkSession
    // canonical undirected edge list, a < b, no self-loops
    var edges = cutLineage(sym.filter(col("src") < col("dst"))
      .select(col("src").as("a"), col("dst").as("b")).distinct(), reliable)

    def checksum(e: DataFrame): (Long, Long) = {
      // per-edge hashes bounded to 2^31 before the sum so ANSI mode
      // can't overflow the Long accumulator (would take ~4e9 edges)
      val r = e.agg(count(lit(1)),
        sum(pmod(xxhash64(col("a"), col("b")), lit(2147483647L)))).collect()(0)
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    def symmetrize(e: DataFrame): DataFrame =
      e.select(col("a").as("u"), col("b").as("v"))
        .union(e.select(col("b").as("u"), col("a").as("v")))

    var prev = checksum(edges)
    var converged = prev._1 == 0L
    var round = 0
    while (!converged && round < maxRounds) {
      // large-star: (u, v>u) → (m(u), v) with m(u) = min(N(u) ∪ {u});
      // m(u) ≤ u < v keeps the canonical orientation for free
      val symL = symmetrize(edges)
      val mL = symL.groupBy(col("u")).agg(min(col("v")).as("minv"))
        .select(col("u"), least(col("minv"), col("u")).as("m"))
      val large = cutLineage(symL.join(mL, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("m").as("a"), col("v").as("b"))
        .filter(col("a") =!= col("b")).distinct(), reliable)
      edges.unpersist()
      // small-star: for u with any smaller neighbor, m = min(N(u)<u);
      // attach u and every such neighbor to m
      val small = symmetrize(large).filter(col("v") < col("u"))
      val mS = small.groupBy(col("u")).agg(min(col("v")).as("m"))
      val next = cutLineage(small.join(mS, Seq("u"))
        .filter(col("v") =!= col("m"))
        .select(col("m").as("a"), col("v").as("b"))
        .union(mS.select(col("m").as("a"), col("u").as("b")))
        .distinct(), reliable)
      large.unpersist()
      val cur = checksum(next)
      edges = next
      converged = cur == prev
      prev = cur
      round += 1
    }
    require(converged, s"star contraction did not converge in $maxRounds rounds")
    // fixpoint: every component is a star (m, v) centered at its min.
    // Isolated-by-contraction can't happen (connectivity preserved),
    // but min-agg over both orientations is robust regardless.
    val nodes = sym.select(col("src").as("node")).distinct()
    val lbl = edges.select(col("b").as("node"), col("a").as("label"))
      .union(edges.select(col("a").as("node"), col("a").as("label")))
      .groupBy(col("node")).agg(min(col("label")).as("label"))
    nodes.join(lbl, Seq("node"), "left")
      .select(col("node").as("doc_id"),
        coalesce(col("label"), col("node")).as("group_id"))
  }

  /** Union-find over Long ids: parent[max-root] = min-root with path
    * halving, so every node's final root is its component's MINIMUM
    * id — exactly the fixpoint min-label propagation converges to.
    * Iterative find — no recursion depth to blow on a long
    * pre-compression chain. */
  private final class UnionFind {
    private val parent = scala.collection.mutable.Map[Long, Long]()

    def find(x0: Long): Long = {
      var x = x0
      parent.getOrElseUpdate(x, x)
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }

    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }

    /** (node, root) for every node seen. Keys are snapshotted before
      * the find sweep: path halving mutates values, and iterating the
      * live map while writing it is undefined. */
    def roots: Iterator[(Long, Long)] = parent.keys.toArray.iterator.map(n => (n, find(n)))
  }

  /** Driver-side union-find over a collected pair list (either
    * orientation, duplicates allowed). */
  private def driverUnionFindEdges(s: SparkSession,
      edges: Array[(Long, Long)]): DataFrame = {
    val uf = new UnionFind
    edges.foreach { case (a, b) => uf.union(a, b) }
    import s.implicits._
    uf.roots.toSeq.sortBy(_._1).toDF("doc_id", "group_id")
  }

  /** Near-dup GROUPS from pairwise minhash output: connected
    * components over the verified pairs, reported as one row per
    * group with its canonical (minimum) doc and size — what a
    * curation pipeline consumes ("keep group_id, drop the rest"),
    * upgrading pair output to transitive closure: A~B and B~C place
    * A, B, C in ONE group even if (A, C) was never a candidate pair.
    */
  def minhashDupGroups(s: SparkSession, dir: String,
      threshold: Double = 0.5): DataFrame =
    dupGroups(minhashPairs(s, dir, threshold))

  /** One row per connected component of `pairs`: (group_id,
    * n_members, max_doc_id), ordered by group_id. */
  private def dupGroups(pairs: DataFrame): DataFrame =
    connectedComponents(pairs)
      .groupBy(col("group_id"))
      .agg(count(lit(1)).as("n_members"), max(col("doc_id")).as("max_doc_id"))
      .orderBy(col("group_id"))

  /** Same transitive-closure grouping over the EXACT n-gram Jaccard
    * pairs ([[ngramJaccardDups]]) instead of the MinHash approximation.
    * Because the pair stage is deterministic SQL-expressible math (no
    * engine hash), the whole chain — candidate pairs, verification,
    * AND the connected-components closure — is oracle-checkable
    * against a recursive-CTE reachability query, which upgrades the
    * graph-closure operator itself from "spec-trusted" to
    * driver-verified. Same scale posture as [[minhashDupGroups]]:
    * label propagation touches only documents that appear in some dup
    * pair (a small fraction of the corpus by construction), and the
    * driver sees one convergence count per round, never data.
    */
  def ngramDupGroups(s: SparkSession, dir: String,
      threshold: Double = 0.3): DataFrame =
    dupGroups(ngramPairs(s, dir, threshold))

  /** Quality-ranked representative selection over near-dup groups —
    * the keep/drop policy layer a curation pass actually ships:
    * min-id canonicalization ([[canonicalMap]], [[Selection
    * .semanticKeep]]) keeps an ARBITRARY member, but when near-dups
    * differ (truncated copies, boilerplate-padded rehosts) the
    * representative should be the most complete one. Per exact-Jaccard
    * connected component: keep the member with the most whitespace
    * tokens, ties to the lowest doc_id (total + deterministic).
    *
    * Scale shape: the group labels come from the same CC machinery as
    * [[ngramDupGroups]]; the quality column is a narrow per-doc
    * projection joined on doc_id; the selection is ONE aggregate with
    * `max_by` over a (n_tokens, -doc_id) struct — map-side partials,
    * no window over corpus-sized groups.
    */
  def dupGroupKeepBest(s: SparkSession, dir: String,
      threshold: Double = 0.3): DataFrame = {
    val labels = connectedComponents(ngramPairs(s, dir, threshold))
    val toks = docs(s, dir).select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
    labels.join(toks, Seq("doc_id"))
      .groupBy(col("group_id"))
      .agg(count(lit(1)).as("n_members"),
        max_by(col("doc_id"), struct(col("n_tokens"), -col("doc_id"))).as("keep_id"),
        max(col("n_tokens")).as("keep_tokens"))
      .orderBy(col("group_id"))
  }

  /** Duplicate-cluster size distribution — the curation dashboard stat
    * behind a dedup run: for each cluster size, how many clusters and
    * how many documents sit in them (e.g. a heavy tail of large
    * clusters means templated content dominates the dup mass and a
    * keep-one policy reclaims the most tokens there). Metadata-scale
    * rollup over the already-computed exact group table.
    */
  def dupGroupSizes(s: SparkSession, dir: String,
      threshold: Double = 0.3): DataFrame =
    ngramDupGroups(s, dir, threshold)
      .groupBy(col("n_members"))
      .agg(count(lit(1)).as("n_groups"),
        sum(col("n_members")).as("n_docs"))
      .orderBy(col("n_members"))
}
