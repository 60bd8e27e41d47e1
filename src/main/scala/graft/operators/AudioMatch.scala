package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Audio fingerprint matching over binary media payloads — the second
  * multimodal modality next to [[Multimodal]]'s image-shaped pipeline:
  * the landmark-hash + offset-coherence-vote design of production
  * audio search (Wang 2003, "An Industrial-Strength Audio Search
  * Algorithm"), with a REAL spectral per-frame feature since r15: an
  * integer fixed-point 16-point DFT + peak-pick (see the feature
  * section below). The payload bytes themselves are still synthetic
  * ASCII "PCM" (this container has no audio codecs — the
  * [[Multimodal.DecodeStub]] contract), but every stage from samples
  * onward — spectrum, peaks, landmarks, votes — is the real algorithm.
  *
  * Pipeline:
  *  1. FRAMES: interpret the audio payload as unsigned 8-bit PCM and
  *     slice it into fixed [[FrameLen]]-sample frames (partial tail
  *     frame dropped, so every frame is full-width on both engines).
  *  2. FEATURE: one byte of spectral identity per frame — integer DFT
  *     over bins 1..[[DftBins]], packed (peak bin, runner-up bin,
  *     magnitude-ratio bucket). DC is excluded and ratios are
  *     scale-free, so the feature survives amplitude rescaling that
  *     destroyed the former byte-energy stand-in (spec-pinned).
  *  3. LANDMARKS: frame-feature pairs over a TARGET ZONE — every
  *     (f, f+dt) pair with dt ∈ [1, [[MaxDt]]] (Wang 2003 §2's anchor
  *     fan-out), hashed into an 18-bit key
  *     ((e_f · 256 + e_{f+dt}) · 4 + dt). One (track, frame, key) row
  *     per landmark. The fan-out is the robustness story: corruption
  *     heavy enough to flip a frame's SPECTRAL feature (small noise is
  *     absorbed by the peak-pick — that's the feature's own layer of
  *     robustness) kills, with dt = 1 only, every pair chain through
  *     that frame — periodic corruption (every other frame) zeroes the
  *     dt = 1 vote entirely, while dt = 2/3 pairs between surviving
  *     frames still accumulate offset-coherent votes (spec-pinned with
  *     a tone-swapped excerpt).
  *  4. INDEX + DF CAP: landmarks whose key occurs more than
  *     [[MaxKeyDf]] times corpus-wide are dropped from the index —
  *     a key shared by thousands of tracks identifies nothing and its
  *     posting list is the hot-key blowup term (the [[Dedup]] df-cut
  *     discipline, mirrored exactly in the oracle).
  *  5. MATCH: query clips probe the index by landmark key; votes are
  *     counted per (clip, track, frame-offset) and only OFFSET-
  *     COHERENT votes rank a match — a true excerpt aligns every
  *     matched landmark at one offset, while chance collisions
  *     scatter across offsets (the Shazam criterion).
  *
  * Scale shape: the landmark index is built in one corpus scan (the
  * frame fold is one codegen'd projection — no per-sample explode on
  * the Spark side); the clip probe side is tiny (clips × ~frames
  * rows) and BROADCASTS onto the index, so the index is scanned once
  * and never shuffled; vote counting shuffles only matched landmark
  * pairs (∝ collisions, df-capped), never the corpus. At 100 TB the
  * index persists once ([[IndexStore]] pattern) and each query batch
  * is a broadcast probe.
  *
  * Determinism: every quantity is integer arithmetic (byte sums, mod,
  * counts, frame offsets) with total-order tie-breaks, so the whole
  * operator is exactly DuckDB-oracle-checkable — payloads are the
  * UTF-8 bytes of ASCII document text ([[Multimodal.mediaTable]]), so
  * `ord(substring(text, i, 1))` in DuckDB reads the same byte values
  * Spark reads from the binary column.
  */
object AudioMatch {

  /** Samples per frame. 16 keeps ≥ 12 frames even for the short
    * synthetic payloads (median ~300 bytes). */
  val FrameLen = 16

  /** Target-zone width: each anchor frame f pairs with frames f+1 …
    * f+MaxDt (Wang 2003's fan-out). 3 multiplies index size by ~3 and
    * buys survival of periodic single-byte corruption that defeats a
    * dt = 1-only constellation (see the robustness spec). */
  val MaxDt = 3

  /** Clip excerpt geometry: clips start at frame [[ClipOffFrames]] of
    * their source track (frame-aligned, as a real fingerprint matcher
    * guarantees by sliding the query window) and run [[ClipFrames]]
    * frames, so the true match votes land at offset = ClipOffFrames.
    */
  val ClipOffFrames = 4
  val ClipFrames = 8

  /** Every ClipMod-th audio track contributes a query clip. */
  val ClipMod = 5

  /** Index df cap: keys with more corpus-wide landmarks than this are
    * structural noise, not identity — dropped before the probe join.
    */
  val MaxKeyDf = 200

  // ---- spectral frame feature (r15) --------------------------------
  //
  // The per-frame feature is a REAL spectral peak signature, not the
  // former byte-energy stand-in: a 16-point DFT of the frame's samples
  // in fixed-point INTEGER arithmetic (coefficients = round(1024·cos/
  // sin), magnitudes as exact integer sums — every quantity < 2⁶³ and
  // bit-identical in any engine), then Shazam-style peak-picking over
  // bins 1..8: feature = (top bin, runner-up bin, log₂-ish magnitude
  // ratio bucket) packed into one byte, (b1−1)·32 + (b2−1)·4 + r.
  //
  // Why this survives what byte-energy couldn't: bin 0 (the DC term —
  // where uniform amplitude offsets land) is EXCLUDED, and scaling
  // every sample about the PCM midpoint multiplies every bin magnitude
  // by the same factor — argmax bin, runner-up, and their RATIO are
  // all invariant, so an amplitude-rescaled or re-encoded copy keeps
  // its landmark keys (spec-pinned) while byte-energy mod 256 was
  // destroyed by any gain change. Ties break to the LOWEST bin in both
  // engines (array_position first-match == row_number m2 DESC, b ASC).

  /** DFT bins used for peak-picking: 1..DftBins of the 16-point
    * transform (bin 0 = DC excluded by design; bins above 8 mirror
    * 1..7 for real inputs). */
  val DftBins = 8
  require(FrameLen == graft.functions.AudioFeature.FrameLen &&
    DftBins == graft.functions.AudioFeature.DftBins,
    "landmark geometry must match the native feature kernel's")

  /** round(1024·cos(2πbk/16)) / round(1024·sin(2πbk/16)) for b ∈
    * [1, DftBins], k ∈ [0, FrameLen): ONE table — owned by the native
    * kernel ([[graft.functions.AudioFeature]], which the Spark-side
    * expression executes) and embedded as literals in the generated
    * oracle SQL from these same arrays — the two engines cannot drift
    * on a coefficient. (No angle lands near a .5 rounding boundary, so
    * the table is stable across JVM math implementations too.) */
  private[graft] def CRe: Array[Array[Long]] = graft.functions.AudioFeature.CRe
  private[graft] def CIm: Array[Array[Long]] = graft.functions.AudioFeature.CIm

  /** Audio-kind media rows with the payload decoded back to its ASCII
    * sample string (documents are ASCII by construction — length ==
    * octet_length — so per-char codepoints ARE the payload bytes).
    */
  private def audio(s: SparkSession, dir: String): DataFrame =
    Multimodal.mediaTable(s, dir)
      .filter(col("kind") === "audio")
      .select(col("media_id"), decode(col("content"), "UTF-8").as("pcm"))

  /** (id, pos, key) landmark relation for a PCM string column: frame
    * energies as one codegen'd fold (no per-sample explode), then
    * target-zone pair keys — for each anchor f, one landmark per dt in
    * [1, maxDt] that stays in range (the inner sequence bound
    * `least(maxDt, nF-1-f)` is ≥ 1 for every generated anchor, so no
    * descending `sequence`). Tracks shorter than two full frames have
    * no landmarks and are filtered before the sequence expressions
    * (Spark's `sequence(a, b)` with b < a would count DOWN).
    * `maxDt` parameterizes the whole chain so the robustness spec can
    * compare the dt = 1-only constellation against the fan-out on the
    * same payloads.
    */
  private def landmarks(rows: DataFrame, pcm: Column,
      idName: String, posName: String, maxDt: Int = MaxDt): DataFrame = {
    // the whole per-track feature array in ONE native kernel call
    // (graft.functions.SpectralFeatures — primitive DFT loops, a
    // single static call inside whole-stage codegen). The first cut
    // composed the DFT from SQL expressions and paid 3.4× across every
    // fingerprint-side audio query on the expression-tree overhead.
    val energies = graft.functions.VectorFunctions.spectralFeatures(pcm)
    rows.filter(length(pcm) >= 2 * FrameLen)
      .select(col(idName), energies.as("en"))
      .select(col(idName),
        explode(flatten(transform(sequence(lit(0), size(col("en")) - 2), f =>
          transform(sequence(lit(1), least(lit(maxDt), size(col("en")) - 1 - f)),
            dt => struct(f.cast("long").as(posName),
              ((element_at(col("en"), f + 1) * 256 +
                element_at(col("en"), f + dt + 1)) * 4 + dt).as("key"))))))
          .as("lm"))
      .select(col(idName), col(s"lm.$posName").as(posName), col("lm.key").as("key"))
  }

  /** The corpus landmark index: (media_id, f, key), one row per
    * target-zone frame pair per audio track. Oracle-exact.
    */
  def fingerprint(s: SparkSession, dir: String): DataFrame =
    landmarks(audio(s, dir), col("pcm"), "media_id", "f")
      .orderBy(col("media_id"), col("f"))

  /** Match every query clip against the corpus index; one row per
    * clip: the best (votes DESC, track_id ASC, offset ASC) offset-
    * coherent match. The clip's source track wins at offset
    * [[ClipOffFrames]] with a full vote unless the corpus holds a
    * byte-identical competitor.
    */
  def matchClips(s: SparkSession, dir: String): DataFrame = {
    val a = audio(s, dir)
    val idx = landmarks(a, col("pcm"), "media_id", "f")
      .withColumnRenamed("media_id", "track_id")
    val votes = matchedVotes(s, idx, clipRel(s, dir), MaxDt)
    val best = Window.partitionBy(col("clip_id"))
      .orderBy(col("votes").desc, col("track_id").asc, col("offset_frames").asc)
    votes.withColumn("rn", row_number().over(best))
      .filter(col("rn") === 1)
      .select(col("clip_id"), col("track_id"), col("offset_frames"), col("votes"))
      .orderBy(col("clip_id"))
  }

  /** One-scan vote core shared by [[matchClips]] and
    * [[allCoherentMatches]] (r20, guide §1.2): the corpus landmark
    * relation previously fed TWO actions — the df-cap keep aggregate
    * (a broadcast-exchange build) and the probe join — and exchange
    * reuse cannot collapse them, so every query ran the full spectral
    * scan twice. Here the clip landmarks collect once (the same driver
    * transit as the broadcast they already were), the corpus scan is
    * semi-joined to the clip key set and PERSISTED — bounded by
    * MATCHED postings (≤ clip keys × MaxKeyDf rows once the cap
    * filters, collision-scale, never corpus-scale) — and both the keep
    * aggregate and the vote join read that cache. The vote table
    * (coherent groups + chance collisions, ≤ matched landmarks) is cut
    * eagerly so the cache releases before the plan is returned.
    * Exactness: the semi keeps EVERY posting of a clip key, so per-key
    * dfs — and therefore the keep set restricted to keys that can
    * match at all — are identical to the full aggregate's.
    */
  private def matchedVotes(s: SparkSession, idx: DataFrame,
      clips: DataFrame, maxDt: Int): DataFrame = {
    val (votes, idxM) = matchedVotesPlan(s, idx, clips, maxDt)
    try votes.localCheckpoint(true)
    finally idxM.unpersist(false)
  }

  /** The LAZY vote plan of [[matchedVotes]] plus the cached matched
    * subset it reads — split out so the plan spec can pin the probe's
    * join strategy (all broadcast, no cartesian), which the eager
    * checkpoint in [[matchedVotes]] would otherwise hide. */
  private[graft] def matchedVotesPlan(s: SparkSession, idx: DataFrame,
      clips: DataFrame, maxDt: Int): (DataFrame, DataFrame) = {
    import s.implicits._
    val clipRows = landmarks(clips, col("cpcm"), "clip_id", "j", maxDt)
      .select(col("clip_id"), col("j"), col("key"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toIndexedSeq
    val clipLmk = clipRows.toDF("clip_id", "j", "key")
    val clipKeys = clipRows.map(_._3).distinct.toIndexedSeq.toDF("key")
    val idxM = idx.join(broadcast(clipKeys), Seq("key"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keep = idxM.groupBy(col("key")).agg(count(lit(1)).as("kdf"))
      .filter(col("kdf") <= MaxKeyDf).select(col("key"))
    val votes = idxM.join(broadcast(keep), Seq("key"))
      .join(broadcast(clipLmk), Seq("key"))
      .groupBy(col("clip_id"), col("track_id"),
        (col("f") - col("j")).as("offset_frames"))
      .agg(count(lit(1)).as("votes"))
    (votes, idxM)
  }

  /** The full coherent vote of an intact clip: one landmark per
    * (anchor, dt) pair that fits inside [[ClipFrames]] frames —
    * Σ_{dt=1..MaxDt} (ClipFrames − dt) = 18 at the default geometry. */
  val FullVote: Int = (1 to MaxDt).map(ClipFrames - _).sum

  /** Multi-match vote floor: a (clip, track, offset) needs at least
    * this many offset-coherent landmark votes to be reported by
    * [[matchClipsAll]] — half the full vote, so truncated/partial
    * copies still surface while scattered chance collisions (votes
    * 1–2 at test scale) don't. */
  val MinVotes: Int = FullVote / 2

  /** ALL coherent matches per clip (votes ≥ [[MinVotes]]) — the
    * production report shape: a catalog with duplicate tracks should
    * return EVERY copy, not the tie-break winner [[matchClips]] keeps;
    * a track whose content repeats can match one clip at several
    * offsets, and each coherent offset is its own row. Output bounded
    * by coherent matches (≥ MinVotes needs that many shared landmarks
    * at ONE offset — chance collisions scatter), never candidates.
    */
  def matchClipsAll(s: SparkSession, dir: String): DataFrame =
    allCoherentMatches(
      landmarks(audio(s, dir), col("pcm"), "media_id", "f")
        .withColumnRenamed("media_id", "track_id"),
      clipRel(s, dir))

  /** Multi-match core over in-memory relations (spec-injectable;
    * `maxDt` lets the robustness spec compare the dt = 1-only
    * constellation against the fan-out — the index passed in must use
    * the same width). */
  private[graft] def allCoherentMatches(idx: DataFrame, clips: DataFrame,
      minVotes: Int = MinVotes, maxDt: Int = MaxDt): DataFrame =
    matchedVotes(idx.sparkSession, idx, clips, maxDt)
      .filter(col("votes") >= minVotes)
      .orderBy(col("clip_id"), col("track_id"), col("offset_frames"))

  /** DuckDB restatement of [[matchClipsAll]]. */
  def matchClipsAllOracleSql: String =
    s"""WITH $lmkChainSql, keep AS (
       |  SELECT key FROM (SELECT key, count(*) AS kdf FROM lmk GROUP BY 1)
       |  WHERE kdf <= $MaxKeyDf
       |), clips AS (
       |  SELECT media_id AS clip_id,
       |         substring(text, ${ClipOffFrames * FrameLen + 1},
       |                   ${ClipFrames * FrameLen}) AS ctext
       |  FROM audio
       |  WHERE media_id % $ClipMod = 0
       |    AND length(text) >= ${(ClipOffFrames + ClipFrames) * FrameLen}
       |), csmp AS (
       |  SELECT clip_id, CAST((t.i - 1) // $FrameLen AS BIGINT) AS j,
       |         CAST((t.i - 1) % $FrameLen AS BIGINT) AS k,
       |         ord(substring(ctext, CAST(t.i AS INT), 1)) AS v
       |  FROM clips, UNNEST(range(1, ${ClipFrames * FrameLen} + 1)) AS t(i)
       |), ${featureSql("csmp", "clip_id", "j", "cen")}, clmk AS (
       |  SELECT a.clip_id, a.j, (a.e * 256 + b.e) * 4 + (b.j - a.j) AS key
       |  FROM cen a JOIN cen b ON b.clip_id = a.clip_id
       |   AND b.j - a.j BETWEEN 1 AND $MaxDt
       |)
       |SELECT c.clip_id, l.media_id AS track_id, l.f - c.j AS offset_frames,
       |       CAST(count(*) AS BIGINT) AS votes
       |FROM clmk c JOIN keep k ON k.key = c.key
       |     JOIN lmk l ON l.key = c.key
       |GROUP BY 1, 2, 3
       |HAVING count(*) >= $MinVotes
       |ORDER BY clip_id, track_id, offset_frames""".stripMargin

  /** Key-bucket width for the persisted index layout: 64 partition
    * dirs (not 262144 — one dir per key would drown the file listing at
    * metadata scale; 64 buckets × many files each keeps both the
    * listing and the pruning granularity sane). */
  val KeyBuckets = 64

  /** [[matchClips]] against a BUILD-ONCE PERSISTED landmark index —
    * the 100 TB lifecycle: fingerprint the corpus once (one scan, the
    * expensive half), then serve every query batch from the stored
    * postings. The index is keyed by corpus content fingerprint
    * ([[ArtifactCache]] discipline: stale/partial/concurrent builds
    * all handled) and laid out PARTITIONED BY key bucket
    * (`pmod(key, KeyBuckets)`), so the probe join's runtime key set
    * prunes index files via dynamic partition pruning — a clip batch
    * touching 40 distinct keys reads ≤ 40 buckets, never the whole
    * index. Results are row-identical to [[matchClips]] by
    * construction (same landmarks, same cap, same votes), so the two
    * share one oracle.
    */
  def matchClipsIndexed(s: SparkSession, dir: String): DataFrame = {
    val path = ArtifactCache.ensure(
      ArtifactCache.key("audioidx", dir, "documents.parquet")) { tmp =>
      val idx = landmarks(audio(s, dir), col("pcm"), "media_id", "f")
        .withColumnRenamed("media_id", "track_id")
      val keep = idx.groupBy(col("key")).agg(count(lit(1)).as("kdf"))
        .filter(col("kdf") <= MaxKeyDf).select(col("key"))
      idx.join(broadcast(keep), Seq("key"))
        .withColumn("kb", pmod(col("key"), lit(KeyBuckets)))
        .write.mode("overwrite").partitionBy("kb").parquet(s"$tmp/landmarks")
    }
    val idxKept = Tables.parquet(s, s"$path/landmarks")
    val clipLmk = landmarks(clipRel(s, dir), col("cpcm"), "clip_id", "j")
      .withColumn("kb", pmod(col("key"), lit(KeyBuckets)))
    // join on (key, kb): kb is the index's partition column, so the
    // broadcast clip side's key set dynamically prunes index files
    val votes = idxKept.join(broadcast(clipLmk), Seq("key", "kb"))
      .groupBy(col("clip_id"), col("track_id"),
        (col("f") - col("j")).as("offset_frames"))
      .agg(count(lit(1)).as("votes"))
    val best = Window.partitionBy(col("clip_id"))
      .orderBy(col("votes").desc, col("track_id").asc, col("offset_frames").asc)
    votes.withColumn("rn", row_number().over(best))
      .filter(col("rn") === 1)
      .select(col("clip_id"), col("track_id"), col("offset_frames"), col("votes"))
      .orderBy(col("clip_id"))
  }

  /** Query clips derived from the corpus: every ClipMod-th audio
    * track's frame-aligned excerpt. (clip_id, cpcm). */
  private def clipRel(s: SparkSession, dir: String): DataFrame =
    audio(s, dir)
      .filter(pmod(col("media_id"), lit(ClipMod)) === 0 &&
        length(col("pcm")) >= (ClipOffFrames + ClipFrames) * FrameLen)
      .select(col("media_id").as("clip_id"),
        col("pcm").substr(lit(ClipOffFrames * FrameLen + 1),
          lit(ClipFrames * FrameLen)).as("cpcm"))

  // ---- incremental index lifecycle --------------------------------
  //
  // The structural difference from the build-once index: the df cap.
  // An insert changes key document frequencies, and a key that crosses
  // the cap AFTER an insert must stop matching — but rewriting stored
  // postings on every insert would make insert cost ∝ index size. The
  // split that fixes it: postings are stored UNCAPPED (insert = pure
  // bucket append), and the cap is applied at QUERY time from a
  // metadata-scale per-key df table maintained as APPEND-ONLY partials
  // (landmark counts are algebraic, the maintainDictionary discipline
  // — no read-overwrite hazard, crash = at worst a re-appendable
  // partial). The probe aggregates ≤ key-space rows (262144) to get
  // live dfs, so an over-cap key is excluded from every later probe
  // without touching storage, and insert cost is ∝ the delta.

  /** Landmark relation of a (track_id, pcm) relation. */
  private[graft] def trackLandmarks(tracks: DataFrame,
      maxDt: Int = MaxDt): DataFrame =
    landmarks(tracks, col("pcm"), "track_id", "f", maxDt)

  /** Frame-aligned excerpt of every clip-eligible track in a
    * (track_id, pcm) relation — the ingest-time probe set (no ClipMod
    * sampling: at upload time EVERY eligible track gets checked). */
  private[graft] def trackClips(tracks: DataFrame): DataFrame =
    tracks.filter(length(col("pcm")) >= (ClipOffFrames + ClipFrames) * FrameLen)
      .select(col("track_id").as("clip_id"),
        col("pcm").substr(lit(ClipOffFrames * FrameLen + 1),
          lit(ClipFrames * FrameLen)).as("cpcm"))

  /** Create an incremental landmark index at `path` from a
    * (track_id, pcm) relation: uncapped bucket-partitioned postings +
    * the first per-key df partial. */
  private[graft] def buildIncremental(s: SparkSession, tracks: DataFrame,
      path: String): Unit = {
    val idx = trackLandmarks(tracks)
    idx.withColumn("kb", pmod(col("key"), lit(KeyBuckets)))
      .write.mode("overwrite").partitionBy("kb").parquet(s"$path/landmarks")
    idx.groupBy(col("key")).agg(count(lit(1)).as("cnt"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/keydf")
  }

  /** Fold new tracks into the index: append their landmarks to the
    * touched key buckets and append one df partial — cost ∝ delta,
    * never index size; no stored file is rewritten. */
  private[graft] def insertTracks(s: SparkSession, path: String,
      tracks: DataFrame): Unit = {
    val idx = trackLandmarks(tracks)
    idx.withColumn("kb", pmod(col("key"), lit(KeyBuckets)))
      .write.mode("append").partitionBy("kb").parquet(s"$path/landmarks")
    idx.groupBy(col("key")).agg(count(lit(1)).as("cnt"))
      .coalesce(1).write.mode("append").parquet(s"$path/keydf")
  }

  /** Phase A of [[compactKeyDf]]: sum the CURRENT df part files into a
    * hidden temp dir, then commit by writing the marker naming exactly
    * the files merged. Returns false (no-op) when ≤ 1 part file exists
    * or a previous compaction's marker is already pending (resume that
    * one instead of re-merging over a half-swapped table). Split out so
    * the crash-resume spec can stop exactly between the phases. */
  private[graft] def compactKeyDfPhaseA(s: SparkSession, path: String): Boolean = {
    val root = new java.io.File(s"$path/keydf")
    val tmp = new java.io.File(root, ".compact-tmp")
    val marker = CommitMarker(root.getPath, "compact")
    if (marker.pending) return true
    val files = keyDfParts(root)
    if (files.size <= 1) return false
    ArtifactCache.deleteRecursively(tmp)
    Tables.parquet(s, files.map(_.getPath): _*)
      .groupBy(col("key")).agg(sum(col("cnt")).as("cnt"))
      .coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
    // the marker records the EXACT inputs merged into the temp dir:
    // phase B may strip only these — a partial appended by an insert
    // racing the compaction is absent from the merge and must survive.
    // A truncated list (a crash mid-write) would make resume delete
    // only a prefix while the temp holds ALL inputs' counts —
    // double-counted dfs push keys over MaxKeyDf and silently drop
    // matches — hence the atomic commit
    marker.commit(files.map(_.getName))
    true
  }

  private def keyDfParts(root: java.io.File): Seq[java.io.File] =
    Option(root.listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))

  /** Compact the append-only per-key df partials at `path/keydf` into
    * one merged partial. [[insertTracks]] appends one partial file per
    * insert forever — correct (the probe sums partials) but after
    * thousands of daily inserts the ≤ 262144-row logical table is
    * thousands of physical files and every probe pays per-file open
    * cost. Probe-identical by algebra: sum over the merged partial ==
    * sum over the originals.
    *
    * The [[CommitMarker]] protocol over a flat parquet dir:
    *  - phase A ([[compactKeyDfPhaseA]]): merged counts → hidden temp,
    *    then a commit marker listing exactly the merged inputs;
    *  - phase B, re-runnable from the marker alone: delete exactly the
    *    listed files, adopt the temp parts under fresh names, drop the
    *    marker.
    * Re-running after a crash at ANY point resumes to the identical
    * end state (spec-simulated at both phase boundaries). While the
    * marker exists the table is MID-SWAP — the merged counts live only
    * in the hidden temp dir, which readers don't see — so
    * [[matchAgainst]] refuses to probe until the compaction is re-run
    * to completion (probing half-swapped partials would undercount
    * every df and let over-cap keys match again). Concurrent INSERTS
    * are safe in both phases: their partials are not in the marker's
    * list and survive untouched. Local-FS contract, like the rest of
    * the incremental lifecycle.
    */
  def compactKeyDf(s: SparkSession, path: String): Unit = {
    if (!compactKeyDfPhaseA(s, path)) return
    val root = new java.io.File(s"$path/keydf")
    val marker = CommitMarker(root.getPath, "compact")
    val merged = marker.read().all.toSet
    keyDfParts(root).filter(f => merged.contains(f.getName)).foreach(_.delete())
    CommitMarker.adopt(new java.io.File(root, ".compact-tmp"), root, "compacted-")
    marker.clear()
  }

  /** The probe core over in-memory relations: landmark postings, raw
    * df partials (summed here — ≤ 262144 live rows), and a
    * (clip_id, cpcm) clip set. Shared by [[matchAgainst]] and the
    * streaming-ingest replay spec. */
  private[graft] def probeIndex(idx: DataFrame, dfPartials: DataFrame,
      clips: DataFrame): DataFrame = {
    val keep = dfPartials
      .groupBy(col("key")).agg(sum(col("cnt")).as("kdf"))
      .filter(col("kdf") <= MaxKeyDf).select(col("key"))
    val clipLmk = landmarks(clips, col("cpcm"), "clip_id", "j")
      .withColumn("kb", pmod(col("key"), lit(KeyBuckets)))
    val votes = idx
      .join(broadcast(keep), Seq("key"))
      .join(broadcast(clipLmk), Seq("key", "kb"))
      .groupBy(col("clip_id"), col("track_id"),
        (col("f") - col("j")).as("offset_frames"))
      .agg(count(lit(1)).as("votes"))
    val best = Window.partitionBy(col("clip_id"))
      .orderBy(col("votes").desc, col("track_id").asc, col("offset_frames").asc)
    votes.withColumn("rn", row_number().over(best))
      .filter(col("rn") === 1)
      .select(col("clip_id"), col("track_id"), col("offset_frames"), col("votes"))
      .orderBy(col("clip_id"))
  }

  /** Probe an incremental index with a (clip_id, cpcm) relation. The
    * live df table (partials summed — ≤ 262144 rows) applies the cap at
    * query time; the capped keep set and the clip landmarks both
    * broadcast, and the bucket key in the join prunes index files via
    * DPP exactly as in [[matchClipsIndexed]]. Works on both flat and
    * per-batch-staged layouts (extra partition columns are ignored by
    * the column-explicit probe).
    *
    * EMPTY-INDEX GUARD: a partitioned write of ZERO landmark rows
    * (degenerate corpus; a streaming ingest whose first batch has no
    * landmark-eligible tracks) creates a dir with only `_SUCCESS` — no
    * parquet footer anywhere, so a naive read dies on schema
    * inference. An index with no postings matches nothing: return the
    * empty verdict relation directly.
    *
    * LOCAL-FS CONTRACT: this guard (and the compaction/exactly-once
    * markers across the incremental lifecycle, incl.
    * [[graft.streaming.EventStream.streamingAudioIngest]]'s) walk
    * `java.io.File`, so `path` must live on the driver-local default
    * filesystem. On HDFS/S3 the walk sees nothing and every probe
    * would silently return empty verdicts — port the guards to the
    * Hadoop `FileSystem` API resolved from `s` before pointing `path`
    * at a remote store. */
  private[graft] def matchAgainst(s: SparkSession, path: String,
      clips: DataFrame): DataFrame = {
    // mid-swap guard: between compactKeyDf's commit marker and the
    // final adoption the merged df counts live only in the hidden temp
    // dir — probing would undercount every key's df and re-admit
    // over-cap keys; tombstone compaction and consolidation likewise
    CommitMarker.requireSettled(path, "landmarks")
    if (!ArtifactCache.hasVisibleParquet(new java.io.File(s"$path/landmarks")))
      clips.select(col("clip_id"), lit(0L).as("track_id"),
        lit(0L).as("offset_frames"), lit(0L).as("votes")).limit(0)
    else {
      val stored = Tables.parquet(s, s"$path/landmarks")
        .select(col("track_id"), col("f"), col("key"), col("kb"))
      // a taken-down track must stop matching IMMEDIATELY: the
      // tombstone set anti-joins the postings (bounded by the delete
      // rate between compactions, so it broadcasts). The df partials
      // keep counting the tombstoned landmarks until [[MediaIndexOps
      // .compact]] appends the negative reconciliation — strictly
      // conservative (df only over-counts; no over-cap key can wrongly
      // match), the documented staleness window of the whole family.
      val live = MediaIndexOps.tombstones(s, path, "track_id")
        .fold(stored)(d => stored.join(broadcast(d), Seq("track_id"), "left_anti"))
      probeIndex(live,
        Tables.parquet(s, s"$path/keydf").select(col("key"), col("cnt")),
        clips)
    }
  }

  /** Driver-contract lifecycle query: build the incremental index from
    * the even-id half of the audio corpus, INSERT the odd-id half,
    * then probe with the standard clips. Row-identical to
    * [[matchClips]] over the full corpus by the uncapped-storage +
    * query-time-cap design (sum of df partials = full-corpus df), so
    * it shares the oracle. The artifact is published whole
    * (build+insert inside one [[ArtifactCache.ensure]]), keeping
    * repeat calls idempotent; the insert path's crash/equivalence
    * semantics are spec-pinned separately.
    */
  def matchClipsIncremental(s: SparkSession, dir: String): DataFrame = {
    val path = ArtifactCache.ensure(
      ArtifactCache.key("audioincr", dir, "documents.parquet")) { tmp =>
      val tracks = audio(s, dir)
        .select(col("media_id").as("track_id"), col("pcm"))
      buildIncremental(s, tracks.filter(col("track_id") % 2 === 0), tmp)
      insertTracks(s, tmp, tracks.filter(col("track_id") % 2 === 1))
    }
    matchAgainst(s, path, clipRel(s, dir))
  }

  /** Victim selector for the takedown lifecycle query: every audio
    * track with `media_id % 9 == 4` (audio ids are ≡ 1 mod 3, and
    * 4 ≡ 1 mod 3, so the set is non-empty — one third of the audio
    * tracks, spread across both build generations and including some
    * clip SOURCES, whose clips keep probing like any other query). */
  val TakedownMod = 9
  val TakedownRem = 4

  /** Driver-contract takedown query — `q_audio_match_takedown`: the
    * build+insert incremental lifecycle, then [[MediaIndexOps.delete]]
    * + [[MediaIndexOps.compact]] of the [[TakedownMod]] victims (the
    * ContentID modality where DMCA takedown is most literal), then the
    * standard clip probe. After compaction the stored postings AND the
    * summed df partials both equal a from-scratch rebuild over the
    * remaining tracks (negative-partials reconciliation), so the
    * oracle is [[matchClipsOracleSql]] with the victim predicate
    * pushed into the INDEX side only — clips still come from the full
    * corpus (a victim's clip is a query, not index content; it now
    * matches some surviving track or nothing). Build-once artifact;
    * repeat calls probe the persisted post-takedown index. */
  def matchClipsTakedown(s: SparkSession, dir: String): DataFrame = {
    val path = ArtifactCache.ensure(
      ArtifactCache.key("audiodel", dir, "documents.parquet")) { tmp =>
      val tracks = audio(s, dir)
        .select(col("media_id").as("track_id"), col("pcm"))
      buildIncremental(s, tracks.filter(col("track_id") % 2 === 0), tmp)
      insertTracks(s, tmp, tracks.filter(col("track_id") % 2 === 1))
      MediaIndexOps.delete(s, tmp,
        tracks.filter(pmod(col("track_id"), lit(TakedownMod)) === TakedownRem)
          .select(col("track_id")), "track_id")
      MediaIndexOps.compact(s, tmp, "landmarks", "track_id")
    }
    matchAgainst(s, path, clipRel(s, dir))
  }

  /** DuckDB restatement of [[matchClipsTakedown]]: [[matchClipsOracleSql]]
    * with the victims removed from the index side (postings and df cap
    * both — the post-compaction state), clips unchanged. */
  def matchClipsTakedownOracleSql: String =
    s"""WITH $lmkChainSql, lmk_live AS (
       |  SELECT * FROM lmk WHERE media_id % $TakedownMod <> $TakedownRem
       |), keep AS (
       |  SELECT key FROM (SELECT key, count(*) AS kdf FROM lmk_live GROUP BY 1)
       |  WHERE kdf <= $MaxKeyDf
       |), clips AS (
       |  SELECT media_id AS clip_id,
       |         substring(text, ${ClipOffFrames * FrameLen + 1},
       |                   ${ClipFrames * FrameLen}) AS ctext
       |  FROM audio
       |  WHERE media_id % $ClipMod = 0
       |    AND length(text) >= ${(ClipOffFrames + ClipFrames) * FrameLen}
       |), csmp AS (
       |  SELECT clip_id, CAST((t.i - 1) // $FrameLen AS BIGINT) AS j,
       |         CAST((t.i - 1) % $FrameLen AS BIGINT) AS k,
       |         ord(substring(ctext, CAST(t.i AS INT), 1)) AS v
       |  FROM clips, UNNEST(range(1, ${ClipFrames * FrameLen} + 1)) AS t(i)
       |), ${featureSql("csmp", "clip_id", "j", "cen")}, clmk AS (
       |  SELECT a.clip_id, a.j, (a.e * 256 + b.e) * 4 + (b.j - a.j) AS key
       |  FROM cen a JOIN cen b ON b.clip_id = a.clip_id
       |   AND b.j - a.j BETWEEN 1 AND $MaxDt
       |), votes AS (
       |  SELECT c.clip_id, l.media_id AS track_id, l.f - c.j AS offset_frames,
       |         CAST(count(*) AS BIGINT) AS votes
       |  FROM clmk c JOIN keep k ON k.key = c.key
       |       JOIN lmk_live l ON l.key = c.key
       |  GROUP BY 1, 2, 3
       |), best AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY clip_id ORDER BY votes DESC, track_id, offset_frames) AS rn
       |  FROM votes
       |)
       |SELECT clip_id, track_id, offset_frames, votes FROM best
       |WHERE rn = 1 ORDER BY clip_id""".stripMargin

  /** The DFT coefficient table as literal VALUES — emitted from the
    * SAME [[CRe]]/[[CIm]] arrays the Spark expression uses. */
  private def coefSql: String = {
    val rows = for (b <- 1 to DftBins; k <- 0 until FrameLen)
      yield s"($b,$k,${CRe(b - 1)(k)},${CIm(b - 1)(k)})"
    s"""coef AS (
       |  SELECT * FROM (VALUES ${rows.mkString(",")}) t(b, k, cre, cim)
       |)""".stripMargin
  }

  /** Spectral feature chain from a per-sample CTE `$src(id, pos, k, v)`
    * to `$out(id, pos, e)` — the SQL restatement of [[featureOf]]:
    * integer bin magnitudes via the coef join, peak/runner-up by
    * `row_number(m2 DESC, b ASC)` (== the Spark side's first-match
    * array_position tie-break), the same ratio buckets. */
  private def featureSql(src: String, id: String, pos: String,
      out: String): String =
    s"""${out}_rk AS (
       |  SELECT $id, $pos, b, re * re + im * im AS m2,
       |         row_number() OVER (PARTITION BY $id, $pos
       |           ORDER BY re * re + im * im DESC, b ASC) AS rn
       |  FROM (SELECT $id, $pos, c.b,
       |               SUM(v * c.cre) AS re, SUM(v * c.cim) AS im
       |        FROM $src JOIN coef c ON c.k = $src.k GROUP BY 1, 2, 3)
       |), $out AS (
       |  SELECT p1.$id, p1.$pos,
       |         CAST((p1.b - 1) * 32 + (p2.b - 1) * 4
       |           + (CASE WHEN p1.m2 >= 2 * p2.m2 THEN 1 ELSE 0 END)
       |           + (CASE WHEN p1.m2 >= 4 * p2.m2 THEN 1 ELSE 0 END)
       |           + (CASE WHEN p1.m2 >= 8 * p2.m2 THEN 1 ELSE 0 END) AS BIGINT) AS e
       |  FROM ${out}_rk p1 JOIN ${out}_rk p2
       |    ON p2.$id = p1.$id AND p2.$pos = p1.$pos
       |  WHERE p1.rn = 1 AND p2.rn = 2
       |)""".stripMargin

  /** Shared oracle CTE chain: per-byte unnest → spectral frame
    * features → landmark keys, for tracks and clips. The per-byte
    * unnest is the oracle's restatement (DuckDB has no codegen fold to
    * mirror); byte values come from `ord` over the ASCII text exactly
    * as the Spark side's `ascii` over the decoded payload.
    */
  private def lmkChainSql: String =
    s"""audio AS (
       |  SELECT doc_id AS media_id, text FROM documents WHERE doc_id % 3 = 1
       |), $coefSql, smp AS (
       |  SELECT media_id, CAST((t.i - 1) // $FrameLen AS BIGINT) AS f,
       |         CAST((t.i - 1) % $FrameLen AS BIGINT) AS k,
       |         ord(substring(text, CAST(t.i AS INT), 1)) AS v
       |  FROM audio, UNNEST(range(1, (length(text) // $FrameLen) * $FrameLen + 1)) AS t(i)
       |  WHERE length(text) >= ${2 * FrameLen}
       |), ${featureSql("smp", "media_id", "f", "en")}, lmk AS (
       |  SELECT a.media_id, a.f, (a.e * 256 + b.e) * 4 + (b.f - a.f) AS key
       |  FROM en a JOIN en b ON b.media_id = a.media_id
       |   AND b.f - a.f BETWEEN 1 AND $MaxDt
       |)""".stripMargin

  /** DuckDB restatement of [[fingerprint]]. */
  def fingerprintOracleSql: String =
    s"""WITH $lmkChainSql
       |SELECT media_id, f, key FROM lmk ORDER BY media_id, f""".stripMargin

  /** DuckDB restatement of [[matchClips]] — same clip geometry, df
    * cap, vote count and tie-breaks. */
  def matchClipsOracleSql: String =
    s"""WITH $lmkChainSql, keep AS (
       |  SELECT key FROM (SELECT key, count(*) AS kdf FROM lmk GROUP BY 1)
       |  WHERE kdf <= $MaxKeyDf
       |), clips AS (
       |  SELECT media_id AS clip_id,
       |         substring(text, ${ClipOffFrames * FrameLen + 1},
       |                   ${ClipFrames * FrameLen}) AS ctext
       |  FROM audio
       |  WHERE media_id % $ClipMod = 0
       |    AND length(text) >= ${(ClipOffFrames + ClipFrames) * FrameLen}
       |), csmp AS (
       |  SELECT clip_id, CAST((t.i - 1) // $FrameLen AS BIGINT) AS j,
       |         CAST((t.i - 1) % $FrameLen AS BIGINT) AS k,
       |         ord(substring(ctext, CAST(t.i AS INT), 1)) AS v
       |  FROM clips, UNNEST(range(1, ${ClipFrames * FrameLen} + 1)) AS t(i)
       |), ${featureSql("csmp", "clip_id", "j", "cen")}, clmk AS (
       |  SELECT a.clip_id, a.j, (a.e * 256 + b.e) * 4 + (b.j - a.j) AS key
       |  FROM cen a JOIN cen b ON b.clip_id = a.clip_id
       |   AND b.j - a.j BETWEEN 1 AND $MaxDt
       |), votes AS (
       |  SELECT c.clip_id, l.media_id AS track_id, l.f - c.j AS offset_frames,
       |         CAST(count(*) AS BIGINT) AS votes
       |  FROM clmk c JOIN keep k ON k.key = c.key
       |       JOIN lmk l ON l.key = c.key
       |  GROUP BY 1, 2, 3
       |), best AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY clip_id ORDER BY votes DESC, track_id, offset_frames) AS rn
       |  FROM votes
       |)
       |SELECT clip_id, track_id, offset_frames, votes FROM best
       |WHERE rn = 1 ORDER BY clip_id""".stripMargin
}
