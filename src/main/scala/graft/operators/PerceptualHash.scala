package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{ImageHash, VectorFunctions}

/** Image perceptual near-duplicates: 56-bit dHash
  * ([[graft.functions.ImageHash]] — gradient-sign fingerprint,
  * brightness-invariant by construction) matched under a Hamming
  * radius via EXACT pigeonhole blocking — the image-modality member of
  * the near-dup family next to text MinHash/SimHash and the audio
  * landmark index.
  *
  * Blocking (the [[Dedup]] SimHash discipline): the 56-bit hash splits
  * into [[Chunks]] 14-bit chunks; two hashes within Hamming distance
  * [[MaxHamming]] = Chunks − 1 differ in at most Chunks − 1 bits, so
  * at least ONE chunk is untouched — blocking on chunk equality is
  * provably no-miss (spec: blocked pairs == brute-force Hamming ≤ 3
  * pairs, recall 1.0). Work is ∝ chunk-bucket collisions, never
  * corpus²; a chunk value shared by more than [[MaxChunkDf]] images is
  * structural boilerplate (e.g. the all-zero gradient of blank media)
  * and is dropped from blocking exactly like every other df cap in the
  * family — mirrored in the oracle, which recomputes the same cap.
  *
  * Determinism: pixel sums, comparisons, bit packing, XOR popcounts —
  * all exact integers, so BOTH queries are fully DuckDB-oracled
  * (`q_image_phash` value-exact per image, `q_image_neardups`
  * pair-and-distance exact). At 100 TB the hash is a narrow
  * per-payload projection (one kernel call per row, no shuffle) and
  * the pair join shuffles only (chunk, hash) rows — the same posture
  * as SimHash, which measured 1.7×/decade on the scale curve.
  */
object PerceptualHash {

  val MaxHamming = 3
  val Chunks = 4 // pigeonhole: ≤ 3 flipped bits leave ≥ 1 of 4 chunks intact
  val ChunkBits: Int = ImageHash.HashBits / Chunks // 14
  val MaxChunkDf = 200

  /** dHash projection of an arbitrary (media_id, content) image set —
    * the per-batch hashing leg of the streaming ingest path. */
  private[graft] def imageHashes(s: SparkSession, images: DataFrame): DataFrame = {
    images.filter(length(col("content")) > 0)
      .select(col("media_id"), VectorFunctions.dhash56(col("content")).as("phash"))
  }

  /** Image-kind media with their dHash — `q_image_phash`. */
  def imagePhash(s: SparkSession, dir: String): DataFrame =
    imageHashes(s, Multimodal.mediaTable(s, dir).filter(col("kind") === "image"))
      .orderBy(col("media_id"))

  /** Near-duplicate image pairs (Hamming ≤ maxHamming over dHash) —
    * `q_image_neardups`. Exact via pigeonhole blocking. */
  def imageNearDups(s: SparkSession, dir: String,
      maxHamming: Int = MaxHamming): DataFrame = {
    require(maxHamming < Chunks,
      s"pigeonhole exactness needs maxHamming < $Chunks chunks")
    val h = imagePhash(s, dir)
    // 4 (chunk_id, chunk_val) rows per image; blocking joins on chunk
    // equality, df-capped per chunk bucket
    val chunks = h.select(col("media_id"), col("phash"),
      explode(expr(s"transform(sequence(0, ${Chunks - 1}), " +
        s"i -> struct(i as cid, (phash div CAST(pow(2, i * $ChunkBits) AS BIGINT))" +
        s" % ${1 << ChunkBits} as cv))")).as("c"))
      .select(col("media_id"), col("phash"),
        col("c.cid").as("cid"), col("c.cv").as("cv"))
    val keep = chunks.groupBy(col("cid"), col("cv"))
      .agg(count(lit(1)).as("cdf"))
      .filter(col("cdf") <= MaxChunkDf)
      .select(col("cid"), col("cv"))
    val kept = chunks.join(broadcast(keep), Seq("cid", "cv"))
    val a = kept.select(col("cid"), col("cv"),
      col("media_id").as("media_a"), col("phash").as("ha"))
    val b = kept.select(col("cid"), col("cv"),
      col("media_id").as("media_b"), col("phash").as("hb"))
    a.join(b, Seq("cid", "cv"))
      .filter(col("media_a") < col("media_b"))
      .select(col("media_a"), col("media_b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .orderBy(col("media_a"), col("media_b"))
  }

  // ---- incremental image chunk index --------------------------------
  //
  // The audio incremental-lifecycle discipline for the image blocking
  // state: chunk postings are stored UNCAPPED and bucket-partitioned
  // (image ingest = pure bucket append, no stored file rewritten), and
  // the MaxChunkDf cap is applied at QUERY time from an append-only
  // per-chunk df partial table — a chunk bucket that crosses the cap
  // AFTER an insert stops blocking without touching storage
  // (cap-crossing EVICTION, spec-pinned), and a rebuilt-from-scratch
  // index answers identically (summed partials = full-corpus chunk
  // df). Unlike the video/audio key domains, (cid, cv) lives in
  // Chunks × 2^ChunkBits ≤ 65536 values, so the live keep set is
  // BOUNDED and always broadcasts — the audio 18-bit posture. The df
  // partials share the audio (key, cnt) layout, so
  // [[AudioMatch.compactKeyDf]] applies to image index paths verbatim.

  /** Combined chunk key: cid · 2^ChunkBits + cv — one equality column
    * where the ad-hoc blocking joins on (cid, cv). ≤ 65536 values. */
  private def ck: Column = (col("cid") * (1 << ChunkBits) + col("cv")).as("key")

  /** Chunk-posting relation of an (media_id, phash) image set: one row
    * per (image, chunk), keyed and bucket-partitioned. */
  private def imagePostings(images: DataFrame): DataFrame =
    images.select(col("media_id"), col("phash"),
      explode(expr(s"transform(sequence(0, ${Chunks - 1}), " +
        s"i -> struct(i as cid, (phash div CAST(pow(2, i * $ChunkBits) AS BIGINT))" +
        s" % ${1 << ChunkBits} as cv))")).as("c"))
      .select(col("media_id"), col("phash"),
        col("c.cid").as("cid"), col("c.cv").as("cv"))
      .select(col("media_id"), col("phash"), ck)
      .withColumn("kb", pmod(col("key"), lit(FrameKeyBuckets)))

  /** Create the incremental chunk index at `path` from an
    * (media_id, phash) relation: uncapped bucket-partitioned postings
    * + the first per-chunk df partial. */
  private[graft] def buildImageIndex(s: SparkSession, images: DataFrame,
      path: String): Unit = {
    val p = imagePostings(images)
    p.write.mode("overwrite").partitionBy("kb").parquet(s"$path/chunks")
    p.select(col("key")).groupBy(col("key")).agg(count(lit(1)).as("cnt"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/keydf")
  }

  /** Fold new images into the index: append their chunk postings and
    * one df partial — cost ∝ delta, never index size. */
  private[graft] def insertImages(s: SparkSession, path: String,
      images: DataFrame): Unit = {
    val p = imagePostings(images)
    p.write.mode("append").partitionBy("kb").parquet(s"$path/chunks")
    p.select(col("key")).groupBy(col("key")).agg(count(lit(1)).as("cnt"))
      .coalesce(1).write.mode("append").parquet(s"$path/keydf")
  }

  /** The FULL near-dup pair set over every indexed image, served from
    * the persisted chunk postings under the query-time df cap —
    * row-identical to [[imageNearDups]] over the same image set. */
  private[graft] def imageNearDupsAgainst(s: SparkSession, path: String,
      maxHamming: Int = MaxHamming): DataFrame = {
    require(maxHamming < Chunks,
      s"pigeonhole exactness needs maxHamming < $Chunks chunks")
    CommitMarker.requireSettled(path, "chunks")
    // live chunk dfs from the append-only partials: ≤ 65536 rows by
    // the key domain — bounded model state, always broadcastable.
    // Tombstoned images still count toward the df until compaction —
    // strictly conservative (see [[MediaIndexOps]]).
    val keep = Tables.parquet(s, s"$path/keydf")
      .groupBy(col("key")).agg(sum(col("cnt")).as("cdf"))
      .filter(col("cdf") <= MaxChunkDf).select(col("key"))
    val stored = Tables.parquet(s, s"$path/chunks")
    // tombstoned images must not pair on either side; the set is
    // bounded by the delete rate between compactions, so it broadcasts
    val live = MediaIndexOps.tombstones(s, path, "media_id")
      .fold(stored)(d => stored.join(broadcast(d), Seq("media_id"), "left_anti"))
    val kept = live
      .join(broadcast(keep), Seq("key"))
    val a = kept.select(col("key"), col("media_id").as("media_a"),
      col("phash").as("ha"))
    val b = kept.select(col("key"), col("media_id").as("media_b"),
      col("phash").as("hb"))
    a.join(b, Seq("key"))
      .filter(col("media_a") < col("media_b"))
      .select(col("media_a"), col("media_b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .orderBy(col("media_a"), col("media_b"))
  }

  /** Probe the chunk index with a BATCH of hashed images
    * (media_id, phash) — upload-time ContentID for the image modality:
    * every indexed image within `maxHamming` of a batch image, as
    * (media_id = batch image, match_id = indexed image, hamming).
    * Strictly-earlier semantics live at the CALLER: the batch's own
    * postings are staged after the probe. Per-query cost ∝ batch +
    * matched postings: the under-cap keep set is bounded by the
    * 16-bit chunk-key domain (always broadcasts), the batch's keyed
    * postings broadcast onto the stored-posting scan under the
    * (key, kb) join when the batch is small
    * ([[Multimodal.BroadcastMediaBudget]] gate on the batch's OWN
    * size), and tombstoned images are anti-joined out exactly as in
    * [[imageNearDupsAgainst]]. Same mid-compaction and empty-index
    * guards as [[matchAgainstVideo]]. */
  private[graft] def probeImages(s: SparkSession, path: String,
      images: DataFrame, maxHamming: Int = MaxHamming,
      imageCount: Option[Long] = None): DataFrame = {
    require(maxHamming < Chunks,
      s"pigeonhole exactness needs maxHamming < $Chunks chunks")
    CommitMarker.requireSettled(path, "chunks")
    if (!ArtifactCache.hasVisibleParquet(new java.io.File(s"$path/chunks")))
      return images.select(col("media_id"), lit(0L).as("match_id"),
        lit(0L).as("hamming")).limit(0)
    val keep = Tables.parquet(s, s"$path/keydf")
      .groupBy(col("key")).agg(sum(col("cnt")).as("cdf"))
      .filter(col("cdf") <= MaxChunkDf).select(col("key"))
    // the broadcast gate needs the batch's OWN size; a caller that
    // already counted (the streaming ingest counts its persisted hash
    // frame once per micro-batch) passes it in — a dedicated count
    // action per probe on the streaming hot path is one Spark job too
    // many (the video path gates on a persisted sample's clip count
    // for the same reason)
    val batchOk =
      imageCount.getOrElse(images.count()) <= Multimodal.BroadcastMediaBudget
    def side(df: DataFrame) = if (batchOk) broadcast(df) else df
    val probe = imagePostings(images)
      .join(broadcast(keep), Seq("key"))
      .select(col("media_id").as("probe_id"), col("phash").as("hp"),
        col("key"), col("kb"))
    val stored = Tables.parquet(s, s"$path/chunks")
    val live = MediaIndexOps.tombstones(s, path, "media_id")
      .fold(stored)(d => stored.join(broadcast(d), Seq("media_id"), "left_anti"))
    live.select(col("key"), col("kb"),
        col("media_id").as("match_id"), col("phash").as("hs"))
      .join(side(probe), Seq("key", "kb"))
      .select(col("probe_id").as("media_id"), col("match_id"),
        bit_count(col("hs").bitwiseXOR(col("hp"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .orderBy(col("media_id"), col("match_id"))
  }

  /** Stage one streaming batch's chunk postings + df partial under
    * `_SUCCESS`-guarded `batch=` dirs — the audio landmark staging
    * layout: replays become idempotent dir writes instead of blind
    * appends, and the readers see the accumulated layout unchanged
    * (`batch=` surfaces as an ignored partition column). */
  private[graft] def stageImageBatch(s: SparkSession, path: String,
      images: DataFrame, batchId: Long): Unit = {
    val bC = s"$path/chunks/batch=$batchId"
    val bD = s"$path/keydf/batch=$batchId"
    if (!new java.io.File(s"$bC/_SUCCESS").exists())
      imagePostings(images)
        .write.mode("overwrite").partitionBy("kb").parquet(bC)
    if (!new java.io.File(s"$bD/_SUCCESS").exists())
      imagePostings(images).groupBy(col("key")).agg(count(lit(1)).as("cnt"))
        .coalesce(1).write.mode("overwrite").parquet(bD)
  }

  /** Driver-contract lifecycle query — `q_image_neardups_indexed`:
    * build the chunk index from the even-id half of the image corpus,
    * INSERT the odd-id half, report the pair set. Row-identical to
    * [[imageNearDups]] (shares its oracle): uncapped stored postings +
    * query-time cap over summed partials = the one-shot chunk-df
    * semantics exactly. */
  def imageNearDupsIndexed(s: SparkSession, dir: String): DataFrame = {
    val path = ArtifactCache.ensure(
      ArtifactCache.key("imageidx", dir, "documents.parquet")) { tmp =>
      val h = imagePhash(s, dir)
      buildImageIndex(s, h.filter(col("media_id") % 2 === 0), tmp)
      insertImages(s, tmp, h.filter(col("media_id") % 2 === 1))
    }
    imageNearDupsAgainst(s, path)
  }

  // ---- video excerpt matching (frame-hash constellation) -----------

  /** Frames per video for the match relation (a real pipeline samples
    * decoded frames; here [[Multimodal.frameSample]]'s contiguous
    * chunks stand in behind the same decode-stub contract). */
  val VideoFrames = 12

  /** Excerpt geometry: clips are frames [[VClipOff]] … VClipOff +
    * [[VClipLen]] − 1 of every [[VClipMod]]-th video. */
  val VClipOff = 3
  val VClipLen = 6
  val VClipMod = 5

  /** A frame dHash shared by more than this many frames corpus-wide
    * identifies nothing (blank-ish frames) — dropped from matching,
    * the audio MaxKeyDf discipline. */
  val MaxFrameDf = 200

  /** Frame-row budget above which the video matcher's corpus-derived
    * relations stop broadcasting and degrade to shuffle joins. Unlike
    * the audio analog — whose 18-bit key domain bounds the keep set at
    * 262144 rows — a frame-dHash keep set lives in a 56-bit domain and
    * grows ∝ corpus frames, and the default derived clip batch grows
    * with the corpus too; broadcasting either unconditionally is a
    * driver OOM at the claimed scale posture (the
    * [[Multimodal.BroadcastMediaBudget]] discipline). */
  val BroadcastFrameBudget = 1000000L

  /** Video-kind media rows. */
  private def videoMedia(s: SparkSession, dir: String): DataFrame =
    Multimodal.mediaTable(s, dir).filter(col("kind") === "video")

  /** Frame-hash relation (video_id, f, fh) of an arbitrary video set —
    * [[VideoFrames]] sampled frames per video, each hashed by the
    * native dHash kernel: one narrow flatMap + kernel projection, no
    * shuffle. The per-batch hashing leg of the streaming ingest. */
  private[graft] def framesOf(s: SparkSession, videos: DataFrame): DataFrame = {
    framesOfSampled(Multimodal.frameSample(s, videos, VideoFrames))
  }

  /** Projection of an ALREADY-SAMPLED frame relation — split out so a
    * caller holding one frameSample pass (the streaming ingest) can
    * derive both the index frames and the probe clips from a single
    * decode instead of re-sampling the media per derivation. */
  private[graft] def framesOfSampled(fs: DataFrame): DataFrame =
    fs.select(col("media_id").as("video_id"),
      col("frame_idx").cast("long").as("f"),
      VectorFunctions.dhash56(col("frame")).as("fh"))

  /** Corpus frame-hash relation — [[framesOf]] over the dir's
    * video-kind media. */
  private[graft] def videoFrames(s: SparkSession, dir: String): DataFrame =
    framesOf(s, videoMedia(s, dir))

  /** Probe clips of an ARRIVING video batch — the ingest question "is
    * this content already in the catalog?": the standard excerpt
    * geometry ([[VClipOff]]…+[[VClipLen]]−1) cut from EVERY batch
    * video (no [[VClipMod]] subsampling — every upload is checked),
    * clip_id = the uploading video's id. */
  private[graft] def ingestClips(s: SparkSession, videos: DataFrame): DataFrame =
    ingestClipsSampled(Multimodal.frameSample(s, videos, VideoFrames))

  /** [[ingestClips]] over an already-sampled frame relation (see
    * [[framesOfSampled]]). */
  private[graft] def ingestClipsSampled(fs: DataFrame): DataFrame =
    fs.filter(col("frame_idx").between(VClipOff, VClipOff + VClipLen - 1))
      .select(col("media_id").as("clip_id"),
        (col("frame_idx").cast("long") - VClipOff).as("j"), col("frame"))

  /** The default probe batch, derived from the corpus itself (the
    * [[VClipMod]] geometry): RAW frame payloads, (clip_id, j, frame) —
    * the same contract an external caller's clip batch carries, so the
    * matcher hashes clip frames itself and a re-encoded/re-brightened
    * excerpt probes exactly like a corpus-derived one (spec-pinned). */
  private[graft] def derivedClips(s: SparkSession, dir: String): DataFrame =
    Multimodal.frameSample(s, videoMedia(s, dir), VideoFrames)
      .filter(pmod(col("media_id"), lit(VClipMod)) === 0 &&
        col("frame_idx").between(VClipOff, VClipOff + VClipLen - 1))
      .select(col("media_id").as("clip_id"),
        (col("frame_idx").cast("long") - VClipOff).as("j"), col("frame"))

  /** Hash a (clip_id, j, frame) batch into probe landmarks. */
  private[graft] def clipLandmarks(s: SparkSession, clips: DataFrame): DataFrame = {
    clips.select(col("clip_id"), col("j"),
      VectorFunctions.dhash56(col("frame")).as("fh"))
  }

  /** Best offset-coherent match per clip from a vote relation —
    * (votes DESC, video ASC, offset ASC), the Shazam tie-break. */
  private def bestPerClip(votes: DataFrame): DataFrame = {
    val best = org.apache.spark.sql.expressions.Window.partitionBy(col("clip_id"))
      .orderBy(col("votes").desc, col("video_id").asc, col("offset_frames").asc)
    votes.withColumn("rn", row_number().over(best))
      .filter(col("rn") === 1)
      .select(col("clip_id"), col("video_id"), col("offset_frames"), col("votes"))
      .orderBy(col("clip_id"))
  }

  /** Video near-duplicate excerpt matching — the third modality on the
    * offset-coherent vote design ([[AudioMatch]]'s Shazam criterion
    * replayed for video): per-frame dHashes are the landmark keys, a
    * clip's frames probe the corpus frame table, votes count per
    * (clip, video, frame-offset), and only offset-coherent votes rank
    * a match — a true excerpt aligns every matched frame at ONE
    * offset. Exact oracle: frame chunking, dHash, df cap, votes and
    * the (votes DESC, video ASC, offset ASC) tie-break are all integer
    * arithmetic. Scale shape: frames ∝ corpus (narrow flatMap), probe
    * and keep relations broadcast only under [[BroadcastFrameBudget]]
    * (shuffle joins past it), vote counting shuffles only matched
    * frame pairs — df-capped, never corpus².
    */
  def videoMatches(s: SparkSession, dir: String): DataFrame = {
    // the derived batch is ≤ nVideos/VClipMod clips × VClipLen frames,
    // so the corpus row count bounds the clip side too — an upper
    // bound is all a broadcast-SAFETY gate needs, and it spares the
    // default path a counting job over the frame sample
    val nVideos = videoMedia(s, dir).count()
    videoMatchesCore(s, dir, derivedClips(s, dir), nVideos,
      clipRowBound = nVideos * VClipLen)
  }

  /** [[videoMatches]] against a CALLER-SUPPLIED clip batch
    * (clip_id, j, frame) — the [[AudioMatch.matchClips]] contract: a
    * deployment matches ARRIVING clips against the corpus, not a set
    * the operator derives itself. The default overload passes the
    * derived batch, so the existing oracle pins this path too. */
  def videoMatches(s: SparkSession, dir: String, clips: DataFrame): DataFrame =
    videoMatchesCore(s, dir, clips, videoMedia(s, dir).count(), clips.count())

  /** Shared matcher core. The two broadcast decisions are gated on the
    * row count of THEIR OWN side ([[Multimodal.BroadcastMediaBudget]]
    * discipline): the keep set grows with corpus frames, the probe
    * landmarks with the clip batch — a large EXTERNAL batch probed
    * against a small corpus must not be broadcast just because the
    * corpus is small (that is exactly the driver-OOM case the budget
    * exists for, and [[matchAgainstVideo]] already gates this way),
    * while a small batch against a huge corpus still broadcasts its
    * landmarks onto the shuffle-joined frame table. */
  private def videoMatchesCore(s: SparkSession, dir: String, clips: DataFrame,
      nVideos: Long, clipRowBound: Long): DataFrame = {
    val corpusOk = nVideos * VideoFrames <= BroadcastFrameBudget
    val clipsOk = clipRowBound <= BroadcastFrameBudget
    def corpusSide(df: DataFrame) = if (corpusOk) broadcast(df) else df
    def clipSide(df: DataFrame) = if (clipsOk) broadcast(df) else df
    val frames = videoFrames(s, dir)
    val keep = frames.groupBy(col("fh")).agg(count(lit(1)).as("fdf"))
      .filter(col("fdf") <= MaxFrameDf).select(col("fh"))
    val idx = frames.join(corpusSide(keep), Seq("fh"))
    val clipLmk = clipLandmarks(s, clips)
    val votes = idx.join(clipSide(clipLmk), Seq("fh"))
      .groupBy(col("clip_id"), col("video_id"),
        (col("f") - col("j")).as("offset_frames"))
      .agg(count(lit(1)).as("votes"))
    bestPerClip(votes)
  }

  // ---- persisted + incremental video frame index -------------------
  //
  // The audio incremental-lifecycle discipline (AudioMatch.scala),
  // replayed for the frame table: postings are stored UNCAPPED and
  // bucket-partitioned (insert = pure bucket append, no stored file
  // rewritten), and the frame-df cap is applied at QUERY time from an
  // append-only per-key df partial table — so a key that crosses
  // MaxFrameDf after an insert stops matching without touching
  // storage, and a probe batch reads only the key buckets its clips
  // hash into (DPP prune). The ONE structural difference from audio:
  // the key domain is 56-bit, so the df table is corpus-proportional,
  // and the probe therefore restricts the df lookup to ITS OWN key set
  // first (broadcast of clip keys — query-sized) instead of
  // broadcasting a corpus-sized keep set. Column names match audio's
  // layout ((key, cnt) partials) so [[AudioMatch.compactKeyDf]] — the
  // crash-safe two-phase partial merge — applies to video index paths
  // verbatim.

  /** Key-bucket width of the persisted frame index (the audio
    * [[AudioMatch.KeyBuckets]] rationale). */
  val FrameKeyBuckets = 64

  private def postings(frames: DataFrame): DataFrame =
    frames.select(col("video_id"), col("f"), col("fh").as("key"))
      .withColumn("kb", pmod(col("key"), lit(FrameKeyBuckets)))

  /** Create the incremental frame index at `path`: uncapped
    * bucket-partitioned postings + the first per-key df partial. */
  private[graft] def buildVideoIndex(s: SparkSession, frames: DataFrame,
      path: String): Unit = {
    postings(frames)
      .write.mode("overwrite").partitionBy("kb").parquet(s"$path/frames")
    frames.select(col("fh").as("key")).groupBy(col("key"))
      .agg(count(lit(1)).as("cnt"))
      .coalesce(1).write.mode("overwrite").parquet(s"$path/keydf")
  }

  /** Fold new videos' frames into the index: append postings under the
    * touched key buckets + one df partial — cost ∝ delta, never index
    * size; no stored file rewritten. */
  private[graft] def insertVideoFrames(s: SparkSession, path: String,
      frames: DataFrame): Unit = {
    postings(frames)
      .write.mode("append").partitionBy("kb").parquet(s"$path/frames")
    frames.select(col("fh").as("key")).groupBy(col("key"))
      .agg(count(lit(1)).as("cnt"))
      .coalesce(1).write.mode("append").parquet(s"$path/keydf")
  }

  /** Stage one streaming batch's frame postings + df partial under
    * `_SUCCESS`-guarded `batch=` dirs (the [[stageImageBatch]] /
    * audio-landmark staging layout): idempotent replay instead of
    * blind appends; [[matchAgainstVideo]] reads the accumulated
    * layout unchanged. */
  private[graft] def stageVideoBatch(s: SparkSession, path: String,
      frames: DataFrame, batchId: Long): Unit = {
    val bF = s"$path/frames/batch=$batchId"
    val bD = s"$path/keydf/batch=$batchId"
    if (!new java.io.File(s"$bF/_SUCCESS").exists())
      postings(frames).write.mode("overwrite").partitionBy("kb").parquet(bF)
    if (!new java.io.File(s"$bD/_SUCCESS").exists())
      frames.select(col("fh").as("key")).groupBy(col("key"))
        .agg(count(lit(1)).as("cnt"))
        .coalesce(1).write.mode("overwrite").parquet(bD)
  }

  /** Probe the persisted index with a (clip_id, j, frame) batch.
    * Per-query cost is ∝ the clip batch: the df lookup joins the
    * partials to the BROADCAST clip key set before summing (≤ clip
    * keys rows — never the corpus-proportional key table), the capped
    * probe broadcasts onto the postings scan, and the bucket column in
    * the join keys lets DPP prune index files (plan-spec'd). Batches
    * past [[BroadcastFrameBudget]] degrade both sides to shuffle
    * joins. Mid-compaction keydf state refuses to probe, and an empty
    * index matches nothing — both the [[AudioMatch.matchAgainst]]
    * guards, local-FS contract included. */
  private[graft] def matchAgainstVideo(s: SparkSession, path: String,
      clips: DataFrame): DataFrame = {
    CommitMarker.requireSettled(path, "frames")
    if (!ArtifactCache.hasVisibleParquet(new java.io.File(s"$path/frames")))
      return clips.select(col("clip_id"), lit(0L).as("video_id"),
        lit(0L).as("offset_frames"), lit(0L).as("votes")).limit(0)
    val clipLmk = clipLandmarks(s, clips)
      .withColumn("kb", pmod(col("fh"), lit(FrameKeyBuckets)))
    val broadcastOk = clips.count() <= BroadcastFrameBudget
    def side(df: DataFrame) = if (broadcastOk) broadcast(df) else df
    val liveDf = Tables.parquet(s, s"$path/keydf")
      .join(side(clipLmk.select(col("fh").as("key")).distinct()), Seq("key"))
      .groupBy(col("key")).agg(sum(col("cnt")).as("kdf"))
    val keep = liveDf.filter(col("kdf") <= MaxFrameDf)
      .select(col("key").as("fh"))
    // both query-sized: clip landmarks ∩ under-cap keys
    val probe = clipLmk.join(keep, Seq("fh"))
      .select(col("clip_id"), col("j"), col("fh").as("key"), col("kb"))
    val stored = Tables.parquet(s, s"$path/frames")
    // tombstoned videos must not surface as match targets (their df
    // contribution stays until compaction — strictly conservative, see
    // [[MediaIndexOps]]); bounded by the delete rate, so it broadcasts
    val liveFrames = MediaIndexOps.tombstones(s, path, "video_id")
      .fold(stored)(d => stored.join(broadcast(d), Seq("video_id"), "left_anti"))
    val votes = liveFrames
      .join(side(probe), Seq("key", "kb"))
      .groupBy(col("clip_id"), col("video_id"),
        (col("f") - col("j")).as("offset_frames"))
      .agg(count(lit(1)).as("votes"))
    bestPerClip(votes)
  }

  /** Driver-contract lifecycle query — `q_video_matches_indexed`:
    * build the frame index from the even-id half of the video corpus,
    * INSERT the odd-id half, probe with the standard derived clips.
    * Row-identical to [[videoMatches]] by the uncapped-storage +
    * query-time-cap design (summed df partials = full-corpus frame
    * df), so it shares the oracle. Published whole (build + insert
    * inside one [[ArtifactCache.ensure]]) for idempotent repeats; the
    * rebuild-equivalence and DPP plan contracts are spec-pinned. */
  def videoMatchesIndexed(s: SparkSession, dir: String): DataFrame = {
    val path = ArtifactCache.ensure(
      ArtifactCache.key("videoidx", dir, "documents.parquet")) { tmp =>
      val frames = videoFrames(s, dir)
      buildVideoIndex(s, frames.filter(col("video_id") % 2 === 0), tmp)
      insertVideoFrames(s, tmp, frames.filter(col("video_id") % 2 === 1))
    }
    matchAgainstVideo(s, path, derivedClips(s, dir))
  }

  /** DuckDB restatement of [[videoMatches]]: frame chunk boundaries
    * (size = ⌈len/12⌉, last frame short), per-frame dHash over the
    * frame's OWN balanced cells, df cap, offset-coherent votes, same
    * tie-break. */
  def videoMatchesOracleSql: String = {
    val bits = (0 until ImageHash.HashBits).map { b =>
      val i = (b / 8) * ImageHash.RowCells + (b % 8)
      s"(CASE WHEN px[${i + 1}] > px[${i + 2}] THEN ${1L << b} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH videos AS (
       |  SELECT doc_id AS media_id, text,
       |         GREATEST(CAST(ceil(length(text) / $VideoFrames.0) AS INT), 1) AS fsz
       |  FROM documents WHERE doc_id % 3 = 2 AND length(text) > 0
       |), fbytes AS (
       |  SELECT media_id, CAST((t.i - 1) // fsz AS BIGINT) AS f,
       |         (t.i - 1) % fsz AS jf,
       |         LEAST(fsz, length(text) - ((t.i - 1) // fsz) * fsz) AS flen,
       |         ord(substring(text, CAST(t.i AS INT), 1)) AS v
       |  FROM videos, UNNEST(range(1, length(text) + 1)) AS t(i)
       |), px0 AS (
       |  SELECT media_id, f, CAST((jf * ${ImageHash.Cells}) // flen AS INT) AS cell,
       |         CAST(sum(v) AS BIGINT) AS s
       |  FROM fbytes GROUP BY 1, 2, 3
       |), pxd AS (
       |  SELECT fr.media_id, fr.f, CAST(g.gi AS INT) AS cell, coalesce(p.s, 0) AS s
       |  FROM (SELECT DISTINCT media_id, f FROM px0) fr
       |  CROSS JOIN UNNEST(range(0, ${ImageHash.Cells})) AS g(gi)
       |  LEFT JOIN px0 p ON p.media_id = fr.media_id AND p.f = fr.f AND p.cell = g.gi
       |), frames AS (
       |  SELECT media_id AS video_id, f,
       |         CAST($bits AS BIGINT) AS fh
       |  FROM (SELECT media_id, f, list(s ORDER BY cell) AS px
       |        FROM pxd GROUP BY 1, 2)
       |), keep AS (
       |  SELECT fh FROM (SELECT fh, count(*) AS fdf FROM frames GROUP BY 1)
       |  WHERE fdf <= $MaxFrameDf
       |), idx AS (
       |  SELECT fr.* FROM frames fr JOIN keep k ON k.fh = fr.fh
       |), clips AS (
       |  SELECT video_id AS clip_id, f - $VClipOff AS j, fh
       |  FROM frames
       |  WHERE video_id % $VClipMod = 0
       |    AND f BETWEEN $VClipOff AND ${VClipOff + VClipLen - 1}
       |), votes AS (
       |  SELECT c.clip_id, i.video_id, i.f - c.j AS offset_frames,
       |         CAST(count(*) AS BIGINT) AS votes
       |  FROM clips c JOIN idx i ON i.fh = c.fh
       |  GROUP BY 1, 2, 3
       |), best AS (
       |  SELECT *, row_number() OVER (PARTITION BY clip_id
       |    ORDER BY votes DESC, video_id ASC, offset_frames ASC) AS rn
       |  FROM votes
       |)
       |SELECT clip_id, video_id, offset_frames, votes FROM best
       |WHERE rn = 1 ORDER BY clip_id""".stripMargin
  }

  /** DuckDB restatement of [[imagePhash]]: per-byte unnest → balanced
    * 63-cell sums → adjacent-comparison bits packed into a BIGINT.
    * Byte values via `ord` over the ASCII text, exactly as the Spark
    * kernel reads the encoded payload bytes. */
  def imagePhashOracleSql: String =
    s"""WITH $phashChainSql
       |SELECT media_id, phash FROM ph ORDER BY media_id""".stripMargin

  /** DuckDB restatement of [[imageNearDups]]: the same chunk df cap
    * over the same 14-bit chunks, then brute pair verification —
    * pigeonhole blocking is an EXECUTION strategy, so the oracle can
    * verify pairs directly as long as it reproduces the cap's drops. */
  def imageNearDupsOracleSql: String =
    s"""WITH $phashChainSql, chunks AS (
       |  SELECT media_id, phash, t.i AS cid,
       |         (phash // CAST(pow(2, t.i * $ChunkBits) AS BIGINT)) % ${1 << ChunkBits} AS cv
       |  FROM ph, UNNEST(range(0, $Chunks)) AS t(i)
       |), keep AS (
       |  SELECT cid, cv FROM (
       |    SELECT cid, cv, count(*) AS cdf FROM chunks GROUP BY 1, 2)
       |  WHERE cdf <= $MaxChunkDf
       |), kept AS (
       |  SELECT c.* FROM chunks c JOIN keep k ON k.cid = c.cid AND k.cv = c.cv
       |)
       |SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b,
       |       CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
       |FROM kept a JOIN kept b ON b.cid = a.cid AND b.cv = a.cv
       | AND a.media_id < b.media_id
       |WHERE bit_count(xor(a.phash, b.phash)) <= $MaxHamming
       |ORDER BY media_a, media_b""".stripMargin

  /** Shared oracle CTE: text bytes → 63 balanced cell sums → dHash. */
  private def phashChainSql: String = {
    val bits = (0 until ImageHash.HashBits).map { b =>
      val i = (b / 8) * ImageHash.RowCells + (b % 8)
      s"(CASE WHEN px[${i + 1}] > px[${i + 2}] THEN ${1L << b} ELSE 0 END)"
    }.mkString(" + ")
    s"""images AS (
       |  SELECT doc_id AS media_id, text FROM documents
       |  WHERE doc_id % 3 = 0 AND length(text) > 0
       |), bytes AS (
       |  SELECT media_id, CAST(((t.i - 1) * ${ImageHash.Cells}) // length(text) AS INT) AS cell,
       |         ord(substring(text, CAST(t.i AS INT), 1)) AS v
       |  FROM images, UNNEST(range(1, length(text) + 1)) AS t(i)
       |), px0 AS (
       |  SELECT media_id, cell, CAST(sum(v) AS BIGINT) AS s
       |  FROM bytes GROUP BY 1, 2
       |), pxd AS (
       |  -- dense 63-slot grid: cells a short payload never touches
       |  -- stay 0, exactly like the kernel's zeroed array
       |  SELECT i.media_id, CAST(g.gi AS INT) AS cell, coalesce(p.s, 0) AS s
       |  FROM images i
       |  CROSS JOIN UNNEST(range(0, ${ImageHash.Cells})) AS g(gi)
       |  LEFT JOIN px0 p ON p.media_id = i.media_id AND p.cell = g.gi
       |), pxl AS (
       |  SELECT media_id, list(s ORDER BY cell) AS px
       |  FROM pxd GROUP BY media_id
       |), ph AS (
       |  SELECT media_id, CAST($bits AS BIGINT) AS phash FROM pxl
       |)""".stripMargin
  }
}
