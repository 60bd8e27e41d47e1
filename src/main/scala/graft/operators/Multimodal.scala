package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Multimodal-column plumbing: image/audio/video payloads as opaque
  * `binary` columns with typed metadata, plus the decode /
  * feature-extract / frame-sample operators a training-data pipeline
  * runs over them.
  *
  * The container has no image/audio codecs, so the *decode* step is a
  * clearly-marked deterministic stand-in ([[DecodeStub]]); everything
  * Spark-side — schema, typed Dataset row shape, per-partition
  * batching (codec init amortized per partition, the same shape a
  * Pandas-UDF/`mapInPandas` batch has in PySpark), partitioning and
  * the downstream joins — is real and tested.
  *
  * Scale posture: binary payloads ride in the row; operators are
  * narrow per-partition maps (no shuffle) until an explicit aggregate;
  * feature vectors re-enter the relational world as `array<double>`
  * and plug straight into [[Similarity]]'s codegen'd dot product.
  */
object Multimodal {

  /** A media row: payload + declared kind. */
  case class MediaRow(media_id: Long, kind: String, content: Array[Byte])

  /** Media count above which the exact companion's histogram lookups
    * stop broadcasting (64 doubles/row ≈ 530 B → ~530 MB per side at
    * the budget) and verify through plain equi-joins instead. Measured
    * at the 100× ScaleBench point (500k media): broadcast 62 s vs
    * join-fallback 76 s — the broadcast is the better plan as long as
    * the driver survives it, so the budget is a driver-survival bound,
    * not a perf knob. */
  val BroadcastMediaBudget = 1000000L

  /** [[DriverCutover]] cap of [[verifiedPairs]]' `hvLocal` regime, in
    * media rows: below it the histogram table collects instead of
    * double-broadcasting. The collect materializes BOXED vectors on the
    * driver (~64 boxed doubles/row on top of the built broadcast
    * relations), so while the row payload fits far beyond this, GC
    * pressure does not —
    * measured at the 100× ScaleBench point (500k media):
    * media_dup_groups +50% with the collect vs +15% ambient drift on
    * the untouched exact query in the same window. 64k rows keeps the
    * boxed transient in the tens of MB. */
  private val HvLocalRowCap = 1L << 16

  /** On-disk corpus size below which [[mediaNearDupsExact]] skips its
    * count gate outright: a window relation derived from this little
    * data aggregates without spilling, so the gate could only add
    * cost. Metadata-only decision (file lengths, no scan). */
  val GateBytes: Long = 200L * 1024 * 1024

  /** Survivor-row fraction above which the count gate's semi filter is
    * NOT planned: a dup-dense corpus keeps nearly every window row
    * (measured 0.98 on the ScaleBench replica corpus), and a semi that
    * drops nothing is pure overhead. */
  val GateKeepFraction = 0.5

  private def corpusBytes(dir: String): Long = {
    val f = new java.io.File(s"$dir/documents.parquet")
    val parts = if (f.isDirectory) Option(f.listFiles()).toSeq.flatten else Seq(f)
    parts.filter(p => p.isFile).map(_.length).sum
  }

  /** Gate-measurement cache: (total window rows, rows with df ≥ 2) per
    * corpus content fingerprint — the ANALYZE-statistics discipline.
    * The adaptive gate's survivor-fraction measurement is a CORPUS
    * property, not a query property, and the counting pass that
    * produces it is a full window aggregation (measured ~21 s of the
    * ~50 s wall at the 100× ScaleBench point, on a corpus where the
    * decision then plans NO filter). A deployment profiles a corpus
    * once per generation exactly like it trains an IVF grid once —
    * so the measurement persists keyed by [[ArtifactCache.fingerprint]]
    * and every later query on the same bytes reads two longs instead
    * of re-aggregating 48M windows. The DECISION (semi or not) is
    * recomputed from the cached numbers against the caller's
    * keepFraction, so knob-forcing specs stay exact; either decision
    * is row-identical by construction (spec-pinned). In-JVM memo on
    * top so repeat queries skip even the file read.
    */
  private val gateStats =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

  private def gateMeasurement(s: SparkSession, dir: String,
      wins: DataFrame): (Long, Long) = {
    val key = ArtifactCache.key("mediagate", dir, "documents.parquet")
    // plain get / putIfAbsent, NOT computeIfAbsent: the miss path runs
    // a full Spark aggregation (~seconds), which must not execute while
    // holding a ConcurrentHashMap bin lock. A racing duplicate compute
    // is harmless — both arrive at the same numbers and ensure() is
    // idempotent under its own publish lock.
    val cached = gateStats.get(key)
    if (cached != null) return cached
    val m = if (ArtifactCache.isDone(key)) {
      val parts = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$key/stats")), "UTF-8").trim.split(",")
      (parts(0).toLong, parts(1).toLong)
    } else {
      val winCounts = wins.select(col("win")).groupBy(col("win"))
        .agg(count(lit(1)).as("wcnt"))
      // coalesce: sum() over ZERO rows is null, and an empty window
      // relation (empty/filtered media table under a forced gate) is
      // a reachable state — getLong on it would NPE
      val st = winCounts.agg(
        coalesce(sum(col("wcnt")), lit(0L)).as("total"),
        coalesce(sum(when(col("wcnt") >= 2, col("wcnt")).otherwise(0L)),
          lit(0L)).as("kept"))
        .head()
      val v = (st.getLong(0), st.getLong(1))
      ArtifactCache.ensure(key) { tmp =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(tmp))
        java.nio.file.Files.write(java.nio.file.Paths.get(s"$tmp/stats"),
          s"${v._1},${v._2}".getBytes("UTF-8"))
      }
      v
    }
    gateStats.putIfAbsent(key, m)
    m
  }

  /** Typed metadata extracted by "decoding" the payload. */
  case class MediaMeta(media_id: Long, kind: String, n_bytes: Long,
      checksum: Long, width: Int, height: Int)

  /** Deterministic stand-in for real codecs (libjpeg/ffmpeg absent in
    * this container). Derives pseudo-dimensions from payload bytes so
    * tests are reproducible. Swap this object for real decoders on a
    * cluster with codec libraries installed — call sites are unchanged.
    */
  object DecodeStub {
    def dims(content: Array[Byte]): (Int, Int) = {
      val h = checksum(content)
      (64 + math.abs(h % 1920).toInt, 64 + math.abs((h >> 16) % 1080).toInt)
    }
    def checksum(content: Array[Byte]): Long = {
      var s = 1125899906842597L
      var i = 0
      while (i < content.length) { s = 31 * s + content(i); i += 1 }
      s
    }
  }

  /** Deterministic media table synthesized from `documents` (text bytes
    * as payload, kind cycled by id) — the fixture for the binary
    * pipeline since the driver testdata has no binary table.
    */
  def mediaTable(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents").select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      encode(col("text"), "UTF-8").as("content"))

  /** Decode metadata per payload. `mapPartitions` so a real codec
    * would be initialized once per partition, not once per row — the
    * batch shape that matters when decode setup is expensive.
    */
  def extractMeta(s: SparkSession, media: DataFrame): Dataset[MediaMeta] = {
    import s.implicits._
    media.as[MediaRow].mapPartitions { rows =>
      // per-partition "codec init" happens here in a real deployment
      rows.map { r =>
        val (w, h) = DecodeStub.dims(r.content)
        MediaMeta(r.media_id, r.kind, r.content.length.toLong,
          DecodeStub.checksum(r.content), w, h)
      }
    }
  }

  /** Fixed-size frame sampling: split the payload into up to `n`
    * contiguous chunks (stand-in for video frame extraction). One
    * output row per frame, no shuffle.
    */
  def frameSample(s: SparkSession, media: DataFrame, n: Int = 4): DataFrame = {
    import s.implicits._
    media.as[MediaRow].flatMap { r =>
      val size = math.max(1, math.ceil(r.content.length.toDouble / n).toInt)
      r.content.grouped(size).zipWithIndex.map { case (chunk, i) =>
        (r.media_id, i, chunk.length.toLong, chunk)
      }
    }.toDF("media_id", "frame_idx", "frame_bytes", "frame")
  }

  /** Feature extraction: 64-bin byte histogram, L1-normalized — a real
    * (if simple) content feature; output plugs into Similarity/Dedup
    * as `array<double>`.
    */
  def byteHistogram(s: SparkSession, media: DataFrame): DataFrame = {
    import s.implicits._
    media.as[MediaRow].map { r =>
      val hist = new Array[Double](64)
      var i = 0
      while (i < r.content.length) { hist((r.content(i) & 0xFF) >> 2) += 1.0; i += 1 }
      val total = math.max(1.0, r.content.length.toDouble)
      (r.media_id, hist.map(_ / total).toSeq)
    }.toDF("media_id", "features")
  }

  /** Oracle-checked metadata summary (byte-level facts DuckDB can
    * recompute: payload size, frame count/bytes at chunk size n=4).
    */
  def mediaMetaSummary(s: SparkSession, dir: String): DataFrame = {
    val meta = extractMeta(s, mediaTable(s, dir)).toDF()
    val frames = frameSample(s, mediaTable(s, dir))
      .groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_frames"), sum(col("frame_bytes")).as("frame_bytes"))
    // left join + coalesce: a zero-byte payload yields no frame rows,
    // but its media row must still appear (n_frames = 0)
    meta.join(frames, Seq("media_id"), "left")
      .select(col("media_id"), col("kind"), col("n_bytes"),
        coalesce(col("n_frames"), lit(0L)).as("n_frames"),
        coalesce(col("frame_bytes"), lit(0L)).as("frame_bytes"))
      .orderBy(col("media_id"))
  }

  /** Shift-invariant binary fingerprints: hash a 16-byte window at
    * stride-4 positions and keep only hashes ≡ 0 (mod 32) — the
    * LBFS/rsync content-defined-anchor trick. Identical content
    * produces identical anchors REGARDLESS of byte offset, so
    * insertions/deletions elsewhere in the payload don't shift the
    * fingerprint set (fixed-offset chunking would).
    */
  def binaryAnchors(media: DataFrame): DataFrame = {
    val positions = sequence(lit(1), greatest(length(col("content")) - 15, lit(1)), lit(4))
    val hashes = transform(positions, p => xxhash64(col("content").substr(p, lit(16))))
    media.select(col("media_id").as("doc_id"),
        explode(filter(hashes, h => pmod(h, lit(32)) === 0)).as("sh"))
      .distinct()
  }

  /** Near-duplicate media, subquadratic: content-defined anchor
    * fingerprints → MinHash signatures → LSH band join (the same
    * [[Dedup]] machinery text uses) → candidate pairs verified by
    * byte-histogram cosine through the codegen'd dot product. Work is
    * proportional to colliding candidates, never all pairs — the only
    * shape that survives a 100 TB media corpus.
    */
  /** Byte histogram as a DENSE 64-bin exact integer count vector (one
    * row per payload, counts carried as doubles — every count, squared
    * count, and 64-term sum is an exact integer far below 2⁵³, so
    * double arithmetic over these vectors IS integer arithmetic).
    * Narrow per-partition map, no shuffle. The dense-vector form keeps
    * the verification join of [[mediaNearDupsExact]] pair-keyed: the
    * first cut joined per (media, bin) ROW and exploded every candidate
    * pair ×~60 bins through two shuffle joins — measured 37× per 10×
    * at the sf1 battery (the exact super-linear cliff the bench gate
    * exists to catch); with one vector row per media the joins carry
    * |pairs| rows and the dot is one codegen loop.
    */
  private[graft] def byteHistVec(s: SparkSession, media: DataFrame): DataFrame = {
    import s.implicits._
    media.as[MediaRow].map { r =>
      val hist = new Array[Double](64)
      var i = 0
      while (i < r.content.length) { hist((r.content(i) & 0xFF) >> 2) += 1.0; i += 1 }
      (r.media_id, hist.toSeq)
    }.toDF("media_id", "hvec")
  }

  /** EXACT companion of [[mediaNearDups]] — the auditable restatement
    * the sketch entries pair with (`q_heavy_hitters_exact` pattern).
    * Differences from the scaled pipeline, both in the direction of
    * removing engine-private state:
    *  - candidates are pairs sharing ANY stride-4 16-byte window (the
    *    UNSAMPLED anchor relation — [[binaryAnchors]] keeps the ≡ 0
    *    mod 32 hash sample of exactly these windows, then MinHash/LSH
    *    approximates the overlap; here the raw window BYTES are the
    *    join key, so no engine hash appears anywhere);
    *  - verification cosine is computed from INTEGER byte-histogram
    *    counts as dot / (sqrt(na2)·sqrt(nb2)) — all three inputs exact
    *    integers < 2⁵³, so the divide/sqrt sequence is bit-identical
    *    in any IEEE engine and a DuckDB oracle reproduces it hash-for-
    *    hash (normalization cancels out of cosine, so this equals
    *    [[byteHistogram]]'s L1-normalized form mathematically).
    * Cost is ∝ shared-window pairs (312k at sf0.1) — quadratic only in
    * per-window df, not corpus size, but UNSAMPLED: at 100 TB you run
    * [[mediaNearDups]] and audit a slice with this, same contract as
    * the text dedup family.
    */
  def mediaNearDupsExact(s: SparkSession, dir: String,
      threshold: Double = 0.99, maxDf: Int = 64): DataFrame =
    mediaNearDupsExactGated(s, dir, threshold, maxDf, GateBytes, GateKeepFraction)

  /** [[mediaNearDupsExact]] with the gate-decision knobs exposed —
    * specs force each regime deterministically (gateBytes = 0 engages
    * the counting pass on any corpus; keepFraction > 1 forces the semi
    * whenever the pass ran). */
  private[graft] def mediaNearDupsExactGated(s: SparkSession, dir: String,
      threshold: Double, maxDf: Int, gateBytes: Long,
      keepFraction: Double): DataFrame = {
    val (media, cand, nMedia) = candidateStream(s, dir, maxDf, gateBytes, keepFraction)
    // the PAIR report dedupes candidates before verification (a pair
    // sharing three windows must verify — and appear — once)
    verifiedPairs(s, media, cand.distinct(), nMedia, threshold)
      .select(col("media_a"), col("media_b"),
        graft.functions.Rounding.portableRound4(col("cosu")).as("cos"))
      .orderBy(col("media_a"), col("media_b"))
  }

  /** LINEAR-OUTPUT dup-group form of the exact media audit —
    * `q_media_dup_groups`. The pair report is a QUADRATIC encoding of
    * near-clique dup groups (124M pairs for 500k dup-dense media at
    * the 100× ScaleBench point — output-bound, the last superlinear
    * scale point), so the group form never materializes it:
    * candidates stream UN-deduplicated out of the window grouping
    * (duplicates are harmless to a union-find, so the pair-wide
    * `.distinct()` shuffle is skipped entirely), verification is the
    * same broadcast-lookup cosine (map-side — the pair stream is
    * never shuffled), and [[Dedup.localForest]] contracts each
    * partition's verified pairs to a spanning forest on the spot —
    * member-proportional edges into [[Dedup.connectedComponents]],
    * member-proportional output (media_id, group_id = canonical min
    * member). Same near-dup relation as [[mediaNearDupsExact]] by
    * construction (same candidates, same cosine, same threshold), so
    * the oracle is the recursive-CTE reachability closure over the
    * SAME pair SQL — the `q_dedup_groups_exact` discipline.
    */
  def mediaDupGroups(s: SparkSession, dir: String,
      threshold: Double = 0.99, maxDf: Int = 64): DataFrame = {
    val (media, cand, nMedia) =
      candidateStream(s, dir, maxDf, GateBytes, GateKeepFraction)
    val verified = verifiedPairs(s, media, cand, nMedia, threshold,
        hvLocal = true)
      .select(col("media_a").as("doc_a"), col("media_b").as("doc_b"))
    // contract below the driver cutover (iterated map-side union-find)
    // so the closure is one collect, not propagation rounds over a
    // nodes×partitions-sized forest
    val forest = Dedup.contractedForest(verified)
    val labels = Dedup.connectedComponents(forest) // materializes eagerly
    forest.unpersist()
    labels
      .select(col("doc_id").as("media_id"), col("group_id"))
      .orderBy(col("media_id"))
  }

  /** Candidate generation shared by the pair and group forms: the
    * adaptive count gate, the size-capped per-window distinct-media
    * sets, and the map-side pair explode. Returns the media table, the
    * UN-deduplicated candidate pair stream (one row per shared window
    * per pair — callers decide whether a distinct is worth a shuffle),
    * and the media count the broadcast budget decisions key on. */
  private[graft] def candidateStream(s: SparkSession, dir: String, maxDf: Int,
      gateBytes: Long, keepFraction: Double): (DataFrame, DataFrame, Long) = {
    val media = mediaTable(s, dir)
    val positions = sequence(lit(1), greatest(length(col("content")) - 15, lit(1)), lit(4))
    val wins = media.select(col("media_id"),
        explode(transform(positions, p => col("content").substr(p, lit(16)))).as("win"))
    // gram-keyed shuffle blocking (the q_repeated_spans shape): ONE
    // shuffle of the window relation groups each window's DISTINCT
    // media set (the capped aggregator dedupes with map-side partials,
    // so the former standalone `.distinct()` pass is subsumed), and the
    // window-frequency gate — identical semantics, mirrored exactly in
    // the oracle SQL so the result stays hash-checkable — is `size()`
    // on the grouped set:
    //  - df >= 2: singleton windows (the vast majority) can never pair
    //    and are dropped before any pair exists;
    //  - df <= maxDf: a window shared by hundreds of payloads is
    //    structural boilerplate, not duplication evidence, and its
    //    df² candidate fan-out is the super-linear term (measured at
    //    the sf1 battery: Σ df·(df−1)/2 = 79.3M pre-distinct pairs
    //    uncapped vs 15.7M at df ≤ 64, with max df 217).
    // The r13 shape — distinct → groupBy-count → semi-join → SELF-JOIN —
    // shuffled the full 16-byte-window relation four times and re-shuffled
    // every shared-window occurrence through a join; it measured
    // 7.07×/decade at the sf1 battery (13.6 s at sf1). Here pairs are
    // generated MAP-SIDE from each group (ordered a < b via the sorted
    // set — each unordered pair exactly once per shared window), so
    // after the one grouping shuffle only the pair ids themselves move,
    // through the final distinct. The set aggregation is the SIZE-CAPPED
    // [[graft.functions.CappedDistinctAggregator]], not collect_set:
    // a structural-boilerplate window shared corpus-wide (the exact case
    // the df cap exists for) must cost a (maxDf+1)-bounded buffer, not a
    // corpus-sized one — the capped set stops growing once the group is
    // provably over-cap, and under-cap groups are exact (and pre-sorted,
    // subsuming the former array_sort).
    val cappedSet = udaf(new graft.functions.CappedDistinctAggregator(maxDf))
    // ADAPTIVE COUNT GATE (r15): singleton windows can never pair, so
    // on a typical sparse-duplication corpus pre-filtering them keeps
    // the set aggregation's shuffle + sort-fallback spill proportional
    // to SHARED windows, not corpus bytes. But the gate is only worth
    // its own cost when it filters, and that is a CORPUS property —
    // the dup-dense ScaleBench replica corpus keeps 47.1M of 48M rows
    // (measured), making the semi pure overhead. So the plan adapts on
    // two measured facts:
    //  - corpora under [[GateBytes]] on-disk skip the gate entirely
    //    (a window relation this small aggregates in memory — the
    //    spill the gate prevents cannot occur; file-length metadata,
    //    no scan);
    //  - larger corpora pay one cheap counting pass (win-only
    //    projection, codegen'd count with MAP-SIDE partials — its
    //    shuffle carries per-mapper distinct wins, not raw rows) and
    //    read the SURVIVOR ROW FRACTION off the count relation with a
    //    tiny second-level aggregate: the semi filter is planned only
    //    when it would actually drop most rows (≤ [[GateKeepFraction]]
    //    survive). The decision input is the relation the gate needs
    //    anyway — measured stats, not guesses.
    // Either way the set aggregation is the SIZE-CAPPED
    // [[graft.functions.CappedDistinctAggregator]], so even a
    // corpus-wide boilerplate window costs a (maxDf+1)-bounded buffer.
    val nMedia = media.count() // parquet metadata count — no scan
    val gateInput = if (corpusBytes(dir) <= gateBytes) wins else {
      // the measurement is a cached corpus statistic (see
      // [[gateMeasurement]]); only the DECISION is evaluated per call
      val (total, keptRows) = gateMeasurement(s, dir, wins)
      if (keptRows > (total * keepFraction).toLong) wins
      else {
        val winCounts = wins.select(col("win")).groupBy(col("win"))
          .agg(count(lit(1)).as("wcnt"))
        val kept = winCounts.filter(col("wcnt") >= 2).select(col("win"))
        // the shared-window key set broadcasts below the same media
        // budget the verify lookups use; past it the semi degrades to
        // a shuffle join (distributed sort on a real cluster)
        val keptSide = if (nMedia <= BroadcastMediaBudget) broadcast(kept) else kept
        wins.join(keptSide, Seq("win"), "left_semi")
      }
    }
    val grouped = gateInput
      .groupBy(col("win"))
      .agg(cappedSet(col("media_id")).as("ms"))
      .filter(size(col("ms")).between(2, maxDf))
    val cand = grouped
      .select(explode(flatten(transform(col("ms"), (a, i) =>
        transform(slice(col("ms"), i + lit(2), size(col("ms"))),
          b => array(a, b))))).as("p"))
      .select(element_at(col("p"), 1).as("media_a"),
        element_at(col("p"), 2).as("media_b"))
    (media, cand, nMedia)
  }

  /** Shared verification stage: join each candidate pair to both
    * byte-histogram vectors and keep pairs with cosine ≥ threshold.
    * Returns (media_a, media_b, cosu).
    *
    * hv is media-count-sized (64 doubles/row — 26 MB at the sf1
    * battery), so below a media-count budget both lookups BROADCAST:
    * the pair set — the only large side — is never shuffled for
    * verification. Above the budget the lookups fall back to plain
    * equi-joins (pair set shuffles on its media keys — ∝ candidates,
    * still never corpus²). Both regimes were measured at the 100×
    * ScaleBench point (500k media, ~265 MB per broadcast side):
    * broadcast 62 s vs join 76 s — broadcast wins while the driver
    * can hold it, so the budget guards driver survival at true
    * corpus scale rather than picking the faster local plan.
    * Pair-keyed: every joined row is ONE candidate pair carrying two
    * 64-element vectors; dot/norms are codegen loops over
    * exact-integer-valued doubles, bit-identical to the bin-exploded
    * integer SQL the oracle runs.
    */
  private[graft] def verifiedPairs(s: SparkSession, media: DataFrame,
      cand: DataFrame, nMedia: Long, threshold: Double,
      hvLocal: Boolean = false): DataFrame = {
    val hv = byteHistVec(s, media)
      .withColumn("n2", graft.functions.VectorFunctions.arrayDot(col("hvec"), col("hvec")))
    val cosu = graft.functions.VectorFunctions.arrayDot(col("va"), col("vb")) /
      (sqrt(col("na2")) * sqrt(col("nb2")))
    // `hvLocal` broadcast regime (r20): the histogram table collects
    // ONCE and both lookup sides build from the local relation. The
    // double-broadcast shape references `hv` from two
    // BroadcastExchange subtrees, and the typed MapElements scan does
    // NOT get collapsed by exchange reuse (verified in the r20
    // executed plan: two MapElements, zero ReusedExchange) — so every
    // execution pays the byte-histogram corpus scan twice. The collect
    // is gated by [[HvLocalRowCap]] (driver GC, not payload, is the
    // binding constraint — see the cap doc); between the cap and the
    // broadcast budget the double-broadcast shape applies. Callers
    // choose by execution shape, both measured at sf0.1 (r20):
    //  - [[mediaDupGroups]] materializes EAGERLY through a chain of
    //    serial jobs — folding two broadcast-build jobs into one
    //    bounded collect shortens the chain (2.83 → 2.61 s);
    //  - [[mediaNearDupsExact]] returns one LAZY plan whose two
    //    broadcast builds the scheduler runs CONCURRENTLY — a serial
    //    up-front collect is strictly added wall time there
    //    (1.83 → 2.08 s measured, change rejected for that caller).
    val (hvA, hvB) =
      if (hvLocal && DriverCutover.fits("Multimodal.verifiedPairs", s, HvLocalRowCap)(nMedia)) {
        import s.implicits._
        val rows = hv.select(col("media_id"), col("hvec"), col("n2"))
          .collect().map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2)))
          .toIndexedSeq
        val localHv = rows.toDF("media_id", "hvec", "n2")
        (broadcast(localHv.select(col("media_id").as("media_a"),
            col("hvec").as("va"), col("n2").as("na2"))),
          broadcast(localHv.select(col("media_id").as("media_b"),
            col("hvec").as("vb"), col("n2").as("nb2"))))
      } else if (nMedia <= BroadcastMediaBudget) (
        broadcast(hv.select(col("media_id").as("media_a"), col("hvec").as("va"),
          col("n2").as("na2"))),
        broadcast(hv.select(col("media_id").as("media_b"), col("hvec").as("vb"),
          col("n2").as("nb2"))))
      else (
        hv.select(col("media_id").as("media_a"), col("hvec").as("va"),
          col("n2").as("na2")),
        hv.select(col("media_id").as("media_b"), col("hvec").as("vb"),
          col("n2").as("nb2")))
    cand
      .join(hvA, Seq("media_a"))
      .join(hvB, Seq("media_b"))
      .filter(cosu >= threshold)
      .select(col("media_a"), col("media_b"), cosu.as("cosu"))
  }

  def mediaNearDups(s: SparkSession, dir: String, threshold: Double = 0.99): DataFrame = {
    val media = mediaTable(s, dir)
    val cands = Dedup.lshCandidates(Dedup.minhashSignatures(binaryAnchors(media)))
    val f = byteHistogram(s, media)
      .withColumn("nrm", graft.functions.VectorFunctions.l2Norm(col("features")))
    cands
      .join(f.as("a"), col("doc_a") === col("a.media_id"))
      .join(f.as("b"), col("doc_b") === col("b.media_id"))
      .withColumn("cos",
        graft.functions.VectorFunctions.arrayDot(col("a.features"), col("b.features")) /
          (col("a.nrm") * col("b.nrm")))
      .filter(col("cos") >= threshold)
      .select(col("doc_a").as("media_a"), col("doc_b").as("media_b"),
        round(col("cos"), 4).as("cos"))
      .orderBy(col("media_a"), col("media_b"))
  }
}
