package graft

import org.apache.spark.sql.functions._

import graft.operators.{ArtifactCache, Dedup, DriverCutover, IvfIndex, MediaGroupsInc,
  MediaIndexOps, Multimodal, PerceptualHash, Similarity}

/** Round-17 specs: tombstone delete + compaction for the video frame
  * index and the image chunk index (the takedown lifecycle the IVF
  * index already had), and incremental media dup-group maintenance
  * (delta-headed candidates + warm-started closure + exact
  * cap-crossing repair).
  */
class Round17Spec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  // --- video frame index: tombstone lifecycle ---------------------------

  test("video index delete: a tombstoned video stops matching immediately, " +
    "compact rewrites only its buckets (untouched buckets byte-identical) " +
    "and equals a rebuild without the video") {
    val path = java.nio.file.Files.createTempDirectory("graft-vdel").toString
    val rebuildPath = java.nio.file.Files.createTempDirectory("graft-vdel-rb").toString
    try {
      import spark.implicits._
      val frames = PerceptualHash.videoFrames(spark, sf)
      PerceptualHash.buildVideoIndex(spark, frames, path)
      val clips = PerceptualHash.derivedClips(spark, sf)
      val before = PerceptualHash.matchAgainstVideo(spark, path, clips).collect()
      assert(before.nonEmpty, "fixture must produce matches")
      // take down the best-matched video
      val victim = before.head.getAs[Long]("video_id")
      // buckets the victim's frames live in — the only ones compact may touch
      val victimBuckets = spark.read.parquet(s"$path/frames")
        .filter(col("video_id") === victim)
        .select(col("kb").cast("long")).distinct()
        .collect().map(_.getLong(0)).toSet
      assert(victimBuckets.nonEmpty)
      def bucketMtimes(): Map[String, Long] =
        Option(new java.io.File(s"$path/frames").listFiles()).toSeq.flatten
          .filter(f => f.isDirectory && f.getName.startsWith("kb="))
          .flatMap(d => Option(d.listFiles()).toSeq.flatten
            .map(f => s"${d.getName}/${f.getName}" -> f.lastModified()))
          .toMap
      val mtimesBefore = bucketMtimes()
      MediaIndexOps.delete(spark, path, Seq(victim).toDF("video_id"), "video_id")
      // tombstone visibility: the victim is gone BEFORE any compaction
      val afterDelete = PerceptualHash.matchAgainstVideo(spark, path, clips).collect()
      assert(!afterDelete.exists(_.getAs[Long]("video_id") == victim),
        "tombstoned video must stop matching immediately")
      MediaIndexOps.compact(spark, path, "frames", "video_id")
      // untouched buckets: every file outside the victim's buckets is
      // bit-for-bit the one written at build time (same path + mtime)
      val mtimesAfter = bucketMtimes()
      val untouched = mtimesBefore.keySet.filter { k =>
        val b = k.split("/")(0).stripPrefix("kb=").toLong
        !victimBuckets.contains(b)
      }
      assert(untouched.nonEmpty, "fixture must leave some buckets untouched")
      untouched.foreach { k =>
        assert(mtimesAfter.get(k).contains(mtimesBefore(k)),
          s"untouched bucket file $k must not be rewritten")
      }
      // physically gone + tombstones cleared
      assert(spark.read.parquet(s"$path/frames")
        .filter(col("video_id") === victim).count() == 0)
      assert(!new java.io.File(s"$path/deleted").exists())
      // delete + compact == rebuild without the victim: identical
      // verdicts AND identical live df statistic
      PerceptualHash.buildVideoIndex(spark,
        frames.filter(col("video_id") =!= victim), rebuildPath)
      val got = PerceptualHash.matchAgainstVideo(spark, path, clips).collect().toSeq
      val want = PerceptualHash.matchAgainstVideo(spark, rebuildPath, clips)
        .collect().toSeq
      assert(got == want, s"compacted=${got.take(3)} rebuilt=${want.take(3)}")
      def liveDf(p: String): Map[Long, Long] =
        spark.read.parquet(s"$p/keydf").groupBy(col("key"))
          .agg(sum(col("cnt")).as("df")).collect()
          .map(r => r.getLong(0) -> r.getLong(1)).filter(_._2 != 0L).toMap
      assert(liveDf(path) == liveDf(rebuildPath),
        "negative partials must reconcile the df to the rebuild's")
    } finally {
      ArtifactCache.deleteRecursively(new java.io.File(path))
      ArtifactCache.deleteRecursively(new java.io.File(rebuildPath))
    }
  }

  // --- image chunk index: tombstone lifecycle + df un-eviction ----------

  test("image index delete: pair disappears immediately; compacting a " +
    "deleted flood lets a previously over-cap bucket match again " +
    "(negative partials reconcile the df), equal to a rebuild") {
    import spark.implicits._
    val h1 = 0x00F0F0F0F0F0F0L
    val h2 = h1 ^ 0x7L // hamming 3 of h1
    val g1 = 0x00123456789ABCL
    val g2 = g1 ^ 0x3L // control pair
    val base = Seq((1L, h1), (2L, h2), (5L, g1), (6L, g2)).toDF("media_id", "phash")
    val path = java.nio.file.Files.createTempDirectory("graft-idel").toString
    val rb = java.nio.file.Files.createTempDirectory("graft-idel-rb").toString
    try {
      PerceptualHash.buildImageIndex(spark, base, path)
      def pairs(): Set[(Long, Long)] =
        PerceptualHash.imageNearDupsAgainst(spark, path).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs() == Set((1L, 2L), (5L, 6L)))
      // takedown of image 6: (5,6) disappears before any compaction
      MediaIndexOps.delete(spark, path, Seq(6L).toDF("media_id"), "media_id")
      assert(pairs() == Set((1L, 2L)),
        "tombstoned image must stop pairing immediately")
      MediaIndexOps.compact(spark, path, "chunks", "media_id")
      assert(pairs() == Set((1L, 2L)))
      // flood h1's buckets over the cap: (1,2) evicted from blocking
      val flood = (100L until (100L + PerceptualHash.MaxChunkDf + 1))
        .map(i => (i, h1)).toDF("media_id", "phash")
      PerceptualHash.insertImages(spark, path, flood)
      assert(pairs() == Set.empty,
        "over-cap buckets must stop blocking after the flood")
      // take the flood down again — BETWEEN delete and compact the df
      // is stale-high (strictly conservative): still no pair
      MediaIndexOps.delete(spark, path,
        flood.select(col("media_id")), "media_id")
      assert(pairs() == Set.empty,
        "pre-compact df staleness must stay conservative")
      // compaction applies the negative partials: the bucket re-enters
      // the cap and the pair matches again
      MediaIndexOps.compact(spark, path, "chunks", "media_id")
      assert(pairs() == Set((1L, 2L)),
        "compaction must un-evict the bucket via the reconciled df")
      // and the end state equals a from-scratch rebuild over base \ {6}
      PerceptualHash.buildImageIndex(spark,
        base.filter(col("media_id") =!= 6L), rb)
      val rebuilt = PerceptualHash.imageNearDupsAgainst(spark, rb).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rebuilt == pairs())
    } finally {
      ArtifactCache.deleteRecursively(new java.io.File(path))
      ArtifactCache.deleteRecursively(new java.io.File(rb))
    }
  }

  // --- crash-resume at the phase boundary --------------------------------

  test("tombstone compaction crash-resume: after phase A alone the index " +
    "refuses to probe; re-running compact converges to the identical " +
    "end state, and a tombstone appended mid-compaction survives") {
    import spark.implicits._
    val h1 = 0x00ABCDEF012345L
    val base = Seq((1L, h1), (2L, h1 ^ 0x5L), (9L, 0x00111111111111L))
      .toDF("media_id", "phash")
    val path = java.nio.file.Files.createTempDirectory("graft-idel-crash").toString
    try {
      PerceptualHash.buildImageIndex(spark, base, path)
      MediaIndexOps.delete(spark, path, Seq(2L).toDF("media_id"), "media_id")
      // crash exactly between the phases: marker + staged partials only
      assert(MediaIndexOps.compactPhaseA(spark, path, "chunks", "media_id"))
      assert(MediaIndexOps.pendingApply(path))
      intercept[IllegalStateException] {
        PerceptualHash.imageNearDupsAgainst(spark, path).collect()
      }
      // a delete racing the crashed compaction appends a NEW tombstone
      // file — it is not in the marker and must survive the resume
      MediaIndexOps.delete(spark, path, Seq(9L).toDF("media_id"), "media_id")
      // resume = just run compact again
      MediaIndexOps.compact(spark, path, "chunks", "media_id")
      assert(!MediaIndexOps.pendingApply(path))
      assert(spark.read.parquet(s"$path/chunks")
        .filter(col("media_id") === 2L).count() == 0,
        "resumed compaction must finish the physical removal")
      // the racing tombstone is still pending and still masks id 9
      val pend = spark.read.parquet(s"$path/deleted").collect()
        .map(_.getLong(0)).toSet
      assert(pend == Set(9L), s"racing tombstone must survive: $pend")
      val afterPairs = PerceptualHash.imageNearDupsAgainst(spark, path).collect()
      assert(afterPairs.isEmpty)
      // second compact applies it; end state = only image 1 remains
      MediaIndexOps.compact(spark, path, "chunks", "media_id")
      assert(spark.read.parquet(s"$path/chunks")
        .select(col("media_id")).distinct().collect()
        .map(_.getLong(0)).toSet == Set(1L))
    } finally ArtifactCache.deleteRecursively(new java.io.File(path))
  }

  // --- incremental media dup groups --------------------------------------

  private def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("mediaDupGroupsIncremental (two-generation ingest) produces labels " +
    "identical to the one-shot mediaDupGroups over the full corpus") {
    val oneShot = labelsOf(Multimodal.mediaDupGroups(spark, sf))
    // split at the corpus midpoint so both generations carry real media
    val mid = Multimodal.mediaTable(spark, sf)
      .agg(expr("percentile(media_id, 0.5)")).head().getDouble(0).toLong
    val inc = labelsOf(MediaGroupsInc.mediaDupGroupsIncremental(spark, sf, mid))
    assert(oneShot.nonEmpty, "fixture corpus must contain media dup groups")
    assert(inc == oneShot,
      s"incremental labels diverge: ${(inc.toSet diff oneShot.toSet).take(3)}")
  }

  test("cap-crossing repair: a window crossing maxDf retroactively drops " +
    "its unsupported pairs (and only those) — incremental labels equal " +
    "the one-shot under the final-corpus df cap") {
    import spark.implicits._
    // 16-byte blocks; contents are block concatenations so the stride-4
    // window relation is fully controlled (shared block = shared window)
    def blk(c: Char) = c.toString * 16
    val docs = Seq(
      // scenario B: docs 1,2 share ONLY window W — the crossing removes
      // their pair and nothing supports it
      1L -> (blk('W') + blk('a')),
      2L -> (blk('W') + blk('b')),
      // scenario A: docs 5,6 share P and Q (and the P|Q-spanning mixed
      // windows); P crosses, Q keeps supporting the pair
      5L -> (blk('P') + blk('Q') + blk('c')),
      6L -> (blk('P') + blk('Q') + blk('d')),
      // generation 1: two more W carriers (df 2 -> 4, crossing maxDf=2)
      101L -> (blk('W') + blk('e')),
      102L -> (blk('W') + blk('f')),
      // ... and one more P carrier (df 2 -> 3, crossing maxDf=2)
      105L -> (blk('P') + blk('g')))
    val tmp = java.nio.file.Files.createTempDirectory("graft-minc-cross").toString
    val state = java.nio.file.Files.createTempDirectory("graft-minc-state").toString
    try {
      docs.toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
      val media = Multimodal.mediaTable(spark, tmp)
        .select(col("media_id"), col("content"))
      MediaGroupsInc.ingest(spark, state,
        media.filter(col("media_id") < 100), threshold = 0.0, maxDf = 2)
      // generation 0 sees both pairs
      assert(labelsOf(MediaGroupsInc.currentLabels(spark, state)) ==
        Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L))
      val got = labelsOf(MediaGroupsInc.ingest(spark, state,
        media.filter(col("media_id") >= 100), threshold = 0.0, maxDf = 2))
      // (1,2) lost its only support (W over cap) -> removed; (5,6) keeps
      // Q -> survives; the new carriers pair with nothing
      assert(got == Map(5L -> 5L, 6L -> 5L), s"got $got")
      val oneShot = labelsOf(Multimodal.mediaDupGroups(spark, tmp,
        threshold = 0.0, maxDf = 2))
      assert(got == oneShot, s"one-shot=$oneShot incremental=$got")
      // the removal is committed state, not a recompute artifact
      assert(spark.read.parquet(s"$state/removed").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    } finally {
      ArtifactCache.deleteRecursively(new java.io.File(tmp))
      ArtifactCache.deleteRecursively(new java.io.File(state))
    }
  }

  test("incremental ingest warm-starts the closure: a crossing-free delta " +
    "that bridges two groups converges in fewer propagation rounds than " +
    "a cold run, with identical labels") {
    import spark.implicits._
    def rounds(): Int = Option(spark.sparkContext
      .getLocalProperty(Dedup.CcRoundsProperty)).map(_.toInt).getOrElse(-1)
    def blk(c: Char) = c.toString * 16
    // two 6-node chain groups: media i pairs with i+1 via shared block
    val chainA = (0L to 5L).map(i =>
      i -> (blk(('A' + i.toInt).toChar) + blk(('A' + i.toInt + 1).toChar)))
    val chainB = (10L to 15L).map(i =>
      i -> (blk(('a' + (i - 10).toInt).toChar) + blk(('a' + (i - 10).toInt + 1).toChar)))
    // the bridge shares one interior block with each chain (df 2 -> 3,
    // no crossing at the default cap)
    val bridge = Seq(20L -> (blk('C') + blk('c')))
    val state = java.nio.file.Files.createTempDirectory("graft-minc-warm").toString
    // a cap of 0 forces the distributed propagation every time
    try withConf(DriverCutover.MaxRowsKey -> "0") {
      val toMedia = (s: Seq[(Long, String)]) => s.toDF("media_id", "text")
        .select(col("media_id"), encode(col("text"), "UTF-8").as("content"))
      MediaGroupsInc.ingest(spark, state, toMedia(chainA ++ chainB), threshold = 0.0)
      assert(labelsOf(MediaGroupsInc.currentLabels(spark, state))
        .values.toSet == Set(0L, 10L), "two chain components before the bridge")
      val warm = labelsOf(MediaGroupsInc.ingest(spark, state, toMedia(bridge),
        threshold = 0.0))
      val warmRounds = rounds()
      assert(warm.values.toSet == Set(0L), "bridged graph is one component")
      // cold baseline over the same live pair store
      val cold = labelsOf(Dedup.connectedComponents(
        spark.read.parquet(s"$state/pairs").select(col("doc_a"), col("doc_b")))
        .select(col("doc_id"), col("group_id")))
      val coldRounds = rounds()
      assert(warm == cold, "warm labels must equal the cold fixpoint")
      assert(warmRounds > 0 && coldRounds > 0)
      assert(warmRounds < coldRounds,
        s"warm start must save rounds: warm=$warmRounds cold=$coldRounds")
    } finally ArtifactCache.deleteRecursively(new java.io.File(state))
  }

  // --- streaming video/image ingest (ContentID, modalities 2-3) ---------

  test("streamingVideoIngest: per-batch verdicts equal a replay against an " +
    "index rebuilt from strictly-earlier batches; a re-upload matches its " +
    "original at the clip offset with a full coherent vote") {
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("graft-ving-src").toString
    val out = java.nio.file.Files.createTempDirectory("graft-ving").toString
    try {
      val videos = Multimodal.mediaTable(spark, sf)
        .filter(col("kind") === "video")
        .select(col("media_id"), col("content"))
      videos.filter(col("media_id") < 300).repartition(1)
        .write.mode("append").parquet(src)
      videos.filter(col("media_id") >= 300).repartition(1)
        .write.mode("append").parquet(src)
      // longest content => frame hashes almost surely unique, so the
      // re-upload's match is deterministic (no df-cap or tie ambiguity)
      val orig = videos.orderBy(length(col("content")).desc, col("media_id").asc).head()
      Thread.sleep(1100) // distinct mtime => the dup file streams last
      Seq((1000000L, orig.getAs[Array[Byte]]("content")))
        .toDF("media_id", "content")
        .repartition(1).write.mode("append").parquet(src)

      val q = graft.streaming.EventStream.streamingVideoIngest(
        spark.readStream.schema("media_id LONG, content BINARY")
          .option("maxFilesPerTrigger", 1).parquet(src), out)
      try q.processAllAvailable() finally q.stop()

      val ids = new java.io.File(s"$out/index/frames").listFiles()
        .filter(_.getName.startsWith("batch="))
        .map(_.getName.stripPrefix("batch=").toLong).sorted
      assert(ids.length >= 3, s"expected >=3 micro-batches, got ${ids.toSeq}")
      val all = videos.unionByName(
        Seq((1000000L, orig.getAs[Array[Byte]]("content"))).toDF("media_id", "content"))
        .select(col("media_id"), lit("video").as("kind"), col("content"))
      def framesOfBatch(i: Long) = spark.read
        .parquet(s"$out/index/frames/batch=$i")
        .select(col("video_id"), col("f"), col("key").as("fh"))
      for (i <- ids) {
        val prior = ids.filter(_ < i)
        val rb = java.nio.file.Files.createTempDirectory(s"graft-ving-rb$i").toString
        try {
          val priorFrames =
            if (prior.isEmpty) framesOfBatch(i).limit(0)
            else prior.map(framesOfBatch).reduce(_ unionByName _)
          PerceptualHash.buildVideoIndex(spark, priorFrames, rb)
          val batchIds = spark.read.parquet(s"$out/index/frames/batch=$i")
            .select(col("video_id").as("media_id")).distinct()
          val clips = PerceptualHash.ingestClips(spark,
            all.join(batchIds, Seq("media_id")))
          val expected = PerceptualHash.matchAgainstVideo(spark, rb, clips)
            .collect().map(_.toSeq).toSeq
          val got = spark.read.parquet(s"$out/matches/batch=$i")
            .select(col("clip_id"), col("video_id"), col("offset_frames"), col("votes"))
            .orderBy(col("clip_id")).collect().map(_.toSeq).toSeq
          assert(got == expected, s"batch $i verdicts diverge from replay")
        } finally ArtifactCache.deleteRecursively(new java.io.File(rb))
      }
      val dup = spark.read.parquet(s"$out/matches")
        .filter(col("clip_id") === 1000000L).collect()
      assert(dup.length == 1, s"re-upload verdict missing: ${dup.toSeq}")
      assert(dup(0).getAs[Long]("video_id") == orig.getAs[Long]("media_id") &&
        dup(0).getAs[Long]("offset_frames") == PerceptualHash.VClipOff &&
        dup(0).getAs[Long]("votes") == PerceptualHash.VClipLen,
        s"re-upload must match its original with a full coherent vote: ${dup(0)}")
    } finally {
      ArtifactCache.deleteRecursively(new java.io.File(src))
      ArtifactCache.deleteRecursively(new java.io.File(out))
    }
  }

  test("streamingImageIngest: per-batch verdicts equal a replay against an " +
    "index rebuilt from strictly-earlier batches; a duplicate upload " +
    "matches its original at Hamming 0") {
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("graft-iing-src").toString
    val out = java.nio.file.Files.createTempDirectory("graft-iing").toString
    try {
      val images = Multimodal.mediaTable(spark, sf)
        .filter(col("kind") === "image" && length(col("content")) > 0)
        .select(col("media_id"), col("content"))
      images.filter(col("media_id") < 300).repartition(1)
        .write.mode("append").parquet(src)
      images.filter(col("media_id") >= 300).repartition(1)
        .write.mode("append").parquet(src)
      val orig = images.orderBy(length(col("content")).desc, col("media_id").asc).head()
      Thread.sleep(1100)
      Seq((1000000L, orig.getAs[Array[Byte]]("content")))
        .toDF("media_id", "content")
        .repartition(1).write.mode("append").parquet(src)

      val q = graft.streaming.EventStream.streamingImageIngest(
        spark.readStream.schema("media_id LONG, content BINARY")
          .option("maxFilesPerTrigger", 1).parquet(src), out)
      try q.processAllAvailable() finally q.stop()

      val ids = new java.io.File(s"$out/index/chunks").listFiles()
        .filter(_.getName.startsWith("batch="))
        .map(_.getName.stripPrefix("batch=").toLong).sorted
      assert(ids.length >= 3, s"expected >=3 micro-batches, got ${ids.toSeq}")
      def hashesOfBatch(i: Long) = spark.read
        .parquet(s"$out/index/chunks/batch=$i")
        .select(col("media_id"), col("phash")).distinct()
      for (i <- ids) {
        val prior = ids.filter(_ < i)
        val rb = java.nio.file.Files.createTempDirectory(s"graft-iing-rb$i").toString
        try {
          val priorHashes =
            if (prior.isEmpty) hashesOfBatch(i).limit(0)
            else prior.map(hashesOfBatch).reduce(_ unionByName _)
          PerceptualHash.buildImageIndex(spark, priorHashes, rb)
          val expected = PerceptualHash.probeImages(spark, rb, hashesOfBatch(i))
            .collect().map(_.toSeq).toSeq
          val got = spark.read.parquet(s"$out/matches/batch=$i")
            .select(col("media_id"), col("match_id"), col("hamming"))
            .orderBy(col("media_id"), col("match_id")).collect().map(_.toSeq).toSeq
          assert(got == expected, s"batch $i verdicts diverge from replay")
        } finally ArtifactCache.deleteRecursively(new java.io.File(rb))
      }
      val dup = spark.read.parquet(s"$out/matches")
        .filter(col("media_id") === 1000000L &&
          col("match_id") === orig.getAs[Long]("media_id")).collect()
      assert(dup.length == 1 && dup(0).getAs[Long]("hamming") == 0L,
        s"duplicate upload must match its original at Hamming 0: ${dup.toSeq}")
    } finally {
      ArtifactCache.deleteRecursively(new java.io.File(src))
      ArtifactCache.deleteRecursively(new java.io.File(out))
    }
  }

  // --- streamed-index lifecycle: consolidation + batch-aware takedown ---

  private def parquetsUnder(root: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Seq.empty
    walk(new java.io.File(root))
  }

  test("consolidateBatches collapses a streamed index's micro-batch dirs: " +
    "identical matches, replay of a consumed batch skips, later stages and " +
    "probes keep working") {
    val out = java.nio.file.Files.createTempDirectory("graft-consol").toString
    val rb = java.nio.file.Files.createTempDirectory("graft-consol-rb").toString
    try {
      val frames = PerceptualHash.videoFrames(spark, sf)
      PerceptualHash.stageVideoBatch(spark, out,
        frames.filter(col("video_id") < 200), 0)
      PerceptualHash.stageVideoBatch(spark, out,
        frames.filter(col("video_id").between(200, 399)), 1)
      val clips = PerceptualHash.derivedClips(spark, sf)
      val before = PerceptualHash.matchAgainstVideo(spark, out, clips)
        .collect().map(_.toSeq).toSeq
      assert(before.nonEmpty, "fixture must produce matches")
      val filesBefore = parquetsUnder(s"$out/frames").size +
        parquetsUnder(s"$out/keydf").size
      MediaIndexOps.consolidateBatches(spark, out, "frames")
      val after = PerceptualHash.matchAgainstVideo(spark, out, clips)
        .collect().map(_.toSeq).toSeq
      assert(after == before, "consolidation must not change any answer")
      val filesAfter = parquetsUnder(s"$out/frames").size +
        parquetsUnder(s"$out/keydf").size
      assert(filesAfter < filesBefore,
        s"file debt must shrink: $filesBefore -> $filesAfter")
      // consumed dir is marker-only: the streaming replay guard survives
      assert(new java.io.File(s"$out/frames/batch=0/_SUCCESS").exists())
      assert(parquetsUnder(s"$out/frames/batch=0").isEmpty)
      // a replayed (already-consumed) batch skips its stage writes
      PerceptualHash.stageVideoBatch(spark, out,
        frames.filter(col("video_id") < 200), 0)
      assert(parquetsUnder(s"$out/frames/batch=0").isEmpty,
        "replay of a consolidated batch must not re-stage data")
      // ingest continues: a NEW batch stages and the index answers like
      // a from-scratch build over all frames
      PerceptualHash.stageVideoBatch(spark, out,
        frames.filter(col("video_id") >= 400), 2)
      PerceptualHash.buildVideoIndex(spark, frames, rb)
      val full = PerceptualHash.matchAgainstVideo(spark, out, clips)
        .collect().map(_.toSeq).toSeq
      val rebuilt = PerceptualHash.matchAgainstVideo(spark, rb, clips)
        .collect().map(_.toSeq).toSeq
      assert(full == rebuilt,
        "post-consolidation staging must answer like a full rebuild")
    } finally {
      ArtifactCache.deleteRecursively(new java.io.File(out))
      ArtifactCache.deleteRecursively(new java.io.File(rb))
    }
  }

  test("consolidation crash-resume: after phase A alone probes refuse; " +
    "re-running converges to the identical end state") {
    val out = java.nio.file.Files.createTempDirectory("graft-consolcr").toString
    try {
      val h = PerceptualHash.imageHashes(spark, Multimodal.mediaTable(spark, sf)
        .filter(col("kind") === "image" && length(col("content")) > 0)
        .select(col("media_id"), col("content")))
      PerceptualHash.stageImageBatch(spark, out, h.filter(col("media_id") % 2 === 0), 0)
      PerceptualHash.stageImageBatch(spark, out, h.filter(col("media_id") % 2 === 1), 1)
      val probeSet = h.filter(col("media_id") % 7 === 0)
      val before = PerceptualHash.probeImages(spark, out, probeSet)
        .collect().map(_.toSeq).toSeq
      assert(MediaIndexOps.consolidatePhaseA(spark, out, "chunks"))
      intercept[IllegalStateException] {
        PerceptualHash.probeImages(spark, out, probeSet)
      }
      MediaIndexOps.consolidateBatches(spark, out, "chunks") // resume
      val after = PerceptualHash.probeImages(spark, out, probeSet)
        .collect().map(_.toSeq).toSeq
      assert(after == before, "resumed consolidation must answer identically")
      assert(!MediaIndexOps.pendingConsolidate(out, "chunks"))
    } finally ArtifactCache.deleteRecursively(new java.io.File(out))
  }

  test("tombstone compaction on the STREAMED batch layout rewrites " +
    "(batch, kb) partitions: deleted video gone, negatives adopt under " +
    "keydf/batch=-1, answers equal a rebuild without it") {
    val out = java.nio.file.Files.createTempDirectory("graft-bdel").toString
    val rb = java.nio.file.Files.createTempDirectory("graft-bdel-rb").toString
    try {
      import spark.implicits._
      val frames = PerceptualHash.videoFrames(spark, sf)
      PerceptualHash.stageVideoBatch(spark, out,
        frames.filter(col("video_id") % 2 === 0), 0)
      PerceptualHash.stageVideoBatch(spark, out,
        frames.filter(col("video_id") % 2 === 1), 1)
      val clips = PerceptualHash.derivedClips(spark, sf)
      val before = PerceptualHash.matchAgainstVideo(spark, out, clips).collect()
      assert(before.nonEmpty)
      val victim = before.head.getAs[Long]("video_id")
      MediaIndexOps.delete(spark, out, Seq(victim).toDF("video_id"), "video_id")
      val afterDelete = PerceptualHash.matchAgainstVideo(spark, out, clips).collect()
      assert(!afterDelete.exists(_.getAs[Long]("video_id") == victim),
        "tombstoned video must stop matching immediately on the batch layout")
      MediaIndexOps.compact(spark, out, "frames", "video_id")
      assert(new java.io.File(s"$out/keydf/batch=-1").exists(),
        "negative df partials must adopt under the reserved batch=-1 dir")
      // batch dirs keep their replay markers through the rewrite
      assert(new java.io.File(s"$out/frames/batch=0/_SUCCESS").exists())
      assert(new java.io.File(s"$out/frames/batch=1/_SUCCESS").exists())
      PerceptualHash.buildVideoIndex(spark,
        frames.filter(col("video_id") =!= victim), rb)
      val got = PerceptualHash.matchAgainstVideo(spark, out, clips)
        .collect().map(_.toSeq).toSeq
      val want = PerceptualHash.matchAgainstVideo(spark, rb, clips)
        .collect().map(_.toSeq).toSeq
      assert(got == want, "delete+compact must equal a rebuild without the video")
      // no stored posting of the victim survives anywhere
      assert(spark.read.parquet(s"$out/frames")
        .filter(col("video_id") === victim).isEmpty)
    } finally {
      ArtifactCache.deleteRecursively(new java.io.File(out))
      ArtifactCache.deleteRecursively(new java.io.File(rb))
    }
  }

  test("streamingMediaGroups: labels after the stream equal the one-shot " +
    "mediaDupGroups, and a replayed (crashed) generation re-runs into the " +
    "identical state") {
    val src = java.nio.file.Files.createTempDirectory("graft-smg-src").toString
    val out = java.nio.file.Files.createTempDirectory("graft-smg").toString
    try {
      val media = Multimodal.mediaTable(spark, sf)
        .select(col("media_id"), col("content"))
      media.filter(col("media_id") < 300).repartition(1)
        .write.mode("append").parquet(src)
      Thread.sleep(1100) // distinct mtimes => batches arrive in id order
      media.filter(col("media_id") >= 300).repartition(1)
        .write.mode("append").parquet(src)
      val q = graft.streaming.EventStream.streamingMediaGroups(
        spark.readStream.schema("media_id LONG, content BINARY")
          .option("maxFilesPerTrigger", 1).parquet(src), out)
      try q.processAllAvailable() finally q.stop()
      def labels(): Map[Long, Long] = MediaGroupsInc.currentLabels(spark, out)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val streamed = labels()
      val oneShot = Multimodal.mediaDupGroups(spark, sf)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(streamed.nonEmpty && streamed == oneShot,
        "streamed incremental labels must equal the one-shot group form")
      // replay the LAST generation as a crash would: the marker never
      // made it, so the batch re-ingests with the SAME pinned gen —
      // every gen-scoped write overwrites and the state is unchanged
      val lastGen = Option(new java.io.File(s"$out/wins").listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("batch="))
        .map(_.getName.stripPrefix("batch=").toInt).max
      val pairsBefore = spark.read.parquet(s"$out/pairs")
        .select(col("doc_a"), col("doc_b")).collect().map(_.toSeq).sortBy(_.toString)
      MediaGroupsInc.ingest(spark, out,
        media.filter(col("media_id") >= 300), genOverride = Some(lastGen))
      assert(labels() == streamed, "replayed generation must not change labels")
      val pairsAfter = spark.read.parquet(s"$out/pairs")
        .select(col("doc_a"), col("doc_b")).collect().map(_.toSeq).sortBy(_.toString)
      assert(pairsAfter.toSeq == pairsBefore.toSeq,
        "replayed generation must not change the pair store")
    } finally {
      ArtifactCache.deleteRecursively(new java.io.File(src))
      ArtifactCache.deleteRecursively(new java.io.File(out))
    }
  }

  // --- streaming text dedup groups: warm closure per batch --------------

  test("streamingNearDedupGroups serves per-batch labels warm: identical " +
    "to the cold closure at every batch boundary, fewer propagation rounds " +
    "on a bridging delta") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def rounds(): Int = Option(spark.sparkContext
      .getLocalProperty(Dedup.CcRoundsProperty)).map(_.toInt).getOrElse(-1)
    // two 7-doc chain groups: doc i shares one 2-shingle with doc i+1
    def chain(pfx: String, ids: Range): Seq[(Long, String)] = ids.map { i =>
      val k = i - ids.head
      (i.toLong, s"$pfx$k ${pfx}${k + 1} ${pfx}${k + 2}")
    }
    val chainA = chain("ca", 0 until 7)
    val chainB = chain("db", 10 until 17)
    // the bridge's shingles: one interior shingle of each chain
    val bridge = Seq((20L, "ca3 ca4 ca3 db3 db4"))
    val out = java.nio.file.Files.createTempDirectory("graft-sdg").toString
    // a cap of 0 forces the distributed propagation every time; set
    // before the query starts, so its micro-batch session inherits it
    try withConf(DriverCutover.MaxRowsKey -> "0") {
      val in = MemoryStream[(Long, String)]
      val q = graft.streaming.EventStream.streamingNearDedupGroups(
        in.toDF().toDF("doc_id", "text"), out, threshold = 0.0)
      def labelsAt(gen: Long): Map[Long, Long] =
        spark.read.parquet(s"$out/groups/gen=$gen")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      def coldLabels(): Map[Long, Long] = Dedup.connectedComponents(
        spark.read.parquet(s"$out/pairs").select(col("doc_a"), col("doc_b")))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      try {
        in.addData(chainA ++ chainB)
        q.processAllAvailable()
        val g0 = labelsAt(0)
        assert(g0.values.toSet == Set(0L, 10L), "two chain components")
        assert(g0 == coldLabels(), "gen 0 must equal the cold closure")
        in.addData(bridge)
        q.processAllAvailable()
        val g1 = labelsAt(1)
        val warmRounds = rounds()
        assert(g1.values.toSet == Set(0L), "bridged graph is one component")
        val cold = coldLabels()
        val coldRounds = rounds()
        assert(g1 == cold, "warm labels must equal the cold fixpoint")
        assert(warmRounds > 0 && coldRounds > 0)
        assert(warmRounds < coldRounds,
          s"warm start must save rounds: warm=$warmRounds cold=$coldRounds")
      } finally q.stop()
    } finally ArtifactCache.deleteRecursively(new java.io.File(out))
  }

  // --- routed ANN: the decision as a build-once artifact ----------------

  test("routed-ANN plan persists: repeat knnRouted calls pay zero tuning " +
    "passes and launch exactly the chosen branch's jobs") {
    val sc = spark.sparkContext
    val plan = Similarity.ensurePlan(spark, sf) // publishes artifact + memo
    // warm the chosen branch once so one-time index/sidecar validation
    // jobs don't skew the job-count comparison below
    Similarity.knnRoutedWith(spark, sf, 5, plan).collect()
    val tunings0 = Similarity.planTunings.get()
    sc.setJobGroup("r17-routed", "routed repeat call", interruptOnCancel = false)
    val routed = Similarity.knnRouted(spark, sf).collect().toSeq
    sc.clearJobGroup()
    sc.setJobGroup("r17-direct", "direct chosen branch", interruptOnCancel = false)
    val direct = (if (plan.sq8Rerank)
        IvfIndex.knnSq8Rerank(spark, sf, 5, plan.nprobe, plan.rerank)
      else IvfIndex.knnIndexed(spark, sf, 5, plan.nprobe)).collect().toSeq
    sc.clearJobGroup()
    assert(Similarity.planTunings.get() == tunings0,
      "a published plan must never re-run the measured tuning pass")
    assert(routed.nonEmpty && routed == direct,
      "routed rows must equal the chosen branch exactly")
    val routedJobs = sc.statusTracker.getJobIdsForGroup("r17-routed").length
    val directJobs = sc.statusTracker.getJobIdsForGroup("r17-direct").length
    assert(routedJobs == directJobs,
      s"routed repeat call must launch only the chosen branch's jobs: " +
        s"routed=$routedJobs direct=$directJobs")
  }

  // --- incremental group state: compaction lifecycle --------------------

  private def blk16(c: Char) = c.toString * 16

  private def toMedia(sq: Seq[(Long, String)]) = {
    import spark.implicits._
    sq.toDF("media_id", "text")
      .select(col("media_id"), encode(col("text"), "UTF-8").as("content"))
  }

  // three fixture generations over 16-byte blocks (stride-4 window
  // relation fully controlled): gen1 crosses W (drops pair 1-2, P keeps
  // 5-6 alive via Q + the P|Q-spanning windows), gen2 crosses V (drops
  // pair 7-8) — so a POST-compaction ingest exercises the repair path
  // against the merged wins/windf/pairs stores
  private val cgen0 = Seq(
    1L -> (blk16('W') + blk16('a')), 2L -> (blk16('W') + blk16('b')),
    5L -> (blk16('P') + blk16('Q') + blk16('c')),
    6L -> (blk16('P') + blk16('Q') + blk16('d')),
    7L -> (blk16('V') + blk16('e')), 8L -> (blk16('V') + blk16('f')))
  private val cgen1 = Seq(
    101L -> (blk16('W') + blk16('g')), 102L -> (blk16('W') + blk16('h')),
    105L -> (blk16('P') + blk16('i')))
  private val cgen2 = Seq(201L -> (blk16('V') + blk16('j')))

  test("compactState folds the generation debt into a single batch per " +
    "store with identical labels, folds removals into the pair store, " +
    "prunes stale label gens, and a post-compaction ingest (with a fresh " +
    "cap-crossing repair) equals the uncompacted sequence and the one-shot") {
    val sA = java.nio.file.Files.createTempDirectory("graft-minc-cpt").toString
    val sB = java.nio.file.Files.createTempDirectory("graft-minc-ctl").toString
    val dir = java.nio.file.Files.createTempDirectory("graft-minc-corp").toString
    try {
      Seq(sA, sB).foreach { st =>
        MediaGroupsInc.ingest(spark, st, toMedia(cgen0), threshold = 0.0, maxDf = 2)
        MediaGroupsInc.ingest(spark, st, toMedia(cgen1), threshold = 0.0, maxDf = 2)
      }
      val before = labelsOf(MediaGroupsInc.currentLabels(spark, sA))
      assert(before == Map(5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 7L), s"$before")
      MediaGroupsInc.compactState(spark, sA)
      assert(labelsOf(MediaGroupsInc.currentLabels(spark, sA)) == before,
        "compaction must not change the served labels")
      def nDirs(sub: String, pfx: String) =
        Option(new java.io.File(s"$sA/$sub").listFiles()).toSeq.flatten
          .count(f => f.isDirectory && f.getName.startsWith(pfx))
      Seq("wins", "windf", "hv", "pairs").foreach(sub =>
        assert(nDirs(sub, "batch=") == 1, s"$sub must hold one batch dir"))
      assert(!new java.io.File(s"$sA/removed").exists(),
        "removals must fold into the live pair rewrite")
      assert(nDirs("labels", "gen=") == 1, "stale label gens must prune")
      assert(spark.read.parquet(s"$sA/pairs")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        Set((5L, 6L), (7L, 8L)), "folded pair store = live pairs only")
      // second run: nothing to do, no marker left behind
      MediaGroupsInc.compactState(spark, sA)
      assert(!MediaGroupsInc.pendingCompact(sA))
      // post-compaction ingest with a fresh V crossing: repair reads the
      // MERGED windf/wins/pairs and must equal the uncompacted control
      val a = labelsOf(MediaGroupsInc.ingest(spark, sA, toMedia(cgen2),
        threshold = 0.0, maxDf = 2))
      val b = labelsOf(MediaGroupsInc.ingest(spark, sB, toMedia(cgen2),
        threshold = 0.0, maxDf = 2))
      assert(a == Map(5L -> 5L, 6L -> 5L), s"V crossing must drop 7-8: $a")
      assert(a == b, s"compacted=$a control=$b")
      import spark.implicits._
      (cgen0 ++ cgen1 ++ cgen2).toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val oneShot = labelsOf(Multimodal.mediaDupGroups(spark, dir,
        threshold = 0.0, maxDf = 2))
      assert(a == oneShot, s"one-shot=$oneShot incremental=$a")
    } finally Seq(sA, sB, dir).foreach(p =>
      ArtifactCache.deleteRecursively(new java.io.File(p)))
  }

  test("compactState crash-resume: ingest refuses while the marker is " +
    "pending; phase B completes from the marker alone into the same state") {
    val st = java.nio.file.Files.createTempDirectory("graft-minc-crash").toString
    try {
      MediaGroupsInc.ingest(spark, st, toMedia(cgen0), threshold = 0.0, maxDf = 2)
      MediaGroupsInc.ingest(spark, st, toMedia(cgen1), threshold = 0.0, maxDf = 2)
      val before = labelsOf(MediaGroupsInc.currentLabels(spark, st))
      // crash exactly between the phases: tmp dirs + marker only
      assert(MediaGroupsInc.compactPhaseA(spark, st))
      assert(MediaGroupsInc.pendingCompact(st))
      intercept[IllegalArgumentException] {
        MediaGroupsInc.ingest(spark, st, toMedia(cgen2),
          threshold = 0.0, maxDf = 2)
      }
      // resume = just run compactState again (phase A sees the marker)
      MediaGroupsInc.compactState(spark, st)
      assert(!MediaGroupsInc.pendingCompact(st))
      assert(labelsOf(MediaGroupsInc.currentLabels(spark, st)) == before)
      assert(Option(new java.io.File(s"$st/wins").listFiles()).toSeq.flatten
        .count(f => f.isDirectory && f.getName.startsWith("batch=")) == 1)
      // the resumed state ingests on normally
      val after = labelsOf(MediaGroupsInc.ingest(spark, st, toMedia(cgen2),
        threshold = 0.0, maxDf = 2))
      assert(after == Map(5L -> 5L, 6L -> 5L), s"$after")
    } finally ArtifactCache.deleteRecursively(new java.io.File(st))
  }

  // --- group-state takedown (delete + exact un-crossing repair) ---------

  // dgen0 extends cgen0 with an X-triple {3,4,9}: X's df is 3 from the
  // start (over maxDf=2), so pair (3,4) is SUPPRESSED its whole life —
  // deleting 9 un-crosses X and must emit it fresh
  private val dgen0 = cgen0 ++ Seq(
    3L -> (blk16('X') + blk16('k')), 4L -> (blk16('X') + blk16('l')),
    9L -> (blk16('X') + blk16('m')))

  test("delete removes media from the group state exactly: un-crossed " +
    "windows resurrect removed pairs and emit never-emitted ones, victim " +
    "pairs mask, and labels equal the one-shot over the remaining corpus " +
    "through further ingests and a compaction") {
    val st = java.nio.file.Files.createTempDirectory("graft-mdel").toString
    val dir = java.nio.file.Files.createTempDirectory("graft-mdel-corp").toString
    def oneShotOver(docs: Seq[(Long, String)]): Map[Long, Long] = {
      import spark.implicits._
      docs.toDF("doc_id", "text")
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      labelsOf(Multimodal.mediaDupGroups(spark, dir, threshold = 0.0, maxDf = 2))
    }
    try {
      MediaGroupsInc.ingest(spark, st, toMedia(dgen0), threshold = 0.0, maxDf = 2)
      MediaGroupsInc.ingest(spark, st, toMedia(cgen1), threshold = 0.0, maxDf = 2)
      // W crossed at gen1 (pair 1-2 removed), X over cap from the start
      // (pair 3-4 never emitted), P crossed but 5-6 keeps Q support
      assert(labelsOf(MediaGroupsInc.currentLabels(spark, st)) ==
        Map(5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 7L))
      val victims = Seq(9L, 101L, 102L, 105L)
      val got = labelsOf(MediaGroupsInc.delete(spark, st, victims,
        threshold = 0.0, maxDf = 2))
      // 9 gone: X df 3->2 un-crosses, FRESH pair (3,4); 101+102 gone:
      // W df 4->2 un-crosses, RESURRECTS removed pair (1,2); 105 gone:
      // P df 3->2 un-crosses, members (5,6) already live
      val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L,
        5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 7L)
      assert(got == expect, s"got $got")
      val remaining = (dgen0 ++ cgen1).filterNot(d => victims.contains(d._1))
      assert(got == oneShotOver(remaining), "delete ≡ one-shot over survivors")
      // the victim postings are physically gone from candidate space
      assert(spark.read.parquet(s"$st/wins")
        .filter(col("media_id").isin(victims: _*)).count() == 0)
      assert(new java.io.File(s"$st/windf/batch=-1").exists(),
        "negative df partials adopted under the reserved generation")
      // a later ingest behaves exactly: 201 crosses V (drops pair 7-8)
      val afterIngest = labelsOf(MediaGroupsInc.ingest(spark, st,
        toMedia(cgen2), threshold = 0.0, maxDf = 2))
      assert(afterIngest == oneShotOver(remaining ++ cgen2),
        s"post-delete ingest diverged: $afterIngest")
      // a victim WITH live pairs: masking path + kept removed store
      val afterDel2 = labelsOf(MediaGroupsInc.delete(spark, st, Seq(2L),
        threshold = 0.0, maxDf = 2))
      val remaining2 = (remaining ++ cgen2).filterNot(_._1 == 2L)
      assert(afterDel2 == oneShotOver(remaining2),
        s"victim-pair masking diverged: $afterDel2")
      // compaction folds it all physically; labels unchanged
      MediaGroupsInc.compactState(spark, st)
      assert(labelsOf(MediaGroupsInc.currentLabels(spark, st)) == afterDel2)
      assert(spark.read.parquet(s"$st/pairs")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        Set((3L, 4L), (5L, 6L)), "compacted pair store = live pairs only")
    } finally Seq(st, dir).foreach(p =>
      ArtifactCache.deleteRecursively(new java.io.File(p)))
  }

  test("delete crash-resume: ingest and label probes refuse while the " +
    "marker is pending; phase B completes from the marker alone") {
    val st = java.nio.file.Files.createTempDirectory("graft-mdel-crash").toString
    try {
      MediaGroupsInc.ingest(spark, st, toMedia(dgen0), threshold = 0.0, maxDf = 2)
      MediaGroupsInc.ingest(spark, st, toMedia(cgen1), threshold = 0.0, maxDf = 2)
      assert(MediaGroupsInc.deletePhaseA(spark, st, Seq(101L, 102L),
        threshold = 0.0, maxDf = 2))
      assert(MediaGroupsInc.pendingDelete(st))
      intercept[IllegalArgumentException] {
        MediaGroupsInc.ingest(spark, st, toMedia(cgen2),
          threshold = 0.0, maxDf = 2)
      }
      intercept[IllegalStateException] {
        MediaGroupsInc.currentLabels(spark, st)
      }
      intercept[IllegalArgumentException] {
        MediaGroupsInc.compactState(spark, st)
      }
      // resume = re-run delete (phase A sees the marker, ids from it)
      val got = labelsOf(MediaGroupsInc.delete(spark, st, Seq(101L, 102L),
        threshold = 0.0, maxDf = 2))
      assert(!MediaGroupsInc.pendingDelete(st))
      // W un-crossed: removed pair (1,2) resurrected
      assert(got == Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L,
        7L -> 7L, 8L -> 7L), s"got $got")
    } finally ArtifactCache.deleteRecursively(new java.io.File(st))
  }

  test("mediaDupGroupsTakedown (driver query) equals the one-shot over " +
    "the corpus minus the % 7 == 3 victims, and actually changes labels") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mdel-q").toString
    try {
      val full = Multimodal.mediaTable(spark, sf)
      import spark.implicits._
      full.filter(pmod(col("media_id"), lit(7)) =!= 3)
        .select(col("media_id").as("doc_id"),
          decode(col("content"), "UTF-8").as("text"))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val oneShot = labelsOf(Multimodal.mediaDupGroups(spark, dir))
      val mid = full.agg(expr("percentile(media_id, 0.5)"))
        .head().getDouble(0).toLong
      val got = labelsOf(MediaGroupsInc.mediaDupGroupsTakedown(spark, sf, mid))
      assert(got == oneShot, s"diverges: ${(got.toSet diff oneShot.toSet).take(3)}")
      val before = labelsOf(Multimodal.mediaDupGroups(spark, sf))
      assert(got != before, "victim set must intersect real groups")
    } finally ArtifactCache.deleteRecursively(new java.io.File(dir))
  }

  test("compactState on a single-generation state preserves a delete's " +
    "negative df partials: the windf/batch=-1 fold is gated per store, " +
    "so a post-compaction ingest sees post-takedown dfs") {
    val sA = java.nio.file.Files.createTempDirectory("graft-mdel-negfold").toString
    val sB = java.nio.file.Files.createTempDirectory("graft-mdel-negctl").toString
    try {
      val late = Seq(301L -> (blk16('W') + blk16('z')))
      Seq(sA, sB).foreach { st =>
        MediaGroupsInc.ingest(spark, st, toMedia(dgen0), threshold = 0.0, maxDf = 2)
        MediaGroupsInc.delete(spark, st, Seq(2L), threshold = 0.0, maxDf = 2)
      }
      // only sA compacts; with the negatives destroyed W's df would
      // read 2 pre-ingest and the new carrier could never pair with 1
      MediaGroupsInc.compactState(spark, sA)
      assert(!new java.io.File(s"$sA/windf/batch=-1").exists(),
        "negative partials must FOLD, not survive as a reserved dir")
      assert(Option(new java.io.File(s"$sA/windf").listFiles()).toSeq.flatten
        .count(f => f.isDirectory && f.getName.startsWith("batch=")) == 1)
      val a = labelsOf(MediaGroupsInc.ingest(spark, sA, toMedia(late),
        threshold = 0.0, maxDf = 2))
      val b = labelsOf(MediaGroupsInc.ingest(spark, sB, toMedia(late),
        threshold = 0.0, maxDf = 2))
      assert(a.get(1L).exists(g => a.get(301L).contains(g)),
        s"W df must be 2 post-takedown so 1 and 301 pair: got $a")
      assert(a == b, s"compacted=$a control=$b")
    } finally Seq(sA, sB).foreach(p =>
      ArtifactCache.deleteRecursively(new java.io.File(p)))
  }

  test("delete over a crashed delete's marker finishes the pending victim " +
    "list FIRST, then applies the new one — neither takedown is dropped") {
    val st = java.nio.file.Files.createTempDirectory("graft-mdel-stack").toString
    try {
      MediaGroupsInc.ingest(spark, st, toMedia(dgen0), threshold = 0.0, maxDf = 2)
      MediaGroupsInc.ingest(spark, st, toMedia(cgen1), threshold = 0.0, maxDf = 2)
      // first takedown crashes between the phases
      assert(MediaGroupsInc.deletePhaseA(spark, st, Seq(101L, 102L),
        threshold = 0.0, maxDf = 2))
      // second takedown arrives; both must land
      val got = labelsOf(MediaGroupsInc.delete(spark, st, Seq(105L),
        threshold = 0.0, maxDf = 2))
      assert(got == Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 6L -> 5L,
        7L -> 7L, 8L -> 7L), s"got $got")
      assert(spark.read.parquet(s"$st/wins")
        .filter(col("media_id").isin(101L, 102L, 105L)).count() == 0,
        "both victim lists must be physically applied")
    } finally ArtifactCache.deleteRecursively(new java.io.File(st))
  }

  test("a pre-marker-crashed delete's hidden staging dir is invisible to " +
    "data-presence checks: compactState and ingest proceed normally") {
    import spark.implicits._
    val st = java.nio.file.Files.createTempDirectory("graft-mdel-hidden").toString
    try {
      MediaGroupsInc.ingest(spark, st, toMedia(dgen0), threshold = 0.0, maxDf = 2)
      val before = labelsOf(MediaGroupsInc.currentLabels(spark, st))
      // a deletePhaseA crash BEFORE the marker rename leaves staged
      // parquet under removed/.del-tmp and nothing else
      Seq((1L, 2L)).toDF("doc_a", "doc_b")
        .write.mode("overwrite").parquet(s"$st/removed/.del-tmp")
      MediaGroupsInc.compactState(spark, st) // must not trip on $st/removed
      assert(labelsOf(MediaGroupsInc.currentLabels(spark, st)) == before)
      val after = labelsOf(MediaGroupsInc.ingest(spark, st,
        toMedia(Seq(301L -> (blk16('V') + blk16('z')))),
        threshold = 0.0, maxDf = 2))
      // V crosses (7,8,301): pair 7-8 loses its only support
      assert(after == before - 7L - 8L, s"got $after")
    } finally ArtifactCache.deleteRecursively(new java.io.File(st))
  }

  // --- streamed-state consolidation cadences -----------------------------

  private def dataDirCount(root: String, pfx: String): Int = {
    def hasParquet(f: java.io.File): Boolean =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.exists(hasParquet)
      else f.getName.endsWith(".parquet")
    Option(new java.io.File(root).listFiles()).toSeq.flatten
      .count(f => f.isDirectory && f.getName.startsWith(pfx) && hasParquet(f))
  }

  private def markerOnlyDir(path: String): Boolean = {
    val f = new java.io.File(path)
    f.isDirectory && new java.io.File(f, "_SUCCESS").exists() &&
      Option(f.listFiles()).toSeq.flatten.forall(!_.getName.endsWith(".parquet"))
  }

  test("streamingNearDedupGroups consolidation cadence folds the per-batch " +
    "debt: consumed dirs stay marker-only for replay, labels equal the cold " +
    "closure throughout, and a crash between the phases resumes") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def chain(pfx: String, ids: Range): Seq[(Long, String)] = ids.map { i =>
      val k = i - ids.head
      (i.toLong, s"$pfx$k ${pfx}${k + 1} ${pfx}${k + 2}")
    }
    val chainA = chain("ka", 0 until 5)
    val chainB = chain("mb", 10 until 15)
    val bridge = Seq((20L, "ka2 ka3 ka2 mb2 mb3"))
    val out = java.nio.file.Files.createTempDirectory("graft-sdg-cons").toString
    try {
      val in = MemoryStream[(Long, String)]
      val q = graft.streaming.EventStream.streamingNearDedupGroups(
        in.toDF().toDF("doc_id", "text"), out,
        threshold = 0.0, consolidateEvery = Some(2))
      def coldLabels(): Map[Long, Long] = Dedup.connectedComponents(
        spark.read.parquet(s"$out/pairs").select(col("doc_a"), col("doc_b")))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      try {
        in.addData(chainA); q.processAllAvailable()
        in.addData(chainB); q.processAllAvailable() // cadence fires here
        assert(markerOnlyDir(s"$out/index/batch=0") &&
          markerOnlyDir(s"$out/pairs/batch=0") &&
          markerOnlyDir(s"$out/groups/gen=0"),
          "consumed batch-0 dirs must stay marker-only (replay guards)")
        assert(dataDirCount(s"$out/index", "batch=") == 1)
        in.addData(bridge); q.processAllAvailable()
        val g2 = spark.read.parquet(s"$out/groups/gen=2")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(g2.values.toSet == Set(0L), "bridged graph is one component")
        assert(g2 == coldLabels(),
          "post-consolidation labels must equal the cold closure")
      } finally q.stop()
      // offline crash-resume over the remaining {1, 2} debt
      assert(graft.streaming.EventStream.dedupConsolidatePhaseA(spark, out))
      assert(graft.streaming.EventStream.pendingDedupConsolidate(out))
      graft.streaming.EventStream.consolidateDedupState(spark, out)
      assert(!graft.streaming.EventStream.pendingDedupConsolidate(out))
      Seq("index", "pairs").foreach { sub =>
        assert(dataDirCount(s"$out/$sub", "batch=") == 1, s"$sub folded")
      }
      assert(dataDirCount(s"$out/groups", "gen=") == 1, "stale gens pruned")
      val g2b = spark.read.parquet(s"$out/groups/gen=2")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(g2b == coldLabels() && g2b.values.toSet == Set(0L),
        "consolidation must not change the answer")
    } finally ArtifactCache.deleteRecursively(new java.io.File(out))
  }

  test("streamingMediaGroups compactEvery cadence: labels still equal the " +
    "one-shot and the state holds a single generation per store") {
    val src = java.nio.file.Files.createTempDirectory("graft-smgc-src").toString
    val out = java.nio.file.Files.createTempDirectory("graft-smgc").toString
    try {
      val media = Multimodal.mediaTable(spark, sf)
        .select(col("media_id"), col("content"))
      media.filter(col("media_id") < 300).repartition(1)
        .write.mode("append").parquet(src)
      Thread.sleep(1100)
      media.filter(col("media_id") >= 300).repartition(1)
        .write.mode("append").parquet(src)
      val q = graft.streaming.EventStream.streamingMediaGroups(
        spark.readStream.schema("media_id LONG, content BINARY")
          .option("maxFilesPerTrigger", 1).parquet(src), out,
        compactEvery = Some(2))
      try q.processAllAvailable() finally q.stop()
      val streamed = labelsOf(MediaGroupsInc.currentLabels(spark, out))
      val oneShot = labelsOf(Multimodal.mediaDupGroups(spark, sf))
      assert(streamed.nonEmpty && streamed == oneShot)
      Seq("wins", "windf", "hv", "pairs").foreach { sub =>
        assert(dataDirCount(s"$out/$sub", "batch=") == 1,
          s"$sub must be compacted to one generation")
      }
    } finally {
      ArtifactCache.deleteRecursively(new java.io.File(src))
      ArtifactCache.deleteRecursively(new java.io.File(out))
    }
  }

  test("compactState refuses a streamed state whose staged generation " +
    "lacks its ingest marker (crashed batch pending replay)") {
    val st = java.nio.file.Files.createTempDirectory("graft-minc-guard").toString
    try {
      MediaGroupsInc.ingest(spark, st, toMedia(cgen0), threshold = 0.0, maxDf = 2)
      MediaGroupsInc.ingest(spark, st, toMedia(cgen1), threshold = 0.0, maxDf = 2)
      val ing = new java.io.File(s"$st/ingested")
      ing.mkdirs()
      java.nio.file.Files.write(
        new java.io.File(ing, "batch-0").toPath, Array.emptyByteArray)
      // generation 1 staged but unmarked = crashed mid-batch, replay due
      val ex = intercept[IllegalArgumentException] {
        MediaGroupsInc.compactState(spark, st)
      }
      assert(ex.getMessage.contains("1"), s"names the in-flight gen: $ex")
      assert(!MediaGroupsInc.pendingCompact(st), "guard must refuse pre-marker")
      java.nio.file.Files.write(
        new java.io.File(ing, "batch-1").toPath, Array.emptyByteArray)
      MediaGroupsInc.compactState(spark, st)
      assert(Option(new java.io.File(s"$st/wins").listFiles()).toSeq.flatten
        .count(f => f.isDirectory && f.getName.startsWith("batch=")) == 1)
    } finally ArtifactCache.deleteRecursively(new java.io.File(st))
  }
}
