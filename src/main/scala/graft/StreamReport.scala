package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.EventStream

/** Committed-artifact companion to the streaming batch-equality specs
  * (the RECALL.json pattern, asked for by the r10 verdict): the spec
  * suite asserts stream==batch inside ScalaTest, but a floor inside a
  * spec isn't inspectable per-round, so this main replays the
  * maintenance paths with the source REALLY chopped into micro-batches
  * (multi-file staged copies, `maxFilesPerTrigger = 1`) and records,
  * per path: the number of micro-batches, the input rows each batch
  * carried, and row-set parity of the streamed end state against the
  * one-shot batch computation. Output: one JSON line, also written to
  * `STREAM.json`.
  *
  * Usage: `runMain graft.StreamReport [sfDir]` (default sf0.1).
  *
  * Paths covered (each vs its exact batch restatement):
  *  1. watermarked tumbling-window aggregation (hourlyCounts)
  *  2. arbitrary-state sessionization (mapGroupsWithState)
  *  3. stateful exact dedup → canonical map
  *  4. staged summary-MV maintenance (foreachBatch + rebuild)
  *  5. staged histogram maintenance (foreachBatch + rebuild)
  *  6. staged BPE word-dictionary maintenance + train-from-dictionary
  *     (counts AND trained merges both vs the one-shot batch run)
  *  7. streaming audio-ingest matching (ContentID) vs a replay that
  *     probes the accumulated index at each batch boundary
  *  8. streaming video-ingest matching vs per-boundary index rebuilds
  *  9. streaming image-ingest matching vs per-boundary index rebuilds
  * 10. streaming near-dup group maintenance (warm closure) vs the
  *     cold connected components over the accumulated pair store
  * 11. streaming incremental media dup groups vs the one-shot group
  *     form over the whole corpus (exactness under cap-crossing
  *     repair — the strongest parity in the set: stream state vs an
  *     operator that never saw the chop)
  * 12. the same media-group stream under the `compactEvery` cadence
  *     (state folded mid-stream) vs the same one-shot
  * 13. the near-dup group stream under the `consolidateEvery` cadence
  *     vs the cold closure over the consolidated pair store
  * 14. group-state TAKEDOWN: delete of the %7==3 victims from path
  *     11's streamed state vs the one-shot over the remaining corpus
  *     (the un-crossing-repair exactness argument as committed data)
  */
object StreamReport {

  private final case class PathReport(name: String, rowsPerBatch: Seq[Long],
      rowsStream: Long, rowsBatch: Long, matches: Boolean) {
    def json: String =
      s""""$name":{"n_microbatches":${rowsPerBatch.size},""" +
        s""""rows_per_batch":${rowsPerBatch.mkString("[", ",", "]")},""" +
        s""""rows_stream":$rowsStream,"rows_batch":$rowsBatch,"match":$matches}"""
  }

  /** memory-sink runner that also returns per-trigger input row counts
    * (what [[EventStream.runToMemory]] drops). */
  private def runWithProgress(spark: SparkSession, df: DataFrame, name: String,
      mode: OutputMode): (DataFrame, Seq[Long]) = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    (spark.table(name), q.recentProgress.toSeq.map(_.numInputRows).filter(_ > 0))
  }

  private def setEqual(a: DataFrame, b: DataFrame): Boolean =
    a.except(b).isEmpty && b.except(a).isEmpty

  /** Row-set parity with double columns compared at relative 1e-9: the
    * staged maintenance paths merge PARTIAL sums, and float addition
    * is not associative — sum-of-batch-sums differs from the one-shot
    * sum in the last ulps while being the same number for any consumer.
    * All non-double columns (keys, counts, min/max) stay exact.
    */
  private def tolerantEqual(a: DataFrame, b: DataFrame): Boolean = {
    import org.apache.spark.sql.types.DoubleType
    if (a.schema.map(f => (f.name, f.dataType)).toSet !=
        b.schema.map(f => (f.name, f.dataType)).toSet) return false
    val keyCols = a.schema.filter(_.dataType != DoubleType).map(_.name)
    val dblCols = a.schema.filter(_.dataType == DoubleType).map(_.name)
    val joined = a.as("x").join(b.as("y"), keyCols, "full_outer")
    if (joined.count() != a.count() || a.count() != b.count()) return false
    dblCols.forall { c =>
      joined.filter(
        col(s"x.$c").isNull || col(s"y.$c").isNull ||
          (abs(col(s"x.$c") - col(s"y.$c")) >
            lit(1e-9) * greatest(abs(col(s"x.$c")), abs(col(s"y.$c")), lit(1.0))))
        .isEmpty
    }
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.local(appName = "graft-stream-report")
    val tmp = java.nio.file.Files.createTempDirectory("graft-streamrep").toString

    // staged multi-file sources: the single-file testdata would collapse
    // every path to one micro-batch and the artifact would prove nothing
    // about incremental maintenance. The stateful paths' arrival
    // contracts are honored across the chop — events in ts order,
    // documents in id order (range partitions; part-file order == range
    // order) — exactly what a production ingest delivers; aggregation
    // paths are order-free, and the summary/histogram sources below
    // stay hash-scrambled to prove it.
    // FileStreamSource picks files in MODIFICATION-TIME order; a
    // parallel write gives all parts the same mtime and the chop order
    // becomes arbitrary — stamp strictly increasing mtimes in range
    // order (part-00000 = lowest range) so batch N really is range N.
    def stageOrdered(df: DataFrame, sortCol: String, dest: String): Unit = {
      val staged = s"$dest.stage"
      df.repartitionByRange(4, col(sortCol)).sortWithinPartitions(col(sortCol))
        .write.mode("overwrite").parquet(staged)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dest))
      val base = System.currentTimeMillis() - 3600000L
      new java.io.File(staged).listFiles()
        .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
        .zipWithIndex.foreach { case (f, i) =>
          val t = new java.io.File(dest, f.getName)
          java.nio.file.Files.move(f.toPath, t.toPath)
          t.setLastModified(base + i * 60000L)
        }
      operators.ArtifactCache.deleteRecursively(new java.io.File(staged))
    }
    val eventsDir = s"$tmp/events"
    stageOrdered(Tables.load(spark, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value")), "ts", eventsDir)
    val docsDir = s"$tmp/docs"
    stageOrdered(Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("text")), "doc_id", docsDir)
    def eventsStream = spark.readStream
      .schema("event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE")
      .option("maxFilesPerTrigger", 1).parquet(eventsDir)
    def docsStream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1).parquet(docsDir)

    val reports = scala.collection.mutable.ListBuffer.empty[PathReport]

    // 1. watermarked hourly window vs the batch aggregate
    locally {
      val (streamed0, perBatch) = runWithProgress(spark,
        EventStream.hourlyCounts(eventsStream), "sr_hourly", OutputMode.Complete())
      val streamed = streamed0
        .select("event_date", "event_hour", "event_type", "n_events", "sum_value")
      val batch = operators.EventsQueries.hourlyCounts(spark, dir)
      reports += PathReport("hourly_window", perBatch,
        streamed.count(), batch.count(), setEqual(streamed, batch))
    }

    // 2. mapGroupsWithState sessionization vs batch session counts
    locally {
      import spark.implicits._
      val (streamed, perBatch) = runWithProgress(spark,
        EventStream.sessionize(spark, eventsStream).toDF("user_id", "n_sessions", "n_events"),
        "sr_sessions", OutputMode.Update())
      val last = streamed.groupBy("user_id")
        .agg(max("n_sessions").as("n_sessions"), max("n_events").as("n_events"))
      val batch = operators.EventsQueries.sessionCounts(spark, dir)
      reports += PathReport("sessionize_state", perBatch,
        last.count(), batch.count(), setEqual(last, batch))
    }

    // 3. stateful exact dedup vs the batch canonical map
    locally {
      import spark.implicits._
      val (streamed, perBatch) = runWithProgress(spark,
        EventStream.streamingDedup(spark, docsStream)
          .toDF("doc_id", "canonical_id", "is_duplicate"),
        "sr_dedup", OutputMode.Update())
      val batch = operators.Dedup.canonicalMap(spark, dir)
      reports += PathReport("dedup_canonical", perBatch,
        streamed.count(), batch.count(), setEqual(streamed, batch))
    }

    // 4. staged summary-MV maintenance vs the one-shot batch build
    locally {
      val dims = Seq("event_type"); val measures = Seq("value")
      val mvParent = s"$tmp/mv"
      val path = s"$mvParent/sum"
      val src = spark.readStream.schema("event_type STRING, value DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .parquet {
          val d = s"$tmp/events_tv"
          Tables.load(spark, dir, "events").select(col("event_type"), col("value"))
            .repartition(4).write.mode("overwrite").parquet(d)
          d
        }
      val q = EventStream.maintainSummary(src, dims, measures, path)
      try q.processAllAvailable() finally q.stop()
      val perBatch = q.recentProgress.toSeq.map(_.numInputRows).filter(_ > 0)
      val streamed = Tables.parquet(spark, path)
      operators.SummaryMv.build(
        Tables.load(spark, dir, "events").select(col("event_type"), col("value")),
        dims, measures, s"$tmp/mv_direct/sum")
      val direct = Tables.parquet(spark, s"$tmp/mv_direct/sum")
      reports += PathReport("summary_mv", perBatch,
        streamed.count(), direct.count(), tolerantEqual(streamed, direct))
    }

    // 5. staged histogram maintenance vs the one-shot daily histogram
    locally {
      val histParent = s"$tmp/hist"
      val path = s"$histParent/daily"
      val src = spark.readStream
        .schema("ts TIMESTAMP, event_type STRING, value DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .parquet {
          val d = s"$tmp/events_hist"
          Tables.load(spark, dir, "events").select(col("ts"), col("event_type"), col("value"))
            .repartition(4).write.mode("overwrite").parquet(d)
          d
        }
      val q = EventStream.maintainHistogram(src, path)
      try q.processAllAvailable() finally q.stop()
      val perBatch = q.recentProgress.toSeq.map(_.numInputRows).filter(_ > 0)
      val streamed = Tables.parquet(spark, path)
      val direct = operators.TrainingPrep.dailyHistogram(
        Tables.load(spark, dir, "events").select(col("ts"), col("event_type"), col("value")))
      reports += PathReport("histogram_daily", perBatch,
        streamed.count(), direct.count(), setEqual(streamed, direct))
    }

    // 6. staged dictionary maintenance (the BPE train input) — parity
    //    of BOTH the maintained word counts vs the one-shot corpus
    //    dictionary AND the merges trained from them vs the corpus
    //    train (merge rows are a pure function of the counts, so this
    //    proves the streaming path feeds the tokenizer bit-identically)
    locally {
      val path = s"$tmp/dict/words"
      val q = EventStream.maintainDictionary(docsStream, path)
      try q.processAllAvailable() finally q.stop()
      val perBatch = q.recentProgress.toSeq.map(_.numInputRows).filter(_ > 0)
      val streamedDict = Tables.parquet(spark, path)
      val batchDict = operators.Bpe.wordCounts(
        Tables.load(spark, dir, "documents").select(col("text")))
      val streamedMerges = operators.Bpe.bpeTrainFromCounts(spark, streamedDict)
      val batchMerges = operators.Bpe.bpeTrain(spark, dir)
      reports += PathReport("bpe_dictionary", perBatch,
        streamedDict.count(), batchDict.count(),
        setEqual(streamedDict, batchDict) &&
          setEqual(streamedMerges, batchMerges))
    }

    // 7. streaming audio-ingest matching (the upload-time ContentID
    //    path): per-batch verdicts vs a replay that probes the SAME
    //    accumulated landmark index at each batch boundary — proves
    //    the staged incremental index gives every micro-batch exactly
    //    the strictly-earlier-batches view
    locally {
      val tracksDir = s"$tmp/audiotracks"
      stageOrdered(Tables.load(spark, dir, "documents")
        .filter(col("doc_id") % 3 === 1 &&
          length(col("text")) >= 2 * operators.AudioMatch.FrameLen)
        .select(col("doc_id").as("track_id"), col("text").as("pcm")),
        "track_id", tracksDir)
      val out = s"$tmp/audioingest"
      val q = EventStream.streamingAudioIngest(spark.readStream
        .schema("track_id LONG, pcm STRING")
        .option("maxFilesPerTrigger", 1).parquet(tracksDir), out)
      try q.processAllAvailable() finally q.stop()
      val perBatch = q.recentProgress.toSeq.map(_.numInputRows).filter(_ > 0)
      val ids = new java.io.File(s"$out/index/landmarks").listFiles()
        .filter(_.getName.startsWith("batch="))
        .map(_.getName.stripPrefix("batch=").toLong).sorted
      val allTracks = Tables.parquet(spark, tracksDir)
      def lmkOf(i: Long) = Tables.parquet(spark, s"$out/index/landmarks/batch=$i")
        .select(col("track_id"), col("f"), col("key"), col("kb"))
      val replays = ids.toSeq.map { i =>
        val prior = ids.filter(_ < i)
        val priorLmk =
          if (prior.isEmpty) lmkOf(i).limit(0)
          else prior.map(lmkOf).reduce(_ unionByName _)
        val batchIds = Tables.parquet(spark, s"$out/index/landmarks/batch=$i")
          .select(col("track_id")).distinct()
        operators.AudioMatch.probeIndex(priorLmk,
          priorLmk.groupBy(col("key")).agg(count(lit(1)).as("cnt")),
          operators.AudioMatch.trackClips(allTracks.join(batchIds, Seq("track_id"))))
          .withColumn("batch", lit(i))
      }
      val replay = replays.reduce(_ unionByName _)
      val streamed = Tables.parquet(spark, s"$out/matches")
        .select(col("clip_id"), col("track_id"), col("offset_frames"),
          col("votes"), col("batch").cast("long").as("batch"))
      reports += PathReport("audio_ingest_match", perBatch,
        streamed.count(), replay.count(), setEqual(streamed, replay))
    }

    // 15. takedown from the STREAMED audio index's accumulated state:
    //     tombstone + batch-layout-aware compact applied to the
    //     per-micro-batch `batch=` layout path 7 built, then the
    //     standard probe vs a fresh one-shot incremental index over
    //     the remaining tracks — the stream ≡ one-shot exactness
    //     argument for the new audio takedown, committed as data (the
    //     media-groups twin of path 14). Clips still come from the
    //     FULL corpus: a victim's clip keeps probing like any query.
    locally {
      val out = s"$tmp/audioingest"
      val allTracks = Tables.parquet(spark, s"$tmp/audiotracks")
      val clips = operators.AudioMatch.trackClips(allTracks)
      val victims = allTracks
        .filter(pmod(col("track_id"), lit(9)) === 4).select(col("track_id"))
      val nVict = victims.count()
      operators.MediaIndexOps.delete(spark, s"$out/index", victims, "track_id")
      operators.MediaIndexOps.compact(spark, s"$out/index", "landmarks", "track_id")
      val streamed = operators.AudioMatch.matchAgainst(spark, s"$out/index", clips)
      val rb = s"$tmp/audio_rb"
      operators.AudioMatch.buildIncremental(spark,
        allTracks.filter(pmod(col("track_id"), lit(9)) =!= 4)
          .select(col("track_id"), col("pcm")), rb)
      val oneShot = operators.AudioMatch.matchAgainst(spark, rb, clips)
      reports += PathReport("audio_takedown_match", Seq(nVict),
        streamed.count(), oneShot.count(), setEqual(streamed, oneShot))
    }

    // 8. streaming video-ingest matching: per-batch verdicts vs a
    //    replay that REBUILDS the frame index from strictly-earlier
    //    batches at every boundary — proves the staged incremental
    //    index gives each micro-batch exactly the batches-<N view
    locally {
      val vidDir = s"$tmp/videosrc"
      stageOrdered(operators.Multimodal.mediaTable(spark, dir)
        .filter(col("kind") === "video")
        .select(col("media_id"), col("content")), "media_id", vidDir)
      val out = s"$tmp/videoingest"
      val q = EventStream.streamingVideoIngest(spark.readStream
        .schema("media_id LONG, content BINARY")
        .option("maxFilesPerTrigger", 1).parquet(vidDir), out)
      try q.processAllAvailable() finally q.stop()
      val perBatch = q.recentProgress.toSeq.map(_.numInputRows).filter(_ > 0)
      val ids = new java.io.File(s"$out/index/frames").listFiles()
        .filter(_.getName.startsWith("batch="))
        .map(_.getName.stripPrefix("batch=").toLong).sorted
      val allV = Tables.parquet(spark, vidDir)
        .select(col("media_id"), lit("video").as("kind"), col("content"))
      def framesOfBatch(i: Long) = spark.read
        .parquet(s"$out/index/frames/batch=$i")
        .select(col("video_id"), col("f"), col("key").as("fh"))
      val replays = ids.toSeq.map { i =>
        val prior = ids.filter(_ < i)
        val rb = s"$tmp/vrb$i"
        val priorFrames =
          if (prior.isEmpty) framesOfBatch(i).limit(0)
          else prior.map(framesOfBatch).reduce(_ unionByName _)
        operators.PerceptualHash.buildVideoIndex(spark, priorFrames, rb)
        val batchIds = Tables.parquet(spark, s"$out/index/frames/batch=$i")
          .select(col("video_id").as("media_id")).distinct()
        operators.PerceptualHash.matchAgainstVideo(spark, rb,
            operators.PerceptualHash.ingestClips(spark,
              allV.join(batchIds, Seq("media_id"))))
          .withColumn("batch", lit(i))
      }
      val replay = replays.reduce(_ unionByName _)
      val streamed = Tables.parquet(spark, s"$out/matches")
        .select(col("clip_id"), col("video_id"), col("offset_frames"),
          col("votes"), col("batch").cast("long").as("batch"))
      reports += PathReport("video_ingest_match", perBatch,
        streamed.count(), replay.count(), setEqual(streamed, replay))
    }

    // 9. streaming image-ingest matching: same per-boundary rebuild
    //    replay for the chunk index
    locally {
      val imgDir = s"$tmp/imagesrc"
      stageOrdered(operators.Multimodal.mediaTable(spark, dir)
        .filter(col("kind") === "image" && length(col("content")) > 0)
        .select(col("media_id"), col("content")), "media_id", imgDir)
      val out = s"$tmp/imageingest"
      val q = EventStream.streamingImageIngest(spark.readStream
        .schema("media_id LONG, content BINARY")
        .option("maxFilesPerTrigger", 1).parquet(imgDir), out)
      try q.processAllAvailable() finally q.stop()
      val perBatch = q.recentProgress.toSeq.map(_.numInputRows).filter(_ > 0)
      val ids = new java.io.File(s"$out/index/chunks").listFiles()
        .filter(_.getName.startsWith("batch="))
        .map(_.getName.stripPrefix("batch=").toLong).sorted
      def hashesOfBatch(i: Long) = spark.read
        .parquet(s"$out/index/chunks/batch=$i")
        .select(col("media_id"), col("phash")).distinct()
      val replays = ids.toSeq.map { i =>
        val prior = ids.filter(_ < i)
        val rb = s"$tmp/irb$i"
        val priorHashes =
          if (prior.isEmpty) hashesOfBatch(i).limit(0)
          else prior.map(hashesOfBatch).reduce(_ unionByName _)
        operators.PerceptualHash.buildImageIndex(spark, priorHashes, rb)
        operators.PerceptualHash.probeImages(spark, rb, hashesOfBatch(i))
          .withColumn("batch", lit(i))
      }
      val replay = replays.reduce(_ unionByName _)
      val streamed = Tables.parquet(spark, s"$out/matches")
        .select(col("media_id"), col("match_id"), col("hamming"),
          col("batch").cast("long").as("batch"))
      reports += PathReport("image_ingest_match", perBatch,
        streamed.count(), replay.count(), setEqual(streamed, replay))
    }

    // 10. streaming near-dup group maintenance: the warm per-batch
    //     closure's final labels vs the COLD connected components over
    //     the accumulated pair store (the exact warm-CC contract; the
    //     every-boundary form is spec-pinned at fixture scale)
    locally {
      val out = s"$tmp/dedupgroups"
      val q = EventStream.streamingNearDedupGroups(docsStream, out)
      try q.processAllAvailable() finally q.stop()
      val perBatch = q.recentProgress.toSeq.map(_.numInputRows).filter(_ > 0)
      val gens = new java.io.File(s"$out/groups").listFiles()
        .filter(_.getName.startsWith("gen="))
        .map(_.getName.stripPrefix("gen=").toLong).sorted
      val streamed = Tables.parquet(spark, s"$out/groups/gen=${gens.last}")
      val cold = operators.Dedup.connectedComponents(
        Tables.parquet(spark, s"$out/pairs").select(col("doc_a"), col("doc_b")))
      reports += PathReport("dedup_groups_warm", perBatch,
        streamed.count(), cold.count(), setEqual(streamed, cold))
    }

    // 11 + 12 + 14: the media group-state lifecycle over one staged
    //     source — the plain chopped ingest vs the ONE-SHOT operator
    //     (the cap-crossing-repair exactness argument as committed
    //     data), the same stream under the compactEvery cadence, and
    //     the takedown of the %7==3 victims from the plain stream's
    //     state vs the one-shot over the REMAINING corpus (the
    //     un-crossing-repair exactness argument as committed data)
    locally {
      val medDir = s"$tmp/mediasrc"
      stageOrdered(operators.Multimodal.mediaTable(spark, dir)
        .select(col("media_id"), col("content")), "media_id", medDir)
      def medStream = spark.readStream
        .schema("media_id LONG, content BINARY")
        .option("maxFilesPerTrigger", 1).parquet(medDir)
      val oneShot = operators.Multimodal.mediaDupGroups(spark, dir)

      val out = s"$tmp/mediagroups"
      val q = EventStream.streamingMediaGroups(medStream, out)
      try q.processAllAvailable() finally q.stop()
      val perBatch = q.recentProgress.toSeq.map(_.numInputRows).filter(_ > 0)
      val streamed = operators.MediaGroupsInc.currentLabels(spark, out)
      reports += PathReport("media_groups_incremental", perBatch,
        streamed.count(), oneShot.count(), setEqual(streamed, oneShot))

      // 12: the cadence folds the state mid-stream; answers unchanged
      val outC = s"$tmp/mediagroups_c"
      val qc = EventStream.streamingMediaGroups(medStream, outC,
        compactEvery = Some(2))
      try qc.processAllAvailable() finally qc.stop()
      val perBatchC = qc.recentProgress.toSeq.map(_.numInputRows).filter(_ > 0)
      val streamedC = operators.MediaGroupsInc.currentLabels(spark, outC)
      reports += PathReport("media_groups_compacted", perBatchC,
        streamedC.count(), oneShot.count(), setEqual(streamedC, oneShot))

      // 14: takedown from the plain stream's state (bounded victim
      // list by contract) vs the one-shot over the remaining corpus
      val victims = operators.Multimodal.mediaTable(spark, dir)
        .filter(pmod(col("media_id"), lit(7)) === 3)
        .select(col("media_id")).collect().map(_.getLong(0)).toSeq
      val afterDel = operators.MediaGroupsInc.delete(spark, out, victims)
      val fdir = s"$tmp/mediafiltered"
      Tables.load(spark, dir, "documents")
        .filter(col("doc_id") % 7 =!= 3)
        .write.mode("overwrite").parquet(s"$fdir/documents.parquet")
      val oneShotF = operators.Multimodal.mediaDupGroups(spark, fdir)
      reports += PathReport("media_groups_takedown", Seq(victims.size.toLong),
        afterDel.count(), oneShotF.count(), setEqual(afterDel, oneShotF))
    }

    // 13: the near-dup group stream under the consolidateEvery cadence
    //     vs the cold closure over the consolidated pair store
    locally {
      val out = s"$tmp/dedupgroups_c"
      val q = EventStream.streamingNearDedupGroups(docsStream, out,
        consolidateEvery = Some(2))
      try q.processAllAvailable() finally q.stop()
      val perBatch = q.recentProgress.toSeq.map(_.numInputRows).filter(_ > 0)
      val gens = new java.io.File(s"$out/groups").listFiles()
        .filter(_.getName.startsWith("gen="))
        .map(_.getName.stripPrefix("gen=").toLong).sorted
      val streamed = Tables.parquet(spark, s"$out/groups/gen=${gens.last}")
      val cold = operators.Dedup.connectedComponents(
        Tables.parquet(spark, s"$out/pairs").select(col("doc_a"), col("doc_b")))
      reports += PathReport("dedup_groups_consolidated", perBatch,
        streamed.count(), cold.count(), setEqual(streamed, cold))
    }

    val allMatch = reports.forall(_.matches)
    val json = s"""{"metric":"stream_batch_parity","sf":"$dir","all_match":$allMatch,""" +
      reports.map(_.json).mkString(",") + "}"
    java.nio.file.Files.write(java.nio.file.Paths.get("STREAM.json"),
      (json + "\n").getBytes("UTF-8"))
    println(json)
    operators.ArtifactCache.deleteRecursively(new java.io.File(tmp))
    spark.stop()
    if (!allMatch) sys.exit(1)
  }
}
